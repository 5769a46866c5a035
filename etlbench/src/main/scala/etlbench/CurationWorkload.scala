package etlbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.CrossHash
import graft.operators.{Text, TextIndex}
import graft.sources.Tables

/** `curation_ops`: cold curation batches. A batch (one operation) runs a
  * fixed list of `SparkEntry.queries` over the corpus, writing every result
  * as parquet, then ingests the batch's new documents into the live BM25
  * serving index with `TextIndex.exactlyOnceIngestIntoTextIndex`, probes the
  * index (`TextIndex.bm25AgainstIndex`, top 20) and redelivers an already
  * committed batch, which must be skipped.
  *
  * Each batch runs in a fresh child session, so the program's session memos
  * start empty, as they do for a fresh batch job; the serving index persists
  * across batches. run.py compares every query result with its
  * `SparkEntry.oracleSql` DuckDB answer after the run.
  */
object CurationWorkload {
  private val Buckets = 4
  private val TopK = 20
  private def toks = CrossHash.tokens(col("text"))

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val queries = ctx.planStrings("queries")
    val batches: Seq[Seq[Long]] = ctx.planSeqs("batches")(_.asInstanceOf[Number].longValue)
    val bags: Seq[Seq[String]] = ctx.planSeqs("bags")(_.toString)
    val redeliver = ctx.planInt("redeliver")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    rec.info("oracles") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    def docs(s: SparkSession): DataFrame = Tables.load(s, ctx.dataDir, "documents")

    // ---- set-up, three times from scratch: read and count the inputs in a
    // fresh session
    var inputRows = 0L
    (0 until 3).foreach { _ =>
      val sess = spark.newSession()
      val cpu0 = Common.cpuSeconds()
      val (n, t) = Common.seconds {
        Seq("documents", "embeddings").map(i => Tables.load(sess, ctx.dataDir, i).count()).sum
      }
      inputRows = n
      rec.add("setup_s", Common.cpuSeconds() - cpu0)
      rec.add("setup_wall_s", t)
    }
    // the base serving index over doc_id % 4 != 3, built once: three builds
    // would not fit the benchmark's time budget, so its cost is reported as
    // index.base_build_s rather than in setup_s
    val index = "serving"
    val (_, baseBuild) = Common.seconds {
      TextIndex.writeTextIndex(docs(spark.newSession()).filter(col("doc_id") % 4 =!= 3), "doc_id",
        toks, index, buckets = Buckets)
    }
    rec.addLayer("index.base_build_s", baseBuild)
    ctx.phase("setup")

    def rows(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select(col("id").cast("long"), col("dl").cast("long"), col("bm25")).collect().toSeq
        .map((r: Row) => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val outputs = collection.mutable.ArrayBuffer[Map[String, Any]]()
    var ingested = 0
    var lastProbe: Seq[(Long, Long, Double)] = Nil

    /** One batch; returns its wall time. */
    def batch(name: String, traced: Boolean): Double = {
      tracer.listen(traced)
      val sess = spark.newSession()
      val out = ctx.dir(s"out/$name")
      val b = ingested
      val newDocs = docs(sess).filter(col("doc_id").isin(batches(b): _*))
      val before = Common.parquetFiles(warehouse)
      val gc0 = Common.gcSeconds()
      val cpu0 = Common.cpuSeconds()
      var root = 0
      val (_, wall) = Common.seconds {
        tracer.span("curation.batch", run = name) {
          root = tracer.openSpanId
          queries.foreach { q =>
            val dir = s"$out/$q"
            scala.util.Try {
              tracer.span(s"queries.$q") {
                val df = tracer.span(s"queries.$q.build")(SparkEntry.queries(q)(sess, ctx.dataDir))
                tracer.span(s"queries.$q.exec")(df.write.mode(SaveMode.Overwrite).parquet(dir))
              }
            } match {
              // counted after run.py's oracle check
              case scala.util.Success(_) => outputs += Map("pass" -> name, "query" -> q, "dir" -> dir)
              case scala.util.Failure(e) => rec.outcome(s"$name $q", Seq(s"threw $e"))
            }
          }
          val applied = scala.util.Try(tracer.span("index.ingest") {
            TextIndex.exactlyOnceIngestIntoTextIndex(newDocs, "doc_id", toks, index, batchId = b.toLong)
          })
          rec.outcome(s"$name ingest $b", applied match {
            case scala.util.Success(true) => Nil
            case scala.util.Success(false) => Seq("batch skipped as a redelivery")
            case scala.util.Failure(e) => Seq(s"threw $e")
          })
          ingested += 1
          val probe = scala.util.Try(tracer.span("index.probe") {
            rows(TextIndex.bm25AgainstIndex(sess, index, bags(b), TopK))
          })
          rec.outcome(s"$name probe $b", probe match {
            case scala.util.Success(rs) if rs.nonEmpty => lastProbe = rs; Nil
            case scala.util.Success(_) => Seq("empty probe result")
            case scala.util.Failure(e) => Seq(s"threw $e")
          })
          if (b >= 1) {
            val again = scala.util.Try(tracer.span("index.redelivery") {
              TextIndex.exactlyOnceIngestIntoTextIndex(
                docs(sess).filter(col("doc_id").isin(batches(redeliver): _*)), "doc_id", toks, index,
                batchId = redeliver.toLong)
            })
            rec.outcome(s"$name redelivery of batch $redeliver", again match {
              case scala.util.Success(false) => Nil
              case scala.util.Success(true) => Seq("redelivered batch was applied twice")
              case scala.util.Failure(e) => Seq(s"threw $e")
            })
          }
        }
      }
      val cpu = Common.cpuSeconds() - cpu0
      val gc = Common.gcSeconds() - gc0
      // listed after the timed block: only the ingest adds index files, the
      // probe and the skipped redelivery add none
      val (indexFiles, indexBytes) = Common.added(before, Common.parquetFiles(warehouse))
      val results = Common.parquetFiles(out)
      val written = Common.parquetRows(results.keys) + batches(b).size
      if (!traced) {
        rec.add("op_cpu_s", cpu)
        rec.add("files_per_op", results.size + indexFiles)
        rec.add("bytes_per_row", (results.values.sum + indexBytes).toDouble / written)
      } else {
        tracer.drain()
        val all = tracer.inclusive(root)
        val span = tracer.get(root)
        val spans = tracer.descendants(root)
        def named(n: String) = spans.find(_.name == n)
        def secs(n: String) = named(n).fold(0.0)(_.seconds)
        def inc(n: String) = named(n).map(s => tracer.inclusive(s.id))
        rec.addLayer("trace.traced_op_s", span.seconds)
        val perFamily = collection.mutable.Map[String, Double]().withDefaultValue(0.0)
        queries.foreach { q =>
          rec.addLayer(s"queries.$q.build_s", secs(s"queries.$q.build"))
          rec.addLayer(s"queries.$q.exec_s", secs(s"queries.$q.exec"))
          rec.addLayer(s"queries.$q.jobs", inc(s"queries.$q").fold(0.0)(_.jobs.get.toDouble))
          perFamily(Common.family(q)) += secs(s"queries.$q")
        }
        Seq("dedup", "text", "similarity", "multimodal").foreach { f =>
          rec.addLayer(s"operators.${f}_s", perFamily(f))
        }
        rec.addLayer("index.ingest_s", secs("index.ingest"))
        rec.addLayer("index.probe_s", secs("index.probe"))
        rec.addLayer("index.redelivery_s", secs("index.redelivery"))
        rec.addLayer("index.ingest_jobs", inc("index.ingest").fold(0.0)(_.jobs.get.toDouble))
        rec.addLayer("index.ingest_files_written", indexFiles.toDouble)
        rec.addLayer("index.ingest_bytes_written", indexBytes.toDouble)
        rec.addLayer("index.probe_jobs", inc("index.probe").fold(0.0)(_.jobs.get.toDouble))
        rec.addLayer("index.probe_records_read", inc("index.probe").fold(0.0)(_.recordsRead.get.toDouble))
        rec.addLayer("sources.records_read", all.recordsRead.get.toDouble)
        rec.addLayer("sources.passes", all.recordsRead.get.toDouble / inputRows)
        rec.addLayer("sources.scan_task_s", all.scanTaskMs.get / 1e3)
        Common.sparkLayers(rec, all, span.seconds, ctx.nproc, gc, Common.cachedBytes(sess))
      }
      wall
    }

    // ---- warm-up: one untimed batch (JIT, codegen)
    rec.info("warmup_s") = batch("warmup", traced = false)
    Seq("op_cpu_s", "files_per_op", "bytes_per_row").foreach(rec.e2e.remove)
    ctx.phase("warmup")

    // ---- measured loop: batches back to back until `seconds` of untraced
    // batch time; traced runs alternate traced and untraced batches
    var measured = 0.0
    var k = 0
    var nTraced = 0
    while (ingested < batches.size && (measured < ctx.seconds || k - nTraced < Ctx.MinOps ||
        (ctx.trace && nTraced == 0))) {
      val traced = ctx.trace && k % 2 == 1
      val t = batch(s"op$k", traced)
      if (traced) nTraced += 1
      else {
        measured += t
        rec.add("op_wall_s", t)
      }
      rec.add("retained_heap_mb", Common.retainedHeapMb())
      k += 1
    }
    tracer.listen(false)
    ctx.phase("measure")

    // ---- end-of-run check, outside timing: the index holds exactly the
    // base plus the ingested batches, and the last probe equals a one-shot
    // Text.bm25 over that same corpus
    val present = docs(spark).filter(col("doc_id") % 4 =!= 3 ||
      col("doc_id").isin(batches.take(ingested).flatten: _*))
    val nPresent = present.count()
    val audit = TextIndex.repairTextIndexStats(spark, index).head()
    val oneShot = rows(Text.bm25(present, "doc_id", toks, bags(ingested - 1))
      .orderBy(col("bm25").desc, col("id")).limit(TopK))
    rec.outcome("serving index state", Seq(
      (audit.getAs[Long]("n_docs_truth") == nPresent && !audit.getAs[Boolean]("repaired")) ->
        s"index holds ${audit.getAs[Long]("n_docs_truth")} documents, expected $nPresent",
      (lastProbe == oneShot) -> "last probe differs from Text.bm25 over the same corpus"
    ).collect { case (false, m) => m })
    rec.info("outputs") = outputs.toSeq
  }
}
