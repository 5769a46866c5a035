package etlbench

import java.io.File
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.Etl
import graft.model.SchemaRegistry
import graft.operators.Transforms
import graft.sources.{Jdbc, JdbcConfig, JdbcDialect, Sinks}

/** The source database: embedded Derby, loaded from the seeded parquet
  * inputs, read back through `Jdbc.read` key-range partitioned into
  * `nproc` ranges (the documented production path).
  */
final class DerbySource(val dir: String, nproc: Int) {
  private val url = s"jdbc:derby:$dir"
  val cfg: JdbcConfig = JdbcConfig(url, user = "app", password = "app", dialect = JdbcDialect.Derby)
  private val bounds = new ConcurrentHashMap[String, (Long, Long)]()

  def table(t: String): String = s"""APP."$t""""

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(64)"
    case TimestampType => "TIMESTAMP"
    case other => throw new IllegalArgumentException(s"no Derby type for $other")
  }

  /** Create the tables and bulk-load them from the parquet inputs. */
  def load(spark: SparkSession, dataDir: String, tables: Seq[String]): Unit = {
    val conn = DriverManager.getConnection(url + ";create=true")
    try tables.foreach { t =>
      val schema = spark.read.parquet(s"$dataDir/$t.parquet").schema
      val cols = schema.fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
      conn.createStatement().execute(s"CREATE TABLE ${table(t)} ($cols)")
    } finally conn.close()
    val props = new java.util.Properties()
    props.setProperty("user", cfg.user)
    props.setProperty("password", cfg.password)
    props.setProperty("driver", cfg.driver)
    tables.foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").repartition(nproc)
        .write.mode(SaveMode.Append).option("batchsize", 5000).jdbc(url, table(t), props)
    }
  }

  def count(t: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${table(t)}")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** Lazy, key-range-partitioned JDBC read of `t`. */
  def read(spark: SparkSession, t: String): DataFrame = {
    val key = EtlWorkload.Key(t)
    val (lo, hi) = bounds.computeIfAbsent(t, _ => {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          s"""SELECT MIN("$key"), MAX("$key") FROM ${table(t)}""")
        rs.next(); (rs.getLong(1), rs.getLong(2) + 1)
      } finally conn.close()
    })
    Jdbc.read(spark, cfg, table(t), Some((key, lo, hi, nproc)))
  }

  def shutdown(): Unit =
    try DriverManager.getConnection(url + ";shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown by throwing
}

/** `etl_full_jdbc`: `Etl.run` full refresh from Derby into a DAY-partitioned
  * parquet destination.
  */
object EtlWorkload {
  val Key: Map[String, String] =
    Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "customer" -> "c_custkey")
  private val DayField = Map("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
  private val tableSpecs: Seq[Etl.TableSpec] =
    Seq("orders", "lineitem", "customer").map(t => Etl.TableSpec(t, DayField.get(t), DayField.get(t)))

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val tables = tableSpecs.map(_.name)
    // the write-side registry, in the reference's {table: [{name, type}]}
    // JSON shape, parsed by the program's own parser
    val reg = SchemaRegistry.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(ctx.dataDir, "registry.json")))

    // ---- set-up: load the source three times from scratch; the last
    // set-up is the one the run uses.
    var db: DerbySource = null
    (0 until 3).foreach { r =>
      val fresh = new DerbySource(s"${ctx.dir(s"derby/r$r")}/db", ctx.nproc)
      val cpu0 = Common.cpuSeconds()
      val (_, t) = Common.seconds(fresh.load(spark, ctx.dataDir, tables))
      rec.add("setup_s", Common.cpuSeconds() - cpu0)
      rec.add("setup_wall_s", t)
      if (db != null) {
        db.shutdown()
        Common.deleteRecursively(new File(db.dir).getParentFile)
      }
      db = fresh
    }

    ctx.phase("setup")

    val sourceRows: Map[String, Long] = tables.map(t => t -> db.count(t)).toMap
    // destinations run.py compares with the inputs after the run
    val outputs = collection.mutable.ArrayBuffer[Map[String, Any]]()

    /** Row-count checks of one full refresh; run.py checks the rows
      * themselves.
      */
    def check(reports: Seq[Etl.RunReport], dest: String, what: String): Seq[String] = {
      val byTable = reports.map(r => r.table -> r).toMap
      outputs += Map("op" -> what, "dest" -> dest, "tables" -> byTable.keys.toSeq.sorted)
      tables.flatMap { t =>
        val want = sourceRows(t)
        byTable.get(t) match {
          case None => Seq(s"$t: no report for $want source rows")
          case Some(r) =>
            Seq(
              (r.extracted == want && r.loaded == want) ->
                s"$t: extracted ${r.extracted} loaded ${r.loaded} source $want",
              (r.total == want) -> s"$t: destination total ${r.total}, expected $want"
            ).collect { case (false, msg) => msg }
        }
      }
    }

    def source(sess: SparkSession, onTable: String => Unit)(t: String): DataFrame = {
      onTable(t); db.read(sess, t)
    }

    // ---- one Etl.run: untraced (end-to-end sample) or traced (per-layer,
    // followed by the replay into a second destination)
    def etlRun(traced: Boolean, dest: String, opName: String): Double = {
      tracer.listen(traced)
      val sess = spark.newSession()
      val gc0 = Common.gcSeconds()
      val cpu0 = Common.cpuSeconds()
      val tableSpans = new ConcurrentHashMap[String, Int]()
      var runSpan = 0
      val (result, wall) = Common.seconds {
        scala.util.Try(tracer.span("etl.run", run = opName) {
          runSpan = tracer.openSpanId
          Etl.run(sess, tableSpecs,
            source(sess, t => if (tracer.recording) tableSpans.put(t, tracer.openOn(s"etl.table.$t", runSpan))),
            reg, dest)
        })
      }
      val cpu = Common.cpuSeconds() - cpu0
      val gc = Common.gcSeconds() - gc0
      val problems = result match {
        case scala.util.Failure(e) => Seq(s"Etl.run threw $e")
        case scala.util.Success(reports) => check(reports, dest, s"$opName Etl.run")
      }
      rec.outcome(s"$opName Etl.run", problems)
      val written = Common.parquetFiles(dest)
      val rows = result.toOption.fold(0L)(_.map(_.loaded).sum)
      if (!traced) {
        rec.add("op_wall_s", wall)
        rec.add("op_cpu_s", cpu)
        rec.add("files_per_op", written.size)
        rec.add("bytes_per_row", if (rows > 0) written.values.sum.toDouble / rows else 0.0)
      } else {
        tracer.drain()
        val run = tracer.get(runSpan)
        tableSpans.asScala.values.foreach { id =>
          val ends = tracer.get(id).counters.jobIntervals.asScala.map(_._2)
          val endMs = if (ends.isEmpty) run.endMs else ends.max
          tracer.close(id, tracer.get(id).startNs + (endMs - tracer.get(id).startMs) * 1000000L, endMs)
        }
        val c = tracer.inclusive(runSpan)
        rec.addLayer("trace.traced_op_s", run.seconds)
        rec.addLayer("etl.jobs", c.jobs.get.toDouble)
        rec.addLayer("etl.driver_gap_s", tracer.driverGapSeconds(run))
        rec.addLayer("etl.table_overlap",
          tableSpans.asScala.values.map(id => tracer.get(id).seconds).sum / run.seconds)
        Common.sparkLayers(rec, c, run.seconds, ctx.nproc, gc, Common.cachedBytes(sess))
        replay(sess, s"${dest}_replay", opName)
      }
      wall
    }

    // ---- traced replay of Etl.runTable through the same public functions,
    // one table after another; run.py checks that it leaves the same rows
    def replay(sess: SparkSession, dest: String, opName: String): Unit = {
      def timedSink(inner: Sinks.SinkAdapter): Sinks.SinkAdapter = new Sinks.SinkAdapter {
        val name: String = inner.name
        def write(df: DataFrame, daily: Boolean, f: Option[String]): Unit =
          tracer.span("sinks.write")(inner.write(df, daily, f))
        def countAudit(): Long = tracer.span("sinks.audit")(inner.countAudit())
      }
      var root = 0
      val reports = tracer.span("replay", run = opName) {
        root = tracer.openSpanId
        tableSpecs.flatMap { spec =>
          tracer.span(s"replay.${spec.name}") {
            val raw = tracer.span("sources.read")(db.read(sess, spec.name))
            tracer.span("transforms.guard")(Transforms.nonEmptyGuard(raw)).map { df =>
              val t = tracer.span("transforms.for_table")(Transforms.forTable(spec.name)(df))
              val schema = SchemaRegistry.schemaFor(reg, spec.name)
              val bound = tracer.span("registry.enforce")(SchemaRegistry.enforce(t, schema))
              val r = tracer.span("sinks.load_via")(Sinks.loadVia(
                timedSink(Sinks.parquetAdapter(sess, s"$dest/${spec.name}", Some(spec.name))),
                bound, schema, daily = false, spec.dayPartitionField))
              Etl.RunReport(spec.name, r.rowsLoaded, r.rowsLoaded, r.rowsTotal)
            }
          }
        }
      }
      tracer.drain()
      val spans = tracer.descendants(root)
      def named(n: String) = spans.filter(_.name == n)
      val audits = named("sinks.audit").map(s => tracer.inclusive(s.id))
      val all = tracer.inclusive(root)
      val extracted = reports.map(_.extracted).sum
      val sourceRecords = all.recordsRead.get - audits.map(_.recordsRead.get).sum
      rec.addLayer("sources.records_read", sourceRecords.toDouble)
      rec.addLayer("sources.passes", if (extracted > 0) sourceRecords.toDouble / extracted else 0.0)
      rec.addLayer("sources.scan_task_s",
        (all.scanTaskMs.get - audits.map(_.scanTaskMs.get).sum) / 1e3)
      val guards = named("transforms.guard")
      rec.addLayer("transforms.guard_s", guards.map(_.seconds).sum)
      rec.addLayer("transforms.guard_jobs", guards.map(s => tracer.inclusive(s.id).jobs.get).sum.toDouble)
      rec.addLayer("transforms.guard_records_read",
        guards.map(s => tracer.inclusive(s.id).recordsRead.get).sum.toDouble)
      rec.addLayer("registry.bind_s", named("registry.enforce").map(_.seconds).sum)
      val writes = named("sinks.write")
      rec.addLayer("sinks.precount_s", named("sinks.load_via").map { lv =>
        writes.find(_.parent == lv.id).fold(lv.seconds)(w => (w.startNs - lv.startNs) / 1e9)
      }.sum)
      rec.addLayer("sinks.write_s", writes.map(_.seconds).sum)
      rec.addLayer("sinks.audit_s", named("sinks.audit").map(_.seconds).sum)
      rec.addLayer("sinks.shuffle_write_bytes",
        writes.map(s => tracer.inclusive(s.id).shuffleWrite.get).sum.toDouble)
      val written = Common.parquetFiles(dest)
      rec.addLayer("sinks.files_written", written.size)
      rec.addLayer("sinks.bytes_written", written.values.sum.toDouble)
      rec.outcome(s"$opName replay", check(reports, dest, s"$opName replay"))
    }

    // ---- warm-up (JIT, codegen, Derby statement caches): one untimed op
    rec.info("warmup_s") = etlRun(traced = false, s"${ctx.workDir}/warm", "warmup")
    Seq("op_wall_s", "op_cpu_s", "files_per_op", "bytes_per_row").foreach(rec.e2e.remove)
    ctx.phase("warmup")

    // ---- measured loop: closed, one op after another, each into a fresh
    // destination, until `seconds` of untraced op time; traced runs
    // alternate traced and untraced ops
    var measured = 0.0
    var k = 0
    var nTraced = 0
    while (measured < ctx.seconds || k - nTraced < Ctx.MinOps || (ctx.trace && nTraced == 0)) {
      val traced = ctx.trace && k % 2 == 1
      val t = etlRun(traced, s"${ctx.workDir}/dest/op$k", s"op$k")
      if (traced) nTraced += 1 else measured += t
      rec.add("retained_heap_mb", Common.retainedHeapMb())
      k += 1
    }
    tracer.listen(false)
    ctx.phase("measure")
    db.shutdown()
    rec.info("outputs") = outputs.toSeq
  }
}
