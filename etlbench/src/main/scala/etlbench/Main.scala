package etlbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** JVM side of the benchmark; run.py builds the inputs and launches it.
  *
  * Usage: Main --workload W --data DIR --work DIR --plan FILE --out FILE
  *             --seconds S --trace 0|1 --nproc N
  *
  * Writes one JSON object to --out: raw end-to-end samples, per-layer
  * medians (traced runs), outcome counts, and the environment stamp. Spans
  * of a traced run go to `spans.jsonl` next to it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val nproc = opt("nproc").toInt
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val plan = toScala(JsonMethods.parse(Files.readString(Paths.get(opt("plan")))))
      .asInstanceOf[Map[String, Any]]
    System.setProperty("derby.stream.error.file", s"$work/derby.log")

    val (spark, sessionS) = Common.seconds {
      SparkSession.builder()
        .master(s"local[$nproc]")
        .appName(s"etlbench-$workload")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val trace = opt("trace") == "1"
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, opt("data"), work, opt("seconds").toDouble, nproc, plan)
    val rec = new Recorder
    workload match {
      case "etl_full_jdbc" => EtlWorkload.run(ctx, rec)
      case "curation_ops" => CurationWorkload.run(ctx, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val layer = rec.layer.map { case (k, v) => k -> Common.median(v.toSeq) }
    if (trace) {
      // traced minus untraced operation time, as a share of the untraced
      val untraced = Common.median(rec.e2e.getOrElse("op_wall_s", Nil).toSeq)
      layer("trace.overhead_pct") =
        if (untraced > 0) 100.0 * (layer.getOrElse("trace.traced_op_s", untraced) / untraced - 1) else 0.0
    }
    ctx.phase("end")
    rec.info("phases_s") = ctx.phases
    val rt = Runtime.getRuntime
    val stamp = Map(
      "nproc" -> nproc,
      "driver_heap_mb" -> rt.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session_start_s" -> sessionS)
    val out = Serialization.write(ListMap(
      "workload" -> workload,
      "stamp" -> stamp,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq,
      "failed_ops" -> rec.failedOps.toSeq,
      "samples" -> rec.e2e.map { case (k, v) => k -> v.toSeq },
      "layer_samples" -> rec.layer.map { case (k, v) => k -> v.toSeq },
      "per_layer" -> layer,
      "info" -> rec.info))(DefaultFormats)
    Files.writeString(Paths.get(opt("out")), out + "\n")
    if (trace) tracer.writeJsonl(Paths.get(opt("out")).resolveSibling("spans.jsonl"))
    spark.stop()
  }

  private def toScala(v: JValue): Any = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> toScala(x) }.toMap
    case JArray(xs) => xs.map(toScala)
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case _ => null
  }
}
