package etlbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Every run measures at least this many untraced operations, however long
  * they take: a median of one sample is too exposed to a slow moment of the
  * machine.
  */
object Ctx { val MinOps = 2 }

/** Everything a workload needs: the session, the tracer, where its inputs
  * are and where it may write, how long to measure, and the seeded plan.
  */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val dataDir: String,
    val workDir: String,
    val seconds: Double,
    val nproc: Int,
    val plan: Map[String, Any]) {
  def trace: Boolean = tracer.enabled
  def planInt(k: String): Int = plan(k).asInstanceOf[Number].intValue
  def planStrings(k: String): Seq[String] = plan(k).asInstanceOf[Seq[Any]].map(_.toString)
  def planSeqs[A](k: String)(f: Any => A): Seq[Seq[A]] =
    plan(k).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Seq[Any]].map(f))
  private val t0 = System.nanoTime()
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  /** Mark the end of a run phase (seconds since the context was made). */
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9
  def dir(name: String): String = {
    val d = new File(workDir, name); d.mkdirs(); d.getAbsolutePath
  }
}

/** Samples and outcome counts of one benchmark run. End-to-end samples are
  * taken from untraced operations only; per-layer samples from traced ones.
  */
final class Recorder {
  val e2e: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val failedOps: mutable.LinkedHashSet[String] = mutable.LinkedHashSet()

  def add(metric: String, v: Double): Unit = e2e.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v
  def addLayer(metric: String, v: Double): Unit =
    layer.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** Count one operation; `problems` are its failed output checks. */
  def outcome(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failedOps += what
      if (failures.size < 50) failures += s"$what: ${problems.mkString("; ")}"
    }
  }
}

object Common {

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection, in MiB. The finished operation's
    * child session is first dropped from this thread's active-session slot,
    * and Spark's cleaner thread gets time to release the blocks of frames the
    * first collection freed, so that only what the program keeps is counted.
    */
  def retainedHeapMb(): Double = {
    SparkSession.clearActiveSession()
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** CPU time all threads of this JVM have used, in seconds. Time the
    * hypervisor steals from the virtual CPUs is not in it.
    */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Bytes of RDD blocks the block manager holds (memory and disk). */
  def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  /** Parquet data files under `dir`, path → size. */
  def parquetFiles(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        else if (f.getName.endsWith(".parquet")) out += (f.getPath -> f.length())
      walk(root)
      out.result()
    }
  }

  /** Rows in parquet files, from their footers (no Spark job). */
  def parquetRows(files: Iterable[String]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** (files, bytes) present in `after` but not in `before`. */
  def added(before: Map[String, Long], after: Map[String, Long]): (Int, Long) = {
    val fresh = after.filter { case (p, _) => !before.contains(p) }
    (fresh.size, fresh.values.sum)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Whole-program Spark and JVM counters of one traced operation. */
  def sparkLayers(rec: Recorder, c: Counters, wallS: Double, nproc: Int, gcS: Double,
      cached: Double): Unit = {
    val cpuS = c.cpuNs.get / 1e9
    rec.addLayer("spark.tasks", c.tasks.get.toDouble)
    rec.addLayer("spark.executor_cpu_s", cpuS)
    rec.addLayer("spark.cpu_util", if (wallS > 0) cpuS / (wallS * nproc) else 0.0)
    rec.addLayer("spark.shuffle_bytes", c.shuffleWrite.get.toDouble)
    rec.addLayer("spark.spill_bytes", c.spill.get.toDouble)
    rec.addLayer("spark.cached_bytes", cached)
    rec.addLayer("jvm.gc_s", gcS)
  }

  /** Family of a curation query, from its registry name. */
  def family(query: String): String = query.takeWhile(_ != '_') match {
    case "d" => "dedup"
    case "tx" => "text"
    case "sim" => "similarity"
    case "mm" => "multimodal"
    case other => other
  }
}
