package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point, tool and the test
  * suite build on. Call sites add only deployment settings (a master
  * override, a warehouse dir) before `getOrCreate()`.
  *
  *   - `local[cpus]` with one shuffle partition per core;
  *   - UTC session zone — the oracle and every day boundary are UTC;
  *   - `nanosAsLong`: `events.ts` has shipped as TIMESTAMP(NANOS), which
  *     needs this flag to read at all ([[graft.sources.Tables.load]]
  *     normalizes both shipped forms to a session-zone timestamp);
  *   - AQE on;
  *   - a capped plan string: AQE's per-stage plan-change logging would
  *     otherwise build strings of trees that expand shared subtrees, which
  *     once OOMed the driver;
  *   - [[GraftExtensions]]: the `graft_*` native expressions are called
  *     directly, so a session without them fails at analysis.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
}
