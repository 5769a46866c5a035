package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one session-scoped memo: shared eagerly-materialized frames,
  * generation-immutable index metadata, and "this session already built
  * it" marks for the persisted base indexes. Weak session keys, so every
  * entry dies with its session; a `spark.newSession()` child starts empty.
  *
  * Three kinds of entry, each under its own key namespace so the same
  * caller string can never alias across kinds:
  *
  *   - FRAMES ([[getOrCompute]], [[peek]], [[put]]) are held SOFTLY. A
  *     Dataset strongly references its session, so a strong value would
  *     pin the weak key forever; a cleared frame just recomputes. Only
  *     memoize frames that are deterministic for their key and already
  *     materialized (e.g. `localCheckpoint(true)`) — a lazy plan would
  *     re-execute per consumer anyway.
  *   - VALUES ([[cached]], [[cachedHead]]) are metadata-scale driver data
  *     keyed on the [[tableFingerprint]] of a guard table, so any rewrite
  *     of the guard makes the stale entry unreachable. Held strongly.
  *   - MARKS ([[ensure]]) record that a persisted base index exists on
  *     disk. Held strongly: a GC-cleared mark would silently re-run a
  *     multi-second index build in whichever query touches it next.
  *
  * Every kind builds through one single-flight primitive: concurrent
  * callers of one (session, key) run the build once and the losers reuse
  * the winner's result (the parity queries overlap a reference side with
  * a stream drain, and both can reach the same key).
  */
private[graft] object SessionMemo {

  private final class Store {
    val cells = TrieMap.empty[String, () => AnyRef]
    val locks = TrieMap.empty[String, AnyRef]
  }

  private val stores =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Store]())

  private def store(s: SparkSession): Store =
    stores.synchronized(stores.computeIfAbsent(s, _ => new Store))

  private def strong(v: AnyRef): () => AnyRef = () => v

  private def soft(v: AnyRef): () => AnyRef = {
    val r = new java.lang.ref.SoftReference(v)
    () => r.get()
  }

  private def live(st: Store, key: String): Option[AnyRef] =
    st.cells.get(key).flatMap(c => Option(c()))

  private def singleFlight(s: SparkSession, key: String, hold: AnyRef => () => AnyRef)(
      build: => AnyRef): AnyRef = {
    val st = store(s)
    live(st, key).getOrElse(st.locks.getOrElseUpdate(key, new Object).synchronized {
      // re-check under the lock: the holder may have built it while we waited
      live(st, key).getOrElse {
        val v = build
        st.cells.put(key, hold(v))
        v
      }
    })
  }

  def getOrCompute(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    singleFlight(s, s"frame:$key", soft)(build).asInstanceOf[DataFrame]

  /** Non-building lookup — for multi-frame builders that must know whether
    * EVERY sibling key is still live before trusting any of them (see
    * SimilarityQueries.ragBatchFused).
    */
  def peek(s: SparkSession, key: String): Option[DataFrame] =
    live(store(s), s"frame:$key").map(_.asInstanceOf[DataFrame])

  /** Seed a frame directly — for builders that produce several frames in
    * one run, so a later [[getOrCompute]] of a sibling won't rebuild.
    */
  def put(s: SparkSession, key: String, df: DataFrame): Unit =
    store(s).cells.put(s"frame:$key", soft(df))

  /** Run `build` the first time (session, key) is seen; no-op after. */
  def ensure(s: SparkSession, key: String)(build: => Unit): Unit =
    singleFlight(s, s"mark:$key", strong) { build; java.lang.Boolean.TRUE }

  /** File-set fingerprint of `table` (sorted name:len:mtime triples).
    * Parquet write file names carry fresh UUIDs, so any rewrite — even one
    * producing identical bytes — changes it. One catalog lookup and one
    * directory listing; no Spark job.
    */
  def tableFingerprint(spark: SparkSession, table: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val path = new org.apache.hadoop.fs.Path(meta.location)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sts =
      try fs.listStatus(path)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    sts.filter(_.isFile)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Memoized `load`, keyed on (session, `what`, guard table's current
    * fingerprint). `guardTable` must be rewritten whenever ANY cached
    * member changes — by convention the family's `_meta` completeness
    * marker, which every index builder writes LAST.
    */
  def cached[T <: AnyRef](spark: SparkSession, guardTable: String, what: String)(load: => T): T =
    singleFlight(spark, s"value:$what@$guardTable@${tableFingerprint(spark, guardTable)}",
      strong)(load).asInstanceOf[T]

  /** Memoized head row of a single-row parameter table (every family's
    * `_meta`). Self-guarding: the guard IS the cached table, so a rewrite
    * invalidates unconditionally. One driver job per (session, generation)
    * instead of one per micro-batch or probe.
    */
  def cachedHead(spark: SparkSession, table: String): Row =
    cached(spark, table, "head") { spark.table(table).head() }
}
