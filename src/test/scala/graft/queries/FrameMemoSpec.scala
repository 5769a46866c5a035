package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SaveMode

import graft.{SessionMemo, SparkSpec}

/** The session-memo contract ([[SessionMemo]]): one build per
  * (session, key) even under concurrency, fingerprint-keyed values that
  * reload exactly when their guard table is rewritten, strong marks,
  * kind-separated keys, and per-session isolation.
  */
class FrameMemoSpec extends SparkSpec {

  test("getOrCompute builds once per key and returns the same frame") {
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF() }
    val a1 = SessionMemo.getOrCompute(spark, "memo-spec:a")(build())
    val a2 = SessionMemo.getOrCompute(spark, "memo-spec:a")(build())
    val b = SessionMemo.getOrCompute(spark, "memo-spec:b")(build())
    assert(a1 eq a2, "same key must return the memoized frame")
    assert(builds == 2, s"expected one build per distinct key, got $builds")
    assert(b.count() == 3)
  }

  test("two threads racing one key run exactly one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        go.await()
        results.add(SessionMemo.getOrCompute(s, "memo-spec:race") {
          builds.incrementAndGet()
          // hold the build open long enough that the other thread arrives
          // while it runs
          Thread.sleep(500)
          s.range(1).toDF()
        })
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(30)))
    assert(builds.get == 1, s"racing callers ran ${builds.get} builds")
    assert(results.size == 2)
    val frames = results.toArray
    assert(frames(0) eq frames(1), "the loser must reuse the winner's frame")
  }

  test("a fingerprint-keyed value reloads after its guard table is rewritten, and not before") {
    val table = "memo_spec_guard"
    def write(v: Int): Unit = spark.range(1).selectExpr(s"$v AS v")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
    write(1)
    var loads = 0
    def read(): Integer = SessionMemo.cached(spark, table, "v") {
      loads += 1
      Integer.valueOf(spark.table(table).head().getInt(0))
    }
    assert(read() == 1 && read() == 1)
    assert(loads == 1, s"an unchanged guard table must not reload ($loads loads)")
    assert(SessionMemo.cachedHead(spark, table).getInt(0) == 1)
    write(2)
    assert(read() == 2, "a rewritten guard table must reload the value")
    assert(SessionMemo.cachedHead(spark, table).getInt(0) == 2)
    assert(read() == 2)
    assert(loads == 2, s"expected exactly one reload per rewrite, got $loads loads")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a strong marker builds once per session; keys never alias across kinds") {
    val s = spark.newSession()
    var marks = 0
    SessionMemo.ensure(s, "memo-spec:mark") { marks += 1 }
    SessionMemo.ensure(s, "memo-spec:mark") { marks += 1 }
    assert(marks == 1, s"the mark must build once per session, built $marks times")
    // the same caller key as a frame is a different entry
    var frames = 0
    SessionMemo.getOrCompute(s, "memo-spec:mark") { frames += 1; s.range(1).toDF() }
    assert(frames == 1, "a frame must not resolve to a marker under the same key")
    assert(SessionMemo.peek(s, "memo-spec:unmarked").isEmpty)
  }

  test("a spark.newSession() child starts empty") {
    val parent = spark.newSession()
    var marks = 0
    SessionMemo.ensure(parent, "memo-spec:child") { marks += 1 }
    SessionMemo.put(parent, "memo-spec:child", parent.range(2).toDF())
    assert(SessionMemo.peek(parent, "memo-spec:child").isDefined)
    val child = parent.newSession()
    assert(SessionMemo.peek(child, "memo-spec:child").isEmpty,
      "a child session must not see its parent's frames")
    SessionMemo.ensure(child, "memo-spec:child") { marks += 1 }
    assert(marks == 2, "a child session must not see its parent's marks")
  }
}
