package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session builder, one session memo, one native path: the shared
  * [[GraftSession]] builder registers every `graft_*` expression the
  * operators call directly, and no second builder or weak-session store
  * creeps back into `src/main`.
  */
class GraftSessionSpec extends SparkSpec {

  private val nativeFunctions = Set("graft_dot", "graft_h60", "graft_aho", "graft_aho_spans",
    "graft_bincounts", "graft_pq_encode", "graft_cdc_ends")

  test("a session from the shared builder registers all seven graft_* functions") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered == nativeFunctions)
    nativeFunctions.foreach(f => assert(spark.catalog.functionExists(f), f))
  }

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def offenders(pattern: String, allowedFile: String): Seq[String] = {
    val re = pattern.r
    mainSources.collect {
      case (p, src) if p.getFileName.toString != allowedFile && re.findFirstIn(src).isDefined =>
        p.toString
    }
  }

  test("src/main builds sessions only through GraftSession") {
    val bad = offenders("""SparkSession\s*\.\s*builder\s*\(""", "GraftSession.scala")
    assert(bad.isEmpty, s"SparkSession.builder( outside GraftSession: ${bad.mkString(", ")}")
  }

  test("src/main keeps session-scoped state only in SessionMemo") {
    val bad = offenders("""WeakHashMap\s*\[\s*(org\.apache\.spark\.sql\.)?SparkSession""",
      "SessionMemo.scala")
    assert(bad.isEmpty, s"WeakHashMap[SparkSession outside SessionMemo: ${bad.mkString(", ")}")
  }
}
