package graft

import java.sql.DriverManager
import java.time.LocalDate

import graft.sources.{Jdbc, JdbcConfig, JdbcDialect, Tables}

/** Live end-to-end exercise of the JDBC extract path (reference S5,
  * `mysql_operations.py:8-41`) against EMBEDDED Derby — the engine Spark
  * bundles for its Hive metastore, so the real driver-load → partitioned
  * range scan → pushed WHERE → catalog discovery chain runs with no
  * external database or network. The other dialects differ only by the
  * strings this config emits; those are pinned structurally below.
  */
class JdbcSpec extends SparkSpec {

  private lazy val cfg: JdbcConfig = {
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString + "/db"
    val conn = DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
    val st = conn.createStatement()
    st.execute("CREATE TABLE APP.BACKUPS (ID INT NOT NULL, NAME VARCHAR(32), BACKUP_DATE TIMESTAMP)")
    st.execute("CREATE VIEW APP.BACKUPS_V AS SELECT ID, NAME FROM APP.BACKUPS")
    val ins = conn.prepareStatement("INSERT INTO APP.BACKUPS VALUES (?, ?, ?)")
    (0 until 100).foreach { i =>
      ins.setInt(1, i)
      ins.setString(2, s"row$i")
      // first 40 rows on 2026-03-01, rest on 2026-03-02 (UTC wall-clock;
      // session timezone is UTC so java.sql.Timestamp.valueOf strings and
      // Spark's pushed literals agree)
      ins.setTimestamp(3, java.sql.Timestamp.valueOf(
        if (i < 40) s"2026-03-01 0${i % 10}:15:00" else s"2026-03-02 0${i % 10}:45:00"))
      ins.execute()
    }
    ins.close(); st.close(); conn.close()
    JdbcConfig(s"jdbc:derby:$dir", user = "app", password = "app", dialect = JdbcDialect.Derby)
  }

  test("partitioned full scan reads every row across N range partitions") {
    val df = Jdbc.read(spark, cfg, "APP.BACKUPS", partitioning = Some(("ID", 0L, 100L, 4)))
    assert(df.rdd.getNumPartitions == 4, "partitioned read must fan out to numPartitions tasks")
    assert(df.count() == 100)
    assert(df.columns.map(_.toLowerCase).sorted.sameElements(Array("backup_date", "id", "name")))
  }

  test("incremental day filter is pushed into the remote WHERE clause") {
    // the production composition (Etl.runTable's daily extract)
    val df = Tables.incremental(Jdbc.read(spark, cfg, "APP.BACKUPS"), "BACKUP_DATE",
      LocalDate.of(2026, 3, 1))
    assert(df.count() == 40, "half-open UTC day range must select exactly day-1 rows")
    // the range predicate must reach the source scan, not run post-scan in
    // Spark — the scan node's (untruncated) metadata lists the pushed
    // filters on BACKUP_DATE
    val pushed = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(BACKUP_DATE") &&
      pushed.contains("LessThan(BACKUP_DATE"),
      s"day bounds not pushed to JDBC source: $pushed")
  }

  test("catalog discovery lists base tables only (views excluded)") {
    val names = Jdbc.discoverBaseTables(spark, cfg, "APP")
      .collect().map(_.getString(0)).toSet
    assert(names.contains("BACKUPS"), s"missing base table in $names")
    assert(!names.contains("BACKUPS_V"), "views must be excluded (reference S3 semantics)")
  }

  test("dialect seams: driver, quoting, catalog SQL per engine") {
    import JdbcDialect._
    assert(MySql.quote("a`b") == "`a``b`")
    assert(Postgres.quote("a\"b") == "\"a\"\"b\"")
    assert(MsSql.quote("a]b") == "[a]]b]")
    assert(Derby.quote("x") == "\"x\"")
    assert(JdbcConfig("u", "u", "p").driver == "com.mysql.cj.jdbc.Driver")
    assert(JdbcConfig("u", "u", "p", dialect = MsSql).driver
      == "com.microsoft.sqlserver.jdbc.SQLServerDriver")
    assert(JdbcConfig("u", "u", "p", dialect = Postgres,
      driverOverride = Some("x.Y")).driver == "x.Y")
    // catalog queries: single-quote escaping of the database literal, and
    // the base-table-only predicate each engine spells
    assert(MySql.catalogQuery("d'b").contains("'d''b'"))
    assert(MySql.catalogQuery("db").contains("table_type = 'BASE TABLE'"))
    assert(MsSql.catalogQuery("db").contains("table_catalog = 'db'"))
    assert(Derby.catalogQuery("APP").contains("TABLETYPE = 'T'"))
  }
}
