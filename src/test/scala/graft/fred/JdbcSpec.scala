package graft.fred

import java.sql.DriverManager

import graft.SparkSpec
import graft.fred.io.{JdbcRead, UpsertSink}

/** G4/H3 against a LIVE database: Spark ships embedded Derby, so the
  * JDBC read (single-cursor and striped-parallel) and the sink's
  * foreachPartition/batch/transaction machinery run a real round trip
  * in-JVM — no network, no external server. Derby lacks Postgres
  * `ON CONFLICT`, so the sink tests use the insert and `MERGE` builders;
  * the upsert DIALECT stays pinned by the `upsertSql` string test below.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")

  private def withTable(name: String, ddl: String)(body: => Unit): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute(s"DROP TABLE $name") catch { case _: Exception => () }
      conn.createStatement().execute(ddl)
    } finally conn.close()
    body
  }

  test("UpsertSink.write lands rows in a live table; JdbcRead reads them back") {
    // Derby reserves INDICATOR as a keyword, hence series_id here
    withTable("gold",
      "CREATE TABLE gold (series_id VARCHAR(16), observation_year INT, " +
        "observation_month INT, value_d DOUBLE)") {
      val df = Seq(
        ("DGS10", 2024, 1, 4.0), ("DGS10", 2024, 2, 4.2), ("CPI", 2024, 1, 3.1)
      ).toDF("series_id", "observation_year", "observation_month", "value_d")
      UpsertSink.write(df, url, "gold",
        keys = Seq("series_id", "observation_year", "observation_month"),
        sqlBuilder = UpsertSink.insertSql)
      val back = JdbcRead.read(spark, url, "gold", driver)
        .as[(String, Int, Int, Double)].collect().sortBy(r => (r._1, r._3))
      assert(back.toSeq == Seq(
        ("CPI", 2024, 1, 3.1), ("DGS10", 2024, 1, 4.0), ("DGS10", 2024, 2, 4.2)))
    }
  }

  test("UpsertSink.write with mergeSql: a re-delivered revised row updates in place") {
    withTable("gold_merge",
      "CREATE TABLE gold_merge (series_id VARCHAR(16), observation_year INT, " +
        "observation_month INT, value_d DOUBLE, " +
        "PRIMARY KEY (series_id, observation_year, observation_month))") {
      val keys = Seq("series_id", "observation_year", "observation_month")
      // one partition, so one connection merges: see mergeSql on Derby
      def deliver(rows: (String, Int, Int, Double)*): Unit =
        UpsertSink.write(
          rows.toDF("series_id", "observation_year", "observation_month", "value_d").coalesce(1),
          url, "gold_merge", keys = keys, sqlBuilder = UpsertSink.mergeSql)
      deliver(("DGS10", 2024, 1, 4.0), ("DGS10", 2024, 2, 4.2))
      // a revised January and a new March; February is not re-delivered
      deliver(("DGS10", 2024, 1, 4.01), ("DGS10", 2024, 3, 4.4))
      val back = JdbcRead.read(spark, url, "gold_merge", driver)
        .as[(String, Int, Int, Double)].collect().sortBy(_._3)
      assert(back.toSeq == Seq(
        ("DGS10", 2024, 1, 4.01), ("DGS10", 2024, 2, 4.2), ("DGS10", 2024, 3, 4.4)))
    }
  }

  test("mergeSql binds the keys in ON, the non-keys in SET, then every column") {
    val cols = Seq("series_id", "observation_month", "value_d")
    val keys = Seq("series_id", "observation_month")
    assert(UpsertSink.mergeSql("g", cols, keys) == "MERGE INTO g USING SYSIBM.SYSDUMMY1 " +
      "ON g.series_id = ? AND g.observation_month = ? " +
      "WHEN MATCHED THEN UPDATE SET value_d = ? " +
      "WHEN NOT MATCHED THEN INSERT (series_id, observation_month, value_d) VALUES (?, ?, ?)")
    assert(UpsertSink.mergeSql.binds(cols, keys) ==
      Seq("series_id", "observation_month", "value_d", "series_id", "observation_month", "value_d"))
  }

  test("readPartitioned stripes the scan across numPartitions JDBC cursors") {
    withTable("events_jdbc",
      "CREATE TABLE events_jdbc (id BIGINT, v DOUBLE)") {
      val df = (1L to 100L).map(i => (i, i * 0.5)).toDF("id", "v")
      UpsertSink.write(df, url, "events_jdbc", keys = Seq("id"),
        sqlBuilder = UpsertSink.insertSql)
      val part = JdbcRead.readPartitioned(spark, url, "events_jdbc",
        partitionColumn = "id", lowerBound = 1L, upperBound = 101L,
        numPartitions = 4, driver = driver)
      assert(part.rdd.getNumPartitions == 4, "4 concurrent stripes")
      assert(part.count() == 100, "stripes cover every row exactly once")
      assert(part.agg(org.apache.spark.sql.functions.sum("id")).as[Long].head() == 5050L)
      intercept[IllegalArgumentException] {
        JdbcRead.readPartitioned(spark, url, "events_jdbc", "id", 10L, 1L, 4)
      }
    }
  }

  test("upsertSql pins the reference's ON CONFLICT dialect") {
    val sql = UpsertSink.upsertSql("economic_indicators",
      Seq("indicator", "observation_year", "observation_month", "value"),
      Seq("indicator", "observation_year", "observation_month"))
    assert(sql == "INSERT INTO economic_indicators (indicator, observation_year, " +
      "observation_month, value) VALUES (?, ?, ?, ?) " +
      "ON CONFLICT (indicator, observation_year, observation_month) " +
      "DO UPDATE SET value = EXCLUDED.value")
  }
}
