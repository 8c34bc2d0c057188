package graft.fred

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fred.ops._

/** Semantics of the reference-derived [REF] operators, pinned against
  * the traps in SURVEY §7.4 (sentinel-before-cast, HALF_EVEN rounding,
  * null-skipping aggregates, delta-wins upsert).
  */
class FredOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- Clean

  test("cleanValues: sentinel filter precedes cast; bad input coerces to null and drops") {
    val df = Seq(
      ("a", "1.5"), ("b", "."), ("c", "oops"), ("d", null: String), ("e", "2.25")
    ).toDF("id", "value")
    val out = Clean.cleanValues(df).select("id", "value").as[(String, Double)]
      .collect().toMap
    // '.' (revised-missing), unparsable, and null all dropped; parsables survive
    assert(out == Map("a" -> 1.5, "e" -> 2.25))
  }

  test("lenientKeepString: all-or-nothing column cast (pandas errors='ignore')") {
    // every non-null value parses → column becomes double (null passes)
    val clean = Seq(("a", "1.5"), ("b", null: String), ("c", "2"))
      .toDF("id", "value")
    val castDf = Clean.lenientKeepString(clean, "value")
    assert(castDf.schema("value").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(castDf.select("id", "value").as[(String, Option[Double])]
      .collect().toMap == Map("a" -> Some(1.5), "b" -> None, "c" -> Some(2.0)))
    // ONE unparsable value → the whole column keeps its original
    // strings, parsable values included (pandas returns the input
    // unchanged on any error; it never mixes types)
    val dirty = Seq(("a", "1.5"), ("b", "oops"), ("c", "2"))
      .toDF("id", "value")
    val keptDf = Clean.lenientKeepString(dirty, "value")
    assert(keptDf.schema("value").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(keptDf.select("id", "value").as[(String, String)]
      .collect().toMap == Map("a" -> "1.5", "b" -> "oops", "c" -> "2"))
  }

  test("filterSentinel keeps nulls (pandas != semantics)") {
    val df = Seq(Some("."), None, Some("3")).toDF("value")
    val kept = Clean.filterSentinel(df, "value").collect().map(_.getString(0))
    assert(kept.toSet == Set(null, "3"))
  }

  test("canonicalKey trims and lowercases") {
    val out = Seq("  DGS10 ").toDF("k")
      .select(Clean.canonicalKey(col("k"))).head().getString(0)
    assert(out == "dgs10")
  }

  // -------------------------------------------------------- MonthlyAgg

  test("A1 aggregate: avg/count skip nulls, max ingested_at") {
    val df = Seq(
      ("X", 2024, 1, Some(2.0), "t1"),
      ("X", 2024, 1, Some(4.0), "t3"),
      ("X", 2024, 1, None, "t2"),
      ("X", 2024, 2, Some(10.0), "t1")
    ).toDF("indicator", "observation_year", "observation_month", "value", "ingested_at")
    val out = MonthlyAgg.aggregate(df)
      .orderBy("observation_month").collect()
    assert(out(0) == Row("X", 2024, 1, 3.0, 2L, "t3")) // null skipped in avg AND count
    assert(out(1) == Row("X", 2024, 2, 10.0, 1L, "t1"))
  }

  // -------------------------------------------------------- YearlyGold

  test("C6: bround is HALF_EVEN (banker's), matching pandas round") {
    val df = Seq(2.125, 2.135, -2.125, 2.145).toDF("value")
    val out = df.select(bround(col("value"), 2)).as[Double].collect()
    assert(out.toSeq == Seq(2.12, 2.14, -2.12, 2.14)) // round() would give 2.13/-2.13
  }

  test("E1: unionMonths preserves all rows across frames") {
    val a = Seq(("X", 1.0)).toDF("indicator", "value")
    val b = Seq(("X", 2.0), ("Y", 3.0)).toDF("indicator", "value")
    assert(YearlyGold.unionMonths(Seq(a, b)).count() == 3)
  }

  // ------------------------------------------------------------- Merge

  test("D2 upsert: delta wins on key collision, unmatched base survives") {
    val base = Seq(("k1", 1, "old"), ("k2", 1, "keep")).toDF("k", "seq", "v")
    val delta = Seq(("k1", 2, "new"), ("k3", 1, "ins")).toDF("k", "seq", "v")
    val out = Merge.upsert(base, delta, Seq("k"), Seq(col("seq").desc))
      .select("k", "v").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "new", "k2" -> "keep", "k3" -> "ins"))
  }

  test("latestByKey: recency ordering picks exactly one row per key") {
    val df = Seq(("k", 1, "a"), ("k", 3, "c"), ("k", 2, "b")).toDF("k", "seq", "v")
    val out = Merge.latestByKey(df, Seq("k"), Seq(col("seq").desc)).collect()
    assert(out.toSeq == Seq(Row("k", 3, "c")))
  }

  // --------------------------------------------------------- DedupSync

  test("D1 newRows: left anti join on the natural key") {
    val incoming = Seq(("X", 2024, 1, 1.0), ("X", 2024, 2, 2.0))
      .toDF("indicator", "observation_year", "observation_month", "value")
    val existing = Seq(("X", 2024, 1)).toDF(
      "indicator", "observation_year", "observation_month")
    val out = DedupSync.newRows(incoming, existing)
    assert(out.select("observation_month").as[Int].collect().toSeq == Seq(2))
  }

  // ------------------------------------------------------------ Derive

  test("toBronze shapes raw API rows to the 6-column bronze schema") {
    val raw = Seq(("2024-03-07", "4.11"), ("2024-03-08", ".")).toDF("date", "value")
    val out = Derive.toBronze(raw, "DGS10")
    assert(out.columns.toSeq == Schemas.bronze.fieldNames.toSeq)
    val r = out.orderBy("observation_date").head()
    assert(r.getString(0) == "DGS10")
    assert(r.getString(1) == "2024-03-07")
    assert(r.getString(2) == "3" && r.getString(3) == "2024")
    assert(r.getString(4) == "4.11") // raw string kept, not re-stringified
    assert(r.getString(5).matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}\+00:00"""))
  }

  // --------------------------------------------- bronze→silver pipeline

  test("golden pipeline: observations → bronze → clean+cast → silver monthly") {
    val fixture =
      """{"observations":[
        |{"date":"2024-01-02","value":"3.95"},
        |{"date":"2024-01-03","value":"4.05"},
        |{"date":"2024-01-04","value":"."},
        |{"date":"2024-02-01","value":"4.20"}]}""".stripMargin.replace("\n", "")
    val obs = graft.fred.io.FredSource.observations(spark, fixture)
    val bronze = Derive.toBronze(obs, "DGS10")
    val cleaned = Clean.cleanValues(bronze)
      .withColumn("observation_year", col("observation_year").cast("int"))
      .withColumn("observation_month", col("observation_month").cast("int"))
    val silver = MonthlyAgg.toSilver(cleaned)
    assert(silver.columns.toSeq == Schemas.silver.fieldNames.toSeq)
    val rows = silver
      .select("indicator", "observation_year", "observation_month", "value", "observation_count")
      .orderBy("observation_month")
      .as[(String, Int, Int, Double, Long)].collect()
    assert(rows.toSeq == Seq(
      ("DGS10", 2024, 1, 4.0, 2L), // '.' row excluded from both mean and count
      ("DGS10", 2024, 2, 4.2, 1L)))
  }

  // -------------------------------------------------------- FredSource

  private def rejects(responseJson: String, message: String): Unit = {
    val e = intercept[IllegalArgumentException] {
      graft.fred.io.FredSource.observations(spark, responseJson)
    }
    assert(e.getMessage.contains(message), e.getMessage)
  }

  test("observations: a response without 'observations' is rejected") {
    rejects("""{"units":"lin","count":0}""", "missing 'observations'")
  }

  test("observations: an 'observations' value that is not an array is rejected") {
    rejects("""{"observations":{"date":"2024-01-02","value":"3.95"}}""",
      "'observations' is not an array")
  }

  test("observations: an empty 'observations' array is rejected") {
    rejects("""{"observations":[]}""", "'observations' is empty")
  }

  test("observations: an element without 'date' is rejected") {
    rejects("""{"observations":[{"date":"2024-01-02","value":"3.95"},{"value":"4.0"}]}""",
      "observation 1 missing 'date'")
  }

  test("observations: an element without 'value' is rejected") {
    rejects("""{"observations":[{"date":"2024-01-02"},{"date":"2024-01-03","value":"4.0"}]}""",
      "observation 0 missing 'value'")
  }

  test("observations: a JSON null value stays null in bronze and drops at silver") {
    val obs = graft.fred.io.FredSource.observations(spark,
      """{"observations":[{"date":"2024-01-02","value":null},{"date":"2024-01-03","value":"4.0"}]}""")
    val bronze = Derive.toBronze(obs, "DGS10")
    assert(bronze.select("observation_date", "value").as[(String, String)].collect().toSeq ==
      Seq(("2024-01-02", null), ("2024-01-03", "4.0")))
    assert(Clean.cleanValues(bronze).select("observation_date").as[String].collect().toSeq ==
      Seq("2024-01-03"))
  }

  test("observations: a numeric value keeps its JSON text") {
    val obs = graft.fred.io.FredSource.observations(spark,
      """{"observations":[{"date":"2024-01-02","value":3.90},{"date":"2024-01-03","value":4}]}""")
    assert(obs.select("value").as[String].collect().toSeq == Seq("3.90", "4"))
  }

  test("C8 monthRanges: clamps partial first/last months") {
    import java.time.LocalDate
    val ranges = graft.fred.io.FredSource.monthRanges(
      LocalDate.parse("2024-01-15"), LocalDate.parse("2024-03-10"))
    assert(ranges == Seq(
      (LocalDate.parse("2024-01-15"), LocalDate.parse("2024-01-31")),
      (LocalDate.parse("2024-02-01"), LocalDate.parse("2024-02-29")),
      (LocalDate.parse("2024-03-01"), LocalDate.parse("2024-03-10"))))
  }

  test("upsertSql: ON CONFLICT DO UPDATE over non-key columns only") {
    val sql = graft.fred.io.UpsertSink.upsertSql("t",
      Seq("indicator", "observation_year", "observation_month", "value"),
      Seq("indicator", "observation_year", "observation_month"))
    assert(sql == "INSERT INTO t (indicator, observation_year, observation_month, value) " +
      "VALUES (?, ?, ?, ?) " +
      "ON CONFLICT (indicator, observation_year, observation_month) " +
      "DO UPDATE SET value = EXCLUDED.value")
  }

  test("imputeGroupMean: nulls take the group mean of present values") {
    val df = Seq(
      ("a", Some(2.0)), ("a", None), ("a", Some(4.0)),
      ("b", None) // group with nothing to impute from
    ).toDF("g", "v")
    val out = Clean.imputeGroupMean(df, Seq("g"), "v")
      .select("g", "v", "v_filled", "was_imputed")
      .as[(String, Option[Double], Option[Double], Int)].collect()
    val aRows = out.filter(_._1 == "a")
    assert(aRows.filter(_._2.isEmpty).head._3.contains(3.0)) // mean(2,4)
    assert(aRows.filter(_._2.isEmpty).head._4 == 1)
    assert(aRows.filter(_._2.isDefined).forall(r => r._3 == r._2 && r._4 == 0))
    val bRow = out.filter(_._1 == "b").head
    assert(bRow._3.isEmpty && bRow._4 == 0) // nothing present: stays null
  }

  test("scd2History: validity intervals chain, current row open-ended") {
    val rows = Seq(
      ("k1", 10L, "a"), ("k1", 20L, "b"), ("k1", 30L, "c"), ("k2", 5L, "x")
    ).toDF("key", "t", "v")
    val out = Merge.scd2History(rows, Seq("key"), "t", Seq(col("t").asc))
      .select("key", "t", "v", "valid_from", "valid_to", "version")
      .as[(String, Long, String, Long, Option[Long], Int)].collect()
      .sortBy(r => (r._1, r._6))
    assert(out.map(r => (r._1, r._4, r._5, r._6)).toSeq == Seq(
      ("k1", 10L, Some(20L), 1), // superseded at 20
      ("k1", 20L, Some(30L), 2),
      ("k1", 30L, None, 3),      // current version: open interval
      ("k2", 5L, None, 1)))
    // intervals tile: every valid_to equals the next valid_from
  }

  // ------------------------------------------------------------ LakeIO

  test("LakeIO round-trip: dynamic partition overwrite replaces only written partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val jan = Seq(("DGS10", 2024, 1, "2024-01-02", "3.95", "t1"))
      .toDF("indicator", "observation_year", "observation_month",
        "observation_date", "value", "ingested_at")
    val feb = jan.withColumn("observation_month", lit(2))
      .withColumn("observation_date", lit("2024-02-02"))
    graft.fred.io.LakeIO.writeParquet(jan, tmp)
    graft.fred.io.LakeIO.writeParquet(feb, tmp)
    // jan survives feb's write (only feb's partition is replaced)
    val all = graft.fred.io.LakeIO.readParquet(spark, tmp)
    assert(all.count() == 2)
    // re-writing jan with a new value replaces jan in place
    val jan2 = jan.withColumn("value", lit("9.99"))
    graft.fred.io.LakeIO.writeParquet(jan2, tmp)
    val after = graft.fred.io.LakeIO.readParquet(spark, tmp)
    assert(after.count() == 2)
    assert(after.filter(col("observation_month") === 1)
      .select("value").head().getString(0) == "9.99")
    // partition pruning: month filter reads one directory
    val pruned = after.filter(col("observation_month") === 2)
    assert(pruned.count() == 1)
  }

  test("LakeIO writes leave the session's partitionOverwriteMode unset") {
    // the shared test session is static; a write that set the conf would
    // flip every later spec's writers to dynamic
    val key = "spark.sql.sources.partitionOverwriteMode"
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(key))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-conf").toString
    graft.fred.io.LakeIO.writeParquet(s.range(2).selectExpr("'DGS10' AS indicator",
      "2024 AS observation_year", "CAST(id + 1 AS INT) AS observation_month", "id AS value"), tmp)
    assert(!s.conf.getAll.contains(key), s"a lake write set $key to ${s.conf.getOption(key)}")
    assert(s.read.parquet(tmp).count() == 2)
  }

  test("LakeIO writes refresh a cached read of their root") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-cache").toString
    def month(m: Int) = Seq(("DGS10", 2024, m, "v")).toDF("indicator",
      "observation_year", "observation_month", "value")
    graft.fred.io.LakeIO.writeParquet(month(1), tmp)
    val cached = spark.read.parquet(tmp).cache()
    try {
      assert(cached.count() == 1)
      graft.fred.io.LakeIO.writeParquet(month(2), tmp)
      assert(cached.count() == 2, "the cached read still lists the root as it was")
    } finally cached.unpersist()
  }

  test("LakeIO ORC round-trip: dynamic partition overwrite, same contract as parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val jan = Seq(("DGS10", 2024, 1, "3.95"), ("DGS10", 2024, 2, "4.05"))
      .toDF("indicator", "observation_year", "observation_month", "value")
    graft.fred.io.LakeIO.writeOrc(jan, tmp)
    // overwrite only month=1; month=2 must survive
    val jan2 = jan.filter(col("observation_month") === 1)
      .withColumn("value", lit("9.99"))
    graft.fred.io.LakeIO.writeOrc(jan2, tmp)
    val back = graft.fred.io.LakeIO.readOrc(spark, tmp)
    assert(back.count() == 2)
    assert(back.filter(col("observation_month") === 1)
      .select("value").head().getString(0) == "9.99")
    // ORC scans push filters like parquet (stats-backed columnar)
    val scan = back.filter(col("value") === "9.99")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(value), EqualTo(value,9.99)]"),
      s"filter not pushed to ORC scan:\n$scan")
  }

  test("LakeIO CSV round-trip with explicit schema (no inference scan)") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/out"
    val df = Seq(("DGS10", 2024, 3.95), ("UNRATE", 2024, 4.1))
      .toDF("indicator", "observation_year", "value")
    graft.fred.io.LakeIO.writeCsv(df, tmp)
    val schema = StructType(Seq(
      StructField("indicator", StringType),
      StructField("observation_year", IntegerType),
      StructField("value", DoubleType)))
    val back = graft.fred.io.LakeIO.readCsv(spark, tmp, schema)
    assert(back.schema == schema) // declared, not inferred
    assert(back.collect().toSet == df.collect().toSet)
  }
}
