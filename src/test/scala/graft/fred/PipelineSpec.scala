package graft.fred

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fred.io.{DdlOps, FredSource, LakeIO}
import graft.fred.ops.{Clean, MonthlyAgg}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("full DAG golden test: extract → transform → aggregate → load") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    // two months of FRED-shaped fixtures, with a '.' sentinel and a
    // bad value that must be coerced out
    val fixture = new FredSource.Fixture(Map(
      ("DGS10", 2024, 1) ->
        """{"observations":[
          |{"date":"2024-01-02","value":"3.95"},
          |{"date":"2024-01-03","value":"4.055"},
          |{"date":"2024-01-04","value":"."}]}""".stripMargin.replace("\n", ""),
      ("DGS10", 2024, 2) ->
        """{"observations":[
          |{"date":"2024-02-01","value":"4.20"},
          |{"date":"2024-02-02","value":"oops"}]}""".stripMargin.replace("\n", "")))
    val pipe = new Pipeline(spark, fixture, tmp)
    var served: Array[(String, Int, Int, Double, Long)] = Array.empty
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29")) { gold =>
      served = gold
        .select("indicator", "observation_year", "observation_month", "value", "observation_count")
        .as[(String, Int, Int, Double, Long)].collect()
    }
    // Jan mean(3.95, 4.055) = 4.0025 → bround(2) HALF_EVEN → 4.0
    // Feb: 'oops' coerced out → mean(4.20) over count 1
    assert(served.sortBy(_._3).toSeq == Seq(
      ("DGS10", 2024, 1, 4.0, 2L),
      ("DGS10", 2024, 2, 4.2, 1L)))
    // layers exist, partitioned
    assert(spark.read.parquet(s"$tmp/processed_data").count() == 2)
    assert(new java.io.File(s"$tmp/raw_data/indicator=DGS10").exists())
    // re-running the window is idempotent (overwrite semantics)
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())
    assert(spark.read.parquet(s"$tmp/aggregated_data").count() == 2)
  }

  test("layer retry: a transient extract failure heals; exhaustion propagates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-retry").toString
    var calls = 0
    val flaky = new FredSource {
      def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String = {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient 500")
        """{"observations":[{"date":"2024-01-02","value":"3.95"}]}"""
      }
    }
    // retryDelayMs = 0: the injectable delay exists so this test
    // doesn't sleep the reference's five minutes
    val pipe = new Pipeline(spark, flaky, tmp, retries = 1, retryDelayMs = 0L)
    var served: Array[(String, Int, Int, Double, Long)] = Array.empty
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-31")) { gold =>
      served = gold
        .select("indicator", "observation_year", "observation_month", "value", "observation_count")
        .as[(String, Int, Int, Double, Long)].collect()
    }
    assert(calls == 2, "first attempt failed, the one retry must have run")
    assert(served.toSeq == Seq(("DGS10", 2024, 1, 3.95, 1L)))
    // a permanently failing source exhausts the single retry and throws
    val down = new FredSource {
      def fetchMonth(s: String, a: LocalDate, b: LocalDate): String =
        throw new RuntimeException("down")
    }
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-retry2").toString
    val pipe2 = new Pipeline(spark, down, tmp2, retries = 1, retryDelayMs = 0L)
    intercept[RuntimeException] {
      pipe2.extract("DGS10",
        LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-31"))
    }
  }

  // ------------------------------------------- extract: one job per call

  private val window = Seq(1, 2, 3).map(m => ("DGS10", 2024, m) -> (
    s"""{"observations":[{"realtime_start":"2024-06-01","date":"2024-0$m-02","value":"4.$m"},""" +
      s"""{"date":"2024-0$m-03","value":"."},{"date":"2024-0$m-04","value":"4.${m}5"}]}""")).toMap

  /** Data files of every bronze month leaf: leaf → file names. */
  private def bronzeLeaves(root: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/raw_data")).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .toSeq.groupBy(_.getParent.toString.stripPrefix(s"$root/raw_data/"))
      .map { case (leaf, fs) => leaf -> fs.map(_.getFileName.toString).sorted }
  }

  /** (date, value) lines of one leaf file, in file order; and its stamps. */
  private def leafRows(root: String, leaf: String, file: String): (Seq[(String, String)], Set[String]) = {
    val lines = spark.read.schema("observation_date STRING, value STRING, ingested_at STRING")
      .json(s"$root/raw_data/$leaf/$file").collect()
    (lines.map(r => (r.getString(0), r.getString(1))).toSeq, lines.map(_.getString(2)).toSet)
  }

  test("extract: a 3-month window writes one file per month leaf, idempotently") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-extract").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window), tmp)
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    val leaves = bronzeLeaves(tmp)
    val expectedLeaves = (1 to 3).map(m => s"indicator=DGS10/observation_year=2024/observation_month=$m")
    assert(leaves.keySet == expectedLeaves.toSet, s"got ${leaves.keySet}")
    assert(leaves.values.forall(_.size == 1), s"one file per month leaf: $leaves")
    val stamps = expectedLeaves.zip(1 to 3).map { case (leaf, m) =>
      val (rows, stamp) = leafRows(tmp, leaf, leaves(leaf).head)
      // the response's rows in response order, the raw value strings kept
      assert(rows == Seq((s"2024-0$m-02", s"4.$m"), (s"2024-0$m-03", "."),
        (s"2024-0$m-04", s"4.${m}5")), s"month $m: $rows")
      stamp
    }
    assert(stamps.flatten.toSet.size == 1, s"one ingested_at stamp per call: $stamps")
    // a re-run replaces exactly those leaves: new files, same rows
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    val again = bronzeLeaves(tmp)
    assert(again.keySet == leaves.keySet && again.values.forall(_.size == 1), s"got $again")
    assert(again.forall { case (leaf, fs) => fs != leaves(leaf) }, "every leaf rewritten")
    assert(LakeIO.readBronze(spark, s"$tmp/raw_data").count() == 9)
  }

  test("extract: a source failing on month 2 leaves no bronze leaf of the window") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-extract-fail").toString
    val failing = new FredSource {
      def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String =
        if (start.getMonthValue == 2) throw new RuntimeException("month 2 down")
        else window((seriesId, start.getYear, start.getMonthValue))
    }
    val pipe = new Pipeline(spark, failing, tmp, retries = 1, retryDelayMs = 0L)
    val e = intercept[RuntimeException] {
      pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    }
    assert(e.getMessage == "month 2 down")
    assert(!new java.io.File(s"$tmp/raw_data").exists(), "month 1 must not have been written")
  }

  test("extract: a whole window costs exactly one Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-extract-jobs").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window), tmp)
    val jobs = sparkJobs {
      pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    }
    assert(jobs == 1, s"extract ran $jobs Spark jobs")
  }

  test("transform: silver is bit-identical to the exchange plan's, one file per leaf") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-transform-plan").toString
    // three months of a daily series, with sentinels and unparsable values
    val rnd = new scala.util.Random(7)
    val daily = (1 to 3).map { m =>
      val obs = (1 to 28).map { d =>
        val v = rnd.nextInt(10) match {
          case 0 => "."
          case 1 => "n/a"
          case _ => "%.4f".formatLocal(java.util.Locale.ROOT, 3 + rnd.nextDouble())
        }
        s"""{"date":"2024-0$m-${"%02d".format(d)}","value":"$v"}"""
      }
      ("DGS10", 2024, m) -> obs.mkString("""{"observations":[""", ",", "]}")
    }.toMap
    val pipe = new Pipeline(spark, new FredSource.Fixture(daily), tmp)
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    pipe.transform("DGS10", Seq(2024))
    val viaExchange = MonthlyAgg.toSilver(Clean.cleanValues(
      LakeIO.readBronze(spark, pipe.bronzeRoot)
        .where(col("indicator") === "DGS10" && col("observation_year") === 2024)
        .withColumn("observation_year", col("observation_year").cast("int"))
        .withColumn("observation_month", col("observation_month").cast("int"))))
    assert(viaExchange.queryExecution.executedPlan.toString.contains("Exchange"),
      "the reference plan must shuffle")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("indicator"), col("observation_year"), col("observation_month"),
        col("value"), col("observation_count"), col("ingested_at"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), r.getLong(4), r.getString(5)))
      .sortBy(_._3).toSeq
    val expected = rows(viaExchange)
    assert(expected.map(_._3) == Seq(1, 2, 3))
    assert(rows(spark.read.parquet(pipe.silverRoot)) == expected)
    assert(LakeIO.partitionCensus(spark, pipe.silverRoot).map(_._2) == Seq(1L, 1L, 1L),
      "one file per silver leaf")
  }

  test("typed silver boundary: Dataset[SilverObservation] round-trips the lake") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-typed").toString
    val silver = Seq(
      ("DGS10", 2024, 1, Some(4.0), Some(2L), Some("t1"), Some("p1"))
    ).toDF("indicator", "observation_year", "observation_month",
      "value", "observation_count", "ingested_at", "processed_at")
    graft.fred.io.LakeIO.writeParquet(silver, tmp)
    val typed = graft.fred.io.LakeIO.readSilverTyped(spark, tmp).collect()
    assert(typed.toSeq == Seq(SilverObservation(
      "DGS10", Some(2024), Some(1), Some(4.0), Some(2L), Some("t1"), Some("p1"))))
  }

  test("compactParquet: fragmented partitions collapse toward targetBytes files, data identical") {
    import org.apache.spark.sql.functions.col
    val in = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val rows = (0 until 2000)
      .map(i => (s"IND${i % 2}", 2024, 1 + i % 3, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    // simulate incremental appends: 25 writer tasks per partition
    rows.repartition(25).write.mode("overwrite")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(in)
    val (before, _) = graft.fred.io.LakeIO.parquetCensus(spark, in)
    assert(before > 100, s"fixture should be fragmented, got $before files")
    // generous target: every partition should collapse to ONE file
    val (b2, after) = graft.fred.io.LakeIO.compactParquet(
      spark, in, out, targetBytes = 64L * 1024 * 1024)
    assert(b2 == before && after == 6L,
      s"6 partitions → 6 files expected, got $after")
    // data survives byte-for-byte (partition cols re-read as strings/ints)
    val a = spark.read.parquet(in).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(out).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    assert(a == b, "compaction must not change the data")
    // a tiny target splits files instead of merging to one
    val out2 = java.nio.file.Files.createTempDirectory("graft-split").toString
    val (_, split) = graft.fred.io.LakeIO.compactParquet(
      spark, in, out2, targetBytes = 2048)
    assert(split > 6L, s"tiny target must split: $split files")
  }

  test("compactFragmented: only fragmented partitions rewrite, in place, data identical") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-selcompact").toString
    // two fragmented partitions (25 writers) + one already-compact
    val frag = (0 until 2000)
      .map(i => (s"IND${i % 2}", 2024, 1, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    frag.repartition(25).write.mode("append")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(root)
    val tidy = (10000 until 10100)
      .map(i => ("IND9", 2024, 1, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
    tidy.coalesce(1).write.mode("append")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(root)
    val before = spark.read.parquet(root).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    val tidyDir = graft.fred.io.LakeIO.partitionCensus(spark, root)
      .find(_._1.contains("IND9")).get
    assert(tidyDir._2 == 1L, "tidy partition starts at one file")
    val tidyFiles = new java.io.File(new java.net.URI(tidyDir._1).getPath)
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val (nPart, b, a) = graft.fred.io.LakeIO.compactFragmented(
      spark, root, targetBytes = 64L * 1024 * 1024, minFiles = 5)
    assert(nPart == 2L, s"exactly the two fragmented partitions: $nPart")
    assert(b > 50L && a == 3L, s"50+ files must collapse to 3, got $b -> $a")
    // the tidy partition kept its EXACT file (proves it was never touched)
    val tidyAfter = new java.io.File(new java.net.URI(tidyDir._1).getPath)
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(tidyAfter == tidyFiles, "untouched partition must keep its files")
    val after = spark.read.parquet(root).select("seq", "payload")
      .collect().map(_.toSeq).toSet
    assert(after == before, "in-place compaction must not change the data")
    // no temp/aside residue; idempotent second run is a no-op
    assert(graft.fred.io.LakeIO.partitionCensus(spark, root).forall(
      p => !p._1.contains(".compact")))
    val (n2, b2, a2) = graft.fred.io.LakeIO.compactFragmented(
      spark, root, targetBytes = 64L * 1024 * 1024, minFiles = 5)
    assert(n2 == 0L && b2 == 3L && a2 == 3L, s"second run no-op: $n2 $b2 $a2")
  }

  test("first-ever aggregate run: missing silver root yields empty gold, no throw") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-firstrun").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(Map.empty), tmp)
    // nothing extracted or transformed yet — the reference swallows the
    // missing files into empty frames; aggregate must do the same
    pipe.aggregate("DGS10", Seq(2024))
    var rows = -1L
    pipe.load("DGS10", Seq(2024))(gold => rows = gold.count())
    assert(rows == 0L)
  }

  test("SheetSink.syncAppend: appends only new keys; second sync appends zero") {
    val gold = Seq(
      ("DGS10", 2024, 1, 4.0),
      ("DGS10", 2024, 2, 4.2)
    ).toDF("indicator", "observation_year", "observation_month", "value")
    val sheet = new graft.fred.io.SheetSink.InMemory(gold.schema)
    assert(graft.fred.io.SheetSink.syncAppend(gold, sheet) == 2L)
    assert(sheet.size == 2)
    // idempotence: same frame again → nothing appended
    assert(graft.fred.io.SheetSink.syncAppend(gold, sheet) == 0L)
    assert(sheet.size == 2)
    // a new month flows through; existing keys stay deduplicated
    val withMarch = gold.unionByName(
      Seq(("DGS10", 2024, 3, 4.4)).toDF("indicator", "observation_year", "observation_month", "value"))
    assert(graft.fred.io.SheetSink.syncAppend(withMarch, sheet) == 1L)
    assert(sheet.size == 3)
    // bounded collect: a sheet is not a lake
    intercept[IllegalArgumentException] {
      graft.fred.io.SheetSink.syncAppend(withMarch,
        new graft.fred.io.SheetSink.InMemory(gold.schema), maxAppendRows = 2)
    }
  }

  private val goldCols = Seq("indicator", "observation_year", "observation_month", "value")

  test("SheetSink.syncAppend: one Spark job over a multi-split gold scan and a non-empty sheet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sheet-jobs").toString + "/gold"
    (1 to 6).map(m => ("DGS10", 2024, m, 4.0 + m)).toDF(goldCols: _*)
      .repartition(2).write.parquet(tmp)
    val gold = spark.read.parquet(tmp)
    assert(gold.rdd.getNumPartitions >= 2, "the gold scan must have several splits")
    val sheet = new graft.fred.io.SheetSink.InMemory(gold.schema)
    sheet.append((1 to 3).map(m => Row("DGS10", 2024, m, 4.0 + m)))
    var appended = -1L
    val jobs = sparkJobs { appended = graft.fred.io.SheetSink.syncAppend(gold, sheet) }
    assert(jobs == 1, s"syncAppend ran $jobs Spark jobs")
    assert(appended == 3L)
    assert(sheet.rows.map(_.getInt(2)).sorted == (1 to 6))
  }

  test("SheetSink.syncAppend: the bound holds over all partitions, not per partition") {
    val rows = (1 to 6).map(m => Row("DGS10", 2024, m, 4.0))
    val gold = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      Seq(("DGS10", 2024, 1, 4.0)).toDF(goldCols: _*).schema)
    // two fresh rows per partition, each partition under the bound
    val sheet = new graft.fred.io.SheetSink.InMemory(gold.schema)
    val e = intercept[IllegalArgumentException] {
      graft.fred.io.SheetSink.syncAppend(gold, sheet, maxAppendRows = 5)
    }
    assert(e.getMessage.contains("> 5 rows"), e.getMessage)
    assert(sheet.size == 0, "a refused sync appends nothing")
    assert(graft.fred.io.SheetSink.syncAppend(gold, sheet, maxAppendRows = 6) == 6L)
  }

  test("SheetSink.syncAppend: keys match DedupSync.newRows' anti join; a key type mismatch fails") {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("indicator", StringType),
      StructField("observation_year", IntegerType), StructField("observation_month", IntegerType)))
    def frame(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val onSheet = Seq(Row("DGS10", 2024, 1), Row("DGS10", 2024, null), Row(null, 2024, 2))
    val incoming = frame(Row("DGS10", 2024, 1), Row("DGS10", 2024, null),
      Row(null, 2024, 2), Row("DGS10", 2024, 3))
    val sheet = new graft.fred.io.SheetSink.InMemory(schema)
    sheet.append(onSheet)
    val expected = graft.fred.ops.DedupSync.newRows(incoming, frame(onSheet: _*))
      .collect().toSet
    // a key with a null component never matches, on either side
    assert(expected == Set(Row("DGS10", 2024, null), Row(null, 2024, 2), Row("DGS10", 2024, 3)))
    assert(graft.fred.io.SheetSink.syncAppend(incoming, sheet) == 3L)
    assert(sheet.rows.drop(onSheet.size).toSet == expected)
    // Int on the sheet, Long incoming: a Set lookup would never match
    val e = intercept[IllegalArgumentException] {
      graft.fred.io.SheetSink.syncAppend(
        incoming.withColumn("observation_month", col("observation_month").cast("long")), sheet)
    }
    assert(e.getMessage.contains(
      "'observation_month' is int on the sheet but bigint in the incoming frame"), e.getMessage)
  }

  test("DdlOps: create/rename/add/truncate against the session catalog") {
    val t = s"graft_ddl_test_${System.nanoTime()}"
    DdlOps.createTable(spark, t, Seq(
      "indicator" -> "STRING", "observation_year" -> "INT", "value" -> "DOUBLE"))
    try {
      spark.sql(s"INSERT INTO $t VALUES ('X', 2024, 1.5)")
      DdlOps.renameColumn(spark, t, "value", "avg_value")
      DdlOps.addColumn(spark, t, "note", "STRING")
      val cols = spark.table(t).columns.toSeq
      assert(cols == Seq("indicator", "observation_year", "avg_value", "note"))
      assert(spark.table(t).count() == 1)
      DdlOps.truncate(spark, t)
      assert(spark.table(t).count() == 0)
      intercept[IllegalArgumentException] {
        DdlOps.addColumn(spark, t, "bad; DROP TABLE x", "STRING")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("propagateDelete: erasure heals exactly the touched partitions through the lineage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gdpr").toString
    val fixture = new FredSource.Fixture(Map(
      ("DGS10", 2024, 1) ->
        """{"observations":[{"date":"2024-01-02","value":"3.95"},{"date":"2024-01-03","value":"4.05"}]}""",
      ("DGS10", 2024, 2) ->
        """{"observations":[{"date":"2024-02-01","value":"4.20"}]}""",
      ("UNRATE", 2024, 1) ->
        """{"observations":[{"date":"2024-01-05","value":"3.70"}]}""",
      ("UNRATE", 2024, 2) ->
        """{"observations":[{"date":"2024-02-05","value":"3.90"}]}"""))
    val pipe = new Pipeline(spark, fixture, tmp)
    pipe.runIndicator("DGS10",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())
    pipe.runIndicator("UNRATE",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-29"))(_ => ())

    def checksums(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          p.toString -> java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
        }.toMap
    }
    val before = checksums()

    pipe.propagateDelete("DGS10", 2024, 1)

    // the deleted month is gone through bronze and silver
    assert(!new java.io.File(
      s"$tmp/raw_data/indicator=DGS10/observation_year=2024/observation_month=1").exists())
    assert(!new java.io.File(
      s"$tmp/processed_data/indicator=DGS10/observation_year=2024/observation_month=1").exists())
    // gold re-aggregated from the SURVIVING month only
    val gold = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator", "observation_year", "observation_month", "value")
      .as[(String, Int, Int, Double)].collect().toSet
    assert(gold == Set(("DGS10", 2024, 2, 4.2),
      ("UNRATE", 2024, 1, 3.7), ("UNRATE", 2024, 2, 3.9)), s"got $gold")
    // every file outside the touched partitions is byte-identical:
    // the other indicator entirely, AND the surviving DGS10 bronze/
    // silver month — only the gold (DGS10, 2024) leaf may rewrite
    val after = checksums()
    val untouched = before.keySet.filter { p =>
      !p.contains("indicator=DGS10/observation_year=2024/observation_month=1") &&
      !(p.contains("aggregated_data") && p.contains("indicator=DGS10"))
    }
    untouched.foreach { p =>
      assert(after.get(p).contains(before(p)), s"file rewritten or lost: $p")
    }
    // idempotent: a re-run converges to the same lake state
    pipe.propagateDelete("DGS10", 2024, 1)
    val gold2 = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator", "observation_year", "observation_month", "value")
      .as[(String, Int, Int, Double)].collect().toSet
    assert(gold2 == gold)
    // deleting the year's last month drops the gold leaf outright
    pipe.propagateDelete("DGS10", 2024, 2)
    assert(!new java.io.File(
      s"$tmp/aggregated_data/indicator=DGS10").exists() ||
      new java.io.File(s"$tmp/aggregated_data/indicator=DGS10").list()
        .forall(_.startsWith("observation_year") == false),
      "an emptied year must not leave a stale gold partition")
    val gold3 = spark.read.parquet(s"$tmp/aggregated_data")
      .select("indicator").as[String].collect().toSet
    assert(gold3 == Set("UNRATE"), s"got $gold3")
  }

  /** A copy of the lake at `template`, in a fresh temp directory. */
  private def copyLake(template: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val to = Files.createTempDirectory("graft-lake-copy")
    val walk = Files.walk(Paths.get(template))
    try walk.iterator().asScala.foreach { p =>
      val q = to.resolve(Paths.get(template).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    to.toString
  }

  test("propagateDelete: a crash at any delete of a leaf erase leaves the month whole or gone") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.FaultFs
    val template = Files.createTempDirectory("graft-erase-template").toString
    new Pipeline(spark, new FredSource.Fixture(window), template)
      .extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    // split month 1's one bronze file into one file per row
    val leaf = Paths.get(s"$template/raw_data/indicator=DGS10/observation_year=2024/observation_month=1")
    val files = Files.list(leaf).iterator().asScala.toSeq
    val lines = files.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(Files.readAllLines(_).asScala)
    files.foreach(Files.delete)
    lines.zipWithIndex.foreach { case (l, i) => Files.writeString(leaf.resolve(s"part-$i.json"), l) }
    assert(lines.size == 3)
    def month1Rows(root: String): Long = LakeIO.readBronze(spark, s"$root/raw_data")
      .where(col("observation_month") === 1).count()

    spark.conf.set("fs.file.impl", classOf[FaultFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      /** The lake root after `propagateDelete` of month 1 met `fault`. */
      def eraseWith(fault: String => FaultFs.Fault): (FaultFs.Fault, String) = {
        val root = copyLake(template)
        val f = fault(new org.apache.hadoop.fs.Path(
          s"$root/raw_data/indicator=DGS10/observation_year=2024").toUri.getPath)
        FaultFs.installed = f
        try new Pipeline(spark, new FredSource.Fixture(window), root, retries = 0)
          .propagateDelete("DGS10", 2024, 1)
        catch { case _: Exception if f.tripped => () }
        finally FaultFs.installed = FaultFs.census("/")
        (f, root)
      }
      val (clean, cleanRoot) = eraseWith(FaultFs.census(_, Set("delete")))
      assert(month1Rows(cleanRoot) == 0L)
      val n = clean.count
      assert(n > 3, s"the leaf erase expands to only $n deletes")
      val seen = (1 to n).map { k =>
        val (f, root) = eraseWith(new FaultFs.Fault(Set("delete"), _, k, crash = true))
        assert(f.tripped, s"delete #$k of $n never ran")
        val rows = month1Rows(root)
        assert(rows == 3L || rows == 0L, s"crash at delete #$k of $n left $rows of 3 rows")
        // a re-run heals the crash and converges: the month gone, no trash
        new Pipeline(spark, new FredSource.Fixture(window), root, retries = 0)
          .propagateDelete("DGS10", 2024, 1)
        assert(month1Rows(root) == 0L)
        assert(new java.io.File(s"$root/raw_data/indicator=DGS10/observation_year=2024")
          .list().forall(!_.startsWith(".")), s"crash at delete #$k left trash")
        rows
      }.toSet
      assert(seen == Set(0L, 3L), s"the crash points must fall both before and after the commit: $seen")
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** Crashes `write` at each create, mkdirs, rename and delete under
    * `layer` of a copy of the lake at `template`, one point per copy.
    * After `healPartitionSwaps` the layer must read exactly its rows
    * before or after the write (never short, never unreadable), and a
    * re-run of the write must read after with no swap aside left.
    * Returns which of the two each crash point read. */
  private def lakeWriteCrashMatrix(template: String, layer: String,
      write: Pipeline => Unit): Set[String] = {
    import graft.FaultFs
    import scala.jdk.CollectionConverters._
    // every column but the run's own stamps, which differ per run
    def rows(root: String): Seq[String] = spark.read.parquet(s"$root/$layer")
      .select("indicator", "observation_year", "observation_month", "value",
        "observation_count").collect().map(_.toString).sorted.toSeq
    def dotDirs(root: String): Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/$layer"))
      try walk.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.startsWith(".")).toSeq
      finally walk.close()
    }
    def pipe(root: String) = new Pipeline(spark, new FredSource.Fixture(window), root, retries = 0)
    val before = rows(template)
    spark.conf.set("fs.file.impl", classOf[FaultFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      /** A copy of the template after `write` met `fault`. */
      def writeWith(fault: String => FaultFs.Fault): (FaultFs.Fault, String) = {
        val root = copyLake(template)
        val f = fault(new org.apache.hadoop.fs.Path(s"$root/$layer").toUri.getPath)
        FaultFs.installed = f
        try write(pipe(root))
        catch { case _: Exception if f.tripped => () }
        finally FaultFs.installed = FaultFs.census("/")
        (f, root)
      }
      val (clean, cleanRoot) = writeWith(FaultFs.census(_))
      val after = rows(cleanRoot)
      assert(after != before, "the write must change the layer")
      assert(dotDirs(cleanRoot).isEmpty, s"a clean write left ${dotDirs(cleanRoot)}")
      val n = clean.count
      (1 to n).map { k =>
        val (f, root) = writeWith(new FaultFs.Fault(FaultFs.Verbs, _, k, crash = true))
        assert(f.tripped, s"mutation #$k of $n never ran")
        LakeIO.healPartitionSwaps(spark, s"$root/$layer")
        val got = rows(root)
        assert(got == before || got == after,
          s"crash at mutation #$k of $n read $got; before $before, after $after")
        write(pipe(root))
        assert(rows(root) == after, s"re-run after crash #$k of $n")
        assert(!dotDirs(root).exists(_.contains(".swap_")), s"crash #$k left ${dotDirs(root)}")
        if (got == before) "before" else "after"
      }.toSet
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("lake writes: a crash at any mutation of aggregate's gold rewrite leaves the partition whole") {
    val template = java.nio.file.Files.createTempDirectory("graft-gold-template").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window), template)
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    pipe.transform("DGS10", Seq(2024))
    // the live DGS10 2024 gold partition: other values, in two files
    val stale = graft.fred.ops.YearlyGold.toGold(spark.read.parquet(pipe.silverRoot))
      .withColumn("value", col("value") + 100)
    Seq(col("observation_month") === 1, col("observation_month") =!= 1).foreach { m =>
      stale.where(m).coalesce(1).write.mode("append")
        .partitionBy("indicator", "observation_year").parquet(pipe.goldRoot)
    }
    assert(LakeIO.partitionCensus(spark, pipe.goldRoot).map(_._2) == Seq(2L))
    val seen = lakeWriteCrashMatrix(template, "aggregated_data",
      _.aggregate("DGS10", Seq(2024)))
    assert(seen == Set("before", "after"), s"crash points must fall on both sides: $seen")
  }

  test("lake writes: a crash at any mutation of a month's first write, its year new, leaves it whole or absent") {
    val template = java.nio.file.Files.createTempDirectory("graft-silver-template").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window + (("DGS10", 2025, 1) ->
      """{"observations":[{"date":"2025-01-02","value":"4.9"}]}""")), template)
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))
    pipe.extract("DGS10", LocalDate.parse("2025-01-01"), LocalDate.parse("2025-01-31"))
    pipe.transform("DGS10", Seq(2024))
    assert(!new java.io.File(s"${pipe.silverRoot}/indicator=DGS10/observation_year=2025").exists())
    val seen = lakeWriteCrashMatrix(template, "processed_data",
      _.transform("DGS10", Seq(2025)))
    assert(seen == Set("before", "after"), s"crash points must fall on both sides: $seen")
  }

  test("lake writes: a crash at any mutation of a gold erase, the year's last month deleted, leaves the year whole or gone") {
    val template = java.nio.file.Files.createTempDirectory("graft-erase-gold-template").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window + (("DGS10", 2025, 1) ->
      """{"observations":[{"date":"2025-01-02","value":"4.9"}]}""")), template)
    pipe.extract("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-31"))
    pipe.extract("DGS10", LocalDate.parse("2025-01-01"), LocalDate.parse("2025-01-31"))
    pipe.transform("DGS10", Seq(2024, 2025))
    // the 2025 partition keeps gold readable once 2024 is erased
    pipe.aggregate("DGS10", Seq(2024, 2025))
    assert(LakeIO.partitionCensus(spark, pipe.goldRoot).size == 2)
    val seen = lakeWriteCrashMatrix(template, "aggregated_data",
      _.propagateDelete("DGS10", 2024, 1))
    assert(seen == Set("before", "after"), s"crash points must fall on both sides: $seen")
  }

  // ---------------------------------------- job budgets: one job per layer call

  /** A lake holding DGS10's January–March 2024 through gold. */
  private def budgetLake(): Pipeline = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-budget").toString
    val pipe = new Pipeline(spark, new FredSource.Fixture(window), tmp)
    pipe.runIndicator("DGS10", LocalDate.parse("2024-01-01"), LocalDate.parse("2024-03-31"))(_ => ())
    pipe
  }

  test("job budget: transform of a year runs one Spark job") {
    val pipe = budgetLake()
    assert(sparkJobs(pipe.transform("DGS10", Seq(2024))) == 1)
  }

  test("job budget: aggregate of a year runs one Spark job") {
    val pipe = budgetLake()
    assert(sparkJobs(pipe.aggregate("DGS10", Seq(2024))) == 1)
  }

  test("job budget: load into an UpsertSink.write sink runs one Spark job") {
    val pipe = budgetLake()
    val url = "jdbc:derby:memory:graftbudget;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE gold_budget") catch { case _: Exception => () }
      // Derby reserves INDICATOR and VALUE, hence the renamed columns
      conn.createStatement().execute("CREATE TABLE gold_budget (series_id VARCHAR(16), " +
        "observation_year INT, observation_month INT, value_d DOUBLE, " +
        "observation_count BIGINT, ingested_at VARCHAR(40), processed_at VARCHAR(40), " +
        "aggregated_at VARCHAR(40))")
    } finally conn.close()
    val jobs = sparkJobs {
      pipe.load("DGS10", Seq(2024)) { gold =>
        graft.fred.io.UpsertSink.write(gold.withColumnRenamed("indicator", "series_id")
          .withColumnRenamed("value", "value_d"), url, "gold_budget",
          keys = Seq("series_id", "observation_year", "observation_month"),
          sqlBuilder = graft.fred.io.UpsertSink.insertSql)
      }
    }
    assert(jobs == 1, s"load ran $jobs Spark jobs")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM gold_budget")
      rs.next()
      assert(rs.getLong(1) == 3L)
    } finally c.close()
  }

  test("job budget: propagateDelete runs one Spark job, re-deriving gold or erasing its year") {
    val pipe = budgetLake()
    def goldMonths(): Set[Int] = spark.read.parquet(pipe.goldRoot)
      .select("observation_month").as[Int].collect().toSet
    assert(sparkJobs(pipe.propagateDelete("DGS10", 2024, 1)) == 1)
    assert(goldMonths() == Set(2, 3))
    assert(sparkJobs(pipe.propagateDelete("DGS10", 2024, 2)) == 1)
    assert(goldMonths() == Set(3))
    // the year's last month: nothing to re-derive, the gold leaf goes
    assert(sparkJobs(pipe.propagateDelete("DGS10", 2024, 3)) == 1)
    assert(LakeIO.partitionCensus(spark, pipe.goldRoot).isEmpty)
  }

  test("job budget: compactFragmented of a fragmented root runs two Spark jobs") {
    val root = java.nio.file.Files.createTempDirectory("graft-budget-compact").toString
    (0 until 2000).map(i => (s"IND${i % 2}", 2024, 1, i.toLong, s"v$i"))
      .toDF("indicator", "observation_year", "observation_month", "seq", "payload")
      .repartition(25).write.mode("append")
      .partitionBy("indicator", "observation_year", "observation_month")
      .parquet(root)
    var result = (0L, 0L, 0L)
    val jobs = sparkJobs {
      result = LakeIO.compactFragmented(spark, root, targetBytes = 64L * 1024 * 1024, minFiles = 5)
    }
    assert(jobs == 2, s"compactFragmented ran $jobs Spark jobs")
    assert(result._1 == 2L && result._3 == 2L, s"got $result")
    assert(spark.read.parquet(root).count() == 2000L)
  }

  test("jdbcCreateTableSql: reference-shaped serving DDL") {
    val sql = DdlOps.jdbcCreateTableSql("economic_indicators",
      Seq("indicator" -> "TEXT", "observation_year" -> "INT",
        "observation_month" -> "INT", "value" -> "DOUBLE PRECISION"),
      primaryKey = Seq("indicator", "observation_year", "observation_month"))
    assert(sql == "CREATE TABLE IF NOT EXISTS economic_indicators " +
      "(indicator TEXT, observation_year INT, observation_month INT, " +
      "value DOUBLE PRECISION, " +
      "PRIMARY KEY (indicator, observation_year, observation_month))")
  }
}
