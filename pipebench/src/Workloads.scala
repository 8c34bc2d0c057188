package pipebench

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.time.YearMonth

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Splits, SuffixDedup, TextOps}
import graft.fred.{Pipeline, Schemas}
import graft.fred.io.{LakeIO, SheetSink, UpsertSink}
import graft.fred.ops.{Clean, MonthlyAgg, YearlyGold}

/** What every workload hands the driver loop. */
trait Workload {
  /** Make the inputs; runs once, inside `setup_s`. */
  def setup(): Unit
  /** Untimed per-pass preparation (fresh output directories). */
  def prepare(round: Int): Unit = ()
  /** The timed pass: every call goes through `tracer.call`. */
  def pass(round: Int): Unit
  /** Directories whose data files `lake_files` / `lake_bytes` count. */
  def outputDirs(round: Int): Seq[Path]
  /** Output checks; each returned string is one failed check. */
  def check(round: Int): Seq[String]
  /** Rows a layer delivered outside Spark's file writers, per pass. */
  def rowsDelivered: Map[String, Long] = Map.empty
  def cleanup(round: Int): Unit
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val cores: Int)

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "backfill" => new Backfill(ctx)
    case "catchup" => new Catchup(ctx)
    case "curation" => new Curation(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }

  /** Data files under the given roots: (count, bytes). Hidden files
    * (checksums, markers) and `_SUCCESS` do not count. */
  def census(roots: Seq[Path]): (Long, Long) = {
    val files = roots.filter(Files.exists(_)).flatMap(r =>
      Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_)).filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      })
    (files.size.toLong, files.map(Files.size).sum)
  }
}

/** Shared FRED plumbing: fixtures, the pipeline, the two serving sinks. */
abstract class FredWorkload(ctx: Ctx) extends Workload {
  import ctx._
  protected val DerbyUrl = "jdbc:derby:memory:pipebench;create=true"
  protected var data: Seq[FredInputs.Month] = Nil
  protected lazy val source = FredInputs.fixture(data)
  protected var sheet: SheetSink.InMemory = _
  protected var delivered = Map.empty[String, Long]
  override def rowsDelivered: Map[String, Long] = delivered

  protected def lake(round: Int): Path = work.resolve(s"lake-$round")
  protected def pipeline(round: Int) =
    new Pipeline(spark, source, lake(round).toString, retries = 0, retryDelayMs = 0L)
  protected def table(round: Int) = s"GOLD_R$round"

  protected def sql(statement: String): Unit = {
    val c = DriverManager.getConnection(DerbyUrl)
    try c.createStatement().execute(statement) finally c.close()
  }
  protected def derbyCount(round: Int): Long = {
    val c = DriverManager.getConnection(DerbyUrl)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${table(round)}")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
  protected def createTable(round: Int): Unit =
    // Derby reserves INDICATOR and VALUE, hence the renamed columns
    sql(s"CREATE TABLE ${table(round)} (series_id VARCHAR(32), " +
      "observation_year INT, observation_month INT, value_d DOUBLE, " +
      "observation_count BIGINT, ingested_at VARCHAR(40), " +
      "processed_at VARCHAR(40), aggregated_at VARCHAR(40))")

  /** One serving load of `years` of `id` into each sink. */
  protected def loadBoth(pipe: Pipeline, round: Int, id: String, years: Seq[Int],
      jdbcFilter: DataFrame => DataFrame = identity): Unit = {
    tracer.call("fred.load_sheet") {
      pipe.load(id, years) { gold =>
        add("fred.load_sheet", SheetSink.syncAppend(gold, sheet))
      }
    }
    // the rows Derby received, for the traced run's rows_out
    val before = if (tracer.tracing) derbyCount(round) else 0L
    tracer.call("fred.load_jdbc") {
      pipe.load(id, years) { gold =>
        UpsertSink.write(jdbcFilter(gold)
            .withColumnRenamed("indicator", "series_id")
            .withColumnRenamed("value", "value_d"),
          DerbyUrl, table(round),
          keys = Seq("series_id", "observation_year", "observation_month"),
          sqlBuilder = UpsertSink.insertSql)
      }
    }
    if (tracer.tracing) add("fred.load_jdbc", derbyCount(round) - before)
  }
  private def add(layer: String, n: Long): Unit =
    delivered = delivered.updated(layer, delivered.getOrElse(layer, 0L) + n)

  def outputDirs(round: Int): Seq[Path] =
    Seq("raw_data", "processed_data", "aggregated_data").map(lake(round).resolve)

  override def prepare(round: Int): Unit = {
    delivered = Map.empty
    createTable(round)
  }

  def cleanup(round: Int): Unit = {
    Workload.deleteTree(lake(round))
    sql(s"DROP TABLE ${table(round)}")
  }

  protected def readGold(round: Int): Seq[(String, Int, Int, Double, Long)] = {
    import spark.implicits._
    spark.read.parquet(lake(round).resolve("aggregated_data").toString)
      .select("indicator", "observation_year", "observation_month", "value",
        "observation_count")
      .as[(String, Int, Int, Double, Long)].collect().toSeq
  }

  /** Gold must hold exactly the months of `expected` that kept a valid
    * value, each with its count and the mean to within rounding. */
  protected def checkGold(round: Int, expected: Seq[FredInputs.Month]): Seq[String] = {
    val gold = readGold(round)
    val want = expected.flatMap(m => m.mean.map(mu =>
      (m.series, m.ym.getYear, m.ym.getMonthValue) -> (mu, m.valid.size.toLong))).toMap
    val got = gold.map(g => (g._1, g._2, g._3) -> (g._4, g._5)).toMap
    val errs = Seq.newBuilder[String]
    if (gold.size != got.size) errs += s"gold holds duplicate months (${gold.size} rows)"
    if (got.keySet != want.keySet)
      errs += s"gold months differ: missing ${(want.keySet -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- want.keySet).take(3)}"
    got.foreach { case (k, (v, n)) =>
      want.get(k).foreach { case (mu, count) =>
        if (n != count) errs += s"gold $k observation_count $n, expected $count"
        if ((BigDecimal(v) - mu).abs > BigDecimal("0.005000001"))
          errs += s"gold $k value $v, exact mean $mu"
      }
    }
    errs.result()
  }
}

/** Historical backfill over a fresh lake: every series runs
  * extract → transform → aggregate → load in turn. */
final class Backfill(ctx: Ctx) extends FredWorkload(ctx) {
  import ctx._
  val Months = FredInputs.monthsFrom(YearMonth.of(2023, 1), 2)
  private val years = Months.map(_.getYear).distinct

  def setup(): Unit = { data = FredInputs.generate(seed, Months); source }

  override def prepare(round: Int): Unit = {
    super.prepare(round)
    sheet = new SheetSink.InMemory(Schemas.gold)
  }

  def pass(round: Int): Unit = {
    val pipe = pipeline(round)
    FredInputs.Series.foreach { case (id, _) =>
      tracer.call("fred.extract") {
        pipe.extract(id, Months.head.atDay(1), Months.last.atEndOfMonth)
      }
      tracer.call("fred.transform")(pipe.transform(id, years))
      tracer.call("fred.aggregate")(pipe.aggregate(id, years))
      loadBoth(pipe, round, id, years)
    }
  }

  def check(round: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    errs ++= checkGold(round, data)
    val goldRows = readGold(round).size.toLong
    val bronzeRows = LakeIO.readBronze(spark, lake(round).resolve("raw_data").toString).count()
    val silverValid = spark.read.parquet(lake(round).resolve("processed_data").toString)
      .agg(sum("observation_count")).head().getLong(0)
    val dropped = data.map(m => m.sentinels + m.castDrops).sum
    if (bronzeRows != silverValid + dropped)
      errs += s"bronze rows $bronzeRows != silver observations $silverValid + drops $dropped"
    if (bronzeRows != data.map(_.obs.size).sum)
      errs += s"bronze rows $bronzeRows, generated ${data.map(_.obs.size).sum}"
    if (derbyCount(round) != goldRows)
      errs += s"Derby rows ${derbyCount(round)} != gold rows $goldRows"
    if (sheet.size != goldRows) errs += s"sheet rows ${sheet.size} != gold rows $goldRows"
    val again = SheetSink.syncAppend(
      spark.read.parquet(lake(round).resolve("aggregated_data").toString), sheet)
    if (again != 0) errs += s"second sheet sync appended $again rows"
    errs.result()
  }
}

/** Monthly increments on a lake that already holds history, then one
  * right-to-erasure delete and one compaction of gold. */
final class Catchup(ctx: Ctx) extends FredWorkload(ctx) {
  import ctx._
  val History = FredInputs.monthsFrom(YearMonth.of(2022, 11), 12)
  val Increments = FredInputs.monthsFrom(YearMonth.of(2023, 11), 1)
  private var erased: (String, YearMonth) = _
  private var historyGold: Seq[Row] = Nil
  private def base = work.resolve("base")
  private var compacted: (Long, Long, Long) = (0L, 0L, 0L)
  private val HistoryStamp = "2024-06-01T00:00:00.000000+00:00"

  def setup(): Unit = {
    data = FredInputs.generate(seed, History ++ Increments)
    val rnd = new scala.util.Random(seed)
    erased = (Seq("DGS10", "EFFR")(rnd.nextInt(2)), History(rnd.nextInt(History.size)))
    source
    // History: bronze as the JSON lines extract would have written,
    // one file per partition; silver and gold derived from it with the
    // pipeline's own operators in two whole-lake writes.
    val history = data.filter(m => History.contains(m.ym))
    history.foreach { m =>
      val leaf = base.resolve(s"raw_data/indicator=${m.series}/" +
        s"observation_year=${m.ym.getYear}/observation_month=${m.ym.getMonthValue}")
      Files.createDirectories(leaf)
      Files.write(leaf.resolve("part-00000-history.json"), m.obs.map(o =>
        s"""{"observation_date":"${o.date}","value":"${o.value}",""" +
          s""""ingested_at":"$HistoryStamp"}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val silver = MonthlyAgg.toSilver(Clean.cleanValues(
      LakeIO.readBronze(spark, base.resolve("raw_data").toString)
        .withColumn("observation_year", col("observation_year").cast("int"))
        .withColumn("observation_month", col("observation_month").cast("int"))))
    LakeIO.writeParquet(silver.repartition(LakeIO.PartitionCols.map(col): _*),
      base.resolve("processed_data").toString)
    val gold = YearlyGold.toGold(spark.read.parquet(base.resolve("processed_data").toString))
      .repartition(col("indicator"), col("observation_year"))
    LakeIO.writeParquet(gold, base.resolve("aggregated_data").toString,
      Seq("indicator", "observation_year"))
    // the sheet already serves the history; it dedups on the key only
    historyGold = history.filter(_.valid.nonEmpty).map(m => Row(m.series,
      m.ym.getYear, m.ym.getMonthValue, m.mean.get.toDouble, m.valid.size.toLong,
      HistoryStamp, HistoryStamp, HistoryStamp))
  }

  override def prepare(round: Int): Unit = {
    super.prepare(round)
    Workload.copyTree(base, lake(round))
    sheet = new SheetSink.InMemory(Schemas.gold)
    sheet.append(historyGold)
  }

  def pass(round: Int): Unit = {
    val pipe = pipeline(round)
    Increments.foreach { ym =>
      FredInputs.Series.foreach { case (id, _) =>
        tracer.call("fred.extract")(pipe.extract(id, ym.atDay(1), ym.atEndOfMonth))
        tracer.call("fred.transform")(pipe.transform(id, Seq(ym.getYear)))
        tracer.call("fred.aggregate")(pipe.aggregate(id, Seq(ym.getYear)))
        loadBoth(pipe, round, id, Seq(ym.getYear),
          _.where(col("observation_month") === ym.getMonthValue))
      }
    }
    tracer.call("fred.delete") {
      pipe.propagateDelete(erased._1, erased._2.getYear, erased._2.getMonthValue)
    }
    tracer.call("lake.compact") {
      compacted = LakeIO.compactFragmented(spark,
        lake(round).resolve("aggregated_data").toString,
        targetBytes = 128L << 20, minFiles = 1,
        partitionCols = Seq("indicator", "observation_year"))
    }
  }

  /** Rows per partition leaf of one layer. */
  private def leafCounts(df: DataFrame, keys: Seq[String]): Map[Seq[String], Long] =
    df.groupBy(keys.map(col): _*).count().collect()
      .map(r => keys.indices.map(i => String.valueOf(r.get(i))) -> r.getLong(keys.size)).toMap

  def check(round: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val kept = data.filterNot(m => (m.series, m.ym) == erased)
    errs ++= checkGold(round, kept)
    val leaf = LakeIO.PartitionCols
    def key(m: FredInputs.Month) =
      Seq(m.series, m.ym.getYear.toString, m.ym.getMonthValue.toString)
    val bronze = leafCounts(
      LakeIO.readBronze(spark, lake(round).resolve("raw_data").toString), leaf)
    val wantBronze = kept.map(m => key(m) -> m.obs.size.toLong).toMap
    if (bronze != wantBronze) errs += s"bronze partition rows differ from expected " +
      s"(${(bronze.toSet diff wantBronze.toSet).take(3)})"
    val silver = leafCounts(
      spark.read.parquet(lake(round).resolve("processed_data").toString), leaf)
    val wantSilver = kept.filter(_.valid.nonEmpty).map(m => key(m) -> 1L).toMap
    if (silver != wantSilver) errs += s"silver partition rows differ from expected " +
      s"(${(silver.toSet diff wantSilver.toSet).take(3)})"
    val goldLeaves = Workload.census(Seq(lake(round).resolve("aggregated_data")))._1
    val want = kept.filter(_.valid.nonEmpty).map(m => (m.series, m.ym.getYear)).distinct.size
    if (compacted._1 <= 0 || compacted._3 >= compacted._2 || goldLeaves != want)
      errs += s"compaction $compacted left $goldLeaves gold files for $want partitions"
    val incr = data.count(m => Increments.contains(m.ym) && m.valid.nonEmpty).toLong
    if (derbyCount(round) != incr) errs += s"Derby rows ${derbyCount(round)}, expected $incr"
    if (delivered.getOrElse("fred.load_sheet", 0L) != incr)
      errs += s"sheet appended ${delivered.getOrElse("fred.load_sheet", 0L)}, expected $incr"
    errs.result()
  }
}

/** Corpus curation through staged Parquet layers: gate → exact dedup
  * → near dedup → substring-span removal → split. */
final class Curation(ctx: Ctx) extends Workload {
  import ctx._
  val Docs = 800
  val Salt = "pipebench"
  private var docs: IndexedSeq[Corpus.Doc] = _
  private def corpus = work.resolve("corpus.parquet")
  private def out(round: Int) = work.resolve(s"curated-$round")
  private val Stages = Seq("gated", "exact", "near", "substring", "split")
  private def stage(round: Int, s: String) = out(round).resolve(s).toString

  def setup(): Unit = {
    docs = Corpus.generate(seed, Docs)
    spark.createDataFrame(docs.map(d => (d.id, d.text)))
      .toDF("doc_id", "text").repartition(cores)
      .write.parquet(corpus.toString)
  }

  def pass(round: Int): Unit = {
    def read(s: String) = spark.read.parquet(stage(round, s))
    tracer.call("ext.gate") {
      spark.read.parquet(corpus.toString)
        .filter(TextOps.gopherKeep(col("text")))
        .write.parquet(stage(round, "gated"))
    }
    tracer.call("ext.exact_dedup") {
      val gated = read("gated")
      val keep = Dedup.exactGroups(gated, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      gated.join(keep, Seq("doc_id"), "left_semi").write.parquet(stage(round, "exact"))
    }
    tracer.call("ext.near_dedup") {
      val exact = read("exact")
      val keep = Dedup.minhashClusters(exact, "doc_id", "text")
        .filter(col("doc") === col("cluster")).select(col("doc").as("doc_id"))
      exact.join(keep, Seq("doc_id"), "left_semi").write.parquet(stage(round, "near"))
    }
    tracer.call("ext.substring") {
      SuffixDedup.duplicatedSpansApply(read("near"), "doc_id", "text", minTokens = 5)
        .write.parquet(stage(round, "substring"))
    }
    tracer.call("ext.split") {
      Splits.assign(read("substring"), "doc_id", Seq("train" -> 90, "val" -> 10), Salt)
        .select("doc_id", "n_tokens", "n_removed", "text_dedup", "split")
        .write.parquet(stage(round, "split"))
    }
  }

  def outputDirs(round: Int): Seq[Path] = Stages.map(s => Paths.get(stage(round, s)))

  def check(round: Int): Seq[String] = {
    import spark.implicits._
    val errs = Seq.newBuilder[String]
    def ids(s: String) = spark.read.parquet(stage(round, s)).select("doc_id")
      .as[Long].collect().toSet
    val gated = ids("gated")
    val wantGated = docs.filter(_.kind != "short").map(_.id).toSet
    if (gated != wantGated) errs += s"gate kept ${gated.size} docs, expected ${wantGated.size}"
    val exact = ids("exact")
    val wantExact = docs.filter(d => wantGated(d.id)).groupBy(_.text).values
      .map(_.map(_.id).min).toSet
    if (exact.size != wantExact.size || exact != wantExact)
      errs += s"exact dedup kept ${exact.size}, distinct gated texts ${wantExact.size}"
    val near = ids("near")
    if (!near.subsetOf(exact) || near.size >= exact.size)
      errs += s"near dedup kept ${near.size} of ${exact.size}, not a strict subset"
    val text = docs.map(d => d.id -> d.text).toMap
    val split = spark.read.parquet(stage(round, "split"))
      .select("doc_id", "n_tokens", "n_removed", "text_dedup", "split")
      .as[(Long, Int, Int, String, String)].collect()
    if (split.map(_._1).toSet != near) errs += "split rows are not the near-dedup survivors"
    if (split.map(_._3).sum <= 0) errs += "substring removal removed no tokens"
    split.foreach { case (id, nTok, nRem, dedup, s) =>
      if (nTok != Corpus.tokens(text(id)))
        errs += s"doc $id n_tokens $nTok, text has ${Corpus.tokens(text(id))}"
      if (nTok - nRem != Corpus.tokens(dedup))
        errs += s"doc $id n_tokens - n_removed = ${nTok - nRem}, text_dedup has ${Corpus.tokens(dedup)}"
      val want = if (Corpus.bucket(id, Salt) < 90) "train" else "val"
      if (s != want) errs += s"doc $id split $s, md5 bucket says $want"
    }
    errs.result().take(20)
  }

  def cleanup(round: Int): Unit = Workload.deleteTree(out(round))
}
