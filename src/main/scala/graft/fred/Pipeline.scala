package graft.fred

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fred.io.{FredSource, LakeIO}
import graft.fred.ops.{Clean, Derive, MonthlyAgg, YearlyGold}

/** K — the orchestration layer: the reference's per-indicator DAG
  * `extract >> transform >> aggregate >> load`
  * (`dags/fred_historical_backfill.py:172`) as a plain Scala driver.
  *
  * Each stage is idempotent (per-leaf `Swap` commit of the partitions
  * written / keyed upsert), so re-running any window is safe — the
  * property the reference gets from Airflow `catchup` + overwrite.
  * Indicators never interact until the serving sink, so a real
  * deployment runs [[runIndicator]] for all indicators concurrently;
  * within one indicator the layers are sequential by data dependency.
  */
class Pipeline(spark: SparkSession, source: FredSource, lakeRoot: String,
    retries: Int = 1, retryDelayMs: Long = 5 * 60 * 1000L) {

  def bronzeRoot: String = s"$lakeRoot/raw_data"
  def silverRoot: String = s"$lakeRoot/processed_data"
  def goldRoot: String = s"$lakeRoot/aggregated_data"

  /** The reference DAG's task-retry posture (`fred_historical_backfill
    * .py:48-49`: `retries: 1, retry_delay: 5 minutes`) applied per
    * layer — the layer is the Airflow-task analog. Retrying a layer
    * wholesale is safe BECAUSE every layer is idempotent (partition
    * overwrite / keyed upsert): a re-run after a partial failure
    * converges to the same lake state, never duplicates. Only
    * non-fatal errors retry; the delay is constructor-injectable so
    * tests don't sleep five minutes. */
  private def withRetry[T](layer: String)(body: => T): T = {
    var left = retries
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if left > 0 =>
          left -= 1
          // the first attempt's cause must survive somewhere — without
          // this, a deterministic failure costs the full retry delay
          // and only the SECOND exception ever reaches the caller
          System.err.println(
            s"[pipeline] $layer failed (${e.getClass.getSimpleName}: " +
              s"${e.getMessage}); retrying in ${retryDelayMs} ms, " +
              s"$left retries left")
          if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
      }
    }
    sys.error("unreachable")
  }

  /** Extract one indicator over [start, end] in one Spark job: one
    * month-ranged API call per month (C8) on the driver, bronze shaping
    * (B1-B3, C1-C2), then ONE partitioned JSON-lines write of the whole
    * window (H1). The frame is kept in one partition, so each month leaf
    * holds exactly one file, like the reference's per-month S3 object
    * (`extract_fred_data.py:238-290`), and the write replaces exactly
    * the window's months. Every month is fetched before
    * anything is written: a call writes all of its months or none, and
    * all of them carry the same `ingested_at` stamp. */
  def extract(seriesId: String, start: LocalDate, end: LocalDate): Unit =
    withRetry("extract") {
      val responses = FredSource.monthRanges(start, end).map { case (first, last) =>
        source.fetchMonth(seriesId, first, last)
      }
      val obs = FredSource.observations(spark, responses)
      LakeIO.writeBronze(Derive.toBronze(obs, seriesId).coalesce(1), bronzeRoot)
    }

  /** Transform bronze months of one indicator to silver monthly grain:
    * read the partitioned root with pruning filters (no path
    * arithmetic), clean (B4-B5, C3), group-agg (A1), write (H2).
    *
    * One Spark job, one task: the pruned read is coalesced to one
    * partition (a `coalesce`, not a `repartition`, which would be an
    * exchange), and a single-partition child already satisfies the
    * aggregate's clustering on the group keys, so no exchange is
    * planned and AQE has no map stage to run as a job of its own.
    * Sound at any lake size because the group keys are the bronze leaf
    * keys and one call reads one series' window: FRED's densest series
    * is daily, about 366 rows a year. A scan of many series at once
    * (an all-indicator window) needs its own plan and must not copy
    * this. Each silver leaf is still written by one task, so it is one
    * file; and since extract writes one file per bronze leaf, each
    * group's sum runs in file order as under the exchange plan, so
    * `value` is bit-identical to it. */
  def transform(seriesId: String, years: Seq[Int]): Unit = withRetry("transform") {
    val bronze = LakeIO.readBronze(spark, bronzeRoot)
      .where(col("indicator") === seriesId &&
        col("observation_year").isin(years: _*))
      .coalesce(1)
    val cleaned = Clean.cleanValues(bronze)
      .withColumn("observation_year", col("observation_year").cast("int"))
      .withColumn("observation_month", col("observation_month").cast("int"))
    LakeIO.writeParquet(MonthlyAgg.toSilver(cleaned), silverRoot)
  }

  /** Aggregate silver to gold for given years: the union loop is
    * obviated by one pruned scan (SURVEY §2 E1); round + stamp (C6,
    * B3), write partitioned by (indicator, year). */
  def aggregate(seriesId: String, years: Seq[Int]): Unit = withRetry("aggregate") {
    // first-ever run: no silver root yet → empty silver-shaped frame
    // (the reference's missing-file-to-empty-frame behavior)
    val silver = LakeIO.readParquet(spark, silverRoot, Some(Schemas.silver))
      .where(col("indicator") === seriesId &&
        col("observation_year").isin(years: _*))
    LakeIO.writeParquet(YearlyGold.toGold(silver), goldRoot,
      Seq("indicator", "observation_year"))
  }

  /** Serving load: gold rows for the window, upserted on the natural
    * key (D2/H3) — callers pass a sink function so tests can capture
    * rows while prod wires [[graft.fred.io.UpsertSink.write]]. */
  def load(seriesId: String, years: Seq[Int])(sink: DataFrame => Unit): Unit =
    withRetry("load") {
      sink(LakeIO.readParquet(spark, goldRoot, Some(Schemas.gold))
        .where(col("indicator") === seriesId &&
          col("observation_year").isin(years: _*)))
    }

  /** GDPR / right-to-erasure propagation through the lineage (the
    * reference's bronze→silver→gold derivation implies a keyed delete
    * must re-derive ONLY the affected downstream partitions): drop one
    * indicator-month at bronze, then heal silver and gold.
    *
    *   - bronze + silver: the silver month is a pure function of the
    *     bronze month, so erasure at the source grain IS a leaf drop
    *     at both layers, with no Spark job. A partition-replacing write
    *     cannot express this (an empty re-derivation replaces nothing —
    *     the stale month would survive), which is exactly why deletion
    *     is a first-class verb here and not a re-run of [[transform]].
    *   - gold: the (indicator, year) leaf is replaced by
    *     [[graft.fred.io.LakeIO.replaceLeaves]] with the gold of the
    *     SURVIVING silver months — one pruned scan of that year only,
    *     in one Spark job. When the deleted month was the year's last,
    *     nothing is staged and the same commit erases the leaf; no
    *     probe of the year runs first.
    *
    * Every other partition is untouched (spec-pinned byte-identical):
    * at 100 TB the delete job reads one year of one indicator, never
    * the lake. Idempotent — a re-run finds the leaves gone and
    * re-derives gold to the same content. Row-level (sub-partition)
    * deletes compose from [[graft.fred.io.LakeIO.deleteWhere]] at
    * bronze followed by the same month re-derivation. */
  def propagateDelete(seriesId: String, year: Int, month: Int): Unit =
    withRetry("delete") {
      val conf = spark.sessionState.newHadoopConf()
      // Spark ESCAPES special characters when writing partition
      // directories (space, ':', '%', …) — a leaf built from the raw
      // value would miss those directories and the delete would
      // silently remove nothing while reporting success, a failed
      // right-to-erasure (r15 ADVICE #1). Build the leaf with the
      // same escaping the writer used.
      //
      // An erase commits through Swap with no staged copy: one rename to
      // `.<leaf>.swap_del` hides the whole leaf, so a crash while its
      // files are purged never shows a month with fewer rows. The heal
      // first finishes such a crash.
      def drop(root: String, leaf: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(s"$root/$leaf")
        val fs = p.getFileSystem(conf)
        graft.Swap.heal(fs, p)
        if (!fs.exists(p))
          // absence is legal (idempotent re-run; never-extracted
          // month) but must be VISIBLE: a compliance run diffing this
          // log against its erasure list catches a wrong leaf
          System.err.println(s"[pipeline] delete: no leaf to drop at $p")
        else
          graft.Swap.swap(fs, p,
            new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.never_staged"))
      }
      val yearLeaf = LakeIO.leafPath(
        Seq("indicator" -> seriesId, "observation_year" -> year))
      val monthLeaf = s"$yearLeaf/" +
        LakeIO.leafPath(Seq("observation_month" -> month))
      drop(bronzeRoot, monthLeaf)
      drop(silverRoot, monthLeaf)
      val silverYear = LakeIO
        .readParquet(spark, silverRoot, Some(Schemas.silver))
        .where(col("indicator") === seriesId &&
          col("observation_year") === year)
      LakeIO.replaceLeaves(YearlyGold.toGold(silverYear), goldRoot, Seq(yearLeaf),
        Seq("indicator", "observation_year"))
    }

  /** The full reference DAG for one indicator over a date window. */
  def runIndicator(seriesId: String, start: LocalDate, end: LocalDate)
      (sink: DataFrame => Unit): Unit = {
    val years = (start.getYear to end.getYear).toSeq
    extract(seriesId, start, end)
    transform(seriesId, years)
    aggregate(seriesId, years)
    load(seriesId, years)(sink)
  }
}
