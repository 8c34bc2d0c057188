package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incremental doc-novelty state (r16 VERDICT #3/#4): the saved
  * (g, doc_count, batch_id) signed-partials index, its one-probe batch
  * novelty, the counted-decrement erasure, and the streaming wiring.
  */
class DfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val p = "alpha beta gamma delta epsilon zeta"
  private val corpus = Seq(
    (1L, s"the quick brown fox jumps $p over lazy dogs"),
    (2L, "an entirely different body of plain text with its own words"),
    (3L, "short one"))                      // under the gram floor → 0/0/0.0
  private val batch = Seq(
    (10L, s"later arrival copies $p verbatim plus fresh trailing words"),
    (11L, "wholly new content sharing nothing with anything else here"),
    (12L, "tiny"))                          // gramless batch doc

  private def novelty(rows: Seq[(Long, String)]) =
    Dedup.gramNovelty(rows.toDF("doc_id", "text"), "doc_id", "text", n = 5)
  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("n_grams"), col("n_unique_grams"),
        col("novelty"))
      .as[(Long, Long, Long, Double)].collect().toSet

  test("equality theorem: incremental novelty over an in-memory df index ≡ full-corpus novelty restricted to the batch") {
    val idx = Dedup.gramDfIndex(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 5)
      .withColumn("batch_id", lit(0L))
    val inc = collect(Dedup.gramNoveltyIncremental(
      batch.toDF("doc_id", "text"), idx, "doc_id", "text", n = 5,
      batchId = 1L))
    val full = collect(novelty(corpus ++ batch)
      .filter(col("doc_id") >= 10L))
    assert(inc == full, s"inc=$inc\nfull=$full")
    // the shared passage must be non-novel for the batch re-user and
    // the gramless doc must report the 0/0/0.0 spine row
    assert(inc.exists(r => r._1 == 10L && r._3 < r._2))
    assert(inc.contains((12L, 0L, 0L, 0.0)))
  }

  test("saved bucketed df index: per-batch stream output ≡ full recompute; counted fold skips a replayed batch") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_df_idx").toString
    val (dfRoot, outRoot) = (tmp + "/dfidx", tmp + "/out")
    try {
      graft.streaming.CorpusStreams.docNoveltyBatch(
        corpus.toDF("doc_id", "text"), 0L, dfRoot, outRoot, n = 5)
      graft.streaming.CorpusStreams.docNoveltyBatch(
        batch.toDF("doc_id", "text"), 1L, dfRoot, outRoot, n = 5)
      def readOut(id: Long) = collect(
        spark.read.parquet(outRoot).filter(col("batch_id") === id))
      // batch k's partition ≡ gramNovelty(everything so far) restricted
      // to batch k — including batch 0 against the empty cold start
      assert(readOut(0L) == collect(novelty(corpus)))
      assert(readOut(1L) ==
        collect(novelty(corpus ++ batch).filter(col("doc_id") >= 10L)))
      // at-least-once replay: the counted fold is NOT idempotent, so
      // the batch-id stamp must skip it — state and output unchanged
      val before = Dedup.savedDfIndexBucketed(spark, dfRoot)
        .groupBy().agg(count(lit(1)), sum(col("doc_count")))
        .as[(Long, Long)].head()
      graft.streaming.CorpusStreams.docNoveltyBatch(
        batch.toDF("doc_id", "text"), 1L, dfRoot, outRoot, n = 5)
      val after = Dedup.savedDfIndexBucketed(spark, dfRoot)
        .groupBy().agg(count(lit(1)), sum(col("doc_count")))
        .as[(Long, Long)].head()
      assert(before == after, s"replay must fold nothing: $before -> $after")
      assert(readOut(1L) ==
        collect(novelty(corpus ++ batch).filter(col("doc_id") >= 10L)))
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${Dedup.dfIndexTableName(dfRoot)}")
  }

  test("erasure decrements exactly: a re-ingested copy's novelty ≡ a from-scratch build over the survivors; same eraseId re-run appends nothing") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_df_erase").toString
    val dfRoot = tmp + "/dfidx"
    try {
      Dedup.updateSavedDfIndex(dfRoot, corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 0L)
      // right-to-erasure for doc 1 (the passage's only holder so far)
      val deleted = corpus.filter(_._1 == 1L)
      val survivors = corpus.filter(_._1 != 1L)
      Dedup.deleteDocsFromSavedDfIndex(dfRoot,
        deleted.toDF("doc_id", "text"), "doc_id", "text", n = 5,
        eraseId = 0L)
      // a fresh batch re-ingesting a COPY of the deleted doc's text:
      // its grams are no longer "seen", so its novelty must equal the
      // from-scratch answer over survivors ∪ batch
      val reBatch = Seq((20L, deleted.head._2), (21L, batch(1)._2))
      val inc = collect(Dedup.gramNoveltyIncremental(
        reBatch.toDF("doc_id", "text"),
        Dedup.savedDfIndexBucketed(spark, dfRoot), "doc_id", "text",
        n = 5, batchId = 1L))
      val fromScratch = collect(novelty(survivors ++ reBatch)
        .filter(col("doc_id") >= 20L))
      assert(inc == fromScratch, s"inc=$inc\nfromScratch=$fromScratch")
      // the deleted doc's content is fully novel again
      assert(inc.exists(r => r._1 == 20L && r._2 == r._3 && r._2 > 0))
      // a re-delivered erasure with the same stamp appends nothing
      val before = Dedup.savedDfIndexBucketed(spark, dfRoot).count()
      Dedup.deleteDocsFromSavedDfIndex(dfRoot,
        deleted.toDF("doc_id", "text"), "doc_id", "text", n = 5,
        eraseId = 0L)
      assert(Dedup.savedDfIndexBucketed(spark, dfRoot).count() == before)
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${Dedup.dfIndexTableName(dfRoot)}")
  }

  test("compaction: partials below the horizon collapse to one net row per gram; probes, later folds and erasures unchanged") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_df_compact").toString
    val dfRoot = tmp + "/dfidx"
    try {
      Dedup.updateSavedDfIndex(dfRoot, corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 0L)
      Dedup.updateSavedDfIndex(dfRoot, batch.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 1L)
      // erase doc 2 (stamp −1) so the compaction must net erasures too
      Dedup.deleteDocsFromSavedDfIndex(dfRoot,
        corpus.filter(_._1 == 2L).toDF("doc_id", "text"),
        "doc_id", "text", n = 5, eraseId = 0L)
      val probe = Seq((30L, corpus.head._2), (31L, "wholly novel closing words never seen anywhere before"))
      def probeNovelty() = collect(Dedup.gramNoveltyIncremental(
        probe.toDF("doc_id", "text"),
        Dedup.savedDfIndexBucketed(spark, dfRoot), "doc_id", "text",
        n = 5, batchId = 5L))
      val before = probeNovelty()
      Dedup.compactSavedDfIndex(spark, dfRoot, upToBatchId = 2L)
      val state = Dedup.savedDfIndexBucketed(spark, dfRoot)
      // every surviving row is the single net per-gram partial at the
      // horizon stamp; zero-net grams (the erased doc's unique grams)
      // are gone
      assert(state.filter(col("batch_id") =!= 1L).isEmpty)
      assert(state.groupBy("g").count().filter(col("count") > 1).isEmpty)
      assert(state.filter(col("doc_count") === 0).isEmpty)
      assert(probeNovelty() == before, "compaction must not move probes")
      // the state keeps working: a post-horizon fold and a fresh
      // erasure still produce the exact from-scratch answer
      val b2 = Seq((40L, "a third wave of entirely fresh material arrives now"))
      Dedup.updateSavedDfIndex(dfRoot, b2.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 2L)
      Dedup.deleteDocsFromSavedDfIndex(dfRoot,
        corpus.filter(_._1 == 1L).toDF("doc_id", "text"),
        "doc_id", "text", n = 5, eraseId = 1L)
      val survivors = corpus.filter(_._1 == 3L) ++ batch ++ b2
      val reBatch = Seq((50L, corpus.head._2))
      val inc = collect(Dedup.gramNoveltyIncremental(
        reBatch.toDF("doc_id", "text"),
        Dedup.savedDfIndexBucketed(spark, dfRoot), "doc_id", "text",
        n = 5, batchId = 9L))
      assert(inc == collect(novelty(survivors ++ reBatch)
        .filter(col("doc_id") >= 50L)), s"post-compaction erase: $inc")
      // the horizon pinned at upToBatchId − 1, rode the swap, and
      // rejects as-of probes at or below it (they would read every
      // gram as absent — falsely novel — instead of failing)
      assert(Dedup.savedDfIndexCompactionHorizon(spark, dfRoot)
        .contains(1L))
      val e = intercept[IllegalArgumentException] {
        Dedup.requireProbeAboveDfHorizon(spark, dfRoot, batchId = 1L)
      }
      assert(e.getMessage.contains("horizon"), e.getMessage)
      Dedup.requireProbeAboveDfHorizon(spark, dfRoot, batchId = 2L)
      Dedup.requireProbeAboveDfHorizon(spark, dfRoot, Long.MaxValue)
      // monotone: a re-compaction with a LOWER upToBatchId cannot
      // move the horizon backwards (rows at the old horizon persist)
      Dedup.compactSavedDfIndex(spark, dfRoot, upToBatchId = 1L)
      assert(Dedup.savedDfIndexCompactionHorizon(spark, dfRoot)
        .contains(1L), "the horizon must never move backwards")
      // the streaming body rejects a stale batch id BEFORE probing —
      // a checkpoint reset against a compacted state must not land a
      // falsely-all-novel output partition
      intercept[IllegalArgumentException] {
        graft.streaming.CorpusStreams.docNoveltyBatch(
          probe.toDF("doc_id", "text"), batchId = 1L, dfRoot,
          tmp + "/out", n = 5)
      }
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${Dedup.dfIndexTableName(dfRoot)}")
  }

  test("gram-size guard: mismatched n fails loudly everywhere; legacy unmarked roots refuse; probes validate before landing output") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_df_guard").toString
    val dfRoot = tmp + "/dfidx"
    try {
      Dedup.updateSavedDfIndex(dfRoot, corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 0L)
      // fold and erasure with the wrong n both refuse
      val foldErr = intercept[IllegalArgumentException] {
        Dedup.updateSavedDfIndex(dfRoot, batch.toDF("doc_id", "text"),
          "doc_id", "text", n = 7, batchId = 1L)
      }
      assert(foldErr.getMessage.contains("built with n=5"))
      val eraseErr = intercept[IllegalArgumentException] {
        Dedup.deleteDocsFromSavedDfIndex(dfRoot,
          corpus.take(1).toDF("doc_id", "text"), "doc_id", "text", n = 7,
          eraseId = 0L)
      }
      assert(eraseErr.getMessage.contains("built with n=5"))
      // the PROBE validates too, BEFORE the wrong report lands on disk
      val outRoot = tmp + "/out"
      val probeErr = intercept[IllegalArgumentException] {
        graft.streaming.CorpusStreams.docNoveltyBatch(
          batch.toDF("doc_id", "text"), 1L, dfRoot, outRoot, n = 7)
      }
      assert(probeErr.getMessage.contains("built with n=5"))
      assert(!new java.io.File(outRoot).exists(),
        "a mismatched-n probe must not land an all-novel partition")
      // a legacy data-bearing root with NO marker refuses instead of
      // pinning the caller's unverified n over existing counts (this
      // check runs before the bucket-layout one)
      val legacyRoot = tmp + "/legacy"
      spark.read.parquet(dfRoot).write.parquet(legacyRoot)
      val legacyErr = intercept[IllegalArgumentException] {
        Dedup.updateSavedDfIndex(legacyRoot, batch.toDF("doc_id", "text"),
          "doc_id", "text", n = 5, batchId = 1L)
      }
      assert(legacyErr.getMessage.contains("predates the gram-size marker"))
      // the pinned marker itself is immutable
      val path = new org.apache.hadoop.fs.Path(dfRoot)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      val overwriteErr = intercept[IllegalArgumentException] {
        SuffixDedup.writeMarkerAtomic(fs, path, "_graft_gram_n", "9")
      }
      assert(overwriteErr.getMessage.contains("immutable"))
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${Dedup.dfIndexTableName(dfRoot)}")
  }

  test("propagateDocDelete wires the df-index leg: a re-ingested copy of the deleted doc is novel again") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_df_erase_wiring").toString
    val (fpRoot, gramRoot, dfRoot) =
      (tmp + "/fp", tmp + "/grams", tmp + "/dfidx")
    try {
      Dedup.updateSavedDfIndex(dfRoot, corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 5, batchId = 0L)
      graft.streaming.CorpusStreams.curateBatch(
        corpus.toDF("doc_id", "text"), 0L, fpRoot, gramRoot,
        tmp + "/out", minWords = 3, minTokens = 5, minKeepTokens = 1)
      val deleted = corpus.filter(_._1 == 1L)
      val survivors = corpus.filter(_._1 != 1L)
      graft.streaming.CorpusStreams.propagateDocDelete(
        deleted.toDF("doc_id", "text"), fpRoot, gramRoot, minTokens = 5,
        survivors = Some(survivors.toDF("doc_id", "text")),
        dfErase = Some((dfRoot, 7L)), dfN = 5)
      val reBatch = Seq((20L, deleted.head._2))
      val inc = collect(Dedup.gramNoveltyIncremental(
        reBatch.toDF("doc_id", "text"),
        Dedup.savedDfIndexBucketed(spark, dfRoot), "doc_id", "text", n = 5,
        batchId = 1L))
      assert(inc == collect(novelty(survivors ++ reBatch)
        .filter(col("doc_id") >= 20L)), s"df-leg erase diverged: $inc")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${Dedup.dfIndexTableName(dfRoot)}")
      Seq(fpRoot, gramRoot).foreach { r =>
        spark.sql(
          s"DROP TABLE IF EXISTS ${SuffixDedup.gramIndexTableName(r)}")
      }
    }
  }
}
