package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.ext.{Dedup, SeriesOps, Similarity}
import graft.fred.ops.{Clean, DedupSync, Merge, MonthlyAgg}

/** B6 — the reference guards every stage against empty inputs
  * (`transform_fred_data.py:112-114` etc.). Spark relations handle
  * empties structurally; these specs pin that every operator yields an
  * empty, correctly-shaped result rather than throwing — the property
  * that lets the pipeline run on months with no observations and
  * corpora with no candidates.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDf(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  test("clean + monthly agg on an empty bronze frame") {
    val bronze = emptyDf(
      "indicator" -> StringType, "observation_year" -> IntegerType,
      "observation_month" -> IntegerType, "value" -> StringType,
      "ingested_at" -> StringType)
    val out = MonthlyAgg.aggregate(Clean.cleanValues(bronze))
    assert(out.isEmpty)
    assert(out.columns.toSeq ==
      Seq("indicator", "observation_year", "observation_month",
        "value", "observation_count", "ingested_at"))
  }

  test("merge/dedup-sync with one side empty") {
    val rows = Seq(("k1", 1, "v")).toDF("k", "seq", "v")
    val empty = rows.limit(0)
    assert(Merge.upsert(rows, empty, Seq("k"), Seq(col("seq").desc)).count() == 1)
    assert(Merge.upsert(empty, rows, Seq("k"), Seq(col("seq").desc)).count() == 1)
    assert(DedupSync.newRows(rows, empty, Seq("k")).count() == 1)
    assert(DedupSync.newRows(empty, rows, Seq("k")).isEmpty)
  }

  test("dedup family on an empty corpus") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    assert(Dedup.exactGroups(docs, "doc_id", "text").isEmpty)
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).isEmpty)
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text").isEmpty)
    assert(Dedup.simhashPairs(docs, "doc_id", "text").isEmpty)
    assert(Dedup.winnowingContainmentPairs(docs, "doc_id", "text").isEmpty)
    assert(Dedup.exactSubstrSpans(docs, "doc_id", "text", 5).isEmpty)
    assert(Dedup.exactSubstrApply(docs, "doc_id", "text", 5).isEmpty)
  }

  test("curation/packing/range ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val someDocs = Seq((1L, "real document text here")).toDF("doc_id", "text")
    // decontam: empty bench flags nothing; empty train yields nothing
    assert(graft.ext.Decontam.overlapStats(someDocs, docs, "doc_id", "text").isEmpty)
    assert(graft.ext.Decontam.clean(someDocs, docs, "doc_id", "text").count() == 1)
    assert(graft.ext.Decontam.clean(docs, someDocs, "doc_id", "text").isEmpty)
    assert(graft.ext.Dedup.newAgainstReference(docs, someDocs, "doc_id", "text").isEmpty)
    assert(graft.ext.Dedup.newAgainstReference(someDocs, docs, "doc_id", "text").count() == 1)
    // splits/packing/vocab on empty frames: empty, correctly-shaped
    val es = graft.ext.Splits.assign(docs, "doc_id", Seq("a" -> 50, "b" -> 50))
    assert(es.isEmpty && es.columns.contains("split"))
    val ep = graft.ext.Packing.packByBudget(
      emptyDf("doc_id" -> LongType, "g" -> StringType, "n" -> IntegerType),
      Seq("g"), Seq("doc_id"), col("n"), 512)
    assert(ep.isEmpty && ep.columns.contains("pack_id"))
    assert(graft.ext.TextOps.vocabTopK(docs, "text", 10).isEmpty)
    assert(graft.ext.TextOps.repetitionSignals(docs).isEmpty)
    // interval join with either side empty
    val pts = emptyDf("k" -> StringType, "t" -> LongType)
    val ivs = emptyDf("k" -> StringType, "lo" -> LongType, "hi" -> LongType)
    assert(graft.operators.RangeJoin.pointInInterval(pts, ivs, "t", "lo", "hi", Seq("k")).isEmpty)
  }

  test("similarity and series ops on empty inputs") {
    val vecs = emptyDf("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType))
    assert(Similarity.topK(vecs, vecs, "vec_id", "embedding", 5).isEmpty)
    val series = emptyDf("indicator" -> StringType, "t" -> IntegerType,
      "value" -> DoubleType)
    assert(SeriesOps.periodChange(series, Seq("indicator"), Seq("t")).isEmpty)
    assert(SeriesOps.asofJoin(series, series, Seq("indicator"), "t", "value").isEmpty)
  }

  test("round-8 ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val someDocs = Seq((1L, "real document text here")).toDF("doc_id", "text")
    // gopher / token stats: empty, correctly-shaped
    val gs = graft.ext.TextOps.gopherSignals(docs)
    assert(gs.isEmpty && gs.columns.contains("keep"))
    assert(graft.ext.TextOps.tokenStats(docs).isEmpty)
    // bloom decontam: empty bench flags nothing; empty train flags nothing
    assert(graft.ext.Decontam.overlapStatsBloom(someDocs, docs,
      "doc_id", "text", n = 3, mBits = 1 << 10).isEmpty)
    assert(graft.ext.Decontam.overlapStatsBloom(docs, someDocs,
      "doc_id", "text", n = 3, mBits = 1 << 10).isEmpty)
    // multimodal planning: empty in, empty out with the right columns
    val rp = graft.ext.MultiModal.resizePlan(docs)
    assert(rp.isEmpty && rp.columns.contains("n_bytes_out"))
    assert(graft.ext.MultiModal.frameSamplePlan(docs).isEmpty)
    // z-order stats: empty frame → empty stats (bounds agg yields one
    // all-null row that must not fabricate a bucket)
    val zs = graft.operators.ZOrder.rangeStats(
      emptyDf("x" -> LongType, "y" -> LongType), "x", "y")
    assert(zs.isEmpty && zs.columns.contains("z_min"))
    // LSH exhaustive anchor on an empty vector set
    assert(graft.ext.VectorLsh.cosinePairsExhaustive(
      emptyDf("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      "vec_id", "embedding", threshold = 0.5).isEmpty)
  }

  test("bigram LM ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val lm = graft.ext.TextOps.lmSurprisal(docs)
    assert(lm.isEmpty && lm.columns.sameElements(Array("doc_id",
      "n_bigrams", "sum_bits", "n_rare", "bits_per_bigram", "rare_ratio")))
    val dw = graft.ext.TextOps.dsirWeights(docs, lit(true))
    assert(dw.isEmpty && dw.columns.sameElements(Array("doc_id",
      "n_bigrams", "n_scored", "n_oov_target", "n_oov_source",
      "weight_bits", "mean_weight")))
    // an all-empty-text corpus trains an empty LM but keeps every doc
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val lmB = graft.ext.TextOps.lmSurprisal(blank)
    assert(lmB.count() == 2 &&
      lmB.filter(col("n_bigrams") === 0).count() == 2)
    // one-sided DSIR: empty target slice → everything OOV-target or
    // unscored, nothing throws
    val dwB = graft.ext.TextOps.dsirWeights(
      Seq((1L, "a b c")).toDF("doc_id", "text"), lit(false))
    assert(dwB.filter(col("n_scored") === 0).count() == 1)
  }

  test("round-9 ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val vecs = emptyDf("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType))
    val someVecs = Seq((1L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    // quantized rerank: empty corpus / empty queries → empty, shaped
    val qr = Similarity.topKQuantizedRerank(vecs, someVecs,
      "vec_id", "embedding", k = 3)
    assert(qr.isEmpty && qr.columns.sameElements(
      Array("query_id", "neighbor_id", "cosine", "rank")))
    assert(Similarity.topKQuantizedRerank(someVecs, vecs,
      "vec_id", "embedding", k = 3).isEmpty)
    // gopher counters expression on empty frame and empty text
    val gc = graft.functions.GopherText.counters(col("text"),
      graft.ext.TextOps.GopherStopwords)
    assert(docs.select(gc).isEmpty)
    val zero = Seq((1L, "")).toDF("doc_id", "text")
      .select(gc.getField("n_words"), gc.getField("n_sym"))
      .as[(Long, Long)].head()
    assert(zero == ((0L, 0L)))
    // band keys on an empty-but-typed signature frame
    assert(docs.select(graft.functions.TextHashes.minhashBandKeys(
      graft.functions.TextHashes.minhashSig(
        graft.functions.TextHashes.hashedShingles(col("text"), 3), 16),
      4)).isEmpty)
    // span dedup: empty frame → empty, shaped; training order: empty ok
    val sd = graft.ext.Dedup.spanDedupByTokens(docs, "doc_id", "text", 3)
    assert(sd.isEmpty && sd.columns.sameElements(
      Array("doc_id", "n_spans", "n_kept", "text_dedup")))
    assert(graft.ext.Dedup.spanDedupByLines(docs, "doc_id", "text").isEmpty)
    assert(graft.operators.TrainingOrder.withOrder(docs, "doc_id", 8).isEmpty)
    assert(graft.operators.TrainingOrder.layoutByOrder(docs, "doc_id", 4).isEmpty)
    // incremental near screen: empty batch → empty; empty corpus → all kept
    val batch = Seq((1L, "some words here")).toDF("doc_id", "text")
    assert(graft.ext.Dedup.newAgainstReferenceNear(docs, batch,
      "doc_id", "text").isEmpty)
    assert(graft.ext.Dedup.newAgainstReferenceNear(batch, docs,
      "doc_id", "text").count() == 1L)
    // semantic dedup: empty corpus → empty, shaped (zero centers is
    // fine — the limit just returns nothing)
    val sem = graft.ext.SemDedup.semanticDedup(vecs, "vec_id", "embedding",
      nCenters = 4, threshold = 0.9)
    assert(sem.isEmpty && sem.columns.sameElements(
      Array("vec_id", "cluster", "dup_label", "is_keep")))
  }

  test("round-10 ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    // BPE training on an empty corpus: no pairs exist, the trainer
    // stops before its first merge and returns the empty model, shaped
    val m = graft.ext.Bpe.trainMerges(docs, "text", nMerges = 5)
    assert(m.isEmpty && m.columns.sameElements(
      Array("step", "lhs", "rhs", "merged", "pair_count")))
    // segmentation with an empty model and with an empty corpus
    val seg = graft.ext.Bpe.segment(docs, "text", Seq.empty)
    assert(seg.isEmpty && seg.columns.sameElements(
      Array("word", "freq", "tokens", "n_tokens")))
    assert(graft.ext.Bpe.segment(
      Seq((1L, "ab ab")).toDF("doc_id", "text"), "text",
      Seq(("a", "b"))).count() == 1L)
    // fused LM+DSIR on an empty corpus: empty, fully shaped
    val fused = graft.ext.TextOps.lmAndDsir(docs, lit(true))
    assert(fused.isEmpty && fused.columns.sameElements(Array(
      "doc_id", "n_bigrams", "sum_bits", "n_rare", "n_scored",
      "n_oov_target", "n_oov_source", "weight_bits",
      "bits_per_bigram", "rare_ratio", "mean_weight")))
    // imageio round trip on an empty id frame: empty, shaped, no codec calls
    val rt = graft.ext.MultiModal.imageRoundTrip(docs.select("doc_id"))
    assert(rt.isEmpty)
    // two-level assignment on an empty corpus (zero centers, zero supers)
    assert(graft.ext.SemDedup.assignTwoLevel(
      emptyDf("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      "vec_id", "embedding", nCenters = 8).isEmpty)
    // boilerplate signals on an empty corpus: empty, fully shaped
    val bp = graft.ext.TextOps.boilerplateSignals(docs)
    assert(bp.isEmpty && bp.columns.sameElements(
      Array("doc_id", "n_grams", "n_boiler", "boiler_ratio", "keep")))
    // ...and on a corpus where no doc reaches n tokens: all rows kept
    // with zero grams (no evidence is not evidence of boilerplate)
    val short = graft.ext.TextOps.boilerplateSignals(
      Seq((1L, "one two"), (2L, "  ")).toDF("doc_id", "text"))
    assert(short.count() == 2 &&
      short.filter(col("keep") && col("n_grams") === 0).count() == 2)
    // top-gram share on empty and all-short corpora: shaped, kept
    val tg = graft.ext.TextOps.topGramShare(docs)
    assert(tg.isEmpty && tg.columns.sameElements(
      Array("doc_id", "n_grams", "top_gram", "top_count", "top_share", "keep")))
    val tgShort = graft.ext.TextOps.topGramShare(
      Seq((1L, "one"), (2L, " ")).toDF("doc_id", "text"))
    assert(tgShort.count() == 2 &&
      tgShort.filter(col("keep") && col("n_grams") === 0).count() == 2)
    // split repair with no pairs: every assignment untouched; with no
    // docs: empty, shaped
    val noPairs = graft.ext.Splits.repairLeakage(
      Seq(1L -> "train", 2L -> "val").toDF("doc_id", "split"),
      emptyDf("id_a" -> LongType, "id_b" -> LongType))
    assert(noPairs.count() == 2 && noPairs.filter(col("moved")).count() == 0)
    val noDocs = graft.ext.Splits.repairLeakage(
      emptyDf("doc_id" -> LongType, "split" -> StringType),
      Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(noDocs.isEmpty && noDocs.columns.sameElements(
      Array("doc_id", "split", "moved", "split_repaired")))
    // token-budget mixture on an empty corpus: empty, fully shaped;
    // zero budget keeps nothing but reports everything
    val tb = graft.ext.Sampling.tokenBudgetSample(
      emptyDf("doc_id" -> LongType, "source" -> StringType,
        "text" -> StringType),
      "doc_id", "source", graft.ext.TextOps.tokenCount(col("text")),
      budgets = Seq.empty, defaultBudget = 100L)
    assert(tb.isEmpty && tb.columns.sameElements(
      Array("doc_id", "source", "n_tokens", "cum_before", "kept")))
    val tbZero = graft.ext.Sampling.tokenBudgetSample(
      Seq((1L, "s", "a b c"), (2L, "s", "d e")).toDF("doc_id", "source", "text"),
      "doc_id", "source", graft.ext.TextOps.tokenCount(col("text")),
      budgets = Seq.empty, defaultBudget = 0L)
    assert(tbZero.count() == 2 && tbZero.filter(col("kept")).count() == 0)
    // cohort retention on an empty stream: empty, fully shaped
    val ret = graft.ext.SeriesOps.cohortRetention(
      emptyDf("user_id" -> LongType, "ts" -> TimestampType), "user_id", "ts")
    assert(ret.isEmpty && ret.columns.sameElements(
      Array("cohort", "offset", "n_active", "retained_pct")))
  }

  test("round-15 ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val someDocs = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // incremental screen: empty batch, empty index, both empty
    val emptyIndex = emptyDf("g" -> StringType, "first_batch_id" -> LongType)
    val idx = graft.ext.SuffixDedup.gramIndex(someDocs, "text", 5)
    assert(graft.ext.SuffixDedup
      .duplicatedSpansIncremental(docs, idx, "doc_id", "text", 5).isEmpty)
    // a non-empty batch against an EMPTY index degrades to the pure
    // batch-internal screen (here: nothing repeats -> no spans)
    assert(graft.ext.SuffixDedup
      .duplicatedSpansIncremental(someDocs, emptyIndex, "doc_id", "text", 5)
      .isEmpty)
    // ...and the apply passes the doc through intact
    val app = graft.ext.SuffixDedup.duplicatedSpansIncrementalApply(
      someDocs, emptyIndex, "doc_id", "text", 5)
    assert(app.count() == 1L &&
      app.filter(col("n_removed") === 0).count() == 1L)
    assert(graft.ext.SuffixDedup.gramIndex(docs, "text", 5).isEmpty)
    // bench-side screen: empty bench -> no spans, all-zero longest;
    // empty train -> empty both ways
    assert(graft.ext.SuffixDedup
      .benchOverlapSpans(someDocs, docs, "doc_id", "text", 5).isEmpty)
    val lb = graft.ext.SuffixDedup
      .benchLongestOverlap(someDocs, docs, "doc_id", "text", 5)
      .as[(Long, Int, Int)].collect().toSeq
    assert(lb == Seq((1L, 0, -1)),
      s"empty bench must report 0/-1 per train doc: $lb")
    assert(graft.ext.SuffixDedup
      .benchOverlapSpans(docs, someDocs, "doc_id", "text", 5).isEmpty)
    assert(graft.ext.SuffixDedup
      .benchLongestOverlap(docs, someDocs, "doc_id", "text", 5).isEmpty)
    // streaming curation on an empty micro-batch: no output partition,
    // no index growth, no crash
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_empty_curate").toString
    graft.streaming.CorpusStreams.curateBatch(docs, 0L,
      tmp + "/fp", tmp + "/grams", tmp + "/out",
      minWords = 10, minTokens = 5, minKeepTokens = 5)
    // bucketed-by-default: the table exists (declared schema, so the
    // empty scan is legal) but holds no keys
    assert(graft.ext.SuffixDedup
      .savedGramIndexBucketed(spark, tmp + "/fp").isEmpty)
    assert(graft.ext.SuffixDedup
      .savedGramIndexBucketed(spark, tmp + "/grams").isEmpty)
  }

  test("round-16 ops on empty inputs") {
    val docs = emptyDf("doc_id" -> LongType, "text" -> StringType)
    val someDocs = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val emptyIndex = emptyDf("g" -> StringType, "first_batch_id" -> LongType)
    val idx = graft.ext.SuffixDedup.gramIndex(someDocs, "text", 5)
    // ingest screen: empty batch -> no spans; empty (frozen) index ->
    // no spans; apply passes the clean doc through intact
    assert(graft.ext.Decontam
      .contaminatedSpansFromIndex(docs, idx, "doc_id", "text", 5).isEmpty)
    assert(graft.ext.Decontam
      .contaminatedSpansFromIndex(someDocs, emptyIndex, "doc_id", "text", 5)
      .isEmpty)
    val app = graft.ext.Decontam
      .cleanSpansFromIndex(someDocs, emptyIndex, "doc_id", "text", 5)
    assert(app.count() == 1L &&
      app.filter(col("n_removed") === 0).count() == 1L)
    // erasure: empty key frame is a no-op; a nonexistent root returns
    // without error and is not created (no table, no bucket marker)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_empty_erase").toString
    graft.ext.SuffixDedup.deleteKeysFromSavedIndex(spark,
      tmp + "/missing", idx.select("g"))
    assert(!new java.io.File(tmp + "/missing").exists(),
      "erasing from a missing root must not create it")
    assert(!spark.catalog.tableExists(
      graft.ext.SuffixDedup.gramIndexTableName(tmp + "/missing")))
    graft.ext.SuffixDedup.updateSavedGramIndexBucketed(tmp + "/idx",
      someDocs, "text", 5, batchId = 0L)
    graft.ext.SuffixDedup.deleteKeysFromSavedIndex(spark,
      tmp + "/idx", emptyIndex.select("g"))
    assert(graft.ext.SuffixDedup.savedGramIndexBucketed(spark, tmp + "/idx")
      .count() == 2L)
    // bench screen batch: an EMPTY micro-batch against a built frozen
    // index completes without crash and lands no data files (a later
    // non-empty batch establishes the readable root, as in streaming)
    graft.streaming.CorpusStreams.benchScreenBatch(docs, 0L,
      tmp + "/idx", tmp + "/out", minTokens = 5)
    val outF = new java.io.File(tmp + "/out")
    assert(!outF.exists() || !outF.listFiles().exists(f =>
      f.isDirectory || f.getName.endsWith(".parquet")),
      "empty batch must write no data files")
    spark.sql("DROP TABLE IF EXISTS " +
      graft.ext.SuffixDedup.gramIndexTableName(tmp + "/idx"))
  }
}
