package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumblingAgg: watermarked hourly windows aggregate per event type") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingAgg(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:40:00"), "click", 2.0),
        (ts("2024-01-01 11:10:00"), "click", 4.0),
        (ts("2024-01-01 10:20:00"), "view", 8.0))
      q.processAllAvailable()
      val out = spark.table("tumbling")
        .select("window_start", "event_type", "n_events", "value_sum")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(out == Set(
        (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
        (ts("2024-01-01 11:00:00"), "click", 1L, 4.0),
        (ts("2024-01-01 10:00:00"), "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("LateDropCounter: watermark-dropped rows are counted exactly") {
    implicit val sqlCtx = spark.sqlContext
    val counter = LateDropCounter.attach(spark)
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingAgg(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1 sets max event time 10:00 → watermark 09:50
      input.addData((ts("2024-01-01 10:00:00"), "click", 1.0))
      q.processAllAvailable()
      // batch 2 advances it to 12:00 → watermark 11:50
      input.addData((ts("2024-01-01 12:00:00"), "click", 1.0))
      q.processAllAvailable()
      // batch 3: the 10:05 event's WINDOW ([10:00,11:00), end 11:00 ≤
      // watermark 11:50) is closed → DROPPED; the 11:40 event is also
      // behind the watermark but its window [11:00,12:00) is still
      // open (end 12:00 > 11:50) → admitted (aggregation eviction
      // keys on window end, not raw event time); one on-time event
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 11:40:00"), "view", 1.0),
        (ts("2024-01-01 12:30:00"), "click", 1.0))
      q.processAllAvailable()
      org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
      assert(counter.dropped(q.runId) == 1L,
        s"exactly the closed-window late row must count, got ${counter.dropped(q.runId)}")
      // cross-check against the raw per-batch progress metrics
      val raw = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(raw == 1L, s"progress metrics disagree: $raw")
      // the open-window late row must have been aggregated, not lost
      val viewRows = spark.table("late_drop")
        .where(col("event_type") === "view").count()
      assert(viewRows == 1L, "open-window late row must be admitted")
    } finally {
      q.stop()
      spark.streams.removeListener(counter)
    }
  }

  test("attributionJoin: stream-stream interval join ≡ batch on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val viewRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L),
      (2L, ts("2024-01-01 10:30:00"), 7L),
      (3L, ts("2024-01-01 08:00:00"), 7L),  // outside the 1h horizon
      (4L, ts("2024-01-01 10:15:00"), 8L))  // wrong window for user 8
    val purchRows = Seq(
      (10L, ts("2024-01-01 10:45:00"), 7L, 5.0),
      (11L, ts("2024-01-01 11:30:00"), 8L, 2.0))

    val vIn = MemoryStream[(Long, Timestamp, Long)]
    val pIn = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = EventStreams.attributionJoin(
        vIn.toDF().toDF("event_id", "ts", "user_id"),
        pIn.toDF().toDF("event_id", "ts", "user_id", "value"),
        horizon = "1 hour", delay = "10 minutes")
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      vIn.addData(viewRows: _*)
      pIn.addData(purchRows: _*)
      q.processAllAvailable()
      spark.table("attr")
        .as[(Long, Long, Timestamp, Long, Timestamp, Double)].collect().toSet
    } finally q.stop()

    val batch = EventStreams.attributionJoin(
        viewRows.toDF("event_id", "ts", "user_id"),
        purchRows.toDF("event_id", "ts", "user_id", "value"),
        horizon = "1 hour", delay = "10 minutes")
      .as[(Long, Long, Timestamp, Long, Timestamp, Double)].collect().toSet

    assert(streamed == batch)
    assert(streamed.map(r => (r._2, r._4)) == Set((10L, 1L), (10L, 2L)))
  }

  test("stream-static incremental dedup: new batches anti-join the static reference") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq(
      (100L, "already ingested document"),
      (101L, "another known document")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // the SAME batch operator composes over a streaming frame:
    // stream-static left-anti on the canonical fingerprint
    val q = graft.ext.Dedup.newAgainstReference(stream, reference, "doc_id", "text")
      .writeStream.format("memory").queryName("fresh_docs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "ALREADY  INGESTED DOCUMENT"),  // canonical dup of ref 100
        (2L, "a brand new document"),
        (3L, "another known document"))       // exact dup of ref 101
      q.processAllAvailable()
      input.addData((4L, "later batch, also new"))
      q.processAllAvailable()
      val kept = spark.table("fresh_docs").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(2L, 4L))
    } finally q.stop()
  }

  test("streaming decontamination (foreachBatch) ≡ batch clean across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (900L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today and more"), // shares an 8-gram
      (2L, "completely unrelated content about economic time series data")) // no overlap
    val batch2 = Seq(
      (3L, "short"),                                                      // too short to shingle → kept
      (4L, "prefix then the quick brown fox jumps over the lazy dog today")) // shares an 8-gram
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = graft.ext.Decontam.cleanStream(stream, bench, "doc_id", "text", n = 8) {
      (kept, _) =>
        val rows = kept.select("doc_id", "text").as[(Long, String)].collect()
        out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchClean = graft.ext.Decontam.clean(
        (batch1 ++ batch2).toDF("doc_id", "text"), bench, "doc_id", "text", n = 8)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(out.toSet == batchClean)
    assert(out.map(_._1).toSet == Set(2L, 3L)) // contaminated 1 and 4 dropped
  }

  test("streaming exact-substring screen: per-batch spans ≡ incremental semantics, index accumulates") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_substr_stream").toString
    val indexRoot = tmp + "/index"; val outRoot = tmp + "/spans"
    val p = "alpha beta gamma delta epsilon zeta"
    // batch 1: an internal twin pair (both copies must mark) + a
    // unique doc + the passage's FIRST arrival (must NOT mark)
    val batch1 = Seq(
      (1L, s"$p plus unique following words"),
      (2L, "twin body here exactly matching words now"),
      (3L, "twin body here exactly matching words now"),
      (4L, "nothing shared here at all truly once"))
    // batch 2: re-crawls the passage (cross-BATCH dup — must mark in
    // batch 2 even though batch 1's copy was kept unmarked)
    val batch2 = Seq(
      (10L, s"later arrival copies $p verbatim"),
      (11L, "fresh unique content with no duplicate anywhere"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams.substringScreenStream(
      input.toDF().toDF("doc_id", "text"), indexRoot, outRoot,
      minTokens = 5).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outRoot)
      .select(col("batch_id").cast("long"), col("doc_id"),
        col("span_start"), col("span_end"))
      .as[(Long, Long, Int, Int)].collect().toSet
    // batch≡stream: batch k's partition ≡ duplicatedSpans over
    // everything-so-far restricted to batch k's docs
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val full1 = graft.ext.SuffixDedup
      .duplicatedSpans(batch1.toDF("doc_id", "text"), "doc_id", "text", 5)
      .select(lit(0L), col("doc_id"), col("span_start"), col("span_end"))
      .as[(Long, Long, Int, Int)].collect().toSet
    val full2 = graft.ext.SuffixDedup
      .duplicatedSpans(all, "doc_id", "text", 5)
      .filter(col("doc_id") >= 10L)
      .select(lit(1L), col("doc_id"), col("span_start"), col("span_end"))
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == full1 ++ full2, s"got=$got\nexpected=${full1 ++ full2}")
    assert(got.exists(r => r._1 == 0L && r._2 == 2L) &&
      got.exists(r => r._1 == 0L && r._2 == 3L),
      "batch-internal twins must both mark in their own batch")
    assert(!got.exists(r => r._2 == 1L),
      "the passage's first arrival stays unmarked (first-arrival-wins)")
    assert(got.exists(r => r._1 == 1L && r._2 == 10L),
      "the cross-batch re-crawl must mark against the accumulated index")
    // the saved index carries first-appearance provenance
    val idx = spark.read.parquet(indexRoot)
    assert(idx.filter(col("first_batch_id") === 0L).count() > 0)
    assert(idx.filter(col("first_batch_id") === 1L).count() > 0)
  }

  test("self-accumulating near-dup screen: batch k ≡ newAgainstReferenceNear vs everything kept so far; replay-exact") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_near_stream").toString
    val (stateRoot, outRoot) = (tmp + "/state", tmp + "/out")
    val baseA = "the quick brown fox jumps over the lazy dog while rain falls on the quiet grey town square tonight"
    val baseB = "an entirely different body of plain text with its own words and nothing shared across any other document here"
    val batch1 = Seq(
      (1L, baseA),
      (2L, baseB))
    val batch2 = Seq(
      (10L, baseA.replace("tonight", "today")),   // near-dup of kept doc 1
      (11L, baseB.replace("here", "inside")),     // near-dup of kept doc 2
      (12L, "wholly fresh material with no resemblance to anything the stream has ever accepted before now"))
    def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
      graft.streaming.CorpusStreams.nearDupScreenBatch(
        rows.toDF("doc_id", "text"), id, stateRoot, outRoot)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams.nearDupScreenStream(
      input.toDF().toDF("doc_id", "text"), stateRoot, outRoot).start()
    try { input.addData(batch1: _*); q.processAllAvailable() }
    finally q.stop()
    runBatch(batch2, 1L)
    def readOut() = spark.read.parquet(outRoot)
      .select(col("batch_id").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    val got = readOut()
    // batch 1: empty state keeps everything; batch 2 ≡ the static
    // screen against exactly what batch 1 kept
    val expected2 = graft.ext.Dedup.newAgainstReferenceNear(
        batch2.toDF("doc_id", "text"), batch1.toDF("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got == Set(0L -> 1L, 0L -> 2L) ++ expected2.map(1L -> _),
      s"got=$got expected2=$expected2")
    assert(got.map(_._2).intersect(Set(10L, 11L)).isEmpty,
      "near-copies of kept docs must drop cross-batch")
    assert(got.contains(1L -> 12L), "fresh material must survive")
    // replay: output and both state tables unchanged
    def stateCounts() = (
      graft.ext.Dedup.savedNearDupShingles(spark, stateRoot).count(),
      graft.ext.Dedup.savedNearDupBands(spark, stateRoot).count())
    val before = stateCounts()
    runBatch(batch2, 1L)
    assert(readOut() == got, "replay must be a no-op on the output")
    assert(stateCounts() == before, "replay must fold nothing")
    // a later near-copy of batch-2's kept doc drops too — the state
    // accumulates across every batch, no rebuild
    runBatch(Seq((20L, batch2(2)._2.replace("now", "then"))), 2L)
    assert(!readOut().exists(r => r._1 == 2L),
      "a near-copy of a batch-2 keep must drop in batch 3")
    // right-to-erasure: doc 1's rows leave both tables — its
    // near-copy is ADMITTED again, a survivor's near-copy still drops
    graft.ext.Dedup.deleteDocsFromSavedNearDupState(stateRoot,
      batch1.take(1).toDF("doc_id", "text"), "doc_id", "text")
    assert(graft.ext.Dedup.savedNearDupShingles(spark, stateRoot)
      .filter(col("g") === 1L).isEmpty, "deleted doc's shingles remain")
    assert(graft.ext.Dedup.savedNearDupBands(spark, stateRoot)
      .filter(col("doc") === 1L).isEmpty, "deleted doc's bands remain")
    runBatch(Seq(
      (30L, baseA.replace("tonight", "someday")), // near-copy of ERASED
      (31L, baseB.replace("here", "nearby"))),    // near-copy of SURVIVOR
      3L)
    val batch3 = readOut().filter(_._1 == 3L).map(_._2)
    assert(batch3 == Set(30L),
      s"erased doc's copy must re-admit, survivor's must drop: $batch3")
    // idempotent: re-delivering the same erasure changes nothing
    val counts = (
      graft.ext.Dedup.savedNearDupShingles(spark, stateRoot).count(),
      graft.ext.Dedup.savedNearDupBands(spark, stateRoot).count())
    graft.ext.Dedup.deleteDocsFromSavedNearDupState(stateRoot,
      batch1.take(1).toDF("doc_id", "text"), "doc_id", "text")
    assert((graft.ext.Dedup.savedNearDupShingles(spark, stateRoot).count(),
      graft.ext.Dedup.savedNearDupBands(spark, stateRoot).count()) == counts)
  }

  test("self-accumulating semantic screen: batch k ≡ static screen vs everything kept so far; replay-exact; accumulates") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sem_stream").toString
    val (stateRoot, outRoot) = (tmp + "/state", tmp + "/out")
    val batch1 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)))
    val batch2 = Seq(
      (10L, Array(0.99f, 0.05f, 0.0f)),  // near-copy of kept 1 → drops
      (11L, Array(0.05f, 0.99f, 0.0f)),  // near-copy of kept 2 → drops
      (12L, Array(0.0f, 0.0f, 1.0f)))    // fresh → survives
    def runBatch(rows: Seq[(Long, Array[Float])], id: Long): Unit =
      graft.streaming.CorpusStreams.semanticScreenBatch(
        rows.toDF("vec_id", "embedding"), id, stateRoot, outRoot,
        nCenters = 2, floor = 0.9, buckets = 4)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.CorpusStreams.semanticScreenStream(
      input.toDF().toDF("vec_id", "embedding"), stateRoot, outRoot,
      nCenters = 2, floor = 0.9, buckets = 4).start()
    try { input.addData(batch1: _*); q.processAllAvailable() }
    finally q.stop()
    runBatch(batch2, 1L)
    def readOut() = spark.read.parquet(outRoot)
      .select(col("batch_id").cast("long"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val got = readOut()
    // batch 1: empty state keeps everything; batch 2 ≡ the static
    // screen against exactly what batch 1 kept, under the quantizer
    // the stream froze at batch 1 (= a draw over batch 1 ≡ reference)
    val expected2 = graft.ext.SemDedup.newAgainstReferenceSemantic(
        batch2.toDF("vec_id", "embedding"), batch1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 2, floor = 0.9)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(got == Set(0L -> 1L, 0L -> 2L) ++ expected2.map(1L -> _),
      s"got=$got expected2=$expected2")
    assert(got.map(_._2).intersect(Set(10L, 11L)).isEmpty,
      "near-copies of kept vectors must drop cross-batch")
    assert(got.contains(1L -> 12L), "fresh material must survive")
    // replay: output and state unchanged
    val before = graft.ext.SemDedup.savedSemanticAssigned(spark, stateRoot, 4).count()
    runBatch(batch2, 1L)
    assert(readOut() == got, "replay must be a no-op on the output")
    assert(graft.ext.SemDedup.savedSemanticAssigned(spark, stateRoot, 4)
      .count() == before, "replay must fold nothing")
    // accumulation: a later near-copy of batch-2's keep drops too
    runBatch(Seq((20L, Array(0.02f, 0.01f, 0.99f))), 2L)
    assert(!readOut().exists(_._1 == 2L),
      "a near-copy of a batch-2 keep must drop in batch 3")
  }

  test("streaming doc novelty: per-batch output from saved df state ≡ full recompute over everything so far") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_novelty_stream").toString
    val (dfRoot, outRoot) = (tmp + "/dfidx", tmp + "/out")
    val p = "alpha beta gamma delta epsilon zeta"
    val batch1 = Seq(
      (1L, s"the quick brown fox jumps $p over lazy dogs"),
      (2L, "an entirely different body of plain text with its own words"))
    val batch2 = Seq(
      (10L, s"later arrival copies $p verbatim plus fresh trailing words"),
      (11L, "wholly new content sharing nothing with anything else"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams.docNoveltyStream(
      input.toDF().toDF("doc_id", "text"), dfRoot, outRoot, n = 5).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    try {
      def outOf(id: Long) = spark.read.parquet(outRoot)
        .filter(col("batch_id") === id)
        .select(col("doc_id"), col("n_grams"), col("n_unique_grams"),
          col("novelty"))
        .as[(Long, Long, Long, Double)].collect().toSet
      def fullOf(rows: Seq[(Long, String)], minId: Long) =
        graft.ext.Dedup.gramNovelty(rows.toDF("doc_id", "text"),
            "doc_id", "text", n = 5)
          .filter(col("doc_id") >= minId)
          .as[(Long, Long, Long, Double)].collect().toSet
      assert(outOf(0L) == fullOf(batch1, 0L))
      assert(outOf(1L) == fullOf(batch1 ++ batch2, 10L))
      // the re-used passage is non-novel in batch 2 even though its
      // first holder arrived a batch earlier
      assert(outOf(1L).exists(r => r._1 == 10L && r._3 < r._2))
    } finally spark.sql(s"DROP TABLE IF EXISTS " +
      graft.ext.Dedup.dfIndexTableName(dfRoot))
  }

  test("streaming curation composite: gate → exact dedup → substring hygiene from saved state; replay-exact") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_curate_stream").toString
    val (fpRoot, gramRoot, outRoot) =
      (tmp + "/fp", tmp + "/grams", tmp + "/out")
    val p = "protected passage tokens alpha beta gamma delta epsilon"
    val q = "repeated inner run words here zeta"
    val docA = s"the quick brown fox jumps over and lazy dogs sleep $p today"
    val batch1 = Seq(
      (1L, docA),
      (2L, docA),                       // within-batch exact dup → dropped
      (3L, "too short"),                // fails the gate
      (4L, s"the and words here stay $q filler one two three $q"))
    val batch2 = Seq(
      (10L, docA),                      // cross-batch exact dup → dropped
      (11L, s"the glue and more glue here today $p trailing unique words now"),
      (12L, "the completely fresh and unique document with enough plain words here"))
    def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
      graft.streaming.CorpusStreams.curateBatch(rows.toDF("doc_id", "text"),
        id, fpRoot, gramRoot, outRoot,
        minWords = 10, minTokens = 5, minKeepTokens = 5)
    // drive batch 1 through the real stream wiring, batch 2 directly
    val input = MemoryStream[(Long, String)]
    val stream = graft.streaming.CorpusStreams.curateStream(
      input.toDF().toDF("doc_id", "text"), fpRoot, gramRoot, outRoot,
      minWords = 10, minTokens = 5, minKeepTokens = 5).start()
    try { input.addData(batch1: _*); stream.processAllAvailable() }
    finally stream.stop()
    runBatch(batch2, 1L)
    def readOut(): Set[(Long, Long, Int, String)] =
      spark.read.parquet(outRoot)
        .select(col("batch_id").cast("long"), col("doc_id"),
          col("n_removed"), col("text_dedup"))
        .as[(Long, Long, Int, String)].collect().toSet
    val out = readOut()
    val byDoc = out.map(r => r._2 -> r).toMap
    assert(out.map(_._2) == Set(1L, 4L, 11L, 12L), s"kept set: $out")
    assert(byDoc(1L)._3 == 0 && byDoc(1L)._4 == docA,
      "the first arrival survives intact")
    assert(byDoc(4L)._3 == 12,
      s"BOTH copies of the internal 6-token repeat drop: ${byDoc(4L)}")
    assert(byDoc(11L)._3 == 8 && !byDoc(11L)._4.contains("protected"),
      s"the cross-batch verbatim passage drops from the re-user: ${byDoc(11L)}")
    assert(byDoc(12L)._3 == 0, "clean docs pass through")
    // indexes carry first-appearance provenance
    val fpIdx = spark.read.parquet(fpRoot)
      .as[(String, Long)].collect().toMap
    assert(fpIdx.values.toSet == Set(0L, 1L), s"fp provenance: $fpIdx")
    val gramCount = spark.read.parquet(gramRoot).count()
    // at-least-once REPLAY of batch 2: output, fp index and gram index
    // must all converge to the same state — no double counting, no
    // self-marking (doc 11 must not lose more text to its own grams)
    runBatch(batch2, 1L)
    assert(readOut() == out, "replay must be a no-op on the output")
    assert(spark.read.parquet(fpRoot).count() == fpIdx.size.toLong)
    assert(spark.read.parquet(gramRoot).count() == gramCount)
  }

  test("curation-state erasure: a deleted doc's copy re-admits; a survivor's copy still dedups") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_curate_erase").toString
    val (fpRoot, gramRoot, outRoot) =
      (tmp + "/fp", tmp + "/grams", tmp + "/out")
    val docA = "the quick brown fox jumps over and lazy dogs sleep here today"
    val docB = "an entirely different body of plain text with its own words inside"
    val docC = "the third surviving document keeps more ordinary words around here"
    def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
      graft.streaming.CorpusStreams.curateBatch(rows.toDF("doc_id", "text"),
        id, fpRoot, gramRoot, outRoot,
        minWords = 10, minTokens = 5, minKeepTokens = 5)
    runBatch(Seq(1L -> docA, 2L -> docB), 0L)
    runBatch(Seq(3L -> docC), 1L)
    // right-to-erasure for doc B: its fingerprint and grams leave the
    // saved state; survivors' keys stay (exact form)
    graft.streaming.CorpusStreams.propagateDocDelete(
      Seq(2L -> docB).toDF("doc_id", "text"), fpRoot, gramRoot,
      minTokens = 5,
      survivors = Some(Seq(1L -> docA, 3L -> docC).toDF("doc_id", "text")))
    val fpOfB = Seq(docB).toDF("text")
      .select(graft.ext.TextOps.fingerprint(col("text"))).as[String].head()
    assert(!spark.read.parquet(fpRoot).select("g").as[String].collect()
      .contains(fpOfB), "deleted doc's fingerprint must leave the index")
    // a fresh crawl: B's copy is no longer "seen" → ADMITTED intact;
    // A's copy still dedups away
    runBatch(Seq(10L -> docB, 11L -> docA), 2L)
    val byDoc = spark.read.parquet(outRoot)
      .filter(col("batch_id") === 2)
      .select(col("doc_id"), col("n_removed"), col("text_dedup"))
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(byDoc.keySet == Set(10L), s"batch 2 kept: ${byDoc.keySet}")
    assert(byDoc(10L)._2 == 0 && byDoc(10L)._3 == docB,
      s"the re-ingested deleted doc must pass through whole: ${byDoc(10L)}")
  }

  test("streaming SEMANTIC decontamination (foreachBatch) ≡ batch semanticClean") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((900L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq(
      (1L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),  // paraphrase-near → drops
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))   // orthogonal → kept
    val batch2 = Seq(
      (3L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // exact bench embedding → drops
      (4L, Seq(0.0f, 0.0f, 0.5f, 0.5f)))   // unrelated → kept
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.ext.Decontam.semanticCleanStream(stream, bench,
        "vec_id", "embedding", floor = 0.9) { (kept, _) =>
      val rows = kept.select("vec_id").as[Long].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchClean = graft.ext.Decontam.semanticClean(
        (batch1 ++ batch2).toDF("vec_id", "embedding"), bench,
        "vec_id", "embedding", floor = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(out.toSet == batchClean, "micro-batched ≡ batch semanticClean")
    assert(out.toSet == Set(2L, 4L), s"near-bench embeddings must drop: $out")
  }

  test("streaming near-dup screen (prebuilt index) ≡ batch screen across splits") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq(
      (900L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (1L, "the  quick brown fox jumps over the lazy  dog today"), // reflow → near-dup
      (2L, "completely different content with no shared trigrams at all"))
    val batch2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog today extra"), // append → near-dup
      (4L, "another genuinely novel document about unrelated topics entirely"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.ext.Dedup.newAgainstReferenceNearStream(
        stream, reference, "doc_id", "text") { (kept, _) =>
      val rows = kept.select("doc_id").as[Long].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = graft.ext.Dedup.newAgainstReferenceNear(
        (batch1 ++ batch2).toDF("doc_id", "text"), reference, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out.toSet == batchKept)
    assert(out.toSet == Set(2L, 4L)) // both near-dups of the corpus dropped
  }

  test("streaming boilerplate screen (pretrained gram-df index) ≡ batch screen") {
    implicit val sqlCtx = spark.sqlContext
    // reference crawl: 3 docs sharing one templated trigram run, so the
    // trigrams of the template reach df >= 3 and become the index
    val template = "all rights reserved contact us about privacy policy"
    val reference = (101L to 103L)
      .map(i => (i, s"$template page body variant number $i"))
      .toDF("doc_id", "text")
    val index = graft.ext.TextOps.boilerplateIndex(
      reference, minDocFreq = 3, maxBoilerPct = 60)
    val batch1 = Seq(
      (1L, template),                                             // pure template → dropped
      (2L, "a genuinely novel essay with original phrasing throughout its body"))
    val batch2 = Seq(
      (3L, s"$template with a short original tail"),              // mostly template
      (4L, "another unique document with its own words and nothing shared"))
    val input = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val q = graft.ext.TextOps.screenBoilerplateStream(
        input.toDF().toDF("doc_id", "text"), index) { (screened, _) =>
      val rows = screened.select("doc_id", "n_grams", "n_boiler", "keep")
        .as[(Long, Long, Long, Boolean)].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchScreen = graft.ext.TextOps.screenBoilerplate(
        (batch1 ++ batch2).toDF("doc_id", "text"), index)
      .select("doc_id", "n_grams", "n_boiler", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out.toSet == batchScreen, "micro-batched screen must equal batch")
    val keep = out.map(r => r._1 -> r._4).toMap
    assert(!keep(1L) && keep(2L) && keep(4L), s"template gate wrong: $keep")
  }

  test("streaming perplexity screen (pretrained bigram LM) ≡ batch screen") {
    implicit val sqlCtx = spark.sqlContext
    // reference crawl trains the LM; later batches carry novel bigrams
    val reference = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "the quick brown fox sleeps under the old tree"),
      (103L, "a quick brown dog jumps over the fence")
    ).toDF("doc_id", "text")
    val index = graft.ext.TextOps.lmIndex(reference)
    val batch1 = Seq((1L, "the quick brown fox"), (2L, "entirely novel phrasing"))
    val batch2 = Seq((3L, "the quick brown dog jumps"))
    val input = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.ext.TextOps.screenSurprisalStream(
        input.toDF().toDF("doc_id", "text"), index) { (screened, _) =>
      val rows = screened.select("doc_id", "n_scored", "n_oov", "sum_bits")
        .as[(Long, Long, Long, Long)].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchScreen = graft.ext.TextOps.screenSurprisal(
        (batch1 ++ batch2).toDF("doc_id", "text"), index)
      .select("doc_id", "n_scored", "n_oov", "sum_bits")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out.toSet == batchScreen, "micro-batched screen must equal batch")
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(1L)._2 == 3L && byDoc(1L)._3 == 0L, "known text fully scored")
    assert(byDoc(2L)._2 == 0L && byDoc(2L)._3 == 2L, "novel text is all OOV")
  }

  test("streaming quality-classifier screen (frozen NB weights) ≡ batch screen") {
    implicit val sqlCtx = spark.sqlContext
    // labeled slice: positives share a clean-prose vocabulary,
    // negatives a spammy one — the classifier must recover the split.
    // Positives are texually IDENTICAL so the calibrated P10 threshold
    // equals their common per-feature norm exactly — a doc with that
    // text MUST pass, with no percentile-interpolation luck.
    val cleanText = "a thoughtful essay on careful research methods"
    val labeled = Seq(
      (101L, cleanText, true),
      (102L, cleanText, true),
      (103L, cleanText, true),
      (104L, "click here buy now free offer", false),
      (105L, "free offer click now buy here", false),
      (106L, "buy free now offer click here today", false)
    ).toDF("doc_id", "text", "label")
    val index = graft.ext.TextOps.qualityClassifierIndex(labeled, "label",
      buckets = 1 << 16)
    val batch1 = Seq((1L, cleanText),
      (2L, "click here free offer now"))
    val batch2 = Seq((3L, "completely unseen vocabulary entirely"))
    val input = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Boolean)]
    val q = graft.ext.TextOps.screenQualityClassifierStream(
        input.toDF().toDF("doc_id", "text"), index) { (screened, _) =>
      val rows = screened.select("doc_id", "n_feats", "n_oov", "score", "keep")
        .as[(Long, Long, Long, Long, Boolean)].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchScreen = graft.ext.TextOps.screenQualityClassifier(
        (batch1 ++ batch2).toDF("doc_id", "text"), index)
      .select("doc_id", "n_feats", "n_oov", "score", "keep")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(out.toSet == batchScreen, "micro-batched screen must equal batch")
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(1L)._5, "clean-vocabulary doc must pass the gate")
    assert(!byDoc(2L)._5, s"spam-vocabulary doc must fail: ${byDoc(2L)}")
    assert(byDoc(1L)._4 > byDoc(2L)._4, "positives must outscore negatives")
    assert(byDoc(3L)._3 == byDoc(3L)._2, "unseen vocabulary is all OOV")
  }

  test("split assignment is stateless: identical on a stream in Append mode") {
    implicit val sqlCtx = spark.sqlContext
    val weights = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val input = MemoryStream[Long]
    val q = graft.ext.Splits.assign(
        input.toDF().toDF("doc_id"), "doc_id", weights, salt = "graft")
      .writeStream.format("memory").queryName("split_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(1L to 50L: _*)
      q.processAllAvailable()
      input.addData(51L to 100L: _*) // appending never moves an existing row
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("split_stream")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    val batch = graft.ext.Splits.assign(
        (1L to 100L).toDF("doc_id"), "doc_id", weights, salt = "graft")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(streamed.size == 100 && streamed == batch)
  }

  test("sessionAgg: events within the gap fuse into one session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    // session windows emit in Append mode only: a session materializes
    // once the watermark passes its end
    val q = EventStreams.sessionAgg(events, "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 1.0), // same session (10 min gap)
        (ts("2024-01-01 12:00:00"), 1L, 1.0)) // new session (110 min gap)
      q.processAllAvailable()
      // advance the watermark past both sessions' ends (12:30 + 1h delay)
      input.addData((ts("2024-01-01 14:00:00"), 2L, 1.0))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
      assert(out.sorted == Seq((1L, 1L), (1L, 2L))) // user 2's session still open
    } finally q.stop()
  }

  test("dedupStream: replayed keys within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "event_id", "payload")
    val q = EventStreams.dedupStream(events, Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:01:00"), 2L, "b"))
      q.processAllAvailable()
      // replay of id=1 in a later batch, still inside the watermark
      input.addData(
        (ts("2024-01-01 10:02:00"), 1L, "a-replay"),
        (ts("2024-01-01 10:03:00"), 3L, "c"))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").select("event_id", "payload")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(out.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("dedupExactStream: stateful fingerprint dedup across batches, min-id batch winner") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams.dedupExactStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("corpus_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // within-batch dup (9 vs 1 — same text, case/space variant) must
      // resolve to the MIN id, not arrival order
      input.addData((9L, "THE CAT  SAT"), (1L, "the cat sat"), (2L, "dog text"))
      q.processAllAvailable()
      // cross-batch replays of both fingerprints drop; one new doc keeps
      input.addData((4L, "the cat sat"), (5L, "dog text"), (6L, "novel essay"))
      q.processAllAvailable()
      val out = spark.table("corpus_dedup")
        .as[graft.streaming.CorpusStreams.KeptDoc].collect()
      assert(out.map(_.doc_id).sorted.toSeq == Seq(1L, 2L, 6L))
      // originals arrived before their copies, so the streaming keep set
      // equals the batch exactGroups keep set over the full input
      val batchKeep = graft.ext.Dedup.exactGroups(
          Seq((9L, "THE CAT  SAT"), (1L, "the cat sat"), (2L, "dog text"),
            (4L, "the cat sat"), (5L, "dog text"), (6L, "novel essay"))
            .toDF("doc_id", "text"), "doc_id", "text")
        .select("keep_id").as[Long].collect().sorted.toSeq
      assert(out.map(_.doc_id).sorted.toSeq == batchKeep)
    } finally q.stop()
  }

  test("runningMonthlyMean: flatMapGroupsWithState accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Obs]
    val q = EventStreams.runningMonthlyMean(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Obs("DGS10", 2024, 1, 2.0, ts("2024-01-02 00:00:00")),
        EventStreams.Obs("DGS10", 2024, 1, 4.0, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      // second batch revises the same month: state carries (sum=6, count=2)
      input.addData(
        EventStreams.Obs("DGS10", 2024, 1, 6.0, ts("2024-01-04 00:00:00")))
      q.processAllAvailable()
      val out = spark.table("running")
        .as[EventStreams.MonthUpdate].collect()
      val latest = out.maxBy(_.observation_count)
      assert(latest == EventStreams.MonthUpdate("DGS10", 2024, 1, 4.0, 3L))
      // first emission saw only batch 1: mean 3.0 over 2 observations
      assert(out.contains(EventStreams.MonthUpdate("DGS10", 2024, 1, 3.0, 2L)))
    } finally q.stop()
  }

  test("streaming silver: file-source catchup over bronze produces batch-identical silver") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val bronzeRoot = s"$tmp/bronze"
    val silverRoot = s"$tmp/silver"
    // land one bronze month the way the batch pipeline would
    val raw = Seq(("2024-01-02", "3.95"), ("2024-01-03", "4.05"), ("2024-01-04", "."))
      .toDF("date", "value")
    graft.fred.io.LakeIO.writeBronze(
      graft.fred.ops.Derive.toBronze(raw, "DGS10"), bronzeRoot)
    val stream = StreamingSilver.readBronzeStream(spark, bronzeRoot)
    assert(stream.isStreaming)
    val q = StreamingSilver.writeSilverIncremental(
      StreamingSilver.monthlySilver(stream), silverRoot, s"$tmp/ckpt").start()
    try q.awaitTermination(60000) finally q.stop()
    val silver = spark.read.parquet(silverRoot)
      .select("indicator", "observation_year", "observation_month", "value", "observation_count")
      .as[(String, Int, Int, Double, Long)].collect()
    assert(silver.toSeq == Seq(("DGS10", 2024, 1, 4.0, 2L)))
    // stream-written silver conforms to Schemas.silver (processed_at
    // stamped in foreachBatch), so the typed batch reader accepts it
    val typed = graft.fred.io.LakeIO.readSilverTyped(spark, silverRoot).collect()
    assert(typed.length == 1 && typed.head.processed_at.exists(_.nonEmpty))
  }

  test("streaming bench screen: per-batch ≡ suffix benchOverlapSpans; frozen index; replay-exact") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bench_screen").toString
    val idxRoot = tmp + "/benchidx"; val outRoot = tmp + "/out"
    val p = "protected eval passage alpha beta gamma delta epsilon"
    val bench = Seq(
      (9000L, s"question text $p answer"),
      (9001L, "wholly separate eval item protected words entirely"))
      .toDF("doc_id", "text")
    // the eval suite is frozen: its gram index is built ONCE, before
    // the stream starts — batches never fold back into it. Built in
    // the default BUCKETED form (r16 VERDICT #5): the stream below
    // runs with its bucketed-by-default posture
    graft.ext.SuffixDedup.updateSavedGramIndexBucketed(idxRoot, bench,
      "text", 5, batchId = 0L)
    val batch1 = Seq(
      (1L, s"train doc leaking $p mid body"),
      (2L, "clean train doc nothing shared with any suite"))
    val batch2 = Seq(
      (10L, p),                                                  // whole doc leaked
      (11L, "wholly separate eval item protected words entirely"), // full second item
      (12L, "train doc repeating itself train doc repeating itself"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams.benchScreenStream(
      input.toDF().toDF("doc_id", "text"), idxRoot, outRoot,
      minTokens = 5).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def readOut() = spark.read.parquet(outRoot)
      .select(col("batch_id").cast("long"), col("doc_id"),
        col("span_start"), col("span_end"), col("span_tokens"))
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    val got = readOut()
    // batch k's partition ≡ the SUFFIX engine's bench screen over
    // (batch k, bench) — the cross-side coverage theorem across two
    // structurally different engines
    def suffixOf(rows: Seq[(Long, String)], batchId: Long) =
      graft.ext.SuffixDedup.benchOverlapSpans(rows.toDF("doc_id", "text"),
          bench, "doc_id", "text", minTokens = 5)
        .select(lit(batchId), col("doc_id"), col("span_start"),
          col("span_end"), col("span_tokens"))
        .as[(Long, Long, Int, Int, Int)].collect().toSet
    val expected = suffixOf(batch1, 0L) ++ suffixOf(batch2, 1L)
    assert(got == expected, s"got=$got\nexpected=$expected")
    assert(got.map(_._2) == Set(1L, 10L, 11L),
      "leaked docs mark; clean and self-repeating docs must not " +
        s"(corpus-internal duplication is not bench contamination): $got")
    // replay: same batch id re-screened against the same frozen index
    // overwrites its partition with identical content
    graft.streaming.CorpusStreams.benchScreenBatch(
      batch2.toDF("doc_id", "text"), 1L, idxRoot, outRoot, minTokens = 5)
    assert(readOut() == got, "replay must be exact")
    // a root left in the removed path-parquet form (plain part files
    // of (g, first_batch_id) rows) is refused, not silently adopted as
    // an index every probe misses, and the message says how to rebuild
    val pathRoot = tmp + "/benchidx_path"
    graft.ext.SuffixDedup.gramIndex(bench, "text", 5).write.parquet(pathRoot)
    val refuse = intercept[IllegalArgumentException] {
      graft.ext.SuffixDedup.savedGramIndexBucketed(spark, pathRoot)
    }
    assert(refuse.getMessage.contains("path-form") &&
      refuse.getMessage.contains("Rebuild"), refuse.getMessage)
    // the rebuild the message names: append the old rows into the table
    // registered at a new root; the screen then reads it like any index
    val rebuilt = tmp + "/benchidx_rebuilt"
    try {
      graft.ext.SuffixDedup.savedGramIndexBucketed(spark, rebuilt)
      spark.read.parquet(pathRoot).write.mode("append")
        .insertInto(graft.ext.SuffixDedup.gramIndexTableName(rebuilt))
      graft.streaming.CorpusStreams.benchScreenBatch(
        batch1.toDF("doc_id", "text"), 0L, rebuilt, tmp + "/out_rebuilt",
        minTokens = 5)
      val viaRebuilt = spark.read.parquet(tmp + "/out_rebuilt")
        .select(col("batch_id").cast("long"), col("doc_id"),
          col("span_start"), col("span_end"), col("span_tokens"))
        .as[(Long, Long, Int, Int, Int)].collect().toSet
      assert(viaRebuilt == suffixOf(batch1, 0L),
        s"rebuilt index diverged: $viaRebuilt")
    } finally spark.sql("DROP TABLE IF EXISTS " +
      graft.ext.SuffixDedup.gramIndexTableName(rebuilt))
  }
}
