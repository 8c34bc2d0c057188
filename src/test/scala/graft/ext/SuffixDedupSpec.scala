package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the prefix-doubling suffix-rank machinery against a
  * HAND-COMPUTED suffix array, and the exact-span semantics against
  * both the coverage theorem (≡ all-occurrence gram coverage) and the
  * keep-first gram approximation (⊇ its spans on offset-shifted
  * plants).
  *
  * The banana fixture, tokens `b a n a n a` (positions 0-5); suffixes
  * in sorted order: a(5), a n a(3), a n a n a(1), b a n a n a(0),
  * n a(4), n a n a(2) — so SA = [5,3,1,0,4,2] and the final ranks are
  * pos→rank {5→1, 3→2, 1→3, 0→4, 4→5, 2→6}. Adjacent LCPs: (5,3)=1,
  * (3,1)=3, (1,0)=0, (0,4)=0, (4,2)=2 ⇒ dup_len per position
  * {0→0, 1→3, 2→2, 3→3, 4→2, 5→1}.
  */
class SuffixDedupSpec extends SparkSpec {
  import spark.implicits._

  private val banana = Seq((0L, "b a n a n a")).toDF("doc_id", "text")

  private def bananaPrefixes = SuffixDedup.prefixFrame(
    banana.select(col("doc_id").as("doc"), TextOps.tokens(col("text")).as("__t")))

  test("rankLevels: final ranks realize the hand-computed banana suffix array") {
    val levels = SuffixDedup.rankLevels(bananaPrefixes, maxLen = 6, nPos = 6L)
    val ranks = levels.last._2.select("pos", "r").as[(Int, Long)]
      .collect().toMap
    assert(ranks == Map(5 -> 1L, 3 -> 2L, 1 -> 3L, 0 -> 4L, 4 -> 5L, 2 -> 6L),
      s"got $ranks")
    // maxLen 6 ≤ BaseLen 8: the base prefix-array rank IS the full
    // suffix rank — one level, no doubling needed
    assert(levels.map(_._1) == Seq(8), s"unexpected ladder ${levels.map(_._1)}")
  }

  test("rankLevels: verbatim-twin docs FIXPOINT after the base level (r15 stop rule)") {
    // one 40-token doc duplicated verbatim: every tie is a
    // verbatim-equal suffix pair, which no doubling round can ever
    // split — the first doubling creates no new distinctions, so the
    // ladder stops at [8] instead of climbing to the length horizon
    // (the r14 ladder ran 8,16,32,64 here for nothing; the top-level
    // equal-rank ⟺ verbatim-equal certificate replaces the climb)
    val long = Seq((0L, (1 to 40).map(i => s"t$i").mkString(" ")),
      (1L, (1 to 40).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val pf = SuffixDedup.prefixFrame(
      long.select(col("doc_id").as("doc"), TextOps.tokens(col("text")).as("__t")))
    val levels = SuffixDedup.rankLevels(pf, maxLen = 40, nPos = 80L)
    assert(levels.map(_._1) == Seq(8), s"unexpected ladder ${levels.map(_._1)}")
    // and dupLens still reads the full match off the certificate:
    // every position's dup_len = its remaining length
    val lens = long.select(col("doc_id").as("doc"),
      size(TextOps.tokens(col("text"))).as("len"))
    val dl = SuffixDedup.dupLens(pf, lens, maxLen = 40, nPos = 80L)
      .select("doc", "pos", "dup_len").as[(Long, Int, Int)].collect()
    assert(dl.length == 80 && dl.forall { case (_, pos, d) => d == 40 - pos },
      s"certificate must yield exact remaining lengths: ${dl.take(5).toSeq}")
  }

  test("rankLevels: the ladder climbs past BaseLen while real splits remain") {
    // two docs sharing a 40-token prefix but different tails: ties at
    // level 8 split progressively; the quadrupled ladder must climb
    // until the shared prefix resolves (8, 32, 128 — no premature
    // fixpoint; each round fuses two doubling steps)
    val p = (1 to 40).map(i => s"t$i").mkString(" ")
    val long = Seq((0L, s"$p xx"), (1L, s"$p yy")).toDF("doc_id", "text")
    val pf = SuffixDedup.prefixFrame(
      long.select(col("doc_id").as("doc"), TextOps.tokens(col("text")).as("__t")))
    val levels = SuffixDedup.rankLevels(pf, maxLen = 42, nPos = 84L)
    assert(levels.map(_._1) == Seq(8, 32, 128),
      s"unexpected ladder ${levels.map(_._1)}")
    // the 40-token shared prefix resolves exactly through descent+fixup
    val lens = long.select(col("doc_id").as("doc"),
      size(TextOps.tokens(col("text"))).as("len"))
    val dl = SuffixDedup.dupLens(pf, lens, maxLen = 42, nPos = 84L)
      .select("doc", "pos", "dup_len").as[(Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(dl((0L, 0)) == 40 && dl((1L, 0)) == 40, s"${dl((0L, 0))}")
    assert(dl((0L, 10)) == 30 && dl((1L, 25)) == 15)
  }

  test("dupLens: longest duplicated match per position, clamped at doc end") {
    val lens = banana.select(col("doc_id").as("doc"),
      size(TextOps.tokens(col("text"))).as("len"))
    val dl = SuffixDedup.dupLens(bananaPrefixes, lens, maxLen = 6, nPos = 6L)
      .select("pos", "dup_len").as[(Int, Int)].collect().toMap
    assert(dl == Map(0 -> 0, 1 -> 3, 2 -> 2, 3 -> 3, 4 -> 2, 5 -> 1),
      s"got $dl")
  }

  test("dupLens: matches longer than BaseLen resolve exactly (ladder + fix-up)") {
    // a 21-token duplicated passage at different offsets: dup_len at
    // the copy starts must be exactly 21 = 16 + 4 + sub-8 remainder 1
    val passage = (1 to 21).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$passage xa xb"), (2L, s"pre0 pre1 pre2 $passage"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id").as("doc"),
      TextOps.tokens(col("text")).as("__t"))
    val lens = base.select(col("doc"), size(col("__t")).as("len"))
    val dl = SuffixDedup.dupLens(SuffixDedup.prefixFrame(base), lens, maxLen = 24, nPos = 47L)
      .select("doc", "pos", "dup_len").as[(Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(dl((1L, 0)) == 21 && dl((2L, 3)) == 21,
      s"copy starts must report the full 21-token match: $dl")
    assert(dl((1L, 5)) == 16, s"interior suffix match must be exact: ${dl((1L, 5))}")
  }

  test("duplicatedSpans: banana L=2 marks the single merged region [1,6)") {
    val spans = SuffixDedup.duplicatedSpans(banana, "doc_id", "text",
        minTokens = 2)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(spans == Set((0L, 1, 6, 5)), s"got $spans")
  }

  test("offset-shifted plants: ALL occurrences marked, ⊇ the keep-first gram spans") {
    // the same 6-token passage at offset 0 of doc 1 and offset 3 of
    // doc 2 — the alignment the chunked spanDedup misses and the gram
    // form catches all-but-first; the suffix form marks BOTH copies
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"$passage tail one two"),
      (2L, s"pre amble words $passage"),
      (3L, "entirely unrelated content here nothing shared at all")
    ).toDF("doc_id", "text")
    val exact = SuffixDedup.duplicatedSpans(docs, "doc_id", "text", minTokens = 5)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    assert(exact == Set((1L, 0, 6), (2L, 3, 9)), s"got $exact")
    val approx = Dedup.exactSubstrSpans(docs, "doc_id", "text", minTokens = 5)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    // keep-first marks only doc 2's copy; exact is a strict superset
    assert(approx == Set((2L, 3, 9)), s"got $approx")
    assert(approx.subsetOf(exact))
  }

  test("coverage theorem: suffix-rank spans ≡ all-occurrence gram coverage") {
    // adversarial-ish corpus: periodic runs, nested repeats, shared
    // passages at different offsets, short docs below L
    val docs = Seq(
      (1L, "a a a a a a a"),
      (2L, "x y a a a a a z"),
      (3L, "one two three four five six seven eight"),
      (4L, "zero one two three four five six seven"),
      (5L, "p q r"),
      (6L, "")
    ).toDF("doc_id", "text")
    val L = 3
    val suffix = SuffixDedup.duplicatedSpans(docs, "doc_id", "text", L)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Int, Int, Int)].collect().toSet
    // independent formulation: every window of every duplicated
    // L-gram (all occurrences), merged — the oracle's algorithm,
    // built here from the gram primitives the engine's other path uses
    val occ = docs.select(col("doc_id").as("doc"),
      posexplode(Dedup.slidingGrams(col("text"), L)).as(Seq("pos", "g")))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("g")
    val marked = occ.join(dup, "g")
      .select(col("doc"), col("pos").as("s"), (col("pos") + lit(L)).as("e"))
    val gram = Dedup.mergeTokenSpans(marked)
      .select(col("doc").as("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(suffix == gram, s"suffix=$suffix\ngram=$gram")
  }

  test("longestMatch: max dup_len + earliest argmax per doc; no-match docs report 0/-1") {
    val lm = SuffixDedup.longestMatch(banana, "doc_id", "text", minTokens = 2)
      .as[(Long, Int, Int)].collect().toSet
    // banana dup_len profile {0→0,1→3,2→2,3→3,4→2,5→1}: max 3, first at pos 1
    assert(lm == Set((0L, 3, 1)), s"got $lm")
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"$passage tail one two"),
      (2L, s"pre amble words $passage"),
      (3L, "entirely unrelated content here nothing shared at all")
    ).toDF("doc_id", "text")
    val out = SuffixDedup.longestMatch(docs, "doc_id", "text", minTokens = 5)
      .as[(Long, Int, Int)].collect().toSet
    assert(out == Set((1L, 6, 0), (2L, 6, 3), (3L, 0, -1)), s"got $out")
  }

  test("incremental screen ≡ full-corpus duplicatedSpans restricted to the batch") {
    // corpus: two docs sharing a passage; batch: one doc repeating a
    // corpus passage at a shifted offset + an internal repeat of its
    // own + unique content; one batch doc duplicating ANOTHER batch doc
    val p = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, s"$p corpus tail words here"),
      (2L, s"lead in text $p"),
      (3L, "entirely unrelated corpus content nothing shared")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"batch prefix $p and unique suffix u1 u2 u3"),
      (11L, "own one two three four five own one two three four five"),
      (12L, "twin doc body here exactly matching words"),
      (13L, "twin doc body here exactly matching words")
    ).toDF("doc_id", "text")
    val index = SuffixDedup.gramIndex(corpus, "text", minTokens = 5)
    val inc = SuffixDedup
      .duplicatedSpansIncremental(batch, index, "doc_id", "text", 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    val full = SuffixDedup
      .duplicatedSpans(corpus.unionByName(batch), "doc_id", "text", 5)
      .filter(col("doc_id") >= 10L)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(inc == full, s"inc=$inc\nfull=$full")
    // and it caught all three duplication modes
    val byDoc = inc.groupBy(_._1)
    assert(byDoc.contains(10L), "cross-to-corpus span missed")
    assert(byDoc.contains(11L), "batch-internal repeat missed")
    assert(byDoc.contains(12L) && byDoc.contains(13L),
      "batch-to-batch twin must mark BOTH copies")
  }

  test("incremental screen: provenance gate makes a replayed batch see only the pre-batch corpus") {
    val corpus = Seq((1L, "shared five token run here plus corpus filler"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "intro shared five token run here outro"))
      .toDF("doc_id", "text")
    val index = SuffixDedup.gramIndex(corpus, "text", 5, batchId = 0L)
    val expected = SuffixDedup
      .duplicatedSpansIncremental(batch, index, "doc_id", "text", 5,
        batchId = 1L)
      .as[(Long, Int, Int, Int)].collect().toSet
    // at-least-once replay: the index ALREADY holds the batch's own
    // grams (stamped with the batch's id) — the screen must not see
    // them as corpus, or every batch token would mark
    val indexAfter = index.unionByName(
      SuffixDedup.gramIndex(batch, "text", 5, batchId = 1L)
        .join(index, Seq("g"), "left_anti"))
    val replayed = SuffixDedup
      .duplicatedSpansIncremental(batch, indexAfter, "doc_id", "text", 5,
        batchId = 1L)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(replayed == expected, s"replay=$replayed expected=$expected")
    // sanity: WITHOUT the gate the batch's own grams would self-mark
    val ungated = SuffixDedup
      .duplicatedSpansIncremental(batch, indexAfter, "doc_id", "text", 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(ungated != expected, "fixture must make the gate observable")
  }

  test("bucketed gram index: first_batch_id is first appearance; screen ≡ the in-memory index; replay appends nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_gram_bkt").toString + "/index"
    try {
      val b0 = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
      val b1 = Seq((2L, "two three four five six seven")).toDF("doc_id", "text")
      SuffixDedup.updateSavedGramIndexBucketed(root, b0, "text", 5,
        batchId = 0L, buckets = 4)
      SuffixDedup.updateSavedGramIndexBucketed(root, b1, "text", 5,
        batchId = 1L, buckets = 4)
      val idx = SuffixDedup.savedGramIndexBucketed(spark, root, 4)
        .as[(String, Long)].collect().toMap
      // a gram both batches contain keeps its FIRST batch id
      assert(idx == Map(
        "one two three four five" -> 0L,
        "two three four five six" -> 0L,
        "three four five six seven" -> 1L), s"got $idx")
      // replay: anti-join append is a no-op through the table too
      SuffixDedup.updateSavedGramIndexBucketed(root, b1, "text", 5,
        batchId = 1L, buckets = 4)
      val replayed = SuffixDedup.savedGramIndexBucketed(spark, root, 4)
        .as[(String, Long)].collect().toMap
      assert(replayed == idx, "a replayed batch must append nothing")
      // the screen probed through the bucketed table ≡ probed through
      // the equivalent in-memory index
      val batch = Seq((10L, "intro two three four five six outro"))
        .toDF("doc_id", "text")
      val viaTable = SuffixDedup.duplicatedSpansIncremental(batch,
          SuffixDedup.savedGramIndexBucketed(spark, root, 4),
          "doc_id", "text", 5, batchId = 2L)
        .as[(Long, Int, Int, Int)].collect().toSet
      val viaMemory = SuffixDedup.duplicatedSpansIncremental(batch,
          SuffixDedup.gramIndex(b0, "text", 5, 0L).unionByName(
            SuffixDedup.gramIndex(b1, "text", 5, 1L)
              .join(SuffixDedup.gramIndex(b0, "text", 5, 0L),
                Seq("g"), "left_anti")),
          "doc_id", "text", 5, batchId = 2L)
        .as[(Long, Int, Int, Int)].collect().toSet
      assert(viaTable == viaMemory && viaTable.nonEmpty,
        s"table=$viaTable memory=$viaMemory")
      // restart re-adoption: the table is EXTERNAL, so losing the
      // (in-memory) catalog entry — a new session — must re-adopt the
      // files at the root with contents and bucketed layout intact
      spark.sql(s"DROP TABLE ${SuffixDedup.gramIndexTableName(root)}")
      val readopted = SuffixDedup.savedGramIndexBucketed(spark, root, 4)
      assert(readopted.as[(String, Long)].collect().toMap == idx,
        "re-adopted table must carry the same contents")
      // a bare scan legitimately reads "Bucketed: false (disabled by
      // query planner)" — no operator needs the grouping; the catalog
      // metadata is what re-adoption must restore (the join-side
      // zero-Exchange behavior is pinned in PlanShapeSpec)
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          SuffixDedup.gramIndexTableName(root))).bucketSpec
      assert(spec.exists(s => s.numBuckets == 4 &&
          s.bucketColumnNames == Seq("g")),
        s"re-adopted table must keep its bucket spec: $spec")
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${SuffixDedup.gramIndexTableName(root)}")
  }

  test("index erasure: exact with survivors, conservative without; mid-swap crash heals on next touch") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_gram_erase").toString
    // A and B share exactly one 5-gram; each also has unique grams
    val textA = "shared run one two three aaa alpha tail"
    val textB = "shared run one two three bbb beta other"
    def gramsOf(t: String): Set[String] = {
      val toks = t.split(" ")
      (0 to toks.length - 5).map(i => toks.slice(i, i + 5).mkString(" ")).toSet
    }
    val sharedGram = "shared run one two three"
    assert((gramsOf(textA) intersect gramsOf(textB)) == Set(sharedGram))
    // every call below uses the default bucket count: a root written
    // with default arguments must erase with default arguments
    def build(root: String): Unit =
      SuffixDedup.updateSavedGramIndexBucketed(root,
        Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
        "text", 5, batchId = 0L)
    def keySet(root: String): Set[String] =
      SuffixDedup.savedGramIndexBucketed(spark, root)
        .select("g").as[String].collect().toSet
    val (r1, r2, r3) =
      (tmp + "/exact", tmp + "/conservative", tmp + "/crash")
    try {
      // EXACT form: delete B's grams, keeping those the survivor A
      // still carries → key set ≡ a from-scratch index over A alone
      build(r1)
      SuffixDedup.deleteKeysFromSavedIndex(spark, r1,
        Seq(Tuple1(gramsOf(textB).toSeq)).toDF("gs")
          .select(explode(col("gs")).as("g")),
        keep = Some(Seq(Tuple1(gramsOf(textA).toSeq)).toDF("gs")
          .select(explode(col("gs")).as("g"))))
      assert(keySet(r1) == gramsOf(textA),
        s"exact erasure must equal the survivor-only build: ${keySet(r1)}")

      // CONSERVATIVE form: no survivors passed → the shared gram drops
      // too (compliance-safe over-delete)
      build(r2)
      SuffixDedup.deleteKeysFromSavedIndex(spark, r2,
        Seq(Tuple1(gramsOf(textB).toSeq)).toDF("gs")
          .select(explode(col("gs")).as("g")))
      assert(keySet(r2) == gramsOf(textA) -- Set(sharedGram),
        s"conservative erasure drops shared keys: ${keySet(r2)}")

      // mid-swap crash: root moved aside, replacement never landed —
      // the next updater must RESTORE the prior state, not read empty
      build(r3)
      val before = keySet(r3)
      val p = new org.apache.hadoop.fs.Path(r3)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.rename(p, graft.Swap.aside(p)))
      SuffixDedup.updateSavedGramIndexBucketed(r3,
        Seq((9L, "freshly ingested doc words here now")).toDF("doc_id", "text"),
        "text", 5, batchId = 1L)
      assert(keySet(r3).intersect(before) == before,
        "pre-crash state must survive the heal")
    } finally Seq(r1, r2, r3).foreach { r =>
      spark.sql(s"DROP TABLE IF EXISTS ${SuffixDedup.gramIndexTableName(r)}")
    }
  }

  test("bucketed index erasure: only bucket files holding deleted keys rewrite; others stay byte-identical") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bkt_erase").toString
    val root = tmp + "/index"
    val tbl = SuffixDedup.gramIndexTableName(root)
    try {
      // ~36 grams spread over 8 buckets
      val toks = (1 to 40).map(i => s"tok$i").mkString(" ")
      SuffixDedup.updateSavedGramIndexBucketed(root,
        Seq((1L, toks)).toDF("doc_id", "text"), "text", 5,
        batchId = 0L, buckets = 8)
      def files(): Map[String, Array[Byte]] =
        new java.io.File(root).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName ->
            java.nio.file.Files.readAllBytes(f.toPath)).toMap
      val before = files()
      val doomed = Seq("tok1 tok2 tok3 tok4 tok5", "tok20 tok21 tok22 tok23 tok24")
      // which files actually hold the doomed grams
      val affected = before.keySet.filter { name =>
        spark.read.parquet(s"$root/$name").select("g")
          .as[String].collect().exists(doomed.contains)
      }
      assert(affected.nonEmpty && affected.size < before.size,
        s"fixture must leave untouched buckets: $affected of ${before.size}")
      SuffixDedup.deleteKeysFromSavedIndex(spark, root,
        doomed.toDF("g"), buckets = 8)
      val after = files()
      val keys = SuffixDedup.savedGramIndexBucketed(spark, root, 8)
        .select("g").as[String].collect().toSet
      assert(doomed.forall(!keys.contains(_)), s"doomed keys remain: $keys")
      assert(keys.size == 36 - 2, s"non-deleted keys must all survive: ${keys.size}")
      for (name <- before.keySet -- affected)
        assert(after.contains(name) &&
          java.util.Arrays.equals(after(name), before(name)),
          s"untouched bucket file $name must stay byte-identical")
      for (name <- affected)
        assert(!after.contains(name), s"affected file $name must be gone")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed erasure re-run after a mid-delete crash converges to single copies") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bkt_crash").toString
    val root = tmp + "/index"
    val tbl = SuffixDedup.gramIndexTableName(root)
    try {
      val toks = (1 to 30).map(i => s"ck$i").mkString(" ")
      SuffixDedup.updateSavedGramIndexBucketed(root,
        Seq((1L, toks)).toDF("doc_id", "text"), "text", 5,
        batchId = 0L, buckets = 4)
      val doomed = Seq("ck1 ck2 ck3 ck4 ck5")
      // simulate run 1 crashing AFTER its kept-rows append but BEFORE
      // its old-file deletions: append the affected files' surviving
      // rows by hand, leave every original file in place
      val idx = SuffixDedup.savedGramIndexBucketed(spark, root, 4)
      val tagged = idx.withColumn("__f", input_file_name())
      val affected = tagged.join(doomed.toDF("g"), Seq("g"), "left_semi")
        .select("__f").distinct().as[String].collect().toSeq
      val keptOnce = tagged.filter(col("__f").isInCollection(affected))
        .join(doomed.toDF("g"), Seq("g"), "left_anti")
        .select("g", "first_batch_id").collect().toSeq
      spark.createDataFrame(
          spark.sparkContext.parallelize(keptOnce), idx.schema)
        .write.mode("append").insertInto(tbl)
      spark.catalog.refreshTable(tbl)
      // re-run the erasure: it must finish the job without compounding
      SuffixDedup.deleteKeysFromSavedIndex(spark, root,
        doomed.toDF("g"), buckets = 4)
      val out = SuffixDedup.savedGramIndexBucketed(spark, root, 4)
        .select("g").as[String].collect().toSeq
      assert(out.distinct.size == out.size,
        s"crash re-run left duplicate keys: ${out.groupBy(identity).filter(_._2.size > 1).keys}")
      assert(doomed.forall(!out.contains(_)), s"doomed keys remain: $out")
      assert(out.size == 26 - 1, s"survivor count wrong: ${out.size}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("benchOverlapSpans ≡ the gram engine (contaminatedSpans) — cross-side coverage theorem") {
    val p = "alpha beta gamma delta epsilon zeta eta"
    val bench = Seq(
      (100L, s"bench item one containing $p exactly"),
      (101L, "another bench item with different protected words entirely")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"train doc leaking $p mid body"),          // cross overlap
      (2L, "train doc with no bench overlap whatsoever today"),
      (3L, s"$p"),                                     // whole doc leaked
      (4L, "train train train train train train"),     // self-repeat, NOT bench
      (5L, "another bench item with different protected words entirely")
    ).toDF("doc_id", "text")
    val suffix = SuffixDedup
      .benchOverlapSpans(train, bench, "doc_id", "text", minTokens = 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    val gram = graft.ext.Decontam
      .contaminatedSpans(train, bench, "doc_id", "text", minTokens = 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(suffix == gram, s"suffix=$suffix\ngram=$gram")
    val docs = suffix.map(_._1)
    assert(docs == Set(1L, 3L, 5L), s"got $docs")
    assert(!docs.contains(4L),
      "corpus-internal repeats must NOT mark — bench overlaps only")
  }

  test("benchLongestOverlap: exact longest cross match, clamped, 0/-1 when under floor") {
    val p = (1 to 12).map(i => s"b$i").mkString(" ") // 12-token protected run
    val bench = Seq((100L, s"eval question text $p answer")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"pre $p post words"),          // full 12-token leak
      (2L, s"only b1 b2 b3 b4 here now"),  // 4 < minTokens → 0/-1
      (3L, "clean doc nothing shared at all")
    ).toDF("doc_id", "text")
    val out = SuffixDedup
      .benchLongestOverlap(train, bench, "doc_id", "text", minTokens = 5)
      .as[(Long, Int, Int)].collect().toSet
    assert(out == Set((1L, 12, 1), (2L, 0, -1), (3L, 0, -1)), s"got $out")
  }

  test("apply: every copy of duplicated text drops; unique content survives") {
    val docs = Seq(
      (1L, "copy me exactly five tokens"),
      (2L, "copy me exactly five tokens"),
      (3L, "unique words that appear once only here")
    ).toDF("doc_id", "text")
    val out = SuffixDedup.duplicatedSpansApply(docs, "doc_id", "text", 5)
      .select("doc_id", "n_tokens", "n_removed", "text_dedup")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((5, 5, "")) && out(2L) == ((5, 5, "")),
      s"both copies must drop entirely: $out")
    assert(out(3L) == ((7, 0, "unique words that appear once only here")))
  }

  test("key-index compaction: files shrink to one per touched bucket, identical probe, later folds append") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_gram_compact").toString + "/index"
    // five single-doc folds → five file sets
    (0 until 5).foreach { b =>
      SuffixDedup.updateSavedGramIndexBucketed(root,
        Seq((b.toLong, s"alpha bravo charlie delta echo shard$b tail one two")).toDF("doc_id", "text"),
        "text", 5, batchId = b.toLong, buckets = 2)
    }
    def rows() = SuffixDedup.savedGramIndexBucketed(spark, root, 2)
      .as[(String, Long)].collect().toMap
    def dataFiles(): Int = new java.io.File(root)
      .listFiles().count(_.getName.startsWith("part-"))
    val (beforeRows, beforeFiles) = (rows(), dataFiles())
    SuffixDedup.compactSavedKeyIndexBucketed(spark, root, buckets = 2)
    assert(dataFiles() < beforeFiles,
      s"compaction must shrink files ($beforeFiles -> ${dataFiles()})")
    assert(dataFiles() <= 2, "at most one file per bucket after compaction")
    assert(rows() == beforeRows, "rows identical after compaction")
    // a later fold still appends through the re-pinned bucket marker,
    // and the screen still probes the compacted index correctly
    SuffixDedup.updateSavedGramIndexBucketed(root,
      Seq((99L, "echo foxtrot golf hotel india juliet")).toDF("doc_id", "text"),
      "text", 5, batchId = 9L, buckets = 2)
    assert(rows().size > beforeRows.size)
    val probe = SuffixDedup.duplicatedSpansIncremental(
        Seq((100L, "xx alpha bravo charlie delta echo shard0 yy")).toDF("doc_id", "text"),
        SuffixDedup.savedGramIndexBucketed(spark, root, 2),
        "doc_id", "text", 5, batchId = 10L)
      .as[(Long, Int, Int, Int)].collect()
    assert(probe.nonEmpty, "the compacted index must still catch duplicated spans")
  }
}
