package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.catalyst.util.QuantileSummaries.Stats
import org.apache.spark.sql.functions._

/** Saved MERGEABLE sketch state for distinct counts (HLL) and
  * quantiles (GK) — parity with [[HeavyHitters.updateSavedSummary]]
  * (r13 VERDICT #3): a 100 TB streaming monitor answers "how many
  * distinct users / where is p95" from a tiny saved state merged per
  * micro-batch, never rescanning the accumulated lake.
  *
  * HLL here is the PORTABLE register form, not Spark's opaque HLL++
  * buffer: register index and rank derive from the same md5 posture
  * the splits/minhash family uses (top-15-hex-chars 60-bit hash), so
  * the register table is hash-checkable in DuckDB — the
  * `agg_hll_portable` catalog entry replays every register exactly.
  * Registers merge by ELEMENTWISE MAX (associative + commutative +
  * idempotent), so saved state after any batching is IDENTICAL to the
  * one-shot sketch over the union — the strongest batch≡stream
  * property a sketch can have (Flajolet et al. 2007, HyperLogLog).
  *
  * GK persistence wraps Spark's own Greenwald–Khanna summary
  * (`QuantileSummaries`, the approx_percentile machinery — public
  * catalyst util): the (value, g, delta) triples persist to the lake
  * root and rebuild bit-for-bit; merge keeps the ε·n rank guarantee
  * (Greenwald & Khanna 2001; mergeability per Agarwal et al.,
  * PODS'12 — the [[HeavyHitters]] citation). Unlike HLL the merged
  * summary is batching-DEPENDENT as bytes, batching-INDEPENDENT in
  * its guarantee: any batching answers within ε·n ranks (spec-pinned
  * with the doubled-ε slack merging costs in the worst case).
  */
object SketchState {

  // ------------------------------------------------ crash-safe save

  /** Sibling dot-path of a state root: `<parent>/.<name><suffix>` —
    * invisible to a reader listing the parent as a lake root. */
  private[ext] def sibling(root: String, suffix: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(root)
    val parent = p.getParent
    if (parent == null) new org.apache.hadoop.fs.Path(root + suffix)
    else new org.apache.hadoop.fs.Path(parent, "." + p.getName + suffix)
  }

  private val BatchIdFile = "_graft_batch_id"

  /** THE path-form saved-state reader (shared by the path-parquet
    * state roots — the PII counts and the corpus report's scalars and
    * langs; the key and df indexes are bucketed tables only): heals a
    * crashed swap first, REFUSES a root carrying the bucketed marker
    * (reading a bucketed layout through the path form would at best
    * crash and at worst misplan — use its bucketed table form), and
    * returns an empty frame of
    * `schema` when the root holds no DATA files yet (a marker-only
    * root must not crash parquet schema inference). */
  private[graft] def readStateOrEmpty(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.Swap.heal(fs, p)
    if (fs.exists(p)) {
      val names = fs.listStatus(p).map(_.getPath.getName)
      // a bucketed root must never flow through the path form (reads
      // would misplan, appends would wedge the layout): the marker is
      // the primary signal, bucket ids in legacy pre-marker file
      // names the fallback
      val bucketed =
        names.contains(SuffixDedup.BucketsFile) ||
          names.exists(_.matches("part-.*_\\d{5}\\.c\\d{3}.*"))
      require(!bucketed,
        s"$root holds a BUCKETED saved state — read it through its " +
          "bucketed table form, not the path reader")
      val hasData = names.exists { n =>
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) return spark.read.parquet(root)
    }
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The last micro-batch id folded into the state at `root`, if any —
    * the exactly-once guard for NON-idempotent merges (additive CMS
    * cells, Misra–Gries counts) under foreachBatch's at-least-once
    * delivery (r14 ADVICE #1): a replayed batch with id ≤ this is
    * skipped, not re-folded. The marker is an `_`-prefixed file INSIDE
    * the state dir (invisible to parquet reads) so it swaps in
    * ATOMICALLY with the state itself — a marker updated in a separate
    * write could desync from the state on a crash between the two. */
  def lastAppliedBatchId(spark: SparkSession, root: String): Option[Long] = {
    val marker = new org.apache.hadoop.fs.Path(root, BatchIdFile)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    graft.Swap.heal(fs, marker.getParent)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (s.isEmpty) None else Some(s.toLong)
      } finally in.close()
    }
  }

  /** Spark conf key for the lagging-batch policy below: `"fail"`
    * aborts the stream on a batch id lagging the marker by more than
    * the one-batch replay window; anything else (default) warns and
    * skips. */
  val FailOnLaggingBatchKey = "graft.state.failOnLaggingBatch"

  /** True when `batchId` is a replay of an already-applied batch
    * (≤ the persisted marker). foreachBatch only ever re-delivers the
    * LAST uncommitted batch, so an id lagging the marker by MORE than
    * that one-batch replay window signals a stream restarted WITHOUT
    * its checkpoint (ids recycle from 0) against surviving saved
    * state — skipping then silently discards EVERY new batch until
    * the recycled ids catch the marker up, which is sustained data
    * loss, worse than an aborted stream (r15 ADVICE #5). That case
    * therefore FAILS FAST when [[FailOnLaggingBatchKey]] is set to
    * `"fail"` on the session; the default keeps the conservative
    * warn-and-skip (never double-count), for streams whose ids are
    * externally managed. Operational prerequisite, stated: saved-state
    * roots live and die WITH the streaming checkpoint — reset one,
    * reset both. */
  private[ext] def isReplayedBatch(last: Option[Long], batchId: Option[Long],
      root: String, failOnLag: Boolean = false): Boolean =
    (last, batchId) match {
      case (Some(l), Some(b)) if b <= l =>
        if (b < l) {
          val msg =
            s"[graft] batch $b lags last-applied $l at $root beyond the " +
              "one-batch replay window — if the streaming checkpoint was " +
              "reset, reset the saved state with it"
          if (failOnLag) throw new IllegalStateException(
            msg + s" (failing fast: $FailOnLaggingBatchKey=fail — every " +
              "batch until ids catch up would otherwise be discarded)")
          System.err.println(
            msg + " (this batch is SKIPPED to avoid double-counting)")
        }
        true
      case _ => false
    }

  /** The session's [[FailOnLaggingBatchKey]] policy. */
  private[ext] def failOnLag(spark: SparkSession): Boolean =
    spark.conf.getOption(FailOnLaggingBatchKey).contains("fail")

  /** Drop the saved state at `root` entirely (state + batch marker +
    * any in-flight swap siblings) — the ERASURE path for the sketch
    * monitors: a lossy fold keeps no per-key residue, so a per-key
    * delete is information-theoretically impossible and the honest
    * right-to-erasure verb is reset-then-rebuild over the surviving
    * lake ([[graft.streaming.CorpusStreams.propagateDocDelete]]'s
    * scaladoc carries the operational contract). */
  def resetState(spark: SparkSession, root: String): Unit = {
    val tmp = sibling(root, ".swap_tmp")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(tmp, true)
    graft.Swap.swap(fs, new org.apache.hadoop.fs.Path(root), tmp)
  }

  /** Crash-safe replacement of the saved state at `root` (r14 ADVICE
    * #2): `mode("overwrite")` in place deletes the directory BEFORE
    * writing, so a crash mid-write destroys the only copy of the
    * accumulated state. Here `write` lands the new state in the
    * dot-prefixed sibling `.<name>.swap_tmp` and [[graft.Swap.swap]]
    * commits it; every reader heals with [[graft.Swap.heal]] first. */
  private[ext] def swapInState(spark: SparkSession, root: String)
      (write: String => Unit): Unit = {
    val tmp = sibling(root, ".swap_tmp")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(tmp, true)
    write(tmp.toString)
    graft.Swap.swap(fs, new org.apache.hadoop.fs.Path(root), tmp)
  }

  /** [[swapInState]] for the common bounded-table shape: materialize
    * `merged` on the driver (≤ a construction-bounded row count at
    * every call site), write it + the optional batch-id marker to the
    * temp dir, swap. */
  private[ext] def replaceState(spark: SparkSession, root: String,
      merged: DataFrame, batchId: Option[Long]): Unit = {
    val rows = merged.collect()
    swapInState(spark, root) { tmpDir =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), merged.schema)
        .repartition(1).write.mode("overwrite").parquet(tmpDir)
      batchId.foreach { id =>
        val fs = new org.apache.hadoop.fs.Path(tmpDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val out = fs.create(
          new org.apache.hadoop.fs.Path(tmpDir, BatchIdFile), true)
        try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      }
    }
  }

  // ------------------------------------------------ portable HLL

  /** Default precision: 2^12 = 4096 registers, rse ≈ 1.04/64 ≈ 1.6%. */
  val DefaultP = 12

  /** The 60-bit portable key hash — the splits-assign posture: top 15
    * hex chars of md5 of the string form, so DuckDB replays it as
    * `('0x' || substr(md5(k::VARCHAR), 1, 15))::BIGINT`. */
  private def h60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** HLL register table of a key column: one row per NONZERO register,
    * (reg_idx, max_rank) — reg_idx = top p hash bits, rank = leading
    * zeros in the remaining (60-p)-bit window + 1 (via the binary-
    * string length, exact integers end to end; a zero window ranks
    * 60-p+1). Nulls are skipped. Output is a pure function of the key
    * SET — duplicates collapse under max — and is partitioning-
    * independent. One scan, one map-side-combinable max-aggregate of
    * at most 2^p groups. */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = DefaultP): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val wBits = 60 - p
    val h = h60(col(keyCol))
    val w = h.bitwiseAND(lit((1L << wBits) - 1))
    val rank = when(w > 0, lit(wBits + 1) - length(conv(w, 10, 2)))
      .otherwise(lit(wBits + 1))
    df.where(col(keyCol).isNotNull)
      .select(shiftright(h, wBits).as("reg_idx"), rank.cast("long").as("r"))
      .groupBy("reg_idx").agg(max(col("r")).as("max_rank"))
  }

  /** Merge a micro-batch into the saved register table under `root`
    * (parquet, ≤ 2^p rows): elementwise max, so after ANY number of
    * batches the saved table ≡ [[hllRegisters]] over the union —
    * spec-pinned as exact frame equality. The merged table is
    * materialized on the driver FIRST (≤ 2^p rows by construction)
    * and lands via the crash-safe [[swapInState]] swap; max-merge is
    * idempotent, so at-least-once replay needs no batch-id guard. */
  def updateSavedHll(root: String, batch: DataFrame, keyCol: String,
      p: Int = DefaultP): Unit = {
    val spark = batch.sparkSession
    val bs = hllRegisters(batch, keyCol, p)
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    graft.Swap.heal(fs, path)
    val merged =
      if (fs.exists(path))
        spark.read.parquet(root).unionByName(bs)
          .groupBy("reg_idx").agg(max(col("max_rank")).as("max_rank"))
      else bs
    replaceState(spark, root, merged, batchId = None)
  }

  /** Distinct-count estimate from a register table: the HLL composite
    * estimator with the exact-dyadic harmonic sum — `sum_scaled` =
    * Σ_j 2^(S − M_j) over ALL m registers (S = max rank = 60−p+1,
    * empty registers contribute 2^S) is an EXACT BIGINT (< m·2^S ≤
    * 2^61); the estimate is alpha·m²·2^S / sum_scaled with the
    * standard linear-counting fallback below 2.5m when empty
    * registers remain. One row: (n_empty, sum_scaled, estimate). */
  def hllEstimate(registers: DataFrame, p: Int = DefaultP): DataFrame = {
    val m = 1L << p
    val s = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    hllStats(registers, p)
      .select(col("n_empty"), col("sum_scaled"),
        when(col("n_empty") > 0 &&
            lit(alpha * m * m) * lit(math.pow(2.0, s)) / col("sum_scaled") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_empty")))
          .otherwise(lit(alpha * m * m) * lit(math.pow(2.0, s)) / col("sum_scaled"))
          .as("estimate"))
  }

  /** [[hllEstimate]] over the saved state — the no-rescan query. */
  def hllEstimateFromSaved(spark: SparkSession, root: String,
      p: Int = DefaultP): DataFrame =
    hllEstimate(readState(spark, root), p)

  /** Saved-state read with mid-swap crash recovery. */
  private def readState(spark: SparkSession, root: String): DataFrame = {
    graft.Swap.heal(spark, root)
    spark.read.parquet(root)
  }

  /** The EXACT-INTEGER half of [[hllEstimate]]: one row
    * (n_empty, sum_scaled) — both pure BIGINT functions of the
    * register table, engine-replayable without the estimator's libm
    * log (which is why the `agg_hll_overlap` catalog entry emits
    * these and leaves the double estimate to the spec's rse bound). */
  def hllStats(registers: DataFrame, p: Int = DefaultP): DataFrame = {
    val m = 1L << p
    val s = 60 - p + 1
    registers
      .agg(count(lit(1)).as("__nz"),
        coalesce(sum(expr(s"shiftleft(1L, cast($s - max_rank as int))")),
          lit(0L)).as("__snz"))
      .select((lit(m) - col("__nz")).as("n_empty"),
        (col("__snz") + (lit(m) - col("__nz")) * lit(1L << s)).as("sum_scaled"))
  }

  /** Elementwise-max union of register tables — the |A ∪ B| state a
    * two-corpus overlap reads without ever joining the corpora:
    * est |A ∩ B| = est(A) + est(B) − est(A ∪ B) by
    * inclusion-exclusion over three [[hllEstimate]] calls. */
  def hllUnion(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("reg_idx").agg(max(col("max_rank")).as("max_rank"))

  // ------------------------------------------------ Count-Min

  /** Default CMS shape: 4 lanes × 512 buckets — ε = e/512 ≈ 0.5% of
    * the stream per cell, δ = e^-4. */
  val CmsDepth = 4
  val CmsWidth = 512

  /** Count-Min cell table (Cormode & Muthukrishnan 2005) of a key
    * column: one row per NONZERO cell, (lane, bucket, cnt). Lane
    * hashes are independent md5 draws over `"<lane>_" ‖ key` reduced
    * to the top-15-hex 60-bit value mod width — no modular
    * multiplication, so the whole construction stays in exact BIGINT
    * arithmetic that DuckDB replays verbatim (the `agg_countmin`
    * catalog entry hash-checks every cell). Cells merge by ADDITION
    * (associative + commutative), so saved state after any
    * micro-batching is IDENTICAL to the one-shot sketch — the HLL
    * register property, for frequencies instead of cardinality. Point
    * estimate = min over lanes, always ≥ the true count. */
  def cmsCells(df: DataFrame, keyCol: String, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    require(depth >= 1 && depth <= 16 && width >= 2, "bad CMS shape")
    val lanes = (0 until depth).map { j =>
      struct(lit(j).as("lane"),
        (h60(concat(lit(s"${j}_"), col(keyCol).cast("string"))) % width)
          .as("bucket"))
    }
    df.where(col(keyCol).isNotNull)
      .select(explode(array(lanes: _*)).as("c"))
      .groupBy(col("c.lane").as("lane"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge a micro-batch into the saved cell table under `root`
    * (parquet, ≤ depth·width rows): cell-wise ADDITION, so after any
    * number of batches the saved table ≡ [[cmsCells]] over the
    * concatenated stream — spec-pinned as exact frame equality. Same
    * driver-materialize-first discipline as [[updateSavedHll]], via
    * the crash-safe swap.
    *
    * UNLIKE the HLL/Bloom siblings the cell merge is NOT idempotent,
    * and foreachBatch delivers micro-batches at-least-once — a batch
    * replayed after a failure would fold in twice and silently inflate
    * every count (r14 ADVICE #1). Callers with replayable sources pass
    * the foreachBatch `batchId`: a batch with id ≤ the persisted
    * last-applied marker is skipped, and the marker swaps in
    * atomically with the state ([[lastAppliedBatchId]]), so the
    * documented "saved state ≡ one-shot sketch over the concatenated
    * stream" claim survives replays. */
  def updateSavedCms(root: String, batch: DataFrame, keyCol: String,
      depth: Int = CmsDepth, width: Int = CmsWidth,
      batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val last = lastAppliedBatchId(spark, root) // recovers a mid-swap crash
    if (isReplayedBatch(last, batchId, root, failOnLag(spark))) return
    val bs = cmsCells(batch, keyCol, depth, width)
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (fs.exists(path))
        spark.read.parquet(root).unionByName(bs)
          .groupBy("lane", "bucket").agg(sum(col("cnt")).as("cnt"))
      else bs
    replaceState(spark, root, merged, batchId.orElse(last))
  }

  /** Equi-join cardinality estimate from two CMS cell tables of the
    * SAME shape — the Cormode–Muthukrishnan inner-product estimate
    * (2005 §4.2, after Alon–Matias–Szegedy): per lane,
    * Σ_bucket cntA·cntB ≥ Σ_key fA(k)·fB(k) = |A ⋈ B| (collisions
    * only ADD), so min over lanes is the tightest upper bound the
    * sketch offers — what a planner reads off SAVED state to size a
    * 100 TB join's output (shuffle partitions, broadcast eligibility)
    * WITHOUT running the join or scanning either side. Exact BIGINT
    * end to end (counts and products — no estimator float), so every
    * lane's inner product is oracle-replayable.
    *
    * @return one row per lane of `a` (a lane with no shared buckets
    *         reads 0 — disjoint sides estimate zero, not the min of
    *         the other lanes): (lane, inner_product, est) —
    *         est = min over the lanes. */
  def cmsJoinCardinality(a: DataFrame, b: DataFrame): DataFrame = {
    val ip = a.select(col("lane"), col("bucket"), col("cnt").as("__ca"))
      .join(b.select(col("lane"), col("bucket"), col("cnt").as("__cb")),
        Seq("lane", "bucket"))
      .groupBy("lane")
      .agg(sum(col("__ca") * col("__cb")).as("__ip"))
    val j = a.select("lane").distinct()
      .join(ip, Seq("lane"), "left_outer")
      .select(col("lane"), coalesce(col("__ip"), lit(0L)).as("inner_product"))
    j.crossJoin(broadcast(j.agg(min(col("inner_product")).as("est"))))
  }

  /** Frequency estimates for a key frame against a cell table: min
    * over lanes of the key's cells (a missing cell is 0). One
    * broadcast-sized join per lane — the cell table is ≤ depth·width
    * rows by construction. Output: (keyCol, estimate). */
  def cmsEstimate(cells: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    val lanes = (0 until depth).map { j =>
      struct(lit(j).as("lane"),
        (h60(concat(lit(s"${j}_"), col(keyCol).cast("string"))) % width)
          .as("bucket"))
    }
    keys.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(array(lanes: _*)).as("c"))
      .select(col(keyCol), col("c.lane").as("lane"), col("c.bucket").as("bucket"))
      .join(broadcast(cells), Seq("lane", "bucket"), "left_outer")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("estimate"))
  }

  /** [[cmsEstimate]] over the saved state — the no-rescan query. */
  def cmsEstimateFromSaved(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame =
    cmsEstimate(readState(spark, root), keys, keyCol, depth, width)

  // ------------------------------------------------ portable Bloom

  /** Default Bloom shape: 2^15 bits (4 KiB) × 4 lanes — FP rate
    * ≈ (1 − e^{−4n/32768})⁴, under 1% to ~2.4k keys. */
  val BloomBits = 32768
  val BloomHashes = 4

  /** Bloom bit table of a key column (Bloom 1970), packed 32 bits per
    * BIGINT word: one row per NONZERO word, (word_idx, bits). The j
    * lane positions are independent md5 draws over `"b<lane>_" ‖ key`
    * (the [[cmsCells]] lane posture) mod `bits`; 32-bit packing keeps
    * every mask ≤ 2^31, so no sign-bit/overflow seam crosses the
    * oracle (DuckDB range-checks BIGINT `<<`). Words merge by BITWISE
    * OR (associative + commutative + IDEMPOTENT), so saved state
    * after any micro-batching — including replayed batches — is
    * IDENTICAL to the one-shot sketch over the union: the HLL
    * max-merge property, for membership instead of cardinality (so
    * at-least-once replay needs no batch-id guard, unlike the additive
    * [[updateSavedCms]]). The
    * `agg_bloom_portable` catalog entry hash-checks every word in
    * DuckDB. One scan, one map-side-combinable bit_or of ≤ bits/32
    * groups. */
  def bloomWords(df: DataFrame, keyCol: String, bits: Int = BloomBits,
      hashes: Int = BloomHashes): DataFrame = {
    require(bits % 32 == 0 && bits >= 32, "bits must be a positive multiple of 32")
    require(hashes >= 1 && hashes <= 16, "hashes must be in [1, 16]")
    val lanes = (0 until hashes).map { j =>
      h60(concat(lit(s"b${j}_"), col(keyCol).cast("string"))) % bits
    }
    df.where(col(keyCol).isNotNull)
      .select(explode(array(lanes: _*)).as("p"))
      .select(expr("shiftright(p, 5)").as("word_idx"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("b"))
      .groupBy("word_idx").agg(expr("bit_or(b)").as("bits"))
  }

  /** Merge a micro-batch into the saved word table under `root`
    * (parquet, ≤ bits/32 rows): word-wise OR, so after ANY batching
    * the saved table ≡ [[bloomWords]] over the union — spec-pinned as
    * exact frame equality (and idempotent: re-merging a replayed
    * batch changes nothing). Same driver-materialize-first discipline
    * as [[updateSavedHll]], via the crash-safe swap. */
  def updateSavedBloom(root: String, batch: DataFrame, keyCol: String,
      bits: Int = BloomBits, hashes: Int = BloomHashes): Unit = {
    val spark = batch.sparkSession
    val bs = bloomWords(batch, keyCol, bits, hashes)
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    graft.Swap.heal(fs, path)
    val merged =
      if (fs.exists(path))
        spark.read.parquet(root).unionByName(bs)
          .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
      else bs
    replaceState(spark, root, merged, batchId = None)
  }

  /** Membership probe of a key frame against a word table: a key
    * might be present iff ALL its lane bits are set (no false
    * negatives by construction; FP rate set by the shape). One
    * broadcast join — the word table is ≤ bits/32 rows by
    * construction, the no-rescan decontamination screen shape.
    * Output: (keyCol, might_contain). */
  def bloomMightContain(words: DataFrame, keys: DataFrame, keyCol: String,
      bits: Int = BloomBits, hashes: Int = BloomHashes): DataFrame = {
    val lanes = (0 until hashes).map { j =>
      h60(concat(lit(s"b${j}_"), col(keyCol).cast("string"))) % bits
    }
    keys.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(array(lanes: _*)).as("p"))
      .select(col(keyCol), expr("shiftright(p, 5)").as("word_idx"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("m"))
      .join(broadcast(words), Seq("word_idx"), "left_outer")
      .withColumn("__hit",
        coalesce(col("bits").bitwiseAND(col("m")) =!= 0L, lit(false)))
      .groupBy(keyCol)
      .agg(min(col("__hit")).as("might_contain"))
  }

  /** [[bloomMightContain]] over the saved state — the no-rescan
    * membership screen. */
  def bloomMightContainFromSaved(spark: SparkSession, root: String,
      keys: DataFrame, keyCol: String, bits: Int = BloomBits,
      hashes: Int = BloomHashes): DataFrame =
    bloomMightContain(readState(spark, root), keys, keyCol, bits, hashes)

  // ------------------------------------------------ GK quantiles

  private val Threshold = QuantileSummaries.defaultCompressThreshold

  /** Build a GK summary of a numeric column distributed: per-partition
    * inserts, tree-merged compressed summaries — the
    * approx_percentile aggregation path, surfaced as a value the
    * caller can persist. Nulls are skipped. */
  def gkSummarize(df: DataFrame, valCol: String,
      eps: Double = 0.01): QuantileSummaries = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    val zero = new QuantileSummaries(Threshold, eps, Array.empty[Stats], 0L, false)
    df.select(col(valCol).cast("double")).na.drop().rdd
      .map(_.getDouble(0))
      .treeAggregate(zero)(
        (summ, v) => summ.insert(v),
        (a, b) => a.compress().merge(b.compress()))
      .compress()
  }

  /** Persist a summary under `root`: `root/sampled` holds the ordered
    * (idx, value, g, delta) triples, `root/meta` the (count, eps)
    * envelope. Round-trips bit-for-bit ([[loadGk]]). Both parts write
    * to a temp sibling and the WHOLE root swaps at once (crash-safe,
    * and never sampled-from-one-write/meta-from-another); `batchId`
    * persists the exactly-once marker for [[updateSavedGk]] (GK merge
    * is additive in `count`, the [[updateSavedCms]] hazard). */
  def saveGk(spark: SparkSession, summ: QuantileSummaries, root: String,
      batchId: Option[Long] = None): Unit = {
    import spark.implicits._
    swapInState(spark, root) { tmpDir =>
      summ.sampled.zipWithIndex.toSeq
        .map { case (st, i) => (i, st.value, st.g, st.delta) }
        .toDF("idx", "value", "g", "delta")
        .repartition(1).write.mode("overwrite").parquet(tmpDir + "/sampled")
      Seq((summ.count, summ.relativeError))
        .toDF("count", "eps")
        .repartition(1).write.mode("overwrite").parquet(tmpDir + "/meta")
      batchId.foreach { id =>
        val fs = new org.apache.hadoop.fs.Path(tmpDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val out = fs.create(
          new org.apache.hadoop.fs.Path(tmpDir, BatchIdFile), true)
        try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      }
    }
  }

  /** Rebuild the persisted summary. */
  def loadGk(spark: SparkSession, root: String): QuantileSummaries = {
    graft.Swap.heal(spark, root)
    val meta = spark.read.parquet(root + "/meta").head()
    val sampled = spark.read.parquet(root + "/sampled")
      .orderBy("idx")
      .select("value", "g", "delta").collect()
      .map(r => Stats(r.getDouble(0), r.getLong(1), r.getLong(2)))
    new QuantileSummaries(Threshold, meta.getDouble(1), sampled,
      meta.getLong(0), true)
  }

  /** Merge a micro-batch into the saved summary under `root` (create
    * on first batch): summarize the batch, merge into the loaded
    * state, compress, persist. The saved state keeps the ε·n rank
    * guarantee over the WHOLE stream; quantile queries come from
    * [[loadGk]] + `query`, never from rescanning the lake. */
  def updateSavedGk(root: String, batch: DataFrame, valCol: String,
      eps: Double = 0.01, batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val last = lastAppliedBatchId(spark, root) // recovers a mid-swap crash
    // the merge is additive in `count` — skip replayed batches
    // (the [[updateSavedCms]] exactly-once guard)
    if (isReplayedBatch(last, batchId, root, failOnLag(spark))) return
    val bs = gkSummarize(batch, valCol, eps)
    val path = new org.apache.hadoop.fs.Path(root + "/meta")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (fs.exists(path)) loadGk(spark, root).merge(bs).compress()
      else bs
    saveGk(spark, merged, root, batchId.orElse(last))
  }
}
