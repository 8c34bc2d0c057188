package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SemDedupSpec extends SparkSpec {

  import spark.implicits._

  // two tight bundles (near-dup groups) + two isolated vectors; ids
  // chosen arbitrarily — center selection is md5-keyed, so the spec
  // must hold for ANY id set
  private def fixture = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f)),         // exact dup of 1
    (3L, Array(0.99f, 0.1f, 0.0f)),        // near-dup of 1 (cos ≈ 0.995)
    (10L, Array(0.0f, 1.0f, 0.0f)),
    (11L, Array(0.0f, 0.98f, 0.15f)),      // near-dup of 10 (cos ≈ 0.988)
    (20L, Array(0.0f, 0.0f, 1.0f)),        // isolated
    (21L, Array(-1.0f, 0.5f, 0.0f))        // isolated
  ).toDF("vec_id", "embedding")

  private def run(nCenters: Int = 3, threshold: Double = 0.9) =
    SemDedup.semanticDedup(fixture, "vec_id", "embedding", nCenters, threshold)
      .select($"vec_id".as[Long], $"cluster".as[Long],
        $"dup_label".as[Long], $"is_keep".as[Boolean])
      .collect().sortBy(_._1).toSeq

  test("every input id appears exactly once; keep ⇔ own group label") {
    val out = run()
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    out.foreach { case (id, _, label, keep) =>
      assert(keep == (label == id), s"id $id: is_keep must mean label == id")
    }
    // labels are always group minima, so each group keeps exactly one
    val groups = out.groupBy(_._3)
    groups.foreach { case (label, members) =>
      assert(members.count(_._4) == 1, s"group $label keeps exactly one")
      assert(members.map(_._1).min == label, s"group label $label is the min id")
    }
  }

  test("identical and near-identical vectors share a group; isolated vectors are singleton keeps") {
    val out = run()
    val label = out.map(r => r._1 -> r._3).toMap
    assert(label(1L) == label(2L) && label(2L) == label(3L),
      "the {1,2,3} bundle is one semantic-dup group")
    assert(label(10L) == label(11L), "the {10,11} bundle is one group")
    assert(label(20L) == 20L && label(21L) == 21L, "isolated vectors keep themselves")
    assert(out.filter(r => Set(20L, 21L)(r._1)).forall(_._4))
  }

  test("duplicate groups never span coarse clusters") {
    val out = run()
    out.groupBy(_._3).foreach { case (label, members) =>
      assert(members.map(_._2).distinct.size == 1,
        s"group $label spans clusters ${members.map(_._2).distinct}")
    }
  }

  test("result is invariant under input partitioning and row order") {
    val base = run()
    val shuffled = SemDedup.semanticDedup(
        fixture.orderBy(rand(7)).repartition(5), "vec_id", "embedding",
        nCenters = 3, threshold = 0.9)
      .select($"vec_id".as[Long], $"cluster".as[Long],
        $"dup_label".as[Long], $"is_keep".as[Boolean])
      .collect().sortBy(_._1).toSeq
    assert(shuffled == base)
  }

  test("nCenters ≥ corpus size degenerates to every-vector-a-center and still groups dups") {
    val out = run(nCenters = 100)
    val label = out.map(r => r._1 -> r._3).toMap
    // exact dups tie at cosine 1.0 for both their own centers — the
    // min-center tiebreak still co-locates them
    assert(label(1L) == label(2L), "exact dups group even in the degenerate quantizer")
  }

  test("threshold above every pairwise cosine yields all singletons") {
    val out = run(threshold = 0.9999)
    // exact dups (cos = 1.0) still group; everything else is singleton
    assert(out.count(!_._4) == 1, "only the exact dup is dropped")
  }

  test("maxCluster guard refuses a hot cluster instead of the quadratic pair join") {
    // nCenters=1 puts all 7 vectors in one cluster — over any cap < 7
    // the operator must throw with the remediation message, and with
    // the cap raised it must return normally
    val e = intercept[IllegalStateException] {
      SemDedup.semanticDedup(fixture, "vec_id", "embedding",
        nCenters = 1, threshold = 0.9, maxCluster = 3)
    }
    assert(e.getMessage.contains("maxCluster") && e.getMessage.contains("nCenters"))
    val ok = SemDedup.semanticDedup(fixture, "vec_id", "embedding",
      nCenters = 1, threshold = 0.9, maxCluster = 7)
    assert(ok.count() == 7)
  }

  test("two-level assignment ≡ flat assignment when every cluster holds a super-center") {
    // Build the fixture AROUND the md5 draw: rank candidate ids by
    // md5 exactly as the quantizer does, anchor the 3 smallest (the
    // supers for nCenters = 9) on orthogonal axes, and spread the rest
    // round-robin as perturbed cluster members. Every cluster then
    // contains its own super, so each vector's global argmax center
    // sits inside its super's bucket and the two plans must agree
    // id-for-id — the unambiguous-bucket equivalence regime.
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ranked = (1L to 12L).sortBy(id => (md5hex(id.toString), id))
    val axes = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val rows = ranked.take(3).zipWithIndex.map { case (id, i) => (id, axes(i)) } ++
      ranked.drop(3).zipWithIndex.map { case (id, j) =>
        val i = j % 3
        // distinct deltas keep within-cluster cosines ≥ 0.95 while
        // cross-cluster stays ≤ 0.3 — argmax is never cross-cluster
        val v = axes(i).clone(); v((i + 1) % 3) = 0.1f * (j / 3 + 1)
        (id, v)
      }
    val df = rows.toDF("vec_id", "embedding")
    def assignments(r: org.apache.spark.sql.DataFrame) =
      r.select($"id".as[Long], $"cluster".as[Long]).collect().sortBy(_._1).toSeq
    val flat = assignments(SemDedup.assign(df, "vec_id", "embedding", nCenters = 9))
    val two = assignments(SemDedup.assignTwoLevel(df, "vec_id", "embedding", nCenters = 9))
    assert(two == flat, "two-level quantizer must reproduce the flat argmax " +
      "assignment when buckets are unambiguous")
    assert(flat.map(_._1) == (1L to 12L), "every vector assigned exactly once")
  }

  // ------------- incremental embedding-cosine screen + saved state

  // reference corpus: two tight directions + one isolated; incoming
  // batch: one near-copy of each reference direction + one fresh
  private def refRows = Seq(
    (2L, Array(1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 1.0f, 0.0f)),
    (6L, Array(0.7f, 0.7f, 0.1f)))
  private def inRows = Seq(
    (11L, Array(0.99f, 0.05f, 0.0f)),   // near-copy of 2 → drops
    (13L, Array(0.05f, 0.99f, 0.0f)),   // near-copy of 4 → drops
    (15L, Array(0.0f, 0.0f, 1.0f)))     // orthogonal fresh → survives

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_sem_spec").toString + "/state"

  test("newAgainstReferenceSemantic: same-cluster near-copies drop, fresh survives") {
    val out = SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 3, floor = 0.9)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toMap
    assert(out.keySet == Set(15L),
      s"near-copies must drop, the fresh vector must survive: $out")
  }

  test("saved semantic state: probe ≡ static screen; replay-gated; fold-idempotent") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
    def probe() = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toSet
    val static = SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 3, floor = 0.9)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toSet
    assert(probe() == static, "saved probe must equal the static screen")
    // fold replay: re-folding the same reference is a no-op
    val before = SemDedup.savedSemanticAssigned(spark, root, 4).count()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == before,
      "a replayed fold must append nothing")
    // the frozen quantizer is pinned: a different nCenters fails loudly
    val e = intercept[IllegalArgumentException] {
      SemDedup.updateSavedSemanticState(root,
        refRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        nCenters = 2, batchId = 2L, buckets = 4)
    }
    assert(e.getMessage.contains("nCenters"), e.getMessage)
  }

  test("saved semantic erasure: re-admit after erase, survivor still drops, idempotent") {
    val root = freshRoot()
    // make sure the deleted doc is NOT a frozen center: freeze centers
    // from the two survivors first, then fold the victim in batch 1
    SemDedup.updateSavedSemanticState(root,
      refRows.filter(_._1 != 2L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 0L, buckets = 4)
    SemDedup.updateSavedSemanticState(root,
      refRows.filter(_._1 == 2L).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 1L, buckets = 4)
    def screen() = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 9L, buckets = 4)
      .select($"vec_id".as[Long]).collect().toSet
    assert(screen() == Set(15L), "both near-copies drop pre-erase")
    SemDedup.deleteDocsFromSavedSemanticState(root,
      refRows.filter(_._1 == 2L).toDF("vec_id", "embedding"),
      "vec_id", buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4)
      .filter(col("doc") === 2L).isEmpty, "deleted doc's row must leave")
    assert(screen() == Set(11L, 15L),
      "the erased doc's near-copy re-admits; the survivor's still drops")
    val counts = SemDedup.savedSemanticAssigned(spark, root, 4).count()
    SemDedup.deleteDocsFromSavedSemanticState(root,
      refRows.filter(_._1 == 2L).toDF("vec_id", "embedding"),
      "vec_id", buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == counts,
      "re-delivered erasure must change nothing")
  }

  test("saved semantic erasure of a FROZEN CENTER rebuilds: contract holds, provenance survives") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
    // with nCenters = |reference| every doc is a center → any delete
    // takes the rebuild path
    SemDedup.deleteDocsFromSavedSemanticState(root,
      refRows.filter(_._1 == 2L).toDF("vec_id", "embedding"),
      "vec_id", buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_sem_rebuild")),
      "the rebuild sentinel must clear on completion")
    val state = SemDedup.savedSemanticAssigned(spark, root, 4)
      .select($"doc".as[Long], $"first_batch_id".as[Long]).collect().toMap
    assert(state.keySet == Set(4L, 6L), s"survivors only: $state")
    assert(state.values.toSet == Set(0L), "provenance must survive the rebuild")
    // the deleted center's vector is gone from the centers parquet too
    val centerIds = spark.read.parquet(root + "/centers")
      .select($"id".as[Long]).collect().toSet
    assert(!centerIds.contains(2L), "the deleted center's embedding must leave")
    val out = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 9L, buckets = 4)
      .select($"vec_id".as[Long]).collect().toSet
    assert(out == Set(11L, 15L),
      "post-rebuild: erased center's near-copy re-admits, survivor's drops")
  }

  test("semantic state compaction: fewer files, identical probe, markers survive") {
    val root = freshRoot()
    // three folds → three file sets per touched bucket
    refRows.zipWithIndex.foreach { case ((id, v), b) =>
      SemDedup.updateSavedSemanticState(root,
        Seq((id, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 1, batchId = b.toLong, buckets = 2)
    }
    def probe() = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 9L, buckets = 2)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toSet
    def dataFiles(): Int = {
      val d = new java.io.File(root + "/assigned")
      d.listFiles().count(f => f.getName.endsWith(".parquet") ||
        f.getName.startsWith("part-"))
    }
    val (beforeProbe, beforeFiles) = (probe(), dataFiles())
    SemDedup.compactSavedSemanticState(spark, root, buckets = 2)
    assert(dataFiles() < beforeFiles,
      s"compaction must shrink the file count ($beforeFiles -> ${dataFiles()})")
    assert(probe() == beforeProbe, "probe must be identical after compaction")
    assert(SemDedup.savedSemanticAssigned(spark, root, 2).count() == 3L)
    // a later fold still appends through the re-pinned bucket marker
    SemDedup.updateSavedSemanticState(root,
      inRows.take(1).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 1, batchId = 9L, buckets = 2)
    assert(SemDedup.savedSemanticAssigned(spark, root, 2).count() == 4L)
  }

  test("rebuild crash healing: unstamped tmp rolls back, stamped tmp commits, zero survivors resets") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 0L, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sentinel = new org.apache.hadoop.fs.Path(root, "_graft_sem_rebuild")
    // crash BEFORE the tmp completed: live state intact → roll back
    fs.create(sentinel, true).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".sem_rebuild_tmp"))
    SemDedup.healSemanticState(spark, root, 4)
    assert(!fs.exists(sentinel), "unstamped rebuild must roll back")
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == 3L,
      "rollback must leave the live state intact")
    // a STAMPED tmp with neither centers nor the _VIRGIN reset marker
    // is incoherent (quiescence-violating interleaving): heal must
    // fail loudly BEFORE touching the live state, never reset it
    fs.create(sentinel, true).close()
    val tmpDir = new org.apache.hadoop.fs.Path(root, ".sem_rebuild_tmp")
    fs.mkdirs(tmpDir)
    fs.create(new org.apache.hadoop.fs.Path(tmpDir, "_COMPLETE"), true).close()
    val bad = intercept[IllegalStateException] {
      SemDedup.healSemanticState(spark, root, 4)
    }
    assert(bad.getMessage.contains("_VIRGIN"), bad.getMessage)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == 3L,
      "an incoherent stamped tmp must not destroy the live state")
    fs.delete(tmpDir, true)
    fs.delete(sentinel, false)
    // a rebuild that deletes EVERYTHING commits a virgin reset: the
    // next fold re-freezes the quantizer with a different nCenters
    SemDedup.rebuildSavedSemanticState(spark, root,
      refRows.map(_._1).toDF("g"), buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "centers")),
      "a zero-survivor rebuild resets the quantizer")
    SemDedup.updateSavedSemanticState(root, inRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 1, batchId = 5L, buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == 3L,
      "the reset root must accept a fresh freeze under new parameters")
  }

  test("recenterSavedSemanticState: marker re-pins, state ≡ from-scratch freeze, provenance survives") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 0L, buckets = 4)
    SemDedup.recenterSavedSemanticState(spark, root, newNCenters = 3, buckets = 4)
    // the pinned count is now 3: folding at 3 works, at 2 refuses
    SemDedup.updateSavedSemanticState(root,
      inRows.take(1).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 1L, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      SemDedup.updateSavedSemanticState(root,
        inRows.take(1).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 2, batchId = 2L, buckets = 4)
    }
    assert(e.getMessage.contains("nCenters"), e.getMessage)
    // provenance survived the re-center
    val prov = SemDedup.savedSemanticAssigned(spark, root, 4)
      .filter(col("doc").isin(refRows.map(_._1): _*))
      .select($"first_batch_id".as[Long]).collect().toSet
    assert(prov == Set(0L), s"provenance must survive the re-center: $prov")
    // the re-centered state is bit-identical to a from-scratch freeze
    // at the new count over the same folded corpus (the md5-min
    // argument the catalog query hash-checks at scale)
    val fresh = freshRoot()
    SemDedup.updateSavedSemanticState(fresh, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
    def snap(r: String) = SemDedup.savedSemanticAssigned(spark, r, 4)
      .filter(col("doc").isin(refRows.map(_._1): _*))
      .select($"g".as[Long], $"doc".as[Long]).collect().toSet
    assert(snap(root) == snap(fresh),
      "re-centered assignment must equal a from-scratch freeze at the new count")
  }

  test("hot-cluster guard: saved probe refuses a runaway cluster, generous bound passes") {
    val root = freshRoot()
    // nCenters = 1 → every reference vector lands in ONE cluster
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 1, batchId = 0L, buckets = 4)
    val e = intercept[IllegalStateException] {
      SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4, maxCluster = 2)
    }
    assert(e.getMessage.contains("maxCluster"), e.getMessage)
    assert(e.getMessage.contains("recenterSavedSemanticState"), e.getMessage)
    // a generous bound changes nothing
    val out = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4, maxCluster = 100)
      .select($"vec_id".as[Long]).collect().toSet
    assert(out == SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4)
      .select($"vec_id".as[Long]).collect().toSet)
    // the static screen guards the same way
    intercept[IllegalStateException] {
      SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 1, floor = 0.9, maxCluster = 2)
    }
  }

  test("compaction swap crash heals: state read back intact from .swap_old (r17 ADVICE #1)") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 0L, buckets = 4)
    val before = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 9L, buckets = 4)
      .select($"vec_id".as[Long]).collect().toSet
    // simulate a compaction crash between swapInState's two renames:
    // the table root moved aside, nothing renamed in
    val aPath = new org.apache.hadoop.fs.Path(root + "/assigned")
    val fs = aPath.getFileSystem(spark.sessionState.newHadoopConf())
    val aside = new org.apache.hadoop.fs.Path(aPath.getParent,
      "." + aPath.getName + ".swap_old")
    assert(fs.rename(aPath, aside), "fixture: move the live state aside")
    // the catalog entry caches the old file listing — refresh like a
    // restarted session would plan fresh
    spark.catalog.refreshTable(SemDedup.semanticAssignedTableName(root))
    // the next probe heals at the ensureBucketedTable choke point and
    // reads the FULL state — not an empty root
    val after = SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 9L, buckets = 4)
      .select($"vec_id".as[Long]).collect().toSet
    assert(after == before,
      "a crashed compaction swap must heal, never read as empty state")
    assert(fs.exists(aPath) && !fs.exists(aside), "the aside copy renamed back")
  }

  test("centers publish crash (marker missing) fails loudly and re-pin recovers (r17 ADVICE #3)") {
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 0L, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(root, "_graft_sem_ncenters")
    fs.delete(marker, false) // the crash window: centers in, marker not yet
    val e = intercept[IllegalArgumentException] {
      SemDedup.updateSavedSemanticState(root,
        inRows.take(1).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 2, batchId = 1L, buckets = 4)
    }
    assert(e.getMessage.contains("marker is missing"), e.getMessage)
    // re-pin with the frozen count: everything works again
    val out = fs.create(marker, true)
    out.write("2".getBytes("UTF-8")); out.close()
    SemDedup.updateSavedSemanticState(root,
      inRows.take(1).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 2, batchId = 1L, buckets = 4)
    assert(SemDedup.savedSemanticAssigned(spark, root, 4).count() == 4L)
  }

  test("maxBatch guard refuses an oversized incoming batch before the broadcast (r18 VERDICT #4)") {
    // 3 incoming rows over a cap of 2: both screens must throw at the
    // operator boundary, naming the knob — NOT at Spark's broadcast
    // limit deep inside the exchange
    val e1 = intercept[IllegalStateException] {
      SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 3, floor = 0.9, maxBatch = 2)
    }
    assert(e1.getMessage.contains("maxBatch"), e1.getMessage)
    val root = freshRoot()
    SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
    val e2 = intercept[IllegalStateException] {
      SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4, maxBatch = 2)
    }
    assert(e2.getMessage.contains("maxBatch"), e2.getMessage)
    // at the bound (3 rows ≤ maxBatch=3) both run and equal the
    // unguarded screens row for row — the guard is a probe, never a
    // semantics change
    val guarded = SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 3, floor = 0.9, maxBatch = 3)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toSet
    val unguarded = SemDedup.newAgainstReferenceSemantic(
        inRows.toDF("vec_id", "embedding"), refRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCenters = 3, floor = 0.9)
      .select($"vec_id".as[Long], $"cluster".as[Long]).collect().toSet
    assert(guarded == unguarded)
    assert(SemDedup.newAgainstSavedSemantic(
        inRows.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
        floor = 0.9, batchId = 1L, buckets = 4, maxBatch = 3)
      .count() == unguarded.size.toLong)
  }

  test("rebuild finish: a crash anywhere in the stage delete loses no survivor") {
    // every delete under the stage fails in turn, through the session's
    // file system: the commit deletes the sentinel before the stage, so
    // a partial stage can never be re-committed by the next heal
    import graft.FaultFs
    spark.conf.set("fs.file.impl", classOf[FaultFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      // the state a heal leaves after the rebuild met `fault`
      def rebuildWith(fault: String => FaultFs.Fault)
          : (FaultFs.Fault, scala.util.Try[Set[Long]]) = {
        val root = freshRoot()
        SemDedup.updateSavedSemanticState(root, refRows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", nCenters = 3, batchId = 0L, buckets = 4)
        val f = fault(new org.apache.hadoop.fs.Path(root, ".sem_rebuild_tmp")
          .toUri.getPath)
        FaultFs.installed = f
        try SemDedup.rebuildSavedSemanticState(spark, root, Seq(2L).toDF("g"),
          buckets = 4)
        catch { case _: Exception if f.tripped => () }
        finally FaultFs.installed = FaultFs.census("/")
        (f, scala.util.Try {
          SemDedup.healSemanticState(spark, root, 4)
          spark.catalog.refreshTable(SemDedup.semanticAssignedTableName(root))
          SemDedup.savedSemanticAssigned(spark, root, 4)
            .select($"doc".as[Long]).collect().toSet
        })
      }
      val (clean, cleanDocs) = rebuildWith(FaultFs.census(_, Set("delete")))
      assert(cleanDocs.get == Set(4L, 6L))
      val n = clean.count
      assert(n > 3, s"the stage delete expands to only $n deletes")
      // a crash before the commit (the stale-stage delete, the writers'
      // own cleanup) leaves the live state intact; one after it leaves
      // the rebuilt state — anything else lost survivors
      val bad = (1 to n).flatMap { k =>
        val (f, docs) = rebuildWith(
          new FaultFs.Fault(Set("delete"), _, k, crash = true))
        assert(f.tripped, s"delete #$k of $n never ran")
        if (docs.toOption.exists(d => d == Set(2L, 4L, 6L) || d == Set(4L, 6L))) None
        else Some(s"#$k -> $docs")
      }
      assert(bad.isEmpty, s"crash points of $n that lost survivors: $bad")
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
