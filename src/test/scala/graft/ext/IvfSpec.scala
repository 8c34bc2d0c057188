package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class IvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = graft.Tables.embeddings(spark, sf)

  test("exhaustive probe (nprobe = nClusters) equals brute-force top-k") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val ivf = Ivf.searchTopK(index, queries, "vec_id", "embedding",
        k = 10, nprobe = 8)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.topK(embeddings, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("self is always found at rank 1 (own cluster is the nearest probe)") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val top1 = Ivf.searchTopK(index, queries, "vec_id", "embedding",
        k = 1, nprobe = 1, excludeSelf = false)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(top1.length == 3)
    top1.foreach { case (q, n, r) => assert(r == 1 && q == n, s"query $q found $n") }
  }

  test("low nprobe bounds scored candidates to the probed clusters") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") === 0)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val clusterSizes = index.assigned.groupBy("cluster").count()
      .as[(Int, Long)].collect().toMap
    // candidates scored with nprobe=2 can't exceed the two largest clusters
    val scoredAll = Ivf.searchTopK(index, queries, "vec_id", "embedding",
      k = 1000, nprobe = 2, excludeSelf = false)
    val n = scoredAll.count()
    val bound = clusterSizes.values.toSeq.sorted.takeRight(2).sum
    assert(n <= bound, s"scored $n rows > 2-cluster bound $bound")
    assert(n < embeddings.count(), "nprobe=2 must not scan the full corpus")
  }

  test("broadcast-frame centroid path ≡ literal path, row for row") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    def rows(literalMax: Int) =
      Ivf.searchTopK(index, queries, "vec_id", "embedding",
          k = 5, nprobe = 2, literalMaxClusters = literalMax)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    // literalMaxClusters = 0 forces the broadcast-frame plan; same
    // cosine expression + same (score, cluster) tiebreak ⇒ identical
    assert(rows(64) == rows(0))
  }

  test("index assignment covers the corpus exactly once") {
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(index.assigned.count() == embeddings.count())
    assert(index.centroids.length == 8)
    assert(index.assigned.select("cluster").distinct().count() <= 8)
  }

  test("assignNew reproduces KMeans' own assignment for the same vectors") {
    import spark.implicits._
    // the codegen'd argmin must agree with ml's transform cluster for
    // every vector (distances are distinct in this corpus, so the
    // tiebreak never fires and equality is exact)
    val index = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    val fromKmeans = index.assigned
      .select(col("neighbor_id"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().toMap
    val empty = Ivf.Index(
      index.assigned.filter(lit(false)), index.centroids)
    val reassigned = Ivf.assignNew(empty, embeddings, "vec_id", "embedding")
      .assigned.select(col("neighbor_id"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(reassigned == fromKmeans,
      "argmin over literal centroids must equal ml transform")
  }

  test("save replaces the whole index, also in a dynamic-overwrite session") {
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val corpus = graft.Tables.embeddings(s, sf)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-resave").toString
    Ivf.save(Ivf.build(corpus, "vec_id", "embedding", nClusters = 8), root)
    val four = Ivf.build(corpus, "vec_id", "embedding", nClusters = 4)
    Ivf.save(four, root)
    val loaded = Ivf.load(s, root)
    assert(loaded.centroids.length == 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("neighbor_id"), col("cluster").cast("int")).collect().map(_.toString).sorted.toSeq
    val got = rows(loaded.assigned)
    assert(got.size == corpus.count(), s"${got.size} assigned rows for ${corpus.count()} vectors")
    assert(got == rows(four.assigned), "the 8-cluster index's rows survived the re-save")
  }

  test("streamed appendToSaved ingest: lake layout equals the all-at-once index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = embeddings.filter(col("vec_id") % 5 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Ivf.save(Ivf.build(base, "vec_id", "embedding", nClusters = 8), root)
    // the held-out 20% arrives as TWO micro-batches of an embedding
    // stream; each lands via the foreachBatch → appendToSaved path
    val held = embeddings.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect()
    val (b1, b2) = held.splitAt(held.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Ivf.appendToSaved(spark, root,
            batch.toDF().select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")),
            "vec_id", "embedding")
      }.start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val appended = Ivf.load(spark, root)
    assert(appended.assigned.count() == embeddings.count())
    val queries = embeddings.filter(col("vec_id") < 3)
    def rows(i: Ivf.Index) =
      Ivf.searchTopK(i, queries, "vec_id", "embedding", k = 5,
          nprobe = i.centroids.length)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val direct = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(rows(appended) == rows(direct),
      "exhaustive search over the streamed-in lake index must equal brute force")
  }

  test("assignNew search over an 80/20 split equals the all-at-once index") {
    import spark.implicits._
    val base = embeddings.filter(col("vec_id") % 5 =!= 0)
    val batch = embeddings.filter(col("vec_id") % 5 === 0)
    val appended = Ivf.assignNew(
      Ivf.build(base, "vec_id", "embedding", nClusters = 8),
      batch, "vec_id", "embedding")
    assert(appended.assigned.count() == embeddings.count())
    val queries = embeddings.filter(col("vec_id") < 3)
    def rows(i: Ivf.Index) =
      Ivf.searchTopK(i, queries, "vec_id", "embedding", k = 5,
          nprobe = i.centroids.length)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    // exhaustive probe ≡ brute force on both, so append must be
    // invisible in the result
    val direct = Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8)
    assert(rows(appended) == rows(direct))
  }

  test("deleteFromSaved: erased rows leave the lake layout; partitions rewrite surgically; idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_del").toString + "/ivf"
    Ivf.save(Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8), root)
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    val delIds = del.as[Long].collect().toSet
    val untouched = Ivf.load(spark, root).assigned
      .join(del.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .select(col("cluster").cast("int")).distinct()
      .as[Int].collect().toSet --
      Ivf.load(spark, root).assigned
        .join(del.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id"), "left_semi")
        .select(col("cluster").cast("int")).distinct()
        .as[Int].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mtimes(clusters: Set[Int]): Map[Int, Long] = clusters.map { c =>
      val d = new org.apache.hadoop.fs.Path(s"$root/assigned/cluster=$c")
      c -> fs.listStatus(d).map(_.getModificationTime).max
    }.toMap
    val before = mtimes(untouched)
    Ivf.deleteFromSaved(spark, root, del, "vec_id")
    val after = Ivf.load(spark, root)
    val ids = after.assigned.select($"neighbor_id".cast("long"))
      .as[Long].collect().toSet
    assert(ids.intersect(delIds).isEmpty, "erased ids must leave the index")
    assert(ids == embeddings.select($"vec_id").as[Long].collect().toSet
      .diff(delIds), "every survivor must remain")
    // partitions with no deleted row were never rewritten
    assert(mtimes(untouched) == before,
      "clusters holding no deleted row must not be touched")
    // search never returns an erased id, and equals brute force over
    // the survivors under exhaustive probing
    val got = Ivf.searchTopK(after,
        embeddings.filter(col("vec_id") < 3 && col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", k = 5, nprobe = after.centroids.length)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.topK(
        embeddings.filter(col("vec_id") % 7 =!= 0),
        embeddings.filter(col("vec_id") < 3 && col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == brute.toSeq)
    // idempotent: re-delivering the same erasure changes nothing
    Ivf.deleteFromSaved(spark, root, del, "vec_id")
    assert(Ivf.load(spark, root).assigned.count() == ids.size.toLong)
    // an entirely-deleted cluster's directory must drop, not linger:
    // erase EVERYTHING and check no cluster partition remains on disk
    Ivf.deleteFromSaved(spark, root,
      embeddings.select("vec_id"), "vec_id")
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/assigned"))
      .map(_.getPath.getName).filter(_.startsWith("cluster="))
    assert(left.isEmpty,
      s"a full erase must leave no cluster partitions, found: ${left.toSeq}")
  }

  test("deleteFromSaved crash protocol: stamped stage re-commits from staged copy; unstamped stage discards (r17 ADVICE #2)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_crash").toString + "/ivf"
    Ivf.save(Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8), root)
    val allIds = embeddings.select($"vec_id").as[Long].collect().toSet
    // --- unstamped stage (crash BEFORE the commit point): the live
    // layout was never touched — heal discards the stage
    val tmp = SketchState.sibling(s"$root/assigned", ".erase_tmp")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(tmp) // junk, no _AFFECTED marker
    val intact = Ivf.load(spark, root) // heals on load
    assert(!fs.exists(tmp), "an unstamped stage must be discarded")
    assert(intact.assigned.count() == allIds.size.toLong,
      "the live layout must be untouched")

    // --- stamped stage with a crash MID-COMMIT: replicate the commit
    // point exactly (survivors staged + _AFFECTED published), then
    // simulate Spark's dynamic-overwrite delete-before-rename crash by
    // removing one affected partition dir — the stage holds the ONLY
    // copy of that partition's survivors
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    val delIds = del.as[Long].collect().toSet
    val assigned = spark.read.parquet(s"$root/assigned")
    val affected = assigned
      .join(del.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_semi")
      .select(col("cluster").cast("int")).distinct().as[Int].collect().sorted
    assert(affected.nonEmpty, "fixture needs at least one affected cluster")
    assigned.filter(col("cluster").isInCollection(affected.toSeq))
      .join(del.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .write.parquet(tmp.toString)
    SuffixDedup.writeMarkerAtomic(fs, tmp, "_AFFECTED",
      affected.mkString(","))
    // the simulated crash: one affected partition's dir already deleted
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/assigned/cluster=${affected.head}"), true)
    // heal via load: the commit re-runs FROM THE STAGE — that
    // partition's survivors come back, deleted ids are gone everywhere
    val healed = Ivf.load(spark, root)
    val ids = healed.assigned.select($"neighbor_id".cast("long"))
      .as[Long].collect().toSet
    assert(ids == allIds.diff(delIds),
      "heal must finish the erase from the staged survivors — " +
        "no lost survivors, no resurrected deletes")
    assert(!fs.exists(tmp), "the stage is discarded only after the commit lands")
    // re-delivering the erase after the heal changes nothing
    Ivf.deleteFromSaved(spark, root, del, "vec_id")
    assert(Ivf.load(spark, root).assigned.count() == ids.size.toLong)
  }

  test("marker-first stage discard: a crash mid stage-delete leaves a marker-less partial stage the heal discards (r18 ADVICE)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_mfirst").toString + "/ivf"
    Ivf.save(Ivf.build(embeddings, "vec_id", "embedding", nClusters = 8), root)
    val del = embeddings.filter(col("vec_id") % 7 === 0).select("vec_id")
    Ivf.deleteFromSaved(spark, root, del, "vec_id") // commit fully lands
    val committed = Ivf.load(spark, root).assigned
      .select($"neighbor_id".cast("long")).as[Long].collect().toSet
    // the post-fix crash window: commitStagedErase drops the
    // _AFFECTED marker FIRST (single file, effectively atomic), then
    // the JVM dies mid stage-dir delete — leaving a marker-LESS
    // PARTIAL stage (some staged files already gone) beside the
    // fully-committed layout. Replicate it: a stage holding only ONE
    // cluster's survivor rows and no marker. Under the old
    // marker-LAST order this partial stage would still carry the
    // marker naming EVERY affected cluster, and the heal would
    // re-commit from it — reading the lost clusters as emptied and
    // dropping their live partitions (silent survivor loss).
    val tmp = SketchState.sibling(s"$root/assigned", ".erase_tmp")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    val assigned = spark.read.parquet(s"$root/assigned")
    val oneCluster = assigned.select(col("cluster").cast("int"))
      .distinct().limit(1).as[Int].collect().head
    assigned.filter(col("cluster") === oneCluster)
      .write.parquet(tmp.toString)
    val healed = Ivf.load(spark, root) // heal: marker-less ⇒ discard
    assert(!fs.exists(tmp), "a marker-less partial stage must be discarded")
    assert(healed.assigned.select($"neighbor_id".cast("long"))
      .as[Long].collect().toSet == committed,
      "the committed layout must be untouched — no survivor loss")
  }
}
