package graft.fred

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fred.io.LakeIO

/** Targeted delete propagation (right-to-be-forgotten): only
  * partitions containing matches are rewritten — untouched partitions
  * keep their exact files (asserted on name+length+mtime), a
  * fully-matching partition's leaf disappears, and a no-match
  * predicate is a no-op that rewrites nothing.
  */
class DeleteWhereSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("indicator", "observation_year")

  private def freshLake(): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete").toString + "/lake"
    val rows = for {
      ind <- Seq("A", "B", "C"); y <- Seq(2023, 2024); d <- 1 to 10
    } yield (ind, y, d, (d * 100 + y % 100).toDouble, s"u${d % 3}")
    LakeIO.writeParquet(
      rows.toDF("indicator", "observation_year", "observation_day",
        "value", "user"),
      root, parts)
    root
  }

  private def census(root: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out(f.getPath.toString) = (f.getLen, f.getModificationTime)
    }
    out.toMap
  }

  test("delete rewrites only matching partitions; others stay byte-untouched") {
    val root = freshLake()
    val before = census(root)
    // user u1 rows live in every partition of indicator A only for
    // this predicate; B/C partitions must not be rewritten
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "A" && col("user") === "u1", parts)
    assert(nPart == 2L, "A×{2023,2024} are the only affected leaves")
    assert(nRows == 8L, "4 u1 days (d ∈ {1,4,7,10}) × 2 years")
    val after = census(root)
    val untouched = before.filter(!_._1.contains("indicator=A"))
    assert(untouched.forall { case (f, meta) => after.get(f).contains(meta) },
      "non-matching partitions must keep their exact files")
    assert(after.keys.filter(_.contains("indicator=A"))
      .forall(f => !before.contains(f)),
      "matching partitions must have been rewritten")
    val left = spark.read.parquet(root)
    assert(left.count() == 60L - 8L)
    assert(left.filter(col("indicator") === "A" && col("user") === "u1")
      .count() == 0L)
    assert(left.filter(col("indicator") === "A").count() == 12L,
      "non-matching rows of the affected partitions survive")
  }

  test("a fully-matching partition's leaf is removed outright") {
    val root = freshLake()
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "C", parts)
    assert(nPart == 2L && nRows == 20L)
    assert(census(root).keys.forall(!_.contains("indicator=C")))
    val left = spark.read.parquet(root)
    assert(left.count() == 40L &&
      left.filter(col("indicator") === "C").count() == 0L)
  }

  test("no-match predicate is a no-op: zero rewrites, zero file churn") {
    val root = freshLake()
    val before = census(root)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("value") > 1e9, parts)
    assert(nPart == 0L && nRows == 0L)
    assert(census(root) == before)
  }

  test("NULL-predicate rows are not matches and must survive the rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete_null").toString + "/lake"
    LakeIO.writeParquet(
      Seq(("A", 2023, "u1"), ("A", 2023, null), ("A", 2023, "u2"))
        .toDF("indicator", "observation_year", "user"),
      root, parts)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("user") === "u1", parts)
    assert(nPart == 1L && nRows == 1L)
    val left = spark.read.parquet(root)
    assert(left.count() == 2L, "the NULL-user row must survive")
    assert(left.filter(col("user").isNull).count() == 1L)
  }

  test("delete is idempotent: a second run finds nothing") {
    val root = freshLake()
    LakeIO.deleteWhere(spark, root, col("user") === "u2", parts)
    val (n2, r2) = LakeIO.deleteWhere(spark, root, col("user") === "u2", parts)
    assert(n2 == 0L && r2 == 0L)
    assert(spark.read.parquet(root).filter(col("user") === "u2").count() == 0L)
  }

  test("special-character partition values: the escaped leaves are found and only they rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete_esc").toString + "/lake"
    val rows = for {
      ind <- Seq("A:B", "C%D", "E"); y <- Seq(2023, 2024); d <- 1 to 4
    } yield (ind, y, d, s"u${d % 2}")
    LakeIO.writeParquet(
      rows.toDF("indicator", "observation_year", "observation_day", "user"),
      root, parts)
    assert(new java.io.File(root, "indicator=A%3AB").isDirectory,
      "fixture: Spark escapes ':' in the partition directory")
    val before = census(root)
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("indicator") === "A:B" && col("user") === "u1", parts)
    assert(nPart == 2L && nRows == 4L)
    val after = census(root)
    assert(before.filter(!_._1.contains("indicator=A%3AB"))
      .forall { case (f, meta) => after.get(f).contains(meta) },
      "every other partition must keep its exact files")
    val left = spark.read.parquet(root)
    assert(left.count() == 24L - 4L)
    assert(left.filter(col("indicator") === "A:B").count() == 4L &&
      left.filter(col("indicator") === "A:B" && col("user") === "u1").isEmpty)
    // a fully-matching partition with a '%' in its value drops too
    assert(LakeIO.deleteWhere(spark, root, col("indicator") === "C%D", parts) ==
      ((2L, 8L)))
    assert(spark.read.parquet(root).filter(col("indicator") === "C%D").isEmpty)
  }

  test("healPartitionSwaps: a missing leaf restores from its aside; a stale aside purges (erased rows leave no hidden copy)") {
    val root = freshLake()
    val all = spark.read.parquet(root).count()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash between the two renames: the leaf's ONLY copy is the
    // invisible aside — every read silently misses the partition
    val leaf = new org.apache.hadoop.fs.Path(
      s"$root/indicator=A/observation_year=2023")
    val aside = graft.Swap.aside(leaf)
    assert(fs.rename(leaf, aside), "fixture: strand the leaf in its aside")
    assert(spark.read.parquet(root).count() < all,
      "fixture: the stranded partition must be invisible to reads")
    val (restored, _) = LakeIO.healPartitionSwaps(spark, root)
    assert(restored == 1L)
    assert(spark.read.parquet(root).count() == all,
      "the restored partition must be visible again")
    // crash between a landed swap and its aside-drop: the aside holds
    // the PRE-delete partition — for the right-to-be-forgotten op,
    // the deleted rows' last on-disk copy. The next op's heal purges.
    // staged OUTSIDE the lake root: a non-dot dir inside it would
    // break Spark's partition discovery
    val snapshot = new org.apache.hadoop.fs.Path(
      root + "_pre_delete_snapshot")
    org.apache.hadoop.fs.FileUtil.copy(fs, leaf, fs, snapshot, false,
      spark.sessionState.newHadoopConf())
    LakeIO.deleteWhere(spark, root,
      col("user") === "u1" && col("indicator") === "A" &&
        col("observation_year") === 2023, parts)
    val afterDelete = spark.read.parquet(root).count()
    assert(fs.rename(snapshot, aside), "fixture: plant the stale aside")
    val (_, purged) = LakeIO.healPartitionSwaps(spark, root)
    assert(purged == 1L && !fs.exists(aside),
      "a stale aside beside a live leaf must purge")
    assert(spark.read.parquet(root).count() == afterDelete,
      "the live layout stays post-delete")
    // the ops self-heal: strand the leaf again, then let deleteWhere's
    // own entry heal before it probes (a no-op predicate)
    assert(fs.rename(leaf, aside))
    val (nPart, nRows) = LakeIO.deleteWhere(spark, root,
      col("user") === "nobody", parts)
    assert(nPart == 0L && nRows == 0L)
    assert(spark.read.parquet(root).count() == afterDelete,
      "deleteWhere must heal the stranded partition before probing")
  }
}
