package graft.fred.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Partitioned-lake read/write (G2, G3, H1, H2).
  *
  * The reference hand-builds Hive-style paths
  * (`raw_data/indicator=…/year=…/month=…`, `extract_fred_data.py:216-219`)
  * and overwrites one file per partition (`load_bytes(replace=True)`,
  * `:225`). The Spark-native equivalent: write the partitioned ROOT
  * through one [[graft.Swap]] commit per leaf ([[commit]]) — exactly
  * the partitions present in the frame are replaced, the reference's
  * per-key `replace=True` — and read the root with filters, letting
  * Catalyst's `PruneFileSourcePartitions` skip everything else. No
  * string-built paths anywhere; at 100 TB the pruning + parquet
  * row-group stats do the work the reference's path arithmetic did.
  */
object LakeIO {

  val PartitionCols: Seq[String] = Seq("indicator", "observation_year", "observation_month")

  /** H1: bronze JSON-lines write, partition-replacing (`extract_fred_data.py:213-226`). */
  def writeBronze(df: DataFrame, root: String): Unit =
    commit(df, root, PartitionCols, "json")

  /** G2: bronze read with explicit schema — never infer
    * (`transform_fred_data.py:83` re-infers per file; SURVEY §7.4.4). */
  def readBronze(spark: SparkSession, root: String): DataFrame =
    readJson(spark, root, graft.fred.Schemas.bronze)

  def readJson(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    // Partition columns (indicator/year/month) come from the directory
    // layout; the data schema is the non-partition remainder.
    val dataFields = schema.fields.filterNot(f => PartitionCols.contains(f.name))
    spark.read.schema(StructType(dataFields)).json(root)
  }

  /** H2: silver/gold parquet write, partition-replacing
    * (`transform_fred_data.py:150-175`, `aggregate_fred_data.py:64-86`). */
  def writeParquet(df: DataFrame, root: String,
      partitionCols: Seq[String] = PartitionCols): Unit =
    commit(df, root, partitionCols, "parquet")

  /** G3: partitioned parquet read; missing partitions simply yield no
    * rows (the reference swallows per-file NoSuchKey into empty frames,
    * `aggregate_fred_data.py:47-58`, `load_fred_data.py:83-105`).
    * A root that does not exist AT ALL — the first-ever run of a
    * downstream stage before any upstream write — yields an empty frame
    * with `schemaIfMissing` instead of an AnalysisException, matching
    * the same reference behavior; without a schema the error
    * propagates (callers who can't name a schema can't use an empty
    * frame either). */
  def readParquet(spark: SparkSession, root: String,
      schemaIfMissing: Option[StructType] = None): DataFrame =
    schemaIfMissing match {
      case None => spark.read.parquet(root)
      case Some(s) =>
        val path = new Path(root)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(path))
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        // explicit schema also covers the exists-but-no-files case (a
        // prior run wrote an empty frame): no inference, empty result
        else spark.read.schema(s).parquet(root)
    }

  /** Typed silver read: the `Dataset[SilverObservation]` boundary for
    * consumers that want compile-time row shapes (SURVEY §1.3 —
    * case classes at layer boundaries, DataFrame internally). Partition
    * columns come back as ints from the directory layout and fold into
    * the case class fields. */
  def readSilverTyped(spark: SparkSession, root: String):
      org.apache.spark.sql.Dataset[graft.fred.SilverObservation] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.read.parquet(root)
      .select(graft.fred.Schemas.silver.fieldNames.map(col).toSeq: _*)
      .as[graft.fred.SilverObservation]
  }

  /** ORC write, partition-replacing — same commit as [[writeParquet]]
    * for deployments standardized on ORC (both are columnar with
    * predicate-pushdown stats; the operators above are format-agnostic). */
  def writeOrc(df: DataFrame, root: String,
      partitionCols: Seq[String] = PartitionCols): Unit =
    commit(df, root, partitionCols, "orc")

  def readOrc(spark: SparkSession, root: String): DataFrame =
    spark.read.orc(root)

  /** CSV read with an EXPLICIT schema — the interchange-format path for
    * hand-off files. Never schema-infer (inference is a full extra scan
    * and types drift per file — the same rule as [[readJson]]); header
    * handling is by position with the header row skipped. */
  def readCsv(spark: SparkSession, root: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(root)

  def writeCsv(df: DataFrame, root: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(root)

  /** Bucketed catalog table write: co-locates rows by `bucketCols`
    * hash so joins and aggregations on those keys need no Exchange —
    * the pre-shuffle trade that pays for itself once a big table is
    * joined more than once on its natural key. At 100 TB this is the
    * difference between re-shuffling the fact table per query and
    * scanning it in place; both sides of a join must agree on bucket
    * count (and AQE keeps the bucketed scan when it helps).
    */
  def writeBucketedTable(df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty)
      w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Parquet file census under a root: (n_data_files, total_bytes).
    * Metadata/_SUCCESS files don't count. */
  def parquetCensus(spark: SparkSession, root: String): (Long, Long) = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(path, true)
    var n = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Small-files compaction — the lake-maintenance op every
    * incremental pipeline eventually needs: per-partition appends
    * accumulate files far below the efficient scan size (a month of
    * hourly loads = hundreds of KB-scale files per partition, and at
    * 100 TB the NameNode/listing cost plus per-file open overhead
    * dominates the scan). Reads `inRoot`, rewrites to `outRoot` with
    * ONE shuffle on the partition columns (each partition's rows land
    * together) and `maxRecordsPerFile` sized so output files
    * approximate `targetBytes` (estimated from the input's
    * bytes-per-row — parquet-encoded, so the estimate inherits the
    * input's compression ratio). Returns (files_before, files_after).
    *
    * Honest caveats, stated: output goes to a NEW root — Spark cannot
    * overwrite a path it is reading, so the caller swaps roots (or
    * runs the table-format commit protocol that owns atomic swap —
    * Iceberg/Delta `rewrite_data_files` is this op with a catalog
    * transaction around it). A heavily skewed partition compacts
    * through one task — salt the repartition
    * (`repartition(cols :+ salt)`) when one partition outweighs an
    * executor; file SPLITTING via maxRecordsPerFile is unaffected. */
  def compactParquet(spark: SparkSession, inRoot: String, outRoot: String,
      targetBytes: Long,
      partitionCols: Seq[String] = PartitionCols): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (filesBefore, bytes) = parquetCensus(spark, inRoot)
    val df = spark.read.parquet(inRoot)
    val rows = df.count()
    val avgRow = math.max(1L, bytes / math.max(rows, 1L))
    val maxRecords = math.max(1L, targetBytes / avgRow)
    df.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy(partitionCols: _*)
      .parquet(outRoot)
    (filesBefore, parquetCensus(spark, outRoot)._1)
  }

  /** Leaf partition directories under `root` (dirs directly holding
    * ≥1 data file), with their data-file counts. */
  def partitionCensus(spark: SparkSession,
      root: String): Seq[(String, Long)] =
    leafFiles(spark, root).map { case (dir, files) => (dir.toString, files.size.toLong) }

  /** Each leaf directory under `root` with its parquet data files. */
  private def leafFiles(spark: SparkSession,
      root: String): Seq[(Path, Seq[FileStatus])] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ArrayBuffer.empty[(Path, Seq[FileStatus])]
    def walk(dir: Path): Unit = {
      val entries = fs.listStatus(dir)
      val files = entries.filter(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet")).toSeq
      if (files.nonEmpty) out += ((dir, files))
      entries.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("."))
        .foreach(e => walk(e.getPath))
    }
    walk(rootPath)
    out.toSeq
  }

  /** SELECTIVE in-place compaction: rewrite ONLY partitions holding
    * more than `minFiles` data files — the incremental form of
    * [[compactParquet]] a large lake actually schedules (rewriting
    * 100 TB to fix last week's fragmented partitions is absurd; the
    * maintenance job touches the hot tail only). Fragmented leaves
    * are read with `basePath` (partition columns preserved) and
    * rewritten compacted through [[commit]], one leaf swap each;
    * [[healPartitionSwaps]], wired into the top of this op and
    * [[deleteWhere]], finishes a swap a crash interrupted. Untouched
    * partitions keep their exact files.
    *
    * Two Spark jobs: the shuffle and the write. Everything else is
    * read on the driver from the fragmented files' Parquet footers:
    * the row count (Σ row-group rows) that sizes `maxRecordsPerFile`,
    * and the read schema, which is the first file's footer schema, as
    * Spark's own inference would read it. That is O(fragmented files),
    * below the whole-root walk this op already does.
    *
    * Returns (partitions_compacted, files_before, files_after) over
    * the whole root. */
  def compactFragmented(spark: SparkSession, root: String,
      targetBytes: Long, minFiles: Int,
      partitionCols: Seq[String] = PartitionCols): (Long, Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 1, "minFiles must be >= 1")
    healPartitionSwaps(spark, root) // finish a crashed prior swap first
    val rootPath = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    val leaves = leafFiles(spark, root)
    val filesBefore = leaves.map(_._2.size.toLong).sum
    val frag = leaves.filter(_._2.size > minFiles)
    if (frag.isEmpty) return (0L, filesBefore, filesBefore)
    val files = frag.flatMap(_._2)
    val footers = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getFooter finally r.close()
    }
    val rows = footers.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(files.head.getPath, footers.head),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val df = spark.read.schema(schema).option("basePath", root)
      .parquet(frag.map(_._1.toString): _*)
    val avgRow = math.max(1L, files.map(_.getLen).sum / math.max(rows, 1L))
    commit(df.repartition(partitionCols.map(col): _*), root, partitionCols, "parquet",
      Map("maxRecordsPerFile" -> math.max(1L, targetBytes / avgRow).toString),
      swapLeaves = staged => {
        // an unstaged fragmented leaf would keep its rows twice: abort first
        val missing = frag.map(_._1.toString).toSet --
          staged.map(rel => fs.makeQualified(new Path(rootPath, rel)).toString)
        require(missing.isEmpty, s"compacted output missing for ${missing.mkString(", ")}")
        staged
      })
    (frag.size.toLong, filesBefore, partitionCensus(spark, root).map(_._2).sum)
  }

  /** Targeted delete propagation — the right-to-be-forgotten /
    * takedown primitive a training-data lake must run routinely:
    * remove every row matching `predicate` by rewriting ONLY the
    * partitions that contain matches, leaving every other partition's
    * files byte-untouched (at 100 TB, rewriting the lake to delete
    * one user is absurd; the delete job touches the affected leaves
    * only — this is Iceberg/Delta `DELETE WHERE`'s copy-on-write
    * path, minus their catalog transaction, caveat as stated on
    * [[graft.Swap]]).
    *
    * Mechanics: one predicate scan finds the affected partition
    * tuples (parquet min/max stats prune files the predicate cannot
    * match even inside unpruned partitions); only those leaves are
    * re-read, with the root read's schema (no second inference, and
    * the partition columns keep the whole root's types),
    * anti-filtered and rewritten by [[replaceLeaves]] — a partition
    * whose rows ALL matched stages nothing, so its live leaf is erased.
    * Non-affected partitions are never read past the probe scan.
    *
    * @return (partitions_rewritten, rows_deleted) */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = PartitionCols): (Long, Long) = {
    healPartitionSwaps(spark, root) // finish a crashed prior swap first
    val all = spark.read.parquet(root)
    val probe = all.filter(predicate)
      .groupBy(partitionCols.map(col): _*)
      .count()
      .collect() // bounded by the partition count, not the row count
    if (probe.isEmpty) return (0L, 0L)
    val rowsDeleted = probe.map(_.getLong(partitionCols.size)).sum
    val leaves = probe.toSeq.map { r =>
      leafPath(partitionCols.zipWithIndex.map { case (c, i) => c -> r.get(i) })
    }
    // NOT coalesce(p, false), not plain !p: a NULL-valued predicate
    // row is NOT a match (the probe's filter(p) semantics) and must
    // SURVIVE the rewrite — `!p` on NULL is NULL and would silently
    // drop it
    val kept = spark.read.schema(all.schema).option("basePath", root)
      .parquet(leaves.map(l => s"$root/$l"): _*)
      .filter(!coalesce(predicate, lit(false)))
    replaceLeaves(kept.repartition(partitionCols.map(col): _*), root, leaves, partitionCols)
    (leaves.length.toLong, rowsDeleted)
  }

  /** Replace exactly the named `leaves` of a parquet `root` (relative
    * paths, as [[leafPath]] builds them) with what `rows` holds for
    * them, through one write and one [[commit]]: a named leaf with rows
    * is swapped in; a named leaf with no rows is erased by its swap.
    * Every row must fall in a named leaf — a stray one would replace a
    * leaf the caller did not name, so the commit aborts before any
    * swap. The erase needs no probe of `rows` first: an empty frame
    * stages nothing and every named leaf goes. */
  def replaceLeaves(rows: DataFrame, root: String, leaves: Seq[String],
      partitionCols: Seq[String] = PartitionCols): Unit =
    commit(rows, root, partitionCols, "parquet", swapLeaves = staged => {
      val stray = staged.toSet -- leaves
      require(stray.isEmpty, s"rows outside the named leaves: ${stray.mkString(", ")}")
      leaves
    })

  /** THE commit of every partition-replacing lake write: `rows` is
    * written once, partitioned, into a fresh dot-prefixed stage under
    * `root` (hidden; unique per call, as [[graft.fred.Pipeline]] may run
    * indicators concurrently on one root; a plain write, so no
    * partition-overwrite mode is read or set). Each leaf `swapLeaves`
    * names, given the staged ones (writers take all, [[replaceLeaves]]
    * its named leaves; it runs before any swap), replaces its live leaf
    * by [[graft.Swap.swap]], which heals the leaf first and erases it if
    * nothing was staged: driver work is O(named leaves), never a walk
    * of the root. The stage goes on success and failure (a killed
    * process leaves it hidden, unread); the root exists afterwards, for
    * [[readParquet]]'s no-files case. */
  private def commit(rows: DataFrame, root: String, partitionCols: Seq[String],
      format: String, options: Map[String, String] = Map.empty,
      swapLeaves: Seq[String] => Seq[String] = identity): Unit = {
    require(partitionCols.nonEmpty, "a lake write replaces partitions: name at least one")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(rows.sparkSession.sessionState.newHadoopConf())
    val stage = new Path(rootPath, s".stage-${java.util.UUID.randomUUID()}")
    try {
      rows.write.options(options).partitionBy(partitionCols: _*)
        .format(format).save(stage.toString)
      swapLeaves(stagedLeaves(fs, stage, partitionCols.size).map(_.mkString("/")))
        .foreach { rel =>
          val live = new Path(rootPath, rel)
          fs.mkdirs(live.getParent) // a rename into a missing parent is not atomic
          graft.Swap.swap(fs, live, new Path(stage, rel))
        }
      fs.mkdirs(rootPath)
    } catch { case e: Throwable => // keep the write's error, not the cleanup's
      try fs.delete(stage, true) catch { case d: Throwable => e.addSuppressed(d) }
      throw e
    }
    fs.delete(stage, true)
    rows.sparkSession.catalog.refreshByPath(root) // cached reads of `root` see the swap
  }

  /** The `col=value` names of each leaf `depth` levels below `dir`. */
  private def stagedLeaves(fs: FileSystem, dir: Path, depth: Int): Seq[List[String]] =
    if (depth == 0) Seq(Nil)
    else fs.listStatus(dir).toSeq.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap(s => stagedLeaves(fs, s.getPath, depth - 1).map(s.getPath.getName :: _))

  /** Hive-style leaf path of one partition tuple, escaped exactly as
    * Spark's partitioned writer escapes it (`A:B` → `indicator=A%3AB`,
    * null → `__HIVE_DEFAULT_PARTITION__`) — the lake's one escaping
    * rule for every path built from partition values. */
  def leafPath(parts: Seq[(String, Any)]): String =
    parts.map { case (c, v) =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(c, Option(v).map(_.toString).orNull)
    }.mkString("/")

  /** Heal the partition swaps a crashed [[commit]] left behind — wired
    * into the top of [[compactFragmented]] and [[deleteWhere]] (the
    * maintenance-cadence choke point; plain lake roots have no reader
    * funnel to intercept: after a crash, run this or re-run the write
    * before trusting reads). Walks the tree, running [[graft.Swap.heal]] on
    * every leaf that has a swap sibling. A restored leaf is logged: it
    * is a rewrite a crash undid, which re-running the op redoes.
    *
    * @return (leaves_restored, stale_asides_purged) */
  def healPartitionSwaps(spark: SparkSession, root: String): (Long, Long) = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return (0L, 0L)
    var restored = 0L
    var purged = 0L
    def walk(dir: Path): Unit =
      fs.listStatus(dir).filter(_.isDirectory).foreach { e =>
        val n = e.getPath.getName
        graft.Swap.liveName(n) match {
          case Some(orig) =>
            val leaf = new Path(dir, orig)
            graft.Swap.heal(fs, leaf) match {
              case graft.Swap.Restored =>
                System.err.println(s"[graft] healPartitionSwaps: restored " +
                  s"$leaf from a crashed swap aside")
                restored += 1
              case graft.Swap.Purged => purged += 1
              case graft.Swap.Clean => ()
            }
          case None if !n.startsWith(".") && !n.startsWith("_") =>
            walk(e.getPath)
          case None => ()
        }
      }
    walk(rootPath)
    (restored, purged)
  }
}
