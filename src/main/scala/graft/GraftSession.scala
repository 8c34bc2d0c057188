package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a [[SparkSession.Builder]] pre-configured with
  * the settings the engine's semantics and scale posture assume.
  *
  * Users on a cluster call `GraftSession.configure(builder)` and leave
  * master/deploy settings to spark-submit; `local(cores)` is the
  * single-JVM convenience used by tests, Verify and Bench.
  */
object GraftSession {

  /** Apply the engine's session configuration:
    *
    *  - UTC session time zone — all reference timestamps are UTC ISO
    *    strings; date-part extraction must not depend on host TZ.
    *  - parquet nanos-as-long — the driver testdata carries
    *    TIMESTAMP(NANOS) which microsecond `TimestampType` can't hold;
    *    [[Tables.events]] converts explicitly.
    *  - AQE stays on (Spark 4 default): runtime coalescing, skew-join
    *    splitting and broadcast demotion are load-bearing at scale.
    *
    * ANSI mode is left ON (Spark 4 default): the engine uses `try_cast`
    * where the reference needs coerce-to-null (`Clean.lenientDouble`),
    * so strictness elsewhere surfaces real bugs instead of nulls.
    */
  def configure(b: SparkSession.Builder,
      shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Single-JVM session sized to `cores` threads, shuffle partitions
    * matched to core count (matching partitions to cores avoids both
    * idle reducers and scheduler overhead at local scale; a cluster
    * deployment sizes partitions to data volume instead). */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.ui.enabled", "false"),
      shufflePartitions = cores)
      .getOrCreate()
}
