package graft.fred.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fred.Schemas

/** Bronze-shaping operators: turn a raw FRED `observations` frame
  * (`date`, `value`, realtime_* columns) into the bronze schema.
  *
  * Reference: `format_fred_data`, `extract_fred_data.py:148-193` —
  * ops B1 (projection), B2 (literal column), B3 (job stamp),
  * C1 (date parse), C2 (date-part extraction to string).
  *
  * Intentional divergence (SURVEY §7.4.3): the reference parses `value`
  * to numeric and re-stringifies (`extract_fred_data.py:175`), which
  * perturbs representations (`"3.90"` → `"3.9"`). We keep the raw API
  * string at bronze — lossless, and the silver cast sees identical
  * input either way.
  */
object Derive {

  /** B2+B3+C1+C2+B1: raw API rows → bronze rows. The job stamp is
    * plan-constant: one timestamp per query, and `Pipeline.extract`
    * writes a whole window in one query, so every month of one extract
    * call (one DAG run) carries the same stamp — the reference's single
    * `pd.Timestamp.now()` per run (`extract_fred_data.py:168`).
    */
  def toBronze(raw: DataFrame, seriesId: String): DataFrame = {
    val d = to_date(col("date"), "yyyy-MM-dd")
    raw
      .withColumn("indicator", lit(seriesId))
      .withColumn("observation_date", date_format(d, "yyyy-MM-dd"))
      .withColumn("observation_month", month(d).cast("string"))
      .withColumn("observation_year", year(d).cast("string"))
      .withColumn("ingested_at",
        date_format(current_timestamp(), Schemas.IsoMicrosUtc))
      .select(Schemas.bronze.fieldNames.map(col).toSeq: _*)
  }
}
