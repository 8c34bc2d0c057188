package graft.fred.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** H4 — the dedup-append "sheet" sink.
  *
  * The reference's `sync_s3_to_google_sheet`
  * (`load_fred_data_to_google.py:65-135`) reads the sheet's current
  * rows, drops incoming rows whose natural key is already present, and
  * appends the remainder. The sheet API itself cannot exist in this
  * environment, so — like [[FredSource]] — the sink is a trait with an
  * in-memory fake; a real Sheets client implements ONLY the trait.
  *
  * A sheet is a driver-side, bounded serving surface: the reference
  * holds its rows (`get_all_values`) and their key set in memory and
  * appends via a row-loop over a client handle. [[syncAppend]] keeps the
  * key set on the driver too, so the sync is one Spark job, and
  * `maxAppendRows` makes a mis-pointed lake scan fail loudly instead of
  * materializing unbounded rows on the driver.
  */
trait SheetSink {
  /** Column shape of the sheet. */
  def schema: StructType
  /** Current sheet contents, on the driver (small by construction). */
  def rows: Seq[Row]
  /** Append rows (already deduplicated by the caller). */
  def append(rows: Seq[Row]): Unit
}

object SheetSink {

  /** In-memory fake — the test/sandbox stand-in for a Sheets client. */
  class InMemory(val schema: StructType) extends SheetSink {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    def rows: Seq[Row] = synchronized { buf.toList }
    def append(rows: Seq[Row]): Unit = synchronized { buf ++= rows }
    def size: Int = synchronized { buf.size }
  }

  /** Append-only sync: rows of `incoming` whose `keys` are absent from
    * the sheet are appended; returns the number appended. Idempotent —
    * a second sync of the same frame appends nothing
    * (`load_fred_data_to_google.py:108-131`).
    *
    * One Spark job: each task drops the rows whose key is in the
    * broadcast key set and returns at most `maxAppendRows + 1` of the
    * rest, so the driver holds at most `partitions × (maxAppendRows + 1)`
    * rows before the guard throws on more than `maxAppendRows` in total.
    * Keys match as in [[graft.fred.ops.DedupSync.newRows]]' left anti
    * join: a key with a null component never matches, so its row is
    * appended. Keys compare by equality of their Row values, so each key
    * column must have one type on both sides (the join would have cast);
    * a NaN key never matches either.
    */
  def syncAppend(incoming: DataFrame, sink: SheetSink,
      keys: Seq[String] = graft.fred.Schemas.servingKey,
      maxAppendRows: Int = 100000): Long = {
    keys.foreach { k =>
      val (theirs, ours) = (sink.schema(k).dataType, incoming.schema(k).dataType)
      require(theirs == ours, s"key column '$k' is ${theirs.simpleString} on the " +
        s"sheet but ${ours.simpleString} in the incoming frame")
    }
    val fresh = incoming.select(sink.schema.fieldNames.map(col).toSeq: _*)
    val at = keys.map(sink.schema.fieldIndex)
    val sheetKeys = incoming.sparkSession.sparkContext
      .broadcast(sink.rows.iterator.map(r => at.map(r.get)).toSet)
    val rows = try fresh.rdd.mapPartitions { it =>
      val seen = sheetKeys.value
      it.filter { r =>
        val k = at.map(r.get)
        k.contains(null) || !seen(k)
      }.take(maxAppendRows + 1)
    }.collect() finally sheetKeys.destroy()
    require(rows.length <= maxAppendRows,
      s"refusing to append > $maxAppendRows rows to a sheet sink — " +
        "a sheet is a bounded serving surface, not a lake")
    sink.append(rows.toIndexedSeq)
    rows.length.toLong
  }
}
