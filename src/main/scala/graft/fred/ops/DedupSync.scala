package graft.fred.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** D1 — dedup-against-sink: append only rows whose natural key is not
  * already present in the sink.
  *
  * The reference materializes the sink's key set in memory and loops
  * (`load_fred_data_to_google.py:108-119`); the scalable equivalent is a
  * LEFT ANTI join on the key columns. The sink side (existing keys) is
  * small relative to the lake — broadcast it so the anti-join is
  * shuffle-free on the (large) incoming side. Duplicate keys on the
  * sink side cannot change an anti join's result, so they are not
  * collapsed first (that would cost a shuffle).
  */
object DedupSync {

  /** Rows of `incoming` whose key is absent from `existing`. */
  def newRows(incoming: DataFrame, existing: DataFrame,
      keys: Seq[String] = graft.fred.Schemas.servingKey): DataFrame =
    incoming.join(broadcast(existing.select(keys.head, keys.tail: _*)),
      keys, "left_anti")
}
