package graft.fred.io

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, Row}

/** H3/D2 — JDBC keyed-upsert sink.
  *
  * The reference loads each gold year with one multi-row
  * `INSERT … ON CONFLICT (indicator, observation_year, observation_month)
  * DO UPDATE SET <col> = EXCLUDED.<col>` statement in a single
  * transaction (`load_fred_data.py:49-66`). Spark has no DataFrame-level
  * upsert, so this is connector code: `foreachPartition`, one connection
  * and one transaction per partition, batched statements.
  *
  * Transactionality is therefore per-partition, not per-year — an
  * intentional, documented divergence (SURVEY §7.4.7); callers that need
  * the reference's single-transaction behavior `coalesce(1)` first.
  * Each row's upsert is idempotent, so partition-level retries are safe.
  */
object UpsertSink {

  /** A statement dialect: renders the parameterized statement for
    * (table, columns, keys) and names the column bound to each `?`, in
    * placeholder order. A builder method or lambda
    * `(table, columns, keys) => sql` converts to a dialect that binds
    * every column once, in column order. */
  trait Dialect {
    def apply(table: String, columns: Seq[String], keys: Seq[String]): String
    def binds(columns: Seq[String], keys: Seq[String]): Seq[String] = columns
  }

  /** Build the PostgreSQL upsert statement for one row (parameterized).
    * Mirrors `load_fred_data.py:54-59`. */
  def upsertSql(table: String, columns: Seq[String], keys: Seq[String]): String = {
    require(keys.forall(columns.contains), "keys must be a subset of columns")
    val updatable = columns.filterNot(keys.contains)
    val sets = updatable.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET $sets"
  }

  /** Plain-INSERT statement builder — for appends to fresh tables and
    * for engines without a keyed upsert. */
  def insertSql(table: String, columns: Seq[String], keys: Seq[String]): String =
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"

  /** Standard-SQL `MERGE` keyed upsert of one row, for engines without
    * `ON CONFLICT` (Derby, DB2). The row arrives as parameters over the
    * one-row `SYSIBM.SYSDUMMY1` source, so the keys bind twice: once in
    * `ON`, once in the insert. A revised row updates its non-key
    * columns in place. On Derby 10.16, two connections merging into one
    * table at once can fail with an internal `NullPointerException`
    * (XJ001) that closes the connection; `coalesce(1)` the frame there. */
  val mergeSql: Dialect = new Dialect {
    def apply(table: String, columns: Seq[String], keys: Seq[String]): String = {
      require(keys.nonEmpty && keys.forall(columns.contains),
        "keys must be a non-empty subset of columns")
      val updatable = columns.filterNot(keys.contains)
      val matched =
        if (updatable.isEmpty) ""
        else s"WHEN MATCHED THEN UPDATE SET ${updatable.map(c => s"$c = ?").mkString(", ")} "
      s"MERGE INTO $table USING SYSIBM.SYSDUMMY1 " +
        s"ON ${keys.map(k => s"$table.$k = ?").mkString(" AND ")} " + matched +
        s"WHEN NOT MATCHED THEN INSERT (${columns.mkString(", ")}) " +
        s"VALUES (${columns.map(_ => "?").mkString(", ")})"
    }
    override def binds(columns: Seq[String], keys: Seq[String]): Seq[String] =
      keys ++ columns.filterNot(keys.contains) ++ columns
  }

  /** Write `df` to `table` via upsert. `batchSize` bounds statement
    * batches; executors each open one connection. `sqlBuilder` swaps
    * the per-row statement dialect (default: Postgres `ON CONFLICT`
    * like the reference) and says which column feeds each placeholder;
    * the partition/batch/transaction machinery is dialect-independent. */
  def write(df: DataFrame, url: String, table: String,
      keys: Seq[String] = graft.fred.Schemas.servingKey,
      props: java.util.Properties = new java.util.Properties(),
      batchSize: Int = 500,
      sqlBuilder: Dialect = upsertSql): Unit = {
    val columns = df.columns.toSeq
    val sql = sqlBuilder(table, columns, keys)
    // the row ordinal bound to each `?`, in placeholder order
    val slots = sqlBuilder.binds(columns, keys).map { c =>
      val i = columns.indexOf(c)
      require(i >= 0, s"dialect binds column $c, which the frame for $table lacks")
      i
    }.toArray
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val stmt = conn.prepareStatement(sql)
          var n = 0
          rows.foreach { row =>
            slots.indices.foreach { p => stmt.setObject(p + 1, row.get(slots(p))) }
            stmt.addBatch()
            n += 1
            if (n % batchSize == 0) stmt.executeBatch()
          }
          stmt.executeBatch()
          conn.commit()
        } catch {
          case e: Throwable =>
            // a failed rollback (the engine may have closed the
            // connection) must not hide the statement's own error
            try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
            throw e
        } finally conn.close()
      }
    }
  }
}
