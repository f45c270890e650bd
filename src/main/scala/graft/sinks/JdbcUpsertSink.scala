package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}

/** JDBC serving-layer sinks
  * (reference: load_to_postgres.py:46-64 full overwrite, here a
  * partition replace; RT:78-155 the psycopg2 staging upsert — the one sink
  * Spark has no built-in for, SURVEY.md §2.2 K7).
  *
  * Upsert strategy, kept from the reference because it is the right shape at
  * scale: executors bulk-load a staging table over plain JDBC (parallel,
  * batched), then the driver runs ONE set-based merge statement
  * server-side — no per-row driver round-trips, and the merge is atomic so
  * micro-batch replays are idempotent on the key columns.
  *
  * The merge SQL is dialect-specific: `INSERT … ON CONFLICT DO UPDATE`
  * (PostgreSQL, the reference's serving store) or standard `MERGE` (Derby —
  * used by the test suite since it ships with Spark; also valid for most
  * ANSI engines).
  *
  * The batch serving load ([[replacePartitions]]) uses the same staging
  * shape: executors bulk-load the new rows of the changed date partitions
  * into a staging table, then one driver transaction deletes those dates
  * from the target, inserts the staged rows and drops the staging table.
  * The target table is never dropped, so readers see the old or the new
  * rows of a date, never a missing or half-loaded table, and indexes,
  * grants and constraints attached to it survive the load.
  */
object JdbcUpsertSink {

  sealed trait Dialect {
    def mergeSql(table: String, staging: String, keyCols: Seq[String], valCols: Seq[String]): String
  }

  /** Spark's JDBC writer quotes column identifiers when it creates the
    * staging table, so the merge must quote them identically or a
    * case-folding engine (Derby uppercases unquoted names) won't resolve
    * them. Target tables must therefore use lowercase column names —
    * which is also the PostgreSQL convention the reference relies on. */
  private def q(c: String): String = "\"" + c + "\""

  /** PostgreSQL `ON CONFLICT` upsert (reference parity: RT:117-131). */
  case object PostgresDialect extends Dialect {
    def mergeSql(table: String, staging: String, keyCols: Seq[String], valCols: Seq[String]): String = {
      val cols = (keyCols ++ valCols).map(q)
      val sets = valCols.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"""INSERT INTO $table (${cols.mkString(", ")})
         |SELECT ${cols.mkString(", ")} FROM $staging
         |ON CONFLICT (${keyCols.map(q).mkString(", ")}) DO UPDATE SET $sets""".stripMargin
    }
  }

  /** ANSI MERGE upsert (Derby, and most non-Postgres engines). */
  case object AnsiMergeDialect extends Dialect {
    def mergeSql(table: String, staging: String, keyCols: Seq[String], valCols: Seq[String]): String = {
      val on = keyCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ")
      val sets = valCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      val insertCols = (keyCols ++ valCols).map(q).mkString(", ")
      val insertVals = (keyCols ++ valCols).map(c => s"s.${q(c)}").mkString(", ")
      s"""MERGE INTO $table t USING $staging s ON ($on)
         |WHEN MATCHED THEN UPDATE SET $sets
         |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
    }
  }

  /** Stage `df` to a temp table via Spark's parallel JDBC writer, then run
    * one server-side merge into `table` on `keyCols`, then drop the staging
    * table. `batchId` makes the staging name deterministic per micro-batch
    * (replay-safe, unlike the reference's wall-clock suffix at RT:97). */
  def upsert(
      df: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      dialect: Dialect,
      batchId: Long = 0L,
      connectionProperties: java.util.Properties = new java.util.Properties(),
      stagingColumnTypes: Option[String] = None): Unit = {
    val staging = s"${table}_stage_$batchId"
    val valCols = df.columns.filterNot(keyCols.contains).toSeq

    val writer = df.write.mode(SaveMode.Overwrite)
    // Spark maps StringType to engine LOB types on some dialects (Derby:
    // CLOB), which are not comparable in a merge ON clause — let callers pin
    // the staging DDL to the target table's types.
    stagingColumnTypes.foreach(t => writer.option("createTableColumnTypes", t))
    writer.jdbc(url, staging, connectionProperties)

    val conn: Connection = DriverManager.getConnection(url, connectionProperties)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        st.executeUpdate(dialect.mergeSql(table, staging, keyCols, valCols))
        st.executeUpdate(s"DROP TABLE $staging")
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    } finally conn.close()
  }

  /** Replace partitions `values` of `partitionCol` in `table` with `df`,
    * the complete new rows of exactly those partitions; returns the rows
    * written. Stages `df` over Spark's parallel JDBC writer, then in one
    * transaction deletes the partitions from `table` (a null value matches
    * the NULL partition), runs `INSERT … SELECT` from the staging table,
    * drops it and commits. A `table` that does not exist yet is created by
    * the writer and loaded directly. Columns of `df` must carry the (lowercase)
    * column names of `table`. Replaying a call is idempotent. */
  def replacePartitions(
      df: DataFrame,
      url: String,
      table: String,
      partitionCol: String,
      values: Seq[Any],
      props: java.util.Properties = new java.util.Properties()): Long = {
    require(values.nonEmpty, "no partitions to replace")
    val written = Observation(s"replace_$table")
    val rows = df.observe(written, count(lit(1)).as("n"))
    if (!tableExists(url, table, props)) {
      rows.write.mode(SaveMode.ErrorIfExists).jdbc(url, table, props)
    } else {
      val staging = s"${table}_replace"
      rows.write.mode(SaveMode.Overwrite).jdbc(url, staging, props)
      val cols = df.columns.map(q).mkString(", ")
      val (nulls, keys) = values.partition(_ == null)
      val where = (Option.when(keys.nonEmpty)(s"${q(partitionCol)} IN (${keys.map(_ => "?").mkString(", ")})") ++
        Option.when(nulls.nonEmpty)(s"${q(partitionCol)} IS NULL")).mkString(" OR ")
      val conn = DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        try {
          val del = conn.prepareStatement(s"DELETE FROM $table WHERE $where")
          try {
            keys.zipWithIndex.foreach { case (v, i) => del.setObject(i + 1, v) }
            del.executeUpdate()
          } finally del.close()
          val st = conn.createStatement()
          try {
            st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
            st.executeUpdate(s"DROP TABLE $staging")
          } finally st.close()
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        }
      } finally conn.close()
    }
    written.get("n").asInstanceOf[Long]
  }

  /** Whether `table` exists at `url` (Spark's own probe: a query that
    * returns no rows). */
  def tableExists(url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Boolean = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1 = 0").close(); true }
      catch { case _: java.sql.SQLException => false }
      finally st.close()
    } finally conn.close()
  }
}
