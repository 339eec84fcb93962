package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * JDBC-backed [[TableStore]]: the index table lives in a relational
 * database instead of parquet snapshots — the reference's external
 * `DbProvider` seam made real (reference: src/Test.External/Database.cs:16
 * and Program.cs:182-192 swap SQLite for MySQL; here the same swap point
 * carries the whole Spark index). Tested against embedded Derby (on the
 * Spark classpath); the URL is the only Derby-specific part — a MySQL /
 * Postgres deployment changes the URL+driver and the DDL type names,
 * nothing in the engine.
 *
 * Division of labor, chosen per path by what each side is good at:
 *   - `read()` is the Spark JDBC source: predicate pushdown reaches the
 *     database (a `WHERE objectKey = ?` point lookup becomes an indexed
 *     SQL query, not a table scan shipped to Spark), and at scale the read
 *     can be partitioned with the standard partitionColumn options.
 *   - `append(df)` is the Spark JDBC writer writing ONE partition: Spark
 *     commits a database transaction per written partition, so one
 *     partition makes the append one transaction — the engine's object
 *     and map rows for a write land together or not at all. O(new data),
 *     the ingest hot path.
 *   - `publish(df)` / `deleteKeys` run ONE driver-side transaction:
 *     readers see the old or the new snapshot, never a half-replaced one —
 *     the database's transaction does what VersionedTable's CAS commit
 *     does. `deleteKeys` is a single indexed `DELETE ... WHERE key IN`,
 *     O(deleted rows); this is exactly what an external index DB buys over
 *     snapshot files. Index tables are metadata (KB-MB per commit), so the
 *     driver-side collect in `publish` stays in the same memory envelope
 *     as the engine's other bounded materializations.
 *
 * Identifiers are created QUOTED (mixed-case), matching what the Spark
 * JDBC reader reports and the writer quotes — without this, Derby
 * uppercases names and the engine's case-exact schema breaks.
 *
 * Contract deltas vs the parquet backend, for callers:
 *   - `read()` is a LIVE view, not a pinned snapshot — each action
 *     re-queries the database. Every engine path materializes
 *     (collect/take) before mutating, which keeps the two backends
 *     equivalent; a caller that holds a `read()` frame ACROSS its own
 *     mutation would see post-mutation rows here only.
 *   - String key columns are VARCHAR(4096): an object key longer than
 *     4096 chars fails the append loudly on this backend (parquet has no
 *     such bound). Path-like keys fit comfortably; callers minting longer
 *     keys should hash them first.
 *   - NO commit-conflict detection: `append` is a plain JDBC insert, so
 *     the parquet backend's multi-writer guard (VersionedTable's link(2)
 *     CAS → CommitConflictException → `retryOnConflict`) DOES NOT EXIST
 *     here — two concurrent same-key ingests both pass their exists/dup
 *     checks against the same DB state and both land. Serialize writers
 *     externally on this backend (one ingest job per index — the embedded
 *     single-JVM deployment shape below makes that natural), or add a
 *     database-side uniqueness constraint on (objectKey) if a server
 *     deployment must tolerate racing writers.
 *   - EMBEDDED Derby is a SINGLE-JVM backend: executor tasks open their
 *     own connections, so local-mode (everything in one JVM) works, and a
 *     multi-JVM cluster fails loudly on Derby's single-boot lock (the
 *     factory forces an absolute path so it cannot fail silently
 *     instead). Cluster deployments use a client-server URL.
 */
final class JdbcTableStore(
    spark: SparkSession, url: String, table: String,
    schema: StructType) extends TableStore {

  private def sqlType(dt: DataType): String = dt match {
    // keys are object names / base64 digests; 4096 covers path-like keys
    case StringType => "VARCHAR(4096)"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case TimestampType => "TIMESTAMP"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case other => throw new IllegalArgumentException(
      s"JdbcTableStore: unmapped column type $other (payload BINARY stays behind PayloadStore)")
  }

  JdbcTableStore.ensureDialect()

  private def withConnection[T](body: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try body(c)
    catch {
      case e: Throwable =>
        // roll back any open transaction BEFORE close: Derby refuses to
        // close a connection mid-transaction (ERROR 25001), and that
        // secondary failure would otherwise mask the real one
        try if (!c.getAutoCommit) c.rollback() catch { case _: Throwable => () }
        throw e
    } finally {
      try c.close() catch { case _: Throwable => () }
    }
  }

  // eager DDL so read() works before the first commit (empty-with-schema,
  // same contract as VersionedTable); Derby has no IF NOT EXISTS — the
  // duplicate-table SQLState (X0Y32) is the idempotence signal
  withConnection { c =>
    val cols = schema.fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
    // no CREATE INDEX: Derby rejects btree keys as wide as VARCHAR(4096)
    // (MySQL/Postgres deployments would add a prefix index on the key
    // column here); the heap stays fine at index-metadata scale and the
    // DELETE is one statement either way
    try c.createStatement().executeUpdate(s"""CREATE TABLE "$table" ($cols)""")
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
    }
  }

  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  override def read(): DataFrame =
    spark.read.jdbc(url, s""""$table"""", props)
      // alias through the declared schema: resolution is case-insensitive,
      // the engine's Encoders are case-exact
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"`$f`").as(f)): _*)

  override def append(df: DataFrame): Unit =
    df.write.mode("append")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("numPartitions", 1) // one partition = one transaction: atomic
      .jdbc(url, s""""$table"""", props)

  /** Atomic snapshot replace: DELETE + INSERT inside one transaction — a
    * concurrent reader's query sees pre- or post-publish rows, never the
    * empty middle. */
  override def publish(df: DataFrame): Unit = {
    val rows = df.collect() // materialize BEFORE mutating (df may read this table)
    withConnection { c =>
      c.setAutoCommit(false)
      c.createStatement().executeUpdate(s"""DELETE FROM "$table"""")
      val quoted = schema.fieldNames.map(n => s""""$n"""").mkString(", ")
      val ph = schema.fieldNames.map(_ => "?").mkString(", ")
      val st = c.prepareStatement(s"""INSERT INTO "$table" ($quoted) VALUES ($ph)""")
      rows.foreach { r =>
        bind(st, r)
        st.addBatch()
      }
      st.executeBatch()
      c.commit()
    }
  }

  private def bind(st: PreparedStatement, r: org.apache.spark.sql.Row): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val v = if (r.isNullAt(i)) null else r.get(i)
      def jdbcType(dt: DataType): Int = dt match {
        case StringType => java.sql.Types.VARCHAR
        case LongType => java.sql.Types.BIGINT
        case IntegerType => java.sql.Types.INTEGER
        case TimestampType => java.sql.Types.TIMESTAMP
        case DoubleType => java.sql.Types.DOUBLE
        case BooleanType => java.sql.Types.BOOLEAN
        case _ => java.sql.Types.NULL
      }
      (f.dataType, v) match {
        // Derby requires the column's concrete SQL type on setNull
        case (dt, null) => st.setNull(i + 1, jdbcType(dt))
        case (StringType, s: String) => st.setString(i + 1, s)
        case (LongType, l: java.lang.Long) => st.setLong(i + 1, l)
        case (IntegerType, n: java.lang.Integer) => st.setInt(i + 1, n)
        case (TimestampType, t: java.sql.Timestamp) => st.setTimestamp(i + 1, t)
        case (DoubleType, d: java.lang.Double) => st.setDouble(i + 1, d)
        case (BooleanType, b: java.lang.Boolean) => st.setBoolean(i + 1, b)
        case (dt, other) => throw new IllegalStateException(
          s"JdbcTableStore: cannot bind $other to $dt")
      }
    }

  /** No-op BY DESIGN: compaction de-fragments overlapping snapshot
    * segments, and a relational table has none — the database owns its
    * physical organization (heap/btree), so there is nothing to re-sort.
    * Critically, the default (sorted `publish`) would pull the WHOLE table
    * through the driver-side transactional rewrite: fine for commit deltas,
    * unbounded for the index (one map row per chunk — corpus-proportional).
    * `append`/`read`/`deleteKeys`, the hot paths, stay O(new/deleted). */
  override def compactSorted(sortCols: Seq[String]): Unit = ()

  /** One indexed SQL DELETE instead of a snapshot rewrite — O(deleted
    * rows). `IN` is three-valued, so null-key rows survive for free (the
    * null-preserving contract the parquet path enforces explicitly). */
  override def deleteKeys(keyCol: String, keys: Seq[String]): Unit =
    if (keys.nonEmpty) withConnection { c =>
      c.setAutoCommit(false)
      // chunk the IN list: unbounded placeholder lists trip statement
      // limits on real databases
      keys.grouped(500).foreach { batch =>
        val ph = batch.map(_ => "?").mkString(", ")
        val st = c.prepareStatement(s"""DELETE FROM "$table" WHERE "$keyCol" IN ($ph)""")
        batch.zipWithIndex.foreach { case (k, i) => st.setString(i + 1, k) }
        st.executeUpdate()
      }
      c.commit()
    }
}

object JdbcTableStore {
  // Derby writes derby.log into user.dir unless told otherwise — keep the
  // repo clean; must be set before the engine boots
  if (System.getProperty("derby.stream.error.file") == null)
    System.setProperty("derby.stream.error.file",
      s"${System.getProperty("java.io.tmpdir")}/graft-derby.log")

  /** Spark's built-in Derby dialect maps StringType to CLOB, which Derby
    * refuses to bind into our VARCHAR key columns (and CLOBs can't anchor
    * comparisons/deletes anyway). Registered dialects take precedence, so
    * this narrows ONLY the string mapping and defers everything else to
    * the default chain. */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[org.apache.spark.sql.jdbc.JdbcType] =
      dt match {
        case StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4096)", java.sql.Types.VARCHAR))
        case _ => None
      }
    override def quoteIdentifier(colName: String): String = s""""$colName""""
  }

  private lazy val dialectRegistered: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect)

  /** Idempotent; called from every store's constructor so direct
    * `new JdbcTableStore` use gets the dialect too. */
  def ensureDialect(): Unit = dialectRegistered

  /** Index-backend factory for [[graft.engine.DedupeEngine]]: one embedded
    * Derby database per index at `dbDir`, holding the engine's index table
    * (named by the path's last segment, `index`). */
  def factory(spark: SparkSession, dbDir: String): (String, StructType) => TableStore =
    (path, schema) => {
      val table = path.substring(path.lastIndexOf('/') + 1)
      // ABSOLUTE path, always: append/read run executor-side, and a
      // relative derby path would resolve against EACH executor JVM's
      // user.dir — on a multi-JVM cluster `create=true` then silently
      // builds a fresh empty database per executor and the ingest's rows
      // vanish. An absolute path makes the multi-JVM case fail LOUDLY
      // instead (Derby's XSDB6 single-boot error), which is the correct
      // behavior for an embedded database: it is a single-JVM backend by
      // nature — a cluster deployment points the URL at a database
      // SERVER (jdbc:derby://host, jdbc:postgresql://…), where the same
      // executor-parallel writes are the intended path.
      val abs = java.nio.file.Paths.get(dbDir).toAbsolutePath.toString
      new JdbcTableStore(spark, s"jdbc:derby:$abs;create=true", table, schema)
    }
}
