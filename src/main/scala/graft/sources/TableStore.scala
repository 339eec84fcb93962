package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/**
 * Index-table backend seam — the reference abstracts its whole index behind
 * `DbProvider` (reference: src/DedupeLibrary/Database/DbProvider.cs:10-155)
 * so SQLite can be swapped for external MySQL/Postgres
 * (reference: src/Test.External/Program.cs:182-192). The engine keeps its
 * whole index in ONE such table, so each index mutation is one commit, and
 * a backend swap (Delta table, JDBC catalog, in-memory) is confined to one
 * implementation of this trait.
 */
trait TableStore {
  /** Current snapshot (empty-with-schema before the first commit). */
  def read(): DataFrame

  /** The rows whose `colName` equals `value`; a [[VersionedTable]] split
    * on that column opens only the matching files. */
  private[graft] def readWhere(colName: String, value: String): DataFrame =
    read().filter(org.apache.spark.sql.functions.col(colName) === value)

  /** The rows whose `keyCol` is in `keys`; a [[VersionedTable]] with stats
    * on that column opens only the entries whose key range can hold one. */
  private[graft] def readKeys(keyCol: String, keys: Seq[String]): DataFrame =
    read().filter(org.apache.spark.sql.functions.col(keyCol).isInCollection(keys))

  /** Append-only commit of new rows — O(new data) and atomic: readers see
    * all of `df` or none of it. */
  def append(df: DataFrame): Unit
  /** Full-snapshot commit (delete/compaction path). */
  def publish(df: DataFrame): Unit
  /** Sweep storage debris unreachable from any live snapshot (crashed
    * writers' never-claimed segments, stale temp files). Safe no-op
    * default: backends without such debris need nothing. Maintenance op —
    * run with no writer in flight. */
  def vacuum(): Unit = ()

  /** Rewrite the table as ONE globally key-sorted snapshot — the engine's
    * LSM "major compaction" seam ([[graft.engine.DedupeEngine.compactIndex]]).
    * Default: a sorted full publish, which is what snapshot backends need
    * (append chains leave segments with overlapping key ranges; the sorted
    * rewrite restores maximal segment/row-group pruning). Backends with no
    * snapshot fragmentation — a relational database keeps its own physical
    * organization and indexes — override this as a no-op: routing a
    * corpus-proportional table (the index holds one map row PER CHUNK) through a
    * driver-side publish would be pointless there and unbounded at scale. */
  def compactSorted(sortCols: Seq[String]): Unit =
    publish(read().orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*))

  /** Remove rows whose `keyCol` value is in `keys` — the row-delete path
    * (reference semantics: SqliteProvider.cs:522-523). Backends with
    * per-segment key stats override this to touch only intersecting
    * segments; the default is a full filtered rewrite. */
  def deleteKeys(keyCol: String, keys: Seq[String]): Unit =
    if (keys.nonEmpty) {
      val c = org.apache.spark.sql.functions.col(keyCol)
      // !isInCollection is NULL for a null key (three-valued logic) — keep
      // null-key rows explicitly or they'd be deleted along with the victims
      publish(read().filter(c.isNull || !c.isInCollection(keys)))
    }
}

/**
 * Second backend proving the seam: rows held on the driver, snapshots
 * rebuilt per read. Suited to ephemeral indexes and tests — the metadata
 * tables of a small index are KB-scale — while the parquet
 * [[VersionedTable]] remains the durable default; a Delta or JDBC backend
 * would implement the same three methods.
 */
final class InMemoryTable(spark: SparkSession, schema: StructType) extends TableStore {

  private var rows: Array[Row] = Array.empty

  override def read(): DataFrame = synchronized {
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  override def append(df: DataFrame): Unit = {
    val collected = df.collect() // materialize BEFORE mutating (df may read this table)
    synchronized { rows = rows ++ collected }
  }

  override def publish(df: DataFrame): Unit = {
    val collected = df.collect()
    synchronized { rows = collected }
  }
}
