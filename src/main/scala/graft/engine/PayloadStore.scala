package graft.engine

import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * Where chunk payload bytes live — the storage-strategy seam.
 *
 * The reference keeps payloads entirely behind user callbacks
 * (reference: src/DedupeLibrary/DedupeCallbacks.cs:15-58 —
 * WriteChunk/ReadChunk/DeleteChunk), so storage is user-swappable; every
 * sample app plugs in a flat-file-per-chunk layout
 * (reference: src/Test/Program.cs:184-207). This trait is the Spark-first
 * re-expression: batch-shaped writes/reads (DataFrames, so ingest and
 * reconstruction stay distributed) plus a one-pass point fetch for the
 * seekable-stream path.
 *
 * Contracts:
 *   - `append` receives only NEW chunk keys (the engine dedupes before
 *     calling: a batch of up to `DedupeEngine.KeyedProbeMax` chunk rows
 *     drops the keys [[keysIn]] reports, a larger one left-anti-joins
 *     `read()`'s keys). Two CONCURRENT ingests can both pass that check
 *     against one stale snapshot and append the same key twice —
 *     `read()` may therefore expose duplicate chunkKey rows until
 *     [[healDuplicates]] runs. Payloads for one key are byte-identical by
 *     construction (SHA-256 content keys), so every engine read path
 *     resolves map rows through a per-key EXEMPLAR (`fetch`'s
 *     one-payload-per-key map on every point read, pre-join
 *     `dropDuplicates("chunkKey")` on bulk reconstruction) — reads stay
 *     correct through the window; healing only reclaims the wasted bytes;
 *   - `fetch` must resolve all requested keys in one pass (at most one
 *     Spark job), never one job per key — the point-read latency
 *     contract — and return exactly ONE payload per key (a Map, so
 *     duplicate rows collapse structurally);
 *   - `delete` removes ALL rows of the given chunk keys (the GC path —
 *     duplicates of a victim key go with it).
 */
trait PayloadStore {

  /** All stored payloads as (chunkKey STRING, data BINARY). May contain
    * duplicate chunkKey rows after out-of-contract concurrent appends —
    * consumers that JOIN this frame must read through a per-key exemplar
    * (see the trait contract); key-only uses (left-anti, distinct counts)
    * are unaffected. */
  def read(): DataFrame

  /** The subset of `keys` the store holds — the dedupe probe of a small
    * write, which needs keys only: never payload bytes, and never a failure
    * for a missing key (unlike [[fetch]]). Default: one key-only filtered
    * read, which a store whose `read()` materializes bytes should override. */
  private[graft] def keysIn(keys: Seq[String]): Set[String] =
    if (keys.isEmpty) Set.empty
    else read().select(col("chunkKey")).filter(col("chunkKey").isInCollection(keys))
      .collect().map(_.getString(0)).toSet

  /** Append a batch of (chunkKey, data) rows — all keys new by contract. */
  def append(payloads: DataFrame): Unit

  /** Remove the given chunk keys (GC). */
  def delete(keys: Seq[String]): Unit

  /** Fetch the payloads for `keys` in ONE pass (≤ 1 Spark job). */
  def fetch(keys: Seq[String]): Map[String, Array[Byte]]

  /** Detect and remove duplicate rows — the same chunkKey appended twice by
    * concurrent writers racing one stale snapshot — keeping one exemplar
    * per key; returns the healed keys. ABSTRACT ON PURPOSE: against this
    * trait's generic surface the only possible generic heal is
    * fetch→delete→re-append (a crash between those commits loses the
    * chunk) or append-then-delete (delete is by key, so it would take the
    * fresh exemplar too). Neither is safe, so each store must heal with
    * its own atomic primitive — one-commit snapshot swap
    * ([[ParquetPayloadStore]]), structural impossibility
    * ([[FlatFilePayloadStore]]), or equivalent. */
  def healDuplicates(): Seq[String]

  /** Rewrite storage into its most scan- and prune-friendly layout (LSM
    * "major compaction"). Safe no-op default: stores whose layout never
    * fragments (file-per-chunk) need nothing; segment-based stores override
    * with a single-snapshot rewrite. Maintenance op — run with no writer in
    * flight. */
  def compact(): Unit = ()

  /** Sweep storage debris unreachable from any live snapshot (crashed
    * writers' never-claimed segments). Safe no-op default; maintenance op —
    * run with no writer in flight. */
  def vacuum(): Unit = ()
}

/**
 * Default store: payloads as a first-class binary column in a
 * [[graft.sources.VersionedTable]] parquet snapshot table — the layout the
 * distributed reconstruction join wants (co-partitionable by chunkKey,
 * row-group pruned by the ingest-time chunkKey sort).
 */
final class ParquetPayloadStore(spark: SparkSession, path: String)
    extends PayloadStore {
  import spark.implicits._

  // bucketed: content-hash keys span the keyspace, so flat per-commit
  // min/max stats would never let GC skip a segment; one-character key-range
  // buckets make each delete touch only the buckets its victims hash into
  private val table = new VersionedTable(spark, path,
    implicitly[org.apache.spark.sql.Encoder[PayloadRow]].schema,
    statsCol = Some("chunkKey"), bucketed = true)

  override def read(): DataFrame = table.read()

  override def append(payloads: DataFrame): Unit = table.append(payloads)

  /** GC path: O(touched segments) via the table's per-segment chunkKey
    * stats. Content-hash keys span the keyspace, so a segment is skipped
    * only when its range genuinely misses every victim — the win grows as
    * segments narrow (compaction sorts by chunkKey). */
  override def delete(keys: Seq[String]): Unit =
    table.deleteKeys("chunkKey", keys)

  /** Atomic dup healing: detection is a chunkKey-only scan (column-pruned —
    * never touches payload bytes), and the heal is ONE snapshot commit
    * replacing the table with a per-chunkKey-distinct copy — no crash
    * window where chunks are missing (the trait default's delete→append
    * has one). Repair-frequency op, so the O(table) publish is acceptable. */
  override def healDuplicates(): Seq[String] = {
    val dups = table.read().groupBy($"chunkKey").count().filter($"count" > 1)
      .select($"chunkKey").as[String].collect().toSeq
    if (dups.nonEmpty)
      table.publish(read().dropDuplicates("chunkKey").sortWithinPartitions("chunkKey"))
    dups
  }

  /** One sorted single-snapshot commit: the chunkKey sort tightens every
    * bucket's row-group footer stats, so post-compaction point fetches and
    * GC deletes prune maximally. Same atomic publish primitive as
    * [[healDuplicates]] — no window where a chunk is unreadable. */
  override def compact(): Unit =
    table.publish(table.read().sortWithinPartitions("chunkKey"))

  override def vacuum(): Unit = table.vacuum()

  /** One filtered scan for the whole key set, over only the manifest
    * entries whose chunkKey stats can hold one of the keys (a bucketed
    * commit's entry covers one leading character, so most entries are never
    * opened), with an IN predicate pushed to the parquet scan, where the
    * ingest-time chunkKey sort makes row-group footer stats prune almost
    * everything — exactly ONE Spark job, unlike a broadcast semi-join whose
    * broadcast build is a job of its own. Point reads are ≤ a few thousand
    * keys by construction, well within IN-list planning range. */
  override def fetch(keys: Seq[String]): Map[String, Array[Byte]] =
    table.readKeys("chunkKey", keys).as[(String, Array[Byte])].collect().toMap

  /** [[fetch]]'s pruned scan with only the key column read — and no scan at
    * all when no entry's chunkKey stats can hold one of the keys. */
  override private[graft] def keysIn(keys: Seq[String]): Set[String] =
    table.readKeys("chunkKey", keys).select($"chunkKey").as[String].collect().toSet
}

/**
 * Second store: one flat file per chunk, named by its chunk key — the
 * reference sample apps' layout (reference: src/Test/Program.cs:184-207,
 * Callbacks.WriteChunk writing `chunks/<key>`). Chunk keys are urlsafe
 * base64 (SURVEY §2 H3), hence valid file names by construction.
 *
 * Writes run executor-side (`foreachPartition`), so ingest stays
 * distributed; `dir` must be a filesystem every executor can reach (local
 * in tests, shared FS on a cluster — an object-store client would slot in
 * the same way). Point fetches are direct file reads: zero Spark jobs.
 */
final class FlatFilePayloadStore(spark: SparkSession, dir: String)
    extends PayloadStore {
  import spark.implicits._

  Files.createDirectories(Paths.get(dir))

  override def read(): DataFrame = {
    val d = dir // avoid capturing `this` in the map closure
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) => (p.substring(p.lastIndexOf('/') + 1), bytes) }
      .toDF("chunkKey", "data")
  }

  override def append(payloads: DataFrame): Unit = {
    val d = dir
    payloads.select(col("chunkKey"), col("data"))
      .as[(String, Array[Byte])]
      .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
        // write-to-temp + fsync + ATOMIC_MOVE (see writeAtomic): a crash
        // mid-write or mid-host-failure must never leave a TORN
        // chunks/<key> — the ingest retry's dedupe probe is
        // key-existence-only, so a truncated file would be skipped on
        // rewrite and poison every later read of this chunk. The
        // dot-prefixed temp name keeps Spark's binaryFile reader (read(),
        // which skips hidden files) blind to in-flight writes.
        var wrote = false
        it.foreach { case (key, bytes) =>
          FlatFilePayloadStore.writeAtomic(d, key, bytes)
          wrote = true
        }
        // once per task, not per file: make the RENAMES durable too
        if (wrote) FlatFilePayloadStore.fsyncDir(d)
      }
  }

  /** Sweep crashed writers' hidden temp files — the trait's vacuum
    * contract (no writer in flight means every hidden .tmp is debris from
    * a hard-killed executor whose catch-block cleanup never ran). read()
    * skips hidden files, so the debris never affects correctness; this
    * reclaims the space so a long-lived store under occasional task
    * failures doesn't accumulate temp files without bound.
    *
    * Only temp files older than [[FlatFilePayloadStore.vacuumGraceMs]] are
    * swept: the no-writer-in-flight precondition is documented, not
    * enforced, and an accidental concurrent vacuum that deleted a LIVE
    * writer's temp file would fail that ingest task with a confusing
    * NoSuchFileException at its fsync/rename. Real debris is hours old by
    * the time a maintenance vacuum runs; a grace window loses nothing. */
  override def vacuum(): Unit = {
    val cutoff = System.currentTimeMillis() - FlatFilePayloadStore.vacuumGraceMs
    val s = Files.list(Paths.get(dir))
    try s.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      // A racing second vacuum (or a finishing writer's rename) can remove
      // the file between list and stat — skip it rather than abort the
      // whole maintenance pass on NoSuchFileException.
      if (n.startsWith(".") && n.endsWith(".tmp"))
        try {
          if (Files.getLastModifiedTime(p).toMillis < cutoff)
            Files.deleteIfExists(p)
        } catch { case _: java.nio.file.NoSuchFileException => () }
    } finally s.close()
  }

  override def delete(keys: Seq[String]): Unit =
    keys.foreach(k => Files.deleteIfExists(Paths.get(dir, k)))

  override def fetch(keys: Seq[String]): Map[String, Array[Byte]] =
    keys.iterator.map { k =>
      k -> Files.readAllBytes(Paths.get(dir, k))
    }.toMap

  /** One existence check per key on the driver: no Spark job, no bytes
    * read (`read()` would load every payload file's content). */
  override private[graft] def keysIn(keys: Seq[String]): Set[String] =
    keys.iterator.filter(k => Files.exists(Paths.get(dir, k))).toSet

  /** One file per key: duplicates are structurally impossible — skip even
    * the detection scan (read() here materializes payload bytes). */
  override def healDuplicates(): Seq[String] = Nil
}

/** Executor-side file primitives (object, not class, so the
  * foreachPartition closures capture nothing but the dir string). */
private[engine] object FlatFilePayloadStore {

  /** Minimum temp-file age before vacuum() may reclaim it (5 min). No live
    * write holds a temp file anywhere near this long — a chunk write is
    * one buffer + fsync + rename — so the window makes a
    * concurrent-by-accident vacuum harmless while still reclaiming every
    * crashed writer's debris on the next maintenance pass (real debris is
    * hours old by then). The spec exercises both sides by back-dating a
    * debris file's mtime, not by shrinking this. */
  val vacuumGraceMs: Long = 5L * 60 * 1000

  /** umask-style world-readable perms, matching what a plain
    * `Files.write` used to create: `createTempFile` hands back 0600, and
    * the rename would PRESERVE that — silently locking cross-user readers
    * (backup/export services on a shared cluster FS) out of every chunk
    * written after the temp-file switch. Best-effort on non-POSIX. */
  private val filePerms =
    java.nio.file.attribute.PosixFilePermissions.fromString("rw-r--r--")

  /** Durable atomic publish of one chunk file:
    *  - the data is fsynced BEFORE the rename (`force(true)`) — on a
    *    journaling FS with delayed allocation a crash can otherwise
    *    commit the rename without the bytes, leaving exactly the torn
    *    target the temp+rename dance exists to prevent;
    *  - an existing target surviving a failed move is SUCCESS, not an
    *    error: payloads for one chunkKey are byte-identical by
    *    construction (SHA-256 content key), and `REPLACE_EXISTING` is
    *    only advisory under `ATOMIC_MOVE` (per Files.move, a provider
    *    may refuse to replace) — the racing-duplicate-append the trait
    *    contract tolerates must not fail the whole ingest job;
    *  - a provider with NO atomic-move support at all
    *    (AtomicMoveNotSupportedException with no pre-existing target)
    *    falls back to a plain REPLACE_EXISTING move: crash-atomicity is
    *    degraded to what the provider can give, but fresh ingests on such
    *    filesystems keep working (a plain Files.write used to). */
  def writeAtomic(d: String, key: String, bytes: Array[Byte]): Unit = {
    val target = Paths.get(d, key)
    val tmp = Files.createTempFile(Paths.get(d), s".$key.", ".tmp")
    try {
      try Files.setPosixFilePermissions(tmp, filePerms)
      catch { case _: UnsupportedOperationException => () }
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
      finally ch.close()
      try Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException
            if !Files.exists(target) =>
          Files.move(tmp, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(target)) { Files.deleteIfExists(tmp); () }
          else throw e
      }
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  /** fsync the chunks DIRECTORY so the renames themselves are durable —
    * once per written partition, not per file. Best-effort: providers
    * that refuse a directory channel (non-POSIX) just skip it. */
  def fsyncDir(d: String): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(Paths.get(d),
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch {
      case _: java.io.IOException | _: UnsupportedOperationException => ()
    }
}
