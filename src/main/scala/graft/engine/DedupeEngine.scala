package graft.engine

import graft.core.{Chunker, DedupeSettings}
import graft.sources.{TableStore, VersionedTable}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** One row per stored object (reference: src/DedupeLibrary/DedupeObject.cs:12-49).
  * `compressedLength` keeps the reference's (misnomer) semantics:
  * sum of the object's own chunk lengths == originalLength
  * (reference: DedupeLibrary.cs:233); real savings only show globally in stats.
  */
final case class ObjectRow(
    objectKey: String, originalLength: Long, compressedLength: Long,
    chunkCount: Long, createdUtc: Timestamp)

/** Object↔chunk edge with ordering — the reconstruction recipe
  * (reference: src/DedupeLibrary/DedupeObjectMap.cs:11-48). */
final case class MapRow(
    objectKey: String, chunkKey: String, chunkLength: Int,
    chunkPosition: Int, chunkAddress: Long)

/** Unique chunk payload (the reference keeps payloads behind user
  * callbacks — reference: src/DedupeLibrary/DedupeCallbacks.cs:15-58;
  * here they live in a first-class binary-column table). */
final case class PayloadRow(chunkKey: String, data: Array[Byte])

/** Chunk metadata with derived refcount (reference mutates a counter under
  * a lock — SqliteProvider.cs:463-484; Spark derives it from objmap). */
final case class ChunkInfo(chunkKey: String, length: Int, refCount: Long)

final case class ObjectMetadata(obj: ObjectRow, map: Seq[MapRow], chunks: Seq[ChunkInfo])

/** Enumeration envelope (reference: src/DedupeLibrary/EnumerationResult.cs:10-87).
  * Keyset pagination by objectKey replaces the reference's surrogate-id keyset. */
final case class ObjectListing(
    prefix: Option[String], startAfterKey: Option[String], maxResults: Int,
    objects: Seq[ObjectRow], nextStartAfterKey: Option[String]) {

  /** Fixed-width report (reference EnumerationResult.ToTabularString,
    * EnumerationResult.cs:117-145 — without its compressed-length column
    * bug, DedupeObject.cs:131). */
  def toTabularString: String = {
    val header = f"${"Key"}%-40s ${"Length"}%12s ${"Chunks"}%8s  Created"
    val rows = objects.map(o =>
      f"${o.objectKey}%-40s ${o.originalLength}%12d ${o.chunkCount}%8d  ${o.createdUtc}")
    (header +: rows).mkString("\n")
  }
}

/** Aggregate statistics (reference: src/DedupeLibrary/IndexStatistics.cs). */
final case class IndexStats(
    objectCount: Long, chunkCount: Long, logicalBytes: Long, physicalBytes: Long) {
  def ratioX: Double =
    if (logicalBytes == 0 || physicalBytes == 0) 0.0
    else logicalBytes.toDouble / physicalBytes
  def ratioPercent: Double =
    if (logicalBytes == 0 || physicalBytes == 0) 0.0
    else 100.0 * (1.0 - physicalBytes.toDouble / logicalBytes)

  /** Fixed-width report (reference IndexStatistics.ToTabularString,
    * IndexStatistics.cs:139-151). */
  def toTabularString: String =
    f"""Objects   : $objectCount%12d
       |Chunks    : $chunkCount%12d
       |Logical   : $logicalBytes%12d bytes
       |Physical  : $physicalBytes%12d bytes
       |Ratio     : $ratioX%12.2fX ($ratioPercent%.2f%%)""".stripMargin
}

/**
 * Spark-native deduplicating object store: the reference's whole API surface
 * (write / writeOrReplace / get / exists / list / stats / delete / position
 * lookup — reference: src/DedupeLibrary/DedupeLibrary.cs) re-expressed as
 * DataFrame algebra over two snapshot tables:
 *
 *   index    (kind, objectKey, originalLength, compressedLength, chunkCount,
 *             createdUtc, chunkKey, chunkLength, chunkPosition, chunkAddress)
 *   payloads (chunkKey, data BINARY)
 *
 * The index holds one `kind = "o"` row per object and one `kind = "m"` row
 * per object↔chunk edge; the `objects` and `objmap` views read one kind
 * each. Every write, clone or delete is ONE index commit, like the
 * reference's one SQLite transaction (SqliteProvider.cs:495). Payloads land
 * before it and are garbage-collected after it, so a writer that dies in
 * between leaves only unreferenced payloads, reclaimed by [[repairIndex]].
 *
 * refCount is never stored: it is the number of map rows per chunkKey,
 * counted by one shared scan ([[refCounts]]), so garbage collection compares
 * that count with the victim's own references instead of a locked counter.
 *
 * Concurrency contract: READS are always safe (immutable snapshots). WRITES
 * to one index are single-writer-at-a-time — the VersionedTable commit guard
 * makes a violation loud (`CommitConflictException`, no data loss) rather
 * than silent, matching the reference's writer locks
 * (SqliteProvider.cs:29-30). On a conflict, retry the whole ingest/delete:
 * its dedupe decisions (payload left-anti, duplicate-key checks) were
 * derived from a snapshot another writer has since advanced. Concurrent
 * ingests of DIFFERENT keys never conflict on the index table (pure
 * appends), and the one anomaly they can produce — the same chunkKey
 * appended to payloads by both, each having passed its left-anti against
 * the same stale snapshot — is contained: every read path resolves map
 * rows through a per-chunkKey exemplar (point reads through
 * [[PayloadStore.fetch]]'s one-payload-per-key map, `reconstructAll`
 * through a pre-join `dropDuplicates("chunkKey")`), so reads return
 * correct bytes THROUGH the duplicate window, and [[repairIndex]] merely
 * reclaims the wasted bytes afterwards.
 */
final class DedupeEngine(
    val spark: SparkSession, basePath: String,
    val settings: DedupeSettings = DedupeSettings(),
    payloadStore: Option[PayloadStore] = None,
    indexBackend: Option[(String, org.apache.spark.sql.types.StructType) => TableStore] = None,
    bucketedIndex: Boolean = false) {

  import spark.implicits._

  /** The index table behind the [[graft.sources.TableStore]] seam (the
    * reference's DbProvider swap point, DbProvider.cs:10-155); parquet
    * VersionedTable by default, any backend by injection. The parquet
    * table's objectKey stats make deletes O(intersecting segments), and it
    * files each kind apart, so a read of one kind opens only its files.
    *
    * `bucketedIndex = true` also partitions each index commit by the
    * leading character of the object key — the right call when USER keys
    * are content hashes (a common pattern: callers of the reference often
    * key objects by their own digest). Hash keys span the keyspace, so flat
    * per-commit min/max stats never let a delete skip a segment; bucketing
    * restores O(touched buckets) deletes, exactly as the payload table
    * already does for chunkKey. Leave it false for name/time-ordered keys,
    * where whole-commit stats are already narrow. */
  private val index: TableStore =
    indexBackend.getOrElse((p: String, s: StructType) => new VersionedTable(spark, p, s,
      statsCol = Some("objectKey"), bucketed = bucketedIndex, splitCol = Some("kind"))
    )(s"$basePath/index", DedupeEngine.IndexSchema)
  /** Payload bytes behind the storage-strategy seam (reference keeps them
    * behind user callbacks, DedupeCallbacks.cs:15-58); parquet snapshot
    * table by default, any [[PayloadStore]] by injection. */
  private val store: PayloadStore =
    payloadStore.getOrElse(new ParquetPayloadStore(spark, s"$basePath/payloads"))

  def objects: Dataset[ObjectRow] = index.readWhere("kind", "o")
    .select(DedupeEngine.ObjectSchema.fieldNames.map(col).toIndexedSeq: _*).as[ObjectRow]
  def objmap: Dataset[MapRow] = index.readWhere("kind", "m")
    .select(DedupeEngine.MapSchema.fieldNames.map(col).toIndexedSeq: _*).as[MapRow]
  def payloads: Dataset[PayloadRow] = store.read().as[PayloadRow]

  /** ONE payload exemplar per NEW chunkKey — the dedupe-on-write step of
    * [[commitChunks]], so of both `ingest` and `writeStream`. First
    * occurrence wins (payloads for one key are byte-identical — SHA-256
    * content key); the left-anti drops keys the store already holds; the
    * final sort is FREE (already hash-partitioned by chunkKey from the
    * dropDuplicates shuffle) and makes each parquet row-group cover a
    * narrow key range so point lookups prune via footer stats. */
  private def newPayloadRows(chunkRows: DataFrame): DataFrame =
    chunkRows.select($"chunkKey", $"data")
      .dropDuplicates("chunkKey")
      .join(payloads.select($"chunkKey"), Seq("chunkKey"), "left_anti")
      .sortWithinPartitions("chunkKey")

  /** Derived chunk table: metadata + refcount from the map edges
    * (replaces reference's mutable dedupechunk rows, DedupeChunk.cs:11-36). */
  def chunks: Dataset[ChunkInfo] = objmap
    .groupBy($"chunkKey")
    .agg(max($"chunkLength").as("length"), count(lit(1)).as("refCount"))
    .as[ChunkInfo]

  // ---------------------------------------------------------------- ingest

  /** Store one object through `ingest` — so through [[admit]], which
    * rejects a duplicate key like the reference (DedupeLibrary.cs:203)
    * before any commit. */
  def write(key: String, data: Array[Byte]): Unit = ingest(Seq(key -> data))

  /** Upsert of a whole object (reference: DedupeLibrary.cs:301-318). */
  def writeOrReplace(key: String, data: Array[Byte]): Unit = {
    if (exists(key)) delete(key)
    write(key, data)
  }

  /**
   * Bulk distributed ingest — the scale path. Chunks each object inside a
   * flatMap (pure function, no driver round-trips), runs [[admit]] over the
   * batch's keys (one position-0 chunk row per object), then hands the
   * single chunked dataset to [[commitChunks]], which derives the payload
   * and index commits from it. No per-object loop. A driver-side batch
   * is checked here first: every key and every object must be non-empty
   * (the chunker tiles at least one byte).
   */
  def ingest(batch: Seq[(String, Array[Byte])]): Unit = {
    batch.foreach { case (key, data) =>
      require(key != null && key.nonEmpty, "object key required")
      require(data != null && data.nonEmpty, s"data required: object '$key' is empty")
    }
    ingest(spark.createDataset(batch))
  }

  def ingest(ds: Dataset[(String, Array[Byte])]): Unit = {
    val s = settings
    val chunked = ds.flatMap { case (key, bytes) =>
      s.chunkWithData(bytes).map(c => // profile-aware: md5-window or gear
        (key, c.ref.chunkKey, c.ref.length, c.ref.position, c.ref.address, c.data))
    }.toDF("objectKey", "chunkKey", "chunkLength", "chunkPosition", "chunkAddress", "data")
      .localCheckpoint() // chunk once; admission and both commits derive from this
    // every object has exactly one position-0 chunk, so a key on two such
    // rows is a key the batch itself repeats
    admit(chunked.filter($"chunkPosition" === 0))
    commitChunks(chunked)
  }

  /**
   * Store one object from a stream with BOUNDED memory — the path for
   * objects beyond [[DedupeEngine.MaxObjectBytes]] (the reference likewise
   * consumes a Stream, never whole-file bytes: DedupeLibrary.cs:605-717;
   * its CLI pipes stdin, Cli/Program.cs:211-228).
   *
   * [[admit]] runs first, so a taken key fails before the stream is read.
   * Chunks then spool in ~`batchBytes` slabs into a staging parquet
   * directory under the index (plain files, NOT table commits), which
   * [[commitChunks]] commits exactly ONCE per table — so a 2 TB object
   * costs 2 commits, not thousands (per-slab table appends would
   * re-trigger the segment-fold compaction every 32 slabs: quadratic write
   * amplification). Staging is removed on both success and failure.
   */
  def writeStream(key: String, in: java.io.InputStream,
      batchBytes: Long = 64L << 20): Unit = {
    require(key != null && key.nonEmpty, "object key required")
    admit(Seq(key).toDF("objectKey"))
    val stage = s"$basePath/.stage-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val it = Chunker.chunkStream(in, settings)
      require(it.hasNext, "data required")
      val batch = scala.collection.mutable.ArrayBuffer.empty[graft.core.ChunkWithData]
      var batchSize = 0L
      def flush(): Unit = if (batch.nonEmpty) {
        spark.createDataset(batch.toSeq.map(c =>
            (key, c.ref.chunkKey, c.ref.length, c.ref.position, c.ref.address, c.data)))
          .toDF("objectKey", "chunkKey", "chunkLength", "chunkPosition", "chunkAddress", "data")
          .write.mode("append").parquet(stage)
        batch.clear()
        batchSize = 0L
      }
      while (it.hasNext) {
        val c = it.next()
        batch += c
        batchSize += c.ref.length
        if (batchSize >= batchBytes) flush()
      }
      flush()
      commitChunks(spark.read.parquet(stage))
    } finally {
      graft.core.FsUtil.deleteRecursively(java.nio.file.Paths.get(stage))
    }
  }

  /** The one admission step every writer runs before its first commit:
    * ONE query over the batch's `keys` (an `objectKey` column, one row per
    * object) unioned with the index's object keys semi-joined to the batch,
    * grouped by key. In this order it rejects a key the batch repeats (two
    * payloads would silently interleave into one object), then a key the
    * index already holds (the reference rejects duplicate keys on every
    * write, DedupeLibrary.cs:203). Map rows never outlive or precede their
    * object row, so the object keys are the whole answer. */
  private def admit(keys: DataFrame): Unit = {
    val batch = keys.select($"objectKey")
    val hits = batch.select($"objectKey", lit(1).as("inBatch"))
      .unionByName(objects.select($"objectKey").join(batch, Seq("objectKey"), "left_semi")
        .select($"objectKey", lit(0).as("inBatch")))
      .groupBy($"objectKey")
      .agg(sum($"inBatch").as("inBatch"), count(lit(1)).as("rows"))
      .filter($"rows" > 1)
      .as[(String, Long, Long)].collect()
    hits.find(_._2 > 1).foreach(h => throw new IllegalArgumentException(
      s"duplicate object key within ingest batch: ${h._1}"))
    hits.headOption.foreach(h => throw new IllegalArgumentException(
      s"object key already exists: ${h._1}"))
  }

  /** `df`'s rows as index rows of `kind`: its own index columns, typed
    * nulls for the other kind's. */
  private def indexRows(kind: String, df: DataFrame): DataFrame =
    df.select(DedupeEngine.IndexSchema.fields.toIndexedSeq.map {
      case f if f.name == "kind" => lit(kind).as("kind")
      case f if df.columns.contains(f.name) => col(f.name).cast(f.dataType).as(f.name)
      case f => lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** The one commit sequence behind `ingest` and `writeStream`: the payloads
    * [[newPayloadRows]] keeps land first, then ONE index commit carries the
    * map rows and the per-object rollups together. Each table gains one
    * new segment holding only these rows (O(new data) — an ingest never
    * rewrites tables). A crash before the index commit leaves only
    * unreferenced payloads, which no read can reach and [[repairIndex]]
    * reclaims. */
  private def commitChunks(chunked: DataFrame): Unit = {
    store.append(newPayloadRows(chunked))
    val now = new Timestamp(System.currentTimeMillis())
    index.append(indexRows("m", chunked).unionByName(indexRows("o", chunked
      .groupBy($"objectKey").agg(
        sum($"chunkLength").cast(LongType).as("originalLength"),
        sum($"chunkLength").cast(LongType).as("compressedLength"),
        count(lit(1)).as("chunkCount"))
      .withColumn("createdUtc", lit(now)))))
  }

  /** Ingest every file under `path` (recursively) as one object each,
    * through Spark's binaryFile source — the distributed analog of the
    * reference sample apps' file-per-object storage
    * (reference: src/Test/Program.cs:184-207). Keys are paths RELATIVE to
    * the source root, not basenames: same-named files in different
    * subdirectories must stay distinct objects, not collide in one key.
    * binaryFile materializes each file as ONE row, so files beyond
    * `maxObjectBytes` (JVM array bound by default) are rejected loudly
    * up front — from a status-only scan, before any payload bytes move —
    * with a pointer to the [[writeStream] ] path that handles them. Empty
    * files, which hold no chunk to store, are rejected up front too. */
  def ingestDirectory(path: String,
      maxObjectBytes: Long = DedupeEngine.MaxObjectBytes): Unit = {
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString
    val listed = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(path)
    // binaryFile's scan never sees a zero-length file (its file index lists
    // it but plans no split for it), so the lengths come from that listing
    val empty = listed.queryExecution.analyzed
      .collect { case r: LogicalRelation => r.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case i: PartitioningAwareFileIndex => i.allFiles() }
      .flatten.filter(_.getLen == 0).map(_.getPath.toString).take(3)
    val oversized = listed
      .select($"path", $"length") // file-status columns only: no content read
      .filter($"length" > maxObjectBytes)
      .limit(3).collect()
    val problems =
      (if (empty.isEmpty) Nil
       else Seq(s"empty file(s) hold no object to ingest: ${empty.mkString(", ")}")) ++
      (if (oversized.isEmpty) Nil else Seq(
        s"file(s) exceed the $maxObjectBytes-byte single-row ingest bound: " +
          oversized.map(r => s"${r.getString(0)} (${r.getLong(1)} B)").mkString(", ") +
          " ...; ingest oversized objects individually via writeStream"))
    if (problems.nonEmpty) throw new IllegalArgumentException(problems.mkString("; "))
    val files = listed
      .select($"path", $"content")
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        // binaryFile reports Hadoop-style paths (file:/...) whose path part
        // is already DECODED — a space or literal '%' appears raw, so
        // java.net.URI would reject ('a b.bin') or mis-decode ('p%25q.bin')
        // them. hadoop.fs.Path round-trips both. Fail loudly on a path
        // outside the root — a silent basename fallback would reintroduce
        // same-name collisions across subdirs
        val local = new org.apache.hadoop.fs.Path(p).toUri.getPath
        if (!local.startsWith(root + "/"))
          throw new IllegalStateException(
            s"binaryFile path '$p' (decoded '$local') is not under ingest root '$root'")
        (local.substring(root.length + 1), bytes)
      }
    ingest(files)
  }

  /** Reconstruct objects and write each as a file named by its key under
    * `outDir` — the distributed Get→file sink (executor-side writes; no
    * driver materialization). Keys containing '/' become subdirectories;
    * an empty index exports 0 files. */
  def exportAll(outDir: String, keys: Option[Seq[String]] = None): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val outRootStr = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize.toString
    val counts = reconstructAll(keys).map { case (key, bytes) =>
      // object keys are untrusted: a '..' segment must not escape outDir
      val outRoot = java.nio.file.Paths.get(outRootStr)
      val target = outRoot.resolve(key).normalize
      require(target.startsWith(outRoot),
        s"object key escapes the export directory: $key")
      val parent = target.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      java.nio.file.Files.write(target, bytes)
      1L
    }
    counts.toDF("n").agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
  }

  // ---------------------------------------------------------------- lookups

  /** Equality existence probe (reference: DedupeLibrary.cs:562-566). */
  def exists(key: String): Boolean =
    !objects.filter($"objectKey" === key).limit(1).isEmpty

  /** The object row and its address-ordered map rows — the one point
    * lookup every point read goes through: ONE keyed scan of the index,
    * both kinds at once, never a job per kind; the parquet index opens only
    * the entries whose objectKey range can hold the key. */
  private def lookup(key: String): Option[(ObjectRow, Seq[MapRow])] = {
    val rows = index.readKeys("objectKey", Seq(key)).collect()
    rows.find(_.getString(0) == "o").map { r =>
      val obj = ObjectRow(
        r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getTimestamp(5))
      val mapRows = rows.iterator.filter(_.getString(0) == "m").map(r => MapRow(
        r.getString(1), r.getString(6), r.getInt(7), r.getInt(8), r.getLong(9)))
        .toSeq.sortBy(_.chunkAddress)
      (obj, mapRows)
    }
  }

  /** ONE batched payload fetch for all of a map's chunks — the point reads'
    * shared fetch (never one Spark job per chunk). The store returns one
    * payload per key, so duplicate payload rows from the out-of-contract
    * concurrent-append race resolve to a single exemplar here. */
  private def payloadsFor(m: Seq[MapRow]): Map[String, Array[Byte]] =
    store.fetch(m.map(_.chunkKey).distinct)

  /** Global refcounts of `chunkKeys`, the one reference count behind
    * [[getMetadata]], [[getChunkMetadata]] and [[delete]]'s GC: ONE
    * shuffle-free objmap scan with the IN filter pushed into it (a
    * groupBy's shuffle would be an extra AQE job). Each partition folds its
    * rows to (chunkKey → length, count) before the collect, so the driver
    * receives at most partitions × keys rows, not one per reference
    * (unbounded for a hot chunk such as a zero block). Unreferenced keys
    * are absent. */
  private def refCounts(chunkKeys: Seq[String]): Seq[ChunkInfo] =
    objmap.filter($"chunkKey".isInCollection(chunkKeys))
      .select($"chunkKey", $"chunkLength")
      // the scan's internal rows, not a typed mapPartitions: its encoder
      // round trip cost ~12% more CPU per lookup (local[4], 4 cores)
      .queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, (Int, Long)]
        rows.foreach { r => // rows are reused: read the fields before the next
          val k = r.getUTF8String(0).toString
          acc(k) = acc.get(k).fold((r.getInt(1), 1L)) { case (len, n) => (len, n + 1) }
        }
        acc.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2) { case ((len, a), (_, b)) => (len, a + b) }
      .map { case (k, (len, n)) => ChunkInfo(k, len, n) }.toSeq

  /** Point metadata lookup enriched with ordered map + chunk info
    * (reference: SqliteProvider.cs:282-305): [[lookup]]'s union scan, then
    * [[refCounts]] for this object's chunk keys (refcounts are
    * cross-object, so they need their own pass). Two query executions, one
    * job each: the parquet index lists its files from its manifest, so no
    * scan adds a file-listing job however many entries it names. */
  def getMetadata(key: String): Option[ObjectMetadata] =
    lookup(key).map { case (obj, mapRows) =>
      ObjectMetadata(obj, mapRows, refCounts(mapRows.map(_.chunkKey).distinct))
    }

  /** Chunk metadata point lookup (reference: SqliteProvider.cs:312-326):
    * [[refCounts]] of one key; None when no map row references it. */
  def getChunkMetadata(chunkKey: String): Option[ChunkInfo] =
    refCounts(Seq(chunkKey)).headOption

  /** The map entry covering byte position `pos` of an object — interval
    * containment, the reference's only raw-SQL query
    * (reference: SqliteProvider.cs:363-393). */
  def mapForPosition(key: String, pos: Long): Option[MapRow] =
    objmap.filter($"objectKey" === key &&
        $"chunkAddress" <= pos && $"chunkAddress" + $"chunkLength" > pos)
      .limit(1).collect().headOption

  /** Dedupe-aware object clone — copy an object WITHOUT touching a single
    * payload byte: the CAS benefit the reference's content-keyed design
    * implies but never ships as a verb. The source's [[lookup]] supplies
    * its object and map rows, [[admit]] vets the destination key, and ONE
    * index commit adds the rows re-keyed to the destination with a fresh
    * createdUtc. Every shared chunk's refcount rises by construction
    * (refcounts are DERIVED from the map rows, so there is no counter to
    * race on). Cost is O(source chunk count) index rows — the map passes
    * through the driver, as in [[delete]] — and ZERO payload bytes.
    * Source and clone then share chunks exactly like two
    * independently-written identical objects: deleting either leaves the
    * other fully readable ([[delete]]'s refcount GC counts the survivor's
    * references). */
  def cloneObject(srcKey: String, dstKey: String): Unit = {
    require(dstKey != null && dstKey.nonEmpty, "object key required")
    val (obj, m) = lookup(srcKey).getOrElse(
      throw new NoSuchElementException(s"no such object: $srcKey"))
    admit(Seq(dstKey).toDF("objectKey"))
    val now = new Timestamp(System.currentTimeMillis())
    index.append(indexRows("o", Seq(obj.copy(objectKey = dstKey, createdUtc = now)).toDF())
      .unionByName(indexRows("m", m.map(_.copy(objectKey = dstKey)).toDF())))
  }

  // ---------------------------------------------------------------- read

  /** Reconstruct an object: [[lookup]] the ordered map, fetch its chunks in
    * one pass, concat in address order (reference: DedupeLibrary.cs:377-404).
    * A committed object with no map rows reads back as empty bytes. */
  def get(key: String): Option[Array[Byte]] = lookup(key).map { case (_, m) =>
    val payloads = payloadsFor(m)
    val out = new java.io.ByteArrayOutputStream()
    m.foreach(r => out.write(payloads(r.chunkKey)))
    out.toByteArray
  }

  /** Chunk-at-a-time read (reference DedupeStream, DedupeStream.cs:13-175):
    * an iterator over address-ordered chunks, all prefetched by
    * [[payloadsFor]]'s one pass; objects are at most a few thousand chunks
    * by construction, so the prefetch is the same memory envelope as `get`.
    * None for a committed object with no map rows. */
  def getStream(key: String): Option[Iterator[Array[Byte]]] =
    lookup(key).collect { case (_, m) if m.nonEmpty =>
      val payloads = payloadsFor(m)
      m.iterator.map(r => payloads(r.chunkKey))
    }

  /** Seekable java.io.InputStream over a deduped object (the reference's
    * DedupeStream facade) — each refill resolves the covering chunk via the
    * position lookup (C1) and copies the overlap. Opening costs the same two
    * jobs as `get` ([[lookup]] + the batched payload fetch — never one job
    * per chunk, and no file-listing job: both tables list their files from
    * their manifests); reads and seeks after open touch no Spark at all.
    * None for a committed object with no map rows. Diverges deliberately
    * from two reference bugs (SURVEY §7): reads past EOF return -1 (not a
    * buffer-offset bail, DedupeStream.cs:89) and seeking to any position
    * in [0, length] is allowed (DedupeStream.cs:125 rejects
    * offset == Length).
    */
  def openStream(key: String): Option[DedupeObjectStream] =
    lookup(key).collect { case (_, m) if m.nonEmpty =>
      val length = m.iterator.map(r => r.chunkAddress + r.chunkLength).max
      new DedupeObjectStream(length, m, payloadsFor(m))
    }

  /** Distributed bulk reconstruction — every object (or a filtered set)
    * rebuilt in one job via the ordered binary-concat aggregator: map rows
    * join payloads on chunkKey, group by object, concat by address. No
    * driver loop, no per-object query; the 100 TB path. */
  def reconstructAll(keys: Option[Seq[String]] = None): Dataset[(String, Array[Byte])] = {
    val m = keys.fold(objmap.toDF())(ks =>
      objmap.join(spark.createDataset(ks).toDF("objectKey"), Seq("objectKey"), "left_semi"))
    // exemplar view: concurrent-ingest races can duplicate a chunkKey across
    // payload versions; deduping the payload side BEFORE the join costs no
    // extra shuffle — the dedupe's exchange+sort on chunkKey is exactly the
    // distribution the sort-merge join requires, so Catalyst reuses it —
    // and it shrinks the join's build input besides
    m.join(payloads.dropDuplicates("chunkKey"), Seq("chunkKey"))
      .select($"objectKey", $"chunkAddress", $"data")
      .as[(String, Long, Array[Byte])]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.functions.BinaryConcatAgg.toColumn.name("obj"))
  }

  // ---------------------------------------------------------------- list

  /** Prefix-filtered keyset-paginated enumeration
    * (reference: SqliteProvider.cs:203-247; page cap 100 at l.206). */
  def listObjects(prefix: Option[String] = None, startAfterKey: Option[String] = None,
      maxResults: Int = 100): ObjectListing = {
    val cap = math.min(math.max(maxResults, 1), 100)
    var df = objects.toDF()
    prefix.foreach(p => df = df.filter($"objectKey".startsWith(p)))
    startAfterKey.foreach(k => df = df.filter($"objectKey" > k))
    val page = df.orderBy($"objectKey").limit(cap).as[ObjectRow].collect().toSeq
    val next = if (page.size == cap) Some(page.last.objectKey) else None
    ObjectListing(prefix, startAfterKey, cap, page, next)
  }

  // ---------------------------------------------------------------- stats

  /** Index statistics in two single-pass aggregations
    * (reference: SqliteProvider.cs:155-190). */
  def indexStats(): IndexStats = {
    val o = objects.agg(count(lit(1)), coalesce(sum($"originalLength"), lit(0L)))
      .as[(Long, Long)].head()
    val c = chunks.agg(count(lit(1)), coalesce(sum($"length".cast(LongType)), lit(0L)))
      .as[(Long, Long)].head()
    IndexStats(o._1, c._1, o._2, c._2)
  }

  // ---------------------------------------------------------------- delete

  /** Delete an object; orphaned chunks (refcount would hit zero) are
    * garbage-collected (reference: SqliteProvider.cs:495-526 + callback
    * fan-out DedupeLibrary.cs:507-522). The victim's [[getMetadata]]
    * carries its map and the [[refCounts]] of its chunks: a chunk is
    * garbage exactly when all of its references are the victim's own map
    * rows. ONE index commit retires the object row and its map rows
    * together — deleteKeys rewrites only segments whose key range covers
    * the victim, O(touched segments) — and the payload GC runs after it,
    * so a delete that dies in between leaves only unreferenced payloads
    * for [[repairIndex]]. Returns the GC'd chunk keys. */
  def delete(key: String): Seq[String] = {
    val md = getMetadata(key).getOrElse(
      throw new NoSuchElementException(s"object not found: $key"))
    val own = md.map.groupMapReduce(_.chunkKey)(_ => 1L)(_ + _)
    val gc = md.chunks.collect { case c if c.refCount == own(c.chunkKey) => c.chunkKey }
    index.deleteKeys("objectKey", Seq(key))
    // deleting an object whose chunks are all still shared must not pay a
    // full payload-table rewrite for a no-op
    if (gc.nonEmpty) store.delete(gc)
    gc
  }

  /** Run `body` with the documented conflict-retry loop: on
    * [[graft.sources.CommitConflictException]] the whole operation re-runs
    * against a fresh snapshot (its dedupe decisions were derived from a
    * snapshot another writer has since advanced — re-reading is the fix,
    * not resuming), with jittered linear backoff so N contending writers
    * don't re-collide in lockstep. Use around `write`/`ingest`/`delete`
    * when multiple writers share one index:
    * {{{ engine.retryOnConflict() { engine.ingest(batch) } }}} */
  def retryOnConflict[T](maxAttempts: Int = 8)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: graft.sources.CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"operation kept conflicting after $maxAttempts attempts", e)
          Thread.sleep(attempt * 20L + scala.util.Random.nextInt(40))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** LSM "major compaction" for the whole index: rewrite the index and the
    * payload table each as one globally key-SORTED snapshot. Appends leave
    * a chain of segments (the tiered fold bounds fan-in but never fully
    * merges) whose key ranges overlap — after enough churn every delete
    * touches most segments. A sorted single-snapshot commit gives each
    * output file a disjoint key range, so segment stats and parquet
    * row-group footers prune maximally again. O(table) by design; a rare,
    * explicit maintenance op (CLI: `compact`), run with no writer in
    * flight — same contract as [[repairIndex]]. The sort is one
    * range-partitioned shuffle per table;
    * at 100 TB you run it per-partition/incrementally via the same
    * publish seam. */
  def compactIndex(): Unit = {
    // each backend decides what compaction MEANS: snapshot tables re-sort
    // into one segment; the JDBC backend is a documented no-op (the DB has
    // no snapshot fragmentation, and its map rows are corpus-proportional —
    // they must never round-trip through a driver-side publish)
    index.compactSorted(Seq("kind", "objectKey", "chunkPosition"))
    store.compact()
  }

  /** Sweep storage debris no snapshot references — segment directories a
    * crashed writer wrote but never claimed, stale temp manifests. Commits
    * already retire superseded segments as they go; vacuum only reclaims
    * what a crash orphaned. Run with no writer in flight (an in-flight
    * writer's fresh segment is unreferenced until its claim lands). CLI:
    * `vacuum`. */
  def vacuumIndex(): Unit = {
    index.vacuum()
    store.vacuum()
  }

  /** Reclaim unreachable crash debris: payload rows no map row references
    * — left by a write that died between its payload and index commits, or
    * by a `delete` that died between its index commit and its GC. The
    * index commit is atomic, so that debris is invisible to reads; this
    * step only reclaims space. Repair ALSO heals duplicate payload rows
    * (the out-of-contract concurrent-append race). Reads were already
    * correct through the duplicate window — every read path resolves map
    * rows through a per-chunkKey exemplar (see [[payloadsFor]]/
    * [[reconstructAll]]) — so healing reclaims the duplicated bytes,
    * nothing more. Sweeps `.stage-*` directories a killed writeStream left
    * behind. Run it with no writer in flight — an in-flight write's
    * payloads are unreferenced until its index commit lands, and an
    * in-flight writeStream's staging dir must not be swept. */
  def repairIndex(): RepairReport = {
    // distinct on the payload side: a duplicated-and-orphaned key must be
    // deleted (and reported) once
    val orphanChunks = payloads.select($"chunkKey").distinct()
      .join(objmap.select($"chunkKey").distinct(), Seq("chunkKey"), "left_anti")
      .as[String].collect().toSeq
    if (orphanChunks.nonEmpty) store.delete(orphanChunks)
    // duplicate payload rows: detection and healing live behind the store
    // seam (the flat-file store skips even the scan — one file per key)
    val healed = store.healDuplicates()
    // staging dirs a killed writeStream never cleaned (its finally block
    // died with it) — can hold up to the whole object's spooled bytes and
    // no table-level vacuum ever sees them
    val base = java.nio.file.Paths.get(basePath)
    if (java.nio.file.Files.isDirectory(base)) {
      val s = java.nio.file.Files.list(base)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".stage-"))
        .foreach(graft.core.FsUtil.deleteRecursively)
      finally s.close()
    }
    RepairReport(orphanChunks, healed)
  }
}

/** What [[DedupeEngine.repairIndex]] reclaimed and healed. */
final case class RepairReport(orphanChunks: Seq[String], healedDuplicates: Seq[String])

/** Index lifecycle + config persistence (reference A7: InitializeIndex /
  * IsInitialized / config upsert-lookup, SqliteProvider.cs:65-149,
  * DedupeLibrary.cs:583-603 — chunking params live with the index so every
  * later open chunks identically). */
object DedupeEngine {

  /** Hard byte bound of the array-based ingest paths: `write`/`ingest`/
    * `ingestDirectory` hold one `Array[Byte]` per object (JVM arrays cap
    * near 2^31). Objects beyond it must go through [[DedupeEngine.writeStream]]. */
  val MaxObjectBytes: Long = Int.MaxValue.toLong - 64

  private val ObjectSchema = org.apache.spark.sql.Encoders.product[ObjectRow].schema
  private val MapSchema = org.apache.spark.sql.Encoders.product[MapRow].schema
  /** The index row: `kind` ("o" object, "m" map), the object columns, then
    * the map columns after objectKey; a row leaves the other kind's null. */
  private[graft] val IndexSchema = StructType((StructField("kind", StringType) +:
    (ObjectSchema.fields ++ MapSchema.fields.tail)).map(_.copy(nullable = true)).toSeq)

  private def configPath(basePath: String) =
    java.nio.file.Paths.get(basePath, "config.properties")

  def isInitialized(basePath: String): Boolean =
    java.nio.file.Files.exists(configPath(basePath))

  /** Create a new index directory, persisting the chunking params and the
    * index storage layout. Pass `bucketedIndex = true` when user object
    * keys are content hashes — the layout choice lives with the index, so
    * every later [[open]] commits with the same bucketing. Pass
    * `jdbcIndex = true` to keep the index table in an embedded relational
    * DB under the index directory instead of parquet snapshots (the
    * reference persists its provider choice the same way — the database
    * file IS the config; src/Test.External swaps it for MySQL): the choice
    * is recorded in config.properties, so every later [[open]] wires the
    * same backend. */
  def create(spark: SparkSession, basePath: String,
      settings: DedupeSettings = DedupeSettings(),
      bucketedIndex: Boolean = false,
      jdbcIndex: Boolean = false): DedupeEngine = {
    require(!isInitialized(basePath), s"index already initialized: $basePath")
    require(!(bucketedIndex && jdbcIndex),
      "bucketed_index is a parquet-layout option; the JDBC index has no segment files to bucket")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(basePath))
    val body = (settings.toConfigMap
      + ("bucketed_index" -> bucketedIndex.toString)
      + ("jdbc_index" -> jdbcIndex.toString))
      .toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(configPath(basePath), body.getBytes("UTF-8"))
    new DedupeEngine(spark, basePath, settings,
      indexBackend = jdbcBackendIf(jdbcIndex, spark, basePath),
      bucketedIndex = bucketedIndex)
  }

  /** Open an existing index with its persisted chunking params and layout. */
  def open(spark: SparkSession, basePath: String): DedupeEngine = {
    require(isInitialized(basePath), s"index not initialized: $basePath (create first)")
    // opening the retired two-table layout would show an empty index
    val retired = Seq("objects", "objmap")
      .filter(t => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(basePath, t)))
    if (retired.nonEmpty)
      throw new IllegalStateException(
        s"index directory $basePath holds ${retired.mkString(" and ")} tables of the retired " +
          "two-table layout, which this version cannot read; re-ingest its objects into a new index")
    val m = new String(java.nio.file.Files.readAllBytes(configPath(basePath)), "UTF-8")
      .linesIterator.filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k.trim -> v.trim
      }.toMap
    new DedupeEngine(spark, basePath, DedupeSettings.fromConfigMap(m),
      indexBackend = jdbcBackendIf(m.get("jdbc_index").contains("true"), spark, basePath),
      bucketedIndex = m.get("bucketed_index").contains("true"))
  }

  private def jdbcBackendIf(on: Boolean, spark: SparkSession, basePath: String) =
    if (on) Some(graft.sources.JdbcTableStore.factory(spark, s"$basePath/derby-index"))
    else None
}
