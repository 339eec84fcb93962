package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.functions.{col, concat, hex, lit, substring}
import org.apache.spark.sql.types.{StringType, StructType}
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Base64
import scala.jdk.CollectionConverters._

/** A concurrent writer claimed the same version first. The losing commit
  * changed nothing on disk — re-read the table and retry. `cause` chains
  * the underlying conflict when this wraps another (retryConflicts'
  * give-up path keeps the last real conflict's stack trace). */
final class CommitConflictException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

object CommitConflictException {

  /** Retry budget for a CAS round that keeps losing its claim, and the
    * backoff cap per lost round. 64 attempts with 1,2,4,…,256 ms-capped
    * exponential backoff gives ≥ 15 s of cumulative yield — far beyond
    * any commit's critical section here — before surfacing the conflict;
    * the r15 CasLiveness sweep saw ≤ 140 lost claims across a WHOLE
    * 8-writer run, so a single round losing 64 straight is a stuck peer,
    * a livelock or a conflict that never clears (a segment the manifest
    * still references was deleted), and hiding it behind an unbounded
    * spin would burn a core with no progress diagnostics. */
  private[graft] val MaxCasAttempts = 64
  private[graft] val MaxBackoffMs = 256L

  /** Run one CAS round (`body` throws [[CommitConflictException]] on a
    * lost claim) until it lands, with capped exponential backoff between
    * lost rounds, surfacing the LAST conflict — attempt count in the
    * message — once [[MaxCasAttempts]] is exhausted. `maxAttempts` is
    * injectable so the spec proves the give-up path in milliseconds. */
  private[graft] def retryConflicts[T](op: String,
      maxAttempts: Int = MaxCasAttempts)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new CommitConflictException(
              s"$op: lost the CAS claim $attempt consecutive times " +
                s"(last: ${e.getMessage}) - a peer is stuck or livelocked",
              e) // chain the last real conflict so its stack trace survives
          Thread.sleep(math.min(MaxBackoffMs, 1L << math.min(attempt, 8)))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Advisory CAS-contention counters (r15): session-global, monotonic,
  * asserted by the specs and used to PRICE multi-writer goodput (the
  * r15–r17 numbers in BASELINE.md) — never by any engine decision (the
  * safety story is the CAS itself; these only measure how much work it
  * wastes under contention).
  *   - `claim_lost`   — commits whose segment fully wrote but whose
  *     manifest hard-link lost the race (the unit of wasted work);
  *   - `read_conflict` — read-side missing-file failures folded to
  *     conflicts by [[VersionedTable.asConflict]] (a racing writer
  *     retired segments mid-read);
  *   - `wasted_bytes` — on-disk size of losing segments at the moment
  *     the loser deletes them (bytes written that no manifest will
  *     ever reference). */
object CasStats {
  private val counters = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  private[sources] def add(key: String, n: Long): Unit =
    counters.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicLong()).addAndGet(n)

  /** Monotonic snapshot (0 for a counter never touched). Diff two
    * snapshots around a workload to attribute its contention cost. */
  def snapshot(): Map[String, Long] =
    Seq("claim_lost", "read_conflict", "wasted_bytes").map(k =>
      k -> Option(counters.get(k)).map(_.get()).getOrElse(0L)).toMap
}

/** One immutable segment of a [[VersionedTable]] version, with optional
  * min/max stats over the table's key column (absent on pre-stats manifests
  * or key-less tables — treated as "may contain anything"). */
final case class Segment(name: String, minKey: Option[String], maxKey: Option[String]) {
  private lazy val bounds = for (lo <- minKey; hi <- maxKey) yield (Segment.utf8(lo), Segment.utf8(hi))

  /** Could a row keyed by one of `keys` live here? `keys` must be
    * [[Segment.sortedUtf8]]'s output; unknown stats ⇒ yes, for any key. One
    * binary search finds the least key ≥ the entry's min, which is in range
    * iff it is ≤ the max. The order MUST be the one that produced the stats:
    * they are parquet's column-chunk min/max, whose order for UTF-8 strings
    * is unsigned UTF-8 bytes (as Spark's UTF8String), and that disagrees
    * with Java's UTF-16 compareTo for supplementary characters vs
    * [U+E000, U+FFFF] — a String-order search here could silently skip an
    * entry that holds the key. */
  def mayContainAny(keys: IndexedSeq[Array[Byte]]): Boolean = keys.nonEmpty && (bounds match {
    case Some((lo, hi)) =>
      var from = 0
      var until = keys.length
      while (from < until) {
        val mid = (from + until) >>> 1
        if (Segment.Utf8Order.lt(keys(mid), lo)) from = mid + 1 else until = mid
      }
      from < keys.length && Segment.Utf8Order.lteq(keys(from), hi)
    case None => true
  })
}

object Segment {
  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Unsigned lexicographic order of UTF-8 encodings — Spark's StringType
    * ordering and parquet's for its UTF-8 string statistics. */
  private[sources] val Utf8Order: Ordering[Array[Byte]] = (x, y) =>
    java.util.Arrays.compareUnsigned(x, y)

  /** `keys` encoded once and sorted for [[Segment.mayContainAny]]. */
  private[sources] def sortedUtf8(keys: Seq[String]): IndexedSeq[Array[Byte]] =
    keys.map(utf8).sorted(Utf8Order).toIndexedSeq
}

/**
 * Minimal atomic snapshot table over Parquet with incremental appends and
 * segment-targeted deletes.
 *
 * The reference mutates SQLite rows in place, serializing writers with
 * in-process locks (reference: src/DedupeLibrary/Database/SqliteProvider.cs:29-30)
 * and transactions (SqliteProvider.cs:495). On a distributed filesystem the
 * idiomatic equivalent is write-then-publish: every mutation writes immutable
 * data, then atomically claims the next version — the commit-protocol shape
 * Delta Lake / Iceberg use.
 *
 * Commit protocol (multi-writer safe):
 *   1. write the new rows as an immutable, uniquely-named segment directory
 *      — the commit's only Spark job: each entry's row count and key stats
 *      are read on the driver from the footers of the files just written;
 *   2. write the full manifest body to a temp file;
 *   3. CLAIM the version by hard-linking the temp file to
 *      `manifest-<v+1>.txt` — link(2) fails atomically if the name exists,
 *      so of N racing writers exactly one wins; losers remove their own
 *      segment and throw a clean, retryable [[CommitConflictException]]
 *      (nothing of theirs was ever reachable). The manifest appears with its
 *      full content in one atomic step — no torn reads, no `_CURRENT`
 *      pointer to flip.
 * The current version is simply the highest manifest present. A writer that
 * dies before its claim leaves only an unreferenced segment directory —
 * readers are unaffected, the next commit succeeds, [[vacuum]] sweeps it.
 *
 * A version is a MANIFEST (list of segments + per-segment key stats), so:
 *   - `append(df)`  commits ONLY the new rows as a fresh segment — O(new
 *     data); at 100 TB appending a batch never rewrites the table;
 *   - `deleteKeys`  rewrites ONLY segments whose [min,max] key range can
 *     contain a victim key — O(touched segments), the row-delete path
 *     (reference semantics: SqliteProvider.cs:522-523); non-intersecting
 *     segment directories are never read, never rewritten;
 *   - `publish(df)` writes a full single-segment snapshot — the compaction
 *     path (O(table), rare by design);
 *   - every read (`read`, [[readWhere]], [[readKeys]], [[readVersion]],
 *     [[readWithVersion]], the tiered fold, `deleteKeys`) scans the files
 *     of its manifest entries, listed on the driver: the manifest is the
 *     file index, so Spark starts no listing job however many entries a
 *     read names, and [[readKeys]] opens only the entries whose key range
 *     can hold one of its keys (the same stats `deleteKeys` prunes by).
 *
 * With `splitCol`, a commit files its rows apart per value of that column
 * (alphanumeric values: they name directories), so one commit carries
 * several kinds atomically and [[readWhere]] on it opens one kind's files.
 *
 * At 100 TB you would swap this for Delta (MERGE/OPTIMIZE/deletion vectors);
 * the engine only touches this class through the [[TableStore]] seam, so
 * that swap is confined here.
 */
class VersionedTable(spark: SparkSession, path: String, schema: StructType,
    statsCol: Option[String] = None, bucketed: Boolean = false,
    splitCol: Option[String] = None)
    extends TableStore {

  // the stats are UTF-8 strings compared in byte order: a numeric column's
  // values would be ranked as text ("10" < "9") and pruned wrongly
  require(statsCol.forall(c => schema.exists(f => f.name == c && f.dataType == StringType)),
    s"statsCol ${statsCol.mkString} must name a string column of $schema")

  private val dir = Paths.get(path)
  private val ManifestName = "^manifest-(\\d+)\\.txt$".r

  private def currentVersion: Long =
    if (!Files.isDirectory(dir)) -1L
    else listDir(dir).map(_.getFileName.toString)
      .collect { case ManifestName(n) => n.toLong }
      .foldLeft(-1L)(math.max)

  private def manifestPath(v: Long) = dir.resolve(s"manifest-$v.txt")

  // keys are arbitrary user strings (may contain tabs/newlines); stats are
  // base64-armored so the manifest stays line/tab-structured
  private def b64(s: String) =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) = new String(Base64.getUrlDecoder.decode(s), "UTF-8")

  private def segLine(s: Segment): String = (s.minKey, s.maxKey) match {
    case (Some(lo), Some(hi)) => s"${s.name}\t${b64(lo)}\t${b64(hi)}"
    case _ => s.name
  }

  /** Segments referenced by version `v` (oldest first). */
  private def segments(v: Long): Seq[Segment] =
    if (v < 0) Nil
    else new String(Files.readAllBytes(manifestPath(v)), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
        line.split("\t", -1) match {
          case Array(n, lo, hi) => Segment(n, Some(unb64(lo)), Some(unb64(hi)))
          case parts => Segment(parts(0), None, None)
        }
      }.toSeq

  private def segmentsIfExists(v: Long): Seq[Segment] =
    if (v < 0 || !Files.exists(manifestPath(v))) Nil else segments(v)

  /** Resolve (version, segments) tolerating the list-then-read race: a fast
    * concurrent writer can commit twice and retire the manifest a reader
    * just listed (the grace window keeps only v and v-1). The retry lands on
    * a newer manifest; reads stay safe under concurrent writers. */
  private def currentSnapshot(): (Long, Seq[Segment]) = {
    var attempts = 0
    while (attempts < 8) {
      val v = currentVersion
      try return (v, segments(v))
      catch { case _: java.nio.file.NoSuchFileException => attempts += 1 }
    }
    throw new IllegalStateException(
      s"manifest of $path kept vanishing mid-read after 8 attempts — writers are outpacing the grace window")
  }

  /** The rows of `segs` — an empty local frame with the schema when there
    * are none (before the first commit, a version whose commits emptied it,
    * or a keyed read no entry can answer), whose actions start no Spark job.
    * The one read path: the entries' files are listed here, on the driver,
    * and handed to Spark as a [[ManifestFileIndex]], so no read starts a
    * listing job however many entries it names. */
  private def readSegments(segs: Seq[Segment]): DataFrame =
    if (segs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.baseRelationToDataFrame(HadoopFsRelation(ManifestFileIndex(segs.flatMap(entryFiles)),
      StructType(Nil), schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** The data files of one manifest entry. A referenced entry that is gone,
    * or holds no data file, is a missing-file error (which [[asConflict]]
    * folds into a conflict), never a silently smaller read. */
  private def entryFiles(s: Segment): Seq[FileStatus] = {
    val files = listData(dir.resolve(s.name))._1
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(
        s"manifest entry ${s.name} of $path is missing or holds no data file")
    files
  }

  /** The data files directly in `p`, and its subdirectories; `_*` markers
    * and `.*` checksums are neither, partition directories (`__c=v`) are. */
  private def listData(p: java.nio.file.Path): (Seq[FileStatus], Seq[java.nio.file.Path]) = {
    val found = listDir(p).filterNot { f =>
      val n = f.getFileName.toString
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }.map(f => f -> Files.readAttributes(f, classOf[BasicFileAttributes]))
    (found.collect { case (f, a) if a.isRegularFile =>
      new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis, new Path(f.toUri))
    }, found.collect { case (f, a) if a.isDirectory => f })
  }

  /** Every directory under `p`, itself included, that holds data files —
    * the entries a commit just wrote. */
  private def entriesUnder(p: java.nio.file.Path): Seq[(java.nio.file.Path, Seq[FileStatus])] = {
    val (files, dirs) = listData(p)
    (if (files.isEmpty) Nil else Seq(p -> files)) ++ dirs.flatMap(entriesUnder)
  }

  /** Current snapshot as a DataFrame; empty (with schema) before first commit. */
  override def read(): DataFrame = readSegments(currentSnapshot()._2)

  /** Only the entries whose key stats can hold one of `keys` are opened —
    * when `keyCol` is the stats column; on any other column every entry. */
  override private[graft] def readKeys(keyCol: String, keys: Seq[String]): DataFrame =
    readSegments(mayHold(keyCol, keys, currentSnapshot()._2)._1)
      .filter(col(keyCol).isInCollection(keys))

  /** Split `segs` into the entries that may hold a row keyed by one of
    * `keys` and the rest: the keys are encoded and sorted once, then each
    * entry costs one binary search — O((keys + entries) · log keys), not
    * keys × entries. Stats were computed over `statsCol`, so pruning on any
    * other column would silently skip entries that hold the keys: a
    * mismatched `keyCol` keeps every entry (correct, just unpruned). */
  private def mayHold(keyCol: String, keys: Seq[String],
      segs: Seq[Segment]): (Seq[Segment], Seq[Segment]) =
    if (statsCol.contains(keyCol)) {
      val sorted = Segment.sortedUtf8(keys)
      segs.partition(_.mayContainAny(sorted))
    } else (segs, Seq.empty[Segment])

  /** On the split column, only the entries filed under `value` are opened. */
  override private[graft] def readWhere(colName: String, value: String): DataFrame =
    if (!splitCol.contains(colName)) super.readWhere(colName, value)
    else readSegments(currentSnapshot()._2.filter(_.name.split('/').contains(s"__$colName=$value")))

  /** Number of segments in the current version (compaction signal). */
  def segmentCount: Int = currentSnapshot()._2.size

  /** Versions whose manifests are currently retained, ascending. The
    * commit protocol keeps a one-version grace window (current and
    * current−1 — see [[commit]]'s retirement note), so this is the AS-OF
    * read horizon; a production lake widens the window by retention
    * policy (Delta/Iceberg keep N days of snapshots), which here is the
    * one constant in the retirement loop. */
  def retainedVersions: Seq[Long] =
    if (!Files.isDirectory(dir)) Nil
    else listDir(dir).map(_.getFileName.toString)
      .collect { case ManifestName(n) => n.toLong }.sorted

  /** TIME-TRAVEL read: the table AS OF a retained version — the manifest
    * is the snapshot, so reading an old version is just resolving its
    * segment list (segments are immutable; retirement only unlinks).
    * Throws for versions outside [[retainedVersions]]. */
  def readVersion(v: Long): DataFrame = {
    if (!Files.exists(manifestPath(v)))
      throw new IllegalArgumentException(
        s"version $v of $path is not retained (have: ${retainedVersions.mkString(",")})")
    readSegments(segments(v))
  }

  /** Append-only commit: write `df` as one new segment, manifest = old + new.
    * Cost is proportional to the NEW rows only. When the commit chain
    * exceeds `compactThreshold`, the append folds the SMALLEST half of the
    * commits (by on-disk bytes) plus the new rows into one segment and
    * leaves the large tail untouched — size-tiered, LSM-style: big segments
    * are rewritten only once they are small relative to the table, so
    * append-heavy ingest never pays an O(table) rewrite (a flat fold-all
    * would, every `compactThreshold` appends), while scan fan-in stays
    * bounded at ~compactThreshold. */
  override def append(df: DataFrame): Unit = append(df, 32)

  def append(df: DataFrame, compactThreshold: Int): Unit = {
    val (v, segs) = currentSnapshot()
    // a bucketed commit contributes many manifest entries; fold bookkeeping
    // runs on COMMITS (top-level segment dirs), not entries, or bucketing
    // would force pathological compaction every few appends
    val topOrder = segs.map(_.name.takeWhile(_ != '/')).distinct
    if (topOrder.size < compactThreshold) commit(v, segs, df)
    else asConflict("tiered fold") {
      // sizing + reading the folded segments races a fast concurrent
      // writer's retirement of them; asConflict converts the resulting
      // missing-file errors into the documented clean retryable conflict
      val bySize = topOrder.map(top => top -> dirBytes(dir.resolve(top))).sortBy(_._2)
      val foldTops = bySize.take(topOrder.size - compactThreshold / 2).map(_._1).toSet
      val (folded, kept) = segs.partition(s => foldTops(s.name.takeWhile(_ != '/')))
      commit(v, kept, readSegments(folded).unionByName(df))
    }
  }

  /** Convert missing-file failures from reading segments a concurrent
    * writer retired mid-operation into the clean retryable conflict the
    * multi-writer contract promises. Walks the CAUSE CHAIN: an executor-side
    * FileNotFoundException surfaces driver-side wrapped in SparkException,
    * and a bare type match would leak it as a non-retryable error.
    * Exposed ([[private[graft]]]) so read-modify-write callers — e.g.
    * AnnIndexStore.compactDeletes — can wrap their read+transform+
    * materialize bodies too: [[readWithVersion]] returns a LAZY frame
    * whose segment files a concurrent writer can retire before the
    * caller's localCheckpoint materializes them, and without this
    * conversion that race escapes their CAS retry loops as a crash. */
  private[graft] def asConflict[T](op: String)(body: => T): T =
    try body
    catch {
      case e: Throwable if causeChain(e).exists(isMissingFile) =>
        CasStats.add("read_conflict", 1)
        throw new CommitConflictException(
          s"$op on $path raced a concurrent writer's segment retirement; re-read and retry")
    }

  private def causeChain(e: Throwable): Seq[Throwable] = {
    val out = Seq.newBuilder[Throwable]
    var cur = e
    var depth = 0
    while (cur != null && depth < 16) { out += cur; cur = cur.getCause; depth += 1 }
    out.result()
  }

  private def isMissingFile(t: Throwable): Boolean = t match {
    case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => true
    case a: org.apache.spark.sql.AnalysisException =>
      a.getMessage != null && (a.getMessage.contains("PATH_NOT_FOUND") ||
        a.getMessage.contains("Path does not exist"))
    case _ => false
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (Files.isDirectory(p)) listDir(p).map(dirBytes).sum
    else if (Files.exists(p)) Files.size(p) else 0L

  /** Full-snapshot commit: write `df` as the only segment (compaction path);
    * superseded segments are retired after a one-version grace window. */
  override def publish(df: DataFrame): Unit =
    commit(currentVersion, Nil, df)

  /** Current snapshot WITH its version — for read-modify-write callers
    * that must CAS their writeback against concurrent commits (pair with
    * [[publishIfVersion]], as [[rewrite]] does). */
  def readWithVersion(): (Long, DataFrame) = {
    val (v, segs) = currentSnapshot()
    (v, readSegments(segs))
  }

  /** Full-snapshot commit that claims exactly version `expected`+1 —
    * throws [[CommitConflictException]] if ANY other writer committed
    * after snapshot `expected` was read (the manifest hard-link claim is
    * the CAS). This is what makes a read-modify-write sequence safe:
    * `publish` alone re-reads the version at claim time, so a concurrent
    * commit landing between the caller's read and its writeback would be
    * silently discarded (keepSegs = Nil drops the interloper's segment —
    * the r12 lost-delete finding). */
  def publishIfVersion(df: DataFrame, expected: Long): Unit =
    commit(expected, Nil, df)

  /** Rewrite the current contents into a single segment (manifest GC).
    * Compaction is pure read-modify-write, so it goes through [[rewrite]]:
    * an unconditional publish would erase any commit that landed between
    * the read and the writeback. Answer-neutral by construction; the CAS
    * makes it LOSSLESS under concurrent writers too. */
  def compact(): Unit = rewrite(s"compaction of $path")(identity)

  /** One CAS-retried read-modify-write of the whole table: each attempt
    * reads (version, rows), applies `transform`, materializes the result
    * and claims exactly version+1 ([[publishIfVersion]]); a lost claim OR
    * a mid-read segment retirement (the lazy snapshot's files can vanish
    * before localCheckpoint materializes them — [[asConflict]] folds that
    * into the same conflict) re-enters with a fresh read. The retry is
    * bounded with backoff ([[CommitConflictException.retryConflicts]]): a
    * conflict that never clears — a referenced segment deleted out from
    * under the manifest — surfaces as a [[CommitConflictException]]
    * instead of a hot spin. */
  private[graft] def rewrite(op: String)(transform: DataFrame => DataFrame): Unit =
    CommitConflictException.retryConflicts(op) {
      var pinned: Option[DataFrame] = None
      try {
        val (v, df) = asConflict(s"$op read") {
          val (v0, d0) = readWithVersion()
          // materialize BEFORE the publish swaps manifests
          (v0, transform(d0).localCheckpoint())
        }
        pinned = Some(df)
        publishIfVersion(df, v)
      }
      // release the attempt's pinned RDD blocks win or lose (a winner's
      // rows are on disk in the new segment; a loser's would otherwise
      // accumulate in executor storage across conflict retries)
      finally pinned.foreach(df =>
        try df.unpersist() catch { case _: Throwable => () })
    }

  /** Remove rows whose `keyCol` is in `keys`, rewriting ONLY segments whose
    * key-range stats can contain a victim — O(touched segments), not
    * O(table). Untouched segment directories are never read or modified.
    * Stats help most when segment key ranges are narrow (time/name-ordered
    * ingest); content-hash keys span the space, so hash-keyed tables degrade
    * gracefully toward a full rewrite. */
  override def deleteKeys(keyCol: String, keys: Seq[String]): Unit = {
    if (keys.isEmpty) return
    val (v, segs) = currentSnapshot()
    val (touched, untouched) = mayHold(keyCol, keys, segs)
    if (touched.isEmpty) return // no segment can hold a victim: free no-op
    asConflict("targeted delete") {
      val survivors = readSegments(touched)
        // !isInCollection is NULL (not true) for a null key under SQL
        // three-valued logic — keep null-key rows explicitly or they would
        // vanish along with the victims
        .filter(col(keyCol).isNull || !col(keyCol).isInCollection(keys))
      commit(v, untouched, survivors)
    }
  }

  /** Test seam: runs between the segment write and the atomic manifest
    * claim — the window where a competing writer can win or this one can
    * die. Production no-op. */
  protected def onBeforeManifestClaim(): Unit = ()

  private def commit(v: Long, keepSegs: Seq[Segment], newData: DataFrame): Unit = {
    val next = v + 1
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val segName = s"seg-$next-$attempt" // unique per attempt: racing writers never clobber
    val segPath = dir.resolve(segName)
    // one manifest entry per partition: the split column's value, then on
    // a bucketed table the key's leading character. A content-hash key's
    // min/max spans the keyspace, so only one-character buckets let a
    // delete skip segments. The bucket NAME is the hex of that char's
    // UTF-8 bytes ('b' prefix keeps it inference-proof), so no entry name
    // needs Hadoop's escaping of '%', ':', '=', … in partition paths.
    // mayContainAny reads the per-entry STATS, never the name.
    val parts = splitCol.toSeq.map(c => s"__$c" -> col(c)) ++
      statsCol.filter(_ => bucketed).map(c => "__bucket" -> concat(lit("b"), hex(substring(col(c), 0, 1))))
    parts.foldLeft(newData) { case (d, (n, c)) => d.withColumn(n, c) }
      .write.mode("overwrite").partitionBy(parts.map(_._1): _*).parquet(segPath.toString)
    // the write is the commit's only Spark job: each new entry's row count
    // and key stats are read on the driver from the footers of the files
    // just written; an entry with no rows (an empty write) is left out
    val conf = spark.sessionState.newHadoopConf()
    val newSegs = entriesUnder(segPath).flatMap { case (p, files) =>
      footerSegment(dir.relativize(p).toString, files, conf)
    }.sortBy(_.name)
    if (newSegs.isEmpty) deleteRecursively(segPath)
    val segs = keepSegs ++ newSegs
    val body = segs.map(segLine).mkString("", "\n", "\n")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".manifest-$next.tmp-$attempt")
    Files.write(tmp, body.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    onBeforeManifestClaim()
    try Files.createLink(manifestPath(next), tmp) // atomic CAS: link(2) is EEXCL
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        // price the loss before discarding it: these bytes were fully
        // written and will never be referenced by any manifest
        CasStats.add("claim_lost", 1)
        CasStats.add("wasted_bytes", dirBytes(segPath))
        deleteRecursively(segPath) // our own never-referenced attempt
        throw new CommitConflictException(
          s"version $next of $path was claimed by a concurrent writer; re-read and retry")
    }
    Files.deleteIfExists(tmp)
    // retire manifests strictly below the base version (one-version grace
    // window: plans resolved before this commit still execute — lazy
    // DataFrames hold segment paths and open them only at action time),
    // plus their segments referenced by neither the new nor the base
    // version. Unreferenced crash debris is left for vacuum(): deleting any
    // not-yet-claimed segment here could race an in-flight writer.
    // tolerant read: a faster writer that already committed next+1 retires
    // manifest v — this commit's claim LANDED, so a missing base manifest
    // must degrade to "nothing extra to keep", never surface as a failure
    // (the caller would retry a commit that succeeded, duplicating rows)
    val live = (segs ++ (if (v >= 0) segmentsIfExists(v) else Nil)).map(_.name).toSet
    listDir(dir).foreach { p =>
      p.getFileName.toString match {
        case ManifestName(n) if n.toLong < v =>
          val retired = segmentsIfExists(n.toLong).map(_.name).filterNot(live)
          Files.deleteIfExists(p)
          retired.foreach(deleteSegEntry)
        case _ => ()
      }
    }
  }

  /** The manifest entry `name` for `files`, from their parquet footers:
    * rows are the row groups' counts summed, None when there are none. The
    * `statsCol` range combines each row group's column-chunk min/max in
    * [[Segment.Utf8Order]], parquet's own order for UTF-8 strings. An
    * all-null chunk adds nothing; a chunk with rows but no usable min/max
    * (parquet drops a chunk's stats when a value exceeds 4 KiB) leaves the
    * whole entry's range unknown — never pruned, never read as "no keys". */
  private def footerSegment(name: String, files: Seq[FileStatus],
      conf: Configuration): Option[Segment] = {
    var rows = 0L
    var known = true
    var lo, hi: Array[Byte] = null
    for (f <- files; block <- ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala if block.getRowCount > 0) {
      rows += block.getRowCount
      statsCol.foreach { c =>
        block.getColumns.asScala.find(_.getPath.toDotString == c)
          .flatMap(chunk => Option(chunk.getStatistics)) match {
          case Some(s) if s.hasNonNullValue =>
            if (lo == null || Segment.Utf8Order.lt(s.getMinBytes, lo)) lo = s.getMinBytes
            if (hi == null || Segment.Utf8Order.gt(s.getMaxBytes, hi)) hi = s.getMaxBytes
          case Some(s) if s.isNumNullsSet && s.getNumNulls == block.getRowCount => ()
          case _ => known = false
        }
      }
    }
    def key(b: Array[Byte]) = Option(b).filter(_ => known).map(new String(_, "UTF-8"))
    if (rows == 0) None else Some(Segment(name, key(lo), key(hi)))
  }

  /** Sweep crash debris: segment directories referenced by no retained
    * manifest and stale temp manifests. Maintenance op — run only while no
    * writer is in flight (a racing writer's fresh segment is unreferenced
    * until its claim lands). */
  override def vacuum(): Unit = {
    val v = currentVersion
    val live = (segmentsIfExists(v) ++ segmentsIfExists(v - 1)).map(_.name).toSet
    // a bucketed commit's entries are subdirs — the top-level dir is live
    // while ANY of its buckets is referenced
    def isLive(top: String) = live(top) || live.exists(_.startsWith(top + "/"))
    listDir(dir).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("seg-") && !isLive(name)) deleteRecursively(p)
      if (name.startsWith(".manifest-")) Files.deleteIfExists(p)
    }
  }

  /** Delete one manifest entry (a whole segment dir, or one partition
    * subdir of a split or bucketed commit — in which case the parent goes
    * too once only marker files remain). */
  private def deleteSegEntry(name: String): Unit = {
    deleteRecursively(dir.resolve(name))
    val slash = name.indexOf('/')
    if (slash > 0) {
      val parent = dir.resolve(name.substring(0, slash))
      if (Files.isDirectory(parent) &&
          listDir(parent).forall(_.getFileName.toString.startsWith("_")))
        deleteRecursively(parent)
    }
  }

  /** Files.list with the stream closed (it leaks a directory fd otherwise). */
  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    if (!Files.isDirectory(p)) return Nil
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.core.FsUtil.deleteRecursively(p)
}

/** The files of a [[VersionedTable]] scan, listed on the driver from its
  * manifest: Spark plans the scan from this list and never lists a
  * directory itself. The table has no partition columns here (its entry
  * directories are the manifest's business), so no scan can carry a
  * partition filter; one would fail loudly. */
private[sources] final case class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override def partitionSchema: StructType = StructType(Nil)
  override def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    require(partitionFilters.isEmpty, s"unsupported partition filter: $partitionFilters")
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  }
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
}
