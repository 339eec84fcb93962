package graft.core

import java.security.MessageDigest
import java.util.Base64

/** One chunk's index entry: content key plus its place inside the object.
  * Mirrors the reference's object-map row
  * (reference: src/DedupeLibrary/DedupeObjectMap.cs:17-48).
  */
final case class ChunkRef(chunkKey: String, length: Int, position: Int, address: Long)

/** A chunk ref together with its payload slice. */
final case class ChunkWithData(ref: ChunkRef, data: Array[Byte])

/**
 * Content-defined chunker.
 *
 * Splits a byte sequence into variable-size chunks at content-defined
 * boundaries so that identical sub-sequences produce identical chunks
 * regardless of surrounding bytes. Each profile has ONE boundary rule — a
 * function from a chunk's start to its end ([[cut]]) — and every entry
 * point here (batch [[boundaries]], [[chunk]], [[chunkWithData]] and the
 * bounded-memory [[chunkStream]]) tiles its input with that same rule for
 * the settings' profile, so batch and stream output agree by construction.
 *
 * The MD5-window profile (behavioral contract of reference
 * src/DedupeLibrary/DedupeLibrary.cs:605-717, re-implemented from scratch
 * as a single-pass index loop — no quadratic buffer growth):
 *
 *   - a chunk of at most `minChunkSize` remaining bytes is the final chunk;
 *   - otherwise a window of `minChunkSize` bytes slides by `shiftCount`
 *     bytes per step over the current (growing) chunk's tail;
 *   - a boundary fires when the leading `boundaryCheckBytes` bytes of
 *     MD5(window) are all zero, or when the accumulated chunk length
 *     reaches maxChunkSize (so sizes are in [min, max + shift));
 *   - the tail of the input always flushes as a final (possibly short)
 *     chunk.
 *
 * The gear profile's rule is [[GearChunker.cut]].
 *
 * Chunk identity: URL-safe unpadded base64 of SHA-256 over the chunk
 * bytes (reference: DedupeCommon.cs:106-111,146-154).
 *
 * Determinism: pure function of (bytes, settings) — required so that
 * distributed ingest partitions and a local run produce identical keys.
 */
object Chunker {

  /** URL-safe unpadded base64(SHA-256(data[off, off+len))). */
  def chunkKey(data: Array[Byte], off: Int, len: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(data, off, len)
    Base64.getUrlEncoder.withoutPadding.encodeToString(md.digest())
  }

  def chunkKey(data: Array[Byte]): String = chunkKey(data, 0, data.length)

  /** End of the chunk that starts at `from` in `buf[from, until)`, by the
    * settings' profile. Neither rule looks past `from + maxChunkSize +
    * shiftCount`, so a lookahead buffer that long decides exactly what the
    * whole input would. */
  private def cut(buf: Array[Byte], from: Int, until: Int, s: DedupeSettings): Int =
    if (s.profile == DedupeSettings.GearProfile)
      GearChunker.cut(buf, from, until, s.minChunkSize, s.maxChunkSize, s.gearMaskBits)
    else md5Cut(buf, from, until, s)

  /** The MD5-window rule; windows are hashed in place. */
  private def md5Cut(buf: Array[Byte], from: Int, until: Int, s: DedupeSettings): Int = {
    val md5 = MessageDigest.getInstance("MD5")
    var winEnd = from + s.minChunkSize // first window covers the chunk's first min bytes
    while (winEnd < until) {
      md5.reset()
      md5.update(buf, winEnd - s.minChunkSize, s.minChunkSize)
      val h = md5.digest()
      var zero = true
      var i = 0
      while (zero && i < s.boundaryCheckBytes) { zero = h(i) == 0; i += 1 }
      if (zero || winEnd - from >= s.maxChunkSize) return winEnd
      winEnd += s.shiftCount
    }
    until
  }

  /** (address, length) pairs tiling [0, len), each chunk ending where
    * `cutAt(its start)` says. */
  private[core] def tile(len: Int)(cutAt: Int => Int): IndexedSeq[(Long, Int)] = {
    require(len >= 1, "input must be non-empty")
    val out = IndexedSeq.newBuilder[(Long, Int)]
    var from = 0
    while (from < len) {
      val end = cutAt(from)
      out += ((from.toLong, end - from))
      from = end
    }
    out.result()
  }

  /** Chunk boundaries as (address, length) pairs tiling [0, data.length). */
  def boundaries(data: Array[Byte], s: DedupeSettings): IndexedSeq[(Long, Int)] =
    tile(data.length)(cut(data, _, data.length, s))

  /** Chunk refs (key, length, position, address) for the input. */
  def chunk(data: Array[Byte], s: DedupeSettings): IndexedSeq[ChunkRef] =
    boundaries(data, s).zipWithIndex.map { case ((addr, clen), pos) =>
      ChunkRef(chunkKey(data, addr.toInt, clen), clen, pos, addr)
    }

  /** Chunk refs plus payload slices (for ingest). */
  def chunkWithData(data: Array[Byte], s: DedupeSettings): IndexedSeq[ChunkWithData] =
    boundaries(data, s).zipWithIndex.map { case ((addr, clen), pos) =>
      val slice = java.util.Arrays.copyOfRange(data, addr.toInt, addr.toInt + clen)
      ChunkWithData(ChunkRef(chunkKey(slice), clen, pos, addr), slice)
    }

  /**
   * Stream chunking with BOUNDED memory (maxChunkSize + shiftCount
   * lookahead) — the ingest path for objects larger than a JVM array
   * (behavioral contract of the reference's Stream consumption,
   * DedupeLibrary.cs:605-717). Each chunk is [[cut]] from the head of the
   * lookahead buffer, which holds the whole lookahead unless the stream is
   * exhausted, so the output is byte-identical to [[chunkWithData]] over
   * the same bytes for both profiles.
   */
  def chunkStream(in: java.io.InputStream, s: DedupeSettings): Iterator[ChunkWithData] =
    new Iterator[ChunkWithData] {
      private val cap = s.maxChunkSize + s.shiftCount
      private val buf = new Array[Byte](cap)
      private var avail = 0
      private var eof = false
      private var address = 0L
      private var pos = 0

      private def refill(): Unit =
        while (!eof && avail < cap) {
          val n = in.read(buf, avail, cap - avail)
          if (n < 0) eof = true else avail += n
        }

      override def hasNext: Boolean = { refill(); avail > 0 }

      override def next(): ChunkWithData = {
        if (!hasNext) throw new NoSuchElementException("stream exhausted")
        val end = cut(buf, 0, avail, s)
        val slice = java.util.Arrays.copyOfRange(buf, 0, end)
        val ref = ChunkRef(chunkKey(slice), end, pos, address)
        address += end
        pos += 1
        System.arraycopy(buf, end, buf, 0, avail - end)
        avail -= end
        ChunkWithData(ref, slice)
      }
    }
}
