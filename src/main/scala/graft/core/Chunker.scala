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
 * regardless of surrounding bytes. Boundary rule (behavioral contract of
 * reference src/DedupeLibrary/DedupeLibrary.cs:605-717, re-implemented
 * from scratch as a single-pass index loop — no quadratic buffer growth):
 *
 *   - input of length <= minChunkSize is a single chunk;
 *   - otherwise a window of `minChunkSize` bytes slides by `shiftCount`
 *     bytes per step over the current (growing) chunk's tail;
 *   - a boundary fires when the leading `boundaryCheckBytes` bytes of
 *     MD5(window) are all zero, or when the accumulated chunk length
 *     reaches maxChunkSize (so sizes are in [min, max + shift));
 *   - the tail of the input always flushes as a final (possibly short)
 *     chunk.
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

  /** Compute chunk boundaries as (address, length) pairs tiling
    * [0, data.length). Single pass over the input; windows are hashed
    * in place (no per-step allocation beyond the MD5 digest).
    */
  def boundaries(data: Array[Byte], s: DedupeSettings): IndexedSeq[(Long, Int)] = {
    val len = data.length
    require(len >= 1, "input must be non-empty")
    if (len <= s.minChunkSize) return IndexedSeq((0L, len))

    val md5 = MessageDigest.getInstance("MD5")
    val out = IndexedSeq.newBuilder[(Long, Int)]
    var chunkStart = 0
    var winEnd = s.minChunkSize // first window of a chunk covers its first min bytes
    while (chunkStart < len) {
      if (winEnd >= len) {
        out += ((chunkStart.toLong, len - chunkStart))
        chunkStart = len
      } else {
        md5.reset()
        md5.update(data, winEnd - s.minChunkSize, s.minChunkSize)
        val h = md5.digest()
        var zero = true
        var i = 0
        while (zero && i < s.boundaryCheckBytes) { zero = h(i) == 0; i += 1 }
        if (zero || (winEnd - chunkStart) >= s.maxChunkSize) {
          out += ((chunkStart.toLong, winEnd - chunkStart))
          chunkStart = winEnd
          winEnd = chunkStart + s.minChunkSize
        } else {
          winEnd += s.shiftCount
        }
      }
    }
    out.result()
  }

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

  /** First chunk boundary of the buffer's leading chunk: the batch loop
    * specialized to chunkStart = 0. `avail >= maxChunkSize + shiftCount`
    * must hold unless the stream is exhausted (windows are sized so a
    * boundary always fires inside that lookahead), which is what makes the
    * per-chunk decisions byte-identical to the batch pass. */
  private def firstCutMd5(buf: Array[Byte], avail: Int, s: DedupeSettings): Int = {
    val md5 = MessageDigest.getInstance("MD5")
    var winEnd = s.minChunkSize
    while (winEnd < avail) {
      md5.reset()
      md5.update(buf, winEnd - s.minChunkSize, s.minChunkSize)
      val h = md5.digest()
      var zero = true
      var i = 0
      while (zero && i < s.boundaryCheckBytes) { zero = h(i) == 0; i += 1 }
      if (zero || winEnd >= s.maxChunkSize) return winEnd
      winEnd += s.shiftCount
    }
    avail // stream tail (only reachable at EOF)
  }

  /**
   * Stream chunking with BOUNDED memory (maxChunkSize + shiftCount
   * lookahead) — the ingest path for objects larger than a JVM array
   * (behavioral contract of the reference's Stream consumption,
   * DedupeLibrary.cs:605-717). Output is byte-identical to
   * [[DedupeSettings.chunkWithData]] over the same bytes for BOTH profiles:
   * neither boundary rule ever looks across a committed boundary, so
   * processing one leading chunk at a time is exact.
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
        val cut =
          if (s.profile == DedupeSettings.GearProfile)
            GearChunker.firstCut(buf, avail, s.minChunkSize, s.maxChunkSize, s.gearMaskBits)
          else firstCutMd5(buf, avail, s)
        val slice = java.util.Arrays.copyOfRange(buf, 0, cut)
        val ref = ChunkRef(chunkKey(slice), cut, pos, address)
        address += cut
        pos += 1
        System.arraycopy(buf, cut, buf, 0, avail - cut)
        avail -= cut
        ChunkWithData(ref, slice)
      }
    }
}
