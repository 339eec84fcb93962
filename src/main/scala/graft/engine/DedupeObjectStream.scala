package graft.engine

/**
 * Seekable read-only stream over a deduped object (reference:
 * src/DedupeLibrary/DedupeStream.cs:13-175). Reads resolve the covering
 * chunk through `fetch` and cache the current chunk. `fetch` is a
 * lookup, not a read: [[DedupeEngine.openStream]] hands in every chunk's
 * payload, fetched in one job when the stream opens, so reads and seeks
 * touch no storage.
 */
final class DedupeObjectStream(
    val length: Long,
    map: Seq[MapRow],
    fetch: String => Array[Byte]) extends java.io.InputStream {

  // address-sorted map: rowFor's binary search depends on this order, so
  // the stream sorts for itself (the map is tiny relative to payloads)
  private val sorted: Array[MapRow] = map.sortBy(_.chunkAddress).toArray
  private var pos: Long = 0L
  private var cachedKey: String = _
  private var cachedData: Array[Byte] = _
  private var cachedStart: Long = -1L
  private var cachedLen: Int = 0

  /** Covering map row for `p`: cached-chunk fast path, else binary search —
    * a sequential byte-at-a-time read() must not pay a linear scan of the
    * whole map per call (O(length x chunks) for the reference's find()). */
  private def rowFor(p: Long): MapRow = {
    var lo = 0
    var hi = sorted.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val r = sorted(mid)
      if (r.chunkAddress > p) hi = mid - 1
      else if (r.chunkAddress + r.chunkLength <= p) lo = mid + 1
      else return r
    }
    throw new IllegalStateException(s"no chunk covers position $p")
  }

  def position: Long = pos

  /** Seek to any offset in [0, length] (position == length reads EOF). */
  def seek(offset: Long): Unit = {
    require(offset >= 0 && offset <= length, s"seek out of range: $offset not in [0, $length]")
    pos = offset
  }

  private val one = new Array[Byte](1) // reused: no allocation per byte read

  override def read(): Int = {
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xff
  }

  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (pos >= length) return -1
    // cached-chunk fast path (sequential reads), else interval-containment
    // lookup (operator C1) by binary search over the sorted in-memory map
    if (cachedStart < 0 || pos < cachedStart || pos >= cachedStart + cachedLen) {
      val m = rowFor(pos)
      if (cachedStart != m.chunkAddress || cachedKey != m.chunkKey) {
        cachedData = fetch(m.chunkKey)
        cachedKey = m.chunkKey
        cachedStart = m.chunkAddress
        cachedLen = m.chunkLength
      }
    }
    val inChunk = (pos - cachedStart).toInt
    val n = math.min(len.toLong, math.min(cachedLen - inChunk, length - pos)).toInt
    System.arraycopy(cachedData, inChunk, buf, off, n)
    pos += n
    n
  }

  override def available(): Int = math.min(length - pos, Int.MaxValue.toLong).toInt
}
