package graft.core

/**
 * Rolling-hash content-defined chunker (FastCDC/Gear family — Xia et al.,
 * USENIX ATC'16): a 256-entry "gear" table of pseudo-random 64-bit values,
 * hash advanced per byte as `h = (h << 1) + gear(b)`, boundary when
 * `h & mask == 0` past minChunkSize, hard cap at maxChunkSize.
 *
 * This is the opt-in THROUGHPUT profile next to `Chunker` (the
 * reference-fidelity MD5-window rule, reference
 * src/DedupeLibrary/DedupeLibrary.cs:605-717): the MD5 rule re-hashes a
 * full minChunkSize window every shiftCount bytes — ~minChunkSize/shiftCount
 * x work amplification — while the gear hash reads each input byte exactly
 * once. Chunk identity stays urlsafe-unpadded-base64(SHA-256), so the two
 * profiles differ only in WHERE boundaries fall, not in how chunks are
 * keyed; each index persists its profile so reads/writes stay consistent.
 *
 * Deterministic: the gear table derives from a fixed seed via
 * SplitMix64, so identical (bytes, params) produce identical chunks on
 * any executor.
 */
object GearChunker {

  private val gear: Array[Long] = {
    var x = 0x9E3779B97F4A7C15L // fixed seed: chunking must be reproducible
    Array.fill(256) {
      // SplitMix64 step
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Chunk boundaries as (address, length) pairs tiling [0, data.length).
    * One pass, one table lookup + shift + add per byte. */
  def boundaries(data: Array[Byte], minChunkSize: Int, maxChunkSize: Int,
      maskBits: Int): IndexedSeq[(Long, Int)] = {
    val len = data.length
    require(len >= 1, "input must be non-empty")
    require(maskBits >= 8 && maskBits <= 48, "maskBits in [8,48]")
    val mask = (1L << maskBits) - 1
    val out = IndexedSeq.newBuilder[(Long, Int)]
    var start = 0
    while (start < len) {
      val hardEnd = math.min(start + maxChunkSize, len)
      var i = start + minChunkSize
      var cut = hardEnd
      if (i < hardEnd) {
        var h = 0L
        var done = false
        while (!done && i < hardEnd) {
          h = (h << 1) + gear(data(i) & 0xff)
          if ((h & mask) == 0L) { cut = i + 1; done = true }
          i += 1
        }
      }
      out += ((start.toLong, cut - start))
      start = cut
    }
    out.result()
  }

  /** First boundary of the buffer's leading chunk (the batch loop
    * specialized to start = 0); `avail >= maxChunkSize` must hold unless
    * the stream is exhausted. Backs [[Chunker.chunkStream]]. */
  private[core] def firstCut(buf: Array[Byte], avail: Int, minChunkSize: Int,
      maxChunkSize: Int, maskBits: Int): Int = {
    val mask = (1L << maskBits) - 1
    val hardEnd = math.min(maxChunkSize, avail)
    var i = minChunkSize
    var cut = hardEnd
    if (i < hardEnd) {
      var h = 0L
      var done = false
      while (!done && i < hardEnd) {
        h = (h << 1) + gear(buf(i) & 0xff)
        if ((h & mask) == 0L) { cut = i + 1; done = true }
        i += 1
      }
    }
    cut
  }

  /** Chunk refs with the same identity scheme as the MD5-window chunker. */
  def chunk(data: Array[Byte], minChunkSize: Int, maxChunkSize: Int,
      maskBits: Int): IndexedSeq[ChunkRef] =
    boundaries(data, minChunkSize, maxChunkSize, maskBits).zipWithIndex.map {
      case ((addr, clen), pos) =>
        ChunkRef(Chunker.chunkKey(data, addr.toInt, clen), clen, pos, addr)
    }

  /** Chunk refs plus payload slices (for ingest). */
  def chunkWithData(data: Array[Byte], minChunkSize: Int, maxChunkSize: Int,
      maskBits: Int): IndexedSeq[ChunkWithData] =
    boundaries(data, minChunkSize, maxChunkSize, maskBits).zipWithIndex.map {
      case ((addr, clen), pos) =>
        val slice = java.util.Arrays.copyOfRange(data, addr.toInt, addr.toInt + clen)
        ChunkWithData(ChunkRef(Chunker.chunkKey(slice), clen, pos, addr), slice)
    }
}
