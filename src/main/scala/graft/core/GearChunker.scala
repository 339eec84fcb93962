package graft.core

/**
 * Rolling-hash content-defined chunker (FastCDC/Gear family — Xia et al.,
 * USENIX ATC'16): a 256-entry "gear" table of pseudo-random 64-bit values,
 * hash advanced per byte as `h = (h << 1) + gear(b)`, boundary when
 * `h & mask == 0` past minChunkSize, hard cap at maxChunkSize.
 *
 * This is the opt-in THROUGHPUT profile next to the reference-fidelity
 * MD5-window rule in `Chunker` (reference
 * src/DedupeLibrary/DedupeLibrary.cs:605-717): the MD5 rule re-hashes a
 * full minChunkSize window every shiftCount bytes — ~minChunkSize/shiftCount
 * x work amplification — while the gear hash reads each input byte exactly
 * once. Chunk identity stays urlsafe-unpadded-base64(SHA-256), so the two
 * profiles differ only in WHERE boundaries fall, not in how chunks are
 * keyed; each index persists its profile so reads/writes stay consistent.
 * The rule lives in one function, [[cut]]; every `Chunker` entry point,
 * batch and stream, routes a gear settings to it.
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

  /** End of the chunk that starts at `from` in `buf[from, until)`: the
    * first byte past minChunkSize whose rolling hash clears the mask, else
    * the hard cap at maxChunkSize (or `until`). One table lookup + shift +
    * add per byte. */
  private[core] def cut(buf: Array[Byte], from: Int, until: Int, minChunkSize: Int,
      maxChunkSize: Int, maskBits: Int): Int = {
    val mask = (1L << maskBits) - 1
    val hardEnd = math.min(from + maxChunkSize, until)
    var i = from + minChunkSize
    var h = 0L
    while (i < hardEnd) {
      h = (h << 1) + gear(buf(i) & 0xff)
      if ((h & mask) == 0L) return i + 1
      i += 1
    }
    hardEnd
  }

  /** Chunk boundaries as (address, length) pairs tiling [0, data.length). */
  def boundaries(data: Array[Byte], minChunkSize: Int, maxChunkSize: Int,
      maskBits: Int): IndexedSeq[(Long, Int)] = {
    require(maskBits >= 8 && maskBits <= 48, "maskBits in [8,48]")
    Chunker.tile(data.length)(cut(data, _, data.length, minChunkSize, maxChunkSize, maskBits))
  }
}
