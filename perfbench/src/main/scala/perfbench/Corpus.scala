package perfbench

/** Deterministic object bytes, after the `IngestThroughput` shape: objects
  * are 64 KiB blocks grouped into runs; even runs come from one stream shared
  * by every object, odd runs from a stream unique to the object. The same
  * seed always gives the same bytes.
  *
  * Blocks are addressed by their index inside the object, so two objects
  * share the bytes of block `b` exactly when `b` falls in an even run of
  * both. Dedupe therefore happens at chunk granularity, with the chunker
  * re-synchronising inside every shared run. */
object Corpus {
  val BlockBytes: Int = 64 * 1024

  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Stream seed of block `block` for object `obj`; `obj = -1` is the shared
    * stream. */
  def streamSeed(seed: Long, obj: Long, block: Long): Long =
    mix(mix(mix(seed) ^ obj) ^ block)

  private def fill(buf: Array[Byte], off: Int, len: Int, stream: Long): Unit = {
    val rnd = new java.util.SplittableRandom(stream)
    var i = off
    val end = off + len
    while (i < end) {
      val v = rnd.nextLong()
      var s = 0
      while (s < 8 && i < end) { buf(i) = (v >>> (8 * s)).toByte; i += 1; s += 1 }
    }
  }

  /** `blocks` whole blocks, then `tailBytes` unique bytes. Block `b` is
    * shared when `(b / runBlocks)` is even. */
  def bytes(seed: Long, obj: Long, blocks: Int, runBlocks: Int, tailBytes: Int = 0): Array[Byte] = {
    require(blocks >= 0 && runBlocks >= 1 && tailBytes >= 0)
    val out = new Array[Byte](blocks * BlockBytes + tailBytes)
    for (b <- 0 until blocks) {
      val owner = if ((b / runBlocks) % 2 == 0) -1L else obj
      fill(out, b * BlockBytes, BlockBytes, streamSeed(seed, owner, b))
    }
    if (tailBytes > 0) fill(out, blocks * BlockBytes, tailBytes, streamSeed(seed, obj, -1L))
    out
  }
}

/** The objects one run works on. Every size and byte follows from `seed`.
  *
  *  - `large`: 1 MiB objects in the bulk batch (runs of 8 blocks, so half
  *    of every object is shared with every other one);
  *  - `small`: 2-3-chunk objects (one shared block plus a unique tail) and
  *  - `pool`: 256 KiB objects, which the churn phase deletes first; these
  *    two make up the seed batch;
  *  - `churn(i)`: the `i`th object the churn phase writes (runs of 2 blocks,
  *    so it shares its first 128 KiB with the live objects).
  */
final case class Corpus(seed: Long, largeCount: Int, smallCount: Int, poolCount: Int) {
  import Corpus._

  val LargeBlocks = 16
  val ChurnBlocks = 4

  def largeKey(batch: Char, i: Int): String = f"$batch-$i%03d.bin"
  def smallKey(i: Int): String = f"s-$i%03d.bin"
  def poolKey(i: Int): String = f"p-$i%03d.bin"
  def churnKey(i: Int): String = f"w-$i%05d.bin"

  def large(batch: Char, i: Int): Array[Byte] =
    bytes(seed, 1000L * batch.toLong + i, LargeBlocks, runBlocks = 8)

  def small(i: Int): Array[Byte] = {
    val tail = 8 * 1024 + (java.lang.Long.remainderUnsigned(mix(seed ^ (0x5EL << 32) ^ i), 24 * 1024)).toInt
    bytes(seed, 100000L + i, 1, runBlocks = 1, tailBytes = tail)
  }

  def pool(i: Int): Array[Byte] = bytes(seed, 200000L + i, ChurnBlocks, runBlocks = 2)

  def churn(i: Int): Array[Byte] = bytes(seed, 300000L + i, ChurnBlocks, runBlocks = 2)

  /** The batch the warm-up ingests: small and pool objects. */
  def seedBatch: (String, Seq[(String, Array[Byte])]) =
    "s" -> ((0 until smallCount).map(i => smallKey(i) -> small(i)) ++
      (0 until poolCount).map(i => poolKey(i) -> pool(i)))

  /** The batches of large objects the bulk phase ingests, in order. */
  def bulkBatches: Seq[(String, Seq[(String, Array[Byte])])] =
    Seq("a" -> (0 until largeCount).map(i => largeKey('a', i) -> large('a', i)))
}
