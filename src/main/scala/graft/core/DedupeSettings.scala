package graft.core

/**
 * Validated content-defined-chunking parameters.
 *
 * Semantics derived from the reference's settings contract
 * (reference: src/DedupeLibrary/DedupeSettings.cs:30,52-53,73-74,95,104-107):
 *   - minChunkSize >= 256 and divisible by 64
 *   - maxChunkSize >= 2048, divisible by 64, and >= 8 * minChunkSize
 *   - shiftCount in (1, minChunkSize]
 *   - boundaryCheckBytes in [1, 4]
 * Defaults 1024 / 32768 / 32 / 2 match the reference defaults.
 *
 * Recommended profiles (reference README.md:154-157):
 *   small files: (2048, 16384, 128, 2); large files: (32768, 262144, 512, 2).
 */
final case class DedupeSettings(
    minChunkSize: Int = 1024,
    maxChunkSize: Int = 32768,
    shiftCount: Int = 32,
    boundaryCheckBytes: Int = 2,
    profile: String = DedupeSettings.Md5Profile) {

  require(minChunkSize >= 256, s"minChunkSize must be >= 256, got $minChunkSize")
  require(minChunkSize % 64 == 0, s"minChunkSize must be divisible by 64, got $minChunkSize")
  require(maxChunkSize >= 2048, s"maxChunkSize must be >= 2048, got $maxChunkSize")
  require(maxChunkSize % 64 == 0, s"maxChunkSize must be divisible by 64, got $maxChunkSize")
  require(maxChunkSize >= 8 * minChunkSize,
    s"maxChunkSize must be >= 8 * minChunkSize ($minChunkSize), got $maxChunkSize")
  require(shiftCount > 1 && shiftCount <= minChunkSize,
    s"shiftCount must be in (1, minChunkSize], got $shiftCount")
  require(boundaryCheckBytes >= 1 && boundaryCheckBytes <= 4,
    s"boundaryCheckBytes must be in [1, 4], got $boundaryCheckBytes")
  require(profile == DedupeSettings.Md5Profile || profile == DedupeSettings.GearProfile,
    s"profile must be '${DedupeSettings.Md5Profile}' or '${DedupeSettings.GearProfile}', got $profile")

  /** Gear-profile boundary mask width chosen so the expected chunk size
    * tracks the MD5 rule's (min + shift * 2^(8*boundaryCheckBytes), capped):
    * boundary fires per BYTE instead of per shiftCount-byte step. */
  def gearMaskBits: Int = {
    val expected = math.min(
      shiftCount.toDouble * math.pow(2.0, 8.0 * boundaryCheckBytes), maxChunkSize.toDouble)
    math.max(8, math.min(48, math.round(math.log(expected) / math.log(2.0)).toInt))
  }

  /** Chunk with this settings' profile (same identity scheme either way). */
  def chunkWithData(data: Array[Byte]): IndexedSeq[ChunkWithData] =
    Chunker.chunkWithData(data, this)

  /** Serialize for the config table (reference: DedupeLibrary.cs:589-592 keys
    * + the profile extension). */
  def toConfigMap: Map[String, String] = Map(
    "min_chunk_size" -> minChunkSize.toString,
    "max_chunk_size" -> maxChunkSize.toString,
    "shift_count" -> shiftCount.toString,
    "boundary_check_bytes" -> boundaryCheckBytes.toString,
    "chunker_profile" -> profile)
}

object DedupeSettings {
  /** Reference-fidelity boundary rule: MD5 over the sliding window. */
  val Md5Profile = "md5-window"
  /** Throughput boundary rule: rolling gear hash (FastCDC family). */
  val GearProfile = "gear"

  /** Reference profile for small files (README.md:154-157). */
  val SmallFiles: DedupeSettings = DedupeSettings(2048, 16384, 128, 2)
  /** Reference profile for large files (README.md:154-157). */
  val LargeFiles: DedupeSettings = DedupeSettings(32768, 262144, 512, 2)

  def fromConfigMap(m: Map[String, String]): DedupeSettings = DedupeSettings(
    m("min_chunk_size").toInt,
    m("max_chunk_size").toInt,
    m("shift_count").toInt,
    m("boundary_check_bytes").toInt,
    m.getOrElse("chunker_profile", Md5Profile))
}
