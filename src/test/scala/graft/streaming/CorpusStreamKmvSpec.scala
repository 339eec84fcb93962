package graft.streaming

import graft.SparkSpec
import graft.SparkEntry

/** st18: the stream-maintained bottom-k must equal the batch-computed
  * one (mergeability made observable), and therefore the assembled
  * estimator row must equal p6's batch row field for field. */
class CorpusStreamKmvSpec extends SparkSpec {

  test("st18: the streamed KMV row equals p6's batch row exactly") {
    graft.BenchMemos.clearAll()
    val streamed = SparkEntry.queries("st18_stream_kmv")(spark, sfDir).collect()
    val batch = SparkEntry.queries("p6_kmv_overlap")(spark, sfDir).collect()
    assert(streamed.length == 1 && batch.length == 1)
    assert(streamed.head == batch.head,
      s"streamed ${streamed.head} vs batch ${batch.head}")
  }

  test("a memo clear deletes the staged side-A copy it made") {
    val staged = java.nio.file.Paths.get(CorpusStreamKmv.stagedSideA(spark, sfDir))
    assert(java.nio.file.Files.isDirectory(staged))
    graft.BenchMemos.clearAll()
    assert(!java.nio.file.Files.exists(staged), s"$staged outlived the clear")
    assert(!java.nio.file.Files.exists(staged.getParent),
      s"the entry's scratch dir ${staged.getParent} outlived the clear")
  }
}
