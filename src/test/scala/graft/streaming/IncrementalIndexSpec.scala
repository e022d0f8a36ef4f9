package graft.streaming

import graft.SparkSpec
import graft.operators.MinHashDedup
import graft.queries.Fixtures

/** IncrementalMinHashIndex: batching-invariance (the incremental index
  * finds exactly the pairs the batch operator finds, including pairs
  * whose two docs arrive in different batches) and the compaction bound
  * (file count must NOT grow linearly with batch count — the j6 scale
  * property).
  */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private val a = "the quick brown fox jumps over the lazy dog tonight"
  private val b = "integer exact sums keep every oracle comparison stable"
  private val docs = Seq(
    1L -> a, 3L -> b, // batch 1
    2L -> a,          // batch 2: cross-batch dup of 1
    4L -> b,          // batch 3: cross-batch dup of 3
    5L -> "completely unrelated words appear only here once",
    6L -> "another singleton document with its own vocabulary entirely")

  it("matches the batch operator across batches and stays compacted") {
    val root = Fixtures.scratchDir("idxspec")
    val idx = new IncrementalMinHashIndex(spark, root, compactEvery = 2)
    Seq(docs.take(2), docs.slice(2, 3), docs.slice(3, 4), docs.drop(4))
      .zipWithIndex.foreach { case (chunk, i) =>
        val df = chunk.toDF("doc_id", "text")
        idx.ingest(df, i.toLong)
        // at-least-once RE-DELIVERY of the same batchId must be a no-op:
        // a blind re-ingest would double-append this batch's shingles and
        // corrupt every later Jaccard against these docs — the equality
        // against the batch operator below would then fail
        idx.ingest(df, i.toLong)
      }

    val inc = spark.read.parquet(idx.dupDir)
      .select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect().toSet
    val batch = MinHashDedup
      .nearDuplicatePairs(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(inc === batch)
    assert(inc.contains((1L, 2L)) && inc.contains((3L, 4L)),
      "cross-batch duplicate pairs must be found by the index probe")

    // 4 ingests with compactEvery=2 end on a compaction: all three
    // stores (dups included) are exactly the coalesced rewrite — file
    // count is the compaction output, not 4 batches of appends
    val (nb, ns, nd) = idx.fileCounts
    assert(nb <= 1 && ns <= 1 && nd <= 1,
      s"stores not compacted: bands=$nb shingles=$ns dups=$nd part files")
  }
}
