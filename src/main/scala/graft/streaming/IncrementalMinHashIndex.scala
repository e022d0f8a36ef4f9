package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ActionPool
import graft.operators.MinHashDedup

/** Incremental MinHash-LSH band index over an append-only parquet store
  * — the at-ingestion near-duplicate check behind `j6_stream_minhash_
  * index`. Each ingested batch (1) probes the accumulated band index for
  * candidate pairs (equi-join on (band, band-hash) — the same Σ bucket²
  * shape as batch t6), (2) exact-Jaccard-verifies candidates against the
  * accumulated shingle store, appending accepted pairs to `dupDir`, then
  * (3) appends its own bands/shingles so later batches see it.
  *
  * Small-files control: a per-batch parquet append grows the index's
  * file count — and every later batch's re-read — linearly with batch
  * count, which at real scale is the classic streaming small-files
  * failure. Every `compactEvery` batches the band and shingle stores are
  * rewritten coalesced into a fresh VERSIONED dir (`bands_v<n>`) and the
  * previous version deleted — readers of the current version are never
  * mid-overwrite, the swap is a pointer bump. File count is thereby
  * bounded by `compactParts + compactEvery × appends-per-batch`
  * regardless of total batch count (`fileCounts` exposes it; the spec
  * asserts the bound). A production deployment gets the same property
  * from a table format's compaction job (Delta OPTIMIZE / Iceberg
  * rewrite_data_files); the versioned-dir swap is that idea without a
  * table-format dependency.
  *
  * Jaccard depends only on the two docs' static shingle sets, so the
  * emitted pairs are batching-invariant: the j6 oracle is the same
  * DuckDB CTE chain as batch t6.
  */
final class IncrementalMinHashIndex(
    s: SparkSession, root: String, threshold: Double = 0.8,
    compactEvery: Int = 2, compactParts: Int = 1) {

  private var version = 0
  private var batches = 0
  private var lastBatchId = -1L
  // band/shingle stores start EMPTY-BY-FLAG, not as written-out empty
  // parquet dirs (r14, guide §2.6 job-count): the previous constructor
  // ran three write jobs before any data arrived, and batch 1's probe
  // then re-read two empty dirs. Until the first append lands, reads
  // short-circuit to the in-flight batch itself; the dirs come into
  // existence through the first append's own job. dupDir alone keeps an
  // eager empty write — it is the externally read output, and a run
  // whose batches emit no pairs must still yield an (empty) table.
  private var storesEmpty = true

  private def bandsDir = s"$root/bands_v$version"
  private def shDir = s"$root/sh_v$version"

  /** Accepted (doc_a, doc_b, jacc) near-duplicate pairs. Versioned and
    * compacted exactly like the band/shingle stores — an append-only
    * dups dir would re-grow O(batches) part files, the same small-files
    * failure the class exists to bound.
    */
  def dupDir: String = s"$root/dups_v$version"

  locally {
    import s.implicits._
    Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jacc")
      .write.parquet(dupDir)
  }

  /** Ingest one batch of (doc_id, text) rows: probe, verify, append,
    * maybe compact. Store reads stay LAZY: the verify write (an action)
    * runs before the band/shingle appends, so nothing reads a dir
    * mid-append — only the new batch's own rows need the eager
    * checkpoint (they're reused across cand + verify + append, and a
    * streaming batch DF must not outlive the foreachBatch call).
    *
    * At-least-once safety: foreachBatch may RE-DELIVER a batch after a
    * failure, and the parquet appends are external side effects Spark
    * cannot roll back — a blind re-ingest would double-append the batch's
    * bands/shingles, inflating per-doc shingle counts and corrupting
    * every later Jaccard against those docs. Callers pass foreachBatch's
    * `batchId`; a batch at or below the high-water mark is skipped
    * entirely, and the mark advances only AFTER the last append
    * succeeds — so a mid-batch failure is retried on redelivery rather
    * than permanently skipped (mark-first made any post-mark failure a
    * silent, permanent hole in the index). The retry of a half-appended
    * batch can still double-append the files that did land — healing
    * that needs atomically-committed multi-file writes, i.e. the
    * table-format seam the compaction scaladoc already names; guard +
    * mark-last makes the clean-redelivery path exact and the failure
    * path recoverable instead of lossy.
    */
  def ingest(batch: DataFrame, batchId: Long = -1L): Unit = {
    if (batchId >= 0 && batchId <= lastBatchId) return
    val shNew = MinHashDedup.shingleRows(batch, "doc_id", "text")
      .localCheckpoint(true)
    val bandNew = MinHashDedup.bandRows(shNew).localCheckpoint(true)
    val bandAll =
      if (storesEmpty) bandNew
      else s.read.parquet(bandsDir).unionByName(bandNew)
    // persisted: verifyPairs consumes its shingle argument THREE times
    // (per-doc counts + both sides of the intersection join); unpersisted
    // this re-scanned the full accumulated store — the largest and
    // fastest-growing dir — three times per batch
    val shAll =
      (if (storesEmpty) shNew
       else s.read.parquet(shDir).unionByName(shNew)).persist()
    try {
      val cand = bandNew
        .select(col("doc_id").as("x"), col("b"), col("bh"))
        .join(bandAll.select(col("doc_id").as("y"), col("b"), col("bh")),
          Seq("b", "bh"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("da"),
          greatest(col("x"), col("y")).as("db"))
        .distinct()
      MinHashDedup.verifyPairs(cand, shAll, threshold)
        .write.mode("append").parquet(dupDir)
    } finally shAll.unpersist()
    // the two store appends are INDEPENDENT write jobs over
    // already-materialized localCheckpoints — one ActionPool scope runs
    // them concurrently (guide §2.6: overlap independent jobs) so the
    // second isn't gated on the first's commit; the scope returns only
    // when both have landed or rethrows the first failure, so the
    // high-water mark below keeps its redelivery semantics
    ActionPool.run(s) { pool =>
      pool.submit("index:bands")(bandNew.write.mode("append").parquet(bandsDir))
      pool.submit("index:shingles")(shNew.write.mode("append").parquet(shDir))
    }
    storesEmpty = false
    // the high-water mark advances only AFTER the last append succeeds:
    // marking first would make a mid-batch failure permanently skip the
    // batch on foreachBatch's redelivery — the bands/shingles would be
    // missing forever and every later Jaccard against those docs a
    // silent false negative (the exact corruption this guard exists to
    // prevent). Marking last means a redelivered half-written batch
    // re-appends (dupDir rows are distinct-on-read; the band/shingle
    // double-append is the documented table-format seam).
    lastBatchId = math.max(lastBatchId, batchId)
    batches += 1
    if (batches % compactEvery == 0) compact()
  }

  /** Rewrite both stores coalesced into the next version dir, bump the
    * pointer, delete the old version. Sequential with ingest (foreachBatch
    * batches arrive one at a time), so no reader races the delete. The
    * three rewrites are independent read→coalesce→write jobs over
    * disjoint dirs — one ActionPool scope runs them concurrently (guide
    * §2.6), and the pointer bump stays a single-threaded step after all
    * three land.
    */
  private def compact(): Unit = {
    val next = version + 1
    val (nb, ns, nd) =
      (s"$root/bands_v$next", s"$root/sh_v$next", s"$root/dups_v$next")
    ActionPool.run(s) { pool =>
      def rewrite(store: String, from: String, to: String): Unit =
        pool.submit(s"compact:$store")(
          s.read.parquet(from).coalesce(compactParts).write.parquet(to))
      rewrite("bands", bandsDir, nb)
      rewrite("shingles", shDir, ns)
      rewrite("dups", dupDir, nd)
    }
    val (ob, os, od) = (bandsDir, shDir, dupDir)
    version = next
    Seq(ob, os, od).foreach(d => rmTree(new java.io.File(d)))
  }

  /** Parquet part-file counts of the current (bands, shingles, dups)
    * versions — the boundedness observable the compaction spec asserts on.
    */
  def fileCounts: (Int, Int, Int) = {
    def parts(d: String) =
      Option(new java.io.File(d).listFiles).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-"))
    (parts(bandsDir), parts(shDir), parts(dupDir))
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }
}

