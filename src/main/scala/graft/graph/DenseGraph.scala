package graft.graph

import scala.annotation.tailrec
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** One edge partition over a dense vertex index: edge `i` runs
  * `src(i) → dst(i)`; `dst(i)` is -1 when the destination is outside the
  * vertex set (it still counts toward its source's degree).
  */
private[graft] final case class EdgeBlock(src: Array[Int], dst: Array[Int])

/** (destination, label) vote counts, sorted by the packed key
  * `dst << 32 | label` — both dense indexes, so key order is (dst, label)
  * order.
  */
private[graph] final case class Votes(keys: Array[Long], counts: Array[Long])

private[graph] object Votes {
  /** Run-length count of unsorted packed keys (sorts `keys` in place). */
  def count(keys: Array[Long]): Votes = {
    java.util.Arrays.sort(keys)
    val ks = new Array[Long](keys.length)
    val cs = new Array[Long](keys.length)
    var o = -1
    for (k <- keys) {
      if (o >= 0 && ks(o) == k) cs(o) += 1
      else { o += 1; ks(o) = k; cs(o) = 1 }
    }
    Votes(java.util.Arrays.copyOf(ks, o + 1), java.util.Arrays.copyOf(cs, o + 1))
  }

  /** Union by key, counts summed on common keys. */
  def merge(a: Votes, b: Votes): Votes = {
    val (ak, ac, bk, bc) = (a.keys, a.counts, b.keys, b.counts)
    val ks = new Array[Long](ak.length + bk.length)
    val cs = new Array[Long](ks.length)
    var i = 0; var j = 0; var o = 0
    while (i < ak.length && j < bk.length) {
      if (ak(i) < bk(j)) { ks(o) = ak(i); cs(o) = ac(i); i += 1 }
      else if (ak(i) > bk(j)) { ks(o) = bk(j); cs(o) = bc(j); j += 1 }
      else { ks(o) = ak(i); cs(o) = ac(i) + bc(j); i += 1; j += 1 }
      o += 1
    }
    while (i < ak.length) { ks(o) = ak(i); cs(o) = ac(i); i += 1; o += 1 }
    while (j < bk.length) { ks(o) = bk(j); cs(o) = bc(j); j += 1; o += 1 }
    Votes(java.util.Arrays.copyOf(ks, o), java.util.Arrays.copyOf(cs, o))
  }
}

/** A graph resident for one kernel call: the sorted vertex ids on the
  * driver (a vertex's dense index is its position in `ids`) and both
  * orientations of every edge as one persisted [[EdgeBlock]] per
  * partition of the edge frame. Every graph kernel except x6's
  * DataFrame star contraction runs on it, so graph state has one home:
  * the driver, over one dense index.
  *
  * Memory envelope: per-vertex state lives on the driver and is
  * broadcast each round. On a dimension-sized graph that is small — at
  * sf0.1 the kNN graph has about 1,000 vertices, so x10's distance
  * vectors hold at most ~10⁶ entries, the same data a GraphX vertex RDD
  * kept. A graph whose edges do not fit the driver's vertex index runs
  * on x6's DataFrameCC instead.
  */
private[graft] final class DenseGraph private (spark: SparkSession,
                                              val ids: Array[Long],
                                              val edges: RDD[EdgeBlock]) {
  def n: Int = ids.length

  /** The superstep kernel (Pregelix's one plan per superstep,
    * sender-side combining): at most `rounds` rounds, each exactly one
    * Spark job. A round broadcasts `send(state)`, every task folds its
    * resident edge partition against it into a partial aggregate, and
    * the driver merges the partials into the next state with
    * `update(round, state, partials)` (round numbers 1-based). A round
    * whose `update` returns the very state it was given (`eq`) is the
    * last: that is how a kernel says nothing improved.
    *
    * An executor lost mid-call recomputes its edge partition from
    * lineage and the state never leaves the driver, so no round is
    * checkpointed. A broadcast state is shared by reference among local
    * tasks, so neither `fold` nor `update` may mutate it. Each round's
    * job is described `superstep:<kernel> <r>/<rounds>` for any listener
    * to attribute; the caller's description is restored and every
    * broadcast destroyed on the way out.
    */
  def run[S <: AnyRef, M: ClassTag, P: ClassTag](kernel: String, init: S, rounds: Int)(
      send: S => M)(fold: (M, EdgeBlock) => P)(
      update: (Int, S, Array[P]) => S): S = {
    @tailrec def loop(st: S, r: Int): S = if (r > rounds) st else {
      val msg = spark.sparkContext.broadcast(send(st))
      val parts = try {
        graft.GraftSession.described(spark, s"superstep:$kernel $r/$rounds")(
          edges.map(fold(msg.value, _)).collect())
      } finally msg.destroy()
      val next = update(r, st, parts)
      if (next eq st) st else loop(next, r + 1)
    }
    loop(init, 1)
  }

  /** Connected components in one [[run]] round: each task builds a
    * union-find over its edge block, and the driver merges the
    * per-partition label arrays. A vertex's label is the minimum dense
    * index in its component — index order is id order, so that is the
    * component's minimum id.
    */
  def components(kernel: String): Array[Int] = {
    import DenseGraph.minRoots
    val size = n
    run(kernel, Array.range(0, size), 1)(_ => ()) { (_, b) =>
      minRoots(size, b.src.indices.iterator.filter(b.dst(_) >= 0)
        .map(i => (b.src(i), b.dst(i))))
    } { (_, _, parts) =>
      minRoots(size, parts.iterator.flatMap(l => l.indices.iterator.map(v => (v, l(v)))))
    }
  }

  /** BIGINT (`Array[Long]`) or DOUBLE (`Array[Double]`) columns over
    * the vertex set, one row per id, ids ascending.
    */
  def frame(idCol: String, cols: (String, AnyRef)*): DataFrame = {
    val typed = cols.map {
      case (c, a: Array[Long]) => (StructField(c, LongType, nullable = false), a: Array[_])
      case (c, a: Array[Double]) =>
        (StructField(c, DoubleType, nullable = false), a: Array[_])
    }
    val schema = StructType(StructField(idCol, LongType, nullable = false) +: typed.map(_._1))
    val rows = ids.indices.map(v => Row.fromSeq(ids(v) +: typed.map(_._2(v))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}

private[graft] object DenseGraph {

  /** Each vertex's label after linking `links` in a union-find over `n`
    * vertices: the minimum index in its set (the smaller root always wins).
    * x6's per-partition contraction (DataFrameCC) runs the same rule.
    */
  private[graft] def minRoots(n: Int, links: Iterator[(Int, Int)]): Array[Int] = {
    val p = Array.range(0, n)
    def find(v0: Int): Int = {
      var v = v0
      while (p(v) != v) { p(v) = p(p(v)); v = p(v) } // path halving
      v
    }
    for ((a, b) <- links) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) p(rb) = ra else p(ra) = rb
    }
    Array.tabulate(n)(find)
  }

  /** Runs `body` on the graph of `nodesDf(sk)` and canonical undirected
    * edges `canonEdges(ea, eb)`, both BIGINT. The edge frame is read once
    * and expanded to both orientations in one pass; the resulting edge
    * RDD is persisted for the call and unpersisted when `body` returns
    * or throws. An edge whose source is not a vertex is dropped.
    */
  def resident[T](nodesDf: DataFrame, canonEdges: DataFrame)(
      body: DenseGraph => T): T = {
    val ids = nodesDf.select(col("sk")).collect().map(_.getLong(0))
    java.util.Arrays.sort(ids)
    val vs = ids.distinct
    val edges = canonEdges.select(col("ea"), col("eb")).queryExecution.toRdd
      .mapPartitions { rows =>
        def idx(id: Long): Int = {
          val i = java.util.Arrays.binarySearch(vs, id)
          if (i >= 0) i else -1
        }
        val src = Array.newBuilder[Int]
        val dst = Array.newBuilder[Int]
        def add(a: Int, b: Int): Unit = if (a >= 0) { src += a; dst += b }
        rows.foreach { r =>
          val (a, b) = (idx(r.getLong(0)), idx(r.getLong(1)))
          add(a, b); add(b, a)
        }
        Iterator.single(EdgeBlock(src.result(), dst.result()))
      }.setName("superstep edges").persist(StorageLevel.MEMORY_ONLY)
    try body(new DenseGraph(nodesDf.sparkSession, vs, edges))
    finally edges.unpersist(blocking = false)
  }
}
