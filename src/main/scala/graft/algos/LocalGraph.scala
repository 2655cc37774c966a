package graft.algos

import org.apache.spark.{FutureAction, SparkException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import scala.collection.mutable.ArrayBuilder

/** The driver graph of the guarded local replays in [[Algos]]: an immutable
  * in-memory graph (fermor's model, at the scale a replay collects). Every
  * vertex has a dense int index in ascending id order, so index order IS id
  * order and a walk over indices is deterministic. The adjacencies are CSR
  * offset arrays built on first use:
  *
  *  - `out`: successors, duplicate edges kept, each list in target order,
  *    with the edge weights of a weighted graph alongside;
  *  - `in`: predecessors, the same way;
  *  - `sym`: the undirected view — both orientations, deduplicated, no
  *    self-loops.
  *
  * A pure builder (no SparkSession), so executors can build one per group
  * (the biconnectivity per-component path). [[LocalGraph.collect]] is the
  * replays' one prelude from a DataFrame. */
private[graft] final class LocalGraph private (
    val ids: Array[Long], src: Array[Int], dst: Array[Int], weight: Array[Long]) {
  import LocalGraph.Csr

  def n: Int = ids.length

  /** The dense index of `id`, or -1 if it is no vertex. */
  def index(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i < 0) -1 else i
  }

  lazy val out: Csr = LocalGraph.csr(n, src, dst, weight)
  lazy val in: Csr = LocalGraph.csr(n, dst, src, weight)
  lazy val sym: Csr = {
    val keep = src.indices.filter(k => src(k) != dst(k)).toArray
    val all =
      LocalGraph.csr(n, keep.map(src) ++ keep.map(dst), keep.map(dst) ++ keep.map(src), null)
    // each list is sorted, so duplicates are adjacent
    val off = new Array[Int](n + 1)
    val adj = new ArrayBuilder.ofInt
    for (u <- 0 until n) {
      for (k <- all.off(u) until all.off(u + 1))
        if (k == all.off(u) || all.adj(k) != all.adj(k - 1)) adj += all.adj(k)
      off(u + 1) = adj.length
    }
    new Csr(off, adj.result(), null)
  }

  /** Hop distances over `adj` (default `out`) from the `seeds` indices,
    * within `maxIter` hops: the reached indices in visit order, the distance
    * per index (-1 if unreached), and whether some round found the frontier
    * drained within `maxIter` rounds — exactly the levels and `converged`
    * flag of the distributed BFS rounds. */
  def bfs(seeds: Iterable[Int], maxIter: Int, adj: Csr = out): (Array[Int], Array[Int], Boolean) = {
    val dist = Array.fill(n)(-1)
    val order = new ArrayBuilder.ofInt
    var frontier = seeds.iterator.distinct.toArray
    frontier.foreach { s => dist(s) = 0; order += s }
    var d = 0
    while (frontier.nonEmpty && d < maxIter) {
      d += 1
      val next = new ArrayBuilder.ofInt
      frontier.foreach(u => adj.foreach(u) { v =>
        if (dist(v) < 0) { dist(v) = d; next += v; order += v }
      })
      frontier = next.result()
    }
    (order.result(), dist, frontier.isEmpty)
  }

  /** Depth-first (preorder, postorder) indices of the vertices `root`
    * reaches over `out`, successors taken in id order. Iterative: safe on
    * deep chains. */
  def dfs(root: Int): (Array[Int], Array[Int]) = {
    val pre = new ArrayBuilder.ofInt
    val post = new ArrayBuilder.ofInt
    val seen = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val next = new Array[Int](n) // per vertex: its next out-list position
    var top = 0
    seen(root) = true; pre += root
    stack(0) = root; next(root) = out.off(root)
    while (top >= 0) {
      val u = stack(top)
      if (next(u) < out.off(u + 1)) {
        val v = out.adj(next(u))
        next(u) += 1
        if (!seen(v)) {
          seen(v) = true; pre += v
          top += 1; stack(top) = v; next(v) = out.off(v)
        }
      } else { top -= 1; post += u }
    }
    (pre.result(), post.result())
  }

  /** One iterative Tarjan low-link walk of `sym`: the articulation points
    * (sorted), the bridges as (lo, hi), and the edges of every biconnected
    * component with its label, the component's least endpoint id. The
    * answers are facts of the graph: no DFS order shows through, except
    * the orientation of a component's edges. */
  def lowLink: LocalGraph.LowLink = {
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val parent = new Array[Int](n)
    val next = new Array[Int](n)
    val stack = new Array[Int](n)
    val arts = new Array[Boolean](n)
    val bridges = Seq.newBuilder[(Long, Long)]
    // each undirected edge is pushed once: as a tree edge, or as a back
    // edge from its later-discovered end; once its component is popped it
    // moves to (cu, cv, cl), labeled
    val eu = new Array[Int](sym.adj.length / 2 + 1)
    val ev = new Array[Int](eu.length)
    var etop = 0
    val cu = new Array[Int](eu.length)
    val cv = new Array[Int](eu.length)
    val cl = new Array[Long](eu.length)
    var c = 0
    var timer = 0
    var root = 0
    while (root < n) {
      if (disc(root) < 0 && sym.degree(root) > 0) {
        var rootChildren = 0
        var top = 0
        stack(0) = root; parent(root) = -1; next(root) = sym.off(root)
        disc(root) = timer; low(root) = timer; timer += 1
        while (top >= 0) {
          val u = stack(top)
          if (next(u) < sym.off(u + 1)) {
            val v = sym.adj(next(u))
            next(u) += 1
            if (disc(v) < 0) {
              if (u == root) rootChildren += 1
              eu(etop) = u; ev(etop) = v; etop += 1
              disc(v) = timer; low(v) = timer; timer += 1
              parent(v) = u; next(v) = sym.off(v)
              top += 1; stack(top) = v
            } else if (v != parent(u) && disc(v) < disc(u)) {
              eu(etop) = u; ev(etop) = v; etop += 1
              low(u) = math.min(low(u), disc(v))
            }
          } else {
            top -= 1
            val p = parent(u)
            if (p >= 0) {
              low(p) = math.min(low(p), low(u))
              if (low(u) > disc(p))
                bridges += ((math.min(ids(p), ids(u)), math.max(ids(p), ids(u))))
              if (low(u) >= disc(p)) {
                if (p != root) arts(p) = true
                // the component is every edge pushed since the tree edge (p, u)
                var start = etop - 1
                while (eu(start) != p || ev(start) != u) start -= 1
                var label = Long.MaxValue
                var k = start
                while (k < etop) {
                  label = math.min(label, math.min(ids(eu(k)), ids(ev(k))))
                  k += 1
                }
                k = start
                while (k < etop) { cu(c) = eu(k); cv(c) = ev(k); cl(c) = label; c += 1; k += 1 }
                etop = start
              }
            }
          }
        }
        if (rootChildren >= 2) arts(root) = true
      }
      root += 1
    }
    new LocalGraph.LowLink(ids.indices.filter(arts(_)).map(ids), bridges.result(),
      (0 until c).map(k => (ids(cu(k)), ids(cv(k)), cl(k))))
  }
}

private[graft] object LocalGraph {

  /** Compressed adjacency: the neighbors of `u` are `adj(off(u) until
    * off(u + 1))`, with their edge weights at the same positions in `w`
    * (null if unweighted). */
  final class Csr(val off: Array[Int], val adj: Array[Int], val w: Array[Long]) {
    def degree(u: Int): Int = off(u + 1) - off(u)
    def foreach(u: Int)(f: Int => Unit): Unit = {
      var k = off(u)
      while (k < off(u + 1)) { f(adj(k)); k += 1 }
    }
    def forall(u: Int)(p: Int => Boolean): Boolean = {
      var k = off(u)
      while (k < off(u + 1)) { if (!p(adj(k))) return false; k += 1 }
      true
    }
  }

  /** [[LocalGraph.lowLink]]'s answers; the component edges are only
    * materialized as tuples when read. */
  final class LowLink(val articulation: Seq[Long], val bridges: Seq[(Long, Long)],
      comps: => Seq[(Long, Long, Long)]) {
    lazy val components: Seq[(Long, Long, Long)] = comps
  }

  /** The graph of the (from, to) pairs, plus the `extra` ids as vertices
    * (on no edge, or not). */
  def apply(pairs: Iterator[(Long, Long)], extra: Iterable[Long] = Nil): LocalGraph = {
    val s = new ArrayBuilder.ofLong
    val d = new ArrayBuilder.ofLong
    pairs.foreach { case (a, b) => s += a; d += b }
    build(s.result(), d.result(), null, extra.toArray)
  }

  private def build(s: Array[Long], d: Array[Long], w: Array[Long],
      extra: Array[Long]): LocalGraph = {
    val all = Array.concat(s, d, extra)
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    def ix(v: Long) = java.util.Arrays.binarySearch(ids, v)
    new LocalGraph(ids, s.map(ix), d.map(ix), w)
  }

  /** CSR of the edges from(k) -> to(k) over `n` vertices, each list in
    * target order: two stable counting sorts (by target, then by source). */
  private def csr(n: Int, from: Array[Int], to: Array[Int], w: Array[Long]): Csr = {
    def order(key: Array[Int], in: Array[Int]): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      in.foreach(k => off(key(k) + 1) += 1)
      var u = 0
      while (u < n) { off(u + 1) += off(u); u += 1 }
      val fill = java.util.Arrays.copyOf(off, n)
      val out = new Array[Int](in.length)
      in.foreach { k => out(fill(key(k))) = k; fill(key(k)) += 1 }
      (off, out)
    }
    val (off, perm) = order(from, order(to, Array.range(0, from.length))._2)
    new Csr(off, perm.map(to), if (w == null) null else perm.map(w))
  }

  /** The rows of `df` iff it holds at most `n` of them, in ONE Spark job
    * over every partition, with no conf change: a task that alone holds
    * more than `n` rows ships none, and the driver cancels the job once the
    * shipped rows pass `n`. A guard's cost stays capped at its threshold
    * instead of a full count of an arbitrarily large input (the replays sit
    * in front of billion-edge distributed paths). A failing query throws;
    * only a counted overflow gives None.
    *
    * INTERNAL rows, not external ones: Dataset.collect() wraps every row
    * in a boxed GenericRow (~100 B and 5 objects per row — ~200 MB of
    * simultaneously-live garbage at the 2 M guard), which a fresh JVM
    * absorbs but the bench JVM (heap already holding every cached table)
    * answers with full-GC churn. The tasks ship copies of the compact
    * UnsafeRows as-is; isNullAt/getLong read them directly. */
  private[graft] def collectAtMost(df: DataFrame, n: Long): Option[Array[InternalRow]] = {
    if (n < 0) return None
    val take = math.min(n, Int.MaxValue - 1L).toInt + 1
    val rdd = df.queryExecution.toRdd
    val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
    var total = 0L
    @volatile var over = false
    @volatile var job: FutureAction[Unit] = null
    // results arrive one at a time on the scheduler thread, possibly before
    // `job` is assigned: hence the second cancel after submitJob
    job = df.sparkSession.sparkContext.submitJob(rdd, (it: Iterator[InternalRow]) => {
        val rows = it.take(take).map(_.copy()).toArray
        if (rows.length > n) null else rows
      }, parts.indices, (i: Int, rows: Array[InternalRow]) => if (!over) {
        if (rows == null || { total += rows.length; total > n }) {
          over = true
          parts.mapInPlace(_ => null)
          if (job != null) job.cancel()
        } else parts(i) = rows
      }, ())
    if (over) job.cancel()
    try job.get() catch { case _: SparkException if over => }
    if (over) None else Some(parts.flatten)
  }

  /** The prelude of every guarded replay: the graph of `pairs`, a frame of
    * (from, to) or (from, to, weight) long columns, if it holds at most
    * `limit` rows, then each `ids` frame (one long column, with its own
    * limit), collected only if everything before it fitted. Each frame is
    * one [[collectAtMost]] action. The ids become vertices of the graph and
    * also come back as collected, order and duplicates kept (the callers'
    * vertex-list semantics). Any null endpoint, weight or id gives None:
    * the distributed path defines the null semantics, so a null-carrying
    * input falls back to it. */
  def collect(pairs: DataFrame, limit: Long): Option[LocalGraph] =
    collect(pairs, limit, Nil: _*).map(_._1)

  def collect(pairs: DataFrame, limit: Long, ids: (DataFrame, Long)*)
      : Option[(LocalGraph, Seq[Array[Long]])] = {
    val width = pairs.columns.length
    val rows = collectAtMost(pairs, limit)
      .filterNot(_.exists(r => (0 until width).exists(r.isNullAt)))
    if (rows.isEmpty) return None
    val lists = ids.foldLeft(Option(Vector.empty[Array[Long]])) { case (acc, (df, lim)) =>
      acc.flatMap(got => collectAtMost(df, lim)
        .filterNot(_.exists(_.isNullAt(0)))
        .map(rs => got :+ rs.map(_.getLong(0))))
    }
    lists.map { ls =>
      val rs = rows.get
      val w = if (width > 2) rs.map(_.getLong(2)) else null
      (build(rs.map(_.getLong(0)), rs.map(_.getLong(1)), w, Array.concat(ls: _*)), ls)
    }
  }
}
