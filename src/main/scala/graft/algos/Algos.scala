package graft.algos

import org.apache.spark.graphx.{Edge, EdgeTriplet, Graph, VertexId, PartitionStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.plans.Scale
import graft.plans.Scale.{checkpointed, guarded, minOf, sumOf}
import graft.algos.LocalGraph.collectAtMost
import scala.collection.mutable.ArrayBuilder

/** Graph algorithms — the Spark re-expression of fermor graph/algo.clj.
  *
  * Iterative whole-graph algorithms (CC, SCC, BFS, PageRank, triangles,
  * label propagation) run on GraphX/Pregel: vertex-parallel, partitioned,
  * and checkpoint-friendly — the right execution model for 100 TB graphs,
  * where fermor's single-heap recursion (algo.clj walks Java arrays) cannot
  * go. Order-dependent compiler analyses (dominators, DFS numberings —
  * algo.clj:immediate-dominators, post-order-numbering) are inherently
  * sequential on DFS order; like the reference we run them single-node, but
  * behind an API that first extracts + filters the CFG-scale subgraph —
  * distributedly once the edge set passes a collect guard (program CFGs
  * are ~10³-10⁶ vertices — driver-sized by nature).
  *
  * Below their guards the iterative algorithms replay on the driver, all
  * on one kernel: [[LocalGraph]], collected by one limited action per
  * frame ([[LocalGraph.collect]]), with CSR out/in/undirected adjacencies,
  * a BFS, a DFS and one low-link walk.
  */
object Algos {

  private def edgeRdd(edges: DataFrame): RDD[Edge[Int]] =
    edges.select("src", "dst").rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))

  /** Path-halving min-root union-find over long labels (shared by the
    * guarded CC replay and kruskalAccept): union points the LARGER root at
    * the smaller, so every tree's root is its component's minimum member —
    * find() IS the min-id component label. */
  private final class MinUnionFind {
    private val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(z: Long): Long = {
      var p = z
      while (parent.getOrElse(p, p) != p) {
        val gp = parent.getOrElse(parent(p), parent(p))
        parent(p) = gp; p = gp
      }
      p
    }
    /** true iff the two were in different components (an edge was accepted). */
    def union(a: Long, b: Long): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false
      else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
    }
  }

  /** true iff every named column is an integral type — the precondition for
    * a guarded local replay's typed long collect. A string id would
    * cast('long') to NULL (silent corruption) and a float would truncate;
    * such inputs stay on the distributed path, which treats them exactly as
    * before the replays existed. */
  private def integralCols(df: DataFrame, names: String*): Boolean = {
    import org.apache.spark.sql.types._
    names.forall { n =>
      df.schema(n).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
  }

  /** true iff every named column is a LongType — the gate of the replays
    * whose distributed output keeps its input's id type, so a driver walk
    * that emits bigint ids can stand in for it. */
  private def longCols(df: DataFrame, names: String*): Boolean =
    names.forall(n => df.schema(n).dataType == org.apache.spark.sql.types.LongType)

  private def buildGraph(vertices: DataFrame, edges: DataFrame): Graph[Long, Int] = {
    val vs = vertices.select(vertices.columns.head).rdd.map(r => (r.getLong(0), r.getLong(0)))
    Graph(vs, edgeRdd(edges))
  }

  /** Connected components (fermor algo.clj `connected-components`):
    * component id = min vertex id — a UNIQUE answer, so both regimes agree
    * bit-for-bit (parity-spec'd):
    *
    *  - below the guard, a local min-root union-find over the collected
    *    edge list (the kCore/MIS/matching guarded-replay pattern): one
    *    linear pass replaces GraphX's per-superstep scheduling latency.
    *    The 50k default is MEASURED (sf0.1 local[32], warm): at 5k edges
    *    local wins ~3× (0.7 vs 2.0-2.3 s — the dedup-cluster pair-graph
    *    shape), at 50k ~2× (1.1 vs 2.3 s), at 165k it is a tie (~0.9 s
    *    both — output materialization dominates), so larger inputs stay
    *    on GraphX;
    *  - distributed, GraphX Pregel min-id propagation. Pregel costs one
    *    superstep per hop — the right trade on the small-diameter graphs
    *    this serves (FK stars, near-dup pair graphs, where it converges in
    *    ~3 cheap iterations and beats the alternating algorithm's per-round
    *    fixed costs measured 2-3× here). For diameter-unbounded inputs
    *    (chains, long paths) use [[ccAlternating]], whose round count is
    *    O(log² n) regardless of depth.
    *
    * Output universe matches GraphX's graph: `vertices` ∪ edge endpoints
    * (endpoints absent from `vertices` still get a component; isolated
    * vertices are their own). */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val headV = vertices.columns.head
    // one narrow lazy materialization shared by the guard probe, the local
    // collect, and the GraphX conversion — a derived edge graph evaluates
    // its upstream once, not once per consumer (the kTruss probe rule)
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint(eager = false)
    val vs0 = vertices.select(col(headV).as("id")).localCheckpoint(eager = false)
    // null ids fall through: GraphX's typed conversion raises the same loud
    // failure it always has for them
    if (integralCols(e0, "src", "dst") && integralCols(vs0, "id"))
      LocalGraph.collect(e0.select(col("src").cast("long"), col("dst").cast("long")),
          localMaxEdges, vs0.select(col("id").cast("long")) -> localMaxEdges) match {
        case Some((g, _)) =>
          val uf = new MinUnionFind
          g.ids.indices.foreach(u => g.out.foreach(u)(v => uf.union(g.ids(u), g.ids(v))))
          return g.ids.toSeq.map(v => (v, uf.find(v))).toDF("id", "component")
        case None => ()
      }
    buildGraph(vs0, e0).connectedComponents()
      .vertices.toDF("id", "component")
  }

  /** Strongly connected components (fermor algo.clj
    * `strongly-connected-components`): component id = min member id.
    *
    * Hybrid trim + residual design (the standard scale recipe from the
    * FW-BW/coloring SCC literature): repeatedly TRIM vertices whose in- or
    * out-degree is zero within the remaining subgraph — such vertices cannot
    * lie on a cycle, so they are singleton SCCs (component = own id). Each
    * trim round is two semi-joins on a shrinking vertex set, all distributed.
    * On real data (FK hierarchies, mostly-acyclic web/link graphs) trimming
    * removes the overwhelming majority of vertices in a handful of rounds;
    * the small cyclic residual is solved exactly with driver-side Tarjan
    * (the same CFG-scale hybrid as [[immediateDominators]]). A residual too
    * large to collect falls back to GraphX's Pregel SCC on just the residual
    * subgraph — strictly less work than running it on the whole graph. */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame, numIter: Int = 20,
      residualMax: Long = 2000000)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val vs0 = vertices.select(col(vertices.columns.head).as("id"))
    // guarded WHOLE-GRAPH Tarjan before any distributed trimming: the trim
    // loop exists to shrink a graph too big to collect, but below the
    // residual guard the ~2 actions/round it schedules ARE the query's cost
    // (q_cycles: 29 jobs of trim for 1.5 s of task time). SCC labels are a
    // unique integer fact (min member id), so skipping the trim cannot
    // change them; edges are restricted to the vs0-induced subgraph exactly
    // like the trim loop's keep-semijoins restrict e. LongType-only gate:
    // the distributed path preserves vs0's id type in its output schema,
    // and the local toDF emits longs — narrower int ids stay distributed.
    // Raw-pair guard (counting before the dedup skips that shuffle; Tarjan
    // reads duplicate edges harmlessly). The residualMax=0 parity spec
    // forces the old path and pins equality.
    if (longCols(vs0, "id") && longCols(edges, "src", "dst"))
      LocalGraph.collect(edges.select(col("src"), col("dst")).where(col("src") =!= col("dst")),
          residualMax, vs0 -> residualMax) match {
        // Gate, don't filter: both pre-existing paths let a cycle run
        // THROUGH endpoints absent from `vertices` (GraphX's Graph()
        // auto-adds them; the converged-without-trim residual Tarjan
        // collects e unfiltered), so silently dropping their edges here
        // could split an SCC and change labels vs the old behavior.
        // Inputs with edge-only pass-through vertices (graph vertices that
        // are not `vertices` ids) fall back to the distributed path, whose
        // semantics are the definition (parity-spec'd in AlgosSpec).
        case Some((g, Seq(ids))) if g.n == ids.distinct.length =>
          return tarjanScc(g, ids).toSeq.toDF("id", "component")
        case _ => ()
      }
    // self-loops make a vertex cyclic but never a multi-member SCC; drop them
    // so trimming sees the true cross-vertex cycle structure
    var e = edges.select("src", "dst").where(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst").localCheckpoint(eager = false)
    // capped silently: the residual solve below is exact on any superset
    val (remaining, prev, _) = peelRounds(vs0, 100) { (rem, round) =>
      // the edge set follows the pool from round 2 on; round 1 keeps the
      // edges into endpoints absent from `vertices` (the pass-through rule)
      if (round > 1) e = e
        .join(rem.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(rem.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(eager = false)
      val srcs = e.select(col("src").as("id")).dropDuplicates("id")
      val dsts = e.select(col("dst").as("id")).dropDuplicates("id")
      rem.join(srcs, Seq("id"), "left_semi").join(dsts, Seq("id"), "left_semi")
    }
    // gate on BOTH vertex and edge count before collecting: a dense cyclic
    // residual under the vertex cap can still hold edge counts that OOM the
    // driver; the edge probe and collect are one limited action
    val residual =
      if (prev == 0 || prev > residualMax) None
      else LocalGraph.collect(e.select(col("src").cast("long"), col("dst").cast("long")),
        residualMax)
    val residualComps: DataFrame =
      if (prev == 0) Seq.empty[(Long, Long)].toDF("id", "component")
      else if (residual.isDefined)
        tarjanScc(residual.get, remaining.as[Long].collect()).toSeq.toDF("id", "component")
      else buildGraph(remaining, e).stronglyConnectedComponents(numIter)
        .vertices.toDF("id", "component")
    vs0.join(residualComps.withColumnRenamed("component", "__rc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__rc"), col("id")).as("component"))
  }

  /** Iterative Tarjan SCC over `g.out`, rooted at `ids` in id order;
    * component label = min member id, per entry of `ids` (an id on no
    * edge is its own component). */
  private def tarjanScc(g: LocalGraph, ids: Array[Long]): Array[(Long, Long)] = {
    val index = Array.fill(g.n)(-1)
    val lowlink = new Array[Int](g.n)
    val onStack = new Array[Boolean](g.n)
    val label = new Array[Int](g.n)
    val tstack = new scala.collection.mutable.Stack[Int]()
    var counter = 0
    ids.map(g.index).filter(_ >= 0).sorted.foreach { root =>
      if (index(root) < 0) {
        val work = scala.collection.mutable.Stack[(Int, Int)]() // (vertex, next out position)
        def open(v: Int): Unit = {
          index(v) = counter; lowlink(v) = counter; counter += 1
          tstack.push(v); onStack(v) = true
          work.push((v, g.out.off(v)))
        }
        open(root)
        while (work.nonEmpty) {
          val (u, k) = work.top
          if (k < g.out.off(u + 1)) {
            work(0) = (u, k + 1)
            val v = g.out.adj(k)
            if (index(v) < 0) open(v)
            else if (onStack(v)) lowlink(u) = math.min(lowlink(u), index(v))
          } else {
            work.pop()
            if (work.nonEmpty) {
              val p = work.top._1
              lowlink(p) = math.min(lowlink(p), lowlink(u))
            }
            if (lowlink(u) == index(u)) {
              // the least index of the component is its min member id
              val members = scala.collection.mutable.ArrayBuffer[Int]()
              var done = false
              while (!done) {
                val w = tstack.pop(); onStack(w) = false; members += w
                if (w == u) done = true
              }
              val min = members.min
              members.foreach(label(_) = min)
            }
          }
        }
      }
    }
    ids.map { v =>
      val i = g.index(v)
      (v, if (i < 0 || index(i) < 0) v else g.ids(label(i)))
    }
  }

  /** SCCs with >1 member = the cycle skeleton (fermor `cycles` /
    * `strongly-connected-subgraphs`). */
  def nontrivialSccs(vertices: DataFrame, edges: DataFrame, numIter: Int = 20)(
      implicit spark: SparkSession): DataFrame = {
    val scc = stronglyConnectedComponents(vertices, edges, numIter)
    val big = scc.groupBy("component").agg(count(lit(1)).as("n")).where(col("n") > 1)
    scc.join(big.select("component"), Seq("component"), "left_semi")
      .select("id", "component") // a USING join reorders the key first
  }

  /** Unweighted BFS distances from a source set (fermor algo.clj
    * `shortest-path`, `breadth-first-nodes`). `reverse` follows edges
    * dst→src (e.g. down a FK hierarchy). Returns reachable (id, dist).
    *
    * Below `localMaxEdges` edges the walk runs on the driver: one guarded
    * collect of the edge pairs, one of the sources, then [[LocalGraph.bfs]].
    * Above it, a level-synchronous DataFrame delta BFS: each round expands
    * only the newest frontier (semi-join on the edge table) and anti-joins
    * the visited set, so per-round work tracks frontier size — the same
    * shape GraphX Pregel computes, without the RDD conversion and
    * vertex-state machinery, and AQE-planned per round. A null source
    * identifies no vertex and is dropped. Set the guard to 0 to force the
    * distributed rounds. */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      reverse: Boolean = false, maxIter: Int = 1000,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    // duplicate edges are harmless (per-round dropDuplicates on ids): no
    // dedup shuffle, just one narrow materialization shared by the rounds
    val e = edges.select(col(from).as("__from"), col(to).as("__to"))
      .localCheckpoint(eager = false)
    val seed = sources.select(col(sources.columns.head).as("id"))
    // LongType only (the SCC rule): the distributed union keeps the id
    // columns' type, the driver walk emits bigint
    if (longCols(e, "__from", "__to") && longCols(seed, "id"))
      LocalGraph.collect(e, localMaxEdges, seed.where(col("id").isNotNull) -> localMaxEdges) match {
        case Some((g, Seq(seeds))) =>
          val (order, dist, _) = g.bfs(seeds.map(g.index), maxIter)
          return order.toSeq.map(v => (g.ids(v), dist(v))).toDF("id", "dist")
        case _ => ()
      }
    bfsRounds(e, seed, maxIter)
  }

  /** [[bfsDistances]]' distributed rounds over its (__from, __to) frame. */
  private def bfsRounds(e: DataFrame, seed: DataFrame, maxIter: Int): DataFrame = {
    val (levels, _) = bfsLevels(seed, Seq("id"), maxIter) { f =>
      e.join(f.select(col("id").as("__from")), Seq("__from"), "left_semi")
        .select(col("__to").as("id")).dropDuplicates("id")
    }
    levels.zipWithIndex.map { case ((l, _), d) => l.withColumn("dist", lit(d)) }
      .reduce(_.unionByName(_))
  }

  /** The level-synchronous delta-BFS driver behind [[bfsDistances]],
    * [[reachableEdges]], [[taggedBfs]] and [[brandesBetweenness]]. Level 0
    * is `seed` without null-keyed rows, deduped on `key`; level i+1 is
    * `expand(level i)` (which must return rows unique on `key`) minus every
    * row whose key an earlier level holds. Each level, the seed included,
    * ends in [[Scale.checkpointed]]: ONE count job, which doubles as the
    * drain probe. The counts guard the broadcasts of the frontier handed
    * to `expand` and of the visited set ([[Scale.guarded]]). Returns the
    * seed and every non-empty level after it, in order, with their row
    * counts, and whether a round found the frontier drained within
    * `maxIter` rounds. */
  private def bfsLevels(seed: DataFrame, key: Seq[String], maxIter: Int)(
      expand: DataFrame => DataFrame): (IndexedSeq[(DataFrame, Long)], Boolean) = {
    val keyCols = key.map(col)
    var (frontier, frontierRows, _) =
      checkpointed(seed.where(keyCols.map(_.isNotNull).reduce(_ && _)).dropDuplicates(key))
    var visited = frontier.select(keyCols: _*).localCheckpoint(eager = false)
    var visitedRows = frontierRows
    val levels = scala.collection.mutable.ArrayBuffer((frontier, frontierRows))
    var converged = frontierRows == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val (next, n, _) = checkpointed(expand(guarded(frontier, frontierRows))
        .join(guarded(visited, visitedRows), key, "left_anti"))
      if (n == 0L) converged = true
      else {
        frontier = next
        frontierRows = n
        levels += ((next, n))
        visitedRows += n
        visited = visited.unionByName(next.select(keyCols: _*)).localCheckpoint(eager = false)
      }
      i += 1
    }
    (levels.toIndexedSeq, converged)
  }

  /** The peel driver behind the distributed rounds of [[kCore]],
    * [[kTruss]], [[maximalIndependentSet]], [[jpColoring]],
    * [[maximalMatching]] and the SCC trim: round r (from 1) replaces the
    * pool with `step(pool, r)`. Every step only REMOVES rows, so a round
    * that keeps the row count kept the pool itself — a fixpoint. `pool0`
    * and every step output end in [[Scale.checkpointed]]: one count job per
    * round, which is both the drain and the fixpoint probe. Stops at an
    * empty pool, at a fixpoint, or after `maxRounds` rounds; returns the
    * last pool, its row count, and whether it stopped before the cap. Side
    * state (winner sets, the shrinking edge set) lives in `step`'s closure. */
  private def peelRounds(pool0: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Long, Boolean) = {
    var (pool, rows, _) = checkpointed(pool0)
    var converged = rows == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val (next, n, _) = checkpointed(step(pool, round))
      converged = n == 0L || n == rows
      pool = next
      rows = n
    }
    (pool, rows, converged)
  }

  /** Weighted shortest path by distributed delta-relaxation (fermor
    * algo.clj:92 `shortest-path`, which takes a per-edge cost fn and an
    * accept predicate). `cost` is a Column over the edge row (must evaluate
    * to a strictly positive long — the exactness convention: integer costs
    * hash-match across engines). Each round relaxes only edges out of the
    * newest improved frontier: a keyed join + min-merge against the distance
    * table, the Bellman-Ford/delta-stepping shape that scales (per-round work
    * tracks frontier size; no priority queue, no driver state). Returns every
    * reachable (id, cost) with cost = minimal path cost from any source. */
  def weightedShortestPath(edges: DataFrame, sources: DataFrame, cost: Column,
      reverse: Boolean = false, maxIter: Int = 50,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame =
    relaxLoop(relaxEdges(edges, cost, reverse), sources, maxIter, accept = None, localMaxEdges)

  /** [[weightedShortestPath]] + PARENT POINTERS — the reference's
    * shortest-path returns the actual path; distributed, the path tree IS
    * the parent column (walk it back with k joins, or emit it to callers
    * as-is). Deterministic: per vertex the lexicographically least
    * (cost, parent) pair — parent = the least-id predecessor among those on
    * a minimal-cost path. Sources carry a null parent. */
  def weightedShortestPathWithParent(edges: DataFrame, sources: DataFrame, cost: Column,
      reverse: Boolean = false, maxIter: Int = 50,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame = {
    // Two phases, not a fatter loop: (1) the plain cost relaxation to its
    // fixpoint (narrow 2-column rounds), then (2) ONE post-pass join derives
    // parents from the optimality invariant — p is an optimal predecessor of
    // v iff cost(p) + w(p,v) = cost(v) — taking min(p) for determinism.
    // Carrying parents through the loop would instead fire extra
    // "refinement" rounds whenever an equal-cost smaller-id predecessor
    // appears late (strictly more rounds, wider shuffles, same answer).
    val e = relaxEdges(edges, cost, reverse)
    val dist = relaxLoop(e, sources, maxIter, accept = None, localMaxEdges)
    val parents = e
      .join(dist.select(col("id").as("__from"), col("cost").as("__pc")), "__from")
      .join(dist.select(col("id").as("__to"), col("cost").as("__tc")), "__to")
      .where(col("__pc") + col("__w") === col("__tc"))
      .groupBy(col("__to").as("id")).agg(min(col("__from")).as("parent"))
    // sources keep a null parent: with strictly positive costs no incoming
    // edge can satisfy the invariant at cost 0
    dist.join(parents, Seq("id"), "left")
  }

  /** Guarded LOCAL replay of the relaxation loop (the kCore/CC pattern):
    * the EXACT same round-synchronous recurrence — per round, min candidate
    * cost per vertex over edges out of the previous improved set, kept iff
    * it beats the known distance; accept early-exit and maxIter truncation
    * replicated — so the returned dist table is bit-identical to the
    * distributed loop's in every regime, converged or capped (parity-spec'd
    * at guard = 0). `accept` is evaluated ONCE, distributedly, over the
    * graph's bounded vertex set, never per round.
    *
    * The 50k guard default is a MEASURED rejection of a bigger one: on the
    * sf0.1 FK graph (2M weighted edges, 4-5 effective rounds, local[32])
    * the local path reads 3.0-5.4 s vs 2.3-3.5 s distributed — collecting
    * the edge frame costs more than the well-parallelized rounds save — so
    * the replay only fires where fixed per-round latency dominates. */
  private def relaxLocal(spark: SparkSession, g: LocalGraph, sources: Array[Long],
      maxIter: Int, accept: Option[Column]): DataFrame = {
    import spark.implicits._
    val accepted = new Array[Boolean](g.n)
    accept.foreach(a => g.ids.toSeq.toDF("id").where(a).as[Long].collect()
      .foreach(v => accepted(g.index(v)) = true))
    val unset = Long.MaxValue
    val dist = Array.fill(g.n)(unset)
    var frontier = sources.map(g.index).distinct
    frontier.foreach(dist(_) = 0L)
    // per round: the min candidate cost of each vertex an edge out of the
    // frontier reaches, kept iff it beats the known distance
    val cand = Array.fill(g.n)(unset)
    var bestAccepted = Long.MaxValue
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val touched = new ArrayBuilder.ofInt
      frontier.foreach { f =>
        var k = g.out.off(f)
        while (k < g.out.off(f + 1)) {
          val t = g.out.adj(k)
          val nc = dist(f) + g.out.w(k)
          if (cand(t) == unset) touched += t
          if (nc < cand(t)) cand(t) = nc
          k += 1
        }
      }
      val ts = touched.result()
      val improved = ts.filter(t => cand(t) < dist(t))
      improved.foreach(t => dist(t) = cand(t))
      ts.foreach(cand(_) = unset)
      if (improved.isEmpty) done = true
      else {
        frontier = improved
        improved.foreach(t => if (accepted(t)) bestAccepted = math.min(bestAccepted, dist(t)))
        if (improved.map(dist).min >= bestAccepted) done = true
      }
      i += 1
    }
    g.ids.indices.filter(dist(_) != unset).map(v => (g.ids(v), dist(v))).toDF("id", "cost")
  }

  /** fermor `shortest-path`'s full contract: lowest-cost search for vertices
    * satisfying `accept` (a predicate Column over `id`), with early exit —
    * once the cheapest accepted cost B is known and the frontier's minimum
    * tentative cost reaches B, no future relaxation can beat it (costs are
    * strictly positive), so the search stops without exhausting the graph.
    * Returns the accepted vertices tied at the minimal cost. */
  def cheapestAccepted(edges: DataFrame, sources: DataFrame, cost: Column, accept: Column,
      reverse: Boolean = false, maxIter: Int = 50,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame = {
    val dist = relaxLoop(relaxEdges(edges, cost, reverse), sources, maxIter,
      accept = Some(accept), localMaxEdges)
    val hits = dist.where(accept).localCheckpoint(eager = false)
    hits.join(hits.agg(min(col("cost")).as("cost")), Seq("cost"), "left_semi")
      .select("id", "cost")
  }

  /** The relaxation loop's edge frame: (__from, __to, __w) in the walk
    * direction. Parallel edges are fine un-deduped: the per-round min-merge
    * collapses them; one narrow materialization is shared by all rounds.
    * NULL weights are dropped by construction: costs are documented
    * strictly positive, a null __w would null the frontier's min(cost) —
    * the drain signal — terminating the relaxation early instead of
    * relaxing on, and the local replay reads __w as a primitive long. */
  private def relaxEdges(edges: DataFrame, cost: Column, reverse: Boolean): DataFrame = {
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    edges.select(col(from).as("__from"), col(to).as("__to"), cost.cast("long").as("__w"))
      .where(col("__w").isNotNull)
      .localCheckpoint(eager = false)
  }

  /** Round-synchronous delta relaxation over a [[relaxEdges]] frame: each
    * round relaxes only edges out of the newest improved set, then
    * min-merges into the distance table. `accept` (a predicate over `id`)
    * adds fermor's early exit: once the frontier minimum reaches the
    * cheapest accepted cost, nothing later can beat it. Below the guard the
    * same recurrence replays on the driver ([[relaxLocal]]). */
  private def relaxLoop(e: DataFrame, sources: DataFrame, maxIter: Int,
      accept: Option[Column], localMaxEdges: Long): DataFrame = {
    // collect the CHECKPOINTED frame: a derived edge graph evaluates its
    // upstream once (the kTruss probe rule). Sources are guarded too: a
    // huge source set over a small subgraph must not be collected; the type
    // gate keeps non-long ids on the distributed path, where a null key
    // simply never joins
    if (integralCols(e, "__from", "__to") && integralCols(sources, sources.columns.head))
      LocalGraph.collect(
          e.select(col("__from").cast("long"), col("__to").cast("long"), col("__w")),
          localMaxEdges,
          sources.select(col(sources.columns.head).cast("long")) -> localMaxEdges) match {
        case Some((g, Seq(ss))) => return relaxLocal(e.sparkSession, g, ss, maxIter, accept)
        case _ => ()
      }
    var (dist, frontierRows, _) = checkpointed(
      sources.select(col(sources.columns.head).as("id")).dropDuplicates("id")
        .withColumn("cost", lit(0L)))
    var frontier = dist
    val accepted = accept.getOrElse(lit(false))
    var bestAccepted = Long.MaxValue
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      // one job completes the improved set and yields its size (the drain
      // probe and the guard of both broadcasts), min and min accepted cost
      val (improved, n, Seq(minCost, minAccepted)) = checkpointed(
        e.join(guarded(frontier, frontierRows).withColumnRenamed("id", "__from"), "__from")
          .select(col("__to").as("id"), (col("cost") + col("__w")).as("cost"))
          .groupBy("id").agg(min(col("cost")).as("cost")) // map-side partial min
          .join(dist.withColumnRenamed("cost", "__old"), Seq("id"), "left")
          .where(col("__old").isNull || col("cost") < col("__old"))
          .select("id", "cost"),
        minOf(col("cost")), minOf(when(accepted, col("cost"))))
      if (n == 0L) done = true
      else {
        // dist (|reached|-sized) stays unshuffled under the guard
        dist = dist.join(guarded(improved.select("id"), n), Seq("id"), "left_anti")
          .unionByName(improved).localCheckpoint(eager = false)
        frontier = improved
        frontierRows = n
        bestAccepted = math.min(bestAccepted, minAccepted)
        // strictly positive costs: every future relaxation strictly exceeds
        // the frontier minimum, so the accepted set at bestAccepted is final
        if (minCost >= bestAccepted) done = true
      }
      i += 1
    }
    dist
  }

  /** Materialize full paths from a parent-pointer tree (the output of
    * [[weightedShortestPathWithParent]]): `maxHops` bounded prepend-joins —
    * each round resolves one more ancestor, rows whose walk already reached
    * a source (null parent) pass through unchanged. Paths run source→vertex.
    * The path column is wide; reconstruct AFTER filtering to the vertices
    * you need, not before. */
  def shortestPathsFromParents(parentTree: DataFrame, maxHops: Int,
      targets: Option[DataFrame] = None): DataFrame = {
    var cur = targets.getOrElse(parentTree).select(col("id"), col("cost"),
      array(col("id")).as("path"), col("parent").as("p"))
    val t = parentTree.select(col("id").as("p"), col("parent").as("__pp"))
    var i = 0
    while (i < maxHops) {
      val next = cur.join(t, Seq("p"), "left")
        .select(col("id"), col("cost"),
          when(col("p").isNotNull, concat(array(col("p")), col("path")))
            .otherwise(col("path")).as("path"),
          when(col("p").isNotNull, col("__pp")).otherwise(lit(null).cast("long")).as("p"))
      // the checkpoint cuts the join-chain lineage; its job also counts the
      // pending walks — none left: later rounds would be no-op joins
      val (c, _, Seq(pending)) = checkpointed(next, sumOf(when(col("p").isNotNull, 1L)))
      cur = c
      i += 1
      if (pending == 0L) i = maxHops
    }
    cur.select("id", "cost", "path")
  }

  /** The reference shortest-path's FULL return contract (algo.clj:92-125:
    * "returns a vector of vertices on the path" to the first accepted
    * vertex): relax to a parent tree, pick the minimal-cost accepted
    * vertices (the deterministic set form of "first"), and reconstruct only
    * THEIR paths. Empty result = no accepted vertex reachable (the
    * reference's nil). */
  def shortestPathTo(edges: DataFrame, sources: DataFrame, cost: Column, accept: Column,
      reverse: Boolean = false, maxIter: Int = 50, maxHops: Int = 50,
      localMaxEdges: Long = 50000L)(implicit spark: SparkSession): DataFrame = {
    val tree = weightedShortestPathWithParent(edges, sources, cost, reverse, maxIter,
      localMaxEdges)
      .localCheckpoint(eager = false)
    val hits = tree.where(accept).localCheckpoint(eager = false)
    val best = hits.join(hits.agg(min(col("cost")).as("cost")), Seq("cost"), "left_semi")
    shortestPathsFromParents(tree, maxHops, Some(best))
  }

  /** Incremental connected components over a GROWING edge set (the streaming
    * maintenance shape: call from foreachBatch with the previous assignment):
    * prior components enter as membership links (id → component), so each
    * update runs CC over |V| + |batch| edges instead of the full history —
    * the classic union-find-with-supernodes trick, distributed. Labels stay
    * the global min id, so assignments are stable across batches.
    *
    * DELTA fast path (r11, the r10 verdict's top-cost item): a batch can
    * only MERGE existing components, so the CC that actually has to run is
    * over the COMPONENT graph — the batch projected through the previous
    * assignment — whose size is bounded by the batch, never |V| + |batch|.
    * Those component edges are collected under `deltaMaxEdges` (the 2M /
    * ~32 MB driver-collect convention of the PPR/walks replays) and merged
    * by a local min-root union-find; the |V|-sized mapping then updates
    * with ONE distributed remap join against the (touched-components-only,
    * broadcast-sized) relabel table. The old path re-ran full CC over
    * membership links + batch per update — past the 50k guard that meant a
    * whole GraphX Pregel run per update (q_cc_incremental paid two, the
    * r10 bench's most expensive query at 3.5 s).
    *
    * Exactness gate (one bounded probe, ~2 scans + 2 aggs of prev): the
    * projection argument requires prev to BE an assignment — non-null
    * unique ids, component = min member, every component labeling itself
    * (`(c, c)` present). Each clause is exactly the invariant
    * [[connectedComponents]]/[[incrementalCC]] output (and an
    * id = component seed) satisfies. Inputs violating any clause — where
    * duplicate ids merge components through their link edges, or a
    * non-min label would have been rewritten by the full recompute — fall
    * back to the verbatim old path, which defines the semantics
    * (parity-spec'd: AlgosSpec runs both). Non-integral id types fall back
    * too (the integralCols replay rule). */
  def incrementalCC(prev: DataFrame, batchEdges: DataFrame,
      localMaxEdges: Long = 50000L, deltaMaxEdges: Long = 2000000L)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    if (integralCols(prev, "id", "component") && integralCols(batchEdges, "src", "dst")) {
      // ONE job sizes the assignment AND materializes its checkpoint (four
      // readers below); a measured-small pm broadcasts into the
      // projection/universe joins, so the batch is never shuffled against
      // |V| (guide §3.1 — the relaxLoop idiom). Past the guard the shuffle
      // joins stand.
      val (pm, pmN, _) = checkpointed(prev.select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component")))
      val be = batchEdges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).localCheckpoint(eager = false)
      val pmB = if (pmN <= deltaMaxEdges) broadcast(pm) else pm
      // Exactness gate, ONE shuffle: both roles of every prev row grouped
      // by the vertex they mention — duplicate ids (__nid > 1), a label
      // with no self-row (__isc without __self), and null ids all surface
      // from the same aggregation; `component > id` and null batch
      // endpoints are scan predicates. (The first formulation — one union
      // branch per clause with its own groupBy/anti-join — paid 3 extra
      // shuffles and ~0.5 s per update at sf0.1.)
      val roles = pm.select(col("id").as("k"), lit(0).as("r"), col("component").as("v"))
        .unionAll(pm.select(col("component").as("k"), lit(1).as("r"), col("id").as("v")))
      val grouped = roles.groupBy("k").agg(
        sum(when(col("r") === 0, 1).otherwise(0)).as("__nid"),
        max(when(col("r") === 0 && col("v") === col("k"), 1).otherwise(0)).as("__self"),
        max(col("r")).as("__isc"))
      def one(df: DataFrame) = df.select(lit(0L).as("t"), lit(0L).as("a"), lit(0L).as("b"))
      val violations =
        one(grouped.where(col("k").isNull || col("__nid") > 1 ||
            (col("__isc") === 1 && col("__self") === 0)))
          .unionAll(one(pm.where(col("component") > col("id"))))
          .unionAll(one(be.where(col("src").isNull || col("dst").isNull)))
          .limit(1)
      // batch edges projected to component space through the mapping
      // (unseen endpoints are their own singletons — the coalesce), deduped
      // map-side: bounded by the batch, never |V|
      val compEdges = be
        .join(pmB.select(col("id").as("src"), col("component").as("__cs")), Seq("src"), "left")
        .join(pmB.select(col("id").as("dst"), col("component").as("__cd")), Seq("dst"), "left")
        .select(coalesce(col("__cs"), col("src")).as("__cs"),
          coalesce(col("__cd"), col("dst")).as("__cd"))
        .where(col("__cs") =!= col("__cd"))
        .dropDuplicates()
      // gate probe and edge collect fused into ONE driver action: the
      // violation subtree rides the same plan as a tagged limit-1 branch
      // (the collectAtMost convention, one job instead of two)
      val combined = violations.unionAll(
        compEdges.select(lit(1L).as("t"), col("__cs").as("a"), col("__cd").as("b")))
      collectAtMost(combined, deltaMaxEdges + 1) match {
        case Some(rows) if !rows.exists(r => r.getLong(0) == 0L || r.isNullAt(1) || r.isNullAt(2))
            && rows.length <= deltaMaxEdges =>
          val uf = new MinUnionFind
          rows.foreach(r => uf.union(r.getLong(1), r.getLong(2)))
          // relabel table: touched components only; cluster label = min
          // member component id = min vertex id overall (each component
          // IS its member-set minimum — the gated invariant)
          val remap = rows.iterator.flatMap(r => Iterator(r.getLong(1), r.getLong(2)))
            .toArray.distinct.map(c => (c, uf.find(c)))
            .filter { case (c, rt) => rt != c }
          // output universe = prev ids ∪ batch endpoints (the old vs union)
          val newVerts = be.select(col("src").as("id"))
            .unionAll(be.select(col("dst").as("id")))
            .dropDuplicates("id")
            .join(pmB.select("id"), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("component"))
          val m = pm.unionAll(newVerts)
          if (remap.isEmpty) return m
          return m.join(remap.toSeq.toDF("component", "__nc"), Seq("component"), "left")
            .select(col("id"), coalesce(col("__nc"), col("component")).as("component"))
        case _ => () // violation, null, or past the guard: full recompute
      }
    }
    val links = prev.select(col("id").as("src"), col("component").as("dst"))
      .where(col("src") =!= col("dst"))
    val e = links.unionAll(batchEdges.select("src", "dst"))
    val vs = prev.select("id")
      .unionAll(batchEdges.select(col("src").as("id")))
      .unionAll(batchEdges.select(col("dst").as("id")))
      .dropDuplicates("id")
    connectedComponents(vs, e, localMaxEdges)
  }

  /** PageRank (capability class inherited from the reference's Pacer
    * lineage): GraphX static PageRank, fixed iterations. (r10 MEASURED
    * rejection: coalescing a tiny graph to one partition before the
    * supersteps read 3.3 s vs 1.3 s warm at sf0.1 — the guard probes plus
    * single-task serialization of GraphX's per-superstep materializations
    * cost more than the 32 near-empty tasks they removed.) */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 20)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    buildGraph(vertices, edges).staticPageRank(iters).vertices.toDF("id", "rank")
  }

  /** Per-vertex triangle counts on an undirected simple graph. Canonicalizes
    * + departicipates duplicate edges as TriangleCount requires. */
  def triangleCount(vertices: DataFrame, edges: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = buildGraph(vertices, edges)
      .partitionBy(PartitionStrategy.EdgePartition2D)
    g.triangleCount().vertices.toDF("id", "triangles")
  }

  /** LOCAL CLUSTERING COEFFICIENT per vertex, integer-exact: coeff_bp =
    * (triangles(v) * 20000) div (deg(v) * (deg(v) - 1)) — basis points of
    * the closed-wedge ratio tri / C(deg, 2); vertices with deg < 2 get 0.
    * Orientation/duplicate-insensitive (edges are symmetrized + distinct'd
    * first), self-loops dropped.
    *
    * Plan shape (node-iterator): wedges = sym ⋈ sym on the center with an
    * endpoint total order, closed against the canonical edge set — three
    * keyed equi-joins, no cartesian, the same shape q_triangles' oracle
    * replays. DataFrame-native (unlike [[triangleCount]]'s GraphX path) so
    * AQE/broadcast apply; the classic hub caveat holds: wedge fan-out is
    * Σ deg², so cap or sample hub vertices upstream at 100 TB (the
    * butterfly census's hub-cap pattern). */
  def localClustering(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val raw = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false)
    val canon = sym.where(col("src") < col("dst"))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    val tri = sym.select(col("src").as("u"), col("dst").as("v1"))
      .join(sym.select(col("src").as("u"), col("dst").as("v2")), "u")
      .where(col("v1") < col("v2"))
      .join(canon.select(col("src").as("v1"), col("dst").as("v2")), Seq("v1", "v2"))
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("triangles"))
    vertices.select(col("id").cast("long").as("id"))
      .join(deg, Seq("id"), "left")
      .join(tri, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("coeff_bp",
        when(col("degree") < 2, lit(0L))
          .otherwise(expr("(triangles * 20000) div (degree * (degree - 1))")))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002): the Pearson correlation of the
    * endpoint degrees over the symmetrized edge list — positive when hubs
    * attach to hubs, negative for hub-leaf (bipartite/star-like) mixing.
    * One row `(n_edges, assortativity)`; null correlation (degenerate
    * variance: regular graphs, single edge) surfaces as NULL rather than a
    * fabricated 0. Scale shape: one distinct, one degree count, ONE keyed
    * join back, tiny per-vertex aggs — every shuffle keyed by vertex id.
    * Five of the six per-edge sums are pure degree-table moments (vertex v
    * contributes its degree as dx to exactly d_v symmetric edges, so
    * n = Σd, Σx = Σy = Σd², Σx² = Σy² = Σd³); only Σxy needs the edge
    * list, as Σ_v d_v·S(v) with S(v) = Σ_{u∈N(v)} d_u — one |E| join
    * instead of two, and the DECIMAL products run over |V| rows, not |E|.
    *
    * ENGINE-EXACT by construction: the aggregation accumulates the six
    * EXACT integer sums (n, Σx, Σy, Σxy, Σx², Σy²) in DECIMAL(38,0) —
    * order-independent integer addition, never a float accumulator (Spark
    * covar_pop/stddev_pop vs DuckDB corr() accumulate in different orders,
    * so their doubles can differ by an ulp and flip a rounded comparison).
    * The FINISH r = (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²ₛ)·√(n·Σy²−Σy²ₛ)) is a
    * fixed sequence of IEEE-754 correctly-rounded double ops (cast, sqrt,
    * mul, div) on identical integer inputs — bit-identical in any engine
    * that replays the SAME expression shape, which the oracle does. All
    * integer intermediates stay ≤ ~10²⁶ for any plausible edge count, far
    * inside DECIMAL(38,0)/HUGEINT range — no overflow cliff. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // raw feeds BOTH symmetrize branches: without a materialization the
    // caller's edge derivation (q_assortativity: a lineitem⋈orders join +
    // distinct over ~1M pairs) is evaluated once per branch — checkpoint
    // once, read twice (the cooccurrencePairs rule)
    val raw = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(false)
    val sym = raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false)
    // two consumers: the moment agg and the S-join
    val (deg, degRows, _) =
      Scale.checkpointed(sym.groupBy(col("src").as("k")).agg(count(lit(1)).as("d")))
    // the checkpoint blanks deg's stats, so the S-join below planned as a
    // SortMergeJoin that exchanged the |E| sym list twice. deg is one row
    // per VERTEX — usually broadcastable — so it broadcasts within the
    // Scale.guarded budget and the stats-blind SMJ stays only for degree
    // tables past it (removed 2 of the 3 |E| Exchanges;
    // plans/r10/q_assortativity_*.txt)
    val degJ = Scale.guarded(deg, degRows)
    val dec = "decimal(38,0)"
    def d(c: Column): Column = c.cast(dec)
    val zero = lit(0).cast(dec)
    // exact integer moments of the degree table (see scaladoc identity)
    val moments = deg.agg(
      coalesce(sum(d(col("d"))), zero).as("__n"),
      coalesce(sum(d(col("d")) * d(col("d"))), zero).as("__s1"),
      coalesce(sum(d(col("d")) * d(col("d")) * d(col("d"))), zero).as("__s2"))
    // Σxy = Σ_v d_v·S(v), S(v) = Σ of neighbor degrees — the one |E| join
    val sxy = sym
      .join(degJ.select(col("k").as("dst"), col("d").as("dy")), "dst")
      .groupBy(col("src").as("k")).agg(sum(d(col("dy"))).as("__sv"))
      .join(degJ, "k")
      .agg(coalesce(sum(d(col("d")) * col("__sv")), zero).as("__sxy"))
    moments.crossJoin(sxy)
      .select((col("__n") / 2).cast("long").as("n_edges"),
        (col("__n") * col("__sxy") - col("__s1") * col("__s1")).as("__num"),
        (col("__n") * col("__s2") - col("__s1") * col("__s1")).as("__d1"),
        (col("__n") * col("__s2") - col("__s1") * col("__s1")).as("__d2"))
      .select(col("n_edges"),
        when(col("__d1") > 0 && col("__d2") > 0,
          col("__num").cast("double") /
            (sqrt(col("__d1").cast("double")) * sqrt(col("__d2").cast("double"))))
          .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /** RICH-CLUB COEFFICIENT (Zhou & Mondragón 2004) at each degree threshold
    * k: among the N_k vertices of degree > k, the realized fraction of the
    * C(N_k, 2) possible edges — integer basis points, φ_bp =
    * (2·E_k·10000) div (N_k·(N_k−1)); thresholds with fewer than 2 members
    * report 0. Hub-to-hub interconnection, the structural complement of
    * [[degreeAssortativity]]'s correlation view.
    *
    * Scale shape: one symmetrize+distinct, one degree agg, two keyed degree
    * join-backs onto the canonical edge list, then ONE pass over vertices
    * and edges against the BROADCAST threshold list (|ks| rows) — no
    * per-threshold jobs, no pair enumeration. */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty)
    val spark = edges.sparkSession
    import spark.implicits._
    // raw checkpointed for the same both-branches reason as
    // degreeAssortativity: the caller's edge derivation must not run once
    // per symmetrize branch
    val raw = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(false)
    val sym = raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false)
    // deg is deliberately NOT checkpointed or broadcast (r10 MEASURED
    // rejection): its three references live in ONE plan, where Spark's
    // ReusedExchange already computes the agg once — a probe + guarded
    // broadcast re-read 2.2 s vs 1.5 s warm (jobs 7 -> 10), unlike the
    // degreeAssortativity S-join whose consumers span separate actions
    val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val ksDf = ks.distinct.sorted.toDF("k")
    val nk = deg.crossJoin(broadcast(ksDf)).where(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val canon = sym.where(col("src") < col("dst"))
      .join(deg.select(col("v").as("src"), col("d").as("dx")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("dy")), "dst")
      .select(least(col("dx"), col("dy")).as("m"))
    val ek = canon.crossJoin(broadcast(ksDf)).where(col("m") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    ksDf.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_bp",
        when(col("n_nodes") < 2, lit(0L))
          .otherwise(expr("(n_edges * 2 * 10000) div (n_nodes * (n_nodes - 1))")))
  }

  /** Community detection via label propagation. */
  def labelPropagation(vertices: DataFrame, edges: DataFrame, iters: Int = 10)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    org.apache.spark.graphx.lib.LabelPropagation
      .run(buildGraph(vertices, edges), iters).vertices.toDF("id", "community")
  }

  /** DETERMINISTIC synchronous label propagation (fermor/gremlin community
    * recipe, made engine-portable): every vertex starts labeled with its own
    * id; each round, all vertices SIMULTANEOUSLY adopt the most frequent
    * label among their in-neighbors (ties → smallest label; no neighbors →
    * keep the current label). Unlike GraphX's LPA (whose hash-map tie-break
    * is an iteration-order accident), every round here is a pure function of
    * the previous labeling, so a fixed `iters` yields one exact answer that
    * a SQL oracle can replay round by round (q_label_prop unrolls it as
    * chained CTEs in DuckDB).
    *
    * Scale shape: per round, one (dst,label) count aggregation, one argmax
    * window keyed by dst, one label join-back — all shuffles keyed by vertex
    * id, per-round cost linear in |E|. Labels are checkpointed each round so
    * the plan doesn't nest `iters` deep. */
  def labelPropagationSync(vertices: DataFrame, edges: DataFrame, iters: Int,
      localMaxEdges: Long = 2000000L)(
      implicit spark: SparkSession): DataFrame = {
    val idc = vertices.columns.head
    // guarded LOCAL replay of the exact synchronous rounds (the hits/ppr
    // convention): each round is a pure integer argmax — count in-neighbor
    // labels, max count then smallest label — so the replay is
    // bit-identical to the distributed rounds; parity-spec'd with the
    // guard forced off. Duplicate vertex ids fall back (bag labels).
    LocalGraph.collect(edges.select(col("src").cast("long"), col("dst").cast("long")),
        localMaxEdges, vertices.select(col(idc).cast("long")) -> localMaxEdges) match {
      case Some((g, Seq(ids))) if ids.length == ids.distinct.length =>
        import spark.implicits._
        // only edges between two vertices count
        val isV = new Array[Boolean](g.n)
        val vs = ids.map(g.index)
        vs.foreach(isV(_) = true)
        var lbl = g.ids.clone()
        val buf = new Array[Long]((0 until g.n).map(g.in.degree).maxOption.getOrElse(0))
        for (_ <- 1 to iters) {
          val next = lbl.clone()
          vs.foreach { d =>
            var c = 0
            g.in.foreach(d)(s => if (isV(s)) { buf(c) = lbl(s); c += 1 })
            // sorted, the most frequent label is the longest run, and the
            // first longest run holds the smallest such label
            java.util.Arrays.sort(buf, 0, c)
            var j = 0
            var bestN = 0
            while (j < c) {
              var k = j
              while (k < c && buf(k) == buf(j)) k += 1
              if (k - j > bestN) { next(d) = buf(j); bestN = k - j }
              j = k
            }
          }
          lbl = next
        }
        return ids.toSeq.map(i => (i, lbl(g.index(i)))).toDF("id", "community")
      case _ => ()
    }
    // EAGER per-round checkpoints (the Descend rule): round k feeds round
    // k+1, so a lazy checkpoint would leave the final action to recompute a
    // plan nested `iters` deep.
    var labels = vertices.select(col(idc).cast("long").as("id"))
      .withColumn("lbl", col("id")).localCheckpoint(true)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val cnt = e.join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id"), col("lbl")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("n").desc, col("lbl").asc)
      val best = cnt.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("id"), col("lbl").as("nl"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** HITS hubs & authorities (the pagerank-era link-analysis companion),
    * INTEGER-EXACT: the standard per-iteration L2 normalization replaces
    * engine-portability with float drift, so we run the UN-normalized
    * mutual recurrence (a ← Aᵀh, h ← Aa) for a fixed iteration count in
    * 64-bit integers — rankings and ratios are identical to the normalized
    * fixpoint direction for the same iteration count, and a SQL oracle can
    * replay every round exactly (q_hits unrolls them as chained CTEs).
    * Values grow ~(d_in·d_out)^iters: callers bound iters so counts stay
    * in BIGINT (3 iterations on degree≲10³ graphs is ≲10¹⁸ — checked
    * against Long.MaxValue would overflow-error under ANSI, not wrap).
    *
    * Scale: per round two edge-keyed aggregations (sum over in/out
    * neighbors) + a join back — |E|-linear keyed shuffles, checkpointed
    * per round like the LPA/walk loops. */
  def hits(vertices: DataFrame, edges: DataFrame, iters: Int,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val idc = vertices.columns.head
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(eager = false)
    // guarded LOCAL replay of the exact Long recurrence (duplicate edges
    // kept — they multiply contributions in BOTH forms; contributions
    // count iff both endpoints are in `vertices`, mirroring the keyed-join
    // + left-join semantics; addExact mirrors ANSI error-on-overflow).
    // Callers pass distinct vertex ids (both forms assume it).
    LocalGraph.collect(e, localMaxEdges,
        vertices.select(col(idc).cast("long")) -> localMaxEdges) match {
      case Some((g, Seq(vIds))) =>
        val isV = new Array[Boolean](g.n)
        vIds.foreach(v => isV(g.index(v)) = true)
        def eachEdge(f: (Int, Int) => Unit): Unit = (0 until g.n).foreach { s =>
          if (isV(s)) g.out.foreach(s)(d => if (isV(d)) f(s, d))
        }
        var hub = Array.fill(g.n)(1L)
        var auth = Array.fill(g.n)(1L)
        for (_ <- 1 to iters) {
          val na = new Array[Long](g.n)
          eachEdge((s, d) => na(d) = Math.addExact(na(d), hub(s)))
          auth = na
          val nh = new Array[Long](g.n)
          eachEdge((s, d) => nh(s) = Math.addExact(nh(s), auth(d)))
          hub = nh
        }
        return vIds.toSeq.map { v => val i = g.index(v); (v, hub(i), auth(i)) }
          .toDF("id", "hub", "auth")
      case _ => ()
    }
    var scores = vertices.select(col(idc).cast("long").as("id"))
      .withColumn("hub", lit(1L)).withColumn("auth", lit(1L)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val auth = e.join(scores.select(col("id").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("na"))
      val s1 = scores.join(auth, Seq("id"), "left")
        .select(col("id"), col("hub"), coalesce(col("na"), lit(0L)).as("auth"))
      val hub = e.join(s1.select(col("id").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("nh"))
      scores = s1.join(hub, Seq("id"), "left")
        .select(col("id"), coalesce(col("nh"), lit(0L)).as("hub"), col("auth"))
        .localCheckpoint(true)
    }
    scores
  }

  /** Personalized PageRank (random-walk-with-restart) — the seed-relevance
    * score behind graph-based data selection ("rank the corpus by proximity
    * to a trusted seed set"), INTEGER-EXACT like [[hits]]: ranks live in
    * fixed-point units of `scale`, each round moves
    * `(rank · alphaBp) div (10000 · outdeg)` along every out-edge (floor
    * division — deterministic mass leakage instead of float drift) and
    * re-injects `(scale · (10000 − alphaBp)) div 10000` at every seed, so a
    * SQL oracle replays every round verbatim (q_ppr unrolls them). Mass at
    * dangling vertices retires, the standard dropped-dangling variant.
    *
    * Scale: the rank frontier is SPARSE — only vertices already reached
    * carry rank, so round k touches the ≤k-hop out-neighborhood of the
    * seeds, not the graph. Per round: one keyed join rank⋈edges⋈outdeg,
    * one dst-keyed sum, one full-outer merge with the restart vector;
    * checkpointed per round like the hits/LPA/walk loops. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      alphaBp: Long = 8500L, scale: Long = 1000000000000L,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1 && alphaBp >= 0 && alphaBp <= 10000 && scale > 0)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(eager = false)
    // guarded LOCAL replay of the exact fixed-point rounds (the hits/
    // taggedBfs convention): every quantity is a Long recurrence — floor
    // division, order-free integer sums (addExact mirrors ANSI
    // error-on-overflow) — so the replay is bit-identical, parity-spec'd.
    // Duplicate seed rows fall back to the distributed path: the full_outer
    // merge there has per-row bag semantics a keyed map can't mirror.
    LocalGraph.collect(e, localMaxEdges,
        seeds.select(col(seeds.columns.head).cast("long")) -> localMaxEdges) match {
      case Some((g, Seq(seedArr))) if seedArr.length == seedArr.distinct.length =>
        val spark = edges.sparkSession
        import spark.implicits._
        val r0 = scale * (10000L - alphaBp) / 10000L
        val seedIx = seedArr.map(g.index)
        // rank(v) is defined iff has(v): the seeds and every vertex an edge
        // from a ranked vertex reaches
        var rank = new Array[Long](g.n)
        var has = new Array[Boolean](g.n)
        seedIx.foreach { i => rank(i) = scale; has(i) = true }
        for (_ <- 1 to iters) {
          val in = new Array[Long](g.n)
          val reached = new Array[Boolean](g.n)
          (0 until g.n).foreach { s =>
            if (has(s)) g.out.foreach(s) { d =>
              // multiplyExact mirrors the distributed column expression,
              // which runs under Spark 4's default ANSI mode and errors
              // loudly on overflow — the replay must never wrap silently
              // where the distributed rounds would have raised
              val m = Math.multiplyExact(rank(s), alphaBp) /
                Math.multiplyExact(10000L, g.out.degree(s).toLong)
              in(d) = Math.addExact(in(d), m)
              reached(d) = true
            }
          }
          seedIx.foreach { i => in(i) = Math.addExact(r0, in(i)); reached(i) = true }
          rank = in
          has = reached
        }
        return g.ids.indices.filter(has).map(i => (g.ids(i), rank(i))).toDF("id", "rank")
      case _ => ()
    }
    val deg = e.groupBy("src").agg(count(lit(1)).as("__d"))
    val idc = seeds.columns.head
    val restart = seeds.select(col(idc).cast("long").as("id"))
      .withColumn("__r0", lit(scale * (10000L - alphaBp) / 10000L))
      .localCheckpoint(eager = false)
    var rank = restart.select(col("id"), lit(scale).as("rank")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = e.join(rank.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), expr(s"(rank * ${alphaBp}L) div (10000L * __d)").as("__m"))
        .groupBy("id").agg(sum("__m").as("__in"))
      rank = restart.join(contrib, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("__r0"), lit(0L)) + coalesce(col("__in"), lit(0L))).as("rank"))
        .localCheckpoint(true)
    }
    rank
  }

  /** Deterministic "random" walks — DeepWalk/node2vec-style corpus
    * generation for graph-embedding training, made engine-portable: from
    * each start vertex, walk `steps` hops; at each step the walker at v
    * moves to the out-neighbor u minimizing `md5(walker:step:u)` (then u
    * itself as the total-order tie-break). The choice is hash-uniform over
    * the neighbors yet a pure fact of (graph, walker, step) — runs,
    * partitionings, and engines agree, so a SQL oracle replays the walk
    * with the same unrolled argmin (q_walks). Walkers at a sink stop
    * (their walk is shorter, the DeepWalk convention). Returns
    * `(walker, step, v)` with step 0 = the start vertex.
    *
    * Scale: per step, one join of the walker frontier against the edge
    * table (keyed by current vertex) + one walker-keyed argmin window —
    * frontier-size work per round, checkpointed per step. */
  def deterministicWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(steps >= 0)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(eager = false)
    // guarded LOCAL replay (the hits/ppr convention): each hop is a pure
    // argmin over (md5 hex string, dst) — JVM MessageDigest and Spark's
    // md5() agree bit-for-bit on the same UTF-8 bytes, and 32-char hex
    // compares identically as a Java String and a UTF8String — so the
    // replay is bit-identical; parity-spec'd with the guard forced off.
    // Duplicate walker rows fall back (bag-of-walkers semantics).
    LocalGraph.collect(e, localMaxEdges,
        starts.select(col(starts.columns.head).cast("long")) -> localMaxEdges) match {
      case Some((g, Seq(ws))) if ws.length == ws.distinct.length =>
        val spark = edges.sparkSession
        import spark.implicits._
        val md = java.security.MessageDigest.getInstance("MD5")
        def h(w: Long, s: Int, d: Long): String = {
          val b = md.digest(s"$w:$s:$d".getBytes("UTF-8"))
          b.map("%02x".format(_)).mkString
        }
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
        var curW = ws.toSeq.map(w => (w, g.index(w)))
        curW.foreach { case (w, v) => out += ((w, g.ids(v), 0)) }
        for (s <- 1 to steps) {
          curW = curW.flatMap { case (w, v) =>
            Option.when(g.out.degree(v) > 0)((w,
              (g.out.off(v) until g.out.off(v + 1)).map(g.out.adj).distinct
                .minBy(d => (h(w, s, g.ids(d)), g.ids(d)))))
          }
          curW.foreach { case (w, v) => out += ((w, g.ids(v), s)) }
        }
        return out.toSeq.toDF("walker", "v", "step")
      case _ => ()
    }
    var cur = starts.select(col(starts.columns.head).cast("long").as("walker"))
      .withColumn("v", col("walker")).withColumn("step", lit(0))
      .localCheckpoint(true)
    var out = cur
    for (s <- 1 to steps) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("walker").orderBy(col("__h").asc, col("dst").asc)
      val nxt = cur.join(e, cur("v") === e("src"))
        .withColumn("__h", md5(concat_ws(":", col("walker"), lit(s), col("dst"))))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("walker"), col("dst").as("v"), lit(s).as("step"))
        .localCheckpoint(true)
      out = out.unionByName(nxt)
      cur = nxt
    }
    out
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which every
    * vertex has UNDIRECTED degree >= k, by iterative peeling — each round
    * drops vertices whose degree within the surviving subgraph is < k, until
    * a fixpoint. Returns `(id, deg)` — core members with their within-core
    * degree. Parallel edges and self-loops are collapsed/dropped first
    * (degree = distinct neighbors), matching the standard definition.
    *
    * Convergence is EXACT, not a signature: peeling only ever removes, so
    * round i+1's edge count equals round i's iff no vertex was removed —
    * one count per round, which the loop needs anyway. `maxRounds` is a
    * safety bound (peeling depth is data-dependent but monotone); exceeding
    * it throws rather than returning a plausible non-core.
    *
    * Scale: each round is one keyed degree agg + two semi-joins on the
    * SHRINKING symmetrized edge set — per-round cost tracks surviving
    * edges, never the original graph after early rounds; the rounds run
    * on [[peelRounds]] (one checkpoint-and-count job each). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(k >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    // guarded LOCAL peel (the hash-priority-loop rationale): the k-core is
    // the UNIQUE maximal subgraph of min degree >= k, so any correct peel
    // order yields the identical answer — one linear queue pass replaces
    // per-round scheduling latency below the guard; raw-pair guard skips
    // the symmetrize+distinct shuffle (the dedup happens in `sym`)
    val local = LocalGraph.collect(sym, localMaxEdges / 2)
    if (local.isDefined) {
      val (ids, adj, n) = (local.get.ids, local.get.sym, local.get.n)
      val deg = Array.tabulate(n)(adj.degree)
      val removed = new Array[Boolean](n)
      val queue = scala.collection.mutable.ArrayDeque.from((0 until n).filter(deg(_) < k))
      while (queue.nonEmpty) {
        val i = queue.removeHead()
        if (!removed(i)) {
          removed(i) = true
          adj.foreach(i) { j =>
            if (!removed(j)) { deg(j) -= 1; if (deg(j) == k - 1) queue += j }
          }
        }
      }
      return (0 until n).collect {
        case i if !removed(i) && deg(i) >= k => (ids(i), deg(i).toLong)
      }.toDF("id", "deg")
    }
    val (e, _, converged) = peelRounds(
        sym.unionAll(sym.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
        maxRounds) { (e, _) =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("id")).localCheckpoint(eager = false)
      e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    if (!converged)
      throw new IllegalStateException(s"kCore did not converge within $maxRounds rounds")
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")).where(col("deg") >= k)
  }

  /** CORE NUMBERS (degeneracy decomposition): per-vertex max k such that
    * the vertex survives in the k-core — the whole [[kCore]] family in one
    * pass, and the standard "how deep in the dense part" ordering for
    * graph mining. Two regimes:
    *
    *  - below the guard, the exact Matula–Beck min-degree peel (a linear
    *    bucket queue), the textbook O(E) algorithm — unique answer;
    *  - distributed, the h-index iteration (Lü et al. 2016): h(v) starts
    *    at deg(v); each round h'(v) = H(neighbors' h) = max k such that at
    *    least k neighbors have h ≥ k. h is non-increasing and its fixpoint
    *    IS the core number (locality of coreness); convergence is an EXACT
    *    zero-changes test, never a signature. Per round: one h join onto
    *    the symmetrized edges + one per-vertex descending window + one agg
    *    — all keyed by vertex, cost linear in edges; rounds are
    *    data-dependent: small on dense/clustered graphs, but O(diameter)
    *    on path-like graphs (a low h value propagates one hop per round —
    *    the same deep-chain regime ccAlternating exists for). `maxRounds`
    *    exceeded THROWS rather than returning a plausible non-fixpoint;
    *    raise it (or pre-contract degree-1 chains) for pathological
    *    diameters. Both regimes are parity-spec'd against each other on
    *    randomized graphs. */
  def coreNumbers(edges: DataFrame, maxRounds: Int = 100,
      localMaxEdges: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    import spark.implicits._
    val sym0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val local = LocalGraph.collect(sym0, localMaxEdges / 2)
    if (local.isDefined) {
      val (ids, adj, n) = (local.get.ids, local.get.sym, local.get.n)
      val deg = Array.tabulate(n)(adj.degree)
      val core = new Array[Int](n)
      // Matula–Beck: process vertices in nondecreasing current-degree
      // order via bucket queues; core(v) = running max of its peel degree
      val maxDeg = if (n == 0) 0 else deg.max
      val buckets = Array.fill(maxDeg + 1)(new scala.collection.mutable.ArrayDeque[Int]())
      (0 until n).foreach(i => buckets(deg(i)) += i)
      val removed = new Array[Boolean](n)
      val cur = deg.clone()
      var k = 0
      var b = 0
      while (b <= maxDeg) {
        val q = buckets(b)
        if (q.isEmpty) b += 1
        else {
          val i = q.removeHead()
          if (!removed(i) && cur(i) == b) {
            removed(i) = true
            k = math.max(k, b)
            core(i) = k
            adj.foreach(i) { j =>
              if (!removed(j) && cur(j) > b) {
                cur(j) -= 1
                buckets(cur(j)) += j
                if (cur(j) < b) b = cur(j) // can only drop to b-1
              }
            }
          }
        }
      }
      (0 until n).map(i => (ids(i), core(i).toLong)).toDF("id", "core")
    } else {
      // both lazy: round 1's job materializes them
      val sym = sym0.unionAll(sym0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(eager = false)
      var h = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("h"))
        .localCheckpoint(eager = false)
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < maxRounds) {
        rounds += 1
        val nb = sym.join(h.select(col("id").as("dst"), col("h").as("hu")), "dst")
          .select(col("src").as("id"), col("hu"))
        val w = Window.partitionBy("id").orderBy(col("hu").desc)
        // every vertex of h has a neighbor, so h2 holds the same ids; its
        // `changed` flag is summed by the round's one job
        val (h2, _, Seq(nChanged)) = checkpointed(
          nb.withColumn("rn", row_number().over(w))
            .groupBy("id").agg(max(least(col("rn").cast("long"), col("hu"))).as("h"))
            .join(h.select(col("id"), col("h").as("__old")), "id")
            .select(col("id"), col("h"), (col("h") =!= col("__old")).cast("long").as("changed")),
          sumOf(col("changed")))
        changed = nChanged
        h = h2
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"coreNumbers h-index iteration did not converge within $maxRounds rounds")
      h.select(col("id"), col("h").as("core"))
    }
  }

  /** k-truss decomposition (fixed k): the maximal subgraph in which every
    * edge participates in >= k−2 triangles WITHIN the subgraph — the
    * community-detection sibling of [[kCore]] (a k-truss is a stricter,
    * triangle-cohesive k−1-core). Edges are canonicalized undirected
    * (least/greatest, self-loops and parallels collapsed). Iterative
    * peeling to an EXACT edge-count fixpoint (monotone removal, the kCore
    * argument — never a signature); returns `(id_a, id_b, support)` with
    * the within-truss support.
    *
    * Scale: per-round support is ONE wedge join (e ⋈ adj ⋈ adj, all keyed
    * equi-joins — the triangle-count shape, never cartesian) + one pair
    * agg + one semi-join, all on the SHRINKING edge set; per-vertex wedge
    * work is deg², so pre-capping hubs (e.g. via [[linkPrediction]]'s
    * maxDeg rule on the generating projection) bounds the round cost.
    * The rounds run on [[peelRounds]]. */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 64,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(k >= 3)
    val spark = edges.sparkSession
    import spark.implicits._
    val a = col("src").cast("long"); val b = col("dst").cast("long")
    // LAZY checkpoint BEFORE the guard probe: kTruss inputs are often
    // expensive derived graphs (q_ktruss feeds it a linkPrediction wedge
    // agg), and probe + collect/distinct would otherwise re-evaluate that
    // upstream twice. Lazy (not eager): each partition of raw computes at
    // most once whichever consumer touches it first — eager would force a
    // dedicated full pass UP FRONT, an extra whole-input materialization
    // in the above-guard regime where distinct() is about to scan it anyway
    val raw = edges.select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a") =!= col("b")).localCheckpoint(eager = false)
    // guarded LOCAL support-peel (the kCore rationale): the k-truss is the
    // UNIQUE maximal subgraph in which every edge closes >= k-2 triangles
    // within it, so ANY correct peel order converges to the identical edge
    // set — and each survivor's within-truss support (its triangle count in
    // that unique subgraph) is peel-order-independent too. A single queue
    // pass with incremental support maintenance replaces per-round wedge
    // joins whose sf0.1 cost is pure round-scheduling latency; the
    // distributed loop runs above the guard (parity-spec'd both regimes).
    // Raw-pair guard: counting BEFORE distinct skips that shuffle here.
    val local = LocalGraph.collect(raw, localMaxEdges)
    if (local.isDefined) {
      val (ids, adj, n) = (local.get.ids, local.get.sym, local.get.n)
      def ekey(i: Int, j: Int): Long =
        (math.min(i, j).toLong << 32) | math.max(i, j).toLong
      val eU = new scala.collection.mutable.ArrayBuffer[Int]()
      val eV = new scala.collection.mutable.ArrayBuffer[Int]()
      val eIdx = new scala.collection.mutable.LongMap[Int]()
      var i = 0
      while (i < n) {
        adj.foreach(i) { j =>
          if (i < j) { eIdx(ekey(i, j)) = eU.length; eU += i; eV += j }
        }
        i += 1
      }
      val m = eU.length
      // initial support: per edge, iterate the SMALLER endpoint adjacency
      // with O(1) edge-map membership probes for the other endpoint —
      // O(Σ_e min_deg(e)), the m^1.5-bounded triangle-enumeration shape
      // (a two-pointer merge would pay O(deg_u + deg_v), i.e. hub degree
      // on EVERY incident edge of a star)
      val sup = new Array[Int](m)
      var e = 0
      while (e < m) {
        val u = eU(e); val v = eV(e)
        val (x, y) = if (adj.degree(u) <= adj.degree(v)) (u, v) else (v, u)
        var s = 0
        adj.foreach(x) { w => if (w != y && eIdx.contains(ekey(y, w))) s += 1 }
        sup(e) = s
        e += 1
      }
      val alive = Array.fill(m)(true)
      val queued = new Array[Boolean](m)
      val queue = new scala.collection.mutable.ArrayDeque[Int]()
      e = 0
      while (e < m) {
        if (sup(e) < k - 2) { queued(e) = true; queue += e }
        e += 1
      }
      def drop(t: Int): Unit = {
        sup(t) -= 1
        if (!queued(t) && sup(t) < k - 2) { queued(t) = true; queue += t }
      }
      while (queue.nonEmpty) {
        val t = queue.removeHead()
        alive(t) = false
        val u = eU(t); val v = eV(t)
        val (x, y) = if (adj.degree(u) <= adj.degree(v)) (u, v) else (v, u)
        adj.foreach(x) { w =>
          if (w != y) {
            val e1 = eIdx(ekey(x, w))
            if (alive(e1)) eIdx.get(ekey(y, w)).foreach { e2 =>
              // triangle (t, e1, e2) destroyed exactly once: later removals
              // of e1/e2 see alive(t) == false and skip it
              if (alive(e2)) { drop(e1); drop(e2) }
            }
          }
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      e = 0
      while (e < m) {
        if (alive(e)) {
          val ia = ids(eU(e)); val ib = ids(eV(e))
          out += ((math.min(ia, ib), math.max(ia, ib), sup(e).toLong))
        }
        e += 1
      }
      return out.toSeq.toDF("id_a", "id_b", "support")
    }
    // support(a,b) = wedge enumeration + hash agg, kept over the
    // adjacency-ARRAY + array_intersect alternative after measuring both:
    // the array form shuffles each hub's full neighbor list on every
    // incident edge row and pays a per-row hashset build, timing ~20%
    // SLOWER at sf0.1 (3.3-4.2 s vs 2.8-3.4 warm) — Spark's codegen'd
    // hash aggregate absorbs the wedge stream faster than per-row arrays
    def support(e: DataFrame): DataFrame = {
      val adj = e.select(col("a").as("u"), col("b").as("w"))
        .unionAll(e.select(col("b").as("u"), col("a").as("w")))
      e.join(adj.select(col("u").as("a"), col("w")), "a")
        .join(adj.select(col("u").as("b"), col("w")), Seq("b", "w"))
        .groupBy("a", "b").agg(count(lit(1)).as("s"))
    }
    // carry the last round's materialized support: on a fixpoint the pool
    // is that round's input, so lastSup IS the final edge set's support —
    // reusing it for the output join saves a full extra wedge-join pass
    // (the dominant cost). An empty pool needs none.
    var lastSup: DataFrame = null
    val (cur, rows, converged) = peelRounds(raw.distinct(), maxRounds) { (cur, _) =>
      lastSup = support(cur).localCheckpoint(eager = false)
      cur.join(lastSup.where(col("s") >= k - 2), Seq("a", "b"), "left_semi")
    }
    if (!converged)
      throw new IllegalStateException(s"kTruss did not converge within $maxRounds rounds")
    (if (rows == 0L) cur.withColumn("s", lit(0L)) else cur.join(lastSup, Seq("a", "b")))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("s").as("support"))
  }

  /** Deterministic maximal independent set — Luby's algorithm (Luby 1986)
    * with HASH priorities instead of RNG: in round r, surviving candidate v
    * has priority `md5("r:v") ++ zero-padded v` (the id suffix makes the
    * order total), and joins the set iff its priority is strictly below
    * every surviving neighbor's. Winners and their neighbors leave the
    * pool; candidates that lost all neighbors win the next round
    * unopposed. The result is independent (no edge inside) and maximal
    * (every outsider saw a winning neighbor when it was removed), and a
    * pure fact of (graph, round counter) — reruns, partitionings, and
    * engines agree, so a SQL oracle replays the rounds verbatim
    * (over-unrolling is exact: an empty pool yields empty rounds).
    *
    * Scale: per round one candidate⋈edge join, one src-keyed min, one
    * anti-join + two semi-joins — all on the candidate-induced subgraph,
    * which SHRINKS every round (the globally-minimal priority always
    * wins, and hash-uniform priorities remove a constant expected edge
    * fraction per round ⇒ O(log n) expected rounds). The rounds run on
    * [[peelRounds]]. */
  def maximalIndependentSet(edges: DataFrame, maxRounds: Int = 64,
      localMaxEdges: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    // guarded LOCAL replay of the identical hash-priority rounds (the MST
    // Kruskal-finish rationale): at local/test scale the loop's cost is
    // pure per-round scheduling latency; the priorities are engine-free
    // strings, so the driver replay is bit-identical to the distributed
    // loop (parity-spec'd) — above the guard the distributed path runs.
    // The guard counts RAW pairs (>= the distinct symmetrized edge count /
    // 2), so qualifying inputs skip the symmetrize+distinct shuffle too.
    val local = LocalGraph.collect(sym0, localMaxEdges / 2)
    if (local.isDefined) {
      val (ids, adj, n) = (local.get.ids, local.get.sym, local.get.n)
      val alive = Array.fill(n)(true)
      var nAlive = n
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var r = 0
      while (nAlive > 0) {
        r += 1
        if (r > maxRounds)
          throw new IllegalStateException(s"MIS did not drain within $maxRounds rounds")
        val p = new Array[String](n)
        val round = r
        java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
          if (alive(i)) p(i) = md5hex(s"$round:${ids(i)}") + pad20(ids(i))
        }
        val win = (0 until n).filter { i =>
          alive(i) && adj.forall(i)(j => !alive(j) || p(i) < p(j))
        }
        win.foreach { i =>
          out += ids(i)
          if (alive(i)) { alive(i) = false; nAlive -= 1 }
          adj.foreach(i) { j => if (alive(j)) { alive(j) = false; nAlive -= 1 } }
        }
      }
      return out.toSeq.toDF("id")
    }
    var e = sym0.unionAll(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(eager = false)
    var mis = e.select(col("src").as("id")).where(lit(false))
    val (_, left, _) = peelRounds(e.select(col("src").as("id")).distinct(), maxRounds) {
      (cand, r) =>
        // the edge set follows the candidate pool (round 1's pool is every
        // endpoint of e already)
        if (r > 1) e = e.join(cand.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(cand.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst").localCheckpoint(eager = false)
        val p = cand.select(col("id"),
          concat(md5(concat(lit(s"$r:"), col("id").cast("string"))),
            lpad(col("id").cast("string"), 20, "0")).as("p"))
        val minNbr = e.join(p.select(col("id").as("dst"), col("p").as("pd")), "dst")
          .groupBy("src").agg(min("pd").as("mn"))
        val win = p.join(minNbr.select(col("src").as("id"), col("mn")), Seq("id"), "left")
          .where(col("mn").isNull || col("p") < col("mn"))
          .select("id").localCheckpoint(eager = false)
        mis = mis.unionByName(win)
        val removed = win.unionAll(
            e.join(win.select(col("id").as("src")), Seq("src"), "left_semi")
              .select(col("dst").as("id")))
          .distinct()
        cand.join(removed, Seq("id"), "left_anti")
    }
    if (left > 0)
      throw new IllegalStateException(s"MIS did not drain within $maxRounds rounds")
    mis
  }

  /** Link prediction by shared neighbors — TWO-MODE formulation: candidate
    * pairs are `src` vertices, similarity counted over shared `dst`
    * neighbors (for a one-mode undirected graph, pass the symmetrized edge
    * list and this degenerates to the classic definition). Returns
    * non-adjacent pairs sharing >= `minCommon` neighbors with the
    * common-neighbor count and the INTEGER-EXACT resource-allocation index
    * Σ_z `scale div deg(z)` (Zhou–Lü–Zhang 2009 — RA's 1/deg stays in
    * integers where Adamic–Adar's 1/log deg would need floats).
    *
    * Scale: wedge enumeration is the triangle-count shape — per-center
    * work is deg², so centers above `maxDeg` are EXCLUDED (the standard
    * link-prediction hub rule: a neighbor shared with everyone carries no
    * signal, and the cap bounds the wedge explosion at `maxDeg²` per
    * center). Everything is keyed joins + one (id_a,id_b) agg — the
    * candidate join never goes cartesian. */
  def linkPrediction(edges: DataFrame, minCommon: Long, maxDeg: Long,
      scale: Long = 1000000L): DataFrame = {
    require(minCommon >= 1 && maxDeg >= 2)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false) // scanned 4×: centers, wedges, degrees, adjacency
    val ctr = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .where(col("d") >= 2 && col("d") <= maxDeg)
    val ew = e.join(ctr, "dst")
    val pairs = ew.select(col("dst"), col("src").as("id_a"), col("d"))
      .join(ew.select(col("dst"), col("src").as("id_b")), "dst")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("cn"), sum(expr(s"$scale div d")).as("ra"))
    // neighborhood Jaccard in basis points rides along for free: the pair's
    // cn plus each endpoint's FULL degree (hubs included — the cap governs
    // only wedge centers, not the denominator)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
    pairs.join(e.select(col("src").as("id_a"), col("dst").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .where(col("cn") >= minCommon)
      .join(deg.select(col("id").as("id_a"), col("dg").as("__da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("dg").as("__db")), "id_b")
      .select(col("id_a"), col("id_b"), col("cn"), col("ra"),
        expr("(10000 * cn) div (__da + __db - cn)").as("jaccard_bp"))
  }

  /** Modularity of a community partition (Newman–Girvan Q), INTEGER-EXACT
    * in parts-per-million: per community c,
    *
    *   q_ppm(c) = (10⁶·I_c) div M − (10⁶·d_c²) div M²
    *
    * where M = |symmetrized edge list| (= 2m), I_c = directed intra-pairs,
    * d_c = community degree sum — Q·10⁶ ≈ Σ_c q_ppm(c), every term floor
    * division, so both engines replay it bit-identically (the evaluation
    * metric for [[labelPropagationSync]] / [[connectedComponents]]
    * partitions). Returns (community, internal, degree_sum, q_ppm).
    *
    * Scale: two keyed joins (edge ends → communities) + two community aggs
    * + one scalar count — no pair enumeration anywhere. Long arithmetic
    * bounds: d_c²·10⁶ needs d_c < 3·10⁶; past that, pre-aggregate per
    * community and run the square on DECIMAL (noted, not silently wrong —
    * ANSI mode errors on overflow rather than wrapping). */
  def modularity(edges: DataFrame, communities: DataFrame,
      scale: Long = 1000000L): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    // M, and the symmetric edge set materialized for I_c, d_c: one job
    val (sym, m, _) =
      checkpointed(e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // same long cast as the populated path, so the empty-graph schema
    // unions/encodes identically to the normal one
    if (m == 0L) return communities.select(col("community").cast("long").as("community"))
      .where(lit(false))
      .withColumn("internal", lit(0L)).withColumn("degree_sum", lit(0L))
      .withColumn("q_ppm", lit(0L))
    val comm = communities.select(col("id").cast("long").as("id"),
      col("community").cast("long").as("community"))
    val j = sym.join(comm.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(comm.select(col("id").as("dst"), col("community").as("cb")), "dst")
    val d = j.groupBy(col("ca").as("community")).agg(
      count(lit(1)).as("degree_sum"),
      sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("internal"))
    d.select(col("community"), col("internal"), col("degree_sum"),
      expr(s"($scale * internal) div ${m}L - ($scale * degree_sum * degree_sum) div ${m * m}L")
        .as("q_ppm"))
  }

  /** Greedy Kruskal accept sweep shared by [[boruvkaForest]]'s two guarded
    * finishes: tuples (w, src, dst, compA, compB) arrive in (w, src, dst)
    * order; a path-halving min-root union-find over the component labels
    * accepts each component-crossing edge. Returns kept (src, dst, w). */
  private def kruskalAccept(it: Iterator[(Long, Long, Long, Long, Long)])
      : Seq[(Long, Long, Long)] = {
    val uf = new MinUnionFind
    val keep = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    it.foreach { case (w, s, d, ca, cb) =>
      if (uf.union(ca, cb)) keep += ((s, d, w))
    }
    keep.toSeq
  }

  /** Borůvka minimum spanning forest — the distributed MST algorithm (each
    * component picks its cheapest crossing edge; chosen edges contract;
    * components at least HALVE per round ⇒ ≤ ⌈log₂ n⌉ rounds regardless of
    * graph shape — the reason Borůvka, not Prim/Kruskal, is the scale
    * formulation: no priority queue, no global edge sort). Edges are
    * canonicalized (least/greatest, parallels collapsed to their min
    * weight); the edge order (w, src, dst) is a STRICT total order, so the
    * forest is the UNIQUE minimum spanning forest under it — a pure fact
    * of the graph that reruns, partitionings, and engines agree on (the
    * oracle replays the same rounds; chosen edges depend only on the
    * component PARTITION, not on label values, so any min-id labeling
    * agrees). Returns the forest as `(src, dst, w)`.
    *
    * Scale: per round ONE crossing-edge join (two keyed probes of the
    * component map) + one per-component window min + a component-LEVEL
    * contraction: [[ccAlternating]] runs on the chosen-edge graph whose
    * vertex set is the current components — never the full graph — and
    * shrinks geometrically. Each round's crossing set ends in one
    * [[Scale.checkpointed]] job. Once it fits `localMaxEdges`, a guarded KRUSKAL
    * finish (sorted partition-at-a-time stream + driver union-find over
    * component ids) completes the identical unique forest in one pass —
    * the geometric shrink lands every run's TAIL there, where per-round
    * scheduling latency would otherwise dominate. */
  def boruvkaForest(edges: DataFrame, maxRounds: Int = 40,
      localMaxEdges: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    import spark.implicits._
    val a = col("src").cast("long"); val b = col("dst").cast("long")
    val canonRaw = edges.select(least(a, b).as("src"), greatest(a, b).as("dst"),
        col("w").cast("long").as("w"))
      .where(col("src") =!= col("dst"))
    // fully-local guard (the MIS raw-pair rationale): below it, the
    // parallel-collapse groupBy SHUFFLE never runs either — collect the
    // raw weighted pairs, take min-w per pair driver-side, and Kruskal
    // the whole unique forest in one pass
    val rawRows = collectAtMost(canonRaw, localMaxEdges)
      .filter(!_.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
    if (rawRows.isDefined) {
      val best = scala.collection.mutable.HashMap[(Long, Long), Long]()
      rawRows.get.foreach { r =>
        val (s, d, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val k = (s, d)
        if (best.get(k).forall(w < _)) best(k) = w
      }
      val sorted = best.iterator.map { case ((s, d), w) => (w, s, d) }.toArray
      java.util.Arrays.sort(sorted, implicitly[Ordering[(Long, Long, Long)]])
      return kruskalAccept(sorted.iterator.map { case (w, s, d) => (w, s, d, s, d) })
        .toDF("src", "dst", "w")
    }
    // comp stays null until the first contraction: round 1's component map
    // is the IDENTITY (every edge crosses, so e's count sizes round 1)
    val (e, ne, _) = checkpointed(canonRaw.groupBy("src", "dst").agg(min("w").as("w")))
    var comp: DataFrame = null
    // a union of checkpointed `chosen` frames: no re-checkpoint needed
    var forest = e.where(lit(false))
    var done = false
    var r = 0
    while (!done) {
      r += 1
      if (r > maxRounds)
        throw new IllegalStateException(s"boruvkaForest did not converge within $maxRounds rounds")
      val (x, nx, _) =
        if (comp == null)
          (e.select(col("src"), col("dst"), col("w"), col("src").as("ca"), col("dst").as("cb")),
            ne, IndexedSeq.empty)
        else checkpointed(e.join(comp.select(col("id").as("src"), col("comp").as("ca")), "src")
          .join(comp.select(col("id").as("dst"), col("comp").as("cb")), "dst")
          .where(col("ca") =!= col("cb")))
      if (nx == 0) done = true
      else if (nx <= localMaxEdges) {
        // Guarded KRUSKAL finish: the forest is UNIQUE under the
        // (w, src, dst) total order, so completing it with a different MST
        // algorithm yields the identical edge set. The crossing set
        // shrinks geometrically, so at any scale the TAIL rounds land here
        // — replacing per-round scheduling latency (the dominant cost once
        // the data is small) with one guarded sorted stream. Partition-at-
        // a-time via toLocalIterator (the collectReachable rule): driver
        // holds only the union-find map over component ids + kept edges.
        val it = x.select(col("w"), col("src"), col("dst"), col("ca"), col("cb"))
          .sort("w", "src", "dst")
          .as[(Long, Long, Long, Long, Long)].toLocalIterator()
        forest = forest.unionByName(
          kruskalAccept(new Iterator[(Long, Long, Long, Long, Long)] {
            def hasNext = it.hasNext
            def next() = it.next()
          }).toDF("src", "dst", "w"))
        done = true
      } else {
        val cand = x.select(col("ca").as("c"), col("src"), col("dst"), col("w"))
          .unionAll(x.select(col("cb").as("c"), col("src"), col("dst"), col("w")))
        val chosen = cand.withColumn("rn", row_number().over(
            Window.partitionBy("c").orderBy(col("w"), col("src"), col("dst"))))
          .where(col("rn") === 1)
          .select("src", "dst", "w").distinct().localCheckpoint(true)
        forest = forest.unionByName(chosen)
        // contraction at COMPONENT level: CC over the chosen edges viewed as
        // (old comp → old comp) links; min-id roots keep labels deterministic
        val cg = x.join(chosen, Seq("src", "dst", "w"), "left_semi")
          .select(col("ca").as("src"), col("cb").as("dst"))
        val m = ccAlternating(cg)
        val base = if (comp != null) comp
          else e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
            .distinct().select(col("id"), col("id").as("comp"))
        comp = base.join(m.select(col("id").as("comp"), col("component")), Seq("comp"), "left")
          .select(col("id"), coalesce(col("component"), col("comp")).as("comp"))
          .localCheckpoint(true)
      }
    }
    forest
  }

  /** Bipartite butterfly (2×2 biclique = 4-cycle) census — the bipartite
    * analogue of the triangle count (Wang et al., "Butterfly counting in
    * bipartite networks"): wedges = Σ_r C(deg r, 2) (paths of length 2
    * through a right vertex), butterflies = Σ_{left pairs} C(cn, 2) where
    * cn = common right-neighbors of the pair. Returns one row
    * `(wedges, butterflies)`, both BIGINT-exact (n·(n−1) is even, so the
    * `div 2` halving is exact).
    *
    * Scale: the wedge join is the triangle-count shape — per-right-vertex
    * work is deg², so right hubs above `maxDeg` are EXCLUDED (the same
    * signal-free-hub rule as [[linkPrediction]]; a right vertex connected
    * to everything witnesses no discriminative 4-cycle and would alone
    * contribute deg² join rows). All keyed joins + one global agg. */
  def butterflyCount(edges: DataFrame, maxDeg: Long): DataFrame = {
    require(maxDeg >= 2)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
      .localCheckpoint(eager = false) // scanned twice: degrees + both wedge sides
    val ctr = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .where(col("d") >= 2 && col("d") <= maxDeg)
    val ew = e.join(ctr, "dst")
    val pairs = ew.select(col("dst"), col("src").as("id_a"))
      .join(ew.select(col("dst"), col("src").as("id_b")), "dst")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("cn"))
    val w = ctr.agg(sum(expr("(d * (d - 1)) div 2")).as("wedges"))
    val bf = pairs.agg(sum(expr("(cn * (cn - 1)) div 2")).as("butterflies"))
    w.crossJoin(bf).select(
      coalesce(col("wedges"), lit(0L)).as("wedges"),
      coalesce(col("butterflies"), lit(0L)).as("butterflies"))
  }

  /** Jones–Plassmann greedy graph coloring with HASH priorities (the
    * distributed coloring workhorse — Jones & Plassmann 1993): in each
    * round, an uncolored vertex whose priority `md5(id) ++ zero-padded id`
    * (a strict total order) is the max among its UNCOLORED neighbors takes
    * the smallest color (0-based) absent from its already-colored
    * neighborhood. Every round colors at least the globally-max uncolored
    * vertex, and hash-uniform priorities color an expected constant
    * fraction per round; colors are bounded by maxDegree+1 (≤ `maxColors`,
    * enforced). Deterministic — a pure fact of the graph, so the oracle
    * replays the rounds verbatim (over-unrolling is exact: once all are
    * colored the winner set is empty).
    *
    * Scale: per round one uncolored⋈edge join + one max-priority agg (the
    * MIS shape), plus a bounded `maxColors`-way candidate explode
    * anti-joined against neighbor colors — all keyed, all on the SHRINKING
    * uncolored set. The rounds run on [[peelRounds]]. */
  def jpColoring(edges: DataFrame, maxColors: Int = 64, maxRounds: Int = 256,
      localMaxEdges: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    def prio(id: Column): Column =
      concat(md5(id.cast("string")), lpad(id.cast("string"), 20, "0"))
    // guarded LOCAL replay of the identical fixed-priority rounds (winners
    // are strict local maxima, so same-round winners are never adjacent and
    // sequential color picks within a round see exactly the pre-round
    // colored set) — bit-identical to the distributed loop, parity-spec'd;
    // raw-pair guard skips the symmetrize+distinct shuffle (the MIS note)
    val local = LocalGraph.collect(sym0, localMaxEdges / 2)
    if (local.isDefined) {
      val (ids, adj, n) = (local.get.ids, local.get.sym, local.get.n)
      (0 until n).map(adj.degree).maxOption.foreach(d =>
        require(d < maxColors,
          s"maxColors=$maxColors <= max degree $d; JP needs maxDegree+1"))
      val p = new Array[String](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        p(i) = md5hex(ids(i).toString) + pad20(ids(i))
      }
      val color = Array.fill(n)(-1)
      var nLeft = n
      var r = 0
      while (nLeft > 0) {
        r += 1
        if (r > maxRounds)
          throw new IllegalStateException(s"jpColoring did not drain within $maxRounds rounds")
        val win = (0 until n).filter { i =>
          color(i) < 0 && adj.forall(i)(j => color(j) >= 0 || p(i) > p(j))
        }
        win.foreach { i =>
          val used = (adj.off(i) until adj.off(i + 1)).map(k => color(adj.adj(k))).toSet
          color(i) = (0 until maxColors).find(c => !used.contains(c)).get
          nLeft -= 1
        }
      }
      return ids.indices.map(i => (ids(i), color(i))).toDF("id", "color")
    }
    val e = sym0.unionAll(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(eager = false)
    // JP needs at most maxDegree+1 colors; check ONCE so a too-small
    // maxColors fails loudly instead of silently dropping saturated vertices.
    // The max rides the degree table's checkpoint job (as -min(-d)); an
    // empty edge set leaves the stat at its identity and skips the check.
    // The table's ids are distinct, so they are the uncolored pool as-is.
    val (deg, _, Seq(negDmax)) =
      checkpointed(e.groupBy("src").agg(count(lit(1)).as("d")), minOf(-col("d")))
    if (negDmax != Long.MaxValue)
      require(-negDmax < maxColors,
        s"maxColors=$maxColors <= max degree ${-negDmax}; JP needs maxDegree+1")
    var colored = e.select(col("src").as("id"), lit(0).as("color")).where(lit(false))
    val (_, left, _) = peelRounds(deg.select(col("src").as("id")), maxRounds) {
      (uncolored, _) =>
        val p = uncolored.select(col("id"), prio(col("id")).as("p"))
        val maxNbr = e.join(p.select(col("id").as("dst"), col("p").as("pd")), "dst")
          .groupBy("src").agg(max("pd").as("mx"))
        val win = p.join(maxNbr.select(col("src").as("id"), col("mx")), Seq("id"), "left")
          .where(col("mx").isNull || col("p") > col("mx"))
          .select("id").localCheckpoint(eager = false)
        // smallest color absent among already-colored neighbors
        val nbrColors = e.join(win.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(colored.select(col("id").as("dst"), col("color")), "dst")
          .select(col("src").as("id"), col("color")).distinct()
        val pick = win.select(col("id"), explode(sequence(lit(0), lit(maxColors - 1))).as("color"))
          .join(nbrColors, Seq("id", "color"), "left_anti")
          .groupBy("id").agg(min("color").as("color"))
        // eager: the pool never reads colored, so a lazy checkpoint would
        // stay uncomputed and chain every round's pick into the output
        colored = colored.unionByName(pick).localCheckpoint(eager = true)
        uncolored.join(win, Seq("id"), "left_anti")
    }
    if (left > 0)
      throw new IllegalStateException(s"jpColoring did not drain within $maxRounds rounds")
    colored
  }

  /** In/out/both degree per vertex (fermor out-edge-count / in-edge-count /
    * both-edge-count, and the gremlin degree-centrality recipe). */
  def degrees(edges: DataFrame, direction: String = "both"): DataFrame = {
    val cols = direction match {
      case "out"  => Seq("src")
      case "in"   => Seq("dst")
      case _      => Seq("src", "dst")
    }
    cols.map(c => edges.select(col(c).as("id")))
      .reduce(_.unionAll(_))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** Topological levels on a DAG (fermor postwalk / reverse-postwalk family):
    * level(v) = length of the longest path from any source to v. Bounded
    * DataFrame fixpoint — maxIter caps the join chain, and is BY CONTRACT a
    * level cap: vertices deeper than maxIter report level <= maxIter+1
    * (callers that know the exact depth pass it to skip the detection
    * round). */
  def topoLevels(vertices: DataFrame, edges: DataFrame, maxIter: Int = 10,
      localMaxEdges: Long = 50000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // parallel edges can't change a max-level fixpoint, and each round
    // dedups its frontier — ONE narrow lazy materialization shared by the
    // guard probe, the local collect, and every distributed round (the
    // kTruss probe rule: a derived edge graph evaluates its upstream once).
    // NO long cast here: the distributed rounds are type-agnostic joins and
    // must stay so (a string id would cast to null — silent corruption);
    // only the local replay needs longs, gated on integral column types.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = false)
    // guarded LOCAL replay (the kCore/CC pattern): the same frontier
    // recurrence — round i's frontier = distinct heads of edges out of
    // round i-1's, level(v) = max round that reached v — run on a collected
    // adjacency; identical semantics INCLUDING the maxIter level cap, so
    // the replay is bit-exact under truncation too (parity-spec'd at
    // guard = 0). The 50k default is a MEASURED rejection of a bigger
    // guard: at sf0.1 (2M edges, depth 4, local[32]) the local path reads
    // 2.7-3.9 s vs 2.7 s distributed — the collect + driver sets + 800k-row
    // re-upload cost more than four well-parallelized rounds — so it fires
    // only on genuinely small DAGs. Null ids fall through to the
    // distributed rounds, which keep the pre-replay semantics for them (a
    // null dst keeps its level row; a null src never matches a join)
    val local =
      if (integralCols(e, "src", "dst") && integralCols(vertices, vertices.columns.head))
        LocalGraph.collect(e.select(col("src").cast("long"), col("dst").cast("long")),
          localMaxEdges,
          vertices.select(col(vertices.columns.head).cast("long")) -> localMaxEdges)
      else None
    if (local.isDefined) {
      val (g, Seq(vs)) = local.get
      val level = Array.fill(g.n)(-1) // -1: no row
      vs.foreach(v => level(g.index(v)) = 0)
      // round r's frontier, deduped by stamping each vertex with the round
      val stamp = new Array[Int](g.n)
      def heads(round: Int, from: Iterator[Int]): Array[Int] = {
        val next = new ArrayBuilder.ofInt
        from.foreach(u => g.out.foreach(u) { v =>
          if (stamp(v) != round) { stamp(v) = round; next += v }
        })
        next.result()
      }
      // round 1 is every edge head; a later round always wins the max
      var frontier = heads(1, Iterator.range(0, g.n))
      frontier.foreach(level(_) = 1)
      var i = 1
      var done = frontier.isEmpty
      while (!done && i < maxIter) {
        val next = heads(i + 1, frontier.iterator)
        if (next.isEmpty) done = true
        else next.foreach(level(_) = i + 1)
        frontier = next
        i += 1
      }
      return g.ids.indices.filter(level(_) >= 0).map(v => (g.ids(v), level(v)))
        .toDF("id", "level")
    }
    // DELTA iteration: round i's frontier is exactly the heads of some
    // length-i path, so the level column is constant per round — each round
    // is a semi-join + distinct on the previous frontier only (no re-join or
    // re-agg of the full vertex set), and round 1 needs no join at all (it
    // is just the distinct edge heads). One global max-merge at the end.
    // Lazy localCheckpoints cut lineage (round i reads round i-1's cache,
    // never recomputes it) WITHOUT forcing a per-round job.
    val init = vertices.select(col(vertices.columns.head).as("id"))
      .withColumn("level", lit(0))
    var frontier = e.select(col("dst").as("id")).dropDuplicates("id")
      .localCheckpoint(eager = false)
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](init)
    // no drain probe is needed under the level cap — a drained frontier
    // contributes empty union branches, so running all maxIter rounds
    // BLIND folds the whole fixpoint into ONE action (no per-round
    // driver round-trip; callers that know the exact depth — the
    // q_topo_level shape — pay zero waste). Measured time-NEUTRAL at
    // sf0.1 local[32] (2.7 s both ways: the semi-join/distinct shuffles
    // dominate there) — the win is the removed per-round job barriers,
    // which cost real latency on a many-executor cluster, and maxIter-1
    // fewer driver actions per call.
    rounds += frontier.withColumn("level", lit(1))
    var i = 1
    while (i < maxIter) {
      frontier = e.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).dropDuplicates("id")
        .localCheckpoint(eager = false)
      rounds += frontier.withColumn("level", lit(i + 1))
      i += 1
    }
    rounds.reduce(_.unionByName(_)).groupBy("id").agg(max(col("level")).as("level"))
  }

  /** Push a value DOWN a DAG (fermor prewalk-reduce: accumulate along the
    * walk from the roots): each hop joins the current assignment through an
    * edge label, so a root attribute (e.g. a region id) reaches every
    * descendant. The mirror of [[rollup]]. */
  def pushDown(g: PropertyGraph, start: DataFrame, valueCol: String, labels: Seq[String]): DataFrame = {
    var cur = start // columns: id, <valueCol>
    labels.foreach { l =>
      // loader-counted small label slices broadcast (|deduped| <= |slice|,
      // so the registered exact count bounds the build); 250k guard here,
      // tighter than the hop default: a ~600k single-threaded dedup build
      // measured WORSE than the SMJ it replaces on the |start|-sized first
      // hop (q_rollup 1.15 -> 1.4 s warm), while the small later hops keep
      // the map-side probe
      val e0 = g.edges.where(col("label") === l).select("src", "dst").dropDuplicates("src", "dst")
      val e = if (g.labelRows(Seq(l)).exists(_ <= 250000L)) broadcast(e0) else e0
      cur = cur.join(e, cur("id") === e("dst"))
        .select(col("src").as("id"), col(valueCol))
    }
    cur.dropDuplicates("id", valueCol)
  }

  /** Roll an aggregate up a DAG level-by-level (fermor postwalk-reduce /
    * reverse-postwalk-reduce as a distributed reduction): here exposed as a
    * path-aggregate: sum `valueCol` of source vertices grouped by the vertex
    * reached after following `labels` hops. */
  def rollup(g: PropertyGraph, start: DataFrame, valueCol: String, labels: Seq[String]): DataFrame = {
    var cur = start // columns: id, <valueCol>; parallel edges collapse per hop
    // NOT aggregated per hop (r11 MEASURED rejection): sum is associative
    // along DAG paths, so a per-hop groupBy(dst).sum is semantically the
    // final agg pushed down — but at bench scale the four added agg
    // exchanges cost more than the row shrink saves (q_rollup 1.15 → 1.91 s
    // warm, taskTime 2.8 → 4.5 s); the flat join chain stands. At true
    // 100 TB the trade reverses only if hop fan-in is huge — revisit with
    // measurements there.
    labels.foreach { l =>
      // same loader-counted broadcast as pushDown (same measured 250k
      // guard): the |start|-sized stream is never exchanged when the hop
      // slice is small, and the one over-guard hop keeps its SMJ
      val e0 = g.edges.where(col("label") === l).select("src", "dst").dropDuplicates("src", "dst")
      val e = if (g.labelRows(Seq(l)).exists(_ <= 250000L)) broadcast(e0) else e0
      cur = cur.join(e, cur("id") === e("src"))
        .select(col("dst").as("id"), col(valueCol))
    }
    cur.groupBy("id").agg(sum(col(valueCol)).as(valueCol))
  }

  /** Edges reachable from `entry`, deduped — the distributed extraction of
    * the entry's flow subgraph: a semi-join BFS over the edge table. Past
    * its collect guard, [[collectReachable]] runs it in front of every
    * driver-side DFS analysis (dominators, loop forest), so what reaches
    * the driver is only that subgraph, not the whole 100 TB edge set. */
  def reachableEdges(entry: Long, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // no upfront dedup of the (possibly huge) edge table: duplicate edges
    // only produce duplicate frontier ids, which each round's
    // dropDuplicates removes; the much smaller OUTPUT is deduped. The
    // narrow projection IS materialized once so the rounds don't re-scan
    // the source plan.
    val e = edges.select("src", "dst").localCheckpoint(eager = false)
    val (levels, converged) = bfsLevels(Seq(entry).toDF("id"), Seq("id"), maxIter) { f =>
      e.join(f.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).dropDuplicates("id")
    }
    if (converged)
      // an edge is in the flow subgraph iff its src is reachable (its dst
      // then is too, by following that very edge)
      e.join(levels.map(_._1).reduce(_.unionByName(_)).select(col("id").as("src")),
          Seq("src"), "left_semi")
        .dropDuplicates("src", "dst")
    else {
      // Deep subgraph (diameter > maxIter): per-hop BFS rounds scale with
      // DEPTH, so switch to the depth-independent path — restrict to the
      // entry's weak component with alternating-star CC (O(log² n) rounds
      // however deep the graph is), guarded-collect that slice, and finish
      // directed reachability with a driver BFS. The weak component bounds
      // the reachable set from above, so the guard contract is unchanged:
      // a component too big to collect fails loudly, it never OOMs.
      val comp = ccAlternating(e)
      val cRow = comp.where(col("id") === entry).select("component").collect()
      val c = if (cRow.isEmpty) entry else cRow.head.getLong(0)
      val members = comp.where(col("component") === c).select(col("id").as("src"))
      val (sub, n, _) =
        checkpointed(e.join(members, Seq("src"), "left_semi").dropDuplicates("src", "dst"))
      // guard matches collectReachable's documented 10M contract; the
      // driver BFS's adjacency is primitive (≈ 16 B/edge = ~160 MB at the
      // guard), and the rows stream partition-at-a-time via
      // toLocalIterator so no full boxed Row array ever materializes
      if (n > 10000000L)
        throw new IllegalStateException(
          s"entry $entry sits in a weak component with $n edges and depth > $maxIter: " +
            "too deep for distributed BFS and too big to collect; restrict the " +
            "subgraph (edgeSubgraph/filter) before the flow analysis")
      import scala.jdk.CollectionConverters._
      val rows = sub.select(col("src").cast("long"), col("dst").cast("long")).toLocalIterator()
      val g = LocalGraph(rows.asScala.map(r => (r.getLong(0), r.getLong(1))), Seq(entry))
      val (reached, _, _) = g.bfs(Seq(g.index(entry)), Int.MaxValue)
      sub.join(reached.toSeq.map(g.ids).toDF("src"), Seq("src"), "left_semi")
    }
  }

  /** Weakly-connected components by the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log² n) rounds regardless of graph
    * DIAMETER. This is the scale path where Pregel min-propagation — one
    * superstep per hop — takes 10⁵ rounds on a 10⁵-deep chain; here each
    * round is one groupBy + one keyed join per star phase. Component id is
    * the component's min vertex id (same contract as
    * [[connectedComponents]]); isolated vertices don't appear. */
  def ccAlternating(edges: DataFrame, maxRounds: Int = 200): DataFrame = {
    def canon(df: DataFrame) = df
      .select(greatest(col("src"), col("dst")).as("hi"), least(col("src"), col("dst")).as("lo"))
      .where(col("hi") =!= col("lo")).dropDuplicates("hi", "lo")
    // cheap multiset signature for the convergence test — the row count and
    // this hash summed by each round's one checkpoint job; hashed into 31-bit
    // space so the sum cannot overflow (n·2³¹ ≪ 2⁶³)
    val hash = sumOf(pmod(xxhash64(col("hi"), col("lo")), lit(2147483647L)))
    var (e, n, Seq(h)) = checkpointed(canon(edges), hash)
    var stable = false
    var r = 0
    while (!stable && r < maxRounds) {
      // large-star: every neighbor v > u re-links to u's minimum neighbor
      // (or u itself) — preserves connectivity, pulls stars flat
      val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = nbrs.join(mins, Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .where(col("hi") =!= col("lo")).dropDuplicates("hi", "lo")
      // small-star: each node's ≤-neighborhood all links to its minimum
      val mins2 = ls.groupBy("hi").agg(min("lo").as("m"))
      val ssPlan = ls.join(mins2, Seq("hi")).where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionAll(mins2.select(col("hi"), col("m").as("lo")))
        .where(col("hi") =!= col("lo")).dropDuplicates("hi", "lo")
      val (ss, n2, Seq(h2)) = checkpointed(ssPlan, hash)
      // signature match is only a fast PRE-check — confirm the fixpoint
      // exactly before stopping. Both sides are deduplicated canonical edge
      // sets with equal counts when the signatures match, so one-sided
      // exceptAll emptiness proves set equality; a signature collision can
      // therefore never terminate the loop on an unconverged forest. Costs
      // one extra job only on rounds whose signatures agree (≈ once, at
      // convergence). Both inputs are localCheckpointed, so exceptAll sees
      // distinct plans (Catalyst rejects except over a re-projection of the
      // same plan).
      stable = n2 == n && h2 == h && ss.exceptAll(e).isEmpty
      e = ss
      n = n2
      h = h2
      r += 1
    }
    // unconverged = wrong components, and the callers compose (Borůvka
    // contracts on this map; SCC's deep-path fallback slices by it) — the
    // loud-failure standard every sibling fixpoint here follows. O(log² n)
    // convergence makes 200 rounds astronomically safe; hitting the bound
    // means something is broken, not slow.
    if (!stable)
      throw new IllegalStateException(
        s"ccAlternating did not converge within $maxRounds rounds")
    // converged star forest: every edge points (member → component min);
    // roots map to themselves.
    e.select(col("hi").as("id"), col("lo").as("component"))
      .unionByName(e.select(col("lo").as("id"), col("lo").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Driver-side collect of the entry's reachable flow subgraph, GUARDED: a
    * loud failure beats an OOM'd driver. The DFS-order analyses this feeds
    * (dominators, numberings, loop forest, intervals, frontiers) are
    * CFG-scale by nature; an entry whose flow subgraph exceeds `maxEdges`
    * is the caller using a compiler analysis on a fact table — fail with
    * the actionable message rather than collapse.
    *
    * An edge set of at most `localMaxEdges` integral non-null pairs is
    * collected whole and walked by [[LocalGraph.bfs]]; past it, the flow subgraph
    * is extracted by [[reachableEdges]] and only it is collected. Either
    * way the result is the distinct pairs whose src the entry reaches. */
  private[graft] def collectReachable(entry: Long, edges: DataFrame,
      maxEdges: Long = 10000000L, localMaxEdges: Long = 50000L): Array[(Long, Long)] = {
    // the array index is an Int, so Int.MaxValue bounds the collect even if
    // a caller raises maxEdges past it — fail loudly, never wrap n.toInt
    val lim = math.min(maxEdges, Int.MaxValue.toLong)
    def checkSize(n: Long): Unit =
      if (n > lim)
        throw new IllegalStateException(
          s"flow subgraph of entry $entry has $n edges > maxEdges=$lim: " +
            "driver-side DFS analyses are CFG-scale; restrict the entry's subgraph " +
            "(edgeSubgraph/filter) or raise maxEdges explicitly")
    // the long casts (here and in the stream below) keep getLong safe for
    // int-typed edge columns
    val local = if (!integralCols(edges, "src", "dst")) None
      else LocalGraph.collect(edges.select(col("src").cast("long"), col("dst").cast("long")),
        localMaxEdges)
    if (local.isDefined) {
      val g = local.get
      val root = g.index(entry)
      val reached = if (root < 0) Array.emptyIntArray else g.bfs(Seq(root), Int.MaxValue)._1
      // out lists are in target order, so a duplicate edge is its neighbor
      val out = reached.flatMap(u => (g.out.off(u) until g.out.off(u + 1))
        .filter(k => k == g.out.off(u) || g.out.adj(k) != g.out.adj(k - 1))
        .map(k => (g.ids(u), g.ids(g.out.adj(k)))))
      checkSize(out.length)
      return out
    }
    // one job sizes the subgraph; the stream below reads its checkpoint
    val (e, n, _) = checkpointed(reachableEdges(entry, edges))
    checkSize(n)
    // stream partition-at-a-time (like the deep-CC fallback): peak driver
    // footprint is the result array (~40 B/edge boxed = ~400 MB at the
    // guard) plus ONE partition's rows — never a second full copy of the
    // edge set the way Dataset.collect's decode path holds
    val out = new Array[(Long, Long)](n.toInt)
    val it = e.select(col("src").cast("long"), col("dst").cast("long")).toLocalIterator()
    var i = 0
    while (it.hasNext) { val r = it.next(); out(i) = (r.getLong(0), r.getLong(1)); i += 1 }
    out
  }

  /** The entry's flow subgraph ([[collectReachable]]) as a driver graph,
    * with the entry a vertex even if it is on no edge. */
  private def flowGraph(entry: Long, edges: DataFrame): LocalGraph =
    LocalGraph(collectReachable(entry, edges).iterator, Seq(entry))

  /** Immediate dominators (fermor algo.clj `immediate-dominators`) via the
    * iterative Cooper–Harvey–Kennedy algorithm on reverse-postorder.
    * Dominance is DFS-order-sequential, so like the reference this runs
    * single-node — on a CFG-scale subgraph extracted distributedly. Returns
    * (id, idom); the entry maps to itself. */
  def immediateDominators(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // parallelize, not toDF-on-local-Seq: a LocalRelation encodes every row
    // single-threaded on the driver, which at millions of CFG blocks cost
    // more than the CHK solve itself (the 10× sweep's whole q_dominators
    // overhead); RDD partitions encode in parallel across the executors
    val g = flowGraph(entry, edges)
    val (rpo, idom) = idomLocal(g, entry)
    val arr = rpo.map(v => (g.ids(v), g.ids(idom(v))))
    spark.sparkContext
      .parallelize(arr.toIndexedSeq, math.min(32, 1 + arr.length / 65536))
      .toDF("id", "idom")
  }

  /** Cooper–Harvey–Kennedy on reverse postorder, over `g`, the entry's
    * reachable subgraph: the reverse postorder (entry first) and the
    * immediate dominator of each of its vertices (the entry's is itself),
    * as dense indices. Every dominator precedes what it dominates in it. */
  private def idomLocal(g: LocalGraph, entry: Long): (Array[Int], Array[Int]) = {
    val rpo = g.dfs(g.index(entry))._2.reverse
    val n = rpo.length
    // CHK runs on rpo positions: a position's dominators sit at smaller ones
    val pos = Array.fill(g.n)(-1)
    var i = 0
    while (i < n) { pos(rpo(i)) = i; i += 1 }
    val idom = Array.fill(n)(-1)
    idom(0) = 0
    def intersect(a: Int, b: Int): Int = {
      var f1 = a; var f2 = b
      while (f1 != f2) {
        while (f1 > f2) f1 = idom(f1)
        while (f2 > f1) f2 = idom(f2)
      }
      f1
    }
    var changed = true
    while (changed) {
      changed = false
      var v = 1
      while (v < n) {
        var ni = -1
        g.in.foreach(rpo(v)) { p =>
          val u = pos(p)
          if (u >= 0 && idom(u) >= 0) ni = if (ni < 0) u else intersect(ni, u)
        }
        if (ni >= 0 && idom(v) != ni) { idom(v) = ni; changed = true }
        v += 1
      }
    }
    val byVertex = Array.fill(g.n)(-1)
    i = 0
    while (i < n) { byVertex(rpo(i)) = rpo(idom(i)); i += 1 }
    (rpo, byVertex)
  }

  /** Depth of each vertex in the dominator tree (fermor `dominator-depth`). */
  def dominatorDepth(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = flowGraph(entry, edges)
    val (rpo, idom) = idomLocal(g, entry)
    // in reverse postorder a vertex's idom comes first: one pass, no chain
    // walk (recursion would blow the JVM stack on a deep linear CFG)
    val depth = new Array[Int](g.n)
    rpo.drop(1).foreach(v => depth(v) = depth(idom(v)) + 1)
    val arr = rpo.map(v => (g.ids(v), depth(v)))
    spark.sparkContext // parallel row encode — see immediateDominators
      .parallelize(arr.toIndexedSeq, math.min(32, 1 + arr.length / 65536))
      .toDF("id", "depth")
  }

  /** Post-order / reverse-post-order DFS numbering from an entry (fermor
    * algo.clj `post-order-numbering` / `reverse-post-order-numbering`).
    * Successor order is sorted by id for determinism. Driver-side like the
    * reference (DFS order is inherently sequential). */
  def postOrderNumbering(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (_, order) = dfsOrders(entry, edges)
    order.toSeq.zipWithIndex.map { case (v, i) => (v, i, order.length - 1 - i) }
      .toDF("id", "post_order", "reverse_post_order")
  }

  /** Shared DFS for [[postOrderNumbering]] and the sequential walk-reduce
    * family: (preorder, postorder) vertex sequences from `entry`, successors
    * id-sorted so every walk order is deterministic. */
  private def dfsOrders(entry: Long, edges: DataFrame): (Array[Long], Array[Long]) = {
    val g = flowGraph(entry, edges)
    val (pre, post) = g.dfs(g.index(entry))
    (pre.map(g.ids), post.map(g.ids))
  }

  private def foldWalk[S](order: Array[Long], state: S, f: (S, Long) => S,
      done: S => Boolean): S = {
    var s = state
    var i = 0
    while (i < order.length && !done(s)) { s = f(s, order(i)); i += 1 }
    s
  }

  /** fermor algo.clj:225 `prewalk-reduce`: fold an arbitrary (possibly
    * non-associative) accumulator over the graph in DFS PREORDER from
    * `entry`. `done` plays the role of Clojure's `reduced` early exit —
    * checked before each step, so a satisfied accumulator stops the walk.
    *
    * This is the literal sequential contract; when `f` IS associative the
    * distributed re-expressions ([[topoLevels]]/[[pushDown]]/[[rollup]])
    * are the forms that survive 100 TB — this API exists for the reference's
    * order-sensitive accumulators, which are CFG-scale by nature (the same
    * driver-side regime as [[postOrderNumbering]], same collect guard). */
  def prewalkReduce[S](entry: Long, edges: DataFrame, state: S,
      done: S => Boolean = (_: S) => false)(f: (S, Long) => S): S =
    foldWalk(dfsOrders(entry, edges)._1, state, f, done)

  /** fermor algo.clj:204 `postwalk-reduce`: fold in DFS POSTORDER (children
    * before parents). See [[prewalkReduce]] for the scale adjudication. */
  def postwalkReduce[S](entry: Long, edges: DataFrame, state: S,
      done: S => Boolean = (_: S) => false)(f: (S, Long) => S): S =
    foldWalk(dfsOrders(entry, edges)._2, state, f, done)

  /** fermor algo.clj:246 `reverse-postwalk-reduce`: fold in reverse
    * postorder (the topological-ish "RPO" order dataflow analyses use). */
  def reversePostwalkReduce[S](entry: Long, edges: DataFrame, state: S,
      done: S => Boolean = (_: S) => false)(f: (S, Long) => S): S =
    foldWalk(dfsOrders(entry, edges)._2.reverse, state, f, done)

  /** Natural-loop forest (fermor algo.clj `loop-tree` / `loop-info` /
    * `intervals`): back edges are edges u→h where h dominates u; each loop is
    * the union of natural loops sharing a header. Returns one row per
    * (member, header) plus the header's nesting depth. */
  def loopForest(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = flowGraph(entry, edges)
    val root = g.index(entry)
    val idom = idomLocal(g, entry)._2
    def dominates(h: Int, v0: Int): Boolean = {
      var v = v0
      while (v != h && v != root) v = idom(v)
      v == h
    }
    // natural loop of back edge u->h: h plus all vertices reaching u without
    // passing through h
    val loops = scala.collection.mutable.HashMap[Int, Set[Int]]().withDefaultValue(Set.empty)
    (0 until g.n).foreach(u => g.out.foreach(u) { h =>
      if (dominates(h, u)) {
        val members = scala.collection.mutable.HashSet(h, u)
        val work = scala.collection.mutable.Stack[Int]()
        if (u != h) work.push(u)
        while (work.nonEmpty)
          g.in.foreach(work.pop()) { p => if (!members(p)) { members += p; work.push(p) } }
        loops(h) = loops(h) ++ members
      }
    })
    val headers = loops.keySet
    def depth(h: Int): Int =
      headers.count(h2 => h2 != h && loops(h2).contains(h))
    loops.toSeq.flatMap { case (h, ms) =>
      val d = depth(h)
      ms.toSeq.map(m => (g.ids(m), g.ids(h), d))
    }.toDF("id", "header", "header_depth")
  }

  /** Betweenness centrality by shortest-path enumeration (the TinkerPop
    * recipe the reference mirrors in gremlin_examples_test.clj): enumerate
    * all simple paths up to `maxDepth` from every vertex via [[graft.graph.Descend]],
    * keep the shortest per (origin, destination) pair, and count how often
    * each vertex appears on them. Exact for diameters <= maxDepth; as the
    * reference notes, "not large graph friendly" — path enumeration is
    * exponential in dense graphs — but every step here is a distributed
    * join/window, so moderate graphs parallelize. */
  def betweennessByEnumeration(g: PropertyGraph, maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paths = graft.graph.Descend
      .run(g, g.vertices.select("id"), Nil, forward = true, maxDepth = maxDepth)
      .select(element_at(col("path"), 1).as("o"), col("id").as("d"),
        col("depth"), col("path"))
    val w = Window.partitionBy("o", "d")
    paths.withColumn("m", min(col("depth")).over(w))
      .where(col("depth") === col("m"))
      .select(explode(col("path")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("betweenness"))
  }

  /** Betweenness centrality via distributed Brandes — the 100 TB form of
    * [[betweennessByEnumeration]] (which is the TinkerPop path-enumeration
    * recipe: exponential in dense graphs). Standard Brandes (2001): for each
    * source s, a level-synchronous BFS computes σ(s,v) = #shortest s→v paths
    * (sum of predecessor σ per level — one keyed agg per level), then a
    * backward sweep accumulates pair dependencies
    * δ(s,v) = Σ_{w: succ on a shortest path} σ(s,v)/σ(s,w) · (1 + δ(s,w)).
    * Betweenness(v) = Σ_{s≠v} δ(s,v) (endpoints excluded). All sources run
    * TOGETHER: rows are (s, v, …), so each level is one join keyed by vertex
    * — the per-source loop of the sequential algorithm becomes row
    * parallelism. `sources` bounds the work (pass a sample for the standard
    * approximation; pass all vertices for exact values). */
  def brandesBetweenness(edges: DataFrame, sources: DataFrame, directed: Boolean = false,
      maxIter: Int = 100)(implicit spark: SparkSession): DataFrame = {
    val e0 = edges.select("src", "dst").dropDuplicates("src", "dst")
    val e = (if (directed) e0
             else e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
               .dropDuplicates("src", "dst"))
      .localCheckpoint(eager = false)
    // forward phase: per-level (s, v, sigma); keep each level, with the row
    // count the driver measured, for the sweep. σ of a level is the sum of
    // its predecessors' σ, one keyed agg per level.
    val (levels, _) = bfsLevels(
        sources.select(col(sources.columns.head).as("s"))
          .withColumn("v", col("s")).withColumn("sigma", lit(1L)),
        Seq("s", "v"), maxIter) { f =>
      f.join(e, f("v") === e("src"))
        .groupBy(col("s"), col("dst").as("v2")).agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("v2").as("v"), col("sigma"))
    }
    // backward sweep, deepest level first: δ at the deepest level is 0.
    // `delta` carries (s, v, sigma, delta) — the σ of level l+1 is needed as
    // the divisor when level l pulls its dependency contributions. Its joins
    // take the driver's broadcast guard ([[Scale.guarded]]) on the level
    // counts: join STRATEGY only — past the guard every join shuffles.
    var delta = levels.last._1.withColumn("delta", lit(0.0)).localCheckpoint(eager = false)
    var deltaRows = levels.last._2
    var acc = delta.select("s", "v", "delta")
    var l = levels.length - 2
    while (l >= 0) {
      val (cur, curRows) = levels(l)
      val curB = guarded(cur, curRows)
      val deltaSel = delta.select(col("s"), col("v").as("w"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val dB = guarded(deltaSel, deltaRows)
      val contrib = curB.join(e, curB("v") === e("src"))
        .select(col("s"), col("v"), col("sigma"), col("dst").as("w"))
        .join(dB, Seq("s", "w"))
        .groupBy("s", "v")
        .agg(sum(col("sigma").cast("double") / col("sw") * (lit(1.0) + col("dw"))).as("delta"))
      val cB = guarded(contrib, curRows)
      val lvlDelta = cur.join(cB, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"), coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(eager = true)
      delta = lvlDelta
      deltaRows = curRows
      acc = acc.unionByName(lvlDelta.select("s", "v", "delta"))
      l -= 1
    }
    acc.where(col("s") =!= col("v"))
      .groupBy(col("v").as("id")).agg(sum(col("delta")).as("betweenness"))
  }

  /** Closeness/farness centrality (the remaining member of the centrality
    * family next to degree / betweenness / pagerank): one multi-source
    * tagged BFS — rows (s, v, d) for every source simultaneously, each level
    * one keyed join — then farness(s) = Σ_v d(s,v), n_reach(s), and
    * eccentricity(s) = max_v d(s,v) by a single agg on the SOURCE tag.
    * Integer-exact, so callers derive closeness = 1/farness or the
    * normalized variants without the engine baking in a float convention
    * (and max eccentricity over all sources = the graph diameter).
    * `sources` bounds the work (sample for approximation, all for exact). */
  def closenessCentrality(edges: DataFrame, sources: DataFrame, directed: Boolean = false,
      maxIter: Int = 100, localMaxEdges: Long = 200000L)(implicit spark: SparkSession): DataFrame =
    taggedBfs(edges, sources, directed, maxIter, localMaxEdges)
      .groupBy(col("s").as("id"))
      .agg((count(lit(1)) - 1).as("n_reach"), sum(col("d")).as("farness"),
        max(col("d")).as("eccentricity"))

  /** The ONE multi-source tagged delta-BFS behind [[closenessCentrality]]
    * and [[harmonicCentrality]]: rows (s, v, d) for every source
    * simultaneously (self at d=0 included); per level one frontier⋈edges
    * join + (s,v) dedup + anti-join vs visited — work tracks the frontier,
    * never |V|². Fails LOUDLY if `maxIter` rounds leave a non-empty
    * frontier: a silent truncation would undercount every downstream sum. */
  private def taggedBfs(edges: DataFrame, sources: DataFrame, directed: Boolean,
      maxIter: Int, localMaxEdges: Long = 200000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select("src", "dst").dropDuplicates("src", "dst")
    val eRaw = if (directed) e0
      else e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .dropDuplicates("src", "dst")
    // guarded LOCAL replay (the maximalMatching convention): multi-source
    // BFS is |sources|·O(E) driver work — trivially below the per-round
    // scheduling floor for small graphs (measured at sf0.1: q_harmonic
    // 1.8 s warm -> the scan cost; distances are unique facts, so the
    // replay is bit-identical by construction, parity-spec'd)
    // a NULL source identifies no vertex: dropped in BOTH paths (the BFS
    // driver drops null-keyed seed rows; the local replay would NPE
    // unboxing it — parity-spec'd)
    val srcCol = col(sources.columns.head)
    val notConverged =
      s"taggedBfs: frontier still non-empty after maxIter=$maxIter rounds — raise maxIter"
    // the source guard counts DISTINCT non-null sources — the quantity the
    // replay's work actually scales with (the raw row count only bounded it
    // from above), and both regimes stay bit-identical either way
    LocalGraph.collect(eRaw.select(col("src").cast("long"), col("dst").cast("long")),
        localMaxEdges,
        sources.where(srcCol.isNotNull).select(srcCol.cast("long")).distinct() -> 512L) match {
      case Some((g, Seq(srcs))) =>
        val out = srcs.flatMap { s =>
          val (order, dist, converged) = g.bfs(Seq(g.index(s)), maxIter)
          if (!converged) throw new IllegalStateException(notConverged)
          order.map(v => (s, g.ids(v), dist(v).toLong))
        }
        return spark.createDataset(out.toSeq).toDF("s", "v", "d")
      case _ => ()
    }
    val e = eRaw.localCheckpoint(eager = false)
    val (levels, converged) = bfsLevels(
        sources.select(srcCol.as("s")).withColumn("v", col("s")), Seq("s", "v"), maxIter) { f =>
      f.join(e, f("v") === e("src")).select(col("s"), col("dst").as("v")).dropDuplicates("s", "v")
    }
    if (!converged) throw new IllegalStateException(notConverged)
    levels.zipWithIndex.map { case ((l, _), d) => l.withColumn("d", lit(d.toLong)) }
      .reduce(_.unionByName(_))
  }

  /** Interval partition of a flow graph (fermor algo.clj `intervals`; the
    * Allen/Cocke interval analysis from Offner's notes p44): each interval
    * I(h) grows from its header h by absorbing nodes whose predecessors all
    * lie inside; un-absorbed successors seed new headers. Driver-side on
    * the distributedly-extracted reachable subgraph (CFG-scale, like
    * dominators); deterministic via sorted worklists. Returns
    * (id, interval_header). */
  def intervals(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // dense indices are in id order, so the sorted worklists keep theirs
    val g = flowGraph(entry, edges)
    val assigned = Array.fill(g.n)(-1)
    val headers = scala.collection.mutable.SortedSet[Int](g.index(entry))
    val doneHeaders = new Array[Boolean](g.n)
    def succs(vs: Iterable[Int]) =
      vs.toSeq.flatMap(v => (g.out.off(v) until g.out.off(v + 1)).map(g.out.adj))
    while (headers.nonEmpty) {
      val h = headers.head; headers.remove(h); doneHeaders(h) = true
      if (assigned(h) < 0) {
        val interval = scala.collection.mutable.SortedSet[Int](h)
        assigned(h) = h
        var grew = true
        while (grew) {
          grew = false
          succs(interval).distinct.sorted.filter(assigned(_) < 0).foreach { v =>
            if (g.in.forall(v)(interval.contains)) {
              interval += v; assigned(v) = h; grew = true
            }
          }
        }
        // unabsorbed successors of the interval become new headers
        succs(interval).filter(v => assigned(v) < 0 && !doneHeaders(v)).foreach(headers += _)
      }
    }
    g.ids.indices.filter(assigned(_) >= 0).map(v => (g.ids(v), g.ids(assigned(v))))
      .toDF("id", "interval_header")
  }

  /** Vertices lying on some path from `from` to `to` (fermor algo.clj
    * `non-loop-vertices-between`): forward-reachable(from) ∩
    * backward-reachable(to). Below [[bfsDistances]]' edge guard one edge
    * collect feeds both walks, forward on `out` and backward on `in`, on
    * the driver; above it, two passes of [[bfsDistances]]' distributed
    * rounds. */
  def verticesBetween(edges: DataFrame, from: DataFrame, to: DataFrame,
      fwdMaxIter: Int = 1000, bwdMaxIter: Int = 1000)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    def seed(df: DataFrame) = df.select(col(df.columns.head).as("id"))
    // bfsDistances' gate and guard
    val localMaxEdges = 50000L
    if (longCols(edges, "src", "dst") && longCols(seed(from), "id") && longCols(seed(to), "id"))
      LocalGraph.collect(edges.select("src", "dst"), localMaxEdges,
          seed(from).where(col("id").isNotNull) -> localMaxEdges,
          seed(to).where(col("id").isNotNull) -> localMaxEdges) match {
        case Some((g, Seq(f, t))) =>
          val fwd = g.bfs(f.map(g.index), fwdMaxIter)._2
          val bwd = g.bfs(t.map(g.index), bwdMaxIter, g.in)._2
          return g.ids.indices.filter(v => fwd(v) >= 0 && bwd(v) >= 0).map(g.ids).toDF("id")
        case _ => ()
      }
    // the two BFS passes are independent job sequences; run on two threads
    // their jobs interleave, so wall time is ~max of the passes
    // (q_between at local[4]: 1.16-1.32 s, against 1.57-1.97 s one after
    // the other). Pool threads keep the job group of whoever created them,
    // so each Future first takes the caller's. Callers that know the graph
    // diameter pass it as the iteration bound: each saved round is a saved
    // frontier materialization.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    val group = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.job.tags").map(k => k -> sc.getLocalProperty(k))
    def rounds(from: String, to: String, sources: DataFrame, maxIter: Int) = Future {
      group.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      bfsRounds(edges.select(col(from).as("__from"), col(to).as("__to"))
        .localCheckpoint(eager = false), seed(sources), maxIter)
    }
    val Seq(fwd, bwd) = Await.result(Future.sequence(Seq(
      rounds("src", "dst", from, fwdMaxIter), rounds("dst", "src", to, bwdMaxIter))), Duration.Inf)
    fwd.select("id").join(bwd.select("id"), "id")
  }

  /** Articulation points of the undirected view of the graph (fermor
    * algo.clj `articulation-points`): iterative Tarjan low-link.
    *
    * Tarjan low-link is DFS-order-sequential, so SOME single-threaded walk is
    * unavoidable; what must not happen at 100 TB is an unguarded collect of
    * the whole edge set to the driver. Guard: if the edge count exceeds
    * `localMaxEdges`, fall back to the distributed per-component plan —
    * connected components first (Pregel), then each component's edge list is
    * walked WITHIN an executor via flatMapGroups. Biconnectivity never
    * crosses a connected component, so the partition is exact; the collect
    * unit shrinks from "the graph" to "the largest component". */
  def articulationPoints(edges: DataFrame, localMaxEdges: Long = 3000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    biconnectivity(edges, localMaxEdges)(_.lowLink.articulation).toDF("id")
  }

  /** The guard shared by [[articulationPoints]], [[biconnectedComponents]]
    * and [[bridges]]: one action collects the (src, dst) pairs, int ids
    * upcast to long, and runs `f` over their [[LocalGraph]] on the driver when
    * they number at most `localMaxEdges` (a null endpoint fails loudly).
    * Past it, `f` runs per connected component inside the executors, as
    * [[articulationPoints]] describes: one Pregel CC run + one keyed
    * shuffle, per-task memory bounded by the largest component. */
  private def biconnectivity[T: org.apache.spark.sql.Encoder](edges: DataFrame,
      localMaxEdges: Long)(f: LocalGraph => Seq[T]): org.apache.spark.sql.Dataset[T] = {
    implicit val spark: SparkSession = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    collectAtMost(e, localMaxEdges) match {
      case Some(rows) =>
        if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
          throw new IllegalArgumentException("biconnectivity input has a null src or dst")
        spark.createDataset(f(LocalGraph(rows.iterator.map(r => (r.getLong(0), r.getLong(1))))))
      case None =>
        val ec = e.localCheckpoint(eager = false)
        val vs = ec.select(col("src").as("id")).unionAll(ec.select(col("dst").as("id")))
          .dropDuplicates("id")
        ec.join(connectedComponents(vs, ec).withColumnRenamed("id", "src"), "src")
          .select(col("component"), col("src"), col("dst"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .flatMapGroups((_, it) => f(LocalGraph(it.map(t => (t._2, t._3)))).iterator)
    }
  }

  /** Driver-side mirrors of the Column-level hash priorities: identical
    * md5-hex + zero-padded-id strings, so a guarded local replay of a
    * hash-priority round loop (MIS / JP coloring / matching) produces the
    * BIT-IDENTICAL result of the distributed loop — the answer is a pure
    * fact of the graph either way, and the parity specs compare the two
    * paths directly. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  private def pad20(id: Long): String = {
    val s = id.toString
    if (s.length >= 20) s else "0" * (20 - s.length) + s
  }

  /** Biconnected components (fermor algo.clj `biconnected-components`):
    * edge-partition into maximal 2-connected subgraphs via Tarjan's edge
    * stack. Returns (src, dst, component) with component = min edge-endpoint
    * id in the component (deterministic labeling). Same guard + distributed
    * per-component fallback as [[articulationPoints]]. */
  def biconnectedComponents(edges: DataFrame, localMaxEdges: Long = 3000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    biconnectivity(edges, localMaxEdges)(_.lowLink.components).toDF("src", "dst", "component")
  }

  /** Bridges (cut edges): tree edges with low(child) > disc(parent) —
    * removing one disconnects its component. (NOT derivable from
    * [[biconnectedComponents]] output: its min-endpoint component LABELS
    * collide across distinct single-edge BCCs sharing a cut vertex.) Same
    * guard + distributed per-component fallback as [[articulationPoints]];
    * input is treated as a SIMPLE undirected graph (duplicates and
    * orientations collapse). Returns canonical (lo, hi), independent of
    * the DFS tree. */
  def bridges(edges: DataFrame, localMaxEdges: Long = 3000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    biconnectivity(edges, localMaxEdges)(_.lowLink.bridges).toDF("lo", "hi")
  }

  /** Dominance frontiers (fermor `dominance-frontiers`), from idom by the
    * standard Cytron walk. Returns (id, frontier_member) pairs. */
  def dominanceFrontiers(entry: Long, edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = flowGraph(entry, edges)
    val (rpo, idom) = idomLocal(g, entry)
    val df = scala.collection.mutable.HashSet[(Long, Long)]()
    rpo.foreach { b =>
      if (g.in.degree(b) >= 2) g.in.foreach(b) { p =>
        var runner = p
        while (runner != idom(b)) {
          df += ((g.ids(runner), g.ids(b)))
          runner = idom(runner)
        }
      }
    }
    df.toSeq.toDF("id", "frontier")
  }

  /** Harmonic centrality (the closeness-family variant that stays defined on
    * disconnected graphs — Boldi & Vigna 2014): Σ_{u≠v, d(v,u)<∞} 1/d(v,u),
    * here INTEGER-EXACT as Σ `scale div d` (scale divisible by every small
    * distance ⇒ the first few terms are exact reciprocals; floor division
    * everywhere, both engines bit-identical). Same multi-source tagged
    * delta-BFS as [[closenessCentrality]]: per round one frontier⋈edges
    * join + (s,v) dedup + anti-join vs visited — work tracks frontier size,
    * never |V|·|V|. Returns (id, n_reach, harmonic). */
  def harmonicCentrality(edges: DataFrame, sources: DataFrame, directed: Boolean = false,
      scale: Long = 840L, maxIter: Int = 100, localMaxEdges: Long = 200000L)(
      implicit spark: SparkSession): DataFrame = {
    val acc = taggedBfs(edges, sources, directed, maxIter, localMaxEdges)
    acc.where(col("d") > 0)
      .groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr(s"${scale}L div d")).as("harmonic"))
      .unionByName( // sources reaching nothing still get a row (harmonic 0)
        acc.groupBy(col("s").as("id")).agg(count(lit(1)).as("n"))
          .where(col("n") === 1).select(col("id"), lit(0L).as("n_reach"), lit(0L).as("harmonic")))
  }

  /** Deterministic maximal matching — the edge-side sibling of Luby MIS:
    * per round every surviving edge draws a HASH priority
    * (md5(round:lo:hi) + zero-padded endpoints = total order, no RNG — the
    * matching is a pure fact of the graph, identical across reruns,
    * partitionings, and engines); an edge wins when it holds the strict
    * minimum priority at BOTH endpoints, winners enter the matching, and
    * every edge touching a matched vertex leaves the pool. Maximality: a
    * non-empty pool always yields ≥1 winner (the globally-minimal edge wins
    * both endpoints), so the loop drains. Per round: one explode-to-endpoint
    * agg + one priority join + two semi/anti joins on the SHRINKING edge
    * set, O(log n) expected rounds, run on [[peelRounds]].
    * Returns matched edges as (lo, hi). */
  def maximalMatching(edges: DataFrame, maxRounds: Int = 64,
      localMaxEdges: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon0 = edges.select(least(col("src"), col("dst")).cast("long").as("lo"),
        greatest(col("src"), col("dst")).cast("long").as("hi"))
      .where(col("lo") =!= col("hi"))
    // guarded LOCAL replay of the identical hash-priority rounds —
    // bit-identical to the distributed loop (parity-spec'd), replacing
    // per-round scheduling latency below the guard; raw-pair guard skips
    // the distinct shuffle (the dedup happens in `sym`).
    //
    // Priorities stay PACKED LONGS, never strings: the priority string
    // hex(md5) ++ pad20(lo) ++ pad20(hi) orders exactly like the tuple
    // (unsigned 128-bit digest, lo, hi) for non-negative ids (hex compare
    // = unsigned byte compare of the digest; zero-padded decimals of equal
    // width compare numerically), and the string form allocated ~160 B ×
    // |pool| per round (~300 MB at the 2 M guard) — measured harmless in a
    // fresh JVM but 2.3 → 10 s inside the bench JVM, whose heap already
    // holds every cached table (full-GC churn). Negative ids — where the
    // pad20 form orders non-numerically — fall back to the distributed
    // loop, which defines the semantics.
    val local = LocalGraph.collect(canon0, localMaxEdges).filter(g => g.n == 0 || g.ids(0) >= 0L)
    if (local.isDefined) {
      val g = local.get
      var pool = (0 until g.n).flatMap(u => (g.sym.off(u) until g.sym.off(u + 1))
        .map(g.sym.adj).filter(_ > u).map(v => (g.ids(u), g.ids(v)))).toArray
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var r = 0
      while (pool.nonEmpty) {
        r += 1
        if (r > maxRounds)
          throw new IllegalStateException(s"matching did not drain within $maxRounds rounds")
        val n = pool.length
        val lo = new Array[Long](n); val hi = new Array[Long](n)
        var i = 0
        while (i < n) { lo(i) = pool(i)._1; hi(i) = pool(i)._2; i += 1 }
        val d1 = new Array[Long](n); val d2 = new Array[Long](n)
        val round = r
        java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
          val b = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$round:${lo(i)}:${hi(i)}".getBytes("UTF-8"))
          var x1 = 0L; var x2 = 0L; var k = 0
          while (k < 8) { x1 = (x1 << 8) | (b(k) & 0xffL); k += 1 }
          while (k < 16) { x2 = (x2 << 8) | (b(k) & 0xffL); k += 1 }
          d1(i) = x1; d2(i) = x2
        }
        // strict total order: digest (unsigned), then lo, then hi — per-edge
        // unique because the pool is distinct, so argmin indices are exact
        def less(i: Int, j: Int): Boolean = {
          val c1 = java.lang.Long.compareUnsigned(d1(i), d1(j))
          if (c1 != 0) return c1 < 0
          val c2 = java.lang.Long.compareUnsigned(d2(i), d2(j))
          if (c2 != 0) return c2 < 0
          if (lo(i) != lo(j)) lo(i) < lo(j) else hi(i) < hi(j)
        }
        val minAt = scala.collection.mutable.HashMap[Long, Int]()
        i = 0
        while (i < n) {
          if (minAt.get(lo(i)).forall(j => less(i, j))) minAt(lo(i)) = i
          if (minAt.get(hi(i)).forall(j => less(i, j))) minAt(hi(i)) = i
          i += 1
        }
        val mv = scala.collection.mutable.HashSet[Long]()
        i = 0
        while (i < n) {
          if (minAt(lo(i)) == i && minAt(hi(i)) == i) {
            out += ((lo(i), hi(i))); mv += lo(i); mv += hi(i)
          }
          i += 1
        }
        pool = pool.filter { case (l, h) => !mv.contains(l) && !mv.contains(h) }
      }
      return out.toSeq.toDF("lo", "hi")
    }
    var matched = canon0.where(lit(false))
    val (_, left, _) = peelRounds(canon0.dropDuplicates("lo", "hi"), maxRounds) { (e, r) =>
      val p = e.select(col("lo"), col("hi"),
        concat(md5(concat(lit(s"$r:"), col("lo").cast("string"), lit(":"), col("hi").cast("string"))),
          lpad(col("lo").cast("string"), 20, "0"),
          lpad(col("hi").cast("string"), 20, "0")).as("p")).localCheckpoint(eager = false)
      val byV = p.select(col("lo").as("v"), col("p"))
        .unionAll(p.select(col("hi").as("v"), col("p")))
      val minV = byV.groupBy("v").agg(min("p").as("mn"))
      val win = p.join(minV.select(col("v").as("lo"), col("mn").as("mnLo")), Seq("lo"))
        .join(minV.select(col("v").as("hi"), col("mn").as("mnHi")), Seq("hi"))
        .where(col("p") === col("mnLo") && col("p") === col("mnHi"))
        .select("lo", "hi").localCheckpoint(eager = false)
      matched = matched.unionByName(win)
      val mv = win.select(col("lo").as("v")).unionAll(win.select(col("hi").as("v"))).distinct()
      e.join(mv.select(col("v").as("lo")), Seq("lo"), "left_anti")
        .join(mv.select(col("v").as("hi")), Seq("hi"), "left_anti")
        .select("lo", "hi")
    }
    if (left > 0)
      throw new IllegalStateException(s"matching did not drain within $maxRounds rounds")
    matched
  }

  /** Condensation graph: contract every vertex to its component and keep
    * the distinct cross-component edges — the acyclic quotient the
    * compiler-flavored analyses run on after SCC. `components` is any
    * (id, component) assignment (SCC, CC, communities); vertices absent
    * from it are their own singleton component. Two keyed endpoint joins +
    * one distinct — never materializes per-pair paths. Returns
    * (csrc, cdst) distinct, self-loops dropped. */
  def condensation(edges: DataFrame, components: DataFrame): DataFrame = {
    val comp = components.select(col("id"), col("component"))
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    e.join(comp.withColumnRenamed("id", "src"), Seq("src"), "left")
      .select(coalesce(col("component"), col("src")).as("csrc"), col("dst"))
      .join(comp.withColumnRenamed("id", "dst"), Seq("dst"), "left")
      .select(col("csrc"), coalesce(col("component"), col("dst")).as("cdst"))
      .where(col("csrc") =!= col("cdst"))
      .dropDuplicates("csrc", "cdst")
  }

  /** Transitive reduction of a DAG: drop every edge (u,v) for which a
    * longer u→v path exists — the minimal edge set with the same
    * reachability (unique for DAGs, Aho–Garey–Ullman 1972). Distributed as
    * a bounded-depth delta expansion: level k holds the ≥2-hop pairs at
    * distance k, each round ONE frontier⋈edges join + dedup against the
    * accumulated pair set (per-round work tracks the frontier; each round's
    * one [[Scale.checkpointed]] job cuts lineage), then one
    * anti-join removes implied edges.
    * `maxDepth` bounds the expansion (DAG depth; loud failure beats a
    * silent wrong answer if the graph is deeper). Returns the kept
    * (src, dst) edges. */
  def transitiveReduction(edges: DataFrame, maxDepth: Int = 20,
      localMaxEdges: Long = 500000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).dropDuplicates("src", "dst")
      .localCheckpoint(eager = false)
    // guarded LOCAL replay (the CC/topo pattern) of the identical pair
    // recurrence, including the maxDepth and cycle loud failures in the
    // same order. The edge guard alone cannot bound the REACHABLE PAIR set
    // (a shallow wide DAG can imply far more pairs than it has edges), so
    // the replay also bails back to the distributed loop — resuming from
    // the same cached edge frame — if implied pairs outgrow 16× the guard.
    // no null-endpoint branch needed, unlike the CC/relax replays: this
    // operator's prep filter (src =!= dst, null-safe SQL inequality)
    // already drops null-endpoint rows on BOTH regimes
    val local = if (integralCols(edges, "src", "dst")) LocalGraph.collect(e, localMaxEdges)
      else None
    val localResult: Option[DataFrame] = local.flatMap { g =>
      // a pair (s, v) of dense indices as one long
      def key(s0: Int, v0: Int): Long = (s0.toLong << 32) | v0
      val edgeKeys = (0 until g.n).flatMap(u => (g.out.off(u) until g.out.off(u + 1))
        .map(k => key(u, g.out.adj(k)))).toArray
      val implied = scala.collection.mutable.HashSet[Long]()
      // saturate: a force-local caller passes localMaxEdges = MaxValue
      // and 16 * MaxValue would wrap
      // negative, silently bailing every call to the distributed path
      val pairCap =
        if (localMaxEdges > Long.MaxValue / 16) Long.MaxValue
        else 16L * math.max(localMaxEdges, 1L)
      var frontier = edgeKeys
      var d = 1
      var drained = false
      var bail = false
      while (!drained && !bail) {
        val nextSet = scala.collection.mutable.LinkedHashSet[Long]()
        frontier.foreach { p =>
          val s0 = (p >>> 32).toInt
          g.out.foreach(p.toInt) { w => if (!implied(key(s0, w))) nextSet += key(s0, w) }
        }
        d += 1
        if (nextSet.isEmpty) drained = true
        else {
          if (d > maxDepth)
            throw new IllegalStateException(
              s"transitiveReduction: paths deeper than maxDepth=$maxDepth — not a bounded DAG?")
          if (nextSet.exists(p => (p >>> 32).toInt == p.toInt))
            throw new IllegalStateException(
              "transitiveReduction: input contains a cycle — defined on DAGs only")
          implied ++= nextSet
          if (implied.size > pairCap) bail = true
          else frontier = nextSet.toArray
        }
      }
      Option.when(!bail)(edgeKeys.filterNot(implied)
        .map(p => (g.ids((p >>> 32).toInt), g.ids(p.toInt))).toSeq.toDF("src", "dst"))
    }
    localResult match {
      case Some(r) => return r
      case None    => () // distributed loop below, reading the same cached e
    }
    // pairs (s, v) reachable by exactly the paths expanded so far; start at
    // the 1-hop pairs, accumulate only depth >= 2
    var frontier = e.select(col("src").as("s"), col("dst").as("v"))
    var implied = frontier.where(lit(false)).localCheckpoint(eager = false)
    var d = 1
    var drained = false
    while (!drained) {
      // ONE job per round completes the delta's checkpoint and yields both
      // loop controls: the drain count and the cycle witness — a self-pair
      // (s, s) can never appear on a DAG; failing loudly here keeps the
      // contract (a cycle shorter than maxDepth would otherwise drain and
      // SILENTLY delete the cycle's edges as "implied")
      val (next, n, Seq(selfPairs)) = checkpointed(
        frontier.join(e, frontier("v") === e("src"))
          .select(col("s"), col("dst").as("v")).dropDuplicates("s", "v")
          .join(implied, Seq("s", "v"), "left_anti"),
        sumOf(when(col("s") === col("v"), 1L)))
      d += 1
      if (n == 0L) drained = true
      else {
        if (d > maxDepth)
          throw new IllegalStateException(
            s"transitiveReduction: paths deeper than maxDepth=$maxDepth — not a bounded DAG?")
        if (selfPairs > 0L)
          throw new IllegalStateException(
            "transitiveReduction: input contains a cycle — defined on DAGs only")
        // implied is a union of checkpoint-completed deltas (each round's
        // job materialized its lazy checkpoint) — lineage stays
        // depth-1 without re-materializing the accumulated set each round
        implied = implied.unionByName(next)
        frontier = next
      }
    }
    e.join(implied.select(col("s").as("src"), col("v").as("dst")),
      Seq("src", "dst"), "left_anti")
  }
}
