package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive traversal power-tool — the distributed re-expression of fermor's
  * `descend`/`descents` (core.clj:978, descend.clj) and its derived helpers
  * `all`, `deepest`, `all-paths`, `all-cycles` (core.clj:1095+).
  *
  * fermor descends a lazy seq depth-first with a per-element control function
  * (emit / continue / cut / emit-and-chain…). Depth-first order is not a
  * distributed semantic, so here descent is level-synchronous frontier
  * expansion (BFS): each level is one equi-join against the edge table, and
  * the control function becomes a pair of Column predicates over
  * (id, depth, path) — `emit` (include this path-instance in the result) and
  * `continueP` (expand further from it). Cycle-cutting = `array_contains`
  * on the accumulated path, exactly fermor's no-cycles/prevent-cycles.
  *
  * Scale: the frontier carries only (id, depth, path). Every level d below
  * `maxDepth` ends in [[graft.plans.Scale.checkpointed]]: it feeds BOTH the
  * result union and level d+1's expansion, and Catalyst does not share
  * common subplans across union branches — without the materialization the
  * k-th level is recomputed O(k) times (quadratic join work). The one count
  * job is also the drain probe and sizes the next frontier broadcast. Level
  * `maxDepth` feeds only the union, so it is neither checkpointed nor counted.
  */
object Descend {
  import graft.plans.Scale.{bcastRows, checkpointed, guarded}

  /** Expand `start` (an `id` column) up to `maxDepth` hops over `labels`
    * edges (all labels if empty), `forward` or reverse. Returns one row per
    * visited path-instance: (id, depth, path). */
  def run(
      g: PropertyGraph,
      start: DataFrame,
      labels: Seq[String] = Nil,
      forward: Boolean = true,
      maxDepth: Int = 10,
      emit: DataFrame => DataFrame = identity,
      continueP: DataFrame => DataFrame = identity,
      allowCycles: Boolean = false,
      acyclic: Boolean = false): DataFrame = {

    // when the loader registered exact label counts and the traversed slice
    // is measured-small, hint IT for broadcast: one build (ReusedExchange
    // shares identical hinted subtrees across the level joins) beats
    // re-broadcasting a growing frontier per level; the per-level frontier
    // guard below then stands down
    val eKnownSmall = g.labelRows(labels).exists(_ <= bcastRows)
    val e0 = g.labeledEdges(labels)
    val (from, to) = if (forward) ("src", "dst") else ("dst", "src")
    // deliberately NOT checkpointed: each level re-derives this projection
    // from the (shareScans-cached) base tables, which measures CHEAPER than
    // materializing the 2-long frame once — a lazy localCheckpoint here
    // cost +14% on q_deepest and +30% on q_descend_all at 10× data (the
    // checkpoint write + rescan of 18 M rows exceeds the per-level
    // projection recompute over cached scans)
    val e = e0.select(col(from).as("__from"), col(to).as("__to"))

    // acyclic: the caller vouches the traversed subgraph is a DAG, so no
    // cycle can occur and the path column exists only to be emitted — when
    // the emit projection doesn't need it either, drop it entirely: the
    // frontier is two longs wide and per-level shuffles shrink by the whole
    // array<long> column (path multiplicity is preserved by join fan-out —
    // bag semantics need no bookkeeping).
    val idCol = start.columns.head
    var seed = start
      .select(col(idCol).cast("long").as("id"))
      .withColumn("depth", lit(0))
    if (!acyclic) seed = seed.withColumn("path", array(col("id")))

    // Guarded frontier broadcast (guide §3.1; the pathEdges idiom): each
    // level's expansion join would otherwise SMJ — the checkpointed frontier
    // blinds stats, so Catalyst exchanges the FULL edge projection every
    // level even when the frontier is a handful of rows, and AQE's runtime
    // SMJ→BHJ rewrite still pays the |E| map-side shuffle write before it
    // can see the sizes. Broadcasting a measured-small frontier keeps e
    // unshuffled (one map-side probe of the cached scan per level); the
    // level counts come free from the checkpoint jobs. A known-small slice
    // is broadcast itself, so the frontier is not: its seed goes unprobed.
    var (frontier, rows) =
      if (eKnownSmall || maxDepth == 0) (seed, Long.MaxValue)
      else { val (c, n, _) = checkpointed(seed); (c, n) }
    var acc = emit(frontier)
    var d = 1
    while (d <= maxDepth && rows > 0L) {
      // level d - 1's rows carry a path of d elements
      val cont = if (eKnownSmall) continueP(frontier)
        else guarded(continueP(frontier), rows, frontierWidth(if (acyclic) 0 else d))
      val next = cont.join(e, cont("id") === e("__from"))
      val level =
        if (acyclic)
          next.select(col("__to").as("id"), (col("depth") + 1).as("depth"))
        else {
          var l = next.select(col("path"), col("__to").as("id"), (col("depth") + 1).as("depth"))
          if (!allowCycles) l = l.where(!array_contains(col("path"), col("id")))
          l.withColumn("path", concat(col("path"), array(col("id"))))
        }
      // only the result union reads the last level: no checkpoint, no count
      if (d == maxDepth) acc = acc.unionByName(emit(level))
      else {
        val (c, n, _) = checkpointed(level)
        if (n > 0L) acc = acc.unionByName(emit(c))
        frontier = c
        rows = n
      }
      d += 1
    }
    acc
  }

  /** Estimated bytes of a frontier row for [[graft.plans.Scale.guarded]]:
    * id and depth, plus 8 B per element of a carried path. */
  private[graft] def frontierWidth(pathLen: Int): Long = 16L + 8L * pathLen

  /** fermor `all`: every element reachable within maxDepth, cycles cut —
    * [[run]]'s one checkpointed level loop with the default controls. Pass
    * `acyclic = true` on DAGs (e.g. FK hierarchies) to skip path
    * accumulation — same rows, far narrower shuffles. */
  def all(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int, acyclic: Boolean = false): DataFrame =
    run(g, start, labels, forward, maxDepth, acyclic = acyclic)
      .select("id", "depth")

  /** The anti-join side of [[deepest]]/[[deepestPaths]], broadcast under a
    * measured guard (guide §3.1): Catalyst pushes the LeftAnti below the
    * per-level result union, so with a shuffle join the tails distinct
    * subtree is RE-DERIVED once per level branch with two Exchanges each
    * (the r11 q_deepest plan audit found it running five times). A
    * broadcast build is planned per branch too, but ReusedExchange dedups
    * identical broadcast subtrees at execution (the richclub adjudication)
    * — one distinct pass, five map-side probes, zero Exchanges. Past the
    * guard — tails is every non-leaf vertex, |V|-sized in general — the
    * shuffle join stands. */
  private def guardedTails(g: PropertyGraph, labels: Seq[String],
      forward: Boolean): DataFrame = {
    val e0 = if (labels.isEmpty) g.edges else g.edges.where(col("label").isin(labels: _*))
    val tails = e0.select(col(if (forward) "src" else "dst").as("id")).distinct()
    // |tails| <= the slice's registered edge count, so a loader-counted
    // small slice broadcasts with NO probe — the per-branch anti-joins
    // become map-side probes of one reused build. Without counts: lazy
    // checkpoint, NOT a limited-count size probe — the probe is itself a
    // distinct-scan job paid before the main action (A/B: bench q_deepest
    // 2.59 -> 2.95 with probe+broadcast), while the checkpoint
    // materializes the distinct ONCE for all pushed-down branches and
    // ReusedExchange dedups their identical shuffle sides
    if (g.labelRows(labels).exists(_ <= bcastRows)) broadcast(tails)
    else tails.localCheckpoint(false)
  }

  /** fermor `deepest`: only elements with no further children (path-instances
    * whose id has no outgoing hop). Anti-join against the edge tails. */
  def deepest(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int, acyclic: Boolean = false): DataFrame =
    run(g, start, labels, forward, maxDepth, acyclic = acyclic)
      .join(guardedTails(g, labels, forward), Seq("id"), "left_anti")
      .select("id", "depth")

  /** fermor `deepest-paths`: like [[deepest]] but keeping the full path to
    * each terminal element (path-carrying mode, so no acyclic shortcut). */
  def deepestPaths(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth)
      .join(guardedTails(g, labels, forward), Seq("id"), "left_anti")
      .select("id", "depth", "path")

  /** fermor `all-with-cycles` (core.clj:1112): like [[all]] but revisits are
    * allowed — the depth bound alone limits the walk, so every path instance
    * within maxDepth is counted (bag semantics on cyclic graphs). */
  def allWithCycles(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth, allowCycles = true)
      .select("id", "depth")

  /** fermor `all-paths` (core.clj:1138): every cycle-free path from start,
    * at every depth (not just the ones landing on a target — see
    * [[allPathsTo]] for that form). */
  def allPaths(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth).select("path", "depth")

  /** fermor `all-paths-with-cycles` (core.clj:1180): path-carrying walk with
    * revisits allowed, depth-bounded. */
  def allPathsWithCycles(g: PropertyGraph, start: DataFrame, labels: Seq[String],
      forward: Boolean, maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth, allowCycles = true)
      .select("path", "depth")

  /** fermor `all-paths-to`: every cycle-free path from start landing on a
    * vertex satisfying `target`. */
  def allPathsTo(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int, target: DataFrame => DataFrame): DataFrame =
    target(run(g, start, labels, forward, maxDepth))
      .select("path", "depth")

  /** fermor `all-cycles`: paths that return to their origin — a walk is
    * emitted when its last hop closes on the head, and expanded only while
    * its last vertex is new (so every emitted path is a simple cycle). */
  def allCycles(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth,
        emit = _.where(col("depth") > 0 && col("id") === col("path")(0)),
        continueP = _.where(!array_contains(
          slice(col("path"), lit(1), size(col("path")) - 1), col("id"))),
        allowCycles = true)
      .select(col("path")(0).as("origin"), col("path"), col("depth"))
}
