package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuilder
import graft.algos.{Algos, LocalGraph}
import graft.algos.LocalGraph.{Guard, replayLimit}

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
  *
  * Small slices replay on the driver: [[all]] and [[deepest]] with
  * `acyclic`, and [[allWithCycles]] — the outlets whose rows are exactly
  * walk counts — run on a [[graft.algos.LocalGraph]] below the
  * [[graft.algos.LocalGraph.Guard.RoundLatency]] guard (two collects and
  * the action instead of a Spark job per level). [[run]] and every
  * path-carrying or cycle-cutting outlet always take the level loop.
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
    // is measured-small, hint IT for broadcast: each level's join probes the
    // slice map-side instead of shuffling it, and the per-level frontier
    // guard below stands down. The build is paid once per level — every
    // level is its own checkpoint job, so no exchange is shared across them
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

  /** The guarded driver replay of the (id, depth) outlets whose rows are
    * exactly walk counts — no path is cut, so level d holds v once per walk
    * of d hops from a seed to v. Two guarded collects (the slice's long
    * pairs, the seed ids) feed a level loop over [[LocalGraph.out]] that
    * carries one multiplicity per vertex: cnt_0 is the seed multiset and
    * cnt_{d+1}(v) = Σ_{u→v} cnt_d(u), parallel edges counted, until
    * `maxDepth` or a drained frontier. `leaves` keeps only the slice's
    * out-degree-0 vertices ([[deepest]]'s anti-join). One local frame of
    * the distributed schema (id bigint, depth int); None — take the level
    * loop — on a slice or seed list over the [[Guard.RoundLatency]] guard,
    * a null or non-integral id, or more rows to emit than the guard. */
  private def walkCounts(g: PropertyGraph, start: DataFrame, labels: Seq[String],
      forward: Boolean, maxDepth: Int, leaves: Boolean): Option[DataFrame] = {
    val spark = start.sparkSession
    import spark.implicits._
    val limit = replayLimit(spark, Guard.RoundLatency)
    val (from, to) = if (forward) ("src", "dst") else ("dst", "src")
    if (g.labelRows(labels).exists(_ > limit) || !Algos.integralCols(g.edges, from, to))
      return None
    val pairs = g.labeledEdges(labels).select(col(from).cast("long"), col(to).cast("long"))
    val seedIds = start.select(col(start.columns.head).cast("long"))
    LocalGraph.collect(pairs, limit, seedIds -> limit).flatMap { case (lg, Seq(seeds)) =>
      val out = lg.out
      var cnt = new Array[Long](lg.n)
      var next = new Array[Long](lg.n)
      val seedIx = seeds.map(lg.index)
      seedIx.foreach(cnt(_) += 1L)
      var frontier = seedIx.distinct
      val rows = Vector.newBuilder[(Long, Int)]
      var total = 0L
      var d = 0
      try {
        while (frontier.nonEmpty && total <= limit) {
          for (v <- frontier if !leaves || out.degree(v) == 0) {
            total = Math.addExact(total, cnt(v))
            if (total <= limit) rows ++= Iterator.fill(Math.toIntExact(cnt(v)))((lg.ids(v), d))
          }
          val reached = new ArrayBuilder.ofInt
          if (d < maxDepth) frontier.foreach(u => out.foreach(u) { v =>
            if (next(v) == 0L) reached += v
            next(v) = Math.addExact(next(v), cnt(u))
          })
          frontier.foreach(cnt(_) = 0L)
          val t = cnt; cnt = next; next = t
          frontier = reached.result()
          d += 1
        }
        if (total > limit) None else Some(rows.result().toDF("id", "depth"))
      } catch { case _: ArithmeticException => None }
    }
  }

  /** fermor `all`: every element reachable within maxDepth, cycles cut —
    * [[run]]'s one checkpointed level loop with the default controls. Pass
    * `acyclic = true` on DAGs (e.g. FK hierarchies) to skip path
    * accumulation — same rows, far narrower shuffles — and to let a small
    * slice replay on the driver ([[walkCounts]]). */
  def all(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int, acyclic: Boolean = false): DataFrame =
    (if (acyclic) walkCounts(g, start, labels, forward, maxDepth, leaves = false) else None)
      .getOrElse(run(g, start, labels, forward, maxDepth, acyclic = acyclic).select("id", "depth"))

  /** The anti-join side of [[deepest]]/[[deepestPaths]], built ONCE: a
    * lazy checkpoint of the distinct tails, broadcast when the slice's
    * registered edge count (>= |tails|) fits the shared row guard (guide
    * §3.1) — no probe job. Catalyst pushes the LeftAnti below the per-level
    * result union, so the final action plans one anti-join per level
    * branch; over the checkpoint (a plain RDD scan) their identical builds
    * or shuffle sides are one exchange and ReusedExchanges. The checkpoint
    * is what makes them shared: with the edges cached (Tpch's shareScans),
    * Spark 4.1 plans every cached scan as a query stage of its own and
    * reuses no exchange above one, so a distinct over the edges would run
    * once per branch. Past the guard — tails is every non-leaf vertex,
    * |V|-sized in general — the shuffle join stands. */
  private def guardedTails(g: PropertyGraph, labels: Seq[String],
      forward: Boolean): DataFrame = {
    val e0 = if (labels.isEmpty) g.edges else g.edges.where(col("label").isin(labels: _*))
    val tails = e0.select(col(if (forward) "src" else "dst").as("id")).distinct()
      .localCheckpoint(false)
    if (g.labelRows(labels).exists(_ <= bcastRows)) broadcast(tails) else tails
  }

  /** fermor `deepest`: only elements with no further children (path-instances
    * whose id has no outgoing hop). Anti-join against the edge tails; with
    * `acyclic`, a small slice replays on the driver ([[walkCounts]]). */
  def deepest(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int, acyclic: Boolean = false): DataFrame =
    (if (acyclic) walkCounts(g, start, labels, forward, maxDepth, leaves = true) else None)
      .getOrElse(run(g, start, labels, forward, maxDepth, acyclic = acyclic)
        .join(guardedTails(g, labels, forward), Seq("id"), "left_anti")
        .select("id", "depth"))

  /** fermor `deepest-paths`: like [[deepest]] but keeping the full path to
    * each terminal element (path-carrying mode, so no acyclic shortcut). */
  def deepestPaths(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    run(g, start, labels, forward, maxDepth)
      .join(guardedTails(g, labels, forward), Seq("id"), "left_anti")
      .select("id", "depth", "path")

  /** fermor `all-with-cycles` (core.clj:1112): like [[all]] but revisits are
    * allowed — the depth bound alone limits the walk, so every path instance
    * within maxDepth is counted (bag semantics on cyclic graphs). A small
    * slice replays on the driver ([[walkCounts]]). */
  def allWithCycles(g: PropertyGraph, start: DataFrame, labels: Seq[String], forward: Boolean,
      maxDepth: Int): DataFrame =
    walkCounts(g, start, labels, forward, maxDepth, leaves = false)
      .getOrElse(run(g, start, labels, forward, maxDepth, allowCycles = true).select("id", "depth"))

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
