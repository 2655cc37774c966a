package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composable vertex traversal — the Spark-first re-expression of fermor's
  * route DSL (fermor core.clj: out/in/both, lookahead, branch, gather, …).
  *
  * A traversal wraps a DataFrame whose `id` column holds the current frontier
  * (bag semantics: one row per route element, exactly like the reference's
  * lazy seqs which emit one element per traversed edge). Any other columns are
  * "carried" provenance (origin tags, paths, per-hop values) and survive hops
  * unchanged. Nothing executes until an action — composition builds one
  * Catalyst plan, so filter pushdown / join reordering / broadcast selection
  * all apply across an entire multi-hop traversal.
  *
  * Scale notes: each hop is an equi-join frontier⋈edges on src (or dst).
  * Catalyst/AQE broadcast the smaller side automatically; the frontier stays
  * narrow (id + carried cols only). Order is never a distributed semantic —
  * fermor's merge-round-robin vs merge-exhaustive distinction (a lazy-seq
  * scheduling detail, core.clj:916-975) collapses to bag union here.
  */
final case class Traversal(g: PropertyGraph, df: DataFrame) {

  private def carried: Seq[String] = df.columns.toSeq.filterNot(_ == "id")

  /** Copy the current id into a carried column (origin tracking; used by
    * make-pairs / section / siblings-style queries). */
  def tag(name: String): Traversal =
    Traversal(g, df.withColumn(name, col("id")))

  /** Begin path accumulation (fermor core.clj:325 `with-paths`). */
  def withPaths: Traversal =
    Traversal(g, df.withColumn("path", array(col("id"))))

  private def edgesFor(labels: Seq[String]): DataFrame =
    g.labeledEdges(labels) // exact-count broadcast hint when the slice is small

  private def hop(labels: Seq[String], forward: Boolean): Traversal = {
    val (from, to) = if (forward) ("src", "dst") else ("dst", "src")
    val e = edgesFor(labels).select(col(from).as("__from"), col(to).as("__to"))
    val joined = df.join(e, df("id") === e("__from"))
    val keep = carried.map(c => joined(c)) :+ joined("__to").as("id")
    val out = joined.select(keep: _*)
    val withPath =
      if (df.columns.contains("path"))
        out.withColumn("path", concat(col("path"), array(col("id"))))
      else out
    Traversal(g, withPath)
  }

  /** Follow out-edges to their head vertex (fermor core.clj `out`). */
  def out(labels: String*): Traversal = hop(labels, forward = true)

  /** Follow in-edges back to their tail vertex (fermor core.clj `in`). */
  def in(labels: String*): Traversal = hop(labels, forward = false)

  /** Both directions (fermor core.clj `both`): bag union of out and in. */
  def both(labels: String*): Traversal =
    Traversal(g, hop(labels, forward = true).df.unionByName(hop(labels, forward = false).df))

  /** Traverse to out-edges themselves (fermor `out-e`). */
  def outE(labels: String*): EdgeTraversal = edgeHop(labels, "out")

  /** Traverse to in-edges (fermor `in-e`). */
  def inE(labels: String*): EdgeTraversal = edgeHop(labels, "in")

  /** Edges in both directions (fermor `both-e`). */
  def bothE(labels: String*): EdgeTraversal = {
    val o = edgeHop(labels, "out"); val i = edgeHop(labels, "in")
    EdgeTraversal(g, o.df.unionByName(i.df), carried)
  }

  private def edgeHop(labels: Seq[String], dir: String): EdgeTraversal = {
    val anchor = if (dir == "out") "src" else "dst"
    val e = edgesFor(labels)
    val clash = carried.toSet.intersect(e.columns.toSet + "__dir")
    require(clash.isEmpty,
      s"carried column(s) ${clash.mkString(", ")} collide with edge columns on an " +
        "edge hop — rename the carried column (tag/withColumn) before outE/inE/bothE, " +
        "or downstream references to the duplicated name become ambiguous")
    val renamed = e.columns.foldLeft(e)((d, c) => d.withColumnRenamed(c, "__e_" + c))
    val joined = df.join(renamed, df("id") === renamed("__e_" + anchor))
    val edgeCols = e.columns.toSeq.map(c => joined("__e_" + c).as(c))
    val sel = carried.map(c => joined(c)) ++ edgeCols :+ lit(dir).as("__dir")
    EdgeTraversal(g, joined.select(sel: _*), carried)
  }

  /** Filter by a predicate over carried/property columns
    * (fermor `with`/`is`/`has-property` family). */
  def where(cond: Column): Traversal = Traversal(g, df.where(cond))

  /** Keep elements whose id is in / not in a fixed set (fermor with-id / not-id). */
  def withId(ids: Long*): Traversal = where(col("id").isin(ids: _*))
  def notId(ids: Long*): Traversal = where(!col("id").isin(ids: _*))

  /** Keep only vertices of one kind (kind_graph.clj `of-kind`): a pure
    * range filter on the namespaced id — no join needed. */
  def ofKind(kindName: String): Traversal = {
    val tag = Vid.tag(kindName)
    where(col("id") >= tag * Vid.SPAN && col("id") < (tag + 1) * Vid.SPAN)
  }

  /** Join the current frontier back to a kind table to expose its typed
    * property columns (fermor `documents`). Column-pruned: select only what
    * downstream uses and Catalyst prunes the rest at the scan. */
  def props(kindName: String): Traversal =
    Traversal(g, df.join(g.kind(kindName), "id"))

  /** Filter elements on a property of their kind table without keeping the
    * property columns (fermor `has-property`). Semi-join keeps frontier narrow. */
  def hasProperty(kindName: String, cond: Column): Traversal =
    Traversal(g, df.join(g.kind(kindName).where(cond).select("id"), Seq("id"), "left_semi"))

  /** fermor core.clj:826 `lookahead`: keep elements whose sub-traversal is
    * non-empty. Distributed form: LEFT SEMI join against the sub-route keyed
    * by origin — no row explosion, no count materialization. */
  def lookahead(f: Traversal => Traversal): Traversal = {
    val sub = f(Traversal(g, df.select(col("id"), col("id").as("__origin"))))
    val hits = sub.df.select(col("__origin").as("id")).distinct()
    Traversal(g, df.join(hits, Seq("id"), "left_semi"))
  }

  /** fermor core.clj:872 `neg-lookahead`: LEFT ANTI join. */
  def negLookahead(f: Traversal => Traversal): Traversal = {
    val sub = f(Traversal(g, df.select(col("id"), col("id").as("__origin"))))
    val hits = sub.df.select(col("__origin").as("id")).distinct()
    Traversal(g, df.join(hits, Seq("id"), "left_anti"))
  }

  /** fermor core.clj:834 `lookahead` with {min,max} cardinality bounds:
    * count sub-route matches per origin (map-side partial agg), range-filter,
    * then semi-join. When the bounds admit cardinality ZERO (no min, or
    * min <= 0 — the reference's max-only branch keeps empty sub-routes,
    * `count <= max`), the count table can't represent the absent origins, so
    * the zero-admissible form left-joins the counts and coalesces to 0
    * instead of semi-joining. */
  def lookaheadCount(min: Option[Long], max: Option[Long])(f: Traversal => Traversal): Traversal = {
    val sub = f(Traversal(g, df.select(col("id"), col("id").as("__origin"))))
    val counts = sub.df.groupBy("__origin")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
    if (min.exists(_ > 0)) {
      val ok = counts
        .where(col("__n") >= min.get &&
               max.map(col("__n") <= _).getOrElse(lit(true)))
        .select(col("__origin").as("id"))
      Traversal(g, df.join(ok, Seq("id"), "left_semi"))
    } else {
      // counts is keyed by __origin (one row per id), so this left join
      // preserves the frontier's bag cardinality
      val withN = df.join(counts.withColumnRenamed("__origin", "id"), Seq("id"), "left")
        .withColumn("__n", coalesce(col("__n"), lit(0L)))
      Traversal(g, withN.where(max.map(col("__n") <= _).getOrElse(lit(true))).drop("__n"))
    }
  }

  /** fermor core.clj:895 `branch` + merge: run each sub-traversal from the
    * same frontier and bag-union the results (see class doc re round-robin). */
  def branch(fs: (Traversal => Traversal)*): Traversal =
    Traversal(g, fs.map(f => f(this).df).reduce(_.unionByName(_, allowMissingColumns = true)))

  /** fermor core.clj:924 `keyed-branch`: branch where every sub-route's rows
    * carry the branch key in a `__branch` column, so downstream steps can
    * tell the merged streams apart (the distributed analogue of fermor's
    * key-interleaved lazy seq). */
  def keyedBranch(fs: (String, Traversal => Traversal)*): Traversal =
    Traversal(g, fs.map { case (k, f) => f(this).df.withColumn("__branch", lit(k)) }
      .reduce(_.unionByName(_, allowMissingColumns = true)))

  /** fermor `group-count`/`group-by-count`: frequency of a key expression
    * along the route (one shuffle, map-side partial agg). fermor's
    * `sorted-group-count` is `.orderBy` on the result. */
  def groupCount(key: Column): DataFrame =
    df.groupBy(key).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** fermor `group-by-count` (core.clj:1492): invert [[groupCount]] —
    * {count → all keys with that count}. The key set is sorted so the
    * distributed result is deterministic (the reference returns a set). */
  def groupByCount(key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .groupBy("n").agg(sort_array(collect_list(col("k"))).as("keys"))

  /** fermor `group-by-count>1` (core.clj:1522): [[groupByCount]] restricted
    * to repeated keys — the "what occurs more than once" probe. */
  def groupByCountGt1(key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .where(col("n") > 1)
      .groupBy("n").agg(sort_array(collect_list(col("k"))).as("keys"))

  /** fermor `sorted-group-count` (core.clj:1477): [[groupCount]] whose
    * result iterates in key order — the reference returns a `sorted-map`.
    * In a DataFrame the content is identical and the ordering is a
    * presentation property, so this is groupCount + a global key sort (one
    * extra range-partitioned exchange only when the ordering is actually
    * consumed; at 100 TB you'd usually keep the unsorted form). */
  def sortedGroupCount(key: Column): DataFrame =
    groupCount(key.as("k")).orderBy(col("k"))

  /** fermor `sorted-group-by-count` (core.clj:1508): {count → set of keys
    * with that count}, iterating in COUNT order with each key set itself
    * sorted (the reference nests a set inside a sorted-map; the sorted
    * array is the deterministic relational rendering of that set). */
  def sortedGroupByCount(key: Column): DataFrame =
    groupByCount(key).orderBy(col("n"))

  /** fermor `index-by` / `index-by-multi`: build a keyed lookup from the
    * route. A distributed index IS a keyed DataFrame — usable as a join
    * target (exact lookups stay distributed; no driver-side map). */
  def indexBy(key: Column, value: Column): DataFrame =
    df.groupBy(key).agg(sort_array(collect_list(value)).as("values"))

  /** fermor `pluck`: map each route element to an expression value. */
  def pluck(e: Column*): DataFrame = df.select(e: _*)

  /** fermor `distinct-in`: de-duplicate the frontier by id (+carried keys). */
  def distinctIds: Traversal = Traversal(g, df.dropDuplicates("id" +: carried))

  /** fermor `distinct-by`: de-duplicate by an arbitrary key expression,
    * keeping a deterministic representative (min id per key; among same-id
    * ties the LEXICOGRAPHICALLY SMALLEST carried tuple survives — without a
    * tiebreak, which path/tag survives would be a partitioning accident). */
  def distinctBy(key: Column): Traversal = {
    val tie = df.columns.sorted.filterNot(_ == "id").map(c => col(c).asc_nulls_last)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
      .orderBy(col("id").asc +: tie: _*)
    Traversal(g, df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn"))
  }

  /** Top-k per group ordered by `order` (fermor in-sorted / out-sorted /
    * fast-sort-by + drop/take, made deterministic & distributed via a window). */
  def topKPerGroup(groupCol: String, k: Int)(order: Column*): Traversal = {
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    Traversal(g, df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k).drop("__rn"))
  }

  /** fermor core.clj:811 `sorted-section`: run a sub-traversal from each
    * element and emit its results ORDERED within that element's section
    * ("mostly just an example of how to use sections to do sorting"). The
    * lazy-seq model sorts each section in memory; the relational form tags
    * the source id as the section anchor, runs the sub-route set-wise, and a
    * per-anchor window materializes the order as a `section_rank` column
    * (row order alone carries no meaning in a distributed result). */
  def sortedSection(f: Traversal => Traversal)(order: Column*): Traversal = {
    val sec = f(tag("section_of"))
    val w = Window.partitionBy(col("section_of")).orderBy(order: _*)
    Traversal(g, sec.df.withColumn("section_rank", row_number().over(w)))
  }

  /** Reverse accumulated paths (fermor `reverse-paths`). */
  def reversePaths: Traversal =
    Traversal(g, df.withColumn("path", reverse(col("path"))))

  /** Restart path accumulation from the current position (fermor `reset-path`). */
  def resetPath: Traversal =
    Traversal(g, df.withColumn("path", array(col("id"))))

  /** Render paths as readable strings (fermor path printing, path.clj). */
  def pathString(sep: String = "->"): Traversal =
    Traversal(g, df.withColumn("path_str", array_join(col("path"), sep)))

  /** Keep only elements whose path closed a cycle (fermor `is-cycle`):
    * the current element appeared earlier in the path. */
  def isCycle: Traversal =
    where(array_position(slice(col("path"), lit(1), size(col("path")) - 1), col("id")) > 0)

  /** Drop cycle-closing elements (fermor `no-cycle`). */
  def noCycle: Traversal =
    where(array_position(slice(col("path"), lit(1), size(col("path")) - 1), col("id")) === 0)

  /** fermor path.clj:335 `cyclic-path?`: keep elements whose path traversed
    * some EDGE more than once (the reference's "good indicator" of being in
    * a cycle — a repeated consecutive hop pair). Pairs are normalized
    * (least, greatest) so the same edge counts in either direction, matching
    * the undirected edge identity used by [[pathEdges]]. */
  def cyclicPaths: Traversal = {
    val hops = zip_with(
      slice(col("path"), lit(1), size(col("path")) - 1),
      slice(col("path"), lit(2), size(col("path")) - 1),
      (a, b) => struct(least(a, b).as("lo"), greatest(a, b).as("hi")))
    Traversal(g, df.where(size(hops) =!= size(array_distinct(hops))))
  }

  /** fermor path.clj:307 `path?` / `has-path?`: is path tracking on. */
  def hasPaths: Boolean = df.columns.contains("path")

  /** fermor path.clj:287 `no-path` / :317 `no-path!`: drop accumulated paths
    * (narrows every downstream shuffle by the array column). */
  def noPath: Traversal = Traversal(g, df.drop("path"))

  /** fermor core.clj:1308 `with-set`: use THIS route's id set to constrain a
    * derived route — `(with-set filter f2 r)` relationally is a left-semi
    * join of f2(r) against r's ids. Stays a keyed join at any scale; the
    * reference's driver-side `into #{}` set is exactly what a 100 TB route
    * cannot do. */
  def withSetFilter(f2: Traversal => Traversal): Traversal = {
    val ids = df.select("id").dropDuplicates("id")
    Traversal(g, f2(this).df.join(ids, Seq("id"), "left_semi"))
  }

  /** `(with-set remove f2 r)`: the left-anti form (the Gremlin recommender's
    * "drop products the person already bought" step). */
  def withSetRemove(f2: Traversal => Traversal): Traversal = {
    val ids = df.select("id").dropDuplicates("id")
    Traversal(g, f2(this).df.join(ids, Seq("id"), "left_anti"))
  }

  /** fermor path.clj:267 `same-path?` as a set operation: pairs of elements
    * (this × other) whose accumulated paths are IDENTICAL. An equi-join on
    * the path arrays — hash-joinable key, never a cross product. */
  def samePathPairs(other: Traversal): DataFrame =
    df.select(col("id").as("id_a"), col("path"))
      .join(other.df.select(col("id").as("id_b"), col("path")), Seq("path"))
      .select(col("id_a"), col("id_b"), col("path"))

  /** fermor `subgraph` (core.clj:1559): the graph induced by the edges along
    * the route's accumulated paths (requires [[withPaths]]). Our paths hold
    * vertex ids, so consecutive pairs are normalized (least, greatest) and
    * equi-joined back against the edge table to recover labels and edge
    * properties in either traversal direction; kind tables are semi-joined
    * down to the path vertices. All distributed — a subgraph of a 100 TB
    * graph is itself a set of (lazy) DataFrames. */
  def pathSubgraph: PropertyGraph = {
    val steps = df.select(explode(zip_with(
        slice(col("path"), lit(1), size(col("path")) - 1),
        slice(col("path"), lit(2), size(col("path")) - 1),
        (a, b) => struct(least(a, b).as("lo"), greatest(a, b).as("hi")))).as("s"))
      .select(col("s.lo"), col("s.hi")).dropDuplicates("lo", "hi")
    val edges = g.edges.join(steps,
      least(col("src"), col("dst")) === col("lo") &&
        greatest(col("src"), col("dst")) === col("hi"), "left_semi")
    val ids = df.select(explode(col("path")).as("id")).dropDuplicates("id")
    val kinds = g.kinds.map { case (k, kdf) => k -> kdf.join(ids, Seq("id"), "left_semi") }
    PropertyGraph(kinds, edges)
  }

  /** fermor path.clj:325 `path-edges`: the edge rows (labels + properties)
    * traversed by the accumulated paths (requires [[withPaths]]). Paths hold
    * vertex ids, so consecutive hop pairs are normalized (least, greatest)
    * and equi-joined back against the edge table — recovers the edge in
    * either traversal direction, stays a hash join (no OR-condition BNL). */
  def pathEdges: DataFrame = {
    val (hops, hopRows, _) = graft.plans.Scale.checkpointed(df.select(explode(zip_with(
        slice(col("path"), lit(1), size(col("path")) - 1),
        slice(col("path"), lit(2), size(col("path")) - 1),
        (a, b) => struct(least(a, b).as("lo"), greatest(a, b).as("hi")))).as("h"))
      .select(col("h.lo"), col("h.hi")).dropDuplicates("lo", "hi"))
    // the semi join's build side is path-bounded, but its post-agg stats
    // are unknown, so the static plan exchanged AND sorted the |E| edge
    // side on the computed (least, greatest) keys — and AQE did not
    // convert it at runtime. The counted hop set broadcasts within the
    // Scale.guarded budget, so the edge side becomes a pure scan probe;
    // past it (traversal-sized hop sets) the SMJ stands.
    g.edges.join(graft.plans.Scale.guarded(hops, hopRows),
      least(col("src"), col("dst")) === col("lo") &&
        greatest(col("src"), col("dst")) === col("hi"), "left_semi")
  }

  /** fermor path.clj `path-vertices`: every vertex on any accumulated path,
    * with kind (join [[PropertyGraph.vertices]] for typed props per kind). */
  def pathVertices: DataFrame =
    df.select(explode(col("path")).as("id")).dropDuplicates("id").join(g.vertices, "id")

  /** fermor path.clj `subpath`: slice the accumulated path (1-based start). */
  def subpath(start: Int, length: Int): Traversal =
    Traversal(g, df.withColumn("path", slice(col("path"), start, length)))

  /** Escape hatch: arbitrary DataFrame transform while staying in the
    * traversal (fermor routes interleave freely with Clojure seq fns; here
    * the DSL interleaves freely with the DataFrame API — idiomatic Spark). */
  def mapDf(f: DataFrame => DataFrame): Traversal = Traversal(g, f(df))

  def count(): Long = df.count()
}

/** Traversal positioned on edges (fermor's edge routes: out-e/in-e/both-e,
  * out-v/in-v/other-v, label — core.clj:480-540). `__dir` records which side
  * the route entered from so `otherV`/`sameV` are well-defined after bothE. */
final case class EdgeTraversal(g: PropertyGraph, df: DataFrame, carriedCols: Seq[String]) {

  private def toVertex(pick: Column): Traversal = {
    val keep = carriedCols.map(df(_)) :+ pick.as("id")
    val out = df.select(keep: _*)
    val withPath =
      if (carriedCols.contains("path"))
        out.withColumn("path", concat(col("path"), array(col("id"))))
      else out
    Traversal(g, withPath)
  }

  /** Head vertex of the edge (fermor `in-v`). */
  def inV: Traversal = toVertex(col("dst"))
  /** Tail vertex of the edge (fermor `out-v`). */
  def outV: Traversal = toVertex(col("src"))
  /** The vertex we did NOT come from (fermor `other-v`). */
  def otherV: Traversal = toVertex(when(col("__dir") === "out", col("dst")).otherwise(col("src")))
  /** BOTH endpoints of the edge (fermor core.clj `both-v`): bag union of
    * tail and head — each edge element yields two vertex elements. */
  def bothV: Traversal = {
    val t = toVertex(col("src")); val h = toVertex(col("dst"))
    Traversal(g, t.df.unionByName(h.df))
  }
  /** The vertex we came from (fermor `same-v`). */
  def sameV: Traversal = toVertex(when(col("__dir") === "out", col("src")).otherwise(col("dst")))

  def where(cond: Column): EdgeTraversal = EdgeTraversal(g, df.where(cond), carriedCols)

  /** fermor `followed-forward?` / `followed-reverse?`: restrict to edges the
    * route entered from the tail (out) or the head (in). `goOn` continues
    * past the edge in its traversal direction (fermor `go-on`); `goBack`
    * returns to the entry vertex (fermor `go-back`). */
  def followedForward: EdgeTraversal = where(col("__dir") === "out")
  def followedReverse: EdgeTraversal = where(col("__dir") === "in")
  def goOn: Traversal = otherV
  def goBack: Traversal = sameV
}
