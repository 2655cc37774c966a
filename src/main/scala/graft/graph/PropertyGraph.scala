package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Immutable distributed property graph.
  *
  * Spark-first re-expression of the reference's in-memory immutable graph
  * (fermor graph.clj: IGraph over Bifurcan maps, linear/forked builder):
  * here a graph is a pair of DataFrames and is immutable by construction —
  * every "mutation" (addVertices/addEdges/remove*) returns a new value built
  * from a lazy Catalyst plan, so the linear/forked distinction disappears.
  *
  * Schema contract:
  *  - `kinds`: per-kind vertex tables, each with an `id: long` column
  *    (globally namespaced, see [[Vid]]) plus typed property columns.
  *    Per-kind typed tables (instead of one wide sparse table) keep column
  *    pruning and predicate pushdown effective at 100 TB scale.
  *  - `edges`: `src: long`, `dst: long`, `label: string`, plus optional
  *    typed edge-property columns (null for labels that lack them).
  */
final case class PropertyGraph(
    kinds: Map[String, DataFrame],
    edges: DataFrame) {

  /** Unified (id, kind) vertex view. Narrow: two columns only. A graph with
    * zero kind tables has an EMPTY vertex set, not an empty-reduce crash. */
  lazy val vertices: DataFrame =
    if (kinds.isEmpty)
      edges.select(col("src").as("id"), lit("").as("kind")).where(lit(false))
    else
      kinds.toSeq
        .sortBy(_._1)
        .map { case (k, df) => df.select(col("id"), lit(k).as("kind")) }
        .reduce(_.unionAll(_))

  def kind(name: String): DataFrame = kinds(name)

  def hasVertex(id: Long): Boolean =
    !vertices.where(col("id") === id).isEmpty

  def vertex(id: Long): DataFrame = vertices.where(col("id") === id)

  /** Edge lookup (fermor core.clj `get-edge`). */
  def edge(src: Long, dst: Long, label: String): DataFrame =
    edges.where(col("src") === src && col("dst") === dst && col("label") === label)

  /** Exact row count of the `labels`-filtered edge slice (all edges when
    * empty), when the loader registered counts for THIS edges instance —
    * see [[PropertyGraph.registerLabelRows]]. None on mutated/unregistered
    * graphs. */
  def labelRows(labels: Seq[String]): Option[Long] =
    PropertyGraph.labelRowsOf(edges, labels)

  /** The label-filtered edge view every hop joins, broadcast-hinted when
    * the registered exact count fits the shared row guard
    * [[graft.plans.Scale.bcastRows]] (guide §3.1): the hop join becomes a
    * map-side probe of the frontier — no |E|-slice exchange, no frontier
    * exchange. Over cached edges (Tpch's shareScans) every hop builds its
    * own broadcast: Spark 4.1 plans each cached scan as a query stage of its
    * own and reuses no exchange above one, so identical hinted slices in one
    * plan are not shared. Unknown or over-guard sizes keep the shuffle plan
    * untouched. */
  def labeledEdges(labels: Seq[String]): DataFrame = {
    val base = if (labels.isEmpty) edges else edges.where(col("label").isin(labels: _*))
    if (labelRows(labels).exists(_ <= graft.plans.Scale.bcastRows)) broadcast(base) else base
  }

  /** fermor core.clj `add-vertices`: union new rows into a kind table. */
  def addVertices(kindName: String, rows: DataFrame): PropertyGraph =
    copy(kinds = kinds.updated(
      kindName,
      kinds.get(kindName).map(_.unionByName(rows, allowMissingColumns = true)).getOrElse(rows)))

  /** fermor core.clj `add-edges`: union new edge rows. */
  def addEdges(rows: DataFrame): PropertyGraph =
    copy(edges = edges.unionByName(rows, allowMissingColumns = true))

  /** fermor core.clj `set-document`/`update-document`: replace or merge the
    * property columns of matching vertices in a kind table. `updates` must
    * carry an `id` column; its other columns overwrite same-named columns
    * (outer-join semantics: unmatched vertices keep their old values). */
  def withVertexProps(kindName: String, updates: DataFrame): PropertyGraph = {
    val old = kinds(kindName)
    // ONE update row per id: duplicate ids in `updates` would fan the left
    // join out and duplicate vertex rows. The survivor is deterministic
    // (stable row-hash, the same tiebreak merge uses), not a partitioning
    // accident.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(xxhash64(updates.columns.sorted.map(col): _*).asc)
    val up1 = updates.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    val overlap = updates.columns.filter(c => c != "id" && old.columns.contains(c))
    val renamedNew = overlap.foldLeft(up1)((d, c) => d.withColumnRenamed(c, "__new_" + c))
    val joined = old.join(renamedNew, Seq("id"), "left")
    val merged = overlap.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col("__new_" + c), col(c))).drop("__new_" + c))
    copy(kinds = kinds.updated(kindName, merged))
  }

  /** fermor graph.clj `remove-vertex`: drop vertices and incident edges.
    * Anti-joins, so the removal set can itself be huge (no driver collect). */
  def removeVertices(ids: DataFrame): PropertyGraph = {
    val idsDf = ids.select(col(ids.columns.head).as("id"))
    PropertyGraph(
      kinds.map { case (k, df) => k -> df.join(idsDf, Seq("id"), "left_anti") },
      edges
        .join(idsDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(idsDf.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
  }

  /** Restrict to a subset of edge labels (fermor graph.clj edge-graph).
    * A pure filter — pushed down to the edge source scan. */
  def edgeSubgraph(labels: String*): PropertyGraph =
    copy(edges = edges.where(col("label").isin(labels: _*)))

  /** fermor graph.clj:75 `remove-all-edges`: drop every edge carrying one of
    * the given labels — the complement of [[edgeSubgraph]], same pure
    * pushed-down filter. NULL labels are explicitly kept: `NOT IN` alone is
    * three-valued and would silently drop them. */
  def removeEdgeLabels(labels: String*): PropertyGraph =
    copy(edges = edges.where(col("label").isNull || !col("label").isin(labels: _*)))

  /** Remove specific edges by (src, dst, label) triple — the per-edge form
    * of [[removeEdgeLabels]] (the reference deletes per-label edge graphs;
    * per-edge removal falls out of its linear builder). Anti-join, so the
    * removal set can itself be a huge DataFrame. */
  def removeEdges(rows: DataFrame): PropertyGraph =
    copy(edges = edges.join(rows.select("src", "dst", "label"),
      Seq("src", "dst", "label"), "left_anti"))

  /** Distinct edge labels present (fermor graph.clj `labels`). */
  def labels: Seq[String] =
    edges.select("label").distinct().collect().map(_.getString(0)).sorted.toSeq

  /** One label-restricted subgraph per present label (fermor `edge-graphs`). */
  def edgeGraphs: Map[String, PropertyGraph] =
    labels.map(l => l -> edgeSubgraph(l)).toMap

  /** Vertices that have at least one `label` edge in the given direction
    * (fermor graph.clj `vertices-with-edge`): a semi-join — no fan-out. */
  def verticesWithEdge(label: String, direction: String = "out"): DataFrame = {
    val keys = direction match {
      case "out"  => Seq("src")
      case "in"   => Seq("dst")
      case _      => Seq("src", "dst")
    }
    val e = edges.where(col("label") === label)
    val ids = keys.map(k => e.select(col(k).as("id"))).reduce(_.unionAll(_))
    vertices.join(ids.dropDuplicates("id"), Seq("id"), "left_semi")
  }

  /** fermor graph.clj `add-unique-edge`: one edge per (src, dst, label)
    * triple — a re-added triple REPLACES the existing edge's document (the
    * reference's later-wins semantics, see its edge-flavours test), unlike
    * [[addEdges]], which keeps parallel edges (fermor `add-parallel-edge`).
    * The survivor is picked by a deterministic priority window (new batch
    * over existing, then max remaining columns): a DataFrame batch is a
    * SET, so the reference's within-seq ordering maps to call order here —
    * partitioning never changes the result. */
  def addUniqueEdges(rows: DataFrame): PropertyGraph = {
    val keyCols = Seq("src", "dst", "label")
    // scope the uniquing to triples the BATCH mentions: the reference's
    // add-unique-edge only affects the added triple — pre-existing parallel
    // edges of untouched triples must survive (a global window silently
    // collapsed them)
    val batchKeys = rows.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    val untouched = edges.join(batchKeys, keyCols, "left_anti")
    val touched = edges.join(batchKeys, keyCols, "left_semi")
    val all = touched.withColumn("__prio", lit(0))
      .unionByName(rows.withColumn("__prio", lit(1)), allowMissingColumns = true)
    val others = all.columns.filterNot((keyCols :+ "__prio").toSet)
    val order = col("__prio").desc +: others.map(c => col(c).desc_nulls_last)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val resolved = all.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn", "__prio")
    copy(edges = untouched.unionByName(resolved, allowMissingColumns = true))
  }

  /** fermor graph.clj:323 `add-unique-weighted-edge`: adding an edge whose
    * (src, dst, label) already exists SUMS its weight into the existing one
    * instead of duplicating (addEdges) or dropping (addUniqueEdges). Weights
    * are forced to double; a null/missing weight takes `defaultWeight`, as
    * the reference's builder does. Any other edge-property columns keep
    * their deterministic minimum across the combined rows (the reference's
    * weighted builder carries no other document fields). */
  def addUniqueWeightedEdges(rows: DataFrame, weightCol: String = "weight",
      defaultWeight: Double = 1.0): PropertyGraph = {
    val keyCols = Seq("src", "dst", "label")
    // combine ONLY triples the batch mentions: a global groupBy silently
    // merged unrelated pre-existing parallel edges (summing their weights)
    // and coerced every unrelated null weight to defaultWeight
    val batchKeys = rows.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    val untouched0 = edges.join(batchKeys, keyCols, "left_anti")
    val untouched = // unify the weight type for the union; values untouched
      if (untouched0.columns.contains(weightCol))
        untouched0.withColumn(weightCol, col(weightCol).cast("double"))
      else untouched0
    val touched = edges.join(batchKeys, keyCols, "left_semi")
    val all = touched.unionByName(rows, allowMissingColumns = true)
      .withColumn(weightCol, coalesce(col(weightCol).cast("double"), lit(defaultWeight)))
    val others = all.columns.filterNot((keyCols :+ weightCol).toSet)
    val aggs = sum(col(weightCol)).as(weightCol) +: others.map(c => min(col(c)).as(c))
    val combined = all.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    copy(edges = untouched.unionByName(combined, allowMissingColumns = true))
  }

  /** Bag-exact graph equality (fermor graph.clj `graph-equality` /
    * `document-equality?`): same kinds, same vertex rows (documents
    * included), same edge multiset. Distributed via exceptAll both ways —
    * no driver materialization. */
  def sameAs(other: PropertyGraph): Boolean = {
    def bagEqual(a: DataFrame, b: DataFrame): Boolean =
      a.columns.sorted.sameElements(b.columns.sorted) && {
        // checkpoint decouples the two plans (exceptAll against a
        // re-projection of the SAME plan trips Catalyst attribute rebinding);
        // |A| == |B| plus A∖B = ∅ (bag difference) already implies equality
        val bb = b.select(a.columns.map(col).toIndexedSeq: _*).localCheckpoint(false)
        a.count() == bb.count() && a.exceptAll(bb).isEmpty
      }
    kinds.keySet == other.kinds.keySet &&
      kinds.forall { case (k, df) => bagEqual(df, other.kinds(k)) } &&
      bagEqual(edges, other.edges)
  }

  /** Merge two graphs (fermor graph.clj `merge`: "when edges or documents
    * conflict, keep the later ones"): kind-wise vertex union where a same-id
    * row in `other` deterministically REPLACES this graph's row (source
    * priority + window, not an arbitrary dropDuplicates survivor), and edge
    * bag union (parallel edges are first-class, so edge rows never collapse). */
  def merge(other: PropertyGraph): PropertyGraph = {
    import org.apache.spark.sql.expressions.Window
    val mergedKinds = (kinds.keySet ++ other.kinds.keySet).map { k =>
      val m = (kinds.get(k), other.kinds.get(k)) match {
        case (Some(a), Some(b)) =>
          val tagged = a.withColumn("__pri", lit(0))
            .unionByName(b.withColumn("__pri", lit(1)), allowMissingColumns = true)
          // second sort key: if an INPUT carries duplicate rows for one id,
          // the survivor is still deterministic (stable row-hash tiebreak),
          // not a partitioning accident
          val rowHash = xxhash64(tagged.columns.filter(_ != "__pri").sorted.map(col): _*)
          val w = Window.partitionBy("id").orderBy(col("__pri").desc, rowHash.asc)
          tagged.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__pri", "__rn")
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => throw new IllegalStateException(s"unreachable kind $k")
      }
      k -> m
    }.toMap
    PropertyGraph(mergedKinds, edges.unionByName(other.edges, allowMissingColumns = true))
  }

  /** fermor graph.clj `merge-with` (:531): merge graphs resolving conflicts
    * with caller-supplied functions instead of later-wins. The Clojure form
    * passes whole conflicting documents to a binary fn; the relational form
    * is a PER-COLUMN resolver map — e.g. `"weight" -> (a, b) => a + b`,
    * `"tags" -> (a, b) => array_union(a, b)` — applied where an id (for
    * vertices) or a (src, dst, label) triple (for edges) exists in BOTH
    * graphs. Columns without a resolver take the later graph's value
    * (`merge` at graph.clj:555 is exactly this specialization); rows present
    * on one side only pass through.
    *
    * Edge identity note: the reference's adjacency maps hold ONE edge
    * document per (from, to) per label, so edge conflict resolution is
    * defined on that key; parallel duplicates of a triple WITHIN one input
    * are first collapsed deterministically (stable-hash survivor) before
    * cross-graph resolution. Plain [[merge]] instead keeps the full edge
    * bag. */
  def mergeWith(other: PropertyGraph,
      resolveDoc: Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column] = Map.empty,
      resolveEdge: Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column] = Map.empty): PropertyGraph = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // full-outer keyed join; per non-key column: one-sided rows pass through,
    // both-sided rows resolve (custom fn or later-wins)
    def resolveJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
        resolve: Map[String, (Column, Column) => Column]): DataFrame = {
      // explicit presence markers: testing keys.head IS NOT NULL contradicts
      // the null-safe <=> join — a row whose first key column is NULL would
      // read as "absent" on both sides and bypass the resolver
      val la = a.withColumn("__lp", lit(true)).as("l")
      val rb = b.withColumn("__rp", lit(true)).as("r")
      val cond = keys.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
      val joined = la.join(rb, cond, "full_outer")
      val inL = a.columns.toSet; val inR = b.columns.toSet
      val lPresent = col("l.__lp").isNotNull
      val rPresent = col("r.__rp").isNotNull
      val keyCols = keys.map(k => coalesce(col(s"l.$k"), col(s"r.$k")).as(k))
      val valCols = (a.columns ++ b.columns).distinct.filterNot(keys.contains).map { c =>
        val out =
          if (inL(c) && inR(c))
            when(!rPresent, col(s"l.$c"))
              .when(!lPresent, col(s"r.$c"))
              .otherwise(resolve.get(c).map(f => f(col(s"l.$c"), col(s"r.$c")))
                .getOrElse(col(s"r.$c")))
          else if (inL(c)) col(s"l.$c") else col(s"r.$c")
        out.as(c)
      }
      joined.select(keyCols ++ valCols: _*)
    }
    def dedupTriples(e: DataFrame): DataFrame = {
      val keys = Seq("src", "dst", "label")
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(xxhash64(e.columns.sorted.map(col): _*).asc)
      e.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    }
    val mergedKinds = (kinds.keySet ++ other.kinds.keySet).map { k =>
      val m = (kinds.get(k), other.kinds.get(k)) match {
        case (Some(a), Some(b)) => resolveJoin(a, b, Seq("id"), resolveDoc)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => throw new IllegalStateException(s"unreachable kind $k")
      }
      k -> m
    }.toMap
    val mergedEdges =
      resolveJoin(dedupTriples(edges), dedupTriples(other.edges),
        Seq("src", "dst", "label"), resolveEdge)
    PropertyGraph(mergedKinds, mergedEdges)
  }

  /** Reverse every edge (fermor core.clj `transpose`). Column swap only —
    * no shuffle, no data movement. */
  def transpose: PropertyGraph =
    copy(edges = edges
      .withColumnsRenamed(Map("src" -> "__t", "dst" -> "src"))
      .withColumnRenamed("__t", "dst"))

  /** Start a traversal from every vertex (fermor `all-vertices`). */
  def allVertices: Traversal = Traversal(this, vertices.select("id"))

  /** Start a traversal from one kind's vertices. */
  def ofKind(name: String): Traversal = Traversal(this, kinds(name).select("id"))

  /** Start a traversal from an arbitrary frontier. The `id` column (or, if
    * absent, the first column, renamed) holds vertex ids; all other columns
    * ride along as carried provenance. */
  def from(ids: DataFrame): Traversal =
    if (ids.columns.contains("id")) Traversal(this, ids)
    else Traversal(this, ids.withColumnRenamed(ids.columns.head, "id"))

  /** fermor core.clj:848 `lookahead-element`: the per-element arity of
    * lookahead — returns the element iff the sub-traversal rooted at it is
    * non-empty. Compiles to the SAME left-semi plan as the route-level
    * [[Traversal.lookahead]], just on a one-row frontier, so the migration
    * path for filter-heavy per-element reference code is a direct rename. */
  def lookaheadElement(e: Long)(f: Traversal => Traversal): Option[Long] =
    lookaheadElementCount(e, None, None)(f)

  /** The {min,max} arity of [[lookaheadElement]] (core.clj:852): the element
    * survives iff its sub-route's cardinality lies in [min, max] (either
    * bound optional, both inclusive — the reference's `take`-based
    * short-circuit is a lazy-seq economy; the relational count is one agg). */
  def lookaheadElementCount(e: Long, min: Option[Long], max: Option[Long])(
      f: Traversal => Traversal): Option[Long] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val one = from(Seq(e).toDF("id"))
    val kept =
      if (min.isEmpty && max.isEmpty) one.lookahead(f)
      else one.lookaheadCount(min, max)(f)
    if (kept.df.limit(1).count() > 0) Some(e) else None
  }

  /** Register the graph as SQL temp views (`g_vertices`, `g_edges`,
    * `g_<kind>`) so traversals can be written in plain Spark SQL — the
    * second query surface next to the fluent DSL. */
  def createViews(spark: SparkSession, prefix: String = "g_"): Unit = {
    vertices.createOrReplaceTempView(prefix + "vertices")
    edges.createOrReplaceTempView(prefix + "edges")
    kinds.foreach { case (k, df) => df.createOrReplaceTempView(prefix + k) }
  }

  /** DECLARATIVE MOTIF FINDING (the pattern-matching query surface next to
    * the fluent DSL and SQL views — GraphFrames' `find` dialect, the
    * Spark-native rendering of the Cypher-ish patterns a fermor user writes
    * as nested traversals): a pattern is `;`-separated edge terms
    *
    *   `(a)-[label]->(b)`   edge with that label binds vertex vars a, b
    *   `(a)-[]->(b)`        any label
    *   `(a)-[label]-(b)`    UNDIRECTED: either orientation matches
    *   `(a)-[label*1..3]->(b)` VARIABLE-LENGTH: 1 to 3 hops (≤8; Cypher's
    *                        star — a union of fixed-length chain joins)
    *   `(a:kind)`           kind annotation — semi-join restriction
    *   `(a=123)`            id anchor — a pushed-down equality (get-vertex
    *                        point queries; combines as `(a:kind=123)`)
    *   `()`                 anonymous vertex — matched but not returned
    *   `!(a)-[label]->(b)`  NEGATION: no such edge exists (vars must be
    *                        bound by positive terms; anonymous = "none at all")
    *
    * Returns one column per named variable (vertex id), bag semantics —
    * one row per distinct binding of ALL variables including anonymous
    * ones, so multiplicities mirror the traversal DSL's.
    *
    * Compilation: each positive term is the (label-filtered) edge table
    * renamed to its variables, equi-joined on whatever variables it shares
    * with the bindings so far (a chain compiles to the same keyed
    * hash-join cascade the fluent `out()` produces; a term sharing BOTH
    * endpoints closes cycles — triangles — on a two-column key). Negated
    * terms project onto their bound variables and LEFT-ANTI join. Positive
    * terms are joined in GREEDY CONNECTIVITY order (each joined term shares
    * a variable with the bindings so far), so a connected pattern is
    * accepted however its terms are ordered; a pattern that is disconnected
    * AS A WHOLE is rejected by default — semantically a cartesian product,
    * and at scale the overwhelmingly common cause is a typo'd variable
    * name, which would silently explode into |V|² rows. Pass
    * `allowDisconnected = true` to state the product is intended. */
  def motif(pattern: String, allowDisconnected: Boolean = false): DataFrame = {
    val vtx = raw"""\(([A-Za-z_]\w*)?(?::([A-Za-z_]\w*))?(?:=(-?\d+))?\)"""
    val termRe = raw"""(!?)$vtx-\[([A-Za-z_]\w*)?(?:\*(\d+)\.\.(\d+))?\](->|-)$vtx""".r
    var anon = 0
    val kindOf = scala.collection.mutable.HashMap[String, String]()
    val anchorOf = scala.collection.mutable.HashMap[String, Long]()
    val terms = pattern.split(";").map(_.trim).filter(_.nonEmpty).map {
      case termRe(neg, sv, sk, sa, lbl, lo, hi, arrow, dv, dk, da) =>
        def v(n: String, kd: String, anchor: String): String = {
          Option(n).filter(_.startsWith("__")).foreach(bad =>
            throw new IllegalArgumentException(
              s"motif variable '$bad' uses the reserved '__' prefix (internal " +
                "names like __anon1/__vl live there); rename it"))
          val name = Option(n).filter(_.nonEmpty).getOrElse { anon += 1; s"__anon$anon" }
          Option(kd).filter(_.nonEmpty).foreach { kk =>
            kindOf.get(name).filter(_ != kk).foreach(prev =>
              throw new IllegalArgumentException(
                s"motif variable $name annotated with two kinds: $prev and $kk"))
            kindOf(name) = kk
          }
          Option(anchor).filter(_.nonEmpty).foreach { av =>
            val a = av.toLong
            anchorOf.get(name).filter(_ != a).foreach(prev =>
              throw new IllegalArgumentException(
                s"motif variable $name anchored to two ids: $prev and $a"))
            anchorOf(name) = a
          }
          name
        }
        val (mn, mx) =
          if (lo == null) (1, 1)
          else {
            require(arrow == "->", s"variable-length motif terms must be directed: '$pattern'")
            val (a, b) = (lo.toInt, hi.toInt)
            require(a >= 1 && b >= a && b <= 8,
              s"motif star range *$a..$b out of bounds (1 <= min <= max <= 8)")
            (a, b)
          }
        (neg == "!", v(sv, sk, sa), Option(lbl).filter(_.nonEmpty), v(dv, dk, da), arrow == "-", mn, mx)
      case t => throw new IllegalArgumentException(
        s"motif term '$t' is not (a[:kind])-[label]->(b[:kind]), its undirected " +
          "-[label]- or variable-length -[label*1..3]-> form, or a !-negation of one")
    }.toSeq
    require(terms.exists(!_._1), "motif needs at least one positive term")
    kindOf.valuesIterator.foreach(kk => require(kinds.contains(kk),
      s"motif kind annotation :$kk names no kind table (have: ${kinds.keys.mkString(", ")})"))
    def term(sv: String, lbl: Option[String], dv: String, undirected: Boolean,
        mn: Int, mx: Int): DataFrame = {
      // loader-counted small label slices broadcast: the cascade's keyed
      // joins become map-side probes, one build per term (no exchange is
      // reused above a cached scan); unknown/large slices keep the shuffle join
      val e = labeledEdges(lbl.toSeq)
      def chain(len: Int): DataFrame = {
        // len-hop chain with internal join columns — Cypher's `*min..max`
        // expands to a union of fixed-length keyed-join chains (bag
        // semantics: one row per PATH instance, like the fluent out().out())
        var df = e.select(col("src").as(sv), col("dst").as("__vl"))
        (2 to len).foreach { _ =>
          df = df.join(e.select(col("src").as("__vl"), col("dst").as("__vl2")), "__vl")
            .drop("__vl").withColumnRenamed("__vl2", "__vl")
        }
        if (sv == dv) df.where(col(sv) === col("__vl")).select(col(sv))
        else df.withColumnRenamed("__vl", dv)
      }
      if (mx > 1) (mn to mx).map(chain).reduce(_.unionAll(_))
      else if (sv == dv)
        e.where(col("src") === col("dst")).select(col("src").as(sv))
      else {
        val fwd = e.select(col("src").as(sv), col("dst").as(dv))
        // undirected `-[l]-`: either orientation matches (Cypher's
        // relationship-direction-agnostic form) — the union keeps bag
        // semantics, so a physical edge binds (a,b) AND (b,a)
        if (undirected) fwd.unionAll(e.select(col("dst").as(sv), col("src").as(dv)))
        else fwd
      }
    }
    // positive terms join greedily: always pick a not-yet-joined term that
    // shares a variable with the bindings so far, so a CONNECTED pattern is
    // accepted (and compiled as keyed joins) regardless of the order its
    // terms are written in — "(a)->(b); (c)->(d); (b)->(c)" is a path, not a
    // product, even though term 2 touches term 1 only through term 3. Only
    // when NO remaining term connects is the pattern genuinely disconnected.
    val remaining = scala.collection.mutable.ArrayBuffer(terms.filter(!_._1): _*)
    var acc: DataFrame = null
    while (remaining.nonEmpty) {
      val idx =
        if (acc == null) 0
        else {
          val cols = acc.columns.toSet
          remaining.indexWhere(t => cols.contains(t._2) || cols.contains(t._4))
        }
      if (idx >= 0) {
        val t = remaining.remove(idx)
        val e = term(t._2, t._3, t._4, t._5, t._6, t._7)
        acc = if (acc == null) e
          else acc.join(e, acc.columns.intersect(e.columns).toSeq)
      } else if (allowDisconnected) {
        val t = remaining.remove(0)
        acc = acc.crossJoin(term(t._2, t._3, t._4, t._5, t._6, t._7))
      } else {
        val vars = remaining.flatMap(t => Seq(t._2, t._4)).distinct
          .filterNot(_.startsWith("__anon"))
        throw new IllegalArgumentException(
          s"motif terms over (${vars.mkString(", ")}) share no variable with " +
            "the rest of the pattern — a cartesian product. If the disconnected " +
            "pattern is intended, pass allowDisconnected = true; otherwise check " +
            "the variable names (this usually flags a typo).")
      }
    }
    val bound = acc
    val full = terms.filter(_._1).foldLeft(bound) { case (acc, (_, sv, lbl, dv, und, mn, mx)) =>
      val e = term(sv, lbl, dv, und, mn, mx)
      val shared = acc.columns.intersect(e.columns).toSeq
      require(shared.nonEmpty,
        s"negated motif term over ($sv)->($dv) shares no bound variable with the positive terms")
      acc.join(e.select(shared.map(col): _*), shared, "left_anti")
    }
    // kind annotations: each annotated variable semi-joins its kind table
    // (a narrow id set — broadcast-eligible; restriction, never fan-out)
    val kinded0 = kindOf.toSeq.sortBy(_._1).foldLeft(full) { case (acc, (name, kk)) =>
      acc.join(kinds(kk).select(col("id").as(name)), Seq(name), "left_semi")
    }
    // id anchors `(a=123)`: plain pushed-down equality predicates — the
    // get-vertex/point-query arity of the pattern surface
    val kinded = anchorOf.toSeq.sortBy(_._1).foldLeft(kinded0) { case (acc, (name, a)) =>
      acc.where(col(name) === a)
    }
    // named variables in first-appearance order (join/anti-join column
    // reordering must not leak into the result contract)
    val named = terms.filter(!_._1).flatMap(t => Seq(t._2, t._4))
      .distinct.filterNot(_.startsWith("__anon"))
    require(named.nonEmpty,
      "motif pattern binds no named variables — every vertex is anonymous, so " +
        "there is nothing to return; name at least one, e.g. (a)-[knows]->()")
    kinded.select(named.map(col): _*)
  }

  /** fermor core.clj:89 `add-edges-from`: fan edges out from ONE vertex to
    * every vertex in `vs` under `label`. `vs` needs an `id` column; any
    * OTHER columns it carries become edge-property columns (the reference's
    * optional per-edge `edge-documents` arity, zipped positionally there —
    * here each row already pairs its target with its document columns, which
    * is the same contract without the positional fragility). */
  def addEdgesFrom(label: String, from: Long, vs: DataFrame): PropertyGraph =
    addEdges(vs.select(
      lit(from).as("src") +: col("id").as("dst") +: lit(label).as("label") +:
        vs.columns.filterNot(_ == "id").map(col): _*))

  /** fermor core.clj:113 `add-edges-to`: the mirror of [[addEdgesFrom]] —
    * fan edges from every vertex in `vs` into ONE target vertex. */
  def addEdgesTo(label: String, vs: DataFrame, to: Long): PropertyGraph =
    addEdges(vs.select(
      col("id").as("src") +: lit(to).as("dst") +: lit(label).as("label") +:
        vs.columns.filterNot(_ == "id").map(col): _*))

  /** GraphX interop (plays the role of fermor's loom adapter): the unified
    * long-id vertex/edge RDD view for iterative algorithms. */
  def toGraphX(implicit spark: SparkSession): org.apache.spark.graphx.Graph[Long, String] = {
    import org.apache.spark.graphx.{Edge, Graph}
    val vs = vertices.select("id").rdd.map(r => (r.getLong(0), r.getLong(0)))
    val es = edges.select("src", "dst", "label").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    Graph(vs, es)
  }
}

object PropertyGraph {

  /** Exact per-label edge counts, registered by the loader for the EXACT
    * persisted edges DataFrame instance (identity-keyed, weakly held).
    * Every traversal hop joins a label-filtered slice of `edges` whose size
    * Catalyst cannot estimate (the label filter's selectivity over the
    * cached union is unknown), so the planner falls to SortMergeJoin and
    * re-exchanges the frontier AND the slice per hop. With the loader's
    * one-time `groupBy(label).count()` (amortized over every graph query on
    * the shared session), a measured-small slice broadcasts with ZERO
    * per-query probes — and because the key is the DataFrame reference, any
    * edge mutation (addEdges/removeVertices/transpose/...) produces a new
    * DataFrame that simply has no entry: stale counts are unrepresentable,
    * mutated graphs just lose the hint. */
  private val edgeLabelRows = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, (Long, Map[String, Long])]())
  def registerLabelRows(edges: DataFrame, total: Long,
      perLabel: Map[String, Long]): Unit =
    edgeLabelRows.put(edges, (total, perLabel))
  private[graft] def labelRowsOf(edges: DataFrame,
      labels: Seq[String]): Option[Long] =
    Option(edgeLabelRows.get(edges)).map { case (total, per) =>
      if (labels.isEmpty) total
      else labels.iterator.map(per.getOrElse(_, 0L)).sum
    }

  /** fermor graph.clj `graph-from-triples`: build a graph from a bag of
    * `(src, label, dst)` triples (plus optional edge-property columns).
    * Vertices are derived as the distinct endpoint set under one `kindName`
    * kind table — the reference's triples carry no documents either; use
    * [[PropertyGraph.withVertexProps]] to attach them afterwards. One
    * narrow distinct over the union of both endpoint columns; edges keep
    * whatever extra columns `triples` carries. */
  def fromTriples(triples: DataFrame, kindName: String = "vertex"): PropertyGraph = {
    val es = triples.select(
      col("src").cast("long").as("src") +: col("dst").cast("long").as("dst") +:
        col("label").cast("string").as("label") +:
        triples.columns.filterNot(Set("src", "dst", "label")).map(col): _*)
    val vs = es.select(col("src").as("id"))
      .unionAll(es.select(col("dst").as("id")))
      .distinct()
    PropertyGraph(Map(kindName -> vs), es)
  }
}
