package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.graph.{Descend, PropertyGraph, Traversal}

/** Traversal semantics on the reference's own example graph: the job-seekers
  * graph from fermor gremlin_examples_test.clj (bob/stephen applications →
  * jobs ← companies), plus a cyclic graph for descend/cycle ops. */
class TraversalSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // vertex ids: people 1-2, applications 11-14, jobs 21-24, companies 31-32
  val bob = 1L; val stephen = 2L
  val appBob1 = 11L; val appBob2 = 12L; val appStephen1 = 13L; val appStephen2 = 14L
  val blueprintsJob1 = 21L; val blueprintsJob2 = 22L; val blueprintsJob3 = 23L; val rexsterJob1 = 24L
  val blueprints = 31L; val rexster = 32L

  lazy val jobGraph: PropertyGraph = {
    val people = Seq((bob, "Bob"), (stephen, "Stephen")).toDF("id", "name")
    val apps = Seq(appBob1, appBob2, appStephen1, appStephen2).toDF("id")
    val jobs = Seq(blueprintsJob1, blueprintsJob2, blueprintsJob3, rexsterJob1).toDF("id")
    val companies = Seq((blueprints, "Blueprints, Inc"), (rexster, "Rexster, LLC")).toDF("id", "name")
    val edges = (
      Seq((bob, appBob1), (bob, appBob2), (stephen, appStephen1), (stephen, appStephen2))
        .map { case (s, d) => (s, d, "completes") } ++
      Seq((appBob1, blueprintsJob1), (appBob2, blueprintsJob2),
          (appStephen1, rexsterJob1), (appStephen2, blueprintsJob3))
        .map { case (s, d) => (s, d, "appliesTo") } ++
      Seq((blueprints, blueprintsJob1), (blueprints, blueprintsJob2),
          (blueprints, blueprintsJob3), (rexster, rexsterJob1))
        .map { case (s, d) => (s, d, "created") }
    ).toDF("src", "dst", "label")
    PropertyGraph(
      Map("person" -> people, "application" -> apps, "job" -> jobs, "company" -> companies),
      edges)
  }

  def ids(t: Traversal): Set[Long] = t.df.select("id").as[Long].collect().toSet

  test("gremlin recipe: jobs Stephen applied to, with their creating company") {
    // fermor gremlin_examples_test.clj `query`: for each job, its creator
    // company and the applications by `person` that apply to it.
    val t = jobGraph.from(jobGraph.kind("job"))
      .tag("job")
      .lookahead(_.in("appliesTo").in("completes").where(col("id") === stephen))
    val rows = t.tag("jobv").inE("created").outV
      .df.select(col("job"), col("id").as("company")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((blueprintsJob3, blueprints), (rexsterJob1, rexster)))
  }

  test("out follows edges forward, in follows reverse, both unions") {
    assert(ids(jobGraph.from(Seq(bob).toDF("id")).out("completes")) === Set(appBob1, appBob2))
    assert(ids(jobGraph.from(Seq(blueprintsJob1).toDF("id")).in("appliesTo")) === Set(appBob1))
    assert(ids(jobGraph.from(Seq(appBob1).toDF("id")).both()) === Set(bob, blueprintsJob1))
  }

  test("bag semantics: out emits one row per edge") {
    val t = jobGraph.from(jobGraph.kind("company")).out("created")
    assert(t.count() === 4)
  }

  test("negLookahead keeps elements with empty sub-traversal") {
    // jobs nobody applied to via an application completed by bob
    val t = jobGraph.from(jobGraph.kind("job"))
      .negLookahead(_.in("appliesTo").in("completes").where(col("id") === bob))
    assert(ids(t) === Set(blueprintsJob3, rexsterJob1))
  }

  test("lookaheadCount bounds cardinality") {
    // companies that created at least 3 jobs
    val t = jobGraph.from(jobGraph.kind("company"))
      .lookaheadCount(Some(3), None)(_.out("created"))
    assert(ids(t) === Set(blueprints))
    // max-only admits cardinality ZERO (core.clj:846 `count <= max`):
    // people who completed at most 1 application — nobody completed any
    // from the application frontier, so ALL its elements survive max-only
    val zeroOk = jobGraph.from(jobGraph.kind("application"))
      .lookaheadCount(None, Some(1))(_.out("completes"))
    assert(ids(zeroOk) === Set(appBob1, appBob2, appStephen1, appStephen2))
    // ... and the at-least form still drops them all
    val zeroDrop = jobGraph.from(jobGraph.kind("application"))
      .lookaheadCount(Some(1), None)(_.out("completes"))
    assert(ids(zeroDrop) === Set.empty[Long])
    // element arity: max-only keeps an element with an empty sub-route
    assert(jobGraph.lookaheadElementCount(appBob1, None, Some(2L))(_.out("completes"))
      === Some(appBob1))
  }

  test("lookaheadElement: per-element arity returns the element or None") {
    // core.clj:848 contract: (lookahead-element f e) => e when (f e) is
    // non-empty, else nil — here: did this job receive a Stephen application?
    val sub = (t: Traversal) => t.in("appliesTo").in("completes").where(col("id") === stephen)
    assert(jobGraph.lookaheadElement(rexsterJob1)(sub) === Some(rexsterJob1))
    assert(jobGraph.lookaheadElement(blueprintsJob1)(sub) === None)
    // {min,max} arity (core.clj:852): blueprints created 3 jobs, rexster 1
    assert(jobGraph.lookaheadElementCount(blueprints, Some(3L), None)(_.out("created"))
      === Some(blueprints))
    assert(jobGraph.lookaheadElementCount(rexster, Some(3L), None)(_.out("created")) === None)
    assert(jobGraph.lookaheadElementCount(blueprints, None, Some(2L))(_.out("created")) === None)
    assert(jobGraph.lookaheadElementCount(rexster, Some(1L), Some(2L))(_.out("created"))
      === Some(rexster))
  }

  test("withPaths accumulates the traversal path") {
    val paths = jobGraph.from(Seq(stephen).toDF("id")).withPaths
      .out("completes").out("appliesTo")
      .df.select("path").as[Seq[Long]].collect().toSet
    assert(paths === Set(Seq(stephen, appStephen1, rexsterJob1), Seq(stephen, appStephen2, blueprintsJob3)))
  }

  test("otherV returns the far endpoint regardless of direction") {
    val t = jobGraph.from(Seq(appStephen1).toDF("id")).bothE().otherV
    assert(ids(t) === Set(stephen, rexsterJob1))
  }

  test("transpose reverses traversal direction") {
    assert(ids(jobGraph.transpose.from(Seq(appBob1).toDF("id")).out("completes")) === Set(bob))
  }

  test("graph ops: labels, verticesWithEdge, addUniqueEdges, merge") {
    assert(jobGraph.labels === Seq("appliesTo", "completes", "created"))
    assert(jobGraph.edgeGraphs.keySet === Set("appliesTo", "completes", "created"))
    // vertices with an out 'created' edge = the two companies
    val withCreated = jobGraph.verticesWithEdge("created", "out")
      .select("id").as[Long].collect().toSet
    assert(withCreated === Set(blueprints, rexster))
    // unique-edge union drops the duplicate triple, keeps the new one
    val add = Seq((bob, appBob1, "completes"), (bob, rexsterJob1, "likes"))
      .toDF("src", "dst", "label")
    val g2 = jobGraph.addUniqueEdges(add)
    assert(g2.edges.count() === jobGraph.edges.count() + 1)
    // merge: vertex kinds dedup by id, edges union
    val extra = PropertyGraph(
      Map("person" -> Seq((bob, "Bob"), (99L, "Zed")).toDF("id", "name")),
      Seq((99L, bob, "knows")).toDF("src", "dst", "label"))
    val m = jobGraph.merge(extra)
    assert(m.kind("person").count() === 3)
    assert(m.edges.count() === jobGraph.edges.count() + 1)
    assert(m.kind("job").count() === 4)
    // graph equality: reflexive; sensitive to edge multiset and documents
    assert(jobGraph.sameAs(jobGraph))
    assert(!jobGraph.sameAs(m))
    assert(!jobGraph.sameAs(g2))
  }

  test("removeEdgeLabels / removeEdges drop edges without touching vertices") {
    // graph.clj:75 remove-all-edges: every 'completes' edge gone, rest intact
    val noCompletes = jobGraph.removeEdgeLabels("completes")
    assert(noCompletes.labels === Seq("appliesTo", "created"))
    assert(noCompletes.edges.count() === jobGraph.edges.count() - 4)
    assert(noCompletes.kind("person").count() === 2) // vertices untouched
    // per-edge form: remove one specific triple
    val one = Seq((bob, appBob1, "completes")).toDF("src", "dst", "label")
    val g2 = jobGraph.removeEdges(one)
    assert(g2.edges.count() === jobGraph.edges.count() - 1)
    assert(ids(g2.from(Seq(bob).toDF("id")).out("completes")) === Set(appBob2))
    // NULL-labeled edges survive removeEdgeLabels (three-valued NOT IN trap)
    val withNull = jobGraph.addEdges(
      Seq((bob, stephen, Option.empty[String])).toDF("src", "dst", "label"))
    val g3 = withNull.removeEdgeLabels("completes")
    assert(g3.edges.where(col("label").isNull).count() === 1)
    assert(g3.edges.count() === withNull.edges.count() - 4)
  }

  test("withVertexProps merges updated documents (fermor set-document)") {
    val updates = Seq((bob, "Robert")).toDF("id", "name")
    val g2 = jobGraph.withVertexProps("person", updates)
    val names = g2.kind("person").select("id", "name").as[(Long, String)].collect().toMap
    assert(names(bob) === "Robert" && names(stephen) === "Stephen")
    // duplicate update rows for one id must NOT fan the vertex out
    val dup = Seq((bob, "Rob"), (bob, "Bobby")).toDF("id", "name")
    val g3 = jobGraph.withVertexProps("person", dup)
    assert(g3.kind("person").where(col("id") === bob).count() === 1)
  }

  test("unique-edge builders only touch triples the batch mentions") {
    // two PARALLEL (bob -> appBob2, 'likes') edges, legal via addEdges
    val base = jobGraph.addEdges(Seq(
      (bob, appBob2, "likes"), (bob, appBob2, "likes")).toDF("src", "dst", "label"))
    def parallelCount(g: graft.graph.PropertyGraph) =
      g.edges.where(col("src") === bob && col("dst") === appBob2 && col("label") === "likes").count()
    assert(parallelCount(base) === 2)
    // a batch NOT naming that triple must leave both parallel edges intact
    val unrelated = Seq((stephen, appStephen1, "likes")).toDF("src", "dst", "label")
    assert(parallelCount(base.addUniqueEdges(unrelated)) === 2)
    val gw = base.addUniqueWeightedEdges(
      Seq((stephen, appStephen1, "likes", 2.0)).toDF("src", "dst", "label", "weight"))
    assert(parallelCount(gw) === 2)
    // ... while a batch naming it still collapses to one (later-wins)
    assert(parallelCount(base.addUniqueEdges(
      Seq((bob, appBob2, "likes")).toDF("src", "dst", "label"))) === 1)
  }

  test("vertices of a kind-less graph is empty, not a crash") {
    val g0 = graft.graph.PropertyGraph(Map.empty, jobGraph.edges)
    assert(g0.vertices.count() === 0L)
    assert(!g0.hasVertex(bob))
  }

  test("goOn/goBack and followedForward on edge routes") {
    val e = jobGraph.from(Seq(appStephen1).toDF("id")).bothE()
    assert(ids(e.followedForward.goOn) === Set(rexsterJob1))  // out-edge continues forward
    assert(ids(e.followedReverse.goOn) === Set(stephen))      // in-edge continues backward
    assert(ids(e.goBack) === Set(appStephen1))                // back to the entry vertex
  }

  test("removeVertices drops vertices and incident edges") {
    val g2 = jobGraph.removeVertices(Seq(bob).toDF("id"))
    assert(g2.edges.where(col("label") === "completes").count() === 2)
    assert(g2.kind("person").count() === 1)
  }

  // -- cyclic graph: a -> b -> c -> a, c -> d ---------------------------
  lazy val cyclic: PropertyGraph = PropertyGraph(
    Map("n" -> Seq(1L, 2L, 3L, 4L).toDF("id")),
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).map { case (s, d) => (s, d, "e") }
      .toDF("src", "dst", "label"))

  test("descend cuts cycles (fermor all)") {
    val rows = Descend.all(cyclic, Seq(1L).toDF("id"), Nil, forward = true, maxDepth = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // 1(0) -> 2(1) -> 3(2) -> {1 cut, 4(3)}
    assert(rows === Set((1L, 0), (2L, 1), (3L, 2), (4L, 3)))
  }

  test("descend control functions: emit/continue predicates (fermor emit-and-cut family)") {
    // fermor's control fns (emit, continue, cut, emit-and-continue,
    // emit-and-cut — core.clj control-return-values) become two Column
    // predicates over (id, depth, path): emit-and-cut ≡ emit=true,
    // continue=false at that element.
    val res = graph.Descend.run(jobGraph, Seq(bob, stephen).toDF("id"),
        Seq("completes", "appliesTo"), forward = true, maxDepth = 5,
        emit = _.where(col("depth") === 1),      // emit applications only
        continueP = _.where(col("depth") < 1))   // cut below the app level
      .select("id", "depth").as[(Long, Int)].collect().toSet
    assert(res === Set(appBob1, appBob2, appStephen1, appStephen2).map(_ -> 1))
  }

  test("allCycles == brute-force cycle enumeration: self-loop, 2-cycle, 3-cycle, lollipop") {
    // 1 loops on itself and 2-cycles with 2; 2 leads into the 3-cycle
    // 3 -> 4 -> 5 -> 3; 6 is the stick of the lollipop 6 -> 7 -> 8 -> 9 -> 7,
    // whose walks revisit the non-origin vertex 7
    val es = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L),
      (6L, 7L), (7L, 8L), (8L, 9L), (9L, 7L))
    val lolli = PropertyGraph(Map("n" -> (1L to 9L).toDF("id")),
      es.map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label"))
    // expand a walk while its last vertex is new; emit it when it closes on
    // its origin
    def brute(maxDepth: Int): Seq[(Long, Seq[Long], Int)] = {
      def walks(origin: Long, path: Seq[Long]): Seq[(Long, Seq[Long], Int)] =
        if (path.length > maxDepth) Nil
        else es.filter(_._1 == path.last).flatMap { case (_, d) =>
          val p = path :+ d
          (if (d == origin) Seq((origin, p, p.length - 1)) else Nil) ++
            (if (path.contains(d)) Nil else walks(origin, p))
        }
      (1L to 9L).flatMap(o => walks(o, Seq(o))).sortBy(_.toString)
    }
    assert(brute(4).exists(_._2 == Seq(1L, 1L)) && brute(4).exists(_._3 == 3))
    (0 to 4).foreach { d =>
      val got = Descend.allCycles(lolli, lolli.kind("n"), Nil, forward = true, maxDepth = d)
        .as[(Long, Seq[Long], Int)].collect().toSeq.sortBy(_.toString)
      assert(got === brute(d), s"maxDepth $d")
    }
  }

  test("allCycles finds the 3-cycle from its members only") {
    val cycles = Descend.allCycles(cyclic, cyclic.kind("n"), Nil, forward = true, maxDepth = 5)
      .select("path").as[Seq[Long]].collect().toSet
    assert(cycles === Set(Seq(1L, 2L, 3L, 1L), Seq(2L, 3L, 1L, 2L), Seq(3L, 1L, 2L, 3L)))
    // maxDepth < 1 returns an EMPTY frame (was null -> caller NPE)
    assert(Descend.allCycles(cyclic, cyclic.kind("n"), Nil, forward = true, maxDepth = 0)
      .count() === 0L)
  }

  test("deepest emits only childless path-ends (fermor deepest)") {
    val rows = Descend.deepest(cyclic, Seq(1L).toDF("id"), Nil, forward = true, maxDepth = 10)
      .collect().map(r => r.getLong(0)).toSet
    assert(rows === Set(4L))
  }

  test("keyedBranch tags merged sub-routes; groupCount/indexBy/pluck/resetPath") {
    val t = jobGraph.from(jobGraph.kind("person"))
    // keyed-branch: apps and (via apps) jobs, each stream tagged
    val kb = t.keyedBranch(
      "apps" -> (_.out("completes")),
      "jobs" -> (_.out("completes").out("appliesTo")))
      .df.groupBy("__branch").count()
      .as[(String, Long)].collect().toMap
    assert(kb === Map("apps" -> 4L, "jobs" -> 4L))
    // group-count: applications per person
    val gc = t.out("completes").mapDf(_.withColumn("who", col("id") % 10))
      .groupCount(col("who") >= lit(3L))
    assert(gc.count() === 2L)
    // index-by: company -> its created jobs, as a keyed DataFrame
    val idx = jobGraph.from(jobGraph.kind("company")).tag("comp").out("created")
      .indexBy(col("comp"), col("id"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(idx(blueprints) === Seq(blueprintsJob1, blueprintsJob2, blueprintsJob3))
    assert(idx(rexster) === Seq(rexsterJob1))
    // pluck + resetPath: path restarts at the current element
    val p = jobGraph.from(Seq(bob).toDF("id")).withPaths
      .out("completes").resetPath.out("appliesTo")
      .pluck(col("path")).as[Seq[Long]].collect().toSet
    assert(p === Set(Seq(appBob1, blueprintsJob1), Seq(appBob2, blueprintsJob2)))
  }

  test("pathSubgraph induces the graph of traversed edges (fermor subgraph)") {
    // Stephen's application route: only his completes/appliesTo edges and
    // the vertices on those paths survive
    val sub = jobGraph.from(Seq(stephen).toDF("id")).withPaths
      .out("completes").out("appliesTo")
      .pathSubgraph
    val es = sub.edges.select("src", "dst").as[(Long, Long)].collect().toSet
    assert(es === Set((stephen, appStephen1), (stephen, appStephen2),
      (appStephen1, rexsterJob1), (appStephen2, blueprintsJob3)))
    assert(sub.kind("person").select("id").as[Long].collect().toSeq === Seq(stephen))
    assert(sub.kind("company").count() === 0)
    // reverse hops recover the same edges (orientation-normalized matching)
    val subRev = jobGraph.from(Seq(blueprintsJob1).toDF("id")).withPaths
      .in("appliesTo").pathSubgraph
    assert(subRev.edges.select("src", "dst").as[(Long, Long)].collect().toSet ===
      Set((appBob1, blueprintsJob1)))
  }

  test("path helpers: reversePaths, pathString, cycle detection") {
    val t = jobGraph.from(Seq(stephen).toDF("id")).withPaths.out("completes")
    val strs = t.pathString().df.select("path_str").as[String].collect().toSet
    assert(strs === Set(s"$stephen->$appStephen1", s"$stephen->$appStephen2"))
    val rev = t.reversePaths.df.select("path").as[Seq[Long]].collect().toSet
    assert(rev === Set(Seq(appStephen1, stephen), Seq(appStephen2, stephen)))
    // on the cyclic graph: 1 -> 2 -> 3 -> 1 closes a cycle (allowCycles hop)
    val c = cyclic.from(Seq(1L).toDF("id")).withPaths.out("e").out("e").out("e")
    assert(c.isCycle.df.select("id").as[Long].collect().toSeq === Seq(1L))
    assert(c.noCycle.df.select("id").as[Long].collect().toSeq === Seq(4L))
  }

  test("cyclicPaths keeps only routes that re-traversed an edge") {
    // 1->2->3->1->2: the 1->2 edge repeats (4 hops from 1 on the cycle);
    // 4 is reached over distinct edges only
    val c = cyclic.from(Seq(1L).toDF("id")).withPaths.out("e").out("e").out("e").out("e")
    val cyc = c.cyclicPaths.df.select("path").as[Seq[Long]].collect().toSet
    assert(cyc === Set(Seq(1L, 2L, 3L, 1L, 2L)))
    // 3 hops (1->2->3->1) repeats a VERTEX but no edge: cyclic-path? is false
    val three = cyclic.from(Seq(1L).toDF("id")).withPaths.out("e").out("e").out("e")
    assert(three.cyclicPaths.df.isEmpty)
  }

  test("samePathPairs equi-joins identical accumulated paths") {
    val t = jobGraph.from(Seq(bob, stephen).toDF("id")).withPaths.out("completes")
    val pairs = t.samePathPairs(t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // each application route's path is unique → only the identity pairs
    assert(pairs === Set(appBob1, appBob2, appStephen1, appStephen2).map(x => (x, x)))
  }

  test("groupByCount inverts the frequency map; Gt1 keeps repeated keys") {
    val t = jobGraph.from(Seq(bob, stephen).toDF("id")).out("completes")
    // bob and stephen each completed 2 applications → {2 -> [bob's apps? no:
    // keys are the SOURCE persons when counting by origin} — count apps per
    // person via the edge route's src tag
    val inv = jobGraph.ofKind("person").tag("p").out("completes")
      .groupByCount(col("p")).as[(Long, Seq[Long])].collect().toMap
    assert(inv === Map(2L -> Seq(bob, stephen)))
    val gt1 = jobGraph.ofKind("person").tag("p").out("completes")
      .groupByCountGt1(col("p")).as[(Long, Seq[Long])].collect().toMap
    assert(gt1 === Map(2L -> Seq(bob, stephen)))
    // rexster created only 1 job → its count-1 group is filtered out
    val co = jobGraph.ofKind("company").tag("c").out("created")
      .groupByCountGt1(col("c")).as[(Long, Seq[Long])].collect().toMap
    assert(co === Map(3L -> Seq(blueprints)))
  }

  test("withSet filter/remove constrain a derived route by the origin id set") {
    // people whose 2-hop route lands back on a person (none: bipartite-ish)
    val people = jobGraph.ofKind("person")
    // filter: applications completed by people, restricted to... people → ∅
    assert(ids(people.withSetFilter(_.out("completes"))) === Set.empty)
    // remove: the same route minus the origin set = all applications
    assert(ids(people.withSetRemove(_.out("completes"))) ===
      Set(appBob1, appBob2, appStephen1, appStephen2))
  }

  test("noPath drops tracking; hasPaths reports it; cycle-allowing descents") {
    val t = jobGraph.ofKind("person").withPaths.out("completes")
    assert(t.hasPaths && !t.noPath.hasPaths)
    // allWithCycles on the 3-cycle: depth-bounded bag walks revisit freely
    val rows = Descend.allWithCycles(cyclic, Seq(1L).toDF("id"), Nil,
        forward = true, maxDepth = 4)
      .groupBy("depth").count().as[(Int, Long)].collect().toMap
    // d0:{1} d1:{2} d2:{3} d3:{1,4} d4:{2} (from the revisited 1)
    assert(rows === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 2L, 4 -> 1L))
    val paths = Descend.allPaths(cyclic, Seq(1L).toDF("id"), Nil, forward = true, maxDepth = 3)
      .select("path").as[Seq[Long]].collect().toSet
    assert(paths.contains(Seq(1L, 2L, 3L, 4L)) && !paths.exists(p => p.length > 4))
    val cpaths = Descend.allPathsWithCycles(cyclic, Seq(1L).toDF("id"), Nil,
        forward = true, maxDepth = 4)
      .select("path").as[Seq[Long]].collect().toSet
    assert(cpaths.contains(Seq(1L, 2L, 3L, 1L, 2L)))
  }

  test("allPathsTo is per-level checkpointed: deep chain stays linear") {
    // 20-deep chain. Level k feeds BOTH the result union and level k+1, so
    // without the level checkpoints Catalyst re-derives level k O(k) times and
    // lineage grows quadratically with depth — the run would take minutes
    // here instead of seconds (the same bug class all/deepest/allCycles
    // were fixed for; this spec pins allPathsTo to the fixed path).
    val n = 21
    val chain = PropertyGraph(
      Map("n" -> (1L to n.toLong).toDF("id")),
      (1L until n.toLong).map(i => (i, i + 1, "e")).toDF("src", "dst", "label"))
    val t0 = System.nanoTime()
    val paths = Descend.allPathsTo(chain, Seq(1L).toDF("id"), Nil, forward = true,
        maxDepth = n - 1, target = _.where(col("id") === n.toLong))
      .select("path").as[Seq[Long]].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(paths.toSeq === Seq(1L to n.toLong))
    assert(secs < 120, s"20-deep allPathsTo took ${secs}s — lineage is growing quadratically again")
  }

  test("SQL extension registers the full native tier for pure-SQL users") {
    // (a fresh session would use .withExtensions(new GraftExtensions);
    // the shared test session registers the SAME builder list directly)
    val fr = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (id, _, builder) =>
      fr.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    val r = spark.sql("SELECT long_array_dot(array(1L, 2L), array(3L, 4L)) AS d").head().getLong(0)
    assert(r === 11L)
    // public SQL surface: null ELEMENTS contribute nothing (the sum() rule),
    // and must not NPE on the generic-array evaluation path
    val rn = spark.sql(
      "SELECT long_array_dot(array(1L, CAST(NULL AS BIGINT), 5L), array(3L, 4L, 2L)) AS d")
      .head().getLong(0)
    assert(rn === 13L)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array('a','c','e'), array('c','d','e')) AS n")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT word_shingles('a b  c d', 3) AS s")
      .head().getSeq[String](0) === Seq("a b c", "b c d"))
    // parameterized expressions: SQL form ≡ the DataFrame-API form bit-for-bit
    val hashes = spark.sql("SELECT array(7L, 11L, 13L) AS h")
    val viaSql = spark.sql("SELECT minhash_sigs(array(7L, 11L, 13L), 8) AS sig")
      .head().getSeq[Long](0)
    val viaDf = hashes.select(
      graft.functions.NativeOps.minhashSigs(col("h"), 8).as("sig")).head().getSeq[Long](0)
    assert(viaSql === viaDf)
    val vec = spark.sql("SELECT array(5L, -3L, 2L, 9L) AS v")
    val hSql = spark.sql("SELECT hyperplane_sig(array(5L, -3L, 2L, 9L), 16, 4) AS s")
      .head().getLong(0)
    val hDf = vec.select(graft.functions.NativeOps.hyperplaneSig(
      col("v"), graft.sim.Ann.planeWeights(4, 16)).as("s")).head().getLong(0)
    assert(hSql === hDf)
    // cosine gate: identical vectors admit at t2 ≤ 10⁶ (cos²=1), reject above
    val gate = spark.sql(
      """SELECT cosine_gate_dot(array(3L,4L), array(3L,4L), 25L, 25L, 999999L) AS admit,
        |       cosine_gate_dot(array(3L,4L), array(-4L,3L), 25L, 25L, 1L) AS ortho
        |""".stripMargin).head()
    assert(gate.getLong(0) === 25L && gate.isNullAt(1))
    // aggregate registration: analyzer must wrap the AggregateFunction
    val sim = spark.sql(
      "SELECT simhash_agg(h) AS s FROM VALUES (1L),(3L),(3L) AS t(h)").head().getLong(0)
    val simDf = Seq(1L, 3L, 3L).toDF("h")
      .agg(org.apache.spark.sql.graft.SimHashAgg.column(col("h")).as("s")).head().getLong(0)
    assert(sim === simDf)
    // structural params must be literals: a column reference fails at analysis
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', cast(id AS int)) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("argument 2 must be an integer literal"),
      s"wrong failure: ${err.getMessage.take(200)}")
  }

  test("GraftExtensions wires a fresh session end-to-end (withExtensions path)") {
    // the builder-list test above exercises the registrations; this one
    // proves the CLASS itself — the spark.sql.extensions entry point a
    // user configures — applies them on a genuinely new session (same
    // SparkContext, fresh sessionState)
    // Spark 4 note: the unified org.apache.spark.sql.SparkSession companion
    // and the CLASSIC one keep separate active/default registries — clear
    // the classic one, which classic getOrCreate consults
    spark.range(1).count() // force the suite's LAZY session first: under a
    // test filter nothing else touches it, and creating OUR session first
    // would make TestSpark's later getOrCreate adopt it (observed: the
    // assertion then compares a session to itself)
    val classic = org.apache.spark.sql.classic.SparkSession
    val unified = org.apache.spark.sql.SparkSession
    val prevActive = classic.getActiveSession
    val prevDefault = classic.getDefaultSession
    val prevUniActive = unified.getActiveSession
    val prevUniDefault = unified.getDefaultSession
    // BOTH registries: the suite session registered via the unified
    // companion; the classic builder consults the unified one too
    unified.clearActiveSession()
    unified.clearDefaultSession()
    classic.clearActiveSession()
    classic.clearDefaultSession()
    try {
      // Builder.create() (Spark 4): always mints a new session over the
      // existing context — getOrCreate in this test JVM insists on
      // returning the suite session even with all registries cleared
      val s2 = classic.builder()
        .master("local[2]").withExtensions(new graft.GraftExtensions).create()
      assert(s2 ne spark, "create() must mint a new session, not reuse the suite's")
      val r = s2.sql(
        """SELECT long_array_dot(array(1L,2L), array(3L,4L)) AS d,
          |       word_shingles('x y z', 2) AS s,
          |       simhash_agg(h) AS sh FROM VALUES (5L),(5L) AS t(h)
          |""".stripMargin).head()
      assert(r.getLong(0) === 11L)
      assert(r.getSeq[String](1) === Seq("x y", "y z"))
      assert(r.getLong(2) === 5L) // two identical inputs: majority bits = the value
    } finally {
      // restore BOTH registries (clearing them without restoring would
      // leave the minted s2 as the JVM's active/default session for later
      // suites); if a prev slot was empty, clear rather than leave s2
      prevActive.fold(classic.clearActiveSession())(classic.setActiveSession)
      prevDefault.fold(classic.clearDefaultSession())(classic.setDefaultSession)
      prevUniActive.fold(unified.clearActiveSession())(s =>
        unified.setActiveSession(s))
      prevUniDefault.fold(unified.clearDefaultSession())(s =>
        unified.setDefaultSession(s))
    }
  }

  test("merge: the LATER graph's document wins on id conflict (fermor merge)") {
    val a = PropertyGraph(Map("v" -> Seq((1L, "old"), (2L, "keep")).toDF("id", "name")),
      Seq((1L, 2L, "e")).toDF("src", "dst", "label"))
    val b = PropertyGraph(Map("v" -> Seq((1L, "new")).toDF("id", "name")),
      Seq((1L, 2L, "e")).toDF("src", "dst", "label"))
    val m = a.merge(b)
    val docs = m.kind("v").as[(Long, String)].collect().toMap
    assert(docs === Map(1L -> "new", 2L -> "keep"))
    assert(m.edges.count() === 2) // edge BAG union: parallel edges kept
  }

  test("merge survivor among same-priority duplicate ids is partitioning-independent") {
    // one input carries TWO rows for id 1: the winner must be the same
    // whatever the physical layout (stable-hash tiebreak, not "first seen")
    def b(parts: Int) = PropertyGraph(
      Map("v" -> Seq((1L, "x"), (1L, "y")).toDF("id", "name").repartition(parts)),
      Seq.empty[(Long, Long, String)].toDF("src", "dst", "label"))
    val a = PropertyGraph(Map("v" -> Seq((2L, "base")).toDF("id", "name")),
      Seq.empty[(Long, Long, String)].toDF("src", "dst", "label"))
    val winners = Seq(1, 3, 7).map { p =>
      a.merge(b(p)).kind("v").as[(Long, String)].collect().toMap.apply(1L)
    }
    assert(winners.distinct.size === 1)
  }

  test("mergeWith resolves conflicts with per-column functions (fermor merge-with)") {
    val a = PropertyGraph(
      Map("v" -> Seq((1L, "alice", 10L), (2L, "bob", 5L)).toDF("id", "name", "score")),
      Seq((1L, 2L, "knows", 2L)).toDF("src", "dst", "label", "weight"))
    val b = PropertyGraph(
      Map("v" -> Seq((1L, "ALICE", 7L), (3L, "carol", 1L)).toDF("id", "name", "score")),
      Seq((1L, 2L, "knows", 3L), (2L, 3L, "knows", 9L)).toDF("src", "dst", "label", "weight"))
    val m = a.mergeWith(b,
      resolveDoc = Map("score" -> ((x, y) => x + y)),           // sum on conflict
      resolveEdge = Map("weight" -> ((x, y) => greatest(x, y))))
    val docs = m.kind("v").as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(docs(1L) === (("ALICE", 17L))) // name: later-wins default; score: summed
    assert(docs(2L) === (("bob", 5L)))    // left-only passes through
    assert(docs(3L) === (("carol", 1L)))  // right-only passes through
    val es = m.edges.as[(Long, Long, String, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(es((1L, 2L, "knows")) === 3L)  // conflicting triple: greatest(2, 3)
    assert(es((2L, 3L, "knows")) === 9L)  // one-sided triple passes through
    assert(m.edges.count() === 2)
  }

  test("mergeWith collapses within-input parallel duplicates of a triple deterministically") {
    val a = PropertyGraph(Map("v" -> Seq((1L, "a")).toDF("id", "name")),
      Seq((1L, 2L, "e", 5L), (1L, 2L, "e", 5L)).toDF("src", "dst", "label", "w"))
    val b = PropertyGraph(Map("v" -> Seq((1L, "b")).toDF("id", "name")),
      Seq((1L, 2L, "e", 7L)).toDF("src", "dst", "label", "w"))
    val m = a.mergeWith(b, resolveEdge = Map("w" -> ((x, y) => x + y)))
    val es = m.edges.as[(Long, Long, String, Long)].collect()
    assert(es.length === 1 && es.head._4 === 12L) // 5 (collapsed) + 7
  }

  test("sortedSection ranks each element's sub-route within its own section") {
    val t = jobGraph.from(jobGraph.kind("person"))
      .sortedSection(_.out("completes"))(col("id").desc)
    val rows = t.df.select("section_of", "id", "section_rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(rows === Set(
      (bob, appBob2, 1), (bob, appBob1, 2),           // desc within Bob's section
      (stephen, appStephen2, 1), (stephen, appStephen1, 2)))
  }

  test("addUniqueWeightedEdges sums weight on re-added triples, defaults missing weights") {
    val g0 = PropertyGraph(Map("v" -> Seq(1L, 2L, 3L).toDF("id")),
      Seq((1L, 2L, "e", 2.0)).toDF("src", "dst", "label", "weight"))
    val g1 = g0.addUniqueWeightedEdges(
      Seq((1L, 2L, "e", Some(3.0)), (2L, 3L, "e", None))
        .toDF("src", "dst", "label", "weight"))
    val es = g1.edges.select("src", "dst", "label", "weight")
      .as[(Long, Long, String, Double)].collect().map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(es.size === 2)
    assert(es((1L, 2L, "e")) === 5.0)  // 2 + 3 summed into the existing edge
    assert(es((2L, 3L, "e")) === 1.0)  // null weight -> defaultWeight
  }

  test("pathEdges recovers edge rows (with labels) along accumulated paths") {
    val e = jobGraph.from(Seq(bob).toDF("id")).withPaths
      .out("completes").out("appliesTo")
      .pathEdges
    val rows = e.select("src", "dst", "label").as[(Long, Long, String)].collect().toSet
    assert(rows === Set(
      (bob, appBob1, "completes"), (bob, appBob2, "completes"),
      (appBob1, blueprintsJob1, "appliesTo"), (appBob2, blueprintsJob2, "appliesTo")))
  }

  test("pathVertices lists every vertex on any path, with kind") {
    val v = jobGraph.from(Seq(bob).toDF("id")).withPaths.out("completes")
      .pathVertices.as[(Long, String)].collect().toMap
    assert(v === Map(bob -> "person", appBob1 -> "application", appBob2 -> "application"))
  }

  test("bothV yields both endpoints of each edge element") {
    val t = jobGraph.from(Seq(appBob1).toDF("id")).outE("appliesTo").bothV
    assert(t.df.select("id").as[Long].collect().toSet === Set(appBob1, blueprintsJob1))
    assert(t.count() === 2) // one edge → two vertex elements (bag)
  }

  test("distinctBy dedups on a key expression keeping the min-id representative") {
    val t = jobGraph.from(jobGraph.kind("job")).tag("jv").inE("created").outV
      .distinctBy(col("id")) // several jobs share a creator company
    val rows = t.df.select("id", "jv").as[(Long, Long)].collect().toSet
    assert(rows.map(_._1) === Set(blueprints, rexster))
    assert(rows === Set((blueprints, blueprintsJob1), (rexster, rexsterJob1)))
  }

  test("deepestPaths keeps the full path to each terminal element") {
    val rows = Descend.deepestPaths(jobGraph, Seq(bob).toDF("id"), Nil,
        forward = true, maxDepth = 3)
      .select("id", "path").as[(Long, Seq[Long])].collect().toMap
    assert(rows(blueprintsJob1) === Seq(bob, appBob1, blueprintsJob1))
    assert(rows(blueprintsJob2) === Seq(bob, appBob2, blueprintsJob2))
  }

  test("Descend acyclic mode matches the path-carrying mode on a DAG") {
    val full = Descend.all(jobGraph, jobGraph.kind("person").select("id"), Nil,
      forward = true, maxDepth = 2)
    val slim = Descend.all(jobGraph, jobGraph.kind("person").select("id"), Nil,
      forward = true, maxDepth = 2, acyclic = true)
    val f = full.groupBy("id", "depth").count().as[(Long, Int, Long)].collect().toSet
    val s = slim.groupBy("id", "depth").count().as[(Long, Int, Long)].collect().toSet
    assert(s === f) // identical bags: multiplicity preserved without paths
    val fd = Descend.deepest(jobGraph, jobGraph.kind("person").select("id"), Nil,
      forward = true, maxDepth = 3)
    val sd = Descend.deepest(jobGraph, jobGraph.kind("person").select("id"), Nil,
      forward = true, maxDepth = 3, acyclic = true)
    assert(sd.groupBy("id", "depth").count().as[(Long, Int, Long)].collect().toSet ===
      fd.groupBy("id", "depth").count().as[(Long, Int, Long)].collect().toSet)
  }

  // -- Descend's driver replay against its distributed level loop ---------
  // a diamond (1 -> {2, 3} -> 4), parallel edges 4 -> 5, a self-loop on 6,
  // negative ids, and a second label; the seeds repeat 1 and name 99, which
  // is on no edge
  val replayEdges = Seq((1L, 2L, "a"), (1L, 3L, "a"), (2L, 4L, "a"), (3L, 4L, "a"),
    (4L, 5L, "a"), (4L, 5L, "a"), (6L, 6L, "a"), (4L, 6L, "b"), (-7L, 1L, "a"),
    (2L, -8L, "b"), (5L, -8L, "b"))
  def edgeGraph(edges: DataFrame): PropertyGraph =
    PropertyGraph(Map("n" -> edges.select(col("src").as("id"))), edges)
  lazy val replayGraph = edgeGraph(replayEdges.toDF("src", "dst", "label"))
  val walkOutlets: Seq[(String, (PropertyGraph, DataFrame, Seq[String], Boolean, Int) => DataFrame)] =
    Seq(
      "all" -> ((g, s, l, f, d) => Descend.all(g, s, l, f, d, acyclic = true)),
      "deepest" -> ((g, s, l, f, d) => Descend.deepest(g, s, l, f, d, acyclic = true)),
      "allWithCycles" -> ((g, s, l, f, d) => Descend.allWithCycles(g, s, l, f, d)))
  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  def replayed(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  }
  /** Each walk outlet under the session's guard against its distributed
    * branch (every guard at 0): same rows as a multiset, same schema, and
    * the replay taken iff `replays`. */
  def replayParity(g: PropertyGraph, seeds: DataFrame, labels: Seq[String], forward: Boolean,
      depth: Int, replays: Boolean = true): Unit =
    walkOutlets.foreach { case (name, f) =>
      val clue = s"$name labels=$labels forward=$forward maxDepth=$depth"
      val got = f(g, seeds, labels, forward, depth)
      val dist = TestSpark.withReplayLimit(0)(f(g, seeds, labels, forward, depth))
      assert(replayed(got) === replays, clue)
      assert(got.dtypes.toSeq === dist.dtypes.toSeq, clue)
      assert(sortedRows(got) === sortedRows(dist), clue)
    }

  test("Descend replay: walk outlets == the distributed level loop, rows and schema") {
    val seeds = Seq(1L, 1L, 99L, -7L, 6L).toDF("id")
    for (forward <- Seq(true, false); labels <- Seq(Nil, Seq("a")); depth <- Seq(0, 1, 4))
      replayParity(replayGraph, seeds, labels, forward, depth)
    // int-typed ids and seeds: both branches emit (id bigint, depth int)
    val intGraph = edgeGraph(replayEdges.map { case (s, d, l) => (s.toInt, d.toInt, l) }
      .toDF("src", "dst", "label"))
    for (forward <- Seq(true, false))
      replayParity(intGraph, Seq(1, 1, 99, -7, 6).toDF("v"), Nil, forward, 4)
    // the diamond gives two walks to 4, the parallel edges two per walk to 5
    val all2 = Descend.all(replayGraph, Seq(1L).toDF("id"), Seq("a"), forward = true,
      maxDepth = 3, acyclic = true).as[(Long, Int)].collect().toSeq
    assert(all2.count(_ == (4L, 2)) === 2 && all2.count(_ == (5L, 3)) === 4)
  }

  test("Descend replay falls back on a null seed, an over-guard slice and an over-guard walk") {
    replayParity(replayGraph, Seq(Some(1L), None).toDF("id"), Nil, forward = true, depth = 4,
      replays = false)
    // the slice (11 edges) past a guard of 5
    assert(TestSpark.withReplayLimit(5)(
      walkOutlets.forall { case (_, f) =>
        !replayed(f(replayGraph, Seq(1L).toDF("id"), Nil, true, 4)) }))
    // the slice fits a guard of 11, but the self-loop on 6 walks 21 rows
    val (fellBack, rows) = TestSpark.withReplayLimit(replayEdges.size) {
      val df = Descend.allWithCycles(replayGraph, Seq(6L).toDF("id"), Nil, forward = true,
        maxDepth = 20)
      (!replayed(df), sortedRows(df))
    }
    assert(fellBack && rows === (0 to 20).map(d => s"[6,$d]").sorted)
  }

  test("Descend job counts: deepest below the guard is two collects and the action") {
    // the action is a noop write, as the benchmark times it
    val seeds = Seq(1L, 1L, 99L).toDF("id")
    val (_, replayJobs) = TestSpark.jobs(
      Descend.deepest(replayGraph, seeds, Nil, forward = true, maxDepth = 4, acyclic = true)
        .write.format("noop").mode("overwrite").save())
    assert(replayJobs <= 3, s"$replayJobs jobs")
  }

  test("Descend job counts: distributed deepest builds its tails once") {
    // every guard at 0, over a persisted, label-counted edge frame (the
    // loader's shape): the final action's anti-join per level branch shares
    // ONE broadcast build of the tails, and aggregates nothing itself
    val tree = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L), (4L, 7L), (6L, 8L), (7L, 9L))
    val edges = tree.map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label").persist()
    try {
      PropertyGraph.registerLabelRows(edges, edges.count(), Map("e" -> tree.size.toLong))
      val g = PropertyGraph(Map("n" -> (1L to 9L).toDF("id")), edges)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.plans.LeftAnti
      def flat(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
        case q: QueryStageExec => p +: flat(q.plan)
        case _ => p +: p.children.flatMap(flat)
      }
      val (rows, actionJobs, plan) = TestSpark.withReplayLimit(0) {
        val df = Descend.deepest(g, Seq(1L).toDF("id"), Nil, forward = true, maxDepth = 4,
          acyclic = true)
        // df's own action, so its query execution holds the final plan
        val (rows, jobs) = TestSpark.jobs(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
        (rows, jobs, flat(df.queryExecution.executedPlan))
      }
      assert(rows === Set((5L, 2), (8L, 3), (9L, 4)))
      // the two broadcasts (tails, edge slice) and the result
      assert(actionJobs <= 3, s"$actionJobs jobs")
      val antiBuilds = plan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => flat(j.right)
      }
      assert(antiBuilds.size >= 3, plan.head.toString)
      assert(antiBuilds.count(!_.exists(_.isInstanceOf[ReusedExchangeExec])) === 1,
        plan.head.toString)
      assert(!plan.exists(_.isInstanceOf[HashAggregateExec]), plan.head.toString)
    } finally edges.unpersist()
  }

  test("fromTriples builds a graph whose vertex set is the distinct endpoints") {
    // fermor graph.clj `graph-from-triples`
    val t = Seq((1L, "knows", 2L, 5), (2L, "knows", 3L, 7), (1L, "likes", 3L, 1))
      .toDF("src", "label", "dst", "w")
    val g = PropertyGraph.fromTriples(t)
    assert(ids(g.allVertices) === Set(1L, 2L, 3L))
    assert(g.edges.columns.toSet === Set("src", "dst", "label", "w"))
    assert(ids(g.from(Seq(1L).toDF("id")).out("knows")) === Set(2L))
    assert(ids(g.from(Seq(1L).toDF("id")).out()) === Set(2L, 3L))
    // edge-property column rides along
    assert(g.edge(2L, 3L, "knows").select("w").as[Int].collect().toSeq === Seq(7))
  }

  test("addEdgesFrom / addEdgesTo fan edges from/to one vertex with edge docs") {
    // fermor core.clj:89/:113 — the one-to-many / many-to-one arity of add-edges
    val targets = Seq((blueprintsJob1, 1), (blueprintsJob2, 2)).toDF("id", "rank")
    val gFrom = jobGraph.addEdgesFrom("bookmarked", bob, targets)
    assert(ids(gFrom.from(Seq(bob).toDF("id")).out("bookmarked")) ===
      Set(blueprintsJob1, blueprintsJob2))
    assert(gFrom.edge(bob, blueprintsJob2, "bookmarked")
      .select("rank").as[Int].collect().toSeq === Seq(2))
    val sources = Seq(bob, stephen).toDF("id")
    val gTo = jobGraph.addEdgesTo("memberOf", sources, blueprints)
    assert(ids(gTo.from(Seq(blueprints).toDF("id")).in("memberOf")) === Set(bob, stephen))
    // pre-existing edges and kinds untouched
    assert(gTo.kinds.keySet === jobGraph.kinds.keySet)
    assert(gTo.edges.count() === jobGraph.edges.count() + 2)
  }

  test("sortedGroupCount iterates in key order; sortedGroupByCount in count order") {
    // fermor core.clj:1477/:1508 — the sorted-map variants of group-count
    val t = jobGraph.from(jobGraph.kind("job")).in("appliesTo").in("completes")
    val byKey = t.sortedGroupCount(col("id")).as[(Long, Long)].collect()
    assert(byKey.map(_._1).toSeq === byKey.map(_._1).sorted.toSeq) // key-ordered
    assert(byKey.toMap === Map(bob -> 2L, stephen -> 2L))
    val byCount = jobGraph.allVertices.out()
      .sortedGroupByCount(col("id")).collect()
    val ns = byCount.map(_.getLong(0)).toSeq
    assert(ns === ns.sorted) // count-ordered
    // each key set itself sorted
    byCount.foreach { r =>
      val ks = r.getSeq[Long](1)
      assert(ks === ks.sorted)
    }
  }

  test("motif: chain + cycle-closing join, anonymous bag semantics, negation, errors") {
    // chain with a shared-variable close: every application path plus the
    // job's creator — each term equi-joins the bindings on its shared vars
    val rows = jobGraph
      .motif("(p)-[completes]->(ap); (ap)-[appliesTo]->(j); (co)-[created]->(j)")
      .select("p", "ap", "j", "co").as[(Long, Long, Long, Long)].collect().toSet
    assert(rows === Set(
      (bob, appBob1, blueprintsJob1, blueprints),
      (bob, appBob2, blueprintsJob2, blueprints),
      (stephen, appStephen2, blueprintsJob3, blueprints),
      (stephen, appStephen1, rexsterJob1, rexster)))
    // anonymous vertices are matched but not returned — bag multiplicity
    // per distinct anonymous binding survives
    val bag = jobGraph.motif("(p)-[completes]->()").as[Long].collect().toSeq.sorted
    assert(bag === Seq(bob, bob, stephen, stephen))
    // negation: a freshly created job nobody applied to is the only survivor
    val g2 = jobGraph
      .addVertices("job", Seq(25L).toDF("id"))
      .addEdges(Seq((blueprints, 25L, "created")).toDF("src", "dst", "label"))
    val lonely = g2.motif("(co)-[created]->(j); !()-[appliesTo]->(j)")
      .as[(Long, Long)].collect().toSet
    assert(lonely === Set((blueprints, 25L)))
    // unlabeled edge term matches any label
    assert(jobGraph.motif("()-[]->(x)").count() === jobGraph.edges.count())
    // kind annotations restrict a variable to a kind table (semi-join):
    // un-annotated, the unlabeled 2-chain matches all label combinations;
    // annotating the middle as an application keeps only completes→appliesTo
    val annotated = jobGraph.motif("(p:person)-[]->(m:application); (m)-[]->(j:job)")
    assert(annotated.count() === 4)
    // a single unlabeled term matches all 12 edges; annotating either end
    // restricts to that kind's incident edges
    assert(jobGraph.motif("(c:company)-[]->(x)").count() === 4)
    assert(jobGraph.motif("()-[]->(x:job)").count() === 8) // appliesTo + created
    // undirected terms match either orientation (Cypher's -[l]- form):
    // each physical edge binds both (x,y) and (y,x)
    assert(jobGraph.motif("(x)-[completes]-(y)").count() === 8)
    // jobs touch 8 edges in any direction (4 appliesTo in + 4 created in)
    assert(jobGraph.motif("(j:job)-[]-(n)").count() === 8)
    // an undirected 2-path through a job: app -[appliesTo]- job -[created]- company
    val thru = jobGraph.motif("(a:application)-[appliesTo]-(j:job); (j)-[created]-(co:company)")
      .select("a", "j", "co").as[(Long, Long, Long)].collect().toSet
    assert(thru.size === 4 && thru.contains((appBob1, blueprintsJob1, blueprints)))
    // conflicting kind annotations fail loudly
    intercept[IllegalArgumentException] {
      jobGraph.motif("(p:person)-[]->(m); (p:job)-[]->(x)")
    }
    // unknown kind fails loudly
    intercept[IllegalArgumentException] { jobGraph.motif("(p:nope)-[]->(m)") }
    // a negation sharing no variable with the positive terms fails loudly
    intercept[IllegalArgumentException] {
      jobGraph.motif("(p)-[completes]->(ap); !(z)-[created]->(w)")
    }
    // malformed term fails loudly
    intercept[IllegalArgumentException] { jobGraph.motif("(p)->(q)") }
    // variable-length star: union of fixed-length chains, bag semantics
    assert(jobGraph.motif("(p:person)-[*1..2]->(x)").count() === 8) // 4 apps + 4 jobs
    assert(jobGraph.motif("(p:person)-[*2..3]->(x)").count() === 4) // jobs only; no 3-hop
    assert(jobGraph.motif("(p)-[completes*1..2]->(x)").count() === 4) // no completes∘completes
    // the star range composes with further terms on the endpoint
    val reach = jobGraph.motif("(p:person)-[*2..2]->(j); (co)-[created]->(j)")
      .select("p", "j", "co").as[(Long, Long, Long)].collect().toSet
    assert(reach.contains((stephen, rexsterJob1, rexster)) && reach.size === 4)
    // stars must be directed and bounded
    intercept[IllegalArgumentException] { jobGraph.motif("(p)-[completes*1..2]-(x)") }
    intercept[IllegalArgumentException] { jobGraph.motif("(p)-[*1..9]->(x)") }
    // id anchors: the get-vertex point-query arity, a pushed-down equality
    assert(jobGraph.motif(s"(p=$bob)-[completes]->(ap)").as[(Long, Long)].collect().toSet ===
      Set((bob, appBob1), (bob, appBob2)))
    // anchor + kind + star compose
    assert(jobGraph.motif(s"(p:person=$stephen)-[*2..2]->(j)")
      .as[(Long, Long)].collect().toSet ===
      Set((stephen, rexsterJob1), (stephen, blueprintsJob3)))
    // conflicting anchors fail loudly
    intercept[IllegalArgumentException] {
      jobGraph.motif(s"(p=1)-[completes]->(x); (p=2)-[completes]->(y)")
    }
  }

  test("motif guards: disconnected terms, anonymous-only patterns, reserved names") {
    // disconnected positive terms are a cartesian product — almost always a
    // typo'd variable; rejected by default with a loud message
    val ex = intercept[IllegalArgumentException] {
      jobGraph.motif("(p)-[completes]->(ap); (q)-[created]->(j)")
    }
    assert(ex.getMessage.contains("allowDisconnected"))
    // ... but the product is computable when explicitly requested
    assert(jobGraph.motif("(p)-[completes]->(ap); (q)-[created]->(j)",
      allowDisconnected = true).count() === 16) // 4 completes × 4 created
    // a CONNECTED pattern written in bridge order (term 2 touches term 1
    // only through term 3) is NOT a product — greedy connectivity ordering
    // accepts it and compiles keyed joins (order of terms must not matter)
    val bridged = jobGraph
      .motif("(p)-[completes]->(ap); (co)-[created]->(j); (ap)-[appliesTo]->(j)")
      .select("p", "ap", "j", "co").as[(Long, Long, Long, Long)].collect().toSet
    val straight = jobGraph
      .motif("(p)-[completes]->(ap); (ap)-[appliesTo]->(j); (co)-[created]->(j)")
      .select("p", "ap", "j", "co").as[(Long, Long, Long, Long)].collect().toSet
    assert(bridged === straight && bridged.size === 4)
    // an all-anonymous pattern returns nothing by construction — loud error
    val anonEx = intercept[IllegalArgumentException] { jobGraph.motif("()-[completes]->()") }
    assert(anonEx.getMessage.contains("anonymous"))
    // user variables must not collide with the internal __ namespace
    intercept[IllegalArgumentException] { jobGraph.motif("(__anon1)-[completes]->(x)") }
    intercept[IllegalArgumentException] { jobGraph.motif("(p)-[*1..2]->(__vl)") }
  }

  override def afterAll(): Unit = { /* shared session; leave running */ }
}
