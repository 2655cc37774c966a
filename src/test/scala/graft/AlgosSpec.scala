package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.Algos

/** Algorithm semantics on hand-built graphs with known answers — the
  * genuinely-cyclic cases the TPC-H FK DAG can't exercise. */
class AlgosSpec extends AnyFunSuite {
  lazy implicit val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("SCC: cycle collapses to one component, tail stays separate") {
    // 1 -> 2 -> 3 -> 1 (cycle), 3 -> 4
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val scc = Algos.stronglyConnectedComponents(vs, es)
      .as[(Long, Long)].collect().toMap
    assert(scc(1L) === scc(2L) && scc(2L) === scc(3L))
    assert(scc(4L) !== scc(1L))
  }

  test("nontrivialSccs returns only the cycle members (fermor cycles)") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val members = Algos.nontrivialSccs(vs, es).select("id").as[Long].collect().toSet
    assert(members === Set(1L, 2L, 3L))
  }

  test("connectedComponents ignores direction") {
    val vs = Seq(1L, 2L, 3L, 10L, 11L).toDF("id")
    val es = Seq((1L, 2L), (3L, 2L), (10L, 11L)).toDF("src", "dst")
    val cc = Algos.connectedComponents(vs, es).as[(Long, Long)].collect().toMap
    assert(cc(1L) === cc(3L))
    assert(cc(10L) === cc(11L))
    assert(cc(1L) !== cc(10L))
  }

  test("bfsDistances: forward and reverse") {
    val es = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val fwd = Algos.bfsDistances(es, Seq(1L).toDF("id")).as[(Long, Int)].collect().toMap
    assert(fwd === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2))
    val rev = Algos.bfsDistances(es, Seq(3L).toDF("id"), reverse = true)
      .as[(Long, Int)].collect().toMap
    assert(rev === Map(3L -> 0, 2L -> 1, 1L -> 2))
  }

  test("bfsDistances: a null source identifies no vertex and yields no row") {
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val srcs = Seq(Some(1L), None).toDF("id")
    val d = Algos.bfsDistances(es, srcs).as[(Long, Int)].collect().toMap
    assert(d === Map(1L -> 0, 2L -> 1, 3L -> 2))
    assert(Algos.bfsDistances(es, Seq(None: Option[Long]).toDF("id")).count() === 0)
  }

  test("bfsDistances: maxIter = k keeps exactly the vertices within k hops") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    for (k <- 0 to 3) {
      val d = Algos.bfsDistances(chain, Seq(1L).toDF("id"), maxIter = k)
        .as[(Long, Int)].collect().toMap
      assert(d === (0 to k).map(i => (i + 1L) -> i).toMap, s"maxIter=$k")
    }
  }

  test("reachableEdges: a chain deeper than maxIter takes the fallback, same edges") {
    // 1→…→8 plus an unreachable 20→21 and an edge into the chain from it
    val es = ((1L until 8L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 4L)))
      .toDF("src", "dst")
    val full = Algos.reachableEdges(1L, es).as[(Long, Long)].collect().toSet
    assert(full === (1L until 8L).map(i => (i, i + 1)).toSet)
    assert(Algos.reachableEdges(1L, es, maxIter = 2).as[(Long, Long)].collect().toSet === full)
  }

  test("topoLevels: longest path from sources on a diamond") {
    // 1 -> 2 -> 4, 1 -> 4 : level(4) = 2 (longest), level(2) = 1
    val vs = Seq(1L, 2L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 4L), (1L, 4L)).toDF("src", "dst")
    val lv = Algos.topoLevels(vs, es, maxIter = 4).as[(Long, Int)].collect().toMap
    assert(lv === Map(1L -> 0, 2L -> 1, 4L -> 2))
  }

  test("immediateDominators: textbook CFG with a join point and loop") {
    // CLRS-style: 1->2, 1->3, 2->4, 3->4, 4->5, 5->4 (back edge)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val idom = Algos.immediateDominators(1L, es).as[(Long, Long)].collect().toMap
    assert(idom === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 4L))
  }

  test("dominatorDepth and dominanceFrontiers") {
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val depth = Algos.dominatorDepth(1L, es).as[(Long, Int)].collect().toMap
    assert(depth === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 2))
    val df = Algos.dominanceFrontiers(1L, es).as[(Long, Long)].collect().toSet
    // 2 and 3 both have 4 in their frontier; 4/5 have 4 (loop back edge)
    assert(df.contains((2L, 4L)) && df.contains((3L, 4L)))
    assert(df.contains((5L, 4L)))
  }

  test("articulation points: shared vertex of two triangles") {
    // triangles 1-2-3 and 3-4-5 share vertex 3
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L)).toDF("src", "dst")
    val arts = Algos.articulationPoints(es).as[Long].collect().toSet
    assert(arts === Set(3L))
  }

  test("biconnected components: two triangles sharing a vertex = two components") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L)).toDF("src", "dst")
    val comps = Algos.biconnectedComponents(es)
      .as[(Long, Long, Long)].collect().groupBy(_._3)
    assert(comps.size === 2)
    val byLabel = comps.map { case (label, es2) =>
      label -> es2.flatMap(e => Seq(e._1, e._2)).toSet
    }
    assert(byLabel(1L) === Set(1L, 2L, 3L))
    assert(byLabel(3L) === Set(3L, 4L, 5L))
  }

  test("articulation: a path's interior vertices are all articulation points") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Algos.articulationPoints(es).as[Long].collect().toSet === Set(2L, 3L))
  }

  test("biconnectivity: a null endpoint fails loudly on the driver path") {
    val es = Seq((1L, Some(2L)), (2L, Some(3L)), (3L, None)).toDF("src", "dst")
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      Algos.articulationPoints(_), Algos.biconnectedComponents(_), Algos.bridges(_))
      .foreach(f => intercept[Exception](f(es).collect()))
  }

  test("postOrderNumbering: entry gets the last post-order number") {
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val nums = Algos.postOrderNumbering(1L, es)
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(nums(1L)._1 === 3 && nums(1L)._2 === 0) // entry: last in post, first in RPO
    assert(nums(4L)._1 === 0) // deepest sink first in post-order
  }

  test("loopForest: nested loops with correct headers and depth") {
    // outer loop 2..5 (back edge 5->2), inner loop 3..4 (back edge 4->3)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L), (5L, 2L), (5L, 6L))
      .toDF("src", "dst")
    val rows = Algos.loopForest(1L, es).as[(Long, Long, Int)].collect()
    val byHeader = rows.groupBy(_._2).map { case (h, ms) => h -> ms.map(_._1).toSet }
    assert(byHeader(2L) === Set(2L, 3L, 4L, 5L))
    assert(byHeader(3L) === Set(3L, 4L))
    val depths = rows.map(r => r._2 -> r._3).toMap
    assert(depths(2L) === 0 && depths(3L) === 1) // inner header nested in outer
  }

  test("verticesBetween: forward ∩ backward reachability") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val between = Algos.verticesBetween(es, Seq(1L).toDF("id"), Seq(4L).toDF("id"))
      .as[Long].collect().toSet
    assert(between === Set(1L, 2L, 3L, 4L)) // 5 is a dead end
  }

  test("verticesBetween: the distributed BFS pair past the 50k-edge guard") {
    // a 50,001-edge chain 0 -> 1 -> ... -> 50001
    val es = spark.range(50001L).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val between = Algos.verticesBetween(es, Seq(0L).toDF("id"), Seq(3L).toDF("id"),
      fwdMaxIter = 3, bwdMaxIter = 3).as[Long].collect().toSet
    assert(between === Set(0L, 1L, 2L, 3L))
  }

  test("force layout: deterministic, and pulls connected pairs together") {
    // two 3-cliques joined by one bridge edge
    val vs = (1L to 6L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    def dist(m: Map[Long, (Double, Double)], a: Long, b: Long) = {
      val (x1, y1) = m(a); val (x2, y2) = m(b)
      math.hypot(x1 - x2, y1 - y2)
    }
    val p1 = graft.algos.ForceLayout.run(vs, es, iters = 15)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val p2 = graft.algos.ForceLayout.run(vs, es, iters = 15)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(p1 === p2) // deterministic
    val intra = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L)).map(p => dist(p1, p._1, p._2))
    val inter = Seq((1L, 5L), (2L, 6L), (1L, 6L)).map(p => dist(p1, p._1, p._2))
    assert(intra.sum / intra.size < inter.sum / inter.size) // clusters separate
  }

  test("force layout: FA2 trajectory matches an independently-transcribed scalar model") {
    // Hand-transcribed FA2 step (force_atlas.clj equations written directly
    // here, NOT calling into ForceLayout): 2 vertices + 1 edge, so the
    // operator's grid-centroid repulsion is exactly pairwise (the only peer
    // centroid IS the other vertex) and every force is checkable in closed
    // form. Covers: degree-mass repulsion with the reference's symmetric
    // double application (net 4·coeff·m²/d² lin / 40·coeff·m²/d² local),
    // anisotropic strong gravity (0.75 on y), short-edge-reversal
    // attraction, swinging/traction controller with speed-efficiency decay
    // and capped rise, hash-rotated swing-damped deltas, and the
    // iteration-schedule regimes (lin→local repulsion at 250, annealed
    // repulsion coefficient) via startIter.
    val vs = Seq(1L, 2L).toDF("id")
    val es = Seq((1L, 2L)).toDF("src", "dst")
    // initial state per the documented hash init (the only part shared with
    // the operator — the dynamics below are independent)
    val init = spark.range(1, 3).select(col("id"),
        (pmod(xxhash64(col("id")), lit(100000L)) / 1000.0) - 50.0,
        (pmod(xxhash64(col("id") + 1), lit(100000L)) / 1000.0) - 50.0,
        lit(500.0) + pmod(xxhash64(col("id") + 2), lit(500L)).cast("double"))
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)

    def simulate(startIter: Int, iters: Int, gravityDefault: Double): Map[Long, (Double, Double)] = {
      val m = 2.0 // mass = 1 + degree, degree 1 each
      val ids = init.map(_._1)
      val x = init.map(_._2); val y = init.map(_._3)
      val vx = Array(x(0) * init(0)._4, x(1) * init(1)._4)
      val vy = Array(y(0) * init(0)._4, y(1) * init(1)._4)
      val pvx = vx.clone(); val pvy = vy.clone()
      var speed = 1.0; var se = 1.0; var traction = 3500.0 * 2
      def clampD(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))
      for (it <- startIter until (startIter + iters)) {
        val friction = clampD(1.0 - 0.05 * (traction / math.pow(2.0, 1.8)), 0.2, 0.95)
        val gravity = if (it > 150 && it < 450) -0.04 else gravityDefault
        val repScale = if (it == 0) 4.0 else clampD(50.0 / it, 0.2, 4.0)
        val coeff = 25.0
        val dx = x(0) - x(1); val dy = y(0) - y(1)
        val d = math.hypot(dx, dy); val dc = math.max(d, 0.01)
        val repF =
          if (d <= 0.0001) 0.0
          else if (it < 250) 4.0 * coeff * repScale * m * m / (dc * dc)
          else if (d < 40.0) 40.0 * coeff * repScale * m * m / (dc * dc)
          else 0.0
        val sgn = if (d > 0.01) -1.0 else 1.0
        val fvx = Array(
          vx(0) + dx * repF + sgn * dx * coeff + gravity * coeff * m * x(0),
          vx(1) - dx * repF - sgn * dx * coeff + gravity * coeff * m * x(1))
        val fvy = Array(
          vy(0) + dy * repF + sgn * dy * coeff + gravity * coeff * m * 0.75 * y(0),
          vy(1) - dy * repF - sgn * dy * coeff + gravity * coeff * m * 0.75 * y(1))
        val swinging = (0 to 1).map(v => m * math.hypot(pvx(v) - fvx(v), pvy(v) - fvy(v))).sum
        val newTraction = (0 to 1).map(v => 0.5 * m * math.hypot(pvx(v) + fvx(v), pvy(v) + fvy(v))).sum
        // controller (force-atlas:149-180, Gephi speed<1000 branch)
        val ct0 = 0.02 * math.min(10.0, 0.05 * math.sqrt(2.0) * newTraction / 4.0)
        val sw = math.max(swinging, 1e-12)
        val (se1, ct) =
          if (swinging / math.max(newTraction, 1e-12) > 2.0)
            (if (se > 0.05) se * 0.5 else se, math.max(ct0, 0.02))
          else (se, ct0)
        val target = ct * se1 * newTraction / sw
        se = if (ct * newTraction < swinging) { if (se1 > 0.05) se1 * 0.7 else se1 }
          else if (speed < 1000.0) se1 * 1.3 else se1
        speed = speed + math.min(target - speed, 0.5 * speed)
        traction = newTraction
        for (v <- 0 to 1) {
          val rot = (((ids(v) & 0xffffL) * 2654435761L + it.toLong * 40503L) & 0x3ffL) / 1024.0 * 0.05
          val rvx = fvx(v) * math.cos(rot) - fvy(v) * math.sin(rot)
          val rvy = fvx(v) * math.sin(rot) + fvy(v) * math.cos(rot)
          val swv = m * math.hypot(pvx(v) - rvx, pvy(v) - rvy)
          val fac = speed / (1.0 + math.sqrt(speed * swv))
          x(v) += rvx * fac; y(v) += rvy * fac
          pvx(v) = rvx; pvy(v) = rvy
          vx(v) = rvx * friction; vy(v) = rvy * friction
        }
      }
      ids.indices.map(v => ids(v) -> (x(v), y(v))).toMap
    }

    def close(a: Map[Long, (Double, Double)], b: Map[Long, (Double, Double)]): Unit =
      a.foreach { case (id, (ax, ay)) =>
        val (bx, by) = b(id)
        assert(math.abs(ax - bx) <= 1e-6 * math.max(1.0, math.abs(ax)), s"x($id): $ax vs $bx")
        assert(math.abs(ay - by) <= 1e-6 * math.max(1.0, math.abs(ay)), s"y($id): $ay vs $by")
      }

    def layout(startIter: Int, iters: Int, grav: Double) =
      graft.algos.ForceLayout.run(vs, es, iters = iters, defaultGravity = grav,
          startIter = startIter)
        .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    close(layout(0, 3, -0.04), simulate(0, 3, -0.04))        // lin regime + gravity
    close(layout(500, 2, 0.0), simulate(500, 2, 0.0))        // local regime, annealed floor
    close(layout(200, 2, 0.0), simulate(200, 2, 0.0))        // gravity window active
  }

  test("force layout: distributed path matches the driver-array path") {
    val vs = (1L to 6L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def check(iters: Int, startIter: Int, grav: Double,
        edges: org.apache.spark.sql.DataFrame): Unit = {
      val local = toMap(graft.algos.ForceLayout.run(vs, edges, iters = iters,
        defaultGravity = grav, startIter = startIter))
      val dist = toMap(graft.algos.ForceLayout.run(vs, edges, iters = iters,
        defaultGravity = grav, startIter = startIter, localMax = 0))
      local.foreach { case (id, (lx, ly)) =>
        val (dx2, dy2) = dist(id)
        assert(math.abs(lx - dx2) <= 1e-6 * math.max(1.0, math.abs(lx)), s"x($id) @$startIter")
        assert(math.abs(ly - dy2) <= 1e-6 * math.max(1.0, math.abs(ly)), s"y($id) @$startIter")
      }
    }
    check(4, 0, 0.0, es) // linear-repulsion regime, ewi=0, no gravity
    // local-repulsion regime + weight^0.5 schedule + gravity window + a
    // NULL weight (must act as 1.0 on BOTH paths, not crash/drop)
    val weighted = Seq((1L, 2L, Some(2.0)), (2L, 3L, Some(0.5)), (3L, 1L, None),
      (4L, 5L, Some(1.5)), (5L, 6L, Some(1.0)), (6L, 4L, Some(3.0)), (3L, 4L, Some(1.0)))
      .toDF("src", "dst", "weight")
    check(3, 300, -0.04, weighted)
    check(2, 500, 0.0, weighted) // annealed coefficient floor regime
  }

  test("pushDown propagates a root value to all descendants (fermor prewalk-reduce)") {
    // FK-direction edges child→parent; pushDown walks dst→src
    val es = Seq((10L, 1L), (11L, 1L), (20L, 10L), (21L, 10L), (22L, 11L))
      .toDF("src", "dst").withColumn("label", lit("up"))
    val g = graft.graph.PropertyGraph(Map("v" -> Seq(1L).toDF("id")), es)
    val roots = Seq((1L, 77L)).toDF("id", "tag")
    val lvl1 = Algos.pushDown(g, roots, "tag", Seq("up"))
      .as[(Long, Long)].collect().toSet
    assert(lvl1 === Set((10L, 77L), (11L, 77L)))
    val lvl2 = Algos.pushDown(g, roots, "tag", Seq("up", "up"))
      .as[(Long, Long)].collect().toSet
    assert(lvl2 === Set((20L, 77L), (21L, 77L), (22L, 77L)))
  }

  test("degrees counts both directions") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst").withColumn("label", lit("e"))
    val deg = Algos.degrees(es).as[(Long, Long)].collect().toMap
    assert(deg === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("new algorithms handle empty sources / empty edge sets") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noW = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val vs = Seq(1L, 2L).toDF("id")
    assert(Algos.weightedShortestPath(noW, vs, col("w")).as[(Long, Long)].collect().toMap
      === Map(1L -> 0L, 2L -> 0L)) // sources only, cost 0
    assert(Algos.weightedShortestPath(Seq((1L, 2L, 3L)).toDF("src", "dst", "w"),
      Seq.empty[Long].toDF("id"), col("w")).isEmpty)
    assert(Algos.closenessCentrality(noEdges, vs).as[(Long, Long, Long, Long)]
      .collect().toSet === Set((1L, 0L, 0L, 0L), (2L, 0L, 0L, 0L)))
    assert(Algos.brandesBetweenness(noEdges, vs).as[(Long, Double)].collect().isEmpty)
  }

  test("SCC guard: residualMax=0 forces the GraphX fallback, same components") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val a = Algos.stronglyConnectedComponents(vs, es).as[(Long, Long)].collect().toMap
    val b = Algos.stronglyConnectedComponents(vs, es, residualMax = 0L)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("SCC: a cycle through an edge-only pass-through vertex is preserved") {
    // vertex 3 appears ONLY in edges: the cycle 1->3->2->1 runs through it.
    // The local fast path must not silently split {1,2} by filtering 3's
    // edges away — it gates on endpoint containment and falls back to the
    // distributed path, which (like GraphX's auto-added endpoints) keeps
    // the cycle intact.
    val vs = Seq(1L, 2L).toDF("id")
    val es = Seq((1L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val fast = Algos.stronglyConnectedComponents(vs, es).as[(Long, Long)].collect().toMap
    val dist = Algos.stronglyConnectedComponents(vs, es, residualMax = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    assert(fast(1L) === fast(2L)) // one SCC, not two singletons
  }

  test("closenessCentrality: undirected path 1-2-3 farness/reach/ecc closed form") {
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c = Algos.closenessCentrality(es, Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(c(1L) === ((2L, 3L, 2L))) // d=1 to 2, d=2 to 3; ecc 2
    assert(c(2L) === ((2L, 2L, 1L)))
    // directed: 1 reaches {2,3}, 3 reaches nothing
    val d = Algos.closenessCentrality(es, Seq(1L, 2L, 3L).toDF("id"), directed = true)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(d(1L) === ((2L, 3L, 2L)) && d(3L) === ((0L, 0L, 0L)))
  }

  test("weightedShortestPathWithParent: least-id parent, refined across rounds") {
    // two cost-3 paths to 5: via 9 (2 hops, found round 2, parent 9) and via
    // 2→3 (3 hops, found round 3, parent 3) — the parent must REFINE to 3
    // on equal cost, and ties pick the least pred id
    // null-cost edges are dropped, as weightedShortestPath drops them: the
    // one into 5 changes nothing, and 7 (reached only over one) is absent —
    // on the guarded local replay (which reads costs as primitive longs)
    // and on the distributed rounds alike
    val es = Seq[(Long, Long, Option[Long])]((1L, 9L, Some(2L)), (9L, 5L, Some(1L)),
        (1L, 2L, Some(1L)), (2L, 3L, Some(1L)), (3L, 5L, Some(1L)), (2L, 5L, None), (3L, 7L, None))
      .toDF("src", "dst", "w")
    Seq(50000L, 0L).foreach { guard =>
      val r = Algos.weightedShortestPathWithParent(es, Seq(1L).toDF("id"), col("w"),
          localMaxEdges = guard)
        .collect().map(x => x.getLong(0) -> ((x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2)))).toMap
      assert(r.keySet === Set(1L, 2L, 3L, 5L, 9L), s"guard $guard")
      assert(r(1L) === ((0L, -1L))) // source: null parent
      assert(r(9L) === ((2L, 1L)) && r(2L) === ((1L, 1L)) && r(3L) === ((2L, 2L)))
      assert(r(5L) === ((3L, 3L)))
    }
  }

  test("bfsDistances/reachableEdges recompute after their checkpoint blocks are unpersisted") {
    // with scan sharing on, a second call must still compute its answer —
    // never serve an earlier call's result whose checkpoint blocks are gone
    // (a lost executor or an unpersist), which fails where a recompute works
    val prev = graft.graph.Tpch.shareScans
    graft.graph.Tpch.shareScans = true
    try {
      val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      val sources = Seq(1L).toDF("id")
      // both branches of bfsDistances: the driver walk and the rounds
      for (guard <- Seq(50000L, 0L)) {
        def run() = (Algos.bfsDistances(es, sources, localMaxEdges = guard)
            .as[(Long, Int)].collect().toSet,
          Algos.reachableEdges(1L, es).as[(Long, Long)].collect().toSet)
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val first = run()
        (sc.getPersistentRDDs -- before).values.foreach(_.unpersist(blocking = true))
        assert(run() === first, s"guard $guard")
        assert(first._1 === Set((1L, 0), (2L, 1), (3L, 2), (4L, 3)), s"guard $guard")
        assert(first._2 === Set((1L, 2L), (2L, 3L), (3L, 4L)), s"guard $guard")
      }
    } finally graft.graph.Tpch.shareScans = prev
  }

  test("weightedShortestPath: a cheaper long path beats a short expensive edge") {
    // 1→2 costs 10 direct, but 3 via 1→3→2; relaxation must IMPROVE an
    // already-settled vertex and propagate the improvement (2→4)
    val es = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val d = Algos.weightedShortestPath(es, Seq(1L).toDF("id"), col("w"))
      .as[(Long, Long)].collect().toMap
    assert(d === Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 4L))
    // the same graph with int-typed negative ids: the driver replay reads them as longs
    val neg = Seq((-1, -2, 10L), (-1, -3, 1L), (-3, -2, 2L), (-2, -4, 1L)).toDF("src", "dst", "w")
    assert(Algos.weightedShortestPath(neg, Seq(-1).toDF("id"), col("w"))
      .as[(Long, Long)].collect().toMap === Map(-1L -> 0L, -2L -> 3L, -3L -> 1L, -4L -> 4L))
  }

  test("weightedShortestPath reverse follows dst→src with edge costs") {
    val es = Seq((2L, 1L, 5L), (3L, 2L, 7L)).toDF("src", "dst", "w")
    val d = Algos.weightedShortestPath(es, Seq(1L).toDF("id"), col("w"), reverse = true)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(1L -> 0L, 2L -> 5L, 3L -> 12L))
  }

  test("cheapestAccepted: accept predicate + early exit return the tied-minimum set") {
    // accepted {2,4,5}: costs 5, 5, 9 → the tie {2,4} is the answer; the
    // search stops before relaxing 4→6 (frontier min reaches best accepted)
    val es = Seq((1L, 2L, 5L), (1L, 3L, 2L), (3L, 4L, 3L), (1L, 5L, 9L), (4L, 6L, 10L))
      .toDF("src", "dst", "w")
    val r = Algos.cheapestAccepted(es, Seq(1L).toDF("id"), col("w"),
        accept = col("id").isin(2L, 4L, 5L))
      .as[(Long, Long)].collect().toMap
    assert(r === Map(2L -> 5L, 4L -> 5L))
    // localMaxEdges = 0 forces the distributed relaxation: identical set
    assert(Algos.cheapestAccepted(es, Seq(1L).toDF("id"), col("w"),
        accept = col("id").isin(2L, 4L, 5L), localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap === r)
  }

  test("driver-side DFS analyses fail loudly above the collect guard") {
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    // both branches: the driver walk and the distributed extraction
    for (guard <- Seq(50000L, 0L)) {
      val ex = intercept[IllegalStateException] {
        Algos.collectReachable(1L, es, maxEdges = 1L, localMaxEdges = guard)
      }
      assert(ex.getMessage.contains("maxEdges"), s"guard $guard")
      // under the guard it still works
      assert(Algos.collectReachable(1L, es, maxEdges = 10L, localMaxEdges = guard).length === 2,
        s"guard $guard")
    }
  }

  test("bfsDistances: the driver walk and the distributed rounds agree on awkward inputs") {
    def both(es: org.apache.spark.sql.DataFrame, srcs: org.apache.spark.sql.DataFrame,
        maxIter: Int = 1000): Map[Long, Int] = {
      val Seq(local, rounds) = Seq(50000L, 0L).map(g =>
        Algos.bfsDistances(es, srcs, maxIter = maxIter, localMaxEdges = g)
          .as[(Long, Int)].collect())
      assert(local.length === local.map(_._1).distinct.length, "one row per vertex")
      assert(local.sorted.toSeq === rounds.sorted.toSeq)
      local.toMap
    }
    // duplicate edges, self-loops and duplicate sources
    val es = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (4L, 4L)).toDF("src", "dst")
    assert(both(es, Seq(1L, 1L, 2L).toDF("id")) === Map(1L -> 0, 2L -> 0, 3L -> 1))
    // a source on no edge is its own level-0 row
    assert(both(es, Seq(9L, 1L).toDF("id")) === Map(9L -> 0, 1L -> 0, 2L -> 1, 3L -> 2))
    // maxIter 0-3 on a chain
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    for (k <- 0 to 3)
      assert(both(chain, Seq(1L).toDF("id"), k) === (0 to k).map(i => (i + 1L) -> i).toMap,
        s"maxIter=$k")
    // a null source identifies no vertex
    assert(both(chain, Seq(Some(6L), None).toDF("id")) === Map(6L -> 0, 7L -> 1, 8L -> 2))
    assert(both(chain, Seq(None: Option[Long]).toDF("id")) === Map.empty)
  }

  test("bfsDistances: int-typed ids stay on the distributed path and keep their schema") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def types(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val ints = Algos.bfsDistances(Seq((1, 2), (2, 3)).toDF("src", "dst"), Seq(1).toDF("id"))
    assert(types(ints) === Seq("id" -> IntegerType, "dist" -> IntegerType))
    assert(ints.as[(Int, Int)].collect().toMap === Map(1 -> 0, 2 -> 1, 3 -> 2))
    // long ids: the driver walk emits the distributed rounds' schema
    for (guard <- Seq(50000L, 0L))
      assert(types(Algos.bfsDistances(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L).toDF("id"),
          localMaxEdges = guard)) === Seq("id" -> LongType, "dist" -> IntegerType), s"guard $guard")
  }

  test("collectReachable: the driver walk and the distributed extraction agree, as sets") {
    // duplicate edges, a self-loop, a cycle back to the entry, an edge into
    // the reached set from outside it, and a null-free int-typed copy
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (5L, 3L), (3L, 4L))
    for (es <- Seq(pairs.toDF("src", "dst"),
        pairs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"))) {
      val want = pairs.filter(_._1 != 5L).toSet
      for (guard <- Seq(50000L, 0L)) {
        val got = Algos.collectReachable(1L, es, localMaxEdges = guard)
        assert(got.length === want.size && got.toSet === want, s"guard $guard")
        // an entry on no edge reaches nothing
        assert(Algos.collectReachable(9L, es, localMaxEdges = guard).isEmpty, s"guard $guard")
      }
    }
  }

  test("shortestPathsFromParents materializes source→vertex paths") {
    val es = Seq((1L, 9L, 2L), (9L, 5L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 5L, 1L))
      .toDF("src", "dst", "w")
    val tree = Algos.weightedShortestPathWithParent(es, Seq(1L).toDF("id"), col("w"))
    val paths = Algos.shortestPathsFromParents(tree, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(paths(1L) === Seq(1L))
    assert(paths(5L) === Seq(1L, 2L, 3L, 5L)) // the refined min-parent route
    assert(paths(9L) === Seq(1L, 9L))
  }

  test("ccAlternating matches Pregel CC on a multi-component graph") {
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("src", "dst")
    val vs = es.select(col("src").as("id")).unionAll(es.select(col("dst").as("id")))
      .dropDuplicates("id")
    // localMaxEdges = 0 keeps this an ACTUAL Pregel run, not the local replay
    val pregel = Algos.connectedComponents(vs, es, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val alt = Algos.ccAlternating(es).as[(Long, Long)].collect().toMap
    assert(alt === pregel)
    // and the guarded local union-find replay agrees with both
    assert(Algos.connectedComponents(vs, es).as[(Long, Long)].collect().toMap === pregel)
  }

  test("ccAlternating converges in log rounds on a 10k-deep chain") {
    // the case Pregel min-propagation cannot finish: diameter = n
    val n = 10000
    val es = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val cc = Algos.ccAlternating(es).as[(Long, Long)].collect()
    assert(cc.length === n)
    assert(cc.forall(_._2 === 1L))
  }

  test("ccAlternating fails loudly when the round budget cuts convergence") {
    // the loud-failure standard of every sibling fixpoint: an unconverged
    // star forest is wrong components, and callers COMPOSE on this map
    // (Boruvka contraction, SCC's deep-path slice) — silent truncation
    // would poison them. A 64-deep chain cannot converge in one round.
    val es = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException](Algos.ccAlternating(es, maxRounds = 1).count())
    assert(ex.getMessage.contains("did not converge"))
  }

  test("dominatorDepth survives a 100k-deep linear CFG without stack overflow") {
    val n = 100000
    val es = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val depth = Algos.dominatorDepth(1L, es).as[(Long, Int)].collect().toMap
    assert(depth.size === n)
    assert(depth(1L) === 0 && depth(n.toLong) === n - 1 && depth(50000L) === 49999)
  }

  test("shortestPathTo returns the vertex path to the cheapest accepted vertex") {
    val es = Seq((1L, 9L, 2L), (9L, 5L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 5L, 1L),
      (1L, 7L, 10L)).toDF("src", "dst", "w")
    val r = Algos.shortestPathTo(es, Seq(1L).toDF("id"), col("w"),
        accept = col("id").isin(5L, 7L))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getSeq[Long](2)))).toMap
    // 5 at cost 3 beats 7 at cost 10; path follows the least-id parent tree
    assert(r === Map(5L -> ((3L, Seq(1L, 2L, 3L, 5L)))))
    // unreachable accept set -> empty (the reference's nil)
    assert(Algos.shortestPathTo(es, Seq(1L).toDF("id"), col("w"),
      accept = col("id") === 99L).isEmpty)
  }

  test("incrementalCC: batch-wise maintenance matches full recompute") {
    val b1 = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val vs1 = Seq(1L, 2L, 3L, 4L).toDF("id")
    val cc1 = Algos.incrementalCC(
      Seq.empty[(Long, Long)].toDF("id", "component"), b1).localCheckpoint(true)
    assert(cc1.as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // batch 2 bridges the components and adds a new vertex pair
    val b2 = Seq((2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc2 = Algos.incrementalCC(cc1, b2)
    val full = Algos.connectedComponents(
      vs1.unionAll(Seq(10L, 11L).toDF("id")), b1.unionAll(b2))
    assert(cc2.as[(Long, Long)].collect().toMap === full.as[(Long, Long)].collect().toMap)
    // an EDGE-LESS vertex survives only if seeded as a singleton before the
    // batches (the q_cc_incremental bootstrap): edge-endpoint universes
    // alone would drop it, diverging from a full recompute's vertex set
    val seed = Seq((99L, 99L)).toDF("id", "component")
    val cc3 = Algos.incrementalCC(Algos.incrementalCC(seed, b1).localCheckpoint(true), b2)
    val full3 = Algos.connectedComponents(
      vs1.unionAll(Seq(10L, 11L, 99L).toDF("id")), b1.unionAll(b2))
    assert(cc3.as[(Long, Long)].collect().toMap === full3.as[(Long, Long)].collect().toMap)
  }

  test("incrementalCC: non-assignment prevs fall back to the full-recompute semantics") {
    // the delta fast path requires prev to BE an assignment; each violation
    // class must land on the old path, whose output (full CC over
    // membership links + batch) defines the semantics
    val batch = Seq((7L, 8L)).toDF("src", "dst")
    def full(prev: Seq[(Long, Long)]) = {
      val links = prev.filter(p => p._1 != p._2).toDF("src", "dst")
      val vs = (prev.map(_._1) ++ Seq(7L, 8L)).distinct.toDF("id")
      Algos.connectedComponents(vs, links.unionAll(batch))
        .as[(Long, Long)].collect().toMap
    }
    // label without a self-row: (5 -> 3) but no (3 -> 3)
    val p1 = Seq((5L, 3L))
    assert(Algos.incrementalCC(p1.toDF("id", "component"), batch)
      .as[(Long, Long)].collect().toMap === full(p1))
    // label above its id (not a min-labeling): (2 -> 5), (5 -> 5)
    val p2 = Seq((2L, 5L), (5L, 5L))
    assert(Algos.incrementalCC(p2.toDF("id", "component"), batch)
      .as[(Long, Long)].collect().toMap === full(p2))
    // duplicate id rows merge components through their link edges
    val p3 = Seq((5L, 1L), (5L, 2L), (1L, 1L), (2L, 2L))
    assert(Algos.incrementalCC(p3.toDF("id", "component"), batch)
      .as[(Long, Long)].collect().toMap === full(p3))
    // a CANONICAL prev takes the delta path and still matches
    val p4 = Seq((1L, 1L), (2L, 1L), (3L, 3L), (8L, 8L))
    val b4 = Seq((2L, 3L), (8L, 1L)).toDF("src", "dst")
    val got = Algos.incrementalCC(p4.toDF("id", "component"), b4)
      .as[(Long, Long)].collect().toMap
    val want = Algos.connectedComponents(
      Seq(1L, 2L, 3L, 8L).toDF("id"),
      p4.filter(p => p._1 != p._2).toDF("src", "dst").unionAll(b4))
      .as[(Long, Long)].collect().toMap
    assert(got === want && got(8L) === 1L && got(3L) === 1L)
  }

  test("articulation/BCC: distributed per-component fallback matches the driver path") {
    // two components: path 1-2-3 (2 is articulation; each edge its own BCC)
    // and triangle 10-11-12 (no articulation; one BCC)
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val artDriver = Algos.articulationPoints(es).as[Long].collect().toSet
    val artDist = Algos.articulationPoints(es, localMaxEdges = 0L).as[Long].collect().toSet
    assert(artDriver === Set(2L))
    assert(artDist === artDriver) // localMaxEdges=0 forces the guard to trip
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(least(col("src"), col("dst")), greatest(col("src"), col("dst")), col("component"))
        .as[(Long, Long, Long)].collect().toSet
    val bccDriver = norm(Algos.biconnectedComponents(es))
    val bccDist = norm(Algos.biconnectedComponents(es, localMaxEdges = 0L))
    assert(bccDriver === Set((1L, 2L, 1L), (2L, 3L, 2L),
      (10L, 11L, 10L), (11L, 12L, 10L), (10L, 12L, 10L)))
    assert(bccDist === bccDriver)
    val bridgesDriver = Algos.bridges(es).as[(Long, Long)].collect().toSet
    assert(bridgesDriver === Set((1L, 2L), (2L, 3L)))
    assert(Algos.bridges(es, localMaxEdges = 0L).as[(Long, Long)].collect().toSet === bridgesDriver)
  }

  test("brandesBetweenness: star, path, and split-sigma diamond closed forms") {
    // undirected star, hub 0, 4 leaves: 4·3 ordered leaf pairs through hub
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val b = Algos.brandesBetweenness(star, Seq(0L, 1L, 2L, 3L, 4L).toDF("id"))
      .as[(Long, Double)].collect().toMap
    assert(b(0L) === 12.0 && b(1L) === 0.0)
    // undirected path 1-2-3: (1,3) and (3,1) pass through 2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val bp = Algos.brandesBetweenness(path, Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Double)].collect().toMap
    assert(bp(2L) === 2.0)
    // directed diamond 1→{2,3}→4: σ(1,4)=2, each middle carries half
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val bd = Algos.brandesBetweenness(dia, Seq(1L, 2L, 3L, 4L).toDF("id"), directed = true)
      .as[(Long, Double)].collect().toMap
    assert(bd(2L) === 0.5 && bd(3L) === 0.5 && bd(4L) === 0.0)
  }

  test("brandes agrees with enumeration-recipe ordering on the star (scale path sanity)") {
    // the TinkerPop enumeration counts path APPEARANCES (endpoints included),
    // Brandes sums pair dependencies (endpoints excluded) — different
    // measures, same ranking: hub strictly above leaves
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
      .withColumn("label", lit("e"))
    val both = star.unionByName(star.select(col("dst").as("src"), col("src").as("dst"), col("label")))
    val g = graft.graph.PropertyGraph(Map("v" -> Seq(0L, 1L, 2L, 3L).toDF("id")), both)
    val enum_ = Algos.betweennessByEnumeration(g, maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    val brandes = Algos.brandesBetweenness(star, Seq(0L, 1L, 2L, 3L).toDF("id"))
      .as[(Long, Double)].collect().toMap
    assert(enum_(0L) > enum_(1L) && brandes(0L) > brandes(1L))
    // closed forms on the 3-leaf star: hub 1+2·3+3·2=13, leaf 2·3+1=7
    assert(enum_(0L) === 13L && enum_(1L) === 7L)
    assert(brandes(0L) === 6.0)
  }

  test("labelPropagationSync: one round matches the hand-computed argmax; runs are deterministic") {
    // two triangles {1,2,3} and {4,5,6} bridged by 3-6, undirected
    val uni = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 6L))
      .toDF("src", "dst")
    val es = uni.unionByName(uni.select(col("dst").as("src"), col("src").as("dst")))
    val vs = (1L to 6L).toDF("id")
    // round 1 from self-labels: every vertex adopts the MIN neighbor label
    // (all counts tie at 1)
    val r1 = Algos.labelPropagationSync(vs, es, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 4L, 6L -> 3L))
    // fixed iteration count => one exact deterministic answer
    val a = Algos.labelPropagationSync(vs, es, iters = 4).as[(Long, Long)].collect().toSet
    val b = Algos.labelPropagationSync(vs.repartition(3), es.repartition(5), iters = 4)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
    // localMaxEdges = 0 forces the distributed rounds: the guarded local
    // replay must be bit-identical, including duplicate-edge weighting
    val dup = es.unionByName(Seq((2L, 1L), (2L, 1L)).toDF("src", "dst"))
    for (iters <- Seq(1, 2, 4)) {
      val local = Algos.labelPropagationSync(vs, dup, iters).as[(Long, Long)].collect().toMap
      val dist = Algos.labelPropagationSync(vs, dup, iters, localMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(local === dist, s"iters=$iters")
    }
  }

  test("hits: un-normalized rounds match hand computation (auth from old hubs, hub from new auths)") {
    // 1 -> 3, 2 -> 3, 3 -> 4
    val es = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val vs = (1L to 4L).toDF("id")
    val r1 = Algos.hits(vs, es, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(r1 === Map(1L -> ((2L, 0L)), 2L -> ((2L, 0L)), 3L -> ((1L, 2L)), 4L -> ((0L, 1L))))
    val r2 = Algos.hits(vs, es, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(r2 === Map(1L -> ((4L, 0L)), 2L -> ((4L, 0L)), 3L -> ((1L, 4L)), 4L -> ((0L, 1L))))
  }

  test("deterministicWalks: hash-argmin hops, sink stops, repartition-invariant") {
    // diamond: 1 -> {2,3}, both -> 4 (sink): the step-1 choice is the
    // md5-argmin over {2,3}, mirrored here with an INDEPENDENT digest
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val starts = Seq(1L).toDF("id")
    def h(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val first = if (h("1:1:2") < h("1:1:3")) 2L else 3L
    val walks = Algos.deterministicWalks(es, starts, steps = 5)
      .select("walker", "step", "v").as[(Long, Int, Long)].collect().toSet
    // the walk stops at the sink: steps 0,1,2 only, no padding rows
    assert(walks === Set((1L, 0, 1L), (1L, 1, first), (1L, 2, 4L)))
    val re = Algos.deterministicWalks(es.repartition(7), starts, steps = 5)
      .select("walker", "step", "v").as[(Long, Int, Long)].collect().toSet
    assert(re === walks)
    // localMaxEdges = 0 forces the distributed hops: the guarded local
    // replay must be bit-identical on a multi-walker, duplicate-edge graph
    val multi = Seq((1L, 2L), (1L, 3L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val starts3 = Seq(1L, 2L, 4L).toDF("id")
    for (steps <- Seq(0, 1, 4)) {
      val local = Algos.deterministicWalks(multi, starts3, steps)
        .select("walker", "step", "v").as[(Long, Int, Long)].collect().toSet
      val dist = Algos.deterministicWalks(multi, starts3, steps, localMaxEdges = 0L)
        .select("walker", "step", "v").as[(Long, Int, Long)].collect().toSet
      assert(local === dist, s"steps=$steps")
    }
    // duplicate walker rows take the distributed path, whose walker-keyed
    // argmin window COLLAPSES the duplicates after step 0 (2 step-0 rows,
    // then 1 row/step) — the guard must preserve that shape, not "fix" it
    val dupStarts = Seq(1L, 1L).toDF("id")
    val gotDup = Algos.deterministicWalks(es, dupStarts, 2).collect()
    val gotDupDist = Algos.deterministicWalks(es, dupStarts, 2, localMaxEdges = 0L).collect()
    assert(gotDup.length === gotDupDist.length && gotDup.length === 4)
  }

  test("kCore: multi-round path peel into the surviving cycle; edge normalization") {
    // path 1-2-3-4-5 feeding cycle 5-6-7-8-5: the 2-core must peel the path
    // one end-vertex per round (4 cascading rounds) and keep exactly the
    // cycle, every member at within-core degree 2
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L)).toDF("src", "dst")
    val core2 = Algos.kCore(es, k = 2).as[(Long, Long)].collect().toMap
    assert(core2 === Map(5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L))
    // 3-core of the same graph is empty (cycle degrees are 2)
    assert(Algos.kCore(es, k = 3).isEmpty)
    // parallel edges collapse and self-loops drop: 1=2 twice + loop at 1
    // leaves both vertices at degree 1 => 2-core empty, 1-core both
    val multi = Seq((1L, 2L), (2L, 1L), (1L, 1L)).toDF("src", "dst")
    assert(Algos.kCore(multi, k = 2).isEmpty)
    assert(Algos.kCore(multi, k = 1).as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L))
  }

  test("personalizedPageRank matches an independent fixed-point replay; support stays sparse") {
    // cycle 1→2→3→1 with a dangling spur 3→4 and an unreachable vertex 9
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 9L))
    // independent driver-side replay of the exact integer recurrence
    def ref(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
      val (alphaBp, scale) = (8500L, 1000000000000L)
      val deg = edges.groupBy(_._1).map { case (u, out) => u -> out.size.toLong }
      val r0 = scale * (10000L - alphaBp) / 10000L
      var r: Map[Long, Long] = seeds.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val in = edges.flatMap { case (u, v) =>
          r.get(u).map(ru => v -> ru * alphaBp / (10000L * deg(u)))
        }.groupBy(_._1).map { case (v, ms) => v -> ms.map(_._2).sum }
        r = (in.keySet ++ seeds).map(v =>
          v -> (in.getOrElse(v, 0L) + (if (seeds(v)) r0 else 0L))).toMap
      }
      r
    }
    val seeds = Seq(1L).toDF("id")
    for (iters <- Seq(1, 3, 5)) {
      val got = Algos.personalizedPageRank(es.toDF("src", "dst"), seeds, iters)
        .as[(Long, Long)].collect().toMap
      assert(got === ref(es, Set(1L), iters), s"iters=$iters")
      // support = seed's out-neighborhood only: 9's self-loop never ranks
      assert(!got.contains(9L))
    }
    // mass retires at the dangling vertex 4 but never goes negative or
    // explodes: total stays within (restart-only, scale · rounds)
    val r5 = Algos.personalizedPageRank(es.toDF("src", "dst"), seeds, 5)
      .as[(Long, Long)].collect().toMap
    assert(r5.values.forall(_ >= 0L) && r5.values.sum < 5000000000000L)
    // partition-insensitive: the recurrence is a pure fact of (graph, seeds)
    val gotP = Algos.personalizedPageRank(es.toDF("src", "dst").repartition(7), seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(gotP === ref(es, Set(1L), 3))
    // localMaxEdges = 0 forces the distributed rounds: the guarded local
    // replay must be bit-identical to them on every (iters, seed set)
    for (iters <- Seq(1, 3, 5); seedIds <- Seq(Seq(1L), Seq(1L, 3L), Seq(4L, 9L))) {
      val sdf = seedIds.toDF("id")
      val local = Algos.personalizedPageRank(es.toDF("src", "dst"), sdf, iters)
        .as[(Long, Long)].collect().toMap
      val dist = Algos.personalizedPageRank(es.toDF("src", "dst"), sdf, iters,
        localMaxEdges = 0L).as[(Long, Long)].collect().toMap
      assert(local === dist, s"iters=$iters seeds=$seedIds")
    }
    // duplicate seed rows take the distributed path (bag semantics): the
    // replay guard must not change what a duplicated restart vector yields
    val dupSeeds = Seq(1L, 1L).toDF("id")
    val gotDup = Algos.personalizedPageRank(es.toDF("src", "dst"), dupSeeds, 2)
      .as[(Long, Long)].collect().toMap
    val gotDupDist = Algos.personalizedPageRank(es.toDF("src", "dst"), dupSeeds, 2,
      localMaxEdges = 0L).as[(Long, Long)].collect().toMap
    assert(gotDup === gotDupDist)
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    // a 6-path, a 4-star (hub 10), a triangle, and a K4 — covers chains
    // (alternation), hubs (leaves win), and odd/complete cliques (one winner)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L), (30L, 32L), (30L, 33L), (31L, 32L), (31L, 33L), (32L, 33L))
    val df = es.toDF("src", "dst")
    val mis = Algos.maximalIndependentSet(df).as[Long].collect().toSet
    val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    // independent: no edge between two members
    assert(!sym.exists { case (a, b) => mis(a) && mis(b) })
    // maximal: every non-member has a member neighbor
    val verts = es.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert((verts -- mis).forall(v => sym.exists { case (a, b) => a == v && mis(b) }))
    // cliques contribute exactly one member; the star's hub xor its leaves
    assert(mis.count(Set(20L, 21L, 22L)) === 1)
    assert(mis.count(Set(30L, 31L, 32L, 33L)) === 1)
    assert(if (mis(10L)) Set(11L, 12L, 13L, 14L).forall(!mis(_))
           else Set(11L, 12L, 13L, 14L).forall(mis))
    // hash priorities are a pure fact of the graph: partitioning-invariant
    val again = Algos.maximalIndependentSet(df.repartition(7)).as[Long].collect().toSet
    assert(again === mis)
  }

  test("linkPrediction: common neighbors + integer RA, hub cap, adjacency excluded") {
    // one-mode square 1-2-3-4-1 symmetrized: opposite corners (1,3) and
    // (2,4) share both in-between vertices; adjacent corners share none.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val sym = (sq ++ sq.map(_.swap)).toDF("src", "dst")
    val got = Algos.linkPrediction(sym, minCommon = 1, maxDeg = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // every vertex has degree 2 => RA contribution 1000000 div 2 each;
    // jaccard = 10000*2 div (2+2-2) = 10000 (identical neighborhoods)
    assert(got === Map((1L, 3L) -> ((2L, 1000000L, 10000L)),
      (2L, 4L) -> ((2L, 1000000L, 10000L))))
    // adjacency exclusion: add the chord 1-3; the pair must vanish even
    // though the shared neighbors remain
    val chord = (sq ++ Seq((1L, 3L))).flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    val got2 = Algos.linkPrediction(chord, minCommon = 1, maxDeg = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!got2.contains((1L, 3L)) && got2.contains((2L, 4L)))
    // hub cap: with maxDeg below the square's degree 2, no wedge centers
    assert(Algos.linkPrediction(sym, minCommon = 1, maxDeg = 2).count() === 2)
    // (cap = 2 keeps them; the count() above pins the boundary INclusive)
    // two-mode: customers {10,11,12} × parts {100,101}; 10,11 share both
    val bip = Seq((10L, 100L), (10L, 101L), (11L, 100L), (11L, 101L), (12L, 100L))
      .toDF("src", "dst")
    val b = Algos.linkPrediction(bip, minCommon = 2, maxDeg = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
    // part 100 has deg 3 (RA 333333), part 101 deg 2 (RA 500000);
    // jaccard = 10000*2 div (2+2-2) = 10000 (both bought exactly {100,101})
    assert(b.toSeq === Seq((10L, 11L, 2L, 833333L, 10000L)))
    // partitioning-invariant
    val re = Algos.linkPrediction(sym.repartition(7), minCommon = 1, maxDeg = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(re === got)
  }

  test("modularity: integer ppm matches the hand-computed Newman Q") {
    // two triangles bridged by one edge; communities = the triangles
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val comm = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("id", "community")
    val got = Algos.modularity(es, comm)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // M = 14 directed pairs; each triangle: internal 6, degree 7
    // q_ppm = (1e6*6)//14 - (1e6*49)//196 = 428571 - 250000
    assert(got === Map(10L -> ((6L, 7L, 178571L)), 20L -> ((6L, 7L, 178571L))))
    // the trivial one-community partition has Q exactly 0
    val one = comm.withColumn("community", lit(99L))
    val q0 = Algos.modularity(es, one).as[(Long, Long, Long, Long)].collect()
    assert(q0.toSeq === Seq((99L, 14L, 14L, 0L)))
    // direction/duplicate normalization: doubling + reversing edges is a no-op
    val messy = (Seq((2L, 1L), (1L, 2L)) ++ Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))).toDF("src", "dst")
    val gotM = Algos.modularity(messy, comm)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(gotM === got)
  }

  test("kTruss: cascading support peel, canonicalization, empty fixpoint") {
    // K5 on {1..5} (every edge in 3 triangles) + a pendant triangle {5,6,7}
    // + a tail 7-8: the 4-truss (support >= 2) is exactly K5 — the {5,6,7}
    // triangle has support 1 and peels, the tail peels first
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val es = k5 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))
    val got4 = Algos.kTruss(es.toDF("src", "dst"), k = 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got4.keySet === k5.toSet)
    // inside K5 every edge's within-truss support is exactly 3
    assert(got4.values.forall(_ === 3L))
    // k = 3 keeps both triangles (support >= 1) but still drops the tail
    val got3 = Algos.kTruss(es.toDF("src", "dst"), k = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(got3 === (k5 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L))).toSet)
    // k = 6 dissolves K5 entirely (needs support 4, max is 3) -> empty
    assert(Algos.kTruss(es.toDF("src", "dst"), k = 6).count() === 0L)
    // direction/duplicates collapse: reversed + repeated edges change nothing
    val messy = (es ++ es.map(_.swap)).toDF("src", "dst")
    val gotM = Algos.kTruss(messy, k = 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotM === got4)
    // localMaxEdges = 0 forces the distributed per-round recompute; the
    // default takes the local incremental peel — identical including
    // supports (unique-fixpoint argument)
    val dist4 = Algos.kTruss(es.toDF("src", "dst"), k = 4, localMaxEdges = 0L)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(dist4 === got4)
  }

  test("kTruss: guarded local peel == distributed rounds on a randomized graph") {
    // deterministic pseudo-random graph: two planted cliques (sizes 7 and 6,
    // sharing vertex 1) for a guaranteed nonempty 5-truss, plus 300 seeded
    // random chords over 50 vertices for cascade depth; both regimes must
    // agree BIT-exactly on (edge set, within-truss support) at every k
    val rnd = new scala.util.Random(20260814L)
    val cliqueA = for (i <- 1L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val cliqueB0 = Seq(1L, 20L, 21L, 22L, 23L, 24L)
    val cliqueB = for (i <- cliqueB0.indices; j <- (i + 1) until cliqueB0.size)
      yield (cliqueB0(i), cliqueB0(j))
    val chords = Seq.fill(300)((rnd.nextInt(50) + 1L, rnd.nextInt(50) + 1L))
      .filter { case (x, y) => x != y }
    val es = (cliqueA ++ cliqueB ++ chords).toDF("src", "dst")
    for (k <- Seq(3, 4, 5, 6)) {
      val loc = Algos.kTruss(es, k)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val dist = Algos.kTruss(es, k, localMaxEdges = 0L)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(dist === loc, s"k=$k regimes disagree")
    }
    // the planted 7-clique survives k=6 (support 5 inside) in both regimes
    val loc6 = Algos.kTruss(es, 6).as[(Long, Long, Long)].collect()
    assert(loc6.map(r => (r._1, r._2)).toSet.intersect(cliqueA.toSet) === cliqueA.toSet)
  }

  test("boruvkaForest: unique MSF, parallel-edge collapse, ties, two components") {
    // path 1-2-3-4 with an expensive chord 1-3, plus a separate pair 5-6;
    // a duplicate (1,2) at higher weight must collapse to the min
    val es = Seq((1L, 2L, 1L), (2L, 1L, 7L), (2L, 3L, 2L), (1L, 3L, 5L),
      (3L, 4L, 3L), (5L, 6L, 9L)).toDF("src", "dst", "w")
    val got = Algos.boruvkaForest(es).as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (5L, 6L, 9L)))
    // all-equal weights on a triangle: the (w, src, dst) total order makes
    // the answer unique — Kruskal order (1,2) then (1,3)
    val tri = Seq((1L, 2L, 4L), (2L, 3L, 4L), (1L, 3L, 4L)).toDF("src", "dst", "w")
    val gotT = Algos.boruvkaForest(tri).as[(Long, Long, Long)].collect().toSet
    assert(gotT === Set((1L, 2L, 4L), (1L, 3L, 4L)))
    // partitioning-invariant (deterministic at any parallelism)
    val re = Algos.boruvkaForest(es.repartition(7)).as[(Long, Long, Long)].collect().toSet
    assert(re === got)
    // total forest weight is minimal: brute-force over all spanning trees
    // of the 4-vertex component (chord in or out) confirms 1+2+3
    assert(got.filter(_._1 <= 4L).map(_._3).sum === 6L)
  }

  test("boruvkaForest: alternating-weight chain exercises multi-round contraction") {
    // a 16-chain whose odd edges are cheap and even edges expensive: round 1
    // merges disjoint PAIRS only (each component's min is its cheap edge),
    // so reaching one component takes ~log n contraction rounds — the
    // multi-round merge path, not the single-round star collapse. The MSF
    // of a tree is the tree itself either way.
    val chain = (1L until 16L).map(i =>
      (i, i + 1, if (i % 2 == 1) i else 100L + i))
    val got = Algos.boruvkaForest(chain.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === chain.toSet)
    // the distributed contraction path (guard disabled) returns the SAME
    // unique forest as the guarded Kruskal finish — on the chain AND on a
    // denser deterministic graph with chords and ties
    assert(Algos.boruvkaForest(chain.toDF("src", "dst", "w"), localMaxEdges = 0L)
      .as[(Long, Long, Long)].collect().toSet === got)
    val dense = (1L to 60L).flatMap(i =>
      Seq((i, i % 60 + 1, (i * 37) % 11), (i, (i * 7) % 60 + 1, (i * 13) % 11)))
    val df = dense.toDF("src", "dst", "w")
    assert(Algos.boruvkaForest(df, localMaxEdges = 0L)
      .as[(Long, Long, Long)].collect().toSet
      === Algos.boruvkaForest(df).as[(Long, Long, Long)].collect().toSet)
  }

  test("butterflyCount: K22 census, hub cap excludes saturated right vertices") {
    // K_{2,2}: wedges = 2 (one per right vertex), butterflies = 1
    val k22 = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
    val got = Algos.butterflyCount(k22.toDF("src", "dst"), maxDeg = 10)
      .as[(Long, Long)].head()
    assert(got === ((2L, 1L)))
    // add a hub right vertex shared by 3 lefts with maxDeg = 2: the hub is
    // excluded, counts unchanged; with maxDeg = 10 it adds C(3,2)=3 wedges
    // and (1,2) gains a second shared neighbor -> still C(2,2)=1 butterfly,
    // plus pairs (1,3),(2,3) with cn=1 contribute 0
    val hub = k22 ++ Seq((1L, 12L), (2L, 12L), (3L, 12L))
    assert(Algos.butterflyCount(hub.toDF("src", "dst"), maxDeg = 2)
      .as[(Long, Long)].head() === ((2L, 1L)))
    assert(Algos.butterflyCount(hub.toDF("src", "dst"), maxDeg = 10)
      .as[(Long, Long)].head() === ((5L, 3L)))
    // duplicate edges collapse before counting
    assert(Algos.butterflyCount((k22 ++ k22).toDF("src", "dst"), maxDeg = 10)
      .as[(Long, Long)].head() === ((2L, 1L)))
  }

  test("jpColoring: proper, greedy-bounded, deterministic; saturation fails loudly") {
    // K4 needs exactly 4 colors; a pendant path reuses low colors
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val es = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val colors = Algos.jpColoring(es, maxColors = 16)
      .as[(Long, Int)].collect().toMap
    assert(colors.keySet === (1L to 6L).toSet)
    // proper: no edge monochrome (check the symmetrized closure)
    (k4 ++ Seq((4L, 5L), (5L, 6L))).foreach { case (a, b) =>
      assert(colors(a) !== colors(b), s"edge ($a,$b) monochrome")
    }
    // greedy bound: colors within maxDegree+1 = 5, K4 uses all of 0..3
    assert(colors.values.max <= 4)
    assert((1L to 4L).map(colors).toSet.size === 4)
    // deterministic under repartitioning
    val re = Algos.jpColoring(es.repartition(5), maxColors = 16)
      .as[(Long, Int)].collect().toMap
    assert(re === colors)
    // maxColors <= maxDegree is rejected up front, not silently dropped
    intercept[IllegalArgumentException] {
      Algos.jpColoring(es, maxColors = 3)
    }
  }

  test("hash-priority loops: guarded local replay == distributed rounds (MIS, coloring, matching)") {
    // a deterministic pseudo-random graph with hubs, chords, and ties;
    // localMaxEdges = 0 forces the distributed loop, default takes the
    // local replay — the answers must be BIT-identical (same md5 rounds)
    val es = ((1L to 80L).map(i => (i, i % 80 + 1)) ++
      (1L to 80L).map(i => (i, (i * 13) % 80 + 1)) ++
      (1L to 20L).map(i => (i, 81L))).toDF("src", "dst")
    assert(Algos.maximalIndependentSet(es).as[Long].collect().toSet
      === Algos.maximalIndependentSet(es, localMaxEdges = 0L).as[Long].collect().toSet)
    assert(Algos.jpColoring(es, maxColors = 64).as[(Long, Int)].collect().toMap
      === Algos.jpColoring(es, maxColors = 64, localMaxEdges = 0L)
        .as[(Long, Int)].collect().toMap)
    assert(Algos.maximalMatching(es).as[(Long, Long)].collect().toSet
      === Algos.maximalMatching(es, localMaxEdges = 0L).as[(Long, Long)].collect().toSet)
    // same for the unique-fixpoint peel and the exact integer recurrence
    assert(Algos.kCore(es, k = 3).as[(Long, Long)].collect().toSet
      === Algos.kCore(es, k = 3, localMaxEdges = 0L).as[(Long, Long)].collect().toSet)
    val vs = es.select(col("src").as("id")).unionAll(es.select(col("dst").as("id"))).distinct()
    assert(Algos.hits(vs, es, iters = 3).as[(Long, Long, Long)].collect().toSet
      === Algos.hits(vs, es, iters = 3, localMaxEdges = 0L)
        .as[(Long, Long, Long)].collect().toSet)
    // duplicate edges multiply HITS contributions identically in both forms
    val dup = es.unionAll(es.limit(40))
    assert(Algos.hits(vs, dup, iters = 2).as[(Long, Long, Long)].collect().toSet
      === Algos.hits(vs, dup, iters = 2, localMaxEdges = 0L)
        .as[(Long, Long, Long)].collect().toSet)
  }

  test("peel caps on the distributed rounds: a pool one round short of done throws") {
    // localMaxEdges = 0 forces the distributed rounds; every input below
    // needs a second round, so maxRounds = 1 must fail loudly
    def msg(f: => Any): String = intercept[IllegalStateException](f).getMessage
    val path5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assert(msg(Algos.kCore(path5, k = 2, maxRounds = 1, localMaxEdges = 0L))
      === "kCore did not converge within 1 rounds")
    assert(Algos.kCore(path5, k = 2, maxRounds = 2, localMaxEdges = 0L).isEmpty)
    val triPendant = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    assert(msg(Algos.kTruss(triPendant, k = 3, maxRounds = 1, localMaxEdges = 0L))
      === "kTruss did not converge within 1 rounds")
    assert(Algos.kTruss(triPendant, k = 3, maxRounds = 2, localMaxEdges = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val path40 = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(msg(Algos.maximalIndependentSet(path40, maxRounds = 1, localMaxEdges = 0L))
      === "MIS did not drain within 1 rounds")
    assert(msg(Algos.jpColoring(path40, maxRounds = 1, localMaxEdges = 0L))
      === "jpColoring did not drain within 1 rounds")
    assert(msg(Algos.maximalMatching(path40, maxRounds = 1, localMaxEdges = 0L))
      === "matching did not drain within 1 rounds")
  }

  test("coreNumbers and boruvkaForest caps on the distributed rounds throw") {
    // localMaxEdges = 0 forces the distributed rounds; both inputs need a
    // second round, so maxRounds = 1 must fail loudly
    def msg(f: => Any): String = intercept[IllegalStateException](f).getMessage
    val path8 = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(msg(Algos.coreNumbers(path8, maxRounds = 1, localMaxEdges = 0L))
      === "coreNumbers h-index iteration did not converge within 1 rounds")
    val chain16 = (1L to 15L).map(i => (i, i + 1, if (i % 2 == 0) 2L else 1L))
      .toDF("src", "dst", "w")
    assert(msg(Algos.boruvkaForest(chain16, maxRounds = 1, localMaxEdges = 0L))
      === "boruvkaForest did not converge within 1 rounds")
  }

  test("harmonicCentrality: path graph closed form, isolated source gets a zero row") {
    // undirected path a-b-c at scale 840: ends score 840 + 420, middle 1680
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val srcs = Seq(1L, 2L, 3L, 99L).toDF("id") // 99 is isolated
    val got = Algos.harmonicCentrality(es, srcs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((2L, 1260L)))
    assert(got(2L) === ((2L, 1680L)))
    assert(got(3L) === ((2L, 1260L)))
    assert(got(99L) === ((0L, 0L)))
    // directed: only forward hops count
    val dgot = Algos.harmonicCentrality(es, Seq(1L, 3L).toDF("id"), directed = true)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dgot(1L) === ((2L, 1260L)))
    assert(dgot(3L) === ((0L, 0L)))
  }

  test("maximalMatching: maximal, vertex-disjoint, deterministic under repartition") {
    // triangle + pendant: matching has exactly 2 disjoint edges (one
    // triangle edge + the pendant edge) unless the pendant's anchor was
    // matched, in which case 1 + the pendant-free result is impossible:
    // 4-5 is disjoint from the triangle, so size is always 2
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("src", "dst")
    val m = Algos.maximalMatching(es).as[(Long, Long)].collect().toSet
    assert(m.size === 2)
    val verts = m.toSeq.flatMap(e => Seq(e._1, e._2))
    assert(verts.distinct.size === verts.size, "matched edges share a vertex")
    assert(m.contains((4L, 5L)))
    // maximality: every unmatched edge touches a matched vertex
    val canon = Set((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
    (canon -- m).foreach { case (a, b) =>
      assert(verts.contains(a) || verts.contains(b), s"edge ($a,$b) extendable")
    }
    // determinism: repartitioned + reversed-edge input yields the same set
    val re = Algos.maximalMatching(
      es.select(col("dst").as("src"), col("src").as("dst")).repartition(7))
      .as[(Long, Long)].collect().toSet
    assert(re === m)
  }

  test("bridges: path edges are bridges, cycle edges are not, orientation-independent") {
    // path 1-2-3 feeding a triangle 3-4-5: bridges are exactly (1,2),(2,3)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst")
    val got = Algos.bridges(es).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 3L)))
    // reversed orientations and duplicates don't change the answer
    val rev = es.select(col("dst").as("src"), col("src").as("dst")).unionAll(es)
    assert(Algos.bridges(rev).as[(Long, Long)].collect().toSet === got)
    // a lone K2 component: its only edge is a bridge
    val k2 = es.unionAll(Seq((10L, 11L)).toDF("src", "dst"))
    assert(Algos.bridges(k2).as[(Long, Long)].collect().toSet
      === got + ((10L, 11L)))
  }

  test("condensation: quotient edges, absent vertices stay singletons, self-loops drop") {
    // components: {1,2} -> 10; vertex 3 unmapped (singleton)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L)).toDF("src", "dst")
    val comp = Seq((1L, 10L), (2L, 10L)).toDF("id", "component")
    val got = Algos.condensation(es, comp).as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 3L), (3L, 10L)))
  }

  test("transitiveReduction: drops implied edges only; unique for DAGs") {
    // diamond with a shortcut: 1->2->4, 1->3->4, 1->4 (implied), 2->3
    val es = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L), (1L, 4L), (2L, 3L))
      .toDF("src", "dst")
    val got = Algos.transitiveReduction(es).as[(Long, Long)].collect().toSet
    // 1->3 implied via 1->2->3, 1->4 via 1->2->4, 2->4 via 2->3->4: the
    // unique reduction is the chain
    assert(got === Set((1L, 2L), (2L, 3L), (3L, 4L)))
    // an already-minimal chain is a fixpoint
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Algos.transitiveReduction(chain).as[(Long, Long)].collect().toSet
      === Set((1L, 2L), (2L, 3L), (3L, 4L)))
    // force-local convention: guard = MaxValue must SATURATE the 16x pair
    // cap (an overflowed cap would silently bail every call distributed)
    assert(Algos.transitiveReduction(es, localMaxEdges = Long.MaxValue)
      .as[(Long, Long)].collect().toSet === Set((1L, 2L), (2L, 3L), (3L, 4L)))
    // exceeding maxDepth fails loudly rather than silently truncating
    intercept[IllegalStateException] {
      Algos.transitiveReduction(
        (1L to 12L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("src", "dst"),
        maxDepth = 3)
    }
    // a cycle SHORTER than maxDepth also fails loudly (a silent pass would
    // mark the cycle's own edges as implied and delete them)
    intercept[IllegalStateException] {
      Algos.transitiveReduction(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"))
    }
    // both loud failures hold on the DISTRIBUTED path too (guard = 0)
    intercept[IllegalStateException] {
      Algos.transitiveReduction(
        (1L to 12L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("src", "dst"),
        maxDepth = 3, localMaxEdges = 0L)
    }
    intercept[IllegalStateException] {
      Algos.transitiveReduction(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        localMaxEdges = 0L)
    }
  }

  test("transitiveReduction: pair-cap bail falls back to the distributed loop") {
    // edges fit the guard (621 <= 621) but the implied pair set (~12k —
    // every source reaches the whole chain through the hub) blows the
    // 16x-edges cap (9936), so the local replay must BAIL and the
    // distributed loop must still return the exact reduction
    val srcs = (1L to 600L).map(s => (s, 1000L))
    val chain = (1000L to 1020L).sliding(2).map(p => (p.head, p.last)).toSeq
    val shortcut = Seq((1L, 1002L)) // implied via 1 -> 1000 -> 1001 -> 1002
    val es = (srcs ++ chain ++ shortcut).toDF("src", "dst")
    val local = Algos.transitiveReduction(es, maxDepth = 30, localMaxEdges = 621L)
      .as[(Long, Long)].collect().toSet
    val dist = Algos.transitiveReduction(es, maxDepth = 30, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local === dist)
    assert(!local.contains((1L, 1002L)) && local.contains((1L, 1000L)))
    assert(local.size === srcs.size + chain.size)
  }

  test("taggedBfs guarded local replay is row-identical to the distributed rounds") {
    // deterministic pseudo-random multigraph with cycles, dead ends, and
    // unreachable islands; localMaxEdges = 0 forces the distributed path
    // (the hits-spec convention) — distances are unique facts, so the two
    // paths must agree EXACTLY, harmonic and closeness both
    val es = (1 to 300).map { i =>
      val a = (i * 7919L) % 53; val b = (i * 104729L) % 53
      (a, if (a == b) (b + 1) % 53 else b)
    }.toDF("src", "dst")
    // a NULL source identifies no vertex: dropped identically on both paths
    val srcs = ((0L until 53L by 3L).map(java.lang.Long.valueOf) :+
      null.asInstanceOf[java.lang.Long]).toDF("id")
    for (directed <- Seq(false, true)) {
      val loc = Algos.harmonicCentrality(es, srcs, directed = directed)
        .as[(Long, Long, Long)].collect().toSet
      val dist = Algos.harmonicCentrality(es, srcs, directed = directed, localMaxEdges = 0L)
        .as[(Long, Long, Long)].collect().toSet
      assert(loc === dist, s"harmonic parity broke at directed=$directed")
      val locC = Algos.closenessCentrality(es, srcs, directed = directed)
        .as[(Long, Long, Long, Long)].collect().toSet
      val distC = Algos.closenessCentrality(es, srcs, directed = directed, localMaxEdges = 0L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(locC === distC, s"closeness parity broke at directed=$directed")
    }
  }

  test("taggedBfs centralities fail loudly when maxIter truncates the frontier") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Algos.harmonicCentrality(chain, Seq(1L).toDF("id"), maxIter = 3).collect()
    }
    intercept[IllegalStateException] {
      Algos.closenessCentrality(chain, Seq(1L).toDF("id"), maxIter = 3).collect()
    }
    // at a sufficient bound the same call succeeds
    assert(Algos.harmonicCentrality(chain, Seq(1L).toDF("id"), maxIter = 10).count() === 1)
  }

  test("walk-reduce family folds in DFS pre/post/reverse-post order with early exit") {
    // fermor algo.clj prewalk-reduce / postwalk-reduce / reverse-postwalk-reduce
    // diamond: 1→{2,3}, {2,3}→4; id-sorted successors fix the DFS orders
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    def push(s: List[Long], v: Long): List[Long] = s :+ v
    assert(Algos.prewalkReduce(1L, es, List.empty[Long])(push) === List(1L, 2L, 4L, 3L))
    assert(Algos.postwalkReduce(1L, es, List.empty[Long])(push) === List(4L, 2L, 3L, 1L))
    assert(Algos.reversePostwalkReduce(1L, es, List.empty[Long])(push) === List(1L, 3L, 2L, 4L))
    // parity with the numbering the walks must agree with: postwalk order ==
    // ascending post_order; reverse-postwalk == ascending reverse_post_order
    val nums = Algos.postOrderNumbering(1L, es).as[(Long, Int, Int)].collect()
    assert(nums.sortBy(_._2).map(_._1).toList ===
      Algos.postwalkReduce(1L, es, List.empty[Long])(push))
    assert(nums.sortBy(_._3).map(_._1).toList ===
      Algos.reversePostwalkReduce(1L, es, List.empty[Long])(push))
    // early exit (the reference's `reduced`): stop once two elements gathered
    assert(Algos.prewalkReduce(1L, es, List.empty[Long],
      done = (s: List[Long]) => s.length >= 2)(push) === List(1L, 2L))
    // cycles terminate via the seen set, like the reference's volatile seen
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(Algos.prewalkReduce(1L, cyc, 0L)(_ + _) === 6L)
    assert(Algos.postwalkReduce(1L, cyc, List.empty[Long])(push) === List(3L, 2L, 1L))
  }

  test("localClustering: triangle+pendant closed form, orientation/duplicate-insensitive") {
    val vs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // triangle 1-2-3 with pendant 3-4; vertex 5 isolated
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Algos.localClustering(vs, es)
      .select("id", "degree", "triangles", "coeff_bp")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1L, 10000L), (2L, 2L, 1L, 10000L),
      (3L, 3L, 1L, 3333L), // 20000/6 floor
      (4L, 1L, 0L, 0L), (5L, 0L, 0L, 0L)))
    // flipped orientations, duplicates, and a self-loop change nothing
    val messy = es.unionAll(Seq((2L, 1L), (3L, 2L), (1L, 2L), (4L, 4L)).toDF("src", "dst"))
    assert(Algos.localClustering(vs, messy)
      .select("id", "degree", "triangles", "coeff_bp")
      .as[(Long, Long, Long, Long)].collect().toSet === got)
  }

  test("degreeAssortativity: star is perfectly disassortative, null on degenerate variance") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = Algos.degreeAssortativity(star).as[(Long, Option[Double])].head()
    assert(r._1 === 3L)
    assert(math.abs(r._2.get - (-1.0)) < 1e-12)
    // a single edge has zero degree variance: correlation undefined -> NULL
    val one = Seq((7L, 8L)).toDF("src", "dst")
    assert(Algos.degreeAssortativity(one).as[(Long, Option[Double])].head()._2.isEmpty)
  }
}
