package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.Algos
import TestSpark.withReplayLimit

/** Randomized cross-checks: each distributed algorithm against a naive
  * driver-side reference implementation over seeded random graphs/documents
  * (deterministic — same cases every run). Catches the edge cases the
  * hand-built graphs miss: disconnected pieces, self-loops, empty inputs,
  * duplicate edges.
  */
class RandomizedParitySpec extends AnyFunSuite {
  lazy implicit val spark = TestSpark.spark
  import spark.implicits._

  private def randomGraph(seed: Int, n: Int, nEdges: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val vs = (0L until n.toLong).toSeq
    val es = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    (vs, es)
  }

  private def naiveSccLabels(vs: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    // reachability-based SCC: u ~ v iff u reaches v and v reaches u
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def reach(s: Long): Set[Long] = {
      var seen = Set(s); var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val r = vs.map(v => v -> reach(v)).toMap
    vs.map(v => v -> vs.filter(u => r(v)(u) && r(u)(v)).min).toMap
  }

  test("SCC trim+Tarjan matches naive reachability SCC on random graphs") {
    for (seed <- 1 to 8) {
      val (vs, es) = randomGraph(seed, n = 9, nEdges = 14)
      val got = Algos.stronglyConnectedComponents(vs.toDF("id"), es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got === naiveSccLabels(vs, es), s"seed=$seed es=$es")
    }
  }

  test("delta BFS matches naive BFS distances on random graphs") {
    for (seed <- 11 to 16) {
      val (vs, es) = randomGraph(seed, n = 10, nEdges = 16)
      val sources = vs.filter(_ % 3 == 0)
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      // naive multi-source BFS
      var dist = sources.map(_ -> 0).toMap
      var frontier = sources.toSet
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty)).diff(dist.keySet)
        next.foreach(v => dist += v -> d)
        frontier = next
      }
      val got = Algos.bfsDistances(es.toDF("src", "dst"), sources.toDF("id"))
        .as[(Long, Int)].collect().toMap
      assert(got === dist, s"seed=$seed es=$es")
      // guard = 0 forces the distributed rounds: both regimes match the model
      val distributed =
        withReplayLimit(0L)(Algos.bfsDistances(es.toDF("src", "dst"), sources.toDF("id")))
        .as[(Long, Int)].collect().toMap
      assert(distributed === dist, s"seed=$seed distributed es=$es")
    }
  }

  test("collectReachable: the driver walk and the distributed extraction agree on random graphs") {
    for (seed <- 11 to 16) {
      val (vs, es) = randomGraph(seed, n = 10, nEdges = 16)
      val entry = vs(seed % vs.length)
      // naive: the distinct edges whose src the entry reaches
      var seen = Set(entry)
      var frontier = Set(entry)
      while (frontier.nonEmpty) {
        frontier = es.filter(e => frontier(e._1)).map(_._2).toSet -- seen
        seen ++= frontier
      }
      val want = es.filter(e => seen(e._1)).toSet
      for (guard <- Seq(50000L, 0L)) {
        val got = withReplayLimit(guard)(Algos.collectReachable(entry, es.toDF("src", "dst")))
        assert(got.length === got.distinct.length, s"seed=$seed guard=$guard duplicates")
        assert(got.toSet === want, s"seed=$seed guard=$guard es=$es")
      }
    }
  }

  test("delta topoLevels matches naive bounded longest-path on random graphs") {
    val maxIter = 8
    for (seed <- 21 to 26) {
      val (vs, es) = randomGraph(seed, n = 8, nEdges = 10)
      // naive: level(v) after k rounds = max over path lengths <= k ending at v
      var lvl = vs.map(_ -> 0).toMap
      for (_ <- 1 to maxIter) {
        val bump = es.groupBy(_._2).map { case (v, in) => v -> (in.map(e => lvl(e._1)).max + 1) }
        lvl = lvl.map { case (v, l) => v -> math.max(l, bump.getOrElse(v, 0)) }
      }
      val got = Algos.topoLevels(vs.toDF("id"), es.toDF("src", "dst"), maxIter)
        .as[(Long, Int)].collect().toMap
      assert(got === lvl, s"seed=$seed es=$es")
      // guard = 0 forces the distributed rounds: both regimes match the model
      val dist =
        withReplayLimit(0L)(Algos.topoLevels(vs.toDF("id"), es.toDF("src", "dst"), maxIter))
        .as[(Long, Int)].collect().toMap
      assert(dist === lvl, s"seed=$seed distributed es=$es")
    }
  }

  test("weighted shortest path matches naive Bellman-Ford on random weighted graphs") {
    for (seed <- 31 to 38) {
      val rnd = new scala.util.Random(seed)
      val n = 9
      val vs = (0L until n.toLong).toSeq
      val es = Seq.fill(15)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(5)))
      val sources = vs.filter(_ % 4 == 0)
      // naive Bellman-Ford (multi-source)
      var dist = sources.map(_ -> 0L).toMap
      var changed = true
      while (changed) {
        changed = false
        es.foreach { case (u, v, w) =>
          dist.get(u).foreach { du =>
            if (!dist.get(v).exists(_ <= du + w)) { dist += v -> (du + w); changed = true }
          }
        }
      }
      val got = Algos.weightedShortestPath(es.toDF("src", "dst", "w"),
          sources.toDF("id"), col("w"))
        .as[(Long, Long)].collect().toMap
      assert(got === dist, s"seed=$seed es=$es")
      // guard = 0 forces the distributed rounds: both regimes match the model
      assert(withReplayLimit(0L)(Algos.weightedShortestPath(es.toDF("src", "dst", "w"),
          sources.toDF("id"), col("w")))
        .as[(Long, Long)].collect().toMap === dist, s"seed=$seed distributed")
      // parent variant: same costs, and every parent is a valid optimal pred
      val withP = Algos.weightedShortestPathWithParent(es.toDF("src", "dst", "w"),
          sources.toDF("id"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      assert(withP.map(t => t._1 -> t._2).toMap === dist, s"seed=$seed parent-costs")
      withP.foreach { case (v, c, p) =>
        p match {
          case None => assert(sources.contains(v) && c === 0L)
          case Some(pred) =>
            val opts = es.filter(e => e._2 == v && dist.get(e._1).contains(c - e._3)).map(_._1)
            assert(opts.nonEmpty && pred === opts.min, s"seed=$seed v=$v parent=$p opts=$opts")
        }
      }
    }
  }

  test("closeness centrality matches naive undirected BFS sums on random graphs") {
    for (seed <- 41 to 46) {
      val (vs, es) = randomGraph(seed, n = 9, nEdges = 12)
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def bfs(s: Long): Map[Long, Long] = {
        var dist = Map(s -> 0L); var frontier = Set(s); var d = 0L
        while (frontier.nonEmpty) {
          d += 1
          val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- dist.keySet
          next.foreach(v => dist += v -> d); frontier = next
        }
        dist
      }
      val naive = vs.map { s =>
        val ds = bfs(s)
        s -> ((ds.size - 1).toLong, ds.values.sum, if (ds.isEmpty) 0L else ds.values.max)
      }.toMap
      val got = Algos.closenessCentrality(es.toDF("src", "dst"), vs.toDF("id"))
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === naive, s"seed=$seed es=$es")
    }
  }

  test("distributed Brandes matches naive pair-dependency betweenness on random graphs") {
    for (seed <- 51 to 55) {
      val (vs, es0) = randomGraph(seed, n = 8, nEdges = 11)
      val es = es0.filter(e => e._1 != e._2).distinct
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def bfs(s: Long): Map[Long, Long] = {
        var dist = Map(s -> 0L); var frontier = Set(s); var d = 0L
        while (frontier.nonEmpty) {
          d += 1
          val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- dist.keySet
          next.foreach(v => dist += v -> d); frontier = next
        }
        dist
      }
      val dmap = vs.map(s => s -> bfs(s)).toMap
      // sigma via DP in distance order
      def sigma(s: Long): Map[Long, Double] = {
        val ds = dmap(s)
        val sig = scala.collection.mutable.HashMap(s -> 1.0)
        ds.toSeq.filter(_._1 != s).sortBy(_._2).foreach { case (v, dv) =>
          sig(v) = es.filter(e => e._2 == v && ds.get(e._1).contains(dv - 1))
            .map(e => sig.getOrElse(e._1, 0.0)).sum
        }
        sig.toMap
      }
      val sig = vs.map(s => s -> sigma(s)).toMap
      val naive = vs.map { v =>
        v -> (for {
          s <- vs if s != v; t <- vs if t != v && t != s
          dst <- dmap(s).get(t)
          dsv <- dmap(s).get(v) if dmap(v).get(t).exists(dvt => dsv + dvt == dst)
        } yield sig(s)(v) * sig(v)(t) / sig(s)(t)).sum
      }.toMap
      val got = Algos.brandesBetweenness(es.toDF("src", "dst"), vs.toDF("id"), directed = true)
        .as[(Long, Double)].collect().toMap
      vs.foreach { v =>
        assert(math.abs(got.getOrElse(v, 0.0) - naive(v)) < 1e-9, s"seed=$seed v=$v es=$es")
      }
    }
  }

  test("prefix-filter jaccard finds exactly the naive all-pairs result") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("red", "blue", "fox", "dog", "run", "jump", "lazy", "quick")
    val docs = (1L to 24L).map { i =>
      val n = 4 + rnd.nextInt(8)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    def shingles(t: String): Set[String] = {
      val ts = t.split(" ").filter(_.nonEmpty)
      ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val naive = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      union = (sa | sb).size
      if inter * 10000 >= 5000 * union
    } yield (ia, ib, inter.toLong, union.toLong)).toSet
    val got = graft.dedup.Dedup.ngramJaccardPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", k = 3, minBp = 5000)
      .select("id_a", "id_b", "inter_n", "union_n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === naive)
  }

  test("simhash band candidates contain every pair within the hamming bound") {
    // pigeonhole completeness: ham(a,b) <= 3 => >= 1 of 4 16-bit bands equal
    val rnd = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    val docs = (1L to 20L).map { i =>
      i -> Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val sigs = graft.dedup.Dedup.simhash(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val within = (for {
      (ia, _) <- docs; (ib, _) <- docs if ia < ib
      if java.lang.Long.bitCount(sigs(ia) ^ sigs(ib)) <= 3
    } yield (ia, ib)).toSet
    val got = graft.dedup.Dedup.simhashPairs(df, "doc_id", "text", maxHam = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === within)
  }

  test("harmonic centrality matches naive BFS reciprocal sums on random graphs") {
    for (seed <- 21 to 26) {
      val (vs, es) = randomGraph(seed, n = 10, nEdges = 14)
      // undirected naive BFS per source; scale-840 floor reciprocals
      val adj = (es ++ es.map(_.swap)).filter(e => e._1 != e._2)
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
      def bfs(s: Long): Map[Long, Int] = {
        var dist = Map(s -> 0); var frontier = Set(s); var d = 0
        while (frontier.nonEmpty) {
          d += 1
          val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty)).diff(dist.keySet)
          next.foreach(v => dist += v -> d)
          frontier = next
        }
        dist - s
      }
      val naive = vs.map { s =>
        val r = bfs(s)
        s -> ((r.size.toLong, r.values.map(d => 840L / d).sum))
      }.toMap
      val got = Algos.harmonicCentrality(es.toDF("src", "dst"), vs.toDF("id"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === naive, s"seed=$seed es=$es")
    }
  }

  test("transitive reduction matches naive reachability filtering on random DAGs") {
    for (seed <- 31 to 36) {
      val rnd = new scala.util.Random(seed)
      // random DAG: edges only i -> j with i < j (plus duplicates)
      val es = Seq.fill(18) {
        val i = rnd.nextInt(9); val j = i + 1 + rnd.nextInt(9 - i)
        (i.toLong, j.toLong)
      }
      val dedup = es.distinct
      val adj = dedup.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def reach(s: Long): Set[Long] = {
        var seen = Set.empty[Long]; var frontier = Set(s)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty)) -- seen
          seen ++= next; frontier = next
        }
        seen
      }
      // naive: drop (u,v) if some other out-neighbor of u reaches v
      val naive = dedup.filter { case (u, v) =>
        !dedup.exists { case (u2, w) => u2 == u && w != v && reach(w).contains(v) }
      }.toSet
      val got = Algos.transitiveReduction(es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toSet
      assert(got === naive, s"seed=$seed es=$es")
      // guard = 0 forces the distributed loop: both regimes match the model
      assert(withReplayLimit(0L)(Algos.transitiveReduction(es.toDF("src", "dst")))
        .as[(Long, Long)].collect().toSet === naive, s"seed=$seed distributed es=$es")
    }
  }

  test("degreeAssortativity moment form matches the per-edge formulation on random graphs") {
    // guards the restructured identity (n = Σd, Σx = Σd², Σx² = Σd³,
    // Σxy = Σ_v d_v·S(v)) against the direct per-edge sums it replaced —
    // exact BigInt replay of the ORIGINAL formulation, then the same
    // pinned IEEE double finish
    for (seed <- 51 to 57) {
      val (_, es) = randomGraph(seed, n = 10, nEdges = 18)
      val sym = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, (e._2, e._1))).distinct
      val deg = sym.groupBy(_._1).map { case (k, v) => k -> BigInt(v.size) }
      val xy = sym.map { case (u, v) => (deg(u), deg(v)) }
      val n = BigInt(xy.size)
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum; val syy = xy.map(p => p._2 * p._2).sum
      val num = n * sxy - sx * sy
      val d1 = n * sxx - sx * sx; val d2 = n * syy - sy * sy
      val expected =
        if (d1 > 0 && d2 > 0)
          Some(num.toDouble / (math.sqrt(d1.toDouble) * math.sqrt(d2.toDouble)))
        else None
      val got = Algos.degreeAssortativity(es.toDF("src", "dst"))
        .as[(Long, Option[Double])].head()
      assert(got._1 === xy.size / 2, s"seed=$seed n_edges")
      assert(got._2 === expected, s"seed=$seed assortativity")
    }
  }

  test("maximal matching is a maximal vertex-disjoint subset on random graphs") {
    for (seed <- 41 to 46) {
      val (_, es) = randomGraph(seed, n = 12, nEdges = 20)
      val canon = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val m = Algos.maximalMatching(es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toSet
      val verts = m.toSeq.flatMap(e => Seq(e._1, e._2))
      assert(verts.distinct.size === verts.size, s"seed=$seed shares a vertex")
      (canon.toSet -- m).foreach { case (a, b) =>
        assert(verts.contains(a) || verts.contains(b), s"seed=$seed ($a,$b) extendable")
      }
    }
  }

  test("coreNumbers: local peel ≡ distributed h-index ≡ naive on random graphs") {
    def naiveCore(es: Seq[(Long, Long)]): Map[Long, Long] = {
      // textbook min-degree peel with a mutable map (small n)
      val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
      es.filter(e => e._1 != e._2).foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      val core = scala.collection.mutable.Map[Long, Long]()
      var k = 0L
      while (adj.nonEmpty) {
        val minDeg = adj.valuesIterator.map(_.size).min
        k = math.max(k, minDeg.toLong)
        val v = adj.filter(_._2.size == minDeg).keys.min // any order is exact
        core(v) = k
        adj(v).foreach(u => adj(u) = adj(u) - v)
        adj -= v
      }
      core.toMap
    }
    for (seed <- 51 to 56) {
      val (vs, es0) = randomGraph(seed, n = 12, nEdges = 20)
      val es = es0.filter(e => e._1 != e._2)
      val naive = naiveCore(es)
      val local = Algos.coreNumbers(es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val dist = withReplayLimit(0L)(Algos.coreNumbers(es.toDF("src", "dst")))
        .as[(Long, Long)].collect().toMap
      assert(local === naive, s"seed=$seed local es=$es")
      assert(dist === naive, s"seed=$seed h-index es=$es")
    }
    // closed forms: K4 all core 3; a path all core 1; clique+pendant
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toSeq
    assert(Algos.coreNumbers(k4.toDF("src", "dst")).as[(Long, Long)].collect().toMap ===
      (0L to 3L).map(_ -> 3L).toMap)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Algos.coreNumbers(path.toDF("src", "dst")).as[(Long, Long)].collect().toMap ===
      (1L to 4L).map(_ -> 1L).toMap)
    val pend = k4 :+ ((3L, 9L))
    assert(withReplayLimit(0L)(Algos.coreNumbers(pend.toDF("src", "dst")))
      .as[(Long, Long)].collect().toMap ===
      ((0L to 3L).map(_ -> 3L) :+ (9L -> 1L)).toMap)
  }

  test("connectedComponents: local union-find replay matches Pregel on random graphs") {
    for (seed <- 61 to 68) {
      val (vs, es) = randomGraph(seed, n = 10, nEdges = 9) // sparse: isolated vertices likely
      val local = Algos.connectedComponents(vs.toDF("id"), es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val pregel =
        withReplayLimit(0L)(Algos.connectedComponents(vs.toDF("id"), es.toDF("src", "dst")))
        .as[(Long, Long)].collect().toMap
      assert(local === pregel, s"seed=$seed es=$es")
      // and the naive model: component = min id reachable ignoring direction
      val sym = (es ++ es.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def comp(s: Long): Long = {
        var seen = Set(s); var frontier = Set(s)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(v => sym.getOrElse(v, Set.empty)) -- seen
          seen ++= next; frontier = next
        }
        seen.min
      }
      assert(local === vs.map(v => v -> comp(v)).toMap, s"seed=$seed naive es=$es")
    }
  }

  test("guarded local relax replays the distributed rounds bit-exactly, even truncated") {
    // maxIter = 2 truncates before the fixpoint on most seeds: the dist
    // TABLE (not just the converged answer) must still agree — the local
    // path replicates the round recurrence, not just the limit
    for (seed <- 71 to 76; maxIter <- Seq(2, 50)) {
      val rnd = new scala.util.Random(seed)
      val n = 10
      val es = Seq.fill(18)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(4)))
      val sources = (0L until n.toLong).filter(_ % 3 == 0)
      val local = Algos.weightedShortestPath(es.toDF("src", "dst", "w"),
          sources.toDF("id"), col("w"), maxIter = maxIter)
        .as[(Long, Long)].collect().toMap
      val dist = withReplayLimit(0L)(Algos.weightedShortestPath(es.toDF("src", "dst", "w"),
          sources.toDF("id"), col("w"), maxIter = maxIter))
        .as[(Long, Long)].collect().toMap
      assert(local === dist, s"seed=$seed maxIter=$maxIter es=$es")
    }
  }

  test("local replays fall back on null/non-integral ids — size never changes behavior") {
    // null dst below the guard: the replay must NOT crash or drop the row;
    // it falls back to the distributed rounds, where a null key never joins
    // but the level-1 frontier keeps its null row (pre-replay semantics)
    val nullE = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), None))
      .toDF("src", "dst")
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val lvl = Algos.topoLevels(vs, nullE, maxIter = 4)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getInt(1)).toMap
    assert(lvl === Map(1L -> 0, 2L -> 1, 3L -> 2, -1L -> 3)) // null head keeps its level row
    // weighted relaxation: null dst edges relax into a null dist row on the
    // distributed path; the guarded call must return the identical table
    val nullW = Seq((Some(1L), Some(2L), 5L), (Some(2L), None, 7L)).toDF("src", "dst", "w")
    def relax(guard: Long) =
      withReplayLimit(guard)(Algos.weightedShortestPath(nullW, Seq(1L).toDF("id"), col("w")))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(relax(50000L) === relax(0L))
    // string ids: topoLevels' distributed rounds are type-agnostic and must
    // stay correct below the guard (the integral gate routes around the
    // replay instead of casting strings to null)
    val sE = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val sV = Seq("a", "b", "c").toDF("id")
    val sLvl = Algos.topoLevels(sV, sE, maxIter = 4)
      .as[(String, Int)].collect().toMap
    assert(sLvl === Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("cheapestAccepted: both regimes agree on random weighted graphs") {
    for (seed <- 81 to 88) {
      val rnd = new scala.util.Random(seed)
      val n = 10
      val es = Seq.fill(16)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(4)))
      val accept = col("id") % 3 === 1
      val local = Algos.cheapestAccepted(es.toDF("src", "dst", "w"),
          Seq(0L).toDF("id"), col("w"), accept)
        .as[(Long, Long)].collect().toMap
      val dist = withReplayLimit(0L)(Algos.cheapestAccepted(es.toDF("src", "dst", "w"),
          Seq(0L).toDF("id"), col("w"), accept))
        .as[(Long, Long)].collect().toMap
      assert(local === dist, s"seed=$seed es=$es")
    }
  }
}
