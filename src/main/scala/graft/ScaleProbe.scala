package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{PropertyGraph, Tpch, Vid}

/** Scale-up probe (not part of the driver contract): replicates the sf0.1
  * fact tables K× with key-shifted copies (dimension tables stay fixed, as
  * they do in a real warehouse) and times the shuffle-heavy operators at 1×
  * and K×. The interesting output is the RATIO: a plan that scales linearly
  * in fact rows prints ratios near K (or below, where fixed per-round
  * scheduling overhead amortizes); a super-linear ratio exposes an operator
  * that would not survive the 100 TB target.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe [K]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // core count honored like Bench: the scale sweep doubles as the
    // low-vs-high-core evidence at a compute-bound volume, where sf0.1
    // alone is scheduling-dominated and says nothing about parallelism
    val spark = SparkEntry.localSession(logLevel = "ERROR")

    // K key-shifted copies of the fact tables; dims unchanged
    def replicate(df: DataFrame, keyCols: Seq[String], span: Long): DataFrame =
      (0 until k).map { i =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * span)))
      }.reduce(_.unionByName(_))

    val span = 10000000L
    val orders1 = Tpch.table(spark, dir, "orders")
    val lineitem1 = Tpch.table(spark, dir, "lineitem")
    val ordersK = replicate(orders1, Seq("o_orderkey"), span).localCheckpoint(true)
    val lineitemK = replicate(lineitem1, Seq("l_orderkey"), span).localCheckpoint(true)

    def graphOf(orders: DataFrame, lineitem: DataFrame): PropertyGraph = {
      val customer = Tpch.table(spark, dir, "customer")
      val kinds = Map(
        "customer" -> customer.select(Vid.vid("customer", col("c_custkey")).as("id")),
        "orders" -> orders.select(Vid.vid("orders", col("o_orderkey")).as("id")),
        "lineitem" -> lineitem.select(
          Tpch.lineitemVid(col("l_orderkey"), col("l_linenumber")).as("id")))
      val edges =
        orders.select(Vid.vid("orders", col("o_orderkey")).as("src"),
            Vid.vid("customer", col("o_custkey")).as("dst"),
            lit("order_customer").as("label"))
          .unionByName(lineitem.select(
            Tpch.lineitemVid(col("l_orderkey"), col("l_linenumber")).as("src"),
            Vid.vid("orders", col("l_orderkey")).as("dst"),
            lit("lineitem_order").as("label")))
      PropertyGraph(kinds, edges)
    }

    val g1 = graphOf(orders1, lineitem1)
    val gK = graphOf(ordersK, lineitemK)

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }
    def minTime(f: => Long): (Double, Long) = {
      val a = time(f); val b = time(f); (math.min(a._1, b._1), b._2)
    }
    // a probe wrapped in `distributed` measures the DISTRIBUTED rounds, not
    // the guarded local replay: every replay guard is 0 while `f` runs
    val key = graft.algos.LocalGraph.ReplayLimitKey
    def distributed(f: => Long): Long = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, 0L)
      try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    val probes: Seq[(String, PropertyGraph => Long)] = Seq(
      "two_hop_agg" -> { g =>
        g.ofKind("lineitem").out("lineitem_order").out("order_customer")
          .df.groupBy("id").agg(count(lit(1))).count()
      },
      "topo_levels" -> { g =>
        distributed(graft.algos.Algos.topoLevels(g.vertices.select("id"), g.edges,
          maxIter = 4).count())
      },
      "conn_components" -> { g =>
        implicit val sp: SparkSession = spark
        distributed(graft.algos.Algos.connectedComponents(
          g.kind("customer").select("id").unionAll(g.kind("orders").select("id")),
          g.edges.where(col("label") === "order_customer")).count())
      },
      "descend_deepest" -> { g =>
        graft.graph.Descend.deepest(g,
          g.kind("customer").select("id"), Nil, forward = false, maxDepth = 2,
          acyclic = true).count()
      },
      "weighted_sp" -> { g =>
        implicit val sp: SparkSession = spark
        distributed(graft.algos.Algos.weightedShortestPath(g.edges,
          g.kind("customer").select("id").limit(1000),
          lit(1L), reverse = true, maxIter = 2).count())
      },
      "cc_alternating" -> { g =>
        // the diameter-independent CC: round count stays O(log² n), so wall
        // growth should track the per-round shuffle volume (≈ linear)
        graft.algos.Algos.ccAlternating(
          g.edges.where(col("label") === "order_customer").select("src", "dst")).count()
      },
      "pack_bins" -> { g =>
        // sequence packing: shard-partitioned window cumsum — fact-linear
        // sort work spread over fixed shard count
        val toks = g.kind("lineitem").select(col("id").as("doc_id"))
          .withColumn("n", pmod(col("doc_id"), lit(97L)) + 1)
        graft.pipeline.Corpus.packBins(toks, "doc_id", "n", 2000L, 32)
          .groupBy("shard", "bin").count().count()
      },
      "brandes_sampled" -> { g =>
        // sampled-source Brandes: the standard approximation regime — work
        // scales in (sources × edges), so fixed sources should stay ~flat-
        // to-linear as the fact side grows
        implicit val sp: SparkSession = spark
        graft.algos.Algos.brandesBetweenness(
          g.edges.where(col("label") === "order_customer"),
          g.kind("customer").select("id").limit(50), directed = false, maxIter = 4).count()
      },
      "assortativity" -> { g =>
        // moment-form degree assortativity: one |E| keyed join, DECIMAL
        // products over |V| rows only — ratio should track the edge factor
        graft.algos.Algos.degreeAssortativity(
          g.edges.where(col("label") === "order_customer").select("src", "dst")).count()
      },
      "layout_dist" -> { g =>
        // the DISTRIBUTED FA2 path (the driver-array path covers <100k
        // vertices): per-iteration cost is
        // the doubled-edge attraction join + the grid-centroid repulsion
        // agg, O(V + E + cells) per round, so 8× facts should hold the
        // data factor; the one subsystem previously unprobed at scale
        distributed(graft.algos.ForceLayout.run(
          g.kind("orders").select("id").unionAll(g.kind("customer").select("id")),
          g.edges.where(col("label") === "order_customer").select("src", "dst"),
          iters = 3).count())
      })

    // optional probe-name substring filter (arg 2) — run matching probes
    // from the graph and pipeline lists without paying for the whole sweep
    // (the hand-rolled sections — cooccur guard, clustering, semdedup,
    // winnow, train_order — run only in an unfiltered sweep); a typo'd
    // filter fails loudly
    val only = if (args.length > 1) Some(args(1)) else None
    // comma-separated substrings: one run can select a hand-picked set
    def matches(name: String): Boolean =
      only.forall(_.split(",").exists(name.contains))
    val selected = probes.filter(p => matches(p._1))
    if (selected.nonEmpty) {
      val results = selected.map { case (name, p) =>
        val (t1, n1) = minTime(p(g1))
        val (tK, nK) = minTime(p(gK))
        val ratio = tK / math.max(t1, 1e-9)
        println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${k}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
        (name, t1, tK, ratio)
      }
      val worst = results.maxBy(_._4)
      println(f"[scale] data ${k}x -> worst time-ratio ${worst._4}%.2f (${worst._1}); " +
        "ratios at or below the data factor indicate shuffle-linear plans")
    }

    if (only.isEmpty) { // hand-rolled sections run only in the full sweep
    // --- co-occurrence guard probe (SURVEY §4): planted hot bucket ---------
    // items = orders bucketed modularly, plus ONE planted hot bucket holding
    // ~4% of all rows (every o_orderkey % 25 == 0; the key shift in
    // replicate() is a multiple of 25, so the hot bucket's membership grows
    // with the data factor — 6k rows at 1x, 48k at 8x => 1.15G pairs). This
    // fan-out skew is INVISIBLE to AQE's skew-join splitter: the hot
    // partition's shuffle INPUT is a few hundred KB, far under the skew
    // threshold, yet the unguarded self-join makes a single task emit the
    // whole m² pair set — below ~300M pairs one in-memory codegen task
    // absorbs that (the guard's constant factors then dominate); past it the
    // single task becomes the straggler the guard exists for.
    // Scale.cooccurrencePairs routes buckets past hotThreshold through the
    // salted join, bounding max-task fan-out at m²/salt. Bag-identity of the
    // two paths is spec'd in ScaleSpec; here we time them. Expect: the
    // guarded time-ratio tracks pair growth spread over all cores, the
    // unguarded ratio tracks pair growth on ONE core (64× pairs at 8x).
    def itemsOf(orders: DataFrame): DataFrame =
      orders.select(col("o_orderkey").as("item"),
        when(pmod(col("o_orderkey"), lit(25L)) === 0, lit(-1L))
          .otherwise(pmod(col("o_orderkey"), lit(100000L))).as("bucket"))
        .localCheckpoint(true)
    def unguarded(its: DataFrame): Long = {
      val a = its.select(col("bucket"), col("item").as("i1"))
      val b = its.select(col("bucket"), col("item").as("i2"))
      a.join(b, "bucket").where(col("i1") < col("i2")).count()
    }
    def guarded(its: DataFrame): Long =
      graft.plans.Scale.cooccurrencePairs(its, Seq("bucket"), "item",
        hotThreshold = 1000, salt = 32).count()
    val items1 = itemsOf(orders1); val itemsK = itemsOf(ordersK)
    val cooccur = Seq[(String, DataFrame => Long)](
      "cooccur_unguarded" -> unguarded, "cooccur_guarded" -> guarded)
    val cres = cooccur.map { case (name, f) =>
      val (t1, n1) = minTime(f(items1))
      val (tK, nK) = minTime(f(itemsK))
      val ratio = tK / math.max(t1, 1e-9)
      println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${k}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
      (name, tK, nK)
    }
    assert(cres(0)._3 == cres(1)._3, "guarded co-occurrence must be bag-identical to unguarded")
    println(f"[scale] hot-bucket guard at ${k}x: guarded ${cres(1)._2}%.2f s vs unguarded ${cres(0)._2}%.2f s " +
      f"(speedup ${cres(0)._2 / math.max(cres(1)._2, 1e-9)}%.2f x on the same ${cres(0)._3} pairs)")

    // --- local clustering coefficient probe --------------------------------
    // bounded-degree chain+shortcut graph on a DENSE id sequence (spark.range
    // — orderkeys are sparse, so a +1 chain over them would dangle): i→i+1
    // everywhere, i→i+2 at every 10th vertex closes triangles. Degree ≤ 4,
    // so wedge fan-out is LINEAR in edges — the probe shows the three keyed
    // joins absorbing 8× edges linearly; the hub regime is a data property
    // the scaladoc's cap guidance addresses, not a plan property.
    def clusterEdges(n: Long): DataFrame = {
      val ids = spark.range(n).select(col("id"))
      ids.where(col("id") < n - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .unionAll(ids.where(col("id") % 10 === 0 && col("id") < n - 2)
          .select(col("id").as("src"), (col("id") + 2).as("dst")))
        .localCheckpoint(true)
    }
    def clusterProbe(n: Long): Long = {
      val es = clusterEdges(n)
      graft.algos.Algos.localClustering(spark.range(n).select(col("id")), es)
        .where(col("coeff_bp") > 0).count()
    }
    val cn = 1500000L
    val (lc1, lcn1) = minTime(clusterProbe(cn))
    val (lcK, lcnK) = minTime(clusterProbe(cn * k))
    println(f"[scale] local_clustering   1x: $lc1%6.2f s (n=$lcn1%9d)   ${k}x: $lcK%6.2f s (n=$lcnK%9d)   time-ratio: ${lcK / math.max(lc1, 1e-9)}%5.2f")
    } // end full-sweep-only sections

    // --- LLM-pipeline probes (SURVEY §2.4 at scale) ------------------------
    // documents is tiny at sf0.1 (5k rows), so replicate k² (64×) for signal.
    // Copies keep their text (more volume, same distinct-content space —
    // dedup group sizes and gram dfs grow with the data factor, output keys
    // don't), which is exactly the regime a keyed-aggregation plan must
    // absorb: linear scan+shuffle growth, bounded output.
    val kk = k * k
    // LAZY: the 64×-replicated corpus is the sweep's most expensive
    // materialization — a filtered run matching only graph probes (or a
    // typo'd filter dying at the require below) must not pay for it
    lazy val docs1 = Tpch.readParquet(spark, s"$dir/documents.parquet")
      .select("doc_id", "text", "source").localCheckpoint(true)
    lazy val docsK = (0 until kk).map(i =>
        docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    val pipeProbes: Seq[(String, DataFrame => Long)] = Seq(
      "dedup_exact" -> (d => graft.dedup.Dedup.exact(d, "doc_id", "text").count()),
      // incremental exact dedup: even-id docs form the store, odd ids the
      // new batch — one batch agg + one hash-keyed anti join, so time
      // tracks scan volume (under replication every odd doc collides with
      // the store, so the kept set stays near-constant while inputs grow)
      "dedup_incr" -> { d =>
        val store = graft.dedup.Dedup
          .exact(d.where(col("doc_id") % 2 === 0), "doc_id", "text")
          .select(col("h"), col("keep_id"))
        graft.dedup.Dedup.incrementalExact(
          d.where(col("doc_id") % 2 === 1), "doc_id", "text", store)._1.count()
      },
      "tfidf_top3" -> (d => graft.functions.TextOps.tfidfTopTerms(d, "doc_id", "text", 3).count()),
      "boilerplate_df" -> (d => graft.functions.TextOps
        .boilerplateGrams(d, "doc_id", "text", k = 3, minDf = 5L).count()),
      // per-domain quota: replication multiplies every domain's row count
      // (the hot-domain regime) while the kept output stays at domains×cap —
      // the map-side WindowGroupLimit keeps the per-domain reducer at
      // tasks×cap rows no matter how large the domain grows
      "domain_cap" -> (d => graft.pipeline.Corpus
        .domainCap(d, col("source"), col("doc_id"), cap = 100).count()),
      // substring-duplication coverage: gram dfs grow with the copies while
      // the gram key space stays fixed — one explode + keyed shuffles, so
      // time should track scan volume, never pairs
      "span_coverage" -> (d => graft.dedup.Dedup
        .dupSpanCoverage(d, "doc_id", "text", k = 3, minDf = 2L).count()),
      // unigram surprisal: one token-keyed count + one keyed join back
      "surprisal" -> (d => graft.functions.TextOps
        .surprisalScore(d, "doc_id", "text").count()),
      // BPE encode in the train-once-encode-everything regime: the merge
      // table is learned on the 1x corpus and applied to both sides — the
      // distinct-word rewrite is vocabulary-sized (fixed under replication),
      // so time should track the corpus join, linearly
      "bpe_encode" -> {
        lazy val merges = graft.functions.TextOps.bpeMerges(docs1, "text", nMerges = 6)
        d => graft.functions.TextOps.bpeEncode(d, "doc_id", "text", merges).count()
      },
      // trigram grep: the pattern's gram IN-filter keeps the candidate agg
      // at matching postings only; candidates and output grow with the
      // copies (every replica of a matching doc matches) — linear
      "grep_indexed" -> { d =>
        val idx = graft.functions.TextOps.trigramIndex(d, "doc_id", "text")
        graft.functions.TextOps.grepIndexed(idx, d, "doc_id", "text", "merge batch").count()
      },
      // dataset-overlap matrix: replication grows the (grp, gram) dedup
      // INPUT 64x while the distinct posting set — and so the gram join —
      // stays fixed (copies add no new grams): ratio must sit far below
      // the data factor, the keyed-dedup signature
      "source_sim" -> (d => graft.dedup.Dedup
        .groupJaccard(d, "source", "text", k = 3).count()),
      // preference pairs: groups grow 64x in rows but BOTH sides trim
      // map-side before the bounded cross — output stays at groups x cap²
      "pref_pairs" -> (d => graft.pipeline.Corpus.preferencePairs(
        d.withColumn("n_chars", length(col("text"))),
        "doc_id", "source", "n_chars", minGap = 50L, sideCap = 3).count()))
    // embeddings replicas for the quantizer/ANN probes: CIRCULARLY SHIFTED
    // per copy (a rotation: norms and within-replica similarity structure
    // preserved, directions spread across cells) so probes measure honest
    // data growth, not an all-duplicates corpus. LAZY like docsK.
    lazy val emb1 = Tpch.readParquet(spark, s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    def shifted(i: Int): org.apache.spark.sql.Column = {
      val s = i % 64
      if (s == 0) col("embedding")
      else concat(slice(col("embedding"), s + 1, 64 - s), slice(col("embedding"), 1, s))
    }
    lazy val embK = (0 until k).map(i =>
        emb1.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          shifted(i).as("embedding")))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    // quantizer probes (k× vectors): train collapses map-side to bounded
    // codec state, encode is a literal-codec zero-shuffle projection —
    // both must track scan volume linearly
    val embProbes: Seq[(String, DataFrame => Long)] = Seq(
      "sq8" -> (df => graft.sim.Ann.sq8(df, "vec_id", "embedding")
        .agg(sum(col("err"))).head().getLong(0)),
      "pq" -> (df => graft.sim.Ann.pq(df, "vec_id", "embedding",
        m = 4, k = 8, iters = 2).count()),
      // IVF-ADC search: nlist grows with the collection (the semdedup
      // contract) so per-cell occupancy — and per-query candidate count —
      // stays constant; the ADC scoring joins are candidate-linear
      "ivfpq" -> { df =>
        val nlist = math.max(16, (df.count() / 125L).toInt) // 2k -> 16, 16k -> 128
        graft.sim.Ann.ivfPqTopK(df, "vec_id", "embedding", kTop = 3,
          querySide = _.where(col("id") < 100), nlist = nlist, nprobe = 4,
          m = 4, kPq = 8, iters = 2).count()
      },
      // k-NN label transfer: the ivfTopK shape + one id-keyed label join
      "knn_label" -> { df =>
        val nlist = math.max(16, (df.count() / 125L).toInt)
        graft.sim.Ann.knnLabel(df.withColumn("label", (col("vec_id") % 7).cast("int")),
          "vec_id", "embedding", "label", k = 3,
          querySide = _.where(col("id") < 100), nlist = nlist, nprobe = 4).count()
      },
      // residual IVF-ADC: the ivfpq shape + one anchor projection per side
      // + the (id_q, cell)-keyed ADC join — still candidate-linear
      "ivfpq_res" -> { df =>
        val nlist = math.max(16, (df.count() / 125L).toInt)
        graft.sim.Ann.ivfPqResTopK(df, "vec_id", "embedding", kTop = 3,
          querySide = _.where(col("id") < 100), nlist = nlist, nprobe = 4,
          m = 4, kPq = 8, iters = 2).count()
      })

    // events replicas (user_id shifted: k× USERS, per-user history constant)
    // for the funnel/retention analytics probes — both are keyed joins +
    // keyed mins/distincts, so time must track scan volume linearly
    lazy val ev1 = Tpch.readParquet(spark, s"$dir/events.parquet")
      .select("user_id", "ts", "event_type").localCheckpoint(true)
    lazy val evK = (0 until k).map(i =>
        ev1.withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    val evProbes: Seq[(String, DataFrame => Long)] = Seq(
      "funnel" -> (d => graft.streaming.Sessionize.funnel(d, "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase")).count()),
      "retention" -> (d => graft.streaming.Sessionize.retention(d, "user_id", "ts",
        "event_type", "signup").agg(sum(col("n_active"))).head().getLong(0)),
      // volume anomaly: one keyed count + a literal-stats scan predicate —
      // bucket count is FIXED under user replication, so only the count agg
      // grows; time must stay near-flat
      "anomaly" -> (d => graft.streaming.Sessionize.volumeAnomaly(d, "ts",
        bucketSec = 3600L, z = 2L).agg(sum(col("flag"))).head().getLong(0)),
      // calendar spine: the anomaly plan + a fixed-size generator join
      // (bucket span unchanged under user replication) — near-flat too
      "anomaly_spine" -> (d => graft.streaming.Sessionize.volumeAnomalySpine(d, "ts",
        bucketSec = 3600L, z = 2L).agg(sum(col("flag"))).head().getLong(0)),
      // funnel steps: the funnel prefix chains + one scalar agg per step —
      // step count fixed, so time tracks the funnel probe
      "funnel_steps" -> (d => graft.streaming.Sessionize.funnelSteps(d, "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase"), spanSec = 86400L)
        .agg(sum(col("n_keys"))).head().getLong(0)))

    // perceptual-hash pairs probed at k× (not k²): replicas are
    // byte-identical, so every duplicate group pairs k² WITHIN itself —
    // the pair family's designed worst case (the make_scaled convention);
    // candidate and output volume grow k² while the banding join stays
    // keyed, so the time ratio is graded against k², not k
    lazy val docsMidK = (0 until k).map(i =>
        docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    val pairProbes: Seq[(String, DataFrame => Long)] = Seq(
      "phash_pairs" -> (d => graft.multimodal.Multimodal.pHashPairs(
        graft.multimodal.Multimodal.withPayload(d, "doc_id", "text"),
        maxHam = 3).count()))
    val selectedPipe = pipeProbes.filter(p => matches(p._1))
    val selectedEmb = embProbes.filter(p => matches(p._1))
    val selectedEv = evProbes.filter(p => matches(p._1))
    val selectedPair = pairProbes.filter(p => matches(p._1))
    require(only.isEmpty || selected.nonEmpty || selectedPipe.nonEmpty ||
      selectedEmb.nonEmpty || selectedEv.nonEmpty || selectedPair.nonEmpty,
      s"probe filter '${only.getOrElse("")}' matches nothing in any probe list")
    selectedPair.foreach { case (name, f) =>
      val (t1, n1) = minTime(f(docs1))
      val (tK, nK) = minTime(f(docsMidK))
      val ratio = tK / math.max(t1, 1e-9)
      println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${k}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
    }
    selectedPipe.foreach { case (name, f) =>
      val (t1, n1) = minTime(f(docs1))
      val (tK, nK) = minTime(f(docsK))
      val ratio = tK / math.max(t1, 1e-9)
      println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${kk}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
    }
    selectedEmb.foreach { case (name, f) =>
      val (t1, n1) = minTime(f(emb1))
      val (tK, nK) = minTime(f(embK))
      val ratio = tK / math.max(t1, 1e-9)
      println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${k}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
    }
    selectedEv.foreach { case (name, f) =>
      val (t1, n1) = minTime(f(ev1))
      val (tK, nK) = minTime(f(evK))
      val ratio = tK / math.max(t1, 1e-9)
      println(f"[scale] $name%-18s 1x: $t1%6.2f s (n=$n1%9d)   ${k}x: $tK%6.2f s (n=$nK%9d)   time-ratio: $ratio%5.2f")
    }
    if (only.isDefined) { spark.stop(); return } // filtered run ends here

    // --- semantic dedup probe: nlist is the scale knob ---------------------
    // k× the vectors with k× the cells keeps per-cell occupancy — and so the
    // within-cell pair fan-out per vector — constant: the SemDeDup recipe's
    // stated contract (cluster count grows with the collection).
    def semdedup(df: DataFrame, nlist: Int): Long = {
      implicit val sp: SparkSession = spark
      graft.sim.Ann.semanticDedup(df, "vec_id", "embedding", tauPm = 450,
        nlist = nlist).where(col("keep") === 0).count()
    }
    val (sd1, sn1) = minTime(semdedup(emb1, 16))
    val (sdK, snK) = minTime(semdedup(embK, 16 * k))
    println(f"[scale] semdedup           1x: $sd1%6.2f s (n=$sn1%9d)   ${k}x: $sdK%6.2f s (n=$snK%9d)   time-ratio: ${sdK / math.max(sd1, 1e-9)}%5.2f")

    // --- k-means probe: fixed k/iters over the same shifted replicas —
    // every round is ONE scan (the centroids ride the plan as literals;
    // assignment never joins or shuffles) plus a (cid,dim)-keyed agg that
    // collapses to k·dim rows, so time must track scan volume linearly
    def kmeansOf(df: DataFrame): Long =
      graft.sim.Ann.kmeans(df, "vec_id", "embedding", k = 8, iters = 3).count()
    val (km1, kmn1) = minTime(kmeansOf(emb1))
    val (kmK, kmnK) = minTime(kmeansOf(embK))
    println(f"[scale] kmeans             1x: $km1%6.2f s (n=$kmn1%9d)   ${k}x: $kmK%6.2f s (n=$kmnK%9d)   time-ratio: ${kmK / math.max(km1, 1e-9)}%5.2f")

    // --- k-core probe: part keys shifted per copy so the part–supplier
    // projection genuinely grows k× (8× parts, suppliers 8× denser) while
    // per-part degrees — and so the peeling cascade depth — stay constant:
    // per-round cost is keyed degree agg + semi-joins on the shrinking edges
    val liPK = replicate(lineitem1, Seq("l_orderkey", "l_partkey"), span).localCheckpoint(true)
    def partSupplier(li: DataFrame): DataFrame = li.select(
      Vid.vid("part", col("l_partkey")).as("src"), Vid.vid("supplier", col("l_suppkey")).as("dst"))
    def kcoreOf(li: DataFrame): Long =
      distributed(graft.algos.Algos.kCore(partSupplier(li), k = 28).count())
    val (kc1, kn1) = minTime(kcoreOf(lineitem1))
    val (kcK, knK) = minTime(kcoreOf(liPK))
    println(f"[scale] kcore              1x: $kc1%6.2f s (n=$kn1%9d)   ${k}x: $kcK%6.2f s (n=$knK%9d)   time-ratio: ${kcK / math.max(kc1, 1e-9)}%5.2f")

    // --- walk-corpus probe: every lineitem walks 2 hops (lineitem→order→
    // customer); the walker frontier grows k× with the fact side while each
    // step stays one frontier⋈edges join + walker-keyed argmin window
    def walksOf(g: PropertyGraph): Long =
      graft.algos.Algos.deterministicWalks(g.edges.select("src", "dst"),
        g.kind("lineitem").select("id"), steps = 2).count()
    val (wk1, wn1) = minTime(walksOf(g1))
    val (wkK, wnK) = minTime(walksOf(gK))
    println(f"[scale] walks              1x: $wk1%6.2f s (n=$wn1%9d)   ${k}x: $wkK%6.2f s (n=$wnK%9d)   time-ratio: ${wkK / math.max(wk1, 1e-9)}%5.2f")

    // --- MIS probe: same part-shifted projection as kcore — the graph is
    // k× larger with constant degrees, so Luby's round count (O(log n)
    // expected) grows only additively while per-round joins track edges
    def misOf(li: DataFrame): Long =
      distributed(graft.algos.Algos.maximalIndependentSet(partSupplier(li)).count())
    val (mi1, mn1) = minTime(misOf(lineitem1))
    val (miK, mnK) = minTime(misOf(liPK))
    println(f"[scale] mis                1x: $mi1%6.2f s (n=$mn1%9d)   ${k}x: $miK%6.2f s (n=$mnK%9d)   time-ratio: ${miK / math.max(mi1, 1e-9)}%5.2f")

    // --- matching probe: same part-shifted projection as MIS — k× edges at
    // constant degrees, hash-priority rounds grow additively while each
    // round's joins track the SHRINKING edge set
    def matchingOf(li: DataFrame): Long =
      distributed(graft.algos.Algos.maximalMatching(partSupplier(li)).count())
    val (ma1, man1) = minTime(matchingOf(lineitem1))
    val (maK, manK) = minTime(matchingOf(liPK))
    println(f"[scale] matching           1x: $ma1%6.2f s (n=$man1%9d)   ${k}x: $maK%6.2f s (n=$manK%9d)   time-ratio: ${maK / math.max(ma1, 1e-9)}%5.2f")

    // --- transitive-reduction probe: k× orders (and k× planted shortcuts)
    // over fixed dims — the ≥2-hop pair expansion is depth-bounded (3), so
    // both the frontier and the anti-join track the order count linearly
    def tredOf(orders: DataFrame): Long = {
      val c = Tpch.table(spark, dir, "customer")
      val n = Tpch.table(spark, dir, "nation")
      val oc = orders.select(Vid.vid("orders", col("o_orderkey")).as("src"),
        Vid.vid("customer", col("o_custkey")).as("dst"))
      val cn = c.select(Vid.vid("customer", col("c_custkey")).as("src"),
        Vid.vid("nation", col("c_nationkey")).as("dst"))
      val nr = n.select(Vid.vid("nation", col("n_nationkey")).as("src"),
        Vid.vid("region", col("n_regionkey")).as("dst"))
      val sc = orders.join(c, col("o_custkey") === col("c_custkey"))
        .select(Vid.vid("orders", col("o_orderkey")).as("src"),
          Vid.vid("nation", col("c_nationkey")).as("dst"))
      // distributed: its 1x arm fits the default guard
      distributed(graft.algos.Algos.transitiveReduction(
        oc.unionAll(cn).unionAll(nr).unionAll(sc), maxDepth = 6).count())
    }
    val (tr1, trn1) = minTime(tredOf(orders1))
    val (trK, trnK) = minTime(tredOf(ordersK))
    println(f"[scale] transitive_red     1x: $tr1%6.2f s (n=$trn1%9d)   ${k}x: $trK%6.2f s (n=$trnK%9d)   time-ratio: ${trK / math.max(tr1, 1e-9)}%5.2f")

    // --- winnowing probe at 64× docs: pure per-row array algebra — time
    // should track scan volume with no shuffle amplification at all
    def winnowOf(d: DataFrame): Long =
      graft.functions.TextOps.winnowFingerprints(d, "doc_id", "text").count()
    val (wf1, wfn1) = minTime(winnowOf(docs1))
    val (wfK, wfnK) = minTime(winnowOf(docsK))
    println(f"[scale] winnow             1x: $wf1%6.2f s (n=$wfn1%9d)   ${kk}x: $wfK%6.2f s (n=$wfnK%9d)   time-ratio: ${wfK / math.max(wf1, 1e-9)}%5.2f")

    // --- link-prediction probe: part keys shifted ⇒ k× wedge CENTERS at
    // constant per-center degree — work is Σ deg², so time should track
    // the center count (linear), never the customer-pair cross product
    def linkpredOf(li: DataFrame, orders: DataFrame): Long = {
      val cp = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .select(Vid.vid("customer", col("o_custkey")).as("src"),
          Vid.vid("part", col("l_partkey")).as("dst"))
      graft.algos.Algos.linkPrediction(cp, minCommon = 3, maxDeg = 40).count()
    }
    val (lp1, ln1) = minTime(linkpredOf(lineitem1, orders1))
    val (lpK, lnK) = minTime(linkpredOf(liPK, ordersK))
    println(f"[scale] linkpred           1x: $lp1%6.2f s (n=$ln1%9d)   ${k}x: $lpK%6.2f s (n=$lnK%9d)   time-ratio: ${lpK / math.max(lp1, 1e-9)}%5.2f")

    // --- training-order probe at 64× docs: the histogram stays 256 rows
    // regardless of volume; rank work is bucket-partitioned window sorts,
    // so time should track scan volume spread over buckets
    // max(pos) forces the bucket-partitioned rank windows (a bare count()
    // lets Catalyst prune the window entirely); pos is 0-based ⇒ max+1 = rows
    def trainOrderOf(d: DataFrame): Long =
      graft.pipeline.Corpus.trainOrder(d.select("doc_id"), "doc_id", "ep0")
        .agg(max("pos")).head().getLong(0) + 1
    val (to1, ton1) = minTime(trainOrderOf(docs1))
    val (toK, tonK) = minTime(trainOrderOf(docsK))
    println(f"[scale] train_order        1x: $to1%6.2f s (n=$ton1%9d)   ${kk}x: $toK%6.2f s (n=$tonK%9d)   time-ratio: ${toK / math.max(to1, 1e-9)}%5.2f")

    // --- BM25 probe at 64× docs: one explode feeding three keyed aggs +
    // a broadcast idf join + top-k — all scan-linear, output fixed at k
    def bm25Of(d: DataFrame): Long =
      graft.functions.TextOps.bm25Rank(d, "doc_id", "text",
        Seq("dup", "hash", "join"), k = 20).count()
    val (bm1, bmn1) = minTime(bm25Of(docs1))
    val (bmK, bmnK) = minTime(bm25Of(docsK))
    println(f"[scale] bm25               1x: $bm1%6.2f s (n=$bmn1%9d)   ${kk}x: $bmK%6.2f s (n=$bmnK%9d)   time-ratio: ${bmK / math.max(bm1, 1e-9)}%5.2f")

    // --- motif probes: chain + sibling-close on the replicated fact graph --
    // chain = the keyed hash-join cascade (fact-linear); the close pattern
    // adds a second lineitem variable on the SAME order — a two-column-key
    // cycle-closing join whose fan-out is bounded by lineitems-per-order
    // (≤7), so output and time stay fact-linear, never pair-quadratic
    def motifChainOf(g: PropertyGraph): Long =
      g.motif("(l)-[lineitem_order]->(o); (o)-[order_customer]->(c)").count()
    val (mc1, mcn1) = minTime(motifChainOf(g1))
    val (mcK, mcnK) = minTime(motifChainOf(gK))
    println(f"[scale] motif_chain        1x: $mc1%6.2f s (n=$mcn1%9d)   ${k}x: $mcK%6.2f s (n=$mcnK%9d)   time-ratio: ${mcK / math.max(mc1, 1e-9)}%5.2f")
    def motifCloseOf(g: PropertyGraph): Long =
      g.motif("(l)-[lineitem_order]->(o); (l2)-[lineitem_order]->(o); " +
        "(o)-[order_customer]->(c)").where(col("l") < col("l2")).count()
    val (md1, mdn1) = minTime(motifCloseOf(g1))
    val (mdK, mdnK) = minTime(motifCloseOf(gK))
    println(f"[scale] motif_close        1x: $md1%6.2f s (n=$mdn1%9d)   ${k}x: $mdK%6.2f s (n=$mdnK%9d)   time-ratio: ${mdK / math.max(md1, 1e-9)}%5.2f")

    // --- streaming near-dup band bridge at 8× docs: the stateful LSH filter
    // replayed through a MemoryStream in 4 micro-batches. State is keyed by
    // band bucket (the batch path's join key), so per-batch work is the
    // banded explode + state lookups for that batch's buckets — doc-linear;
    // the 8× feed should cost ≈8× the 1× feed, never superlinear (state
    // lookups don't rescan history).
    val docs8 = (0 until k).map(i =>
        docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_)).localCheckpoint(true)
    def streamNearDupOf(d: DataFrame, name: String): Long = {
      implicit val sp: SparkSession = spark
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = d.select(col("doc_id"), lit(new java.sql.Timestamp(0L)).as("ts"), col("text"))
        .as[graft.streaming.StreamDedup.Doc].collect()
      val mem = MemoryStream[graft.streaming.StreamDedup.Doc]
      val q = graft.streaming.StreamDedup.bandVerdicts(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      val n = graft.streaming.StreamDedup.collapseVerdicts(spark.table(name))
        .where(!col("keep")).count()
      q.stop(); n
    }
    var sdi = 0
    def streamProbe(d: DataFrame): Long = { sdi += 1; streamNearDupOf(d, s"sp_neardup_$sdi") }
    val (sn1t, snn1) = minTime(streamProbe(docs1))
    val (sn8t, snn8) = minTime(streamProbe(docs8))
    println(f"[scale] stream_neardup     1x: $sn1t%6.2f s (n=$snn1%9d)   ${k}x: $sn8t%6.2f s (n=$snn8%9d)   time-ratio: ${sn8t / math.max(sn1t, 1e-9)}%5.2f")

    spark.stop()
  }
}
