package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Scale

/** Scale levers: salting preserves join/agg semantics; bucketed tables join
  * without a shuffle. */
class ScaleSpec extends AnyFunSuite {
  lazy implicit val spark = TestSpark.spark
  import spark.implicits._

  test("checkpointed: the row count and min/sum stats equal a DataFrame agg") {
    import Scale.{checkpointed, minOf, sumOf}
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val flag = when(col("x") > 0, 1L)
      val (c, n, got) = checkpointed(df,
        minOf(col("x")), sumOf(col("x")), minOf(col("y")), sumOf(col("y")), sumOf(flag))
      // a stat with no non-null value is its reduction's identity
      def orMax(c: org.apache.spark.sql.Column) = coalesce(c, lit(Long.MaxValue))
      def or0(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
      val r = df.agg(count(lit(1)), orMax(min("x")), or0(sum("x")), orMax(min("y")),
        or0(sum("y")), or0(sum(flag))).head()
      assert(n === r.getLong(0))
      assert(got === (1 to 5).map(r.getLong))
      assert(c.count() === n && checkpointed(df)._2 === n)
    }
    check(Seq.empty[(Long, Long)].toDF("x", "y"))
    check((1 to 50).map(i => (i.toLong - 20, None: Option[Long])).toDF("x", "y"))
    val rnd = new scala.util.Random(8)
    val rows = (1 to 2000).map(_ => (rnd.nextLong() % 1000000L,
      if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(200).toLong - 100)))
    val df7 = spark.sparkContext.parallelize(rows, 7).toDF("x", "y")
    assert(df7.rdd.getNumPartitions === 7)
    check(df7)
  }

  test("guarded: a byte budget, so a path-carrying frontier broadcasts fewer rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import graft.graph.Descend.frontierWidth
    def hinted(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed match {
      case ResolvedHint(_, h) => h.strategy.contains(BROADCAST)
      case _ => false
    }
    val df = Seq(1L).toDF("id")
    // a synthetic row count: the guard reads only the number, no big frame
    val rows = 500000L
    assert(hinted(Scale.guarded(df, rows, frontierWidth(0))), "acyclic frontier")
    assert(!hinted(Scale.guarded(df, rows, frontierWidth(8))), "path of 8 elements")
    // the default 16 B width keeps the row guard
    assert(hinted(Scale.guarded(df, Scale.bcastRows)))
    assert(!hinted(Scale.guarded(df, Scale.bcastRows + 1)))
  }

  test("skewJoin is bag-identical to a plain join") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val plain = left.join(right, "k").groupBy("k").count().as[(Long, Long)].collect().toMap
    val salted = Scale.skewJoin(left, right, "k").groupBy("k").count()
      .as[(Long, Long)].collect().toMap
    assert(salted === plain)
  }

  test("saltedSum matches plain aggregation") {
    val df = (1 to 5000).map(i => (i % 7L, i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val salted = Scale.saltedSum(df, "k", "v")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(salted.keySet === plain.keySet)
    salted.foreach { case (k, (v, n)) =>
      assert(n === plain(k)._2 && math.abs(v - plain(k)._1) < 1e-6)
    }
  }

  test("cooccurrencePairs routes a planted hot bucket through the salted path, bag-identically") {
    // One hot bucket (60 members > threshold 10) among many cold ones.
    val items = ((1 to 60).map(i => ("hot", "h0", i.toLong)) ++
      (1 to 30).map(i => (s"cold${i % 6}", "h1", i.toLong))).toDF("et", "h", "u")
    def naive = {
      val a = items.select(col("et"), col("h"), col("u").as("i1"))
      val b = items.select(col("et"), col("h"), col("u").as("i2"))
      a.join(b, Seq("et", "h")).where(col("i1") < col("i2"))
    }
    val expect = naive.groupBy("et").count().as[(String, Long)].collect().toMap
    val guarded = Scale.cooccurrencePairs(items, Seq("et", "h"), "u", hotThreshold = 10)
    val got = guarded.groupBy("et").count().as[(String, Long)].collect().toMap
    assert(got === expect)                       // hot bucket: 60*59/2 = 1770 pairs
    assert(expect("hot") === 1770L)
    // the guard is wired in: the plan carries the salted branch, and the hot
    // branch actually produced the hot bucket's pairs (cold branch alone
    // cannot: its filter excludes __bn > 10)
    assert(guarded.queryExecution.executedPlan.toString.contains("__salt"))
    val pairRows = guarded.as[(String, String, Long, Long)].collect()
    assert(pairRows.toSet === naive.as[(String, String, Long, Long)].collect().toSet)
  }

  test("rangeJoin is bag-identical to the naive BETWEEN join") {
    // points over [0, 300); intervals: overlapping pair, zero-width,
    // boundary-inclusive, empty (lo > hi, must drop), grain-straddling,
    // and one far outside the point domain
    val points = (0L until 300L by 7L).map(t => (t, s"p$t")).toDF("t", "tag")
    val ivals = Seq(
      (1L, 10L, 40L), (2L, 35L, 80L), (3L, 50L, 50L), (4L, 84L, 91L),
      (5L, 90L, 60L), (6L, 139L, 141L), (7L, 1000L, 2000L))
      .toDF("win", "lo", "hi")
    val naive = points.join(ivals, col("t") >= col("lo") && col("t") <= col("hi"))
      .select("t", "win").as[(Long, Long)].collect().sorted.toSeq
    for (grain <- Seq(1L, 7L, 64L, 1000L)) {
      val got = Scale.rangeJoin(points, "t", ivals, "lo", "hi", grain)
        .select("t", "win").as[(Long, Long)].collect().sorted.toSeq
      assert(got === naive, s"grain=$grain")
    }
    // multi-match: t=35..40 lands in windows 1 AND 2
    assert(naive.count(_._1 === 35L) === 2)
  }

  test("bucketed tables join without a shuffle exchange") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("id", "pa")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("id", "pb")
    // a prior JVM's managed-table files would trip LOCATION_ALREADY_EXISTS
    Seq("bucketed_a", "bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    Scale.saveBucketed(a, "bucketed_a", "id", 8)
    Scale.saveBucketed(b, "bucketed_b", "id", 8)
    // force a sort-merge join so "no Exchange" proves co-location (a
    // broadcast join would be trivially shuffle-free)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "id")
      assert(joined.count() === 1000L)
      assert(Scale.isShuffleFree(joined),
        "bucketed join should have no Exchange:\n" + joined.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental-dedup store bucketed on h: the per-batch anti join is shuffle-free on the store side") {
    // SURVEY §2.4's claim made evidence: persisting the fingerprint store
    // via saveBucketed(h) means each batch's anti join reads the store
    // bucket-local. Differential pin — the same join against a PLAIN
    // parquet store needs exactly one more Exchange (the store-side one),
    // and the bucketed plan's store scan survives as a bucketed read.
    // (This is also why incrementalExact's probe is a plain equi anti and
    // exact() sentinels null text to '': an EqualNullSafe probe compiles
    // to coalesce'd join keys, and the planner then disables the bucketed
    // read — `Bucketed: false` — and re-shuffles the store.)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store0 = graft.dedup.Dedup
      .exact(docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
      .select(col("h"), col("keep_id"))
    spark.sql("DROP TABLE IF EXISTS bucketed_store")
    val wdir = new java.io.File("/tmp/graft-test-warehouse/bucketed_store")
    if (wdir.exists()) { wdir.listFiles().foreach(_.delete()); wdir.delete() }
    Scale.saveBucketed(store0, "bucketed_store", "h", 8)
    val plainDir = java.nio.file.Files.createTempDirectory("graft_plain_store").toFile.getAbsolutePath
    store0.write.mode("overwrite").parquet(plainDir)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def flat(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
        case q: QueryStageExec => p +: flat(q.plan)
        case _ => p +: p.children.flatMap(flat)
      }
      // true iff any shuffle exchange sits ABOVE the store scan (the
      // exchange's own subtree mentions the store source)
      def storeShuffled(df: org.apache.spark.sql.DataFrame, marker: String): Boolean =
        flat(df.queryExecution.executedPlan).exists {
          case e: ShuffleExchangeLike => e.toString.contains(marker)
          case _ => false
        }
      val (keptB, _) = graft.dedup.Dedup.incrementalExact(
        batch, "doc_id", "text", spark.table("bucketed_store"))
      assert(keptB.count() > 0L)
      val bucketedPlan = keptB.queryExecution.executedPlan.toString
      assert(bucketedPlan.contains("SelectedBucketsCount"),
        "store scan must stay a bucketed read:\n" + bucketedPlan.take(2500))
      assert(!bucketedPlan.contains("Bucketed: false"),
        "planner must not disable the bucketed store read:\n" + bucketedPlan.take(2500))
      assert(!storeShuffled(keptB, "bucketed_store"),
        "no Exchange may sit above the bucketed store scan:\n" + bucketedPlan.take(2500))
      // differential control: the SAME join over a plain-parquet store DOES
      // shuffle the store side — bucketing is what removes it
      val (keptP, _) = graft.dedup.Dedup.incrementalExact(
        batch, "doc_id", "text", spark.read.parquet(plainDir))
      assert(keptP.count() > 0L)
      assert(storeShuffled(keptP, "graft_plain_store"),
        "control: the unbucketed store must need a shuffle:\n" +
          keptP.queryExecution.executedPlan.toString.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted trigram index sharded on gram: grepIndexed reads only the pattern's shards") {
    // TextOps.grepIndexed's scale claim made evidence (the dedup-store
    // standard): the posting index a grep service persists ONCE via
    // saveGramIndex (partitioned by a 64-way gram hash shard) is read back
    // PRUNED — the pattern's shard set rides as a PartitionFilter, so the
    // scan touches ≤ |pattern grams| of 64 directories, while the same
    // query over a plain-parquet index reads every file. The in-line build
    // stays the one-shot honesty baseline: results identical all three ways.
    import graft.functions.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = TextOps.trigramIndex(docs, "doc_id", "text")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_gram_shards").toFile.getAbsolutePath
    val plainDir = java.nio.file.Files.createTempDirectory("graft_plain_gram").toFile.getAbsolutePath
    TextOps.saveGramIndex(idx, shardDir)
    idx.write.mode("overwrite").parquet(plainDir)
    // law: the driver-side shard replica equals the written column per gram
    val shardLaw = spark.read.parquet(shardDir).select("gram", "__shard")
      .distinct().as[(String, Int)].collect()
    assert(shardLaw.nonEmpty)
    shardLaw.foreach { case (g, s) =>
      assert(TextOps.gramShard(g) === s, s"driver shard of '$g' must match the column")
    }
    val pattern = "merge batch"
    val shardSet = pattern.sliding(3).toSeq.distinct.map(TextOps.gramShard).distinct.toSet
    val inline = TextOps.grepIndexed(idx, docs, "doc_id", "text", pattern)
      .as[Long].collect().sorted.toSeq
    assert(inline.nonEmpty, "the pattern must actually match at sf0.001")
    val pruned = TextOps.grepIndexed(spark.read.parquet(shardDir),
      docs, "doc_id", "text", pattern)
    assert(pruned.as[Long].collect().sorted.toSeq === inline)
    // the pruned SCAN selects only the pattern's shard directories
    // (inputFiles would lie here: it lists the store, ignoring pruning)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
      case q: QueryStageExec => p +: flat(q.plan)
      case _ => p +: p.children.flatMap(flat)
    }
    def scanOf(df: org.apache.spark.sql.DataFrame, dir: String): FileSourceScanExec =
      flat(df.queryExecution.executedPlan).collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
      }.getOrElse(fail(s"no file scan over $dir in the plan"))
    val scan = scanOf(pruned, shardDir)
    val readShards = scan.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
      .flatMap(f => "__shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(readShards.nonEmpty && readShards.subsetOf(shardSet),
      s"read shards $readShards must be within the pattern's $shardSet")
    assert(scan.toString.contains("PartitionFilters: [__shard"),
      "the shard filter must reach the scan as a PartitionFilter:\n" + scan.toString.take(1500))
    // and the store holds more shards than the read touched — the pruning
    // is real, not a store that only ever had the pattern's shards
    val allShards = spark.read.parquet(shardDir).inputFiles
      .flatMap(f => "__shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(allShards.size > shardSet.size,
      s"the store must hold more shards (${allShards.size}) than the pattern reads (${shardSet.size})")
    // differential control: the plain-parquet index has nothing to prune —
    // the same query's scan selects EVERY file of the posting store
    val ctrl = TextOps.grepIndexed(spark.read.parquet(plainDir),
      docs, "doc_id", "text", pattern)
    assert(ctrl.as[Long].collect().sorted.toSeq === inline)
    val ctrlScan = scanOf(ctrl, plainDir)
    val ctrlSelected = ctrlScan.selectedPartitions.totalNumberOfFiles.toInt
    assert(ctrlSelected === spark.read.parquet(plainDir).inputFiles.length,
      s"control must scan the whole store, selected $ctrlSelected files")
  }

  test("writeGraph/loadGraph round-trips a property graph with shuffle-free hops") {
    val gr = graph.Tpch.load(spark, "/root/testdata/sf0.001")
    val small = graph.PropertyGraph(
      Map("customer" -> gr.kind("customer"), "nation" -> gr.kind("nation")),
      gr.edges.where(col("label") === "customer_nation"))
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("sg_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq("sg_k_customer", "sg_k_nation", "sg_edges").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    Scale.writeGraph(small, "sg", 8)
    val loaded = Scale.loadGraph(spark, "sg")
    assert(loaded.kinds.keySet === Set("customer", "nation"))
    assert(loaded.edges.count() === small.edges.count())
    // a frontier hop over the loaded graph co-locates: no shuffle exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hop = loaded.kind("customer").select("id")
        .join(loaded.edges, col("id") === col("src"))
      assert(hop.count() > 0L)
      assert(Scale.isShuffleFree(hop),
        "loaded-graph hop should have no Exchange:\n" + hop.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("date-partitioned edge log: a date filter prunes partitions at the scan") {
    // the streaming-graph storage layout: edges land in a dt=... partitioned
    // log; traversals over a time slice must touch only that slice's files
    val dir = java.nio.file.Files.createTempDirectory("graft_part_edges").toFile.getAbsolutePath
    val edges = (1 to 300).map(i => (i.toLong, (i % 50).toLong, f"2026-01-${i % 3 + 1}%02d"))
      .toDF("src", "dst", "dt")
    edges.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val sliced = spark.read.parquet(dir).where(col("dt") === "2026-01-02")
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      "expected the dt predicate to prune at the scan:\n" + plan.take(1500))
    assert(sliced.count() === 100L)
    // and the pruned slice feeds a normal traversal hop
    val g = graph.PropertyGraph(
      Map("v" -> (0L to 300L).toDF("id")),
      sliced.withColumn("label", lit("e")))
    assert(g.from((1L to 300L).toDF("id")).out("e").count() === 100L)
  }

  test("bucketed TPC-H edge storage: a traversal hop runs with no exchange") {
    // SURVEY §7 storage demo: persist the property-graph tables bucketed on
    // the hop key; a frontier⋈edges traversal hop then needs no shuffle at
    // all — the plan co-locates by bucket. This is the storage layout that
    // makes repeated traversals over a 100 TB graph shuffle-free.
    val gr = graph.Tpch.load(spark, "/root/testdata/sf0.001")
    Seq("bucketed_li", "bucketed_edges").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    Scale.saveBucketed(gr.kind("lineitem").select("id", "l_quantity"), "bucketed_li", "id", 8)
    Scale.saveBucketed(gr.edges.where(col("label") === "lineitem_order")
      .select("src", "dst"), "bucketed_edges", "src", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hop = spark.table("bucketed_li")
        .join(spark.table("bucketed_edges"), col("id") === col("src"))
        .select(col("dst"), col("l_quantity"))
      assert(hop.count() > 0L)
      assert(Scale.isShuffleFree(hop),
        "bucketed traversal hop should have no Exchange:\n" + hop.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zValue: order embedding per dimension, box containment, and real locality") {
    import graft.plans.Scale
    import spark.implicits._
    // closed form: z(a,b) interleaves a on even bits, b on odd
    val z = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 0L), (0L, 3L), (5L, 9L))
      .toDF("a", "b").select(col("a"), col("b"), Scale.zValue(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(z((0L, 0L)) === 0L && z((1L, 0L)) === 1L && z((0L, 1L)) === 2L &&
      z((1L, 1L)) === 3L && z((3L, 0L)) === 5L && z((0L, 3L)) === 10L)
    assert(z((5L, 9L)) === 147L) // spread(101₂)=1+16, 2·spread(1001₂)=2·(1+64) → 17+130
    // grid check: bit-spreading is an order embedding in each dimension,
    // and every point of an axis-aligned box lies inside the corner z-range
    val grid = spark.range(32).select(col("id").as("a"))
      .crossJoin(spark.range(32).select(col("id").as("b")))
      .select(col("a"), col("b"), Scale.zValue(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    val zm = grid.map(r => (r._1, r._2) -> r._3).toMap
    for (a <- 0L until 31L; b <- 0L until 31L) {
      assert(zm((a + 1, b)) > zm((a, b)) && zm((a, b + 1)) > zm((a, b)))
    }
    val (loA, hiA, loB, hiB) = (5L, 12L, 20L, 27L)
    val (zLo, zHi) = (zm((loA, loB)), zm((hiA, hiB)))
    val box = grid.filter(r => r._1 >= loA && r._1 <= hiA && r._2 >= loB && r._2 <= hiB)
    assert(box.forall(r => r._3 >= zLo && r._3 <= zHi)) // containment: one z-range scan suffices
    // locality: the z-range covers FAR less than the full table — the
    // row-group pruning win a z-sorted layout buys for box predicates
    val inRange = grid.count(r => r._3 >= zLo && r._3 <= zHi)
    assert(inRange < grid.length / 2, s"z-range spans $inRange of ${grid.length}")
  }
}
