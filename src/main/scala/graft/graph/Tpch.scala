package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Global vertex-id namespacing (the Spark analogue of fermor's kind-graph
  * typed KindId, kind_graph.clj): `vid = kindTag * 10^12 + naturalKey`.
  * Pure arithmetic — kind membership is a range predicate (pushdown-friendly,
  * no dictionary join), and the oracle SQL can mirror it inline.
  */
object Vid {
  val SPAN: Long = 1000000000000L
  val tags: Map[String, Long] = Map(
    "region" -> 1L, "nation" -> 2L, "customer" -> 3L, "supplier" -> 4L,
    "part" -> 5L, "orders" -> 6L, "lineitem" -> 7L, "user" -> 8L)
  def tag(kind: String): Long = tags(kind)
  def vid(kind: String, key: Column): Column = lit(tag(kind) * SPAN) + key.cast("long")
}

/** Loads the driver's TPC-H-ish testdata as a [[PropertyGraph]].
  *
  * Edges follow FK direction (child → parent), mirroring how the reference's
  * example graphs point from specific to general (gremlin_examples_test.clj
  * job graph: application -appliesTo-> job). Lineitem edges carry typed
  * properties (quantity, extendedprice) like fermor edge documents.
  */
object Tpch {
  import Vid.vid

  /** Opt-in scan sharing for the multi-query entry points (Bench, Verify):
    * with 60 queries over the same handful of tables, re-reading parquet per
    * query dominates; a persisted in-memory columnar copy is the Spark
    * analogue of the reference holding the graph in heap (fermor's Bifurcan
    * maps) — the data is loaded once, every query scans memory. Off by
    * default so specs and ad-hoc use keep the pure scan path (with its
    * parquet pushdown/pruning evidence). */
  @volatile var shareScans: Boolean = false
  // caches are keyed by the OWNING SparkSession: a stopped/recreated session
  // (each spec suite, or Bench after Verify in one JVM) must never be handed
  // a DataFrame bound to a dead session's plan — entries die with the session
  private val tableCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()
  private val graphCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), PropertyGraph]()

  /** Spread an under-split PAYLOAD scan across the cores (guide §2.5
    * "input skew: one huge unsplittable file — repartition immediately
    * after the read"): the testdata ships as single-row-group parquet
    * files, so every scan is ONE task, and for the compute-dense payload
    * consumers (tokenize/shingle/grep over documents.text, quantize/dot
    * over embeddings.vec) that one task serializes seconds of per-row work
    * onto one core regardless of cluster size. The partition count derives
    * from the actual input size (compressed bytes per partition, capped at
    * defaultParallelism), so a production-scale input whose scan already
    * splits to ≥ cores is left untouched — the small-file artifact fix,
    * not a local[32] tune.
    *
    * r11 re-tune (the r10 driver verdict's top item): r10 spread the
    * SHARED cache itself, so every consumer — including dozens of
    * cheap-per-byte queries (q_corpus_diff, q_span_strip, q_pref_pairs…)
    * — paid 18-32 near-empty tasks per stage at sf0.1; 8 of the round's 10
    * material regressions were exactly those consumers, and their 8-core
    * times BEAT their 32-core times (pure per-task scheduling overhead).
    * Now the shared cache keeps the scan's natural layout and only the
    * measured compute-dense operators opt into [[tableSpread]] — cheap
    * consumers get their pre-spread plans back verbatim, heavy ones keep
    * full parallelism. Relational/event tables stay unspread (the r10 A/B:
    * spreading them only buys per-task overhead). */
  // per-table split quantum (compressed bytes per partition): text ops
  // (tokenize/shingle) cost far more per byte than vector dots, so
  // documents split finer than embeddings (A/B-measured,
  // OPTIMIZATION_r10.md). lineitem/orders carry coarse MB-grade quanta —
  // cheap-per-byte relational rows, so only the measured-heavy pair-graph
  // consumers (mst/assortativity/richclub/butterflies/linkpred) opt in via
  // [[tableSpread]]; the shared plain cache (and every sub-second
  // relational query) keeps the natural scan layout (the r10/r11 A/B).
  private val payloadTables = Map(
    "documents" -> 32768L, "embeddings" -> 131072L,
    "lineitem" -> 1048576L, "orders" -> 1048576L)
  private def spread(spark: SparkSession, df: DataFrame, quantum: Long): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    val scanParts = df.rdd.getNumPartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = ((bytes / quantum) max BigInt(1) min BigInt(p)).toInt
    if (scanParts >= want) df else df.repartition(want)
  }

  private def cached(spark: SparkSession, key: (String, String))(build: => DataFrame): DataFrame =
    if (!shareScans) build
    else tableCache.getOrElseUpdate((spark, key._1, key._2),
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, (dir, name)) { readParquet(spark, s"$dir/$name.parquet") }

  /** `spark.read.parquet(path)` with its schema read on the driver from one
    * footer instead of by Spark's one-task schema-merge job (~75 ms a read).
    * The footer is the one Spark infers from with `mergeSchema` off: a file
    * is its own; a directory's is its first data file in name order (names
    * starting with `_` or `.` skipped; a partitioned layout is not
    * discovered). Spark's own schema in the footer's row metadata wins;
    * otherwise the parquet schema is converted under a clone of the
    * session's SQL conf, with nanosecond timestamps read as their raw long
    * (see [[events]]) — the session conf itself is never written. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val top = fs.getFileStatus(p)
    val file = if (top.isFile) top else fs.listStatus(p)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .minByOption(_.getPath.getName)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file at the top level of $path"))
    val meta = scala.util.Using.resource(
      ParquetFileReader.open(HadoopInputFile.fromStatus(file, hadoopConf)))(_.getFileMetaData)
    val schema = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
      .getOrElse {
        val conf = state.conf.clone()
        conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
        new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema)
      }
    spark.read.schema(schema).parquet(path)
  }

  /** The compute-dense consumers' view of a payload corpus: same rows,
    * spread across cores when (and only when) the scan is under-split.
    * Under [[shareScans]] the spread copy is persisted once under its own
    * key; when the spread is a no-op (a well-split production input) the
    * plain cache entry is shared — one resident copy, not two. Non-payload
    * tables pass through to [[table]] unchanged. */
  def tableSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    payloadTables.get(name) match {
      case None => table(spark, dir, name)
      case Some(q) =>
        if (!shareScans) spread(spark, readParquet(spark, s"$dir/$name.parquet"), q)
        else tableCache.getOrElseUpdate((spark, dir, name + "#spread"), {
          val raw = readParquet(spark, s"$dir/$name.parquet")
          val df = spread(spark, raw, q)
          if (df eq raw) table(spark, dir, name) // no-op spread: share the plain copy
          else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        })
    }

  /** events.parquet has shipped with two physical `ts` shapes across
    * testdata generations: nanosecond timestamps (which Spark's schema
    * inference rejects — [[readParquet]]'s schema reads them as long nanos,
    * µs-truncated here, the same truncation DuckDB applies) and plain
    * microsecond timestamps (read as TIMESTAMP_NTZ — cast to the
    * session-UTC timestamp). Dispatch on the observed schema so either
    * generation loads. */
  def events(spark: SparkSession, dir: String): DataFrame = cached(spark, (dir, "__events")) {
    val raw = readParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: `/` would go through double, whose 53-bit
        // mantissa cannot represent epoch-nanos exactly (±1 µs error)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // session timezone is pinned UTC everywhere, so NTZ wall-clock →
        // the identical epoch micros DuckDB reads from the same file
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** lineitem vid packs (orderkey, linenumber); linenumber is 1..7 so 3 bits
    * of headroom suffice. Collision-free while orderkey·8+linenumber stays
    * inside the 10¹² kind span — orderkey < 1.25e11, i.e. TPC-H SF ≲ 20k
    * (orderkeys run to ~6M·SF). A larger deployment widens [[Vid.SPAN]]
    * (vids are opaque longs; nothing depends on the constant beyond the
    * range predicates deriving from it) — changing it rewrites every id,
    * so it is a load-time choice, not a migration. Note: the synthetic
    * testdata has duplicate (orderkey, linenumber) pairs; those collapse to
    * one vertex with parallel edges (bag semantics, exactly like fermor's
    * multi-edges between the same vertex pair). */
  def lineitemVid(orderkey: Column, linenumber: Column): Column =
    lit(Vid.tag("lineitem") * Vid.SPAN) + orderkey.cast("long") * 8 + linenumber.cast("long")

  def load(spark: SparkSession, dir: String): PropertyGraph =
    if (!shareScans) build(spark, dir)
    else graphCache.getOrElseUpdate((spark, dir), {
      val g = build(spark, dir)
      // the edge table is touched by nearly every traversal and is itself a
      // 6-way union over the base tables — persist the materialized union.
      // NOT respread: repartitioning the union to defaultParallelism was
      // A/B-measured a clear loss (r11: q_deepest task time 9.2 → 66.5 s,
      // q_rollup wall 1.0 → 1.8 s — 32 mixed-label partitions defeat the
      // per-batch stat skipping label filters rely on, and every per-level
      // probe pays 32 task overheads), so traversals keep the one-partition-
      // per-base-table layout whose big branches the guarded frontier
      // broadcasts already avoid shuffling.
      val persisted = g.edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one job at load fills the persisted union (and the table caches
      // under it) and counts its rows per label: exact per-label sizes let
      // every traversal hop broadcast a measured-small label slice with zero
      // per-query probes — see PropertyGraph.registerLabelRows for the
      // staleness argument. Each partition of a fresh projection counts its
      // own rows (a groupBy-count is 3 jobs under AQE: cache stage, shuffle
      // map, result). Never `persisted.queryExecution` itself: once run, its
      // executed plan would stay alive with the retained graph.
      val parts = persisted.select("label").queryExecution.toRdd.mapPartitions { rows =>
        val n = scala.collection.mutable.HashMap.empty[UTF8String, Array[Long]]
        var total = 0L
        rows.foreach { r =>
          total += 1
          if (!r.isNullAt(0)) {
            val l = r.getUTF8String(0) // points into a reused row buffer
            n.get(l) match {
              case Some(c) => c(0) += 1
              case None => n(l.clone()) = Array(1L)
            }
          }
        }
        Iterator((total, n.iterator.map { case (l, c) => l.toString -> c(0) }.toMap))
      }.collect()
      PropertyGraph.registerLabelRows(persisted, parts.iterator.map(_._1).sum,
        parts.iterator.flatMap(_._2).toSeq.groupMapReduce(_._1)(_._2)(_ + _))
      g.copy(edges = persisted)
    })

  private def build(spark: SparkSession, dir: String): PropertyGraph = {
    val region   = table(spark, dir, "region")
    val nation   = table(spark, dir, "nation")
    val customer = table(spark, dir, "customer")
    val supplier = table(spark, dir, "supplier")
    val part     = table(spark, dir, "part")
    val orders   = table(spark, dir, "orders")
    val lineitem = table(spark, dir, "lineitem")

    val kinds = Map(
      "region"   -> region.select(vid("region", col("r_regionkey")).as("id"), col("r_name")),
      "nation"   -> nation.select(vid("nation", col("n_nationkey")).as("id"), col("n_name")),
      "customer" -> customer.select(vid("customer", col("c_custkey")).as("id"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"), col("c_custkey")),
      "supplier" -> supplier.select(vid("supplier", col("s_suppkey")).as("id"),
        col("s_name"), col("s_acctbal")),
      "part"     -> part.select(vid("part", col("p_partkey")).as("id"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "orders"   -> orders.select(vid("orders", col("o_orderkey")).as("id"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")),
      "lineitem" -> lineitem.select(lineitemVid(col("l_orderkey"), col("l_linenumber")).as("id"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate")))

    def bare(src: Column, dst: Column, lbl: String): DataFrame => DataFrame =
      _.select(src.as("src"), dst.as("dst"), lit(lbl).as("label"),
        lit(null).cast("double").as("quantity"), lit(null).cast("double").as("extendedprice"))

    val edges = Seq(
      bare(vid("nation", col("n_nationkey")), vid("region", col("n_regionkey")), "nation_region")(nation),
      bare(vid("customer", col("c_custkey")), vid("nation", col("c_nationkey")), "customer_nation")(customer),
      bare(vid("supplier", col("s_suppkey")), vid("nation", col("s_nationkey")), "supplier_nation")(supplier),
      bare(vid("orders", col("o_orderkey")), vid("customer", col("o_custkey")), "order_customer")(orders),
      lineitem.select(
        lineitemVid(col("l_orderkey"), col("l_linenumber")).as("src"),
        vid("orders", col("l_orderkey")).as("dst"), lit("lineitem_order").as("label"),
        col("l_quantity").as("quantity"), col("l_extendedprice").as("extendedprice")),
      lineitem.select(
        lineitemVid(col("l_orderkey"), col("l_linenumber")).as("src"),
        vid("part", col("l_partkey")).as("dst"), lit("lineitem_part").as("label"),
        col("l_quantity").as("quantity"), col("l_extendedprice").as("extendedprice")),
      lineitem.select(
        lineitemVid(col("l_orderkey"), col("l_linenumber")).as("src"),
        vid("supplier", col("l_suppkey")).as("dst"), lit("lineitem_supplier").as("label"),
        col("l_quantity").as("quantity"), col("l_extendedprice").as("extendedprice"))
    ).reduce(_.unionByName(_))

    PropertyGraph(kinds, edges)
  }
}
