package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities (SURVEY.md §4): the explicit levers for 100 TB jobs that
  * AQE alone doesn't cover — key-salting for skew, and bucketed storage for
  * shuffle-free co-located joins.
  */
object Scale {

  /** Skew-resistant equi-join: the (skewed) left side gets a deterministic
    * per-row salt derived from its full row hash; the right side is
    * replicated `salt` times. The shuffle key becomes (key, salt), so one
    * hot key spreads over `salt` reducers instead of one straggler.
    * Results are bag-identical to a plain inner join on `key`. */
  def skewJoin(left: DataFrame, right: DataFrame, key: String, salt: Int = 16): DataFrame =
    skewJoin(left, right, Seq(key), salt)

  /** Multi-column-key variant of [[skewJoin]].
    *
    * The salt is the full ROW hash, so it is deterministic (the bag-equality
    * spec depends on that) — with the stated limitation that fully IDENTICAL
    * rows share a salt: a hot key whose rows are exact duplicates still
    * lands on one reducer. Every caller here carries a distinct id per row
    * (co-occurrence items, vertex frontiers), which is the intended usage;
    * salt on an explicit row-number column if yours does not.
    *
    * The salted sides are repartitioned with an EXPLICIT partition count
    * (REPARTITION_BY_NUM), which AQE never coalesces. Without it the whole
    * point of salting can be silently undone: AQE's partition coalescing is
    * byte-based and blind to join FAN-OUT, so a hot bucket whose shuffle
    * input is a few MB — but whose self-join output is 10⁹ rows — gets its
    * salt² reducers merged back into one task, re-serializing exactly the m²
    * the salt was spreading (measured in ScaleProbe: the coalesced salted
    * join ran no faster than the unguarded one; pinned, it tracks cores). */
  def skewJoin(left: DataFrame, right: DataFrame, keys: Seq[String], salt: Int): DataFrame = {
    val n = left.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val saltKeys = (keys :+ "__salt").map(col)
    val lSalted = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(salt)).cast("int"))
      .repartition(n, saltKeys: _*)
    val rReplicated = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
      .repartition(n, saltKeys: _*)
    lSalted.join(rReplicated, keys :+ "__salt").drop("__salt")
  }

  /** All unordered within-bucket pairs — the guarded form of the quadratic
    * co-occurrence self-join. The output is inherently O(m²) per bucket; the
    * scale hazard is one HOT bucket's m² landing on a single reducer. A
    * bucket-cardinality pre-aggregate splits the input: buckets at or below
    * `hotThreshold` members take the plain self-join, hotter buckets go
    * through the salted join so their fan-out spreads over `salt` reducers.
    * The union is bag-identical to the unguarded self-join.
    *
    * Returns `bucketCols :+ "i1" :+ "i2"` with `i1 < i2`. */
  def cooccurrencePairs(items: DataFrame, bucketCols: Seq[String], itemCol: String,
      hotThreshold: Int = 1000, salt: Int = 16): DataFrame = {
    // The input feeds five plan references (count agg + two sides × two
    // branches); checkpoint once so upstream work isn't re-derived per ref.
    val its = items.localCheckpoint(false)
    // Only the HOT bucket keys are materialized and broadcast: there can be
    // at most |items|/hotThreshold of them, so the split is two broadcast
    // (anti/semi) probes — no shuffle-join of per-row counts back onto items.
    val hotKeys = broadcast(its.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__bn")).where(col("__bn") > hotThreshold)
      .select(bucketCols.map(col): _*))
    def side(df: DataFrame, as: String) =
      df.select(bucketCols.map(col) :+ col(itemCol).as(as): _*)
    def pairs(joined: DataFrame) =
      joined.where(col("i1") < col("i2"))
        .select(bucketCols.map(col) :+ col("i1") :+ col("i2"): _*)
    val cold = its.join(hotKeys, bucketCols, "left_anti")
    val hot = its.join(hotKeys, bucketCols, "left_semi")
    // the cold branch keeps AQE's coalescing: per-bucket fan-out is bounded
    // by hotThreshold², so no single reducer can inherit an unbounded m² —
    // a REPARTITION_BY_NUM pin here was measured to double total task time
    // for ~8% wall (an extra full shuffle), the wrong CPU trade; only the
    // hot branch (unbounded fan-out) needs the pin, inside skewJoin
    val coldPairs = pairs(side(cold, "i1").join(side(cold, "i2"), bucketCols))
    val hotPairs = pairs(skewJoin(side(hot, "i1"), side(hot, "i2"), bucketCols, salt))
    coldPairs.unionByName(hotPairs)
  }

  /** Two-phase skew-resistant aggregation: partial aggregate on
    * (key, salt), then final merge on key. Spark's hash aggregate already
    * does map-side partials; this adds a REDUCE-side split for keys so hot
    * that a single reducer partition would still straggle. */
  def saltedSum(df: DataFrame, key: String, valueCol: String, salt: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(struct(df.columns.map(col): _*)), lit(salt)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__pn"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(valueCol), sum(col("__pn")).as("n"))

  /** Persist a DataFrame bucketed+sorted by `key` as a saved table: two
    * tables bucketed the same way join WITHOUT a shuffle (SortMergeJoin
    * with no Exchange). This is the pre-partitioning lever for repeated
    * co-located joins over the same keys at 100 TB. */
  def saveBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Measured broadcast guard of the broadcast-or-SMJ decisions (the
    * degreeAssortativity degJ idiom): true iff `df` holds at most `n` rows
    * — one limited count whose first incremental-limit wave is widened to
    * the session's core count ([[oneWaveLimit]]). Callers pick `n` so
    * n·rowWidth stays a sane broadcast build (~32 MB for long pairs at
    * 2 M). */
  def fitsBroadcast(df: DataFrame, n: Long): Boolean = {
    if (n < 0) return false
    val probe = math.min(n, Int.MaxValue - 1L).toInt + 1
    oneWaveLimit(df)(df.limit(probe).count() <= n)
  }

  /** Runs `body` with Spark's incremental-limit first wave widened from 1
    * partition to the session's core count: a guard probe/collect over a
    * 32-partition frame otherwise executes as up to 4 SEQUENTIAL jobs
    * (waves of 1, 4, 16, 32 partitions — measured 0.33 s vs 0.09 s for a
    * plain parallel collect on a warm 16 k-row frame). One wave of
    * `defaultParallelism` partitions keeps the early-stop property on
    * genuinely large inputs (a cluster frame with 10⁴ partitions still
    * stops after core-count partitions if the limit is already exceeded).
    * A frame of at most `defaultParallelism` partitions takes one parallel
    * job; one with more that stays under the limit reads every partition,
    * one wave (job) after another — a 10-partition frame at 4 cores takes
    * 3 jobs of 4 + 3 + 3 tasks. The
    * set/restore is synchronized on the owning session so two concurrent
    * guard probes cannot interleave their save/restore and leave the conf
    * permanently set (or apply the widened wave to an unrelated concurrent
    * limit). The lock is held only for the probe's single bounded action. */
  private[graft] def oneWaveLimit[A](df: DataFrame)(body: => A): A = {
    val spark = df.sparkSession
    spark.synchronized {
      val conf = spark.conf
      val key = "spark.sql.limit.initialNumPartitions"
      val prev = conf.getOption(key)
      conf.set(key, spark.sparkContext.defaultParallelism.toString)
      try body finally prev.fold(conf.unset(key))(conf.set(key, _))
    }
  }

  /** Row guard of every broadcast join whose side is sized at run time (the
    * iterative loops' frontiers, Descend's tails, loader-counted edge
    * slices): a checkpointed frame blinds the planner's stats, so a join
    * against one would sort-merge, exchanging the FULL other side even for
    * a one-row frontier. Sides of at most this many rows broadcast instead;
    * past it the shuffle join stands, so a flooded frontier on a real
    * cluster is never built into one hash relation. ~2 longs/row ≈ 16 MB;
    * a tighter 250k guard measured worse on every descend query (q_deepest
    * 2.4 → 3.5 s warm, OPTIMIZATION_r11.md). */
  private[graft] val bcastRows = 1000000L

  /** `df` broadcast when its measured `rows` of an estimated `width` bytes
    * each fit the [[bcastRows]] budget of 16 B rows (16 MB), so a side of
    * wide rows — a frontier carrying a long path — broadcasts fewer rows. */
  private[graft] def guarded(df: DataFrame, rows: Long, width: Long = 16L): DataFrame =
    if (rows <= bcastRows * 16L / width) broadcast(df) else df

  /** A per-round statistic for [[checkpointed]]: a long-valued Column over
    * the round's rows, reduced by `sum` (else `min`), nulls ignored. With
    * no non-null value it is the reduction's identity: 0, or Long.MaxValue. */
  private[graft] final case class Stat(col: Column, sum: Boolean)
  private[graft] def minOf(c: Column): Stat = Stat(c, sum = false)
  private[graft] def sumOf(c: Column): Stat = Stat(c, sum = true)

  /** The one way an iterative round ends: a LAZY localCheckpoint of `df`,
    * completed by ONE job that returns its row count (the drain probe and
    * the [[guarded]] input) and each of `stats` over its rows. The job runs
    * over every partition — an emptiness probe would leave the checkpoint
    * partly computed — and over the checkpoint's RDD, because a DataFrame
    * agg or count adds a job for its single-partition exchange under AQE. */
  private[graft] def checkpointed(df: DataFrame, stats: Stat*)
      : (DataFrame, Long, IndexedSeq[Long]) = {
    val c = df.localCheckpoint(eager = false)
    val isSum = stats.map(_.sum).toArray
    // acc(0) counts the rows, acc(i + 1) reduces stat i from its identity
    def merge(acc: Array[Long], i: Int, x: Long): Unit =
      acc(i + 1) = if (isSum(i)) acc(i + 1) + x else math.min(acc(i + 1), x)
    val acc = c.select(stats.map(_.col.cast("long")): _*).queryExecution.toRdd
      .aggregate(0L +: isSum.map(s => if (s) 0L else Long.MaxValue))(
        (a, r) => {
          a(0) += 1
          isSum.indices.foreach(i => if (!r.isNullAt(i)) merge(a, i, r.getLong(i)))
          a
        },
        (a, b) => {
          a(0) += b(0)
          isSum.indices.foreach(i => merge(a, i, b(i + 1)))
          a
        })
    (c, acc(0), acc.toIndexedSeq.tail)
  }

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the co-location check for bucketed joins. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Persist a whole [[graft.graph.PropertyGraph]] as bucketed tables — the
    * graph SINK for repeated-traversal workloads: kind tables bucket on
    * `id`, the edge table buckets on `src`, so after [[loadGraph]] a
    * frontier⋈edges hop and an edges⋈kind props join both co-locate with no
    * Exchange (ScaleSpec proves the plan shape). At 100 TB this turns every
    * traversal's per-hop shuffle into a bucket-local sort-merge. */
  def writeGraph(g: graft.graph.PropertyGraph, prefix: String, buckets: Int): Unit = {
    g.kinds.foreach { case (k, df) => saveBucketed(df, s"${prefix}_k_$k", "id", buckets) }
    saveBucketed(g.edges, s"${prefix}_edges", "src", buckets)
  }

  /** Bucketed range join — the "point IN [lo, hi]" join Spark has no
    * native operator for: a raw `t BETWEEN lo AND hi` join predicate plans
    * as BroadcastNestedLoopJoin (or a cartesian), which is |points|·|ivals|
    * work no matter how selective the ranges are. Here each interval
    * EXPLODES into the fixed-`grain` buckets it covers, points equi-join
    * their single bucket, and the exact containment predicate filters
    * inside the bucket. With grain ≈ the typical interval width each
    * interval covers O(1) buckets, so shuffle volume is
    * |points| + Σ⌈width/grain⌉ — linear, keyed, AQE/skew-eligible.
    * Matches a point to EVERY interval containing it (overlaps included),
    * inclusive on both endpoints; empty intervals (lo > hi) drop. Column
    * sets must be disjoint (standard join contract). */
  def rangeJoin(points: DataFrame, tCol: String, intervals: DataFrame,
      loCol: String, hiCol: String, grain: Long): DataFrame = {
    require(grain > 0)
    require(!points.columns.contains("__b") && !intervals.columns.contains("__b"),
      "rangeJoin reserves the internal column name __b")
    val p = points.withColumn("__b", expr(s"cast($tCol as bigint) div ${grain}L"))
    val iv = intervals
      .where(col(loCol) <= col(hiCol))
      .withColumn("__b", explode(sequence(
        expr(s"cast($loCol as bigint) div ${grain}L"),
        expr(s"cast($hiCol as bigint) div ${grain}L"))))
    p.join(iv, "__b")
      .where(col(tCol) >= col(loCol) && col(tCol) <= col(hiCol))
      .drop("__b")
  }

  /** Load a graph previously stored by [[writeGraph]]. */
  def loadGraph(spark: SparkSession, prefix: String): graft.graph.PropertyGraph = {
    val catalog = spark.catalog
    val kindTables = catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(s"${prefix}_k_"))
    val kinds = kindTables.map { t =>
      t.stripPrefix(s"${prefix}_k_") -> spark.table(t)
    }.toMap
    graft.graph.PropertyGraph(kinds, spark.table(s"${prefix}_edges"))
  }

  /** Z-ORDER (Morton) interleave key: the multi-dimensional data-layout
    * lever — sort/cluster a table by `zValue(a, b)` once at write time and
    * range predicates on EITHER dimension prune row groups, because the
    * curve keeps both coordinates' locality in one sort key (the technique
    * behind Delta/Iceberg OPTIMIZE ZORDER, spelled out as exact integer
    * arithmetic). Interleaves the low `bits` bits of two non-negative
    * longs, `a` on even positions, `b` on odd; bit-spreading is an order
    * embedding per dimension, so for any axis-aligned box
    * zValue(lo_a, lo_b) <= z(p) <= zValue(hi_a, hi_b) for every p inside —
    * the containment that makes a box query one contiguous z-range scan
    * plus BIGMIN-style false-positive filtering (spec'd quantitatively). */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31)
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }
}
