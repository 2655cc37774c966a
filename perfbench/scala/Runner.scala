package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

import graft.SparkEntry
import graft.graph.Tpch

/** Refuses a second run of one query in one session: a repeat would be
  * served from the session's result memos and time nothing. */
final class SessionGuard {
  private val seen = mutable.HashSet.empty[(Int, String)]
  def claim(s: SparkSession, query: String): Unit =
    if (!seen.add((System.identityHashCode(s), query)))
      throw new IllegalStateException(s"$query ran twice in one session")
}

/** One query's outcome in a measured pass; a failed query's wall is +inf. */
final case class QueryRun(name: String, wallS: Double, ok: Boolean)

/** A pass: its wall seconds (load included), its start, load end and end
  * in epoch ms, and the per-query outcomes. */
final case class PassOut(wallS: Double, start: Double, loadEnd: Double, end: Double,
    runs: Seq[QueryRun])

/** Drives graft's public entry points (`SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `Tpch.load`, `Tpch.shareScans`) as a closed loop
  * with one client thread, and writes everything it measured as JSON.
  *
  * A run is: one check pass that writes each query's full result as parquet
  * for the oracle compare (it also loads, JIT-compiles and code-generates
  * every query once), `setups` set-ups (reset, fresh session, `Tpch.load`),
  * one untimed warm-up pass, then measured passes until `seconds` have
  * passed and at least `minPasses` have run. Every pass starts from
  * [[Runner.reset]] in a fresh `newSession()`, runs each query once in a
  * seed-drawn order, and times `write.format("noop")`, which materializes
  * every column and returns nothing to the driver. With tracing on, passes
  * alternate untraced and traced; only traced passes feed the per-layer
  * rollup, and the untraced ones give the tracing overhead.
  */
object Runner {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def now: Double = System.currentTimeMillis().toDouble
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Drops every cached plan and persisted RDD (the scan caches and the
    * fixpoint loops' `localCheckpoint` blocks). Returns what survived. */
  def reset(spark: SparkSession): (Int, Boolean) = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (spark.sparkContext.getPersistentRDDs.size,
      spark.asInstanceOf[ClassicSession].sharedState.cacheManager.isEmpty)
  }

  private def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  final class Bench(val spark: SparkSession, dir: String, queries: Seq[(String, String)], seed: Long) {
    val guard = new SessionGuard
    val fns: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
    val failures = mutable.LinkedHashMap.empty[String, String]
    var resetViolations = 0

    def freshSession(): SparkSession = {
      val (rdds, cacheEmpty) = reset(spark)
      if (rdds != 0 || !cacheEmpty) resetViolations += 1
      spark.newSession()
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries.map(_._1))

    private def group(tag: String): Unit = spark.sparkContext.setJobGroup(tag, tag)

    /** One pass, timed from its first `Tpch.load` to its last query;
      * `onQuery` sees every query's build and exec times (epoch ms). */
    def pass(index: Int, onSession: SparkSession => Unit = _ => (),
             onQuery: (String, Double, Double, Double) => Unit = (_, _, _, _) => ()): PassOut = {
      val s = freshSession()
      onSession(s)
      val (t0, start) = (System.nanoTime(), now)
      group(s"p$index|load")
      Tpch.load(s, dir)
      val (loadS, loadEnd) = (secs(t0), now)
      var elapsed = loadS
      val runs = order(index).map { q =>
        guard.claim(s, q)
        val (a, a0) = (System.nanoTime(), now)
        var b0 = 0.0
        val ok = try {
          group(s"p$index|$q|build")
          val df = fns(q)(s, dir)
          b0 = now
          group(s"p$index|$q|exec")
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          failures.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}".take(300)); false
        }
        val wall = secs(a)
        elapsed += wall
        onQuery(q, a0, if (b0 > 0) b0 else now, now)
        spark.sparkContext.clearJobGroup()
        QueryRun(q, if (ok) wall else Double.PositiveInfinity, ok)
      }
      val end = now
      PassOut(elapsed, start, loadEnd, end, runs)
    }

    /** Untimed: each query's full result, as one parquet directory per query. */
    def check(out: String): Unit = {
      val s = freshSession()
      queries.foreach { case (q, _) =>
        guard.claim(s, q)
        try fns(q)(s, dir).write.mode("overwrite").parquet(s"$out/$q")
        catch { case e: Throwable =>
          failures.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}".take(300))
        }
      }
      val sql = SparkEntry.oracleSql
      Files.write(Paths.get(s"$out/oracle_sql.json"),
        Json.obj(queries.map { case (q, _) => q -> Json.str(sql.getOrElse(q, "")) }).getBytes(UTF_8))
    }
  }

  /** The pass-reset contract, checked on a real pass: the pass leaves
    * persisted RDDs and cached plans behind, [[reset]] removes all of them,
    * and the session guard rejects a query's second run in one session. */
  def selfTest(bench: Bench, out: String): Unit = {
    val spark = bench.spark
    val cache = spark.asInstanceOf[ClassicSession].sharedState.cacheManager
    val p = bench.pass(1)
    val (rddsBefore, cacheEmptyBefore) = (spark.sparkContext.getPersistentRDDs.size, cache.isEmpty)
    val (rddsAfter, cacheEmptyAfter) = reset(spark)
    val s = spark.newSession()
    val q = p.runs.head.name
    bench.guard.claim(s, q)
    val repeatRejected = try { bench.guard.claim(s, q); false }
      catch { case _: IllegalStateException => true }
    val otherSessionAllowed = try { bench.guard.claim(spark.newSession(), q); true }
      catch { case _: IllegalStateException => false }
    Files.write(Paths.get(s"$out/selftest.json"), Json.obj(Seq(
      "queries_ok" -> Json.num(p.runs.count(_.ok)),
      "rdds_before" -> Json.num(rddsBefore), "cache_empty_before" -> cacheEmptyBefore.toString,
      "rdds_after" -> Json.num(rddsAfter), "cache_empty_after" -> cacheEmptyAfter.toString,
      "repeat_rejected" -> repeatRejected.toString,
      "other_session_allowed" -> otherSessionAllowed.toString)).getBytes(UTF_8))
  }

  /** Post-GC heap with every retained cache, checkpoint and session
    * resident. Each GC lets Spark's ContextCleaner drop the broadcasts and
    * shuffles of plans no longer referenced, which the next GC reclaims:
    * collect until the heap stops shrinking, so the sample does not depend
    * on the cleaner's timing. */
  private def settledHeapMb(): Double = {
    def usedMb = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prevMb, mb) = (Double.PositiveInfinity, usedMb)
    var settles = 0
    while (prevMb - mb > 0.5 && settles < 10) {
      Thread.sleep(200)
      prevMb = mb; mb = usedMb; settles += 1
    }
    mb
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opt("dir")
    val queries = opt("queries").split(",").toSeq.map { qm =>
      val Array(q, m) = qm.split(":"); q -> m }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val setups = opt.getOrElse("setups", "3").toInt
    val minPasses = opt.getOrElse("min-passes", "3").toInt
    val cores = opt.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString)
    val out = opt("out")
    Files.createDirectories(Paths.get(out))

    val tStart = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and SQL execution of the
      // run for a UI that is off; its size would grow with the pass count
      // and swamp the program's own heap in peak_heap_mb
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", s"${opt("local-dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tpch.shareScans = true
    val sparkStartS = secs(tStart)
    val unknown = queries.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val bench = new Bench(spark, dir, queries, seed)

    if (opt.getOrElse("selftest", "0") == "1") { selfTest(bench, out); spark.stop(); return }
    val tCheck = System.nanoTime()
    bench.check(s"$out/check")
    val checkS = secs(tCheck)
    val setupS = (1 to setups).map { _ =>
      val t0 = System.nanoTime()
      Tpch.load(bench.freshSession(), dir)
      secs(t0)
    }
    // one untimed pass more, so the measured passes are each query's third
    // run or later: past most of the JIT's warm-up, whose trend would
    // otherwise decide the medians
    var passIndex = 1
    bench.pass(passIndex)

    val modules = queries.toMap
    val trace = new LayerTrace
    val untracedPass = mutable.ArrayBuffer.empty[Double]
    val tracedPass = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[QueryRun]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val queryRows = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0
    var failedRuns = 0
    val tMeasure = System.nanoTime()
    def more(n: Int) = n < minPasses || secs(tMeasure) < seconds
    var measured = 0
    var peakHeapMb = 0.0
    // a traced run ends on an untraced pass, so each traced one has two neighbours
    while (more(measured) || (traced && (tracedPass.size < 2 || measured % 2 == 0))) {
      passIndex += 1
      val withTrace = traced && measured % 2 == 1
      val p = if (!withTrace) bench.pass(passIndex) else {
        // the previous pass's blocks go before counting this pass's drops
        reset(spark)
        spark.sparkContext.addSparkListener(trace)
        drain(spark)
        val dropped0 = trace.snapshot._5
        val qt = mutable.ArrayBuffer.empty[QueryTimes]
        val gc0 = gcMs
        val p = bench.pass(passIndex,
          s => s.asInstanceOf[ClassicSession].listenerManager.register(trace),
          (q, a, b, c) => qt += QueryTimes(q, modules(q), a, b, c))
        // every listener event of this pass is delivered before the rollup
        drain(spark)
        val persisted = spark.sparkContext.getPersistentRDDs
        val info = spark.sparkContext.getRDDStorageInfo
        val mb = (f: org.apache.spark.storage.RDDInfo => Boolean) =>
          info.filter(f).map(i => i.memSize + i.diskSize).sum / 1e6
        val ckpt = persisted.values.filter(_.checkpointData.exists(
          _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])).map(_.id).toSet
        val pt = PassTimes(passIndex, p.wallS, p.start, p.loadEnd, p.end, qt.toSeq,
          mb(_ => true), mb(i => ckpt(i.id)), trace.snapshot._5 - dropped0, (gcMs - gc0) / 1e3)
        val (row, sp, perQuery) = Rollup(pt, trace)
        layerRows += row; spans ++= sp; queryRows += perQuery
        spark.sparkContext.removeSparkListener(trace)
        p
      }
      val (total, runs) = (p.wallS, p.runs)
      (if (withTrace) tracedPass else untracedPass) += total
      if (!withTrace) latencies ++= runs
      attempted += runs.size
      failedRuns += runs.count(!_.ok)
      measured += 1
      // the heap is sampled after a fixed number of passes, which every run
      // reaches: the program keeps state from each pass's session, so a
      // sample at the end would grow with the number of passes, and so with
      // the program's speed
      if (measured == minPasses) peakHeapMb = settledHeapMb()
    }

    val layerKeys = layerRows.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    val layers = layerKeys.map(k => k -> median(layerRows.map(_(k)).toSeq)) ++
      // each traced pass against the mean of the untraced passes either side
      // of it, so the warm-up trend across passes cancels out
      (if (traced) Seq("trace.overhead_s" -> median(tracedPass.indices.map(i =>
        tracedPass(i) - (untracedPass(i) + untracedPass(i + 1)) / 2)),
        "setup.spark_start_s" -> sparkStartS) else Nil)
    val result = Json.obj(Seq(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "spark_start_s" -> Json.num(sparkStartS),
      "pass_s" -> Json.arr(untracedPass.toSeq.map(Json.num)),
      "traced_pass_s" -> Json.arr(tracedPass.toSeq.map(Json.num)),
      "traced_residual_s" -> Json.arr(layerRows.toSeq.map(r => Json.num(r("trace.path_residual_s")))),
      "latency_s" -> Json.arr(latencies.toSeq.map(r => Json.num(r.wallS))),
      "query_s" -> Json.obj(latencies.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, rs) =>
        q -> Json.arr(rs.map(r => Json.num(r.wallS))) }),
      "check_s" -> Json.num(checkS),
      "run_s" -> Json.num(secs(tStart)),
      "peak_heap_mb" -> Json.num(peakHeapMb),
      "attempted" -> Json.num(attempted),
      "failed_runs" -> Json.num(failedRuns),
      "failures" -> Json.obj(bench.failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "reset_violations" -> Json.num(bench.resetViolations),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      // per query, the median over traced passes of its build, exec, job,
      // task and gap figures
      "query_layers" -> Json.obj(queries.map(_._1).filter(q => queryRows.nonEmpty && queryRows.forall(_.contains(q))).map { q =>
        q -> Json.obj(queryRows.headOption.map(_(q).keys.toSeq.sorted).getOrElse(Nil).map { k =>
          k -> Json.num(median(queryRows.map(_(q)(k)).toSeq)) }) })))
    Files.write(Paths.get(s"$out/result.json"), result.getBytes(UTF_8))
    if (traced) Files.write(Paths.get(s"$out/spans.json"), Json.arr(spans.toSeq.map(s => Json.obj(Seq(
      "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "kind" -> Json.str(s.kind),
      "name" -> Json.str(s.name), "start" -> Json.num(s.start), "end" -> Json.num(s.end))))).getBytes(UTF_8))
    spark.stop()
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN) "null" else if (d.isPosInfinity) "1e308" else if (d.isNegInfinity) "-1e308" else d.toString
  def num(i: Int): String = i.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
