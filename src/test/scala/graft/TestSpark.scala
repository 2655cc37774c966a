package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.algos.LocalGraph

/** The one test session every suite shares, and the helpers that act on it. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `body` with every replay guard of the session at `n` (0 forces each
    * operator's distributed branch). A Dataset result is materialized
    * inside, so nothing of it reads the limit after the previous value is
    * restored. */
  def withReplayLimit[T](n: Long)(body: => T): T = {
    val key = LocalGraph.ReplayLimitKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n)
    try (body match {
      case ds: Dataset[_] => ds.localCheckpoint(eager = true)
      case other => other
    }).asInstanceOf[T]
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the Spark jobs it ran, counted in a job group of
    * its own; a sentinel job in another group flushes the listener bus,
    * which delivers events in order. */
  def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "counted-spec" => started.incrementAndGet()
          case "counted-spec-sentinel" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted-spec", "counted-spec")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup("counted-spec-sentinel", "counted-spec-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS))
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
