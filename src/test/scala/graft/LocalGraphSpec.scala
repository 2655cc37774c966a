package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.LocalGraph
import TestSpark.{jobs, withReplayLimit}

/** The driver graph's own contract: what the replay parity specs only see
  * through their answers. */
class LocalGraphSpec extends AnyFunSuite {

  private def lists(g: LocalGraph, c: LocalGraph.Csr): Map[Long, Seq[Long]] =
    g.ids.indices.map(u => g.ids(u) -> (c.off(u) until c.off(u + 1)).map(k => g.ids(c.adj(k))))
      .toMap

  test("dense index in id order; out/in keep duplicates and self-loops, sym drops them") {
    // a duplicate edge, a self-loop, both orientations of one pair, and an
    // extra id (7) on no edge
    val g = LocalGraph(Iterator((30L, 10L), (30L, 10L), (10L, 20L), (20L, 20L), (20L, 10L),
      (-5L, 30L)), Seq(7L, 20L))
    assert(g.ids.toSeq === Seq(-5L, 7L, 10L, 20L, 30L))
    assert(g.ids.indices.forall(i => g.index(g.ids(i)) === i))
    assert(g.index(8L) === -1)
    assert(lists(g, g.out) === Map(-5L -> Seq(30L), 7L -> Nil, 10L -> Seq(20L),
      20L -> Seq(10L, 20L), 30L -> Seq(10L, 10L)))
    assert(lists(g, g.in) === Map(-5L -> Nil, 7L -> Nil, 10L -> Seq(20L, 30L, 30L),
      20L -> Seq(10L, 20L), 30L -> Seq(-5L)))
    assert(lists(g, g.sym) === Map(-5L -> Seq(30L), 7L -> Nil, 10L -> Seq(20L, 30L),
      20L -> Seq(10L), 30L -> Seq(-5L, 10L)))
  }

  test("dfs: pre/post order with successors in id order, on a diamond and a cycle") {
    def orders(pairs: Seq[(Long, Long)], root: Long): (Seq[Long], Seq[Long]) = {
      val g = LocalGraph(pairs.iterator)
      val (pre, post) = g.dfs(g.index(root))
      (pre.toSeq.map(g.ids), post.toSeq.map(g.ids))
    }
    // edges listed against id order: 1 -> {3, 2}, both -> 4
    assert(orders(Seq((1L, 3L), (1L, 2L), (3L, 4L), (2L, 4L)), 1L) ===
      ((Seq(1L, 2L, 4L, 3L), Seq(4L, 2L, 3L, 1L))))
    // cycle 1 -> 3 -> 2 -> 1, plus 2 -> 4; the walk stops at the seen root
    assert(orders(Seq((1L, 3L), (3L, 2L), (2L, 1L), (2L, 4L)), 3L) ===
      ((Seq(3L, 2L, 1L, 4L), Seq(1L, 4L, 2L, 3L))))
  }

  test("collect: a null endpoint or a null id gives None") {
    val spark = TestSpark.spark
    import spark.implicits._
    val es = Seq((1L, Some(2L)), (2L, Some(3L))).toDF("src", "dst")
    val ids = Seq(Some(1L), Some(5L)).toDF("id")
    val Some((g, Seq(got))) = LocalGraph.collect(es, 10L, ids -> 10L)
    assert(g.ids.toSeq === Seq(1L, 2L, 3L, 5L) && got.toSeq === Seq(1L, 5L))
    assert(LocalGraph.collect(es, 1L).isEmpty) // past the limit
    assert(LocalGraph.collect(Seq((1L, Some(2L)), (2L, None)).toDF("src", "dst"), 10L).isEmpty)
    assert(LocalGraph.collect(es, 10L, Seq(Some(1L), None).toDF("id") -> 10L).isEmpty)
  }

  test("replayLimit: the session key overrides every default; a bad value names the key") {
    val spark = TestSpark.spark
    val key = LocalGraph.ReplayLimitKey
    assert(LocalGraph.replayLimit(spark, 7L) === 7L)
    assert(withReplayLimit(0L)(LocalGraph.replayLimit(spark, 7L)) === 0L)
    assert(withReplayLimit(Long.MaxValue)(LocalGraph.replayLimit(spark, 7L)) === Long.MaxValue)
    for (bad <- Seq("-1", "2M", "")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](LocalGraph.replayLimit(spark, 7L))
        assert(e.getMessage.contains(key), bad)
      } finally spark.conf.unset(key)
    }
    assert(LocalGraph.replayLimit(spark, 7L) === 7L)
  }

  test("collectAtMost: one job over every partition; None only past the limit") {
    val spark = TestSpark.spark
    val parts = 4 * spark.sparkContext.defaultParallelism + 1
    // 10 rows per task, checkpointed as the replays' inputs are: the
    // planner knows no row count for it
    val frame = spark.range(0, 10L * parts, 1, parts).toDF().localCheckpoint()
    def ids(rows: Option[Array[InternalRow]]) = rows.map(_.toSeq.map(_.getLong(0)))
    assert(jobs(ids(LocalGraph.collectAtMost(frame, 10L * parts))) ===
      ((Some(0L until 10L * parts), 1)))
    // over the limit, though no task alone is
    assert(jobs(LocalGraph.collectAtMost(frame, 10L * parts - 1)) === ((None, 1)))
    // one task alone over the limit
    assert(LocalGraph.collectAtMost(spark.range(0, 100, 1, 1).toDF(), 99L).isEmpty)
    assert(ids(LocalGraph.collectAtMost(spark.range(0, 0, 1, parts).toDF(), 5L)) === Some(Nil))
    assert(LocalGraph.collectAtMost(frame, -1L).isEmpty)
    // a failing query is never "past the guard"
    val failing = frame.select(expr("if(id = 5, raise_error('collect-spec boom'), id)"))
    val e = intercept[Exception](LocalGraph.collectAtMost(failing, 10L * parts))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("collect-spec boom")))
  }
}
