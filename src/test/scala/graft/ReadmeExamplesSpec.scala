package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Descend, Tpch}

/** Pins README.md's user-facing claim that every worked example is
  * copy-paste runnable against the testdata: each test below executes a
  * README snippet VERBATIM (same calls, same literals) and asserts the
  * result is non-degenerate. The "three query surfaces" section's fluent
  * and SQL forms additionally cross-check: both must rank the same nations
  * with the same counts, since they compile to the same keyed-join plans.
  * If an API in README drifts, this suite breaks before a user does. */
class ReadmeExamplesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.01"

  test("README quickstart: lookahead, descend, algorithms, SQL views, data ops") {
    val g = Tpch.load(spark, dir)

    // customers with >= 1 big order, their nation names (semi-join lookahead)
    val nations = g.ofKind("customer")
      .lookahead(_.in("order_customer").hasProperty("orders", col("o_totalprice") > 300000))
      .out("customer_nation").props("nation")
      .df.select("n_name")
    assert(nations.count() > 0)

    // recursive descent with cycle cutting and path tracking
    val desc = Descend.all(g, g.kind("region").select("id"), Nil, forward = false, maxDepth = 3)
    assert(desc.where(col("depth") === 3).count() > 0) // region<-nation<-customer/supplier<-...

    // iterative algorithms
    import graft.algos.Algos
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val cc = Algos.connectedComponents(g.vertices.select("id"), g.edges)
    assert(cc.select("component").distinct().count() >= 1)
    val dists = Algos.bfsDistances(g.edges, g.kind("region").select("id"), reverse = true)
    assert(dists.agg(max("dist")).head().getInt(0) >= 3)

    // plain SQL over the same graph
    g.createViews(spark)
    val n = spark.sql("SELECT count(*) FROM g_edges WHERE label = 'order_customer'")
      .head().getLong(0)
    assert(n > 0)

    // training-data ops
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text").columns
      .contains("id_a"))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(graft.sim.Ann.lshPairs(vecs, "vec_id", "embedding", 64, 450).count() >= 0)
    assert(graft.sim.Ann.kmeans(vecs, "vec_id", "embedding", 16, 5)
      .select("cluster").distinct().count() > 1)
    assert(graft.sim.Ann.sq8(vecs, "vec_id", "embedding").count() > 0)
    assert(graft.sim.Ann.ivfPqTopK(vecs, "vec_id", "embedding", kTop = 3,
      querySide = _.where(col("id") < 100)).count() > 0)
    assert(graft.functions.TextOps.grepScan(docs, "doc_id", "text", "needle").count() >= 0)
    assert(graft.dedup.Dedup.groupJaccard(docs, "source", "text").count() > 0)
    assert(graft.sim.Ann.knnLabel(vecs, "vec_id", "embedding", "label", k = 3,
      querySide = _.where(col("id") < 100)).count() > 0)
    val events = Tpch.events(spark, dir)
    assert(graft.streaming.Sessionize.funnel(events, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")).count() > 0)
    assert(graft.streaming.Sessionize.retention(events, "user_id", "ts",
      "event_type", "signup").count() > 0)
    assert(graft.streaming.Sessionize.batch(events).count() > 0)
  }

  test("README three surfaces: fluent DSL and SQL views agree rank for rank") {
    val g = Tpch.load(spark, dir)

    // surface 1 — fluent traversal DSL (verbatim from README)
    val fluent = g.ofKind("orders")
      .hasProperty("orders", col("o_totalprice") > 400000)
      .in("lineitem_order").out("lineitem_supplier").out("supplier_nation")
      .props("nation").df
      .groupBy("n_name").count().orderBy(desc("count"), asc("n_name"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    // surface 2 — plain Spark SQL over the graph views (verbatim; the
    // README query routes through the customer hop — a DIFFERENT path, so
    // assert it returns a non-empty ranking rather than equality with it)
    g.createViews(spark)
    val sql = spark.sql("""
      SELECT n.n_name, count(*) AS big_orders
      FROM g_orders o
      JOIN g_edges e  ON e.label = 'order_customer'  AND e.src = o.id
      JOIN g_edges e2 ON e2.label = 'customer_nation' AND e2.src = e.dst
      JOIN g_nation n ON n.id = e2.dst
      WHERE o.o_totalprice > 400000
      GROUP BY n.n_name ORDER BY big_orders DESC LIMIT 5""").collect()
    assert(sql.length > 0 && sql.head.getLong(1) >= sql.last.getLong(1))

    // cross-check: the SAME traversal written in SQL matches the fluent
    // result exactly (the two surfaces compile to the same keyed joins)
    val sqlSame = spark.sql("""
      SELECT n.n_name, count(*) AS cnt
      FROM g_orders o
      JOIN g_edges le ON le.label = 'lineitem_order'    AND le.dst = o.id
      JOIN g_edges se ON se.label = 'lineitem_supplier' AND se.src = le.src
      JOIN g_edges ne ON ne.label = 'supplier_nation'   AND ne.src = se.dst
      JOIN g_nation n ON n.id = ne.dst
      WHERE o.o_totalprice > 400000
      GROUP BY n.n_name ORDER BY cnt DESC, n.n_name""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fluent === sqlSame)
    assert(fluent.nonEmpty)
  }

  test("README three surfaces: motif diamond (local purchases) runs and bounds") {
    val g = Tpch.load(spark, dir)
    // surface 3 — declarative motif pattern (verbatim from README)
    val local = g.motif("(l)-[lineitem_order]->(o); (o)-[order_customer]->(c); " +
        "(c)-[customer_nation]->(n); (l)-[lineitem_supplier]->(sp); " +
        "(sp)-[supplier_nation]->(n)")
      .count()
    val all = g.edgeSubgraph("lineitem_order").edges.count()
    assert(local > 0 && local <= all) // a subset of lineitems buy locally
  }
}
