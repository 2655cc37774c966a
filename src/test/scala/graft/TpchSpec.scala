package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Tpch
import TestSpark.{jobs, spark}

/** The loader's reads: schemas from one footer on the driver, and the
  * property graph in one Spark job. */
class TpchSpec extends AnyFunSuite {

  private val root = "/root/testdata"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def withShareScans[A](body: => A): A = {
    val prev = Tpch.shareScans
    Tpch.shareScans = true
    try body finally Tpch.shareScans = prev
  }

  test("readParquet: the footer schema equals Spark's inferred one, files and directories") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      val p = s"$root/$sf/$t.parquet"
      assert(Tpch.readParquet(spark, p).schema === spark.read.parquet(p).schema, p)
    }
    // a directory written by Spark: its schema rides in the footer's row metadata
    val dir = Files.createTempDirectory("graft_footer_schema").resolve("t").toString
    spark.range(6).selectExpr("id", "timestamp_micros(id * 1000003) AS ts",
        "CAST(id / 7 AS DECIMAL(12, 4)) AS d", "array(id, id + 1) AS xs",
        "CAST(id AS STRING) AS s")
      .repartition(3).write.parquet(dir)
    val read = Tpch.readParquet(spark, dir)
    assert(read.schema === spark.read.parquet(dir).schema)
    assert(read.collect().toSet === spark.read.parquet(dir).collect().toSet)
  }

  test("readParquet: a directory with no data file at its top level names the path") {
    val empty = Files.createTempDirectory("graft_no_data")
    Files.createFile(empty.resolve("_SUCCESS"))
    Files.createFile(empty.resolve(".hidden.parquet"))
    val e = intercept[IllegalArgumentException](Tpch.readParquet(spark, empty.toString))
    assert(e.getMessage.contains(empty.toString))
  }

  test("events: nanosecond ts is read as its raw long and µs-truncated; the session conf is untouched") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("graft_nanos_events").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), new Configuration())).withType(schema).build()
    try nanos.zipWithIndex.foreach { case (n, i) =>
      w.write(groups.newGroup().append("user_id", i.toLong).append("ts", n))
    } finally w.close()

    val before = spark.conf.getOption(key)
    val ts = Tpch.events(spark, dir).orderBy("user_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(ts === nanos.map(_ / 1000))
    assert(spark.conf.getOption(key) === before)
  }

  test("load: one Spark job fills the edge cache and counts every label; a table read starts none") {
    val dir = s"$root/sf0.001"
    withShareScans {
      // a session of its own, so nothing of it is cached yet
      val s = spark.newSession()
      try {
        assert(jobs(Tpch.table(s, dir, "supplier"))._2 === 0)
        val (g, loadJobs) = jobs(Tpch.load(s, dir))
        assert(loadJobs === 1)
        val expected = g.edges.groupBy("label").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(expected.size === 7)
        expected.foreach { case (l, n) => assert(g.labelRows(Seq(l)) === Some(n), l) }
        assert(g.labelRows(Nil) === Some(expected.values.sum))
      } finally {
        Tpch.load(s, dir).edges.unpersist()
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
          .foreach(Tpch.table(s, dir, _).unpersist())
      }
    }
    // without scan sharing a read is lazy too
    assert(jobs(Tpch.table(spark, dir, "lineitem"))._2 === 0)
  }
}
