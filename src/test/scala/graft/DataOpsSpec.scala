package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.sim.Ann
import graft.streaming.Sessionize

/** LLM-data-pipeline operators: planted near-duplicates, LSH recall against
  * the exact baseline, stateful streaming sessionization. */
class DataOpsSpec extends AnyFunSuite {
  lazy implicit val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
  val nearDup = base.replace("lazy", "sleepy") // high word-3-gram overlap
  val unrelated = "completely different content about spark clusters and shuffles " * 4

  lazy val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
    .toDF("doc_id", "text")

  test("cosinePairs: query member on EITHER side; decimal threshold survives big norms") {
    import graft.sim.Ann
    // v1 ~ v3 (cosine 1), v2 orthogonal-ish; components of magnitude 100 =>
    // nq ~ 2e10 per vector: the old pure-long cross-multiplication of
    // 10^6*dot^2 vs t2*na*nb overflows Long here (norm >> 1.75)
    val vecs = Seq(
      (1L, Array.fill(64)(100.0f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 100.0f else -100.0f)),
      (3L, Array.fill(64)(100.0f)))
      .toDF("vec_id", "embedding")
    // querySide keeps only the HIGHEST id (3): the (1,3) pair's query member
    // has the higher id, which the one-sided id_a < id_b join used to drop
    val pairs = Ann.cosinePairs(vecs, "vec_id", "embedding", tauPm = 900,
        querySide = _.where(col("id") === 3L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L)))
    // identity querySide: each unordered pair exactly once
    val all = Ann.cosinePairs(vecs, "vec_id", "embedding", tauPm = 900)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(all.size === all.toSet.size && all.toSet === Set((1L, 3L)))
  }

  test("scrubPii redacts emails and phone shapes, leaves clean text intact") {
    import graft.functions.TextOps
    val rows = Seq(
      (1L, "write to bob.jones+spam@mail.example.org today"),
      (2L, "call +1 (415) 555-0173 or 415-555-0199 now"),
      (3L, "no pii here at all"),
      (4L, "mixed: a@b.io then 020 7946 0958 done"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"), TextOps.scrubPii(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "write to <EMAIL> today")
    assert(out(2L) === "call <PHONE> or <PHONE> now")
    assert(out(3L) === "no pii here at all")
    assert(out(4L) === "mixed: <EMAIL> then <PHONE> done")
  }

  test("groupJaccard: hand-traced matrix, zero-overlap pairs absent, replay parity") {
    // k=1 fixture (shingles = distinct words): A={x,y,z,w}, B={y,z,q}, C={p}
    // A∩B={y,z} -> sim 2/5 = 4000 bp; C overlaps nothing -> no C pair rows
    val fix = Seq(("A", "x y z"), ("A", "y w"), ("B", "y z q"), ("C", "p p p"))
      .toDF("source", "text")
    val m = Dedup.groupJaccard(fix, "source", "text", k = 1)
      .as[(String, String, Long, Long)].collect().toSet
    assert(m === Set(("A", "B", 2L, 4000L)))
    // full-table replay parity at k=3: engine matrix == driver-side exact
    // Jaccard over the engine's own shingle sets (gram-join correctness is
    // what's under test; shingle semantics are the minhash oracles' job)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sets = docs.select(col("source"),
        graft.functions.NativeOps.wordShingles(col("text"), 3).as("sh"))
      .as[(String, Array[String])].collect()
      .groupBy(_._1).map { case (g, rows) => g -> rows.flatMap(_._2).toSet }
    val expected = (for {
      (ga, sa) <- sets; (gb, sb) <- sets if ga < gb
      c = (sa & sb).size.toLong if c > 0
    } yield (ga, gb, c, c * 10000L / (sa.size + sb.size - c))).toSet
    val got = Dedup.groupJaccard(docs, "source", "text", k = 3)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("grepIndexed equals the ground-truth contains scan on every pattern class") {
    import graft.functions.TextOps
    // doc 20 holds ALL of "abcdef"'s trigrams (abc,bcd,cde,def) scattered —
    // the prefilter admits it, the exact verify must reject it; doc 23 has
    // null text (absent from index AND from the scan — null contains =
    // null); doc 24 matches at the very start/end boundaries.
    val corpus = Seq(
      (20L, "abcd cdef"), (21L, "abcdef yes"), (22L, "nothing here"),
      (23L, null.asInstanceOf[String]), (24L, "abcdef")).toDF("doc_id", "text")
    val idx = TextOps.trigramIndex(corpus, "doc_id", "text")
    for (pat <- Seq("abcdef", "abc", "cdef", "aaa", "nothing here", "zzz")) {
      val viaIndex = TextOps.grepIndexed(idx, corpus, "doc_id", "text", pat)
        .as[Long].collect().toSet
      val viaScan = TextOps.grepScan(corpus, "doc_id", "text", pat)
        .as[Long].collect().toSet
      assert(viaIndex === viaScan, s"index path diverged from scan on '$pat'")
    }
    // the scattered-trigram doc is a candidate the verify rejected
    assert(TextOps.grepIndexed(idx, corpus, "doc_id", "text", "abcdef")
      .as[Long].collect().toSet === Set(21L, 24L))
    // short patterns have no trigram key: grepIndexed refuses, grepScan works
    assertThrows[IllegalArgumentException](
      TextOps.grepIndexed(idx, corpus, "doc_id", "text", "ab"))
    assert(TextOps.grepScan(corpus, "doc_id", "text", "ab")
      .as[Long].collect().toSet === Set(20L, 21L, 24L))
  }

  test("grepMany equals per-pattern grepIndexed; short patterns drop; one-pass over patterns table") {
    import graft.functions.TextOps
    val corpus = Seq(
      (20L, "abcd cdef"), (21L, "abcdef yes"), (22L, "nothing here"),
      (23L, null.asInstanceOf[String]), (24L, "abcdef")).toDF("doc_id", "text")
    val idx = TextOps.trigramIndex(corpus, "doc_id", "text")
    val patSeq = Seq("abcdef", "abc", "cdef", "aaa", "nothing here", "zzz")
    val pats = (patSeq ++ Seq("ab", "abcdef" /* dup must not double rows */))
      .toDF("pattern")
    val got = TextOps.grepMany(idx, corpus, "doc_id", "text", pats)
      .as[(String, Long)].collect().toSet
    val expected = patSeq.flatMap { pat =>
      TextOps.grepIndexed(idx, corpus, "doc_id", "text", pat)
        .as[Long].collect().map(pat -> _)
    }.toSet
    assert(got === expected, "one-pass batch grep must equal per-pattern grepIndexed")
    assert(!got.exists(_._1 == "ab"), "sub-trigram patterns must drop")
  }

  test("boilerplateGrams finds repeated furniture; stripBoilerplate removes every occurrence") {
    import graft.functions.TextOps
    val boiler = "subscribe to our newsletter now"
    // the per-doc token $i sits within k-1 tokens of the boiler boundary, so
    // every boundary-crossing 5-gram is doc-unique; only the boiler survives
    val corpus = (1L to 6L).map(i => (i, s"unique body filler words $i $boiler"))
      .toDF("doc_id", "text")
      .unionByName(Seq((7L, "free standing document")).toDF("doc_id", "text"))
    val grams = TextOps.boilerplateGrams(corpus, "doc_id", "text", k = 5, minDf = 6L)
    assert(grams.select("gram").as[String].collect().toSet === Set(boiler))
    // broadcast-strip: the gram vanishes from every doc, bodies untouched
    val stripped = TextOps.stripBoilerplate(corpus, "doc_id", "text", grams)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert((1L to 6L).forall(i => stripped(i) === s"unique body filler words $i "))
    assert(stripped(7L) === "free standing document")
  }

  test("contamination finds external probes sharing a corpus doc's id") {
    import graft.dedup.Dedup
    val doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((7L, doc), (8L, "totally unrelated words here now then")).toDF("doc_id", "text")
    val probes = Seq((7L, doc)).toDF("doc_id", "text") // benchmark file reusing id 7
    // excludeSameId=true (the probes-from-corpus mode) hides the hit...
    assert(Dedup.contamination(corpus, probes, "doc_id", "text", minShared = 3L).count() === 0)
    // ...external-probe mode must flag it
    val hit = Dedup.contamination(corpus, probes, "doc_id", "text",
      minShared = 3L, excludeSameId = false).select("doc_id", "probe_id")
      .as[(Long, Long)].collect().toSet
    assert(hit === Set((7L, 7L)))
  }

  test("Corpus.hashSample is partition-insensitive; packBins chunks by preceding cumsum") {
    import graft.pipeline.Corpus
    import graft.functions.TextOps
    val corpus = (1L to 400L).map(i => (i, "tok " * (i % 7 + 1).toInt)).toDF("doc_id", "text")
    val a = Corpus.hashSample(corpus, col("doc_id"), 4).select("doc_id").as[Long].collect().toSet
    val b = Corpus.hashSample(corpus.repartition(7), col("doc_id"), 4)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b && a.nonEmpty)
    assert(a.size > 40 && a.size < 160, s"~25% sample expected, got ${a.size}/400")
    val toks = corpus.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n"))
    val packed = Corpus.packBins(toks, "doc_id", "n", targetTokens = 10L, shards = 4)
      .select("shard", "doc_id", "n", "bin").as[(Long, Long, Long, Long)].collect()
    assert(packed.length === 400)
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, bin) =>
        assert(bin === cum / 10L); cum += n
      }
    }
  }

  test("Corpus.tokenBudget equals the one-big-window definition at every boundary regime") {
    import graft.pipeline.Corpus
    import org.apache.spark.sql.expressions.Window
    // 5 score groups × 60 docs, token sizes 1..9 — budgets below probe the
    // all-fit, exact-group-boundary, mid-group, and mid-bucket regimes
    val df = (1L to 300L).map(i => (i, (i % 5) * 100L, i % 9 + 1L))
      .toDF("doc_id", "score", "n_tok")
    val w = Window.orderBy(col("score").desc,
        substring(md5(col("doc_id").cast("string")), 1, 4).asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def brute(b: Long): Set[Long] =
      df.withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .where(col("prev") < b).select("doc_id").as[Long].collect().toSet
    for (b <- Seq(0L, 1L, 7L, 123L, 301L, 800L, 1499L, 100000L)) {
      val got = Corpus.tokenBudget(df, "doc_id", "score", "n_tok", b)
        .select("doc_id").as[Long].collect()
      assert(got.length === got.toSet.size, s"budget $b produced duplicates")
      assert(got.toSet === brute(b), s"budget $b")
    }
    // budget landing exactly on a score-group boundary: 50 unit-token docs
    // per score — prev < 50 keeps exactly the high-score group
    val unit = (1L to 100L).map(i => (i, (i % 2) * 10L, 1L)).toDF("doc_id", "score", "n_tok")
    val kept = Corpus.tokenBudget(unit, "doc_id", "score", "n_tok", 50L)
      .select("score").as[Long].collect()
    assert(kept.length === 50 && kept.forall(_ === 10L))
  }

  test("Corpus.curriculumBuckets: exact CDF deciles, ties never split across buckets") {
    import graft.pipeline.Corpus
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 200L).map(i => (i, (i % 13) * (i % 7))).toDF("doc_id", "score")
    val got = Corpus.curriculumBuckets(df, "doc_id", "score", buckets = 10)
      .select("doc_id", "score", "bucket").as[(Long, Long, Long)].collect()
    assert(got.length === 200)
    // reference: bucket = (10 · |{score' < score}|) div N via a range frame
    val w = Window.orderBy(col("score")).rangeBetween(Window.unboundedPreceding, -1)
    val ref = df.withColumn("lt", count(lit(1)).over(w))
      .withColumn("bucket", expr("(lt * 10) div 200"))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    got.foreach { case (id, _, b) => assert(b === ref(id), s"doc $id") }
    // equal scores share a bucket; buckets are monotone in score
    val byScore = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    byScore.foreach { case (s, bs) => assert(bs.size === 1, s"score $s split $bs") }
    val mono = byScore.toSeq.sortBy(_._1).map(_._2.head)
    assert(mono === mono.sorted)
    assert(got.map(_._3).min === 0L && got.map(_._3).max <= 9L)
    // all-equal scores land in one bucket 0
    val flat = (1L to 40L).map((_, 7L)).toDF("doc_id", "score")
    assert(Corpus.curriculumBuckets(flat, "doc_id", "score", 10)
      .select("bucket").as[Long].collect().toSet === Set(0L))
  }

  test("exact dedup groups identical texts") {
    val ex = Dedup.exact(docs, "doc_id", "text").where(col("n") > 1).collect()
    assert(ex.length === 1 && ex.head.getAs[Long]("keep_id") === 1L)
  }

  test("incrementalExact folds to full-corpus exact when batch order is id order") {
    val b1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
    val b2 = Seq((4L, "bb"), (5L, "cc"), (6L, "cc"), (7L, "aa")).toDF("doc_id", "text")
    val (k1, s1) = Dedup.incrementalExact(b1, "doc_id", "text", Dedup.emptyStore(spark))
    val (k2, s2) = Dedup.incrementalExact(b2, "doc_id", "text", s1)
    // against the empty store, batch 1 keeps its own exact survivors
    assert(k1.select("keep_id").as[Long].collect().toSet === Set(1L, 2L))
    // batch 2: recrawled content ("bb", "aa") is dropped — the PRIOR corpus
    // wins; the genuinely new "cc" keeps its within-batch min id with n=2
    val kept2 = k2.select("keep_id", "n").as[(Long, Long)].collect()
    assert(kept2.toSeq === Seq((5L, 2L)))
    // the fold law: the updated store is exactly the full-corpus exact
    // fingerprint set (batch order agrees with id order here)
    val full = Dedup.exact(b1.unionByName(b2), "doc_id", "text")
      .select("h", "keep_id").as[(String, Long)].collect().toSet
    assert(s2.as[(String, Long)].collect().toSet === full)
    // NULL text is ONE dedup group across batches (exact()'s '' sentinel
    // keeps its key non-null, so the plain anti join applies to it too):
    // batch 1's null doc wins, batch 2's null doc is a recrawl and drops —
    // and the store carries exactly one ''-h row, same as full-corpus
    val n1 = Seq((1L, "aa"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val n2 = Seq((3L, null.asInstanceOf[String]), (4L, "aa"), (5L, "dd")).toDF("doc_id", "text")
    val (nk1, ns1) = Dedup.incrementalExact(n1, "doc_id", "text", Dedup.emptyStore(spark))
    val (nk2, ns2) = Dedup.incrementalExact(n2, "doc_id", "text", ns1)
    assert(nk1.select("keep_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(nk2.select("keep_id").as[Long].collect().toSet === Set(5L))
    val nFull = Dedup.exact(n1.unionByName(n2), "doc_id", "text")
      .select("h", "keep_id").as[(String, Long)].collect().toSet
    assert(ns2.as[(String, Long)].collect().toSet === nFull)
    assert(ns2.where(col("h") === "").count() === 1L)
    assert(ns2.where(col("h").isNull).count() === 0L)
  }

  test("ngram jaccard finds the planted near-dup, not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minBp = 5000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH detects the same near-dups via band buckets") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", k = 3, minBp = 5000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical: all bands collide
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("contamination screen flags probe-overlapping docs via a broadcast join") {
    val probes = Seq((100L, base)).toDF("doc_id", "text")
    val hits = Dedup.contamination(docs, probes, "doc_id", "text", k = 3, minShared = 5L)
    val flagged = hits.select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(1L, 2L, 4L)) // exact copy + near-dup; unrelated passes
    // the corpus side must NOT shuffle: probe shingles broadcast
    assert(hits.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("dedup clusters: transitive near-dups share one keeper") {
    // 1~2 and 1~4 are near-dups => cluster {1,2,4} keeps 1; 3 is singleton
    val rows = Dedup.clusters(docs, "doc_id", "text", k = 3, minBp = 5000)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) === ((1L, 1)) && rows(2L) === ((1L, 0)) && rows(4L) === ((1L, 0)))
    assert(rows(3L) === ((3L, 1)))
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated absent") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 6)
      .as[(Long, Long, Int)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(pairs(( 1L, 4L)) === 0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH ANN pairs are a subset of exact cosine pairs, with recall > 0") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Ann.cosinePairs(vecs, "vec_id", "embedding", tauPm = 450)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshPairs(vecs, "vec_id", "embedding", dim = 64, tauPm = 450)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty && lsh.nonEmpty)
    // the ORACLED parameterization (16 two-bit bands) must be
    // recall-complete: bucketed result == brute result, pair for pair
    val full = Ann.lshPairs(vecs, "vec_id", "embedding", dim = 64, tauPm = 450,
        numBits = 32, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("bruteTopK ranks by exact integer cosine with id tie-break") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val top = Ann.bruteTopK(vecs, "vec_id", "embedding", k = 2, _.where(col("id") === 1), dim = 2)
      .select("id_n", "rn").as[(Long, Int)].collect().toSet
    assert(top === Set((2L, 1), (4L, 2))) // equal scores -> id ascending
  }

  test("native LongArrayDot matches the zip_with reference implementation") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(round(x*1000) as bigint))").as("q"))
    val both = vecs.select(
      graft.functions.NativeOps.longArrayDot(col("q"), col("q")).as("native"),
      expr("aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (a, v) -> a + v)").as("ref"))
    assert(both.where(col("native") =!= col("ref")).count() === 0)
    assert(both.where(col("native") <= 0).count() === 0)
  }

  test("native SortedIntersectCount matches size(array_intersect) on sorted sets") {
    val rows = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("a")),
      (Seq[String](), Seq("a", "b")),
      (Seq("aa", "ab", "b"), Seq("ab", "ba")),
      ((1 to 50).map(i => f"s$i%03d"), (25 to 80).map(i => f"s$i%03d"))
    ).toDF("x", "y")
      .select(array_sort(col("x")).as("x"), array_sort(col("y")).as("y"))
    val got = rows.select(
      graft.functions.NativeOps.sortedIntersectCount(col("x"), col("y")).as("n"),
      size(array_intersect(col("x"), col("y"))).cast("long").as("ref"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, ref) => assert(n === ref) }
  }

  test("native HyperplaneSig matches the declarative per-plane formulation") {
    val dim = 64; val numBits = 16
    val qd = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .localCheckpoint(false)
    val ws = Ann.planeWeights(dim, numBits)
    val declarative = qd.select(col("vec_id"), (0 until numBits).map { p =>
        val proj = expr(s"aggregate(zip_with(q, array(${ws(p).mkString(",")}), (x, w) -> x * w), 0L, (acc, v) -> acc + v)")
        when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as("sig"))
      .as[(Long, Long)].collect().toMap
    val native = qd.select(col("vec_id"),
        graft.functions.NativeOps.hyperplaneSig(col("q"), ws).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(native === declarative)
  }

  test("native MinHashSigs matches the declarative per-permutation formulation") {
    val M = org.apache.spark.sql.graft.MinHashSigs.MersennePrime
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hashed = docs.select(col("doc_id"),
        expr(s"transform(filter(split(text, ' '), t -> length(t) > 0), x -> pmod(xxhash64(x), ${M}L))").as("hs"))
      .where(size(col("hs")) > 0)
      .localCheckpoint(false)
    val declarative = hashed.select(col("doc_id"), array((0 until 16).map { i =>
        val a = (0x9E3779B9L * (2 * i + 1)) % M
        val b = (0xC2B2AE3DL * (i + 1)) % M
        array_min(transform(col("hs"), h => pmod(h * lit(a) + lit(b), lit(M))))
      }: _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = hashed.select(col("doc_id"),
        graft.functions.NativeOps.minhashSigs(col("hs"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native === declarative)
  }

  test("SimHashAgg matches the declarative 64-column formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(col("doc_id").as("id"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("t"))
      .withColumn("th", xxhash64(col("t")))
    val viaAgg = toks.groupBy("id")
      .agg(org.apache.spark.sql.graft.SimHashAgg.column(col("th")).as("s"))
      .as[(Long, Long)].collect().toMap
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("th"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val declarative = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), (0 until 64).map { j =>
        when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg === declarative)
  }

  test("streaming sessionization accumulates state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streaming(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData(Sessionize.Event(7L, t(0), 1.0), Sessionize.Event(7L, t(10), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(7L, t(120), 1.0)) // > 30min gap: new session
    q.processAllAvailable()
    val row = spark.table("sess").where(col("user_id") === 7L)
      .orderBy(col("n_events").desc).head()
    q.stop()
    assert(row.getAs[Long]("n_sessions") === 2L && row.getAs[Long]("n_events") === 3L)
  }

  test("stateful streaming runs unchanged on the RocksDB state store (large-state path)") {
    // At 100 TB-stream scale, stateful-operator state outgrows the
    // HDFS-backed in-heap provider; Spark's RocksDBStateStoreProvider
    // spills it off-heap to local disk. The engine's stateful ops are all
    // provider-agnostic by construction — prove it by replaying the
    // sessionization accumulation on RocksDB and asserting (a) identical
    // results and (b) the provider genuinely engaged (rocksdb custom
    // metrics present, not a silent fallback).
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Sessionize.Event]
      val q = Sessionize.streaming(mem.toDS(), gapSec = 1800)
        .writeStream.format("memory").queryName("sess_rocksdb").outputMode("update").start()
      def t(min: Long) = new Timestamp(min * 60000L)
      mem.addData(Sessionize.Event(7L, t(0), 1.0), Sessionize.Event(7L, t(10), 1.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(7L, t(120), 1.0)) // > 30min gap: new session
      q.processAllAvailable()
      val metrics = q.lastProgress.stateOperators.head.customMetrics
      val row = spark.table("sess_rocksdb").where(col("user_id") === 7L)
        .orderBy(col("n_events").desc).head()
      q.stop()
      assert(row.getAs[Long]("n_sessions") === 2L && row.getAs[Long]("n_events") === 3L)
      assert(metrics.keySet.toArray.exists(_.toString.startsWith("rocksdb")),
        s"no rocksdb metrics — provider fell back? keys=${metrics.keySet}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming hourly window with watermark aggregates per bucket") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingHourly(mem.toDS().toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("update").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData(Sessionize.Event(1L, t(5), 2.0), Sessionize.Event(2L, t(20), 3.0),
      Sessionize.Event(3L, t(70), 5.0))
    q.processAllAvailable()
    val rows = spark.table("hourly")
      .select(col("hour_ts"), col("n_events"), col("value_cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    q.stop()
    assert(rows(0L) === ((2L, 500L)) && rows(3600L) === ((1L, 500L)))
  }

  test("streaming graph maintenance: foreachBatch accumulates edges, traversals see updates") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_graph_stream").toFile.getAbsolutePath
    val cp = java.nio.file.Files.createTempDirectory("graft_graph_cp").toFile.getAbsolutePath
    val mem = MemoryStream[(Long, Long, String)]
    val q = mem.toDS().toDF("src", "dst", "label").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(dir) // the graph IS the edge log
      }
      .option("checkpointLocation", cp).start()
    def graph() = graft.graph.PropertyGraph(
      Map("v" -> Seq(1L, 2L, 3L).toDF("id")), spark.read.parquet(dir))
    mem.addData((1L, 2L, "knows"))
    q.processAllAvailable()
    assert(graph().from(Seq(1L).toDF("id")).out("knows").count() === 1)
    mem.addData((2L, 3L, "knows")) // next micro-batch extends the graph
    q.processAllAvailable()
    val g2 = graph()
    assert(g2.from(Seq(1L).toDF("id")).out("knows").out("knows")
      .df.select("id").as[Long].collect().toSeq === Seq(3L))
    q.stop()
  }

  test("streaming CC maintenance: foreachBatch keeps components current without replaying history") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    // state lives across batches as a checkpointed assignment frame
    var assign = Seq.empty[(Long, Long)].toDF("id", "component").localCheckpoint(true)
    val q = mem.toDS().toDF("src", "dst").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        assign = graft.algos.Algos.incrementalCC(assign, batch).localCheckpoint(true)
      }.start()
    mem.addData((1L, 2L), (3L, 4L))
    q.processAllAvailable()
    assert(assign.as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    mem.addData((2L, 3L)) // bridge: all four collapse to component 1
    q.processAllAvailable()
    q.stop()
    assert(assign.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("stream-static enrichment: streaming events join a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Sessionize.Event]
    val q = mem.toDS().toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
      .groupBy("tier").agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .writeStream.format("memory").queryName("enriched").outputMode("complete").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData(Sessionize.Event(1L, t(1), 2.0), Sessionize.Event(2L, t(2), 3.0),
      Sessionize.Event(9L, t(3), 5.0)) // 9 has no dim row -> null tier
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    q.stop()
    assert(rows(Some("gold")) === ((1L, 2.0)))
    assert(rows(Some("silver")) === ((1L, 3.0)))
    assert(rows(None) === ((1L, 5.0)))
  }

  test("event-time sessionization closes sessions as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingEventTime(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("et_sess").outputMode("append").start()
    // keep all events strictly above the initial watermark (epoch 0) — a row
    // AT the watermark is dropped as late data
    def t(min: Long) = new Timestamp((60 + min) * 60000L)
    mem.addData(Sessionize.Event(7L, t(0), 1.0), Sessionize.Event(7L, t(10), 1.0))
    q.processAllAvailable()
    assert(spark.table("et_sess").count() === 0L) // session still open
    // event 4h later: watermark (max event time - 10 min) passes
    // last(10 min) + gap(30 min) -> the first session must close
    mem.addData(Sessionize.Event(7L, t(240), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(8L, t(300), 1.0)) // push watermark again
    q.processAllAvailable()
    val rows = spark.table("et_sess")
      .select("user_id", "start_ts", "end_ts", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows.contains((7L, 3600L, 4200L, 2L)))
  }

  test("streaming dedup within watermark drops re-deliveries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val deduped = mem.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData((1L, t(0)), (2L, t(1)))
    q.processAllAvailable()
    mem.addData((1L, t(2)), (3L, t(3))) // 1 is a re-delivery
    q.processAllAvailable()
    val n = spark.table("dedup_stream").count()
    q.stop()
    assert(n === 3L)
  }

  test("IVF ANN: exact rescore subset of brute-force, with usable recall") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val brute = Ann.bruteTopK(vecs, "vec_id", "embedding", k = 3, _.where(col("id") < 100))
      .select("id_q", "id_n", "score").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Ann.ivfTopK(vecs, "vec_id", "embedding", k = 3, _.where(col("id") < 100),
        nlist = 16, nprobe = 4)
      .select("id_q", "id_n", "score").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // scores are the same exact integer cosine on both paths
    ivf.foreach { case (pair, s) => brute.get(pair).foreach(bs => assert(bs === s)) }
    val recall = ivf.keySet.intersect(brute.keySet).size.toDouble / brute.size
    assert(recall > 0.5, s"recall@3 was $recall")
  }

  test("ivfTopK: null and empty embeddings are never leaders and form no pairs") {
    val good = (2L to 41L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j * 13) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    // ids 0 and 1 are the two lowest, so both would be sampled as leaders:
    // 0 has a NULL embedding, 1 the empty untyped array() literal
    val bad = Seq(0L, 1L).toDF("vec_id")
      .select(col("vec_id"),
        when(col("vec_id") === 1L, array()).cast("array<float>").as("embedding"))
    def topk(vecs: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopK(vecs, "vec_id", "embedding", k = 3, identity, nlist = 4, nprobe = 2)
        .select("id_q", "id_n", "score", "rn").as[(Long, Long, Long, Int)].collect().toSet
    val expected = topk(good)
    assert(expected.nonEmpty)
    assert(topk(bad.unionByName(good)) === expected)
  }

  test("file-source streaming: parquet drop directory feeds the hourly window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_stream").toFile.getAbsolutePath
    val cp = java.nio.file.Files.createTempDirectory("graft_fs_cp").toFile.getAbsolutePath
    def t(min: Long) = new Timestamp(min * 60000L)
    def drop(rows: Seq[Sessionize.Event]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(dir)
    drop(Seq(Sessionize.Event(1L, t(5), 2.0), Sessionize.Event(2L, t(20), 3.0)))
    val in = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Sessionize.streamingHourly(in)
      .writeStream.format("memory").queryName("fs_hourly")
      .option("checkpointLocation", cp).outputMode("update").start()
    q.processAllAvailable()
    val first = spark.table("fs_hourly")
      .select(col("hour_ts"), col("n_events")).as[(Long, Long)]
      .collect().toMap
    assert(first(0L) === 2L)
    val lateBatch = Seq(Sessionize.Event(3L, t(30), 1.0), Sessionize.Event(4L, t(70), 4.0))
    drop(lateBatch)
    q.processAllAvailable()
    // FULL-ROW bridge: the stream's final per-hour state (update mode emits
    // one row per trigger; keep the last per hour) equals the oracled batch
    // shadow on the same events — counts AND exact cents, same schema
    // (counts and positive cents only grow within an hour, so the final
    // update-mode emission per hour is its componentwise max)
    val streamed = spark.table("fs_hourly")
      .collect().groupBy(_.getLong(0))
      .map { case (h, rs) => h -> rs.map(r => (r.getLong(1), r.getLong(2))).max }
    q.stop()
    val allEvents = Seq(Sessionize.Event(1L, t(5), 2.0), Sessionize.Event(2L, t(20), 3.0)) ++ lateBatch
    val shadow = Sessionize.hourlyWindow(allEvents.toDF())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === shadow)
  }

  test("as-of join: NULL-valued right rows still win; NULL keys match nothing; self-join dedups") {
    import graft.streaming.AsOf
    import org.apache.spark.sql.graft.AsOfJoinHelper
    // the latest right row (t=20) carries a NULL value: correct as-of
    // attribution is NULL, not the older 5.0
    val l = Seq((1L, 25L, 100L)).toDF("k", "t", "event_id")
    val r = Seq((1L, 10L, Option(5.0)), (1L, 20L, Option.empty[Double])).toDF("k", "t", "v")
    assert(AsOf.viaWindow(l, r, "k", "t", "v").select("asof_v").head().isNullAt(0))
    val cust = AsOfJoinHelper.asofJoin(l, r, "k", "t").collect()
    assert(cust.length === 1 && cust.head.isNullAt(5)) // right v is NULL
    // NULL key on either side matches nothing (no masquerading as key 0)
    val lN = Seq((Option(0L), 25L, 1L), (Option.empty[Long], 30L, 2L)).toDF("k", "t", "event_id")
    val rN = Seq((Option(0L), 10L, 7.0), (Option.empty[Long], 5L, 9.0)).toDF("k", "t", "v")
    val byId = AsOfJoinHelper.asofJoin(lN, rN, "k", "t").collect()
      .map(row => row.getLong(2) -> (if (row.isNullAt(5)) None else Some(row.getDouble(5)))).toMap
    assert(byId(1L) === Some(7.0) && byId(2L) === None)
    // self-as-of-join: right derived from the same DataFrame (duplicate
    // exprIds without dedup) — each left matches its own latest-at-or-before
    val base = Seq((1L, 10L, 2.0), (1L, 25L, 3.0)).toDF("k", "t", "v")
    val sj = AsOfJoinHelper.asofJoin(base.select("k", "t"), base, "k", "t").collect()
      .map(row => row.getLong(1) -> row.getDouble(4)).toMap
    assert(sj === Map(10L -> 2.0, 25L -> 3.0))
  }

  test("event-time sessionization: a late fragment BRIDGES instead of forcing a close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingEventTime(mem.toDS(), gapSec = 300)
      .writeStream.format("memory").queryName("ss_frag").outputMode("append").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    mem.addData(Sessionize.Event(1L, ts(3600), 1.0), Sessionize.Event(1L, ts(3700), 1.0))
    q.processAllAvailable() // watermark -> 3100 (10 min delay)
    // above-watermark event >gap BEFORE the open session: a single-open-
    // session state would close [3600,3700] NOW and could never merge it
    mem.addData(Sessionize.Event(1L, ts(3200), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(1L, ts(3350), 1.0)) // bridges the fragments
    q.processAllAvailable()
    assert(spark.table("ss_frag").count() === 0L) // nothing closed yet
    mem.addData(Sessionize.Event(2L, ts(10000), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(2L, ts(20000), 1.0)) // advance wm, fire timeout
    q.processAllAvailable()
    val rows = spark.table("ss_frag").where(col("user_id") === 1L)
      .select("start_ts", "end_ts", "n_events").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows === Set((3200L, 3700L, 4L))) // ONE merged session, as batch would give
  }

  test("stream-stream as-of join attributes LATE-arriving rights exactly") {
    import graft.streaming.AsOf
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsOf.AsOfEvent]
    val q = AsOf.streamingAsOf(mem.toDS())
      .writeStream.format("memory").queryName("ss_asof").outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    // click v=1.0 @30min, purchase id=500 @100min (same key)
    mem.addData(AsOf.AsOfEvent(7L, t(30), 0, 0L, 1.0), AsOf.AsOfEvent(7L, t(100), 1, 500L, 0.0))
    q.processAllAvailable()
    // LATE click v=2.0 @95min — above the watermark (70min), below the
    // purchase: the ONLINE-latest shortcut would have already attributed 1.0
    mem.addData(AsOf.AsOfEvent(7L, t(95), 0, 0L, 2.0))
    q.processAllAvailable()
    assert(spark.table("ss_asof").count() === 0L) // purchase not final yet
    // push the watermark past the purchase; extra batch fires the timeout
    mem.addData(AsOf.AsOfEvent(8L, t(300), 0, 0L, 9.0))
    q.processAllAvailable()
    mem.addData(AsOf.AsOfEvent(8L, t(400), 0, 0L, 9.0))
    q.processAllAvailable()
    val rows = spark.table("ss_asof")
      .select("key", "left_ts", "left_id", "asof_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.get(3)))).toSet
    q.stop()
    assert(rows === Set((7L, 6000000L, 500L, Some(2.0)))) // left_ts in millis
  }

  test("stream-stream as-of state is BOUNDED: buffered rows flush to one kept right per key") {
    // Turns the scaladoc state-bound claim (pending lefts + rights above the
    // watermark + ONE right at-or-below it, per key) into numeric evidence
    // via lastProgress.stateOperators on a long replay: 50 keys × (10 rights
    // + 5 lefts) buffer pre-watermark, then the watermark passes everything
    // and the state must collapse to exactly one row per key holding exactly
    // the LATEST right — proven both by numRowsTotal and by later lefts
    // still attributing to that right's value.
    import graft.streaming.AsOf
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsOf.AsOfEvent]
    val q = AsOf.streamingAsOf(mem.toDS())
      .writeStream.format("memory").queryName("ss_asof_bound").outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    def stateRows(): Long = q.lastProgress.stateOperators.head.numRowsTotal
    def stateBytes(): Long = q.lastProgress.stateOperators.head.memoryUsedBytes
    // phase A: everything above the (still negative) watermark — all buffered
    val phaseA = for (k <- 0L until 50L; e <- (0 to 9).map(m => AsOf.AsOfEvent(k, t(m), 0, 0L, m.toDouble)) ++
      (0 to 4).map(j => AsOf.AsOfEvent(k, t(20 + j), 1, k * 10 + j, 0.0))) yield e
    mem.addData(phaseA)
    q.processAllAvailable()
    assert(stateRows() === 50L) // one state row per key, 15 events buffered in each
    val preFlushBytes = stateBytes()
    assert(spark.table("ss_asof_bound").count() === 0L)
    // phase B: watermark jumps past every buffered event; second batch fires
    // the flush timeouts
    mem.addData(AsOf.AsOfEvent(-1L, t(1000), 0, 0L, 0.0))
    q.processAllAvailable()
    mem.addData(AsOf.AsOfEvent(-1L, t(1001), 0, 0L, 0.0))
    q.processAllAvailable()
    val emitted = spark.table("ss_asof_bound")
    assert(emitted.count() === 250L) // every left emitted exactly once
    // every left attributed to the LATEST right at-or-below it (minute 9)
    assert(emitted.select("asof_value").as[Option[Double]].collect().forall(_ === Some(9.0)))
    // the BOUND: despite 500 rights + 250 lefts having passed through, state
    // is back to one row per key — 50 data keys (one kept right each) + the
    // -1 watermark key (its rights are still above the watermark)
    assert(stateRows() === 51L)
    assert(preFlushBytes > stateBytes(),
      s"flushed state (${stateBytes()} B) must shrink below the buffered peak ($preFlushBytes B)")
    // phase C: a NEW left per key long after the flush still attributes to
    // the single kept right — the "one below the watermark" retention is
    // exactly the latest right, nothing more, nothing lost
    mem.addData((0L until 50L).map(k => AsOf.AsOfEvent(k, t(1100), 1, 90000L + k, 0.0)))
    q.processAllAvailable()
    mem.addData(AsOf.AsOfEvent(-1L, t(2000), 0, 0L, 0.0))
    q.processAllAvailable()
    mem.addData(AsOf.AsOfEvent(-1L, t(2100), 0, 0L, 0.0))
    q.processAllAvailable()
    val late = spark.table("ss_asof_bound").where(col("left_id") >= 90000L)
    assert(late.count() === 50L)
    assert(late.select("asof_value").as[Option[Double]].collect().forall(_ === Some(9.0)))
    assert(stateRows() === 51L) // no growth: emitted lefts leave state, kept rights stay
    q.stop()
  }

  test("stream-stream as-of matches the ORACLED batch as-of on the events table") {
    // Batch-shadow oracle bridge: q_asof's viaWindow path is hash-matched
    // against DuckDB's ASOF JOIN by the correctness gate; replaying the same
    // events table through the stream-stream operator and matching viaWindow
    // exactly puts the streaming tier under that same oracle, one hop
    // removed. Granularity is the streaming op's (epoch seconds).
    import graft.streaming.AsOf
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.001")
      .withColumn("t_s", expr("unix_micros(ts) div 1000000"))
      .where(col("event_type").isin("purchase", "click"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("t_s"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "t_s").agg(max(col("value")).as("click_value"))
    val expected = AsOf.viaWindow(purchases, clicks, "user_id", "t_s", "click_value")
      .select("user_id", "t_s", "event_id", "asof_click_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // replay the SAME rows through the streaming operator; one batch, so
    // nothing is watermark-late, then two dummy batches advance the
    // watermark past every purchase and fire the flush timeouts
    val replay = ev
      .select(col("user_id"), col("t_s"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        col("event_id"), col("value"))
      .collect().map(r => AsOf.AsOfEvent(r.getLong(0), new Timestamp(r.getLong(1) * 1000L),
        r.getInt(2), r.getLong(3), r.getDouble(4)))
    val mem = MemoryStream[AsOf.AsOfEvent]
    val q = AsOf.streamingAsOf(mem.toDS())
      .writeStream.format("memory").queryName("ss_asof_bridge").outputMode("append").start()
    mem.addData(replay.toSeq)
    q.processAllAvailable()
    val horizon = replay.map(_.eventTime.getTime).max
    mem.addData(AsOf.AsOfEvent(-1L, new Timestamp(horizon + 86400000L), 0, 0L, 0.0))
    q.processAllAvailable()
    mem.addData(AsOf.AsOfEvent(-1L, new Timestamp(horizon + 2 * 86400000L), 0, 0L, 0.0))
    q.processAllAvailable()
    val got = spark.table("ss_asof_bridge")
      .select("key", "left_ts", "left_id", "asof_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000L, r.getLong(2), // millis -> t_s
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    q.stop()
    assert(got.size === expected.size, s"streaming emitted ${got.size} vs batch ${expected.size}")
    assert(got === expected)
  }

  test("custom AsOfJoinExec matches the window-composed as-of join") {
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.01")
      .withColumn("t_us", unix_micros(col("ts")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("t_us"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "t_us").agg(max(col("value")).as("click_value"))
    val composed = graft.streaming.AsOf
      .viaWindow(purchases, clicks, "user_id", "t_us", "click_value")
      .select(col("event_id"), col("asof_click_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val custom = org.apache.spark.sql.graft.AsOfJoinHelper
      .asofJoin(purchases, clicks.withColumnRenamed("t_us", "t_us"), "user_id", "t_us")
      .select(col("event_id"), col("click_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(custom.size === composed.size)
    assert(custom === composed)
  }

  test("batch sessionization matches the same gap semantics") {
    def t(min: Long) = new Timestamp(min * 60000L)
    val ev = Seq((7L, t(0), 1L), (7L, t(10), 2L), (7L, t(120), 3L), (8L, t(0), 4L))
      .toDF("user_id", "ts", "event_id")
    val rows = Sessionize.batch(ev).collect().map(r =>
      r.getAs[Long]("user_id") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(rows(7L) === ((2L, 3L)) && rows(8L) === ((1L, 1L)))
  }

  test("streaming near-dup filter: band state drops re-delivered near-duplicates") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.bandVerdicts(mem.toDS())
      .writeStream.format("memory").queryName("nd_verdicts").outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData(StreamDedup.Doc(1L, t(0), base), StreamDedup.Doc(3L, t(1), unrelated))
    q.processAllAvailable()
    // next micro-batch re-delivers: 2 is a near-dup of 1, 4 an exact copy
    mem.addData(StreamDedup.Doc(2L, t(2), nearDup), StreamDedup.Doc(4L, t(3), base))
    q.processAllAvailable()
    val keep = StreamDedup.collapseVerdicts(spark.table("nd_verdicts"))
      .as[(Long, Boolean)].collect().toMap
    q.stop()
    assert(keep(1L) && keep(3L)) // first claimants pass
    assert(!keep(4L))            // exact copy: every band collides
    assert(!keep(2L))            // near-dup: >=1 band collides
  }

  test("streaming near-dup band state is BOUNDED by distinct claimed bands, not corpus size") {
    // Turns the scaladoc's "one state entry per minhash band bucket" claim
    // into numeric evidence (the stream-stream as-of treatment): state rows
    // must equal the DISTINCT band keys the corpus claims — computed
    // independently by the batch band machinery — and must NOT grow as
    // more copies of already-claimed content stream through.
    import graft.streaming.StreamDedup
    import graft.dedup.Dedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.bandVerdicts(mem.toDS())
      .writeStream.format("memory").queryName("nd_bound").outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    def stateRows(): Long = q.lastProgress.stateOperators.head.numRowsTotal
    def distinctBands(texts: Seq[String]): Long = texts.toDF("text")
      .select(explode(Dedup.bandKeyArray(col("text"), 3, 16, 4)).as("bk"))
      .distinct().count()
    // wave 1: the three distinct contents claim their buckets
    mem.addData(StreamDedup.Doc(1L, t(0), base), StreamDedup.Doc(2L, t(1), unrelated),
      StreamDedup.Doc(3L, t(2), nearDup))
    q.processAllAvailable()
    val claimed = distinctBands(Seq(base, unrelated, nearDup))
    assert(claimed >= 4L && claimed <= 12L) // sanity: bands=4 per doc, overlaps dedup
    assert(stateRows() === claimed)
    // wave 2: 30 more copies of the SAME contents — 120 band-key arrivals,
    // zero new buckets: state must not move (corpus-size independence)
    mem.addData((10L until 40L).map(i =>
      StreamDedup.Doc(i, t(i), Seq(base, unrelated, nearDup)((i % 3).toInt))): _*)
    q.processAllAvailable()
    assert(stateRows() === claimed,
      s"state grew to ${stateRows()} on re-delivered content (claimed=$claimed)")
    // wave 3: one genuinely new content adds exactly its novel buckets
    val fresh = "entirely new prose about bucketed stores and sorted runs " * 4
    mem.addData(StreamDedup.Doc(99L, t(99), fresh))
    q.processAllAvailable()
    assert(stateRows() === distinctBands(Seq(base, unrelated, nearDup, fresh)))
    q.stop()
  }

  test("streaming near-dup filter passes distinct sub-k-token docs through (batch-parity)") {
    // Docs shorter than the shingle width have NO shingles; the batch path
    // filters them out of LSH (they can never be near-dup candidates). The
    // streaming path must not collapse them onto the empty-set signature.
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.bandVerdicts(mem.toDS())
      .writeStream.format("memory").queryName("nd_short").outputMode("append").start()
    def t(min: Long) = new Timestamp(min * 60000L)
    mem.addData(StreamDedup.Doc(1L, t(0), "hi"), StreamDedup.Doc(2L, t(1), "yo there"))
    q.processAllAvailable()
    mem.addData(StreamDedup.Doc(3L, t(2), "ok bye"))
    q.processAllAvailable()
    val keep = StreamDedup.collapseVerdicts(spark.table("nd_short"))
      .as[(Long, Boolean)].collect().toMap
    q.stop()
    assert(keep === Map(1L -> true, 2L -> true, 3L -> true))
  }

  test("signature dedup keeps distinct short docs, drops exact short re-deliveries") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.signatureDedup(mem.toDS().toDF())
      .writeStream.format("memory").queryName("sig_short").outputMode("append").start()
    def t(min: Long) = new Timestamp((60 + min) * 60000L)
    mem.addData(StreamDedup.Doc(1L, t(0), "hi"), StreamDedup.Doc(2L, t(1), "yo there"))
    q.processAllAvailable()
    mem.addData(StreamDedup.Doc(3L, t(2), "hi")) // exact duplicate of doc 1's text
    q.processAllAvailable()
    val kept = spark.table("sig_short").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(kept === Set(1L, 2L))
  }

  test("signature dedup within watermark collapses exact re-deliveries, keeps distinct docs") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.signatureDedup(mem.toDS().toDF())
      .writeStream.format("memory").queryName("sig_dedup").outputMode("append").start()
    def t(min: Long) = new Timestamp((60 + min) * 60000L) // strictly above watermark 0
    mem.addData(StreamDedup.Doc(1L, t(0), base), StreamDedup.Doc(3L, t(1), unrelated))
    q.processAllAvailable()
    mem.addData(StreamDedup.Doc(4L, t(2), base)) // same signature as doc 1
    q.processAllAvailable()
    val kept = spark.table("sig_dedup").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(kept === Set(1L, 3L))
  }

  test("event-time sessionization extends a session BACKWARD for late in-gap events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingEventTime(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("bk_sess").outputMode("append").start()
    def t(min: Long) = new Timestamp((60 + min) * 60000L)
    mem.addData(Sessionize.Event(7L, t(10), 1.0))
    q.processAllAvailable()
    // late event BEFORE the open session's start, within gap + above watermark:
    // the session must extend backward (start = the earlier event's time)
    mem.addData(Sessionize.Event(7L, t(5), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(8L, t(300), 1.0)) // advance watermark → close
    q.processAllAvailable()
    val rows = spark.table("bk_sess")
      .select("user_id", "start_ts", "end_ts", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows.contains((7L, 3900L, 4200L, 2L)))
  }

  test("sorted_intersect_count skips null elements (public SQL surface safety)") {
    val r = Seq(1).toDF("x").select(
      graft.functions.NativeOps.sortedIntersectCount(
        array(lit("a"), lit("b"), lit(null).cast("string")),
        array(lit("a"), lit(null).cast("string"))).as("n"))
      .head().getLong(0)
    assert(r === 1L)
  }

  test("multimodal plumbing: deterministic stub metadata through mapPartitions") {
    val docs = Seq((1L, "abcdef")).toDF("doc_id", "text")
    val meta = graft.multimodal.Multimodal.extractMeta(
      graft.multimodal.Multimodal.withPayload(docs, "doc_id", "text")).head()
    assert(meta.n_bytes === 6L && meta.width === 6 && meta.height === 42 && meta.n_frames === 6)
  }

  test("multimodal batched decode: identical values, one codec session per batch") {
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.withPayload(docs, "doc_id", "text").repartition(2)
    val rowWise = Multimodal.extractMeta(media).collect().toSet
    val batches = spark.sparkContext.longAccumulator("codec_batches")
    val batched = Multimodal.extractMetaBatched(media, batchSize = 16,
      batchCounter = Some(batches)).collect().toSet
    assert(batched === rowWise)
    val n = rowWise.size
    // ceil(rows/16) batches per partition: far fewer sessions than rows
    assert(batches.value <= n / 16 + 2, s"batches=${batches.value} for $n rows")
    assert(batches.value >= 1)
  }

  test("multimodal resize / frame-sample / embed: shapes and determinism") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "abcdef"), (2L, "x" * 100)).toDF("doc_id", "text")
    val media = Multimodal.withPayload(docs, "doc_id", "text")
    // resize preserves aspect ratio within bounds
    val rz = Multimodal.resize(media, 32, 32).collect().map(r => r.doc_id -> r).toMap
    assert(rz(1L).width <= 32 && rz(1L).height <= 32)
    assert(rz(2L).width <= 32 && rz(2L).height <= 32)
    // frame sampling explodes every 2nd frame of the decoded count
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.filter(_.doc_id == 1L).map(_.frame_idx).sorted.sameElements(Array(0, 2, 4)))
    assert(frames.forall(_.payload.length <= 16))
    // embedding: fixed dim, deterministic, nonzero, ANN-composable
    val e1 = Multimodal.embed(media).collect().map(r => r.doc_id -> r.embedding.toSeq).toMap
    val e2 = Multimodal.embed(media).collect().map(r => r.doc_id -> r.embedding.toSeq).toMap
    assert(e1 === e2)
    assert(e1(2L).length === 64 && e1(2L).exists(_ != 0f))
    val ann = graft.sim.Ann.bruteTopK(
      Multimodal.embed(media).toDF(), "doc_id", "embedding", k = 1, querySide = identity)
    assert(ann.count() <= 2)
  }

  // ---- oracle bridges: replay the REAL tables through each streaming ----
  // ---- operator and assert equality with its DuckDB-oracled batch shadow

  test("event-time sessionization matches the ORACLED batch sessionize on the events table") {
    // Batch-shadow oracle bridge (same pattern as the stream-stream as-of
    // bridge above): q_sessionize's batch path is hash-matched against
    // DuckDB by the correctness gate; replaying the same events table
    // through streamingEventTime and recovering identical per-user
    // (n_sessions, n_events) puts the event-time stateful operator under
    // that same oracle, one hop removed.
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.001")
    val expected = Sessionize.batch(ev, gapSec = 1800)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val replay = ev.select("user_id", "ts", "value").collect()
      .map(r => Sessionize.Event(r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingEventTime(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("et_sess_bridge").outputMode("append").start()
    // one batch → nothing is watermark-late; then sentinel events for an
    // unused user push the watermark past every open session's
    // last + gap, and the extra batch fires the EventTimeTimeouts
    mem.addData(replay.toSeq)
    q.processAllAvailable()
    val horizon = replay.map(_.ts.getTime).max
    mem.addData(Sessionize.Event(-1L, new Timestamp(horizon + 86400000L), 0.0))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(-1L, new Timestamp(horizon + 2 * 86400000L), 0.0))
    q.processAllAvailable()
    val got = spark.table("et_sess_bridge").where(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    q.stop()
    assert(got === expected)
  }

  test("file-source streaming matches the ORACLED hourly window on the events table") {
    // q_event_window's hourlyWindow is DuckDB-oracled; the IDENTICAL
    // declarative plan over a file-source readStream (two parquet drops,
    // one file per trigger) must produce the identical result — exact
    // integer cents, so no float-summation-order caveat.
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.001")
    val expected = Sessionize.hourlyWindow(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_fsb_stream").toFile.getAbsolutePath
    val cp = java.nio.file.Files.createTempDirectory("graft_fsb_cp").toFile.getAbsolutePath
    def half(p: Int) = ev.where(col("event_id") % 2 === p).select("user_id", "ts", "value")
    half(0).coalesce(1).write.mode("append").parquet(dir)
    half(1).coalesce(1).write.mode("append").parquet(dir)
    val in = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Sessionize.hourlyWindow(in)
      .writeStream.format("memory").queryName("fs_hourly_bridge")
      .option("checkpointLocation", cp).outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("fs_hourly_bridge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got === expected)
  }

  test("streaming exact dedup matches the ORACLED batch exact dedup on the documents table") {
    // Dedup.exact is DuckDB-oracled (q_dedup_exact); re-deliver the whole
    // documents table a second time through the streaming filter and assert
    // the admitted set covers exactly the batch keeper key space, once each.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamDedup
    val docsT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expectedKeys = Dedup.exact(docsT, "doc_id", "text")
      .select("h").as[String].collect().toSet
    def replayAt(min: Long) = docsT.select("doc_id", "text").collect()
      .map(r => StreamDedup.Doc(r.getLong(0), new Timestamp(min * 60000L), r.getString(1)))
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.exactDedup(mem.toDS(), delay = "1 hour")
      .writeStream.format("memory").queryName("exact_dedup_bridge").outputMode("append").start()
    mem.addData(replayAt(1).toSeq)
    q.processAllAvailable()
    mem.addData(replayAt(2).toSeq) // full re-delivery, within the watermark
    q.processAllAvailable()
    val got = spark.table("exact_dedup_bridge").select("h").as[String].collect()
    q.stop()
    assert(got.length === got.distinct.length, "a content key was admitted twice")
    assert(got.toSet === expectedKeys)
  }

  test("streaming near-dup filter is recall-complete vs the ORACLED exact-Jaccard pairs") {
    // Ground truth = ngramJaccardPairs (DuckDB-oracled as q_dedup_jaccard):
    // every document with a lower-id exact near-duplicate (J >= 0.5) MUST be
    // dropped by the streaming band filter at q_dedup_minhash's verified
    // recall-complete banding (64 perms × 16 bands). Precision direction:
    // every drop must be explained by a band collision with a lower id —
    // the streaming state machine admits exactly the batch band-min docs.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamDedup
    val docsT = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val truth = Dedup.ngramJaccardPairs(docsT, "doc_id", "text", k = 3, minBp = 5000)
      .select(greatest(col("id_a"), col("id_b")).as("hi")).as[Long].collect().toSet
    assert(truth.nonEmpty, "testdata lost its planted near-dups; bridge is vacuous")
    val replay = docsT.select("doc_id", "text").collect()
      .map(r => StreamDedup.Doc(r.getLong(0), new Timestamp(60000L), r.getString(1)))
    val mem = MemoryStream[StreamDedup.Doc]
    val q = StreamDedup.bandVerdicts(mem.toDS(), k = 3, numPerm = 64, bands = 16)
      .writeStream.format("memory").queryName("neardup_bridge").outputMode("append").start()
    mem.addData(replay.toSeq)
    q.processAllAvailable()
    val kept = StreamDedup.collapseVerdicts(spark.table("neardup_bridge"))
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    q.stop()
    val wronglyKept = truth.intersect(kept)
    assert(wronglyKept.isEmpty,
      s"docs with a lower-id exact near-dup admitted by the streaming filter: $wronglyKept")
    // precision: a dropped doc must be non-minimal in at least one of its
    // band buckets (computed from the same bandKeyArray, batch-side)
    val bandMin = docsT
      .select(col("doc_id"), explode(Dedup.bandKeyArray(col("text"), 3, 64, 16)).as("bk"))
      .groupBy("bk").agg(min("doc_id").as("own"))
    val expectedDrops = docsT
      .select(col("doc_id"), explode(Dedup.bandKeyArray(col("text"), 3, 64, 16)).as("bk"))
      .join(bandMin, "bk").where(col("own") < col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    val allIds = docsT.select("doc_id").as[Long].collect().toSet
    assert(allIds.diff(kept) === expectedDrops)
  }

  test("stream-static enrichment matches the ORACLED batch enrichment on the events table") {
    // q_enrich (broadcast dim join + segment rollup) is DuckDB-oracled; the
    // SAME enrichBySegment plan over a MemoryStream replay of the events
    // table must produce the identical rollup.
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.001")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val expected = Sessionize.enrichBySegment(ev, cust)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val replay = ev.select("user_id", "ts", "value").collect()
      .map(r => Sessionize.Event(r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val mem = MemoryStream[Sessionize.Event]
    val q = Sessionize.enrichBySegment(mem.toDS().toDF(), cust)
      .writeStream.format("memory").queryName("enrich_bridge").outputMode("complete").start()
    mem.addData(replay.toSeq)
    q.processAllAvailable()
    val got = spark.table("enrich_bridge")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got === expected)
  }

  test("streaming range join matches the ORACLED batch range join on the events table") {
    // q_range_join (bucketed point-in-interval) is DuckDB-oracled; the SAME
    // Scale.rangeJoin plan over a MemoryStream replay of the events points
    // against the static window table must produce the identical rollup —
    // the interval-side explode and containment filter apply unchanged to
    // a stream (stream-static inner equi-join).
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.graph.Tpch.events(spark, "/root/testdata/sf0.001")
      .select(unix_micros(col("ts")).as("t"), col("value"))
    val t0 = ev.agg(min("t")).head().getLong(0)
    val h = 3600000000L
    val wins = spark.range(0, 24).select(col("id").as("win"),
      (lit(t0) + col("id") * (h * 9 / 4)).as("lo"),
      (lit(t0) + col("id") * (h * 9 / 4) + h * 5 / 2).as("hi"))
      .cache()
    def rollup(points: org.apache.spark.sql.DataFrame) =
      graft.plans.Scale.rangeJoin(points, "t", wins, "lo", "hi", grain = h)
        .groupBy("win")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    val expected = rollup(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[(Long, Double)]
    val q = rollup(mem.toDS().toDF("t", "value"))
      .writeStream.format("memory").queryName("rj_bridge").outputMode("complete").start()
    mem.addData(ev.as[(Long, Double)].collect().toSeq)
    q.processAllAvailable()
    val got = spark.table("rj_bridge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got === expected)
  }

  test("portable simhash: identical docs pair at hamming 0; pipeline matches xxhash64 shape") {
    // the md5-derived portable hash changes the SIGNATURES but not the
    // contract: identical texts share a signature (ham 0) under any hash,
    // and unrelated docs stay out at a tight threshold
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 6, portable = true)
      .as[(Long, Long, Int)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(pairs((1L, 4L)) === 0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // determinism: a second evaluation is bit-identical
    val again = Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 6, portable = true)
      .as[(Long, Long, Int)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(again === pairs)
  }

  test("mixtureSample: per-stratum rates are monotone-refinable and partition-insensitive") {
    import graft.pipeline.Corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def kept(rates: Seq[(String, Int)], default: Int, df: org.apache.spark.sql.DataFrame = corpus) =
      Corpus.mixtureSample(df, col("lang"), col("doc_id"), rates, default)
        .select("doc_id").as[Long].collect().toSet
    val low = kept(Seq("en" -> 2500), 0)
    val high = kept(Seq("en" -> 7500), 0)
    // raising a stratum's rate only ADDS rows (subset property an iterating
    // mixture search depends on)
    assert(low.subsetOf(high) && low.size < high.size)
    // rate 10000 keeps the whole stratum; rate 0 drops it entirely
    val en = corpus.where(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    assert(kept(Seq("en" -> 10000), 0) === en)
    assert(kept(Seq.empty, 0).isEmpty)
    // pure hash predicate: physical partitioning cannot change the sample
    assert(kept(Seq("en" -> 2500), 0, corpus.repartition(7)) === low)
  }

  test("weightedSample: probability tracks the weight, monotone in weight, null/zero drop") {
    import graft.pipeline.Corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def kept(w: org.apache.spark.sql.Column, wMax: Long,
        df: org.apache.spark.sql.DataFrame = corpus) =
      Corpus.weightedSample(df, col("doc_id"), w, wMax)
        .select("doc_id").as[Long].collect().toSet
    // exact membership vs an independent driver-side md5 recompute
    val md = java.security.MessageDigest.getInstance("MD5")
    def h16(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
    val rows = corpus.select("doc_id", "n_chars").as[(Long, Long)].collect()
    val expected = rows.filter { case (id, n) =>
      h16(id) * 1000L < math.min(math.max(n, 0L), 1000L) * 65536L
    }.map(_._1).toSet
    val got = kept(col("n_chars"), 1000L)
    assert(got === expected)
    assert(got.nonEmpty && got.size < rows.length, s"degenerate sample: ${got.size}/${rows.length}")
    // raising weights only ADDS rows (the mixtureSample monotone law)
    assert(got.subsetOf(kept(col("n_chars") * 2, 1000L)))
    // weight >= wMax keeps everything; weight <= 0 and NULL drop everything
    assert(kept(lit(5000L), 1000L) === rows.map(_._1).toSet)
    assert(kept(lit(0L), 1000L).isEmpty)
    assert(kept(lit(null).cast("long"), 1000L).isEmpty)
    // pure hash predicate: physical partitioning cannot change the sample
    assert(kept(col("n_chars"), 1000L, corpus.repartition(7)) === got)
  }

  test("negativeSamples: permutation successors, never self, exact driver replay") {
    import graft.pipeline.Corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Corpus.negativeSamples(corpus, "doc_id", k = 3, seed = "s1")
      .as[(Long, Long, Long)].collect().toSet
    // independent driver-side replay: sort by (md5("s1:"+id), id), each
    // anchor's negatives are its 3 cyclic successors
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(s"s1:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = corpus.select("doc_id").as[Long].collect()
    val order = ids.sortBy(id => (h(id), id))
    val n = order.length
    val expected = order.zipWithIndex.flatMap { case (id, p) =>
      (1 to 3).map(j => (id, j.toLong, order((p + j) % n)))
    }.toSet
    assert(got === expected)
    assert(got.forall { case (a, _, b) => a != b }, "a doc must never be its own negative")
    val perAnchor = got.groupBy(_._1)
    assert(perAnchor.size === n)
    assert(perAnchor.values.forall(s => s.size == 3 && s.map(_._3).size == 3),
      "every anchor gets exactly 3 distinct negatives")
    // physical partitioning cannot change the pairs
    val re = Corpus.negativeSamples(corpus.repartition(7), "doc_id", k = 3, seed = "s1")
      .as[(Long, Long, Long)].collect().toSet
    assert(re === got)
    // k >= N caps at N-1 negatives: on 3 rows each anchor pairs with
    // exactly the other two
    val tiny = Seq(11L, 22L, 33L).toDF("doc_id")
    val t = Corpus.negativeSamples(tiny, "doc_id", k = 10, seed = "s")
      .as[(Long, Long, Long)].collect()
    assert(t.length === 6)
    assert(t.groupBy(_._1).values.forall(s => s.map(_._3).toSet.size == 2))
    assert(t.forall { case (a, _, b) => a != b })
    // degenerate frames: one row / empty input produce no pairs
    assert(Corpus.negativeSamples(Seq(7L).toDF("doc_id"), "doc_id", k = 2, seed = "s")
      .count() === 0L)
  }

  test("domainCap: deterministic hash-order quota, partition-insensitive") {
    import graft.pipeline.Corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = Corpus.domainCap(corpus, col("source"), col("doc_id"), cap = 3)
      .select("doc_id", "source", "rk").as[(Long, String, Int)].collect().toSet
    // physical partitioning cannot change which documents make the quota
    val got = Corpus.domainCap(corpus.repartition(7), col("source"), col("doc_id"), cap = 3)
      .select("doc_id", "source", "rk").as[(Long, String, Int)].collect().toSet
    assert(got === ref)
    // every domain respects the cap; ranks are 1..cap with no gaps
    val byDomain = ref.groupBy(_._2)
    assert(byDomain.values.forall(s => s.size <= 3 && s.map(_._3) == (1 to s.size).toSet))
  }

  test("streaming mixture sampling matches the ORACLED batch sample on the documents table") {
    // Corpus.mixtureSample is a pure scan predicate (q_mixture_sample is
    // DuckDB-oracled), so the SAME call applies unchanged to a readStream
    // source: replaying the documents table through a MemoryStream admits
    // exactly the batch keep set — the streaming ingest form of data mixing.
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Corpus
    val docsT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rates = Seq("en" -> 2500, "de" -> 10000)
    val expected = Corpus.mixtureSample(docsT, col("lang"), col("doc_id"), rates, 1250)
      .select("doc_id").as[Long].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = Corpus.mixtureSample(mem.toDS().toDF("doc_id", "lang"),
        col("lang"), col("doc_id"), rates, 1250)
      .writeStream.format("memory").queryName("mixture_bridge").outputMode("append").start()
    mem.addData(docsT.select("doc_id", "lang").as[(Long, String)].collect().toSeq)
    q.processAllAvailable()
    val got = spark.table("mixture_bridge").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("streaming CMS maintenance: per-micro-batch sketches merge to the ORACLED batch sketch") {
    // cmsBuild is mergeable by cell-wise sum, so maintaining a sketch over
    // a stream is foreachBatch + merge — no raw-data replay. The merged
    // result must equal the whole-corpus sketch (q_cms is DuckDB-oracled
    // over the identical cell arithmetic).
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketch
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_partkey")).as[Long].collect().toSeq
    val whole = Sketch.cmsBuild(li.toDF("l_partkey"), col("l_partkey"), 4, 64)
      .as[(Int, Long, Long)].collect().toSet
    val mem = MemoryStream[Long]
    val acc = scala.collection.mutable.Map[(Int, Long), Long]()
    val q = mem.toDS().toDF("l_partkey").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketch.cmsBuild(batch, col("l_partkey"), 4, 64)
          .as[(Int, Long, Long)].collect()
          .foreach { case (r, c, n) => acc((r, c)) = acc.getOrElse((r, c), 0L) + n }
      }.start()
    val (h1, h2) = li.splitAt(li.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    q.stop()
    assert(acc.map { case ((r, c), n) => (r, c, n) }.toSet === whole)
  }

  test("streaming quantile-sketch maintenance: per-batch histograms merge to the ORACLED batch sketch") {
    // histBuild merges by bucket-wise sum (the CMS pattern): maintaining the
    // quantile summary over a stream is foreachBatch + merge, and the merged
    // sketch must equal the whole-corpus one — whose bucket arithmetic and
    // quantile convention q_quantile_sketch oracles in DuckDB.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketch
    val cents = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100, 0).cast("long")).as[Long].collect().toSeq
    val whole = Sketch.histBuild(cents.toDF("v"), col("v"))
      .as[(Int, Long)].collect().toMap
    val mem = MemoryStream[Long]
    val acc = scala.collection.mutable.Map[Int, Long]()
    val q = mem.toDS().toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketch.histBuild(batch, col("v")).as[(Int, Long)].collect()
          .foreach { case (b, n) => acc(b) = acc.getOrElse(b, 0L) + n }
      }.start()
    val (h1, h2) = cents.splitAt(cents.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    q.stop()
    assert(acc.toMap === whole)
    // and the quantile readout of the maintained sketch matches the batch one
    val maintained = acc.toSeq.toDF("bucket", "cnt")
    assert(Sketch.histQuantiles(maintained, Seq(500, 900)).as[(Long, Long, Long)].collect().toSet ===
      Sketch.histQuantiles(Sketch.histBuild(cents.toDF("v"), col("v")), Seq(500, 900))
        .as[(Long, Long, Long)].collect().toSet)
  }

  test("streaming Bloom maintenance: per-batch bit tables union to the ORACLED whole-set filter") {
    // bloomBuild merges by union-distinct, so maintaining the membership
    // pre-filter over a stream is foreachBatch + union — and the maintained
    // filter must admit EXACTLY what the whole-corpus filter admits (whose
    // bit arithmetic q_bloom oracles in DuckDB).
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketch
    val keys = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").cast("long")).as[Long].collect().toSeq
    val whole = Sketch.bloomBuild(keys.toDF("k"), col("k"), 4096, 4)
      .as[Long].collect().toSet
    val mem = MemoryStream[Long]
    val acc = scala.collection.mutable.Set[Long]()
    val q = mem.toDS().toDF("k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= Sketch.bloomBuild(batch, col("k"), 4096, 4).as[Long].collect()
        ()
      }.start()
    val (h1, h2) = keys.splitAt(keys.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    q.stop()
    assert(acc.toSet === whole)
    // and the maintained filter's verdicts match the batch filter's
    val probe = (1L to 3000L).toDF("k")
    val a = Sketch.bloomFilter(probe, col("k"), acc.toSeq.toDF("bit"), 4096, 4)
      .as[Long].collect().toSet
    val b = Sketch.bloomFilter(probe, col("k"),
      Sketch.bloomBuild(keys.toDF("k"), col("k"), 4096, 4), 4096, 4)
      .as[Long].collect().toSet
    assert(a === b)
  }

  test("streaming per-domain quota admits arrival-order top-cap with state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamQuota
    val mem = MemoryStream[StreamQuota.DocS]
    val q = StreamQuota.domainCap(mem.toDS(), cap = 3)
      .writeStream.format("memory").queryName("quota_bridge").outputMode("append").start()
    // batch 1: dom A sends 2 (both admitted), dom B sends 4 (3 admitted,
    // lowest ids first)
    mem.addData(Seq(StreamQuota.DocS(10L, "A"), StreamQuota.DocS(11L, "A"),
      StreamQuota.DocS(24L, "B"), StreamQuota.DocS(21L, "B"),
      StreamQuota.DocS(22L, "B"), StreamQuota.DocS(23L, "B")))
    q.processAllAvailable()
    // batch 2: A has room for ONE more (rank continues at 3); B is at quota
    // and must admit nothing ever again
    mem.addData(Seq(StreamQuota.DocS(12L, "A"), StreamQuota.DocS(13L, "A"),
      StreamQuota.DocS(20L, "B")))
    q.processAllAvailable()
    val got = spark.table("quota_bridge")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    q.stop()
    assert(got === Set(
      (10L, "A", 1), (11L, "A", 2), (12L, "A", 3),
      (21L, "B", 1), (22L, "B", 2), (23L, "B", 3)))
  }

  test("semanticDedup: within-cell near-dup groups collapse to the min-id representative") {
    // nlist=2 => leaders are v1 (direction A) and v2 (direction B); v3, v4
    // are near-A (cell 1), v5 near-B (cell 2), v6 anti-A (own best leader is
    // still A-side but negative dot => no pair can form with dot > 0)
    val a = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val b = Array.tabulate(64)(i => if (i >= 32) 1.0f else 0.0f)
    def mix(base: Array[Float], eps: Float, at: Int): Array[Float] = {
      val v = base.clone(); v(at) = v(at) + eps; v
    }
    val vecs = Seq(
      (1L, a), (2L, b), (3L, mix(a, 0.1f, 0)), (4L, mix(a, 0.1f, 1)),
      (5L, mix(b, 0.1f, 62)), (6L, a.map(-_)))
      .toDF("vec_id", "embedding")
    val out = graft.sim.Ann.semanticDedup(vecs, "vec_id", "embedding",
        tauPm = 900, nlist = 2)
      .select("id", "cluster", "keep").as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, 1)))
    assert(out(3L) === ((1L, 0)))
    assert(out(4L) === ((1L, 0)))
    assert(out(2L) === ((2L, 1)))
    assert(out(5L) === ((2L, 0)))
    assert(out(6L) === ((6L, 1))) // negative dot: never pairs, own cluster
    // pair-free input (threshold above every similarity): the CC runs on an
    // EMPTY pair graph and every vector must come back its own keeper
    val none = graft.sim.Ann.semanticDedup(vecs, "vec_id", "embedding",
        tauPm = 1000, nlist = 2)
      .select("id", "cluster", "keep").as[(Long, Long, Int)].collect()
    assert(none.length === 6 && none.forall(r => r._2 === r._1 && r._3 === 1))
  }

  test("semanticDedup cell ranking: exact score ties break to the LOWEST leader id") {
    // leaders (nlist=2) are ids 1 and 2; their vectors are IDENTICAL, so
    // every row's cosine to both cells ties exactly and the assignment must
    // fall to the lid tie-break — cell 1 for everyone. Pins the r11
    // projection-form rankedCells (array_sort on (−score, lid) structs)
    // against the window form's (score desc, lid asc) ordering.
    val v = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val vecs = Seq((1L, v), (2L, v.clone()), (3L, v.map(_ * 2f)), (4L, v.map(_ * 3f)))
      .toDF("vec_id", "embedding")
    val cells = graft.sim.Ann.semanticDedup(vecs, "vec_id", "embedding",
        tauPm = 1000, nlist = 2)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    assert(cells === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("streaming quality gate matches the ORACLED batch gopher keep set") {
    // gopherQuality is pure column algebra over one scan (q_gopher is
    // DuckDB-oracled), so the SAME call applies unchanged to a readStream
    // source: replaying the documents table through a MemoryStream yields
    // exactly the batch keep set — the streaming ingest form of the
    // quality filter.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextOps
    val docsT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = TextOps.gopherQuality(docsT, "doc_id", "text")
      .where(col("keep") === 1L).select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty) // the gate must actually discriminate
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.gopherQuality(mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
      .where(col("keep") === 1L)
      .writeStream.format("memory").queryName("gopher_bridge").outputMode("append").start()
    mem.addData(docsT.select("doc_id", "text").as[(Long, String)].collect().toSeq)
    q.processAllAvailable()
    val got = spark.table("gopher_bridge").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("snapshotDiff: four statuses; NULL bodies are content, not absence") {
    import graft.pipeline.Corpus
    val prev = Seq((1L, Option("same")), (2L, Option("old")), (3L, Option("gone")),
      (5L, None: Option[String]), (6L, Option("was text"))).toDF("doc_id", "text")
    val next = Seq((1L, Option("same")), (2L, Option("new")), (4L, Option("fresh")),
      (5L, None: Option[String]), (6L, None: Option[String])).toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(prev, next, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "unchanged", 2L -> "modified", 3L -> "removed",
      4L -> "added", 5L -> "unchanged", 6L -> "modified"))
  }

  test("gopherQuality: each rule fires independently; metrics integer-exact") {
    import graft.functions.TextOps
    val good = (Seq("the", "of", "and") ++ Seq.fill(47)("spark")).mkString(" ") // 50 words
    val rows = Seq(
      (1L, good),                                  // passes every rule
      (2L, "the of short doc"),                    // < 50 words
      (3L, good.replace("spark", "### ...")),      // symbol ratio blows the 10% bound
      (4L, (Seq.fill(50)("spark")).mkString(" ")), // zero stopword hits
      (5L, (Seq("the", "of") ++ Seq.fill(48)("x")).mkString(" "))) // mean word len < 3
      .toDF("doc_id", "text")
    val out = TextOps.gopherQuality(rows, "doc_id", "text")
      .select(col("doc_id"), col("n_words"), col("mwl_x100"), col("sym_bp"),
        col("alpha_bp"), col("stop_hits"), col("keep"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 50 words, chars = 3+2+3+47*5 = 243 -> mwl 486; all-alpha; 3 stops
    assert(out(1L) === ((1L, 50L, 486L, 0L, 10000L, 3L, 1L)))
    assert(out(2L)._7 === 0L && out(2L)._2 === 4L)
    assert(out(3L)._7 === 0L && out(3L)._4 >= 1000L) // 94 symbol hits / 97 words
    assert(out(4L)._7 === 0L && out(4L)._6 === 0L)
    assert(out(5L)._7 === 0L && out(5L)._3 < 300L) // 2+2+48 chars / 50 words
  }

  test("surprisalScore: floor-log2 token surprisal, hand-computed") {
    import graft.functions.TextOps
    // corpus: a x5, b x1 => T=6; surp(a) = floor(log2(6 div 5)) = 0,
    // surp(b) = floor(log2(6)) = 2
    val rows = Seq((1L, "a a a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.surprisalScore(rows, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((4L, 0L)))        // 4 tokens, all common -> 0 cb
    assert(out(2L) === ((2L, 100L)))      // (0 + 2)*100 div 2
  }

  test("dupSpanCoverage: interval union of shared 3-gram spans, overlaps once") {
    import graft.dedup.Dedup
    val rows = Seq(
      (1L, "x y z w q"),             // grams "x y z","y z w" shared with doc 2
      (2L, "p1 p2 x y z w p3 p4"),   // same two grams at pos 2,3
      (3L, "u1 u2 u3 u4 u5 u6"),     // nothing shared
      (4L, "x y z f1 f2 f3 x y z"))  // disjoint repeats of a shared gram
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(rows, "doc_id", "text", k = 3, minDf = 2L)
      .select("doc_id", "n_toks", "covered", "cov_bp")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: spans [0,3) u [1,4) = [0,4) -> 4 of 5
    assert(out(1L) === ((1L, 5L, 4L, 8000L)))
    // doc 2: spans [2,5) u [3,6) = [2,6) -> 4 of 8
    assert(out(2L) === ((2L, 8L, 4L, 5000L)))
    assert(out(3L) === ((3L, 6L, 0L, 0L)))
    // doc 4: "x y z" occurs at pos 0 AND 6 (both shared with docs 1-2's
    // "x y z"): disjoint intervals sum, 6 of 9
    assert(out(4L) === ((4L, 9L, 6L, 6666L)))
    // repartition-invariance: the window sweep has a total order per doc
    val re = Dedup.dupSpanCoverage(rows.repartition(5), "doc_id", "text", k = 3, minDf = 2L)
      .select("doc_id", "n_toks", "covered", "cov_bp")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(re === out.values.toSet)
    // the REMOVAL pass drops exactly the covered tokens, preserves order,
    // and returns fully-covered docs as empty strings
    val stripped = Dedup.stripDupSpans(rows, "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String)].collect().toMap
    assert(stripped(1L) === "q")                    // [0,4) covered of 5
    assert(stripped(2L) === "p1 p2 p3 p4")          // [2,6) covered
    assert(stripped(3L) === "u1 u2 u3 u4 u5 u6")    // untouched
    assert(stripped(4L) === "f1 f2 f3")             // both repeats dropped
    val allDup = Seq((10L, "x y z"), (11L, "x y z")).toDF("doc_id", "text")
    val s2 = Dedup.stripDupSpans(allDup, "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String)].collect().toMap
    assert(s2 === Map(10L -> "", 11L -> ""))
    // RELATIVE threshold ≡ absolute at the same ceil: 4 docs, 5000 bp ->
    // ceil(4·5000/10⁴) = 2 = minDf above, so outputs must be identical;
    // the corpus count is an in-plan broadcast scalar, not a second action
    val rel = Dedup.stripDupSpansRelative(rows, "doc_id", "text", k = 3, minDfBp = 5000L)
      .as[(Long, String)].collect().toMap
    assert(rel === stripped)
    // a bp above every gram's df strips nothing: 7600 bp -> ceil = 4 > max df
    val relHi = Dedup.stripDupSpansRelative(rows, "doc_id", "text", k = 3, minDfBp = 7600L)
      .as[(Long, String)].collect().toMap
    assert(relHi.values.forall(_.nonEmpty))
    assert(relHi(3L) === "u1 u2 u3 u4 u5 u6")
  }

  test("chunkDocs: window starts every stride, short tail kept, empty docs dropped") {
    import graft.pipeline.Corpus
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // n=10: starts 0,4 cover all tokens
      (2L, "a b c"),                           // n=3 < size: one short chunk
      (3L, "  "),                              // zero tokens: no chunks
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8"))         // n=8 == size: exactly one chunk
      .toDF("doc_id", "text")
    val got = Corpus.chunkDocs(docs, "doc_id", "text", size = 8, stride = 4)
      .as[(Long, Long, String)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // coverage semantics: windows start every stride UNTIL every token is
    // covered — a window whose tokens all sit inside the previous window
    // (pure suffix, no new content) is never emitted
    assert(got === Map(
      (1L, 0L) -> "t1 t2 t3 t4 t5 t6 t7 t8",
      (1L, 1L) -> "t5 t6 t7 t8 t9 t10",
      (2L, 0L) -> "a b c",
      (4L, 0L) -> "x1 x2 x3 x4 x5 x6 x7 x8"))
    // stride == size is tumbling: windows tile the doc with no overlap
    val tumble = Corpus.chunkDocs(docs.where(col("doc_id") === 1L), "doc_id", "text",
        size = 4, stride = 4)
      .as[(Long, Long, String)].collect().sortBy(_._2).map(_._3)
    assert(tumble.toSeq === Seq("t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"))
  }

  test("upsampleEpochs: per-stratum replication with deterministic epoch ids") {
    import graft.pipeline.Corpus
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "src")
    val got = Corpus.upsampleEpochs(df, col("src"), Seq("a" -> 3, "c" -> 0))
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    // a ×3 with epochs 0..2; c excluded; b,d default ×1 with epoch 0
    assert(got === Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (4L, 0L)))
    // defaultFactor 0 flips the semantics to an allow-list
    val only = Corpus.upsampleEpochs(df, col("src"), Seq("b" -> 2), defaultFactor = 0)
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    assert(only === Set((2L, 0L), (2L, 1L)))
    // pure column algebra: partitioning cannot change the multiset
    val re = Corpus.upsampleEpochs(df.repartition(5), col("src"), Seq("a" -> 3, "c" -> 0))
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    assert(re === got)
  }

  test("pmiCollocations: floor-log2 PMI over adjacent bigrams, count and sign gates") {
    import graft.functions.TextOps
    // "a b" always adjacent (perfect collocation); "c" floats everywhere;
    // 6 docs of "a b", 6 of "c c a" — T = 30
    val docs = ((1L to 6L).map(i => (i, "a b")) ++ (7L to 12L).map(i => (i, "c c a")))
      .toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, "doc_id", "text", minCount = 2L)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // c(a)=12, c(b)=6, c(c)=12, c(ab)=6, c(cc)=6, c(ca)=6
    // pmi(a,b): ratio = 6*30/(12*6) = 2 -> fl2 = 1
    // pmi(c,c): ratio = 6*30/144 = 1 -> fl2 = 0
    // pmi(c,a): ratio = 6*30/144 = 1 -> fl2 = 0
    assert(got === Map(("a", "b") -> ((6L, 1L)), ("c", "c") -> ((6L, 0L)),
      ("c", "a") -> ((6L, 0L))))
    // raising minCount above the bigram counts empties the shortlist
    assert(TextOps.pmiCollocations(docs, "doc_id", "text", minCount = 7L).count() === 0)
    // negative-PMI pairs are gated out: make "a b" rare vs its unigrams
    val anti = (Seq((1L, "a b")) ++ (2L to 40L).map(i => (i, "a x")) ++
      (41L to 80L).map(i => (i, "y b"))).toDF("doc_id", "text")
    val g2 = TextOps.pmiCollocations(anti, "doc_id", "text", minCount = 1L)
      .as[(String, String, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // c(a)=40, c(b)=40, T=160, c(ab)=1: 1*160 < 1600 -> dropped
    assert(!g2.contains(("a", "b")))
  }

  test("winnowFingerprints: window math, shared-run guarantee, short docs emit nothing") {
    import graft.functions.TextOps
    // 6 tokens, k=3 -> 4 grams, w=4 -> exactly ONE window -> ONE fingerprint
    val one = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val got = TextOps.winnowFingerprints(one, "doc_id", "text")
      .as[(Long, String, Long)].collect()
    assert(got.length === 1)
    assert(got.head._3 >= 1L && got.head._3 <= 4L) // selected gram position
    // below w+k-1 = 6 tokens: no full window, nothing emitted
    val short = Seq((2L, "a b c d e")).toDF("doc_id", "text")
    assert(TextOps.winnowFingerprints(short, "doc_id", "text").count() === 0)
    // the SWA guarantee: two docs sharing a run of >= w+k-1 tokens share a
    // fingerprint HASH (positions may differ)
    val pair = Seq(
      (3L, "p q r s t u v w x y z"),
      (4L, "zz p q r s t u v w yy")).toDF("doc_id", "text") // share "p q r s t u v w" (8 >= 6)
    val fps = TextOps.winnowFingerprints(pair, "doc_id", "text")
      .as[(Long, String, Long)].collect().groupBy(_._1)
    assert(fps(3L).map(_._2).toSet.intersect(fps(4L).map(_._2).toSet).nonEmpty)
    // per-doc dedup: selectors are distinct (adjacent windows share minima)
    val dense = Seq((5L, ("a " * 30).trim)).toDF("doc_id", "text")
    val rows = TextOps.winnowFingerprints(dense, "doc_id", "text")
      .as[(Long, String, Long)].collect()
    assert(rows.map(r => (r._2, r._3)).distinct.length === rows.length)
  }

  test("hashedTextEmbedding: digest-mirrored dims, additive over tokens, empty docs drop") {
    import graft.functions.TextOps
    val docs = Seq((1L, "a"), (2L, "a a"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.hashedTextEmbedding(docs, "doc_id", "text", dims = 4)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(r => r._2 -> r._3).toMap }
    // dim d of "a" = md5 byte d - 128, mirrored independently here
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("a".getBytes("UTF-8")).map(b => (b & 0xff).toLong - 128L)
    assert(got(1L) === (0 until 4).map(d => d -> h(d)).toMap)
    // additive: "a a" = 2x the vector of "a"
    assert(got(2L) === (0 until 4).map(d => d -> 2L * h(d)).toMap)
    // zero-token docs emit nothing
    assert(!got.contains(3L))
  }

  test("bigramLmScore: hand-computed conditional surprisal, short docs drop") {
    import graft.functions.TextOps
    // d1 = "a b a b": bigrams (a,b),(b,a),(a,b); d2 = "a c": bigram (a,c)
    // head counts: c(a)=3, c(b)=1; c_xy: (a,b)=2, (b,a)=1, (a,c)=1
    // bits: (a,b) fl2(3 div 2 = 1) = 0; (b,a) fl2(1) = 0; (a,c) fl2(3) = 1
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((3L, 0L)), 2L -> ((1L, 100L))))
    // doc 3 has one token -> no bigram -> no row (already pinned by the map)
  }

  test("count-min sketch: overestimate guarantee, exactness at width, cell-wise merge") {
    import graft.functions.Sketch
    val data = (1L to 1000L).map(i => i % 37).toDF("key") // skewed: key 0..36
    val truth = (1L to 1000L).map(_ % 37).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = (0L to 40L).map(_.toString).toDF("k")
    // narrow sketch: estimates NEVER undercount (the CMS guarantee)
    val sk = Sketch.cmsBuild(data, col("key"), depth = 4, width = 16)
    assert(sk.count() <= 4 * 16)
    val est = Sketch.cmsEstimate(sk, probes, col("k"), depth = 4, width = 16)
      .as[(String, Long)].collect().toMap
    assert((0L to 40L).forall(i => est(i.toString) >= truth.getOrElse(i, 0L)))
    // wide sketch: no collisions at 37 keys => estimates are EXACT and
    // absent probes estimate 0
    val wide = Sketch.cmsBuild(data, col("key"), depth = 4, width = 4096)
    val estW = Sketch.cmsEstimate(wide, probes, col("k"), depth = 4, width = 4096)
      .as[(String, Long)].collect().toMap
    assert((0L to 36L).forall(i => estW(i.toString) === truth(i)))
    assert((37L to 40L).forall(i => estW(i.toString) === 0L))
    // mergeability: sketch(A union B) == cell-wise sum of the halves — the
    // property that lets per-partition/per-day sketches compose
    val (a, b) = ((1L to 500L).map(_ % 37).toDF("key"), (501L to 1000L).map(_ % 37).toDF("key"))
    val merged = Sketch.cmsBuild(a, col("key"), 4, 16)
      .unionAll(Sketch.cmsBuild(b, col("key"), 4, 16))
      .groupBy("r", "cell").agg(sum("cnt").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = sk.as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)
  }

  test("splitAssign: exact hash spans, growth-stable membership") {
    import graft.pipeline.Corpus
    val df = (1L to 2000L).toDF("doc_id")
    val splits = Seq("train" -> 9000, "val" -> 500, "test" -> 500)
    val got = Corpus.splitAssign(df, col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every row labeled; proportions near the spans (hash-uniform)
    assert(got.size === 2000)
    val byLbl = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLbl("train") > 1700 && byLbl("val") > 60 && byLbl("test") > 60)
    // membership is a fact of the id ALONE: a doc keeps its split when the
    // corpus grows/shrinks (randomSplit cannot promise this)
    val sub = Corpus.splitAssign(df.where(col("doc_id") <= 700), col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(sub === got.filter(_._1 <= 700L))
    // spans must sum to exactly 10000
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(df, col("doc_id"), Seq("a" -> 5000, "b" -> 4000))
    }
  }

  test("hashedLinearScore: weights mirror the md5 byte, sum and threshold per doc") {
    import graft.functions.TextOps
    val docs = Seq((1L, "alpha beta alpha"), (2L, "gamma"), (3L, " ")).toDF("doc_id", "text")
    val got = TextOps.hashedLinearScore(docs, "doc_id", "text")
      .select("doc_id", "score", "keep").as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // independent digest mirror (the q_walks pattern)
    def w(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      (d(0) & 0xff).toLong % 11L - 5L
    }
    val exp1 = 2 * w("alpha") + w("beta")
    assert(got === Map(1L -> ((exp1, exp1 > 0)), 2L -> ((w("gamma"), w("gamma") > 0))))
    // zero-token docs yield no row — nothing to score
    assert(!got.contains(3L))
  }

  test("bm25Rank: matches a brute fixed-point reference; everywhere-terms saturate to idf 0") {
    import graft.functions.TextOps
    // "c" appears in every doc (idf 0); "r" in 1 of 8 (idf 3); "m" in 3 (idf 1)
    val docs = (1L to 8L).map { i =>
      val extra = (if (i == 1) " r r" else "") + (if (i <= 3) " m" else "")
      (i, ("c " * i.toInt).trim + extra)
    }.toDF("doc_id", "text")
    val got = TextOps.bm25Rank(docs, "doc_id", "text", Seq("c", "r", "m"), k = 8)
      .as[(Long, Long)].collect()
    // brute replay of the documented integer formula
    val toks = (1L to 8L).map { i =>
      i -> (List.fill(i.toInt)("c") ++ (if (i == 1) List("r", "r") else Nil)
        ++ (if (i <= 3) List("m") else Nil))
    }.toMap
    val n = 8L
    val avgdl = toks.values.map(_.size.toLong).sum / n
    def idf(t: String) = {
      val dft = toks.values.count(_.contains(t)).toLong
      63 - java.lang.Long.numberOfLeadingZeros(n / dft)
    }
    val exp = toks.map { case (d, ts) =>
      val dl = ts.size.toLong
      val score = Seq("c", "r", "m").map { t =>
        val tf = ts.count(_ == t).toLong
        if (tf == 0) 0L
        else idf(t) * (tf * 22000L * 10000L) /
          (tf * 10000L + (12000L * (2500L + (7500L * dl) / avgdl)) / 10000L)
      }.sum
      d -> score
    }
    assert(got.toMap === exp)
    // ranked (score desc, id asc): doc 1 (rare double "r") must lead
    assert(got.head._1 === 1L)
    // everywhere-term saturation: docs 4..8 contain ONLY "c" => score 0
    assert((4L to 8L).forall(d => exp(d) === 0L))
  }

  test("trainOrder: exact global permutation, bucket count and partitioning invisible") {
    import graft.pipeline.Corpus
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).toDF("doc_id")
    val got = Corpus.trainOrder(df, "doc_id", seed = "s1")
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    // positions are a permutation of 0..n-1
    assert(got.values.toSeq.sorted === (0L until 500L))
    // equals the one-big-window definition
    val brute = df.withColumn("h", md5(concat(lit("s1:"), col("doc_id").cast("string"))))
      .withColumn("pos", row_number().over(Window.orderBy(col("h"), col("doc_id"))).cast("long") - 1)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(got === brute)
    // prefix length (bucket fan-out) and physical partitioning are
    // implementation detail — the permutation is a fact of (seed, ids)
    val p3 = Corpus.trainOrder(df.repartition(7), "doc_id", seed = "s1", prefixLen = 3)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(p3 === got)
    // a different seed is a genuinely different epoch order
    val s2 = Corpus.trainOrder(df, "doc_id", seed = "s2")
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(s2 !== got)
  }

  test("buildVocab: top-K by (count desc, token asc), contiguous ids, boundary ties resolved") {
    import graft.functions.TextOps
    // counts: z=3, m=2, a=2, q=1, b=1 — K=3 cuts inside the (m,a) tie region
    // and the tail; token asc breaks both
    val docs = Seq((1L, "z z z m m a"), (2L, "a q b")).toDF("doc_id", "text")
    val got = TextOps.buildVocab(docs, "text", vocabSize = 3)
      .as[(String, Long, Long)].collect().sortBy(_._3)
    assert(got.toSeq === Seq(("z", 3L, 1L), ("a", 2L, 2L), ("m", 2L, 3L)))
    // vocabSize beyond the distinct-token count returns the whole vocabulary
    val all = TextOps.buildVocab(docs, "text", vocabSize = 100)
    assert(all.count() === 5L)
  }

  test("langConsistency: monolingual 10000, half-merge 5000 with deterministic tie") {
    import graft.functions.TextOps
    val en8 = "the a the a the a the a"           // one 8-token en chunk
    val de8 = "table join table join table join table join"
    val docs = Seq(
      (1L, s"$en8 $en8"),   // 2 chunks, both en
      (2L, s"$en8 $de8"),   // en chunk + de chunk: 50/50, tie -> lang asc = de
      (3L, en8)).toDF("doc_id", "text")
    val got = TextOps.langConsistency(docs, "doc_id", "text", chunkTokens = 8)
      .as[(Long, Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((2L, "en", 10000L)))
    assert(got(2L) === ((2L, "de", 5000L))) // the tie-break is part of the contract
    assert(got(3L) === ((1L, "en", 10000L)))
  }

  test("sparseCosinePairs: weighted closed form, df hub guard prunes the pair space") {
    import graft.sim.Ann
    // tf weights: doc1 = {a:2, b:1}, doc2 = {a:1, b:2} → dot 4, norms 5,5
    // → cos² = 16/25 = 640000 ppm (cos 0.8)
    val docs = Seq((1L, "a a b"), (2L, "a b b")).toDF("doc_id", "text")
    val got = Ann.sparseCosinePairs(docs, "doc_id", "text", maxDf = 10, minCos2Ppm = 500000)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 4L, 640000L)))
    assert(Ann.sparseCosinePairs(docs, "doc_id", "text", 10, 650000).count() === 0)
    // the df cap prunes hub terms BEFORE the join: 'z' is in every doc and
    // would pair everything; with maxDf=2 only docs sharing rare terms meet
    val hub = Seq((1L, "a b z"), (2L, "a b z"), (3L, "c d z")).toDF("doc_id", "text")
    val kept = Ann.sparseCosinePairs(hub, "doc_id", "text", maxDf = 2, minCos2Ppm = 0)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // docs 1,2 are identical in the kept space {a,b}; doc 3 shares only the
    // pruned hub term and forms no pair at all
    assert(kept === Seq((1L, 2L, 2L, 1000000L)))
  }

  test("bloomBuild/bloomFilter: no false negatives, empty filter drops all, union merge") {
    import graft.functions.Sketch
    val members = (1L to 100L).toDF("k")
    val bits = Sketch.bloomBuild(members, col("k"), m = 4096, k = 4)
    val probe = (1L to 1000L).toDF("k")
    val kept = Sketch.bloomFilter(probe, col("k"), bits, m = 4096, k = 4)
      .as[Long].collect().toSet
    // every true member survives — the Bloom contract has no false negatives
    assert((1L to 100L).toSet.subsetOf(kept))
    // false positives exist in principle but are bounded; at n=100, m=4096,
    // k=4 the expected rate is ~(1-e^{-400/4096})^4 ≈ 0.8‰ of 900 probes
    assert((kept -- (1L to 100L).toSet).size <= 20)
    // an empty sketch keeps nothing
    assert(Sketch.bloomFilter(probe, col("k"),
      Sketch.bloomBuild(members.where(lit(false)), col("k"), 4096, 4), 4096, 4).count() === 0)
    // merge = union-distinct of bit tables: two half-sketches ≡ the whole
    val b1 = Sketch.bloomBuild(members.where(col("k") <= 50), col("k"), 4096, 4)
    val b2 = Sketch.bloomBuild(members.where(col("k") > 50), col("k"), 4096, 4)
    val mergedBits = b1.unionByName(b2).distinct()
    assert(Sketch.bloomFilter(probe, col("k"), mergedBits, 4096, 4)
      .as[Long].collect().toSet === kept)
  }

  test("bloom null keys: build contributes no bits, probe never passes, no driver NPE") {
    import graft.functions.Sketch
    // a null key's md5 chain yields a NULL bit row; before the r9 guard the
    // packed-word collect NPE'd unboxing it. Defined semantics: null is
    // uniformly "not a member" on both sides.
    val members = Seq(Some("a"), Some("b"), None).toDF("k")
    val bits = Sketch.bloomBuild(members, col("k"), m = 1024, k = 3)
    val nonNull = Sketch.bloomBuild(members.where(col("k").isNotNull), col("k"), 1024, 3)
    assert(bits.where(col("bit").isNotNull).as[Long].collect().toSet ===
      nonNull.as[Long].collect().toSet)
    val probe = Seq(Some("a"), Some("zz"), None).toDF("k")
    val kept = Sketch.bloomFilter(probe, col("k"), bits, 1024, 3)
      .as[Option[String]].collect().toSeq
    assert(kept.contains(Some("a")) && !kept.contains(None))
  }

  test("histBuild/histQuantiles: exact buckets, quantile convention, bucket-wise sum merge") {
    import graft.functions.Sketch
    val vals = Seq(1L, 2L, 3L, 4L, 8L, 100L, 0L).toDF("v")
    val sk = Sketch.histBuild(vals, col("v"))
    // 1→b0, 2,3→b1, 4→b2, 8→b3, 100→b6, 0→b-1
    assert(sk.as[(Int, Long)].collect().toMap ===
      Map(-1 -> 1L, 0 -> 1L, 1 -> 2L, 2 -> 1L, 3 -> 1L, 6 -> 1L))
    // q500 of 7 values: first cum ≥ 3.5 is bucket 1 → est 2²−1 = 3;
    // q1000 → bucket 6 → 127; q100 → first cum ≥ 0.7 is the -1 pool → 0
    val qs = Sketch.histQuantiles(sk, Seq(100, 500, 1000))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(qs === Map(100L -> (-1L, 0L), 500L -> (1L, 3L), 1000L -> (6L, 127L)))
    // merge law: per-half sketches sum bucket-wise to the whole
    val h1 = Sketch.histBuild(vals.limit(3), col("v"))
    val h2 = Sketch.histBuild(vals.except(vals.limit(3)), col("v"))
    // (except is a set op; rows here are distinct so the split is a partition)
    val merged = h1.unionByName(h2).groupBy("bucket").agg(sum("cnt").as("cnt"))
      .as[(Int, Long)].collect().toMap
    assert(merged === sk.as[(Int, Long)].collect().toMap)
  }

  test("richClub: K4-with-pendants closed form") {
    import graft.algos.Algos
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 2L)).toDF("src", "dst")
    val got = Algos.richClub(es, Seq(0L, 1L, 3L, 4L))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(0L) === ((6L, 8L, 5333L))) // all 6 nodes, 8 edges, 2·8·10⁴/30
    assert(got(1L) === ((4L, 6L, 10000L))) // the K4 is a perfect club
    assert(got(3L) === ((2L, 1L, 10000L))) // deg-4 pair 1,2 still linked
    assert(got(4L) === ((0L, 0L, 0L))) // empty club reports 0, not a crash
  }

  test("hllRegisters/hllEstimate: estimate within the HLL envelope; bucket-wise max merge") {
    import graft.functions.Sketch
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val exact = orders.select("o_orderkey").distinct().count()
    val regs = Sketch.hllRegisters(orders, col("o_orderkey"))
    assert(regs.count() === 64L) // every bucket present, empties as 0
    val est = Sketch.hllEstimate(regs).as[Long].head()
    // raw-estimator regime (n >> 2.5m): within 3 sigma = 3·1.04/√64 = 39%
    assert(math.abs(est - exact).toDouble / exact < 0.39,
      s"est $est vs exact $exact")
    // merge = bucket-wise max: sketching two halves and max-merging equals
    // sketching the union (the property that makes per-day sketches compose)
    val lo = orders.where(col("o_orderkey") % 2 === 0)
    val hi = orders.where(col("o_orderkey") % 2 =!= 0)
    val merged = Sketch.hllRegisters(lo, col("o_orderkey"))
      .unionByName(Sketch.hllRegisters(hi, col("o_orderkey")))
      .groupBy("bucket").agg(max("reg").as("reg"))
      .as[(Long, Int)].collect().toMap
    val whole = regs.as[(Long, Int)].collect().toMap
    assert(merged === whole)
    // deterministic under repartitioning
    val re = Sketch.hllRegisters(orders.repartition(7), col("o_orderkey"))
      .as[(Long, Int)].collect().toMap
    assert(re === whole)
  }

  test("hllRegistersByKey/hllEstimateByKey: per-group ≡ per-slice global HLL, sparse exactness") {
    import graft.functions.Sketch
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    // each group's sparse per-key estimate must equal running the GLOBAL
    // dense pipeline on that group's slice alone — the sparse (m − np)·2^R
    // term is exactly the dense fill's zero registers
    val byKey = Sketch.hllEstimateByKey(
      Sketch.hllRegistersByKey(orders, col("o_orderstatus"), col("o_orderkey")))
      .as[(String, Long)].collect().toMap
    val statuses = orders.select("o_orderstatus").distinct().as[String].collect()
    statuses.foreach { st =>
      val slice = orders.where(col("o_orderstatus") === st)
      val dense = Sketch.hllEstimate(Sketch.hllRegisters(slice, col("o_orderkey")))
        .as[Long].head()
      assert(byKey(st) === dense, s"group $st: sparse ${byKey(st)} vs dense $dense")
      val exact = slice.select("o_orderkey").distinct().count()
      assert(math.abs(byKey(st) - exact).toDouble / exact < 0.39,
        s"group $st: est ${byKey(st)} vs exact $exact")
    }
  }

  test("dsirScore: floor-log2 likelihood ratio, hand-computed; partition-invariant") {
    import graft.pipeline.Corpus
    // aa only in the target doc (tgt = raw -> 0 per token); bb 1-of-3 in
    // target (flog2(2) - flog2(4) = -1); cc only outside (flog2(1) -
    // flog2(2) = -1). Collision-free bucketing verified by construction:
    // the three tokens land in distinct md5 buckets (asserted indirectly —
    // a collision would break these exact scores).
    val docs = Seq((1L, "aa aa bb", "en"), (2L, "bb bb cc", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Corpus.dsirScore(docs, "doc_id", "text", col("lang") === "en")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> -1L, 2L -> -3L))
    val re = Corpus.dsirScore(docs.repartition(5), "doc_id", "text", col("lang") === "en")
      .as[(Long, Long)].collect().toMap
    assert(re === got)
    // empty docs are absent (no tokens, no ratio)
    val withEmpty = docs.unionByName(Seq((3L, "", "en")).toDF("doc_id", "text", "lang"))
    assert(Corpus.dsirScore(withEmpty, "doc_id", "text", col("lang") === "en")
      .where(col("doc_id") === 3L).count() === 0L)
  }

  test("bpeMerges: hand-computed merge sequence, greedy run semantics, early exhaustion") {
    import graft.functions.TextOps
    // words: aaab ×2, ab ×1. Round 1: (a,a) appears 2× per aaab = 4 > (a,b) 3
    // — and the greedy left-to-right rewrite turns <a><a><a> into <aa><a>,
    // NOT <a><aa>. Round 2: (a,b) 3 beats (aa,a) 2. Round 3: (aa,ab) 2.
    // Then no pairs remain anywhere -> stops early despite nMerges = 6.
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, "text", nMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
    // count-tie broken by (a, b) ascending: "ba ab" has (b,a) and (a,b)
    // both at 1 -> (a,b) wins round 1
    val tie = Seq((1L, "ba ab")).toDF("doc_id", "text")
    val first = TextOps.bpeMerges(tie, "text", nMerges = 1)
      .as[(Int, String, String, Long)].head()
    assert(first === ((1, "a", "b", 1L)))
  }

  test("CosineGateDot: exact boundary admission, codegen/interpreted/BigInt agreement") {
    import org.apache.spark.sql.graft.CosineGateDot
    // identical vectors: dot = na = nb = n, so the test 10⁶·n² >= t2·n²
    // reduces to t2 <=> 10⁶ — an EXACT boundary at tauPm = 1000 that the
    // double prescreen cannot decide (ratio 1.0 sits inside its ±1e-6
    // margin), forcing the BigInt branch: >= must admit at equality
    assert(CosineGateDot.admit(12345L, 12345L, 12345L, 1000L * 1000L))
    assert(!CosineGateDot.admit(12345L, 12345L, 12345L, 1001L * 1001L))
    assert(!CosineGateDot.admit(0L, 5L, 5L, 0L))     // dot <= 0 never admits
    assert(!CosineGateDot.admit(-3L, 5L, 5L, 0L))
    // far-from-boundary cases decide in the double fast path; spot-check
    // they agree with the exact integer form on big unnormalized norms
    // (the long-overflow regime the decimal tier was built for)
    val na = 40000000000L; val nb = 90000000000L // |a|²,|b|² ~ norm 2e5, 3e5
    def exact(dot: Long, t2: Long) =
      (BigInt(dot) * dot * 1000000L) >= (BigInt(t2) * na * nb)
    for (dot <- Seq(1L, 1000000L, 30000000000L, 59999999999L, 60000000001L, 3600000000000L);
         t2 <- Seq(1L, 450L * 450L, 1000L * 1000L))
      assert(CosineGateDot.admit(dot, na, nb, t2) === exact(dot, t2), s"dot=$dot t2=$t2")
    // end-to-end through whole-stage codegen: the expression admits exactly
    // the rows the decimal formulation does, and returns the dot itself
    val vecs = Seq(
      (1L, Seq(1000.0f, 0.0f)), (2L, Seq(1000.0f, 0.0f)),   // cos = 1 (boundary at tau=1000)
      (3L, Seq(0.0f, 1000.0f)),                              // orthogonal to 1,2
      (4L, Seq(700.0f, 700.0f))                              // cos ≈ 0.707 to both axes
    ).toDF("vec_id", "embedding")
    val got = graft.sim.Ann.cosinePairs(vecs, "vec_id", "embedding", tauPm = 1000, dim = 2)
      .select("id_a", "id_b", "dot").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1000000L * 1000000L))) // dot of two milli-quantized (1000,0) vectors
    val loose = graft.sim.Ann.cosinePairs(vecs, "vec_id", "embedding", tauPm = 700, dim = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose === Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L)))
  }

  test("verifyPairs: exact edit-distance gate on candidate pairs, empty-text identity") {
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown cat"), // lev 3, len 19 -> sim 8421
      (3L, "completely different words here"), (4L, ""), (5L, "")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, "x"), (1L, 3L, "y"), (4L, 5L, "z")).toDF("id_a", "id_b", "tag")
    val all = Dedup.verifyPairs(docs, "doc_id", "text", pairs, minSimBp = 0L)
      .select("id_a", "id_b", "tag", "lev", "sim_bp")
      .as[(Long, Long, String, Long, Long)].collect().toSet
    // lev("the quick brown fox","the quick brown cat")=3; 10000-3*10000/19=8422
    assert(all.exists(r => r._1 == 1L && r._2 == 2L && r._3 == "x" && r._4 == 3L && r._5 == 8422L))
    // both-empty pair: identical by convention, never a divide-by-zero
    assert(all.exists(r => r._1 == 4L && r._2 == 5L && r._4 === 0L && r._5 === 10000L))
    // the gate actually drops dissimilar candidates; provenance columns ride
    val kept = Dedup.verifyPairs(docs, "doc_id", "text", pairs, minSimBp = 8000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(kept === Set((1L, 2L), (4L, 5L)))
    // provenance columns that collide with the internally generated names
    // are refused loudly rather than silently replaced/ambiguous
    val clash = pairs.withColumn("sim_bp", lit(1L))
    val ex = intercept[IllegalArgumentException] {
      Dedup.verifyPairs(docs, "doc_id", "text", clash, minSimBp = 0L)
    }
    assert(ex.getMessage.contains("sim_bp"))
  }

  test("bpeEncode: subword counts track the merge table; training corpus round-trips") {
    import graft.functions.TextOps
    // same corpus as the bpeMerges spec: merges (a,a), (a,b), (aa,ab)
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    // zero merges: every word stays characters
    val m0 = TextOps.bpeMerges(docs, "text", nMerges = 6).where(lit(false))
    assert(TextOps.bpeEncode(docs, "doc_id", "text", m0)
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 6L), (2L, 1L, 4L))) // aaab=4 chars, ab=2
    // one merge (a,a): aaab -> <aa><a><b> = 3, ab -> 2
    val m1 = TextOps.bpeMerges(docs, "text", nMerges = 1)
    assert(TextOps.bpeEncode(docs, "doc_id", "text", m1)
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 5L), (2L, 1L, 3L)))
    // the full table collapses both words to single run-merged forms:
    // aaab -> <aa><ab> -> <aaab> = 1 symbol, ab -> <ab> = 1
    val mAll = TextOps.bpeMerges(docs, "text", nMerges = 6)
    assert(TextOps.bpeEncode(docs, "doc_id", "text", mAll)
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 2L), (2L, 1L, 1L)))
    // unseen words still encode with whatever merges apply: "aab" under
    // (a,a) then (a,b) -> <aa><b>: the (a,b) merge no longer matches
    val unseen = Seq((9L, "aab baa")).toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(unseen, "doc_id", "text", mAll)
      .as[(Long, Long, Long)].head()
    assert(enc === ((9L, 2L, 4L))) // aab -> <aa><b> (2), baa -> <b><aa> (2)
  }

  /** Independent driver-side Lloyd replay with the operator's exact rules
    * (lowest-id init, argmin with lowest-cid ties, Σ div n updates, carry
    * on empty) over vectors quantized by the SAME Ann.quantize column —
    * only the iteration logic is re-derived, so a logic defect in either
    * side breaks the parity. */
  private def lloydReference(rows: Array[(Long, Array[Long])], k: Int,
      iters: Int): Map[Long, (Int, Long)] = {
    val sorted = rows.sortBy(_._1)
    var cent: Array[Array[Long]] = sorted.take(k).map(_._2.clone)
    val dim = cent.head.length
    def assign(): Map[Long, (Int, Long)] = rows.map { case (id, q) =>
      var bi = 0; var bd = Long.MaxValue
      cent.zipWithIndex.foreach { case (c, ci) =>
        var d = 0L; var i = 0
        while (i < dim) { val t = q(i) - c(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; bi = ci } // strict: ties keep the lowest cid
      }
      id -> (bi, bd)
    }.toMap
    var r = 1
    while (r < iters) {
      val a = assign()
      cent = cent.zipWithIndex.map { case (prev, ci) =>
        val members = rows.filter { case (id, _) => a(id)._1 == ci }
        if (members.isEmpty) prev
        else Array.tabulate(dim)(i => members.map(_._2(i)).sum / members.length)
      }
      r += 1
    }
    assign()
  }

  test("kmeans matches the independent Lloyd replay on the embeddings table") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val quant = vecs.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
    for (iters <- Seq(1, 3)) {
      val expected = lloydReference(quant, k = 4, iters = iters)
      val got = Ann.kmeans(vecs, "vec_id", "embedding", k = 4, iters = iters)
        .as[(Long, Int, Long)].collect()
        .map { case (id, c, d) => id -> (c, d) }.toMap
      assert(got === expected, s"kmeans diverged from the Lloyd replay at iters=$iters")
    }
    // the assignment must be a real partition into several non-empty cells
    val clusters = Ann.kmeans(vecs, "vec_id", "embedding", k = 4, iters = 3)
      .groupBy("cluster").count().as[(Int, Long)].collect().toMap
    assert(clusters.keys.forall(c => c >= 0 && c < 4))
    assert(clusters.size >= 2, s"degenerate clustering: $clusters")
  }

  test("kmeans: duplicate init centroids tie to the lowest cid and carry the emptied cluster") {
    // id1 and id2 share the zero vector, so c0 == c1 at init. Hand trace
    // (quantized dims all equal; 4 dims):
    //   round 1: every row ties between the identical centroids -> cid 0
    //            (lowest wins); cluster 1 is EMPTY, so the update carries
    //            c1 = 0 verbatim while c0 = mean(0,0,100,200) = 75;
    //   round 2: id1/id2 (at 0) now prefer the carried c1 (dist 0) --
    //            the carry rule visibly changes the outcome; id3/id4 stay
    //            on c0; update: c0 = mean(100,200) = 150, c1 = 0;
    //   round 3 (final assign): id1/id2 -> c1 dist 0; id3/id4 -> c0 at
    //            4*(150-q)^2 = 10000 each.
    val vecs = Seq(
      (1L, Array.fill(4)(0.0f)), (2L, Array.fill(4)(0.0f)),
      (3L, Array.fill(4)(0.1f)), (4L, Array.fill(4)(0.2f)))
      .toDF("vec_id", "embedding")
    // iters = 1 pins the tie-break rule directly in the output: all rows
    // on cid 0 at their exact distance to the shared zero centroid
    val one = Ann.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 1)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(one === Seq((1L, 0, 0L), (2L, 0, 0L), (3L, 0, 40000L), (4L, 0, 160000L)))
    val out = Ann.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 1, 0L), (2L, 1, 0L), (3L, 0, 10000L), (4L, 0, 10000L)))
  }

  test("kmeans excludes NULL and empty embeddings (the unnest-replay rule)") {
    // a SQL replay reads vectors through unnest, which emits nothing for a
    // NULL or empty array — the operator must drop those rows too, not
    // label them with a null/zero distance
    val vecs = Seq(
      (1L, Array.fill(4)(0.0f)), (2L, Array.fill(4)(0.2f)),
      (3L, null.asInstanceOf[Array[Float]]), (4L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val out = Ann.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq(1L, 2L), s"null/empty rows must drop: $out")
  }

  test("kmeans drops mismatched-dim rows in BOTH train and assign (the sq8 gate)") {
    // a vector shorter/longer than the init centroids used to contribute a
    // silently truncated min-length dot — wrong (cluster, dist) and skewed
    // centroid sums; now it DROPS, consistently with sq8/pq encode
    val vecs = Seq(
      (1L, Array.fill(4)(0.0f)), (2L, Array.fill(4)(0.5f)),
      (3L, Array.fill(4)(0.6f)),
      (4L, Array.fill(7)(0.5f)), // longer: would win cluster 1 via truncated dot
      (5L, Array.fill(2)(0.5f))) // shorter
      .toDF("vec_id", "embedding")
    val out = Ann.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L), s"mixed-dim rows must drop: ${out.toSeq}")
    // and the trained centroids must equal a replay over ONLY the clean rows
    val clean = vecs.where(col("vec_id") <= 3L)
    val replay = Ann.kmeans(clean, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(out.toSeq === replay.toSeq, "mixed-dim rows must not perturb training")
    // assignClusters applies the same gate against a trained codec
    val cent = Ann.trainKmeans(clean, "vec_id", "embedding", k = 2, iters = 3)
    val assigned = Ann.assignClusters(vecs, "vec_id", "embedding", cent)
      .select("id").as[Long].collect().sorted.toSeq
    assert(assigned === Seq(1L, 2L, 3L), s"assign must drop mixed-dim rows: $assigned")
  }

  test("volumeAnomalySpine FLAGS a silent outage the default absent-bucket shape never sees") {
    def ts(h: Long) = new Timestamp(h * 3600 * 1000)
    // 10 events/hour for hours 0,1,2,5 — hours 3,4 are a dead pipeline
    val events = Seq(0L, 1L, 2L, 5L).flatMap(h => Seq.fill(10)(ts(h)))
      .map(Tuple1(_)).toDF("ts")
    val plain = Sessionize.volumeAnomaly(events, "ts", 3600L, z = 1L)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    // default shape: the outage hours are ABSENT rows, nothing flags
    assert(plain.map(_._1).toSeq === Seq(0L, 3600L, 7200L, 18000L))
    assert(plain.forall(_._3 == 0), s"uniform live buckets must not flag: ${plain.toSeq}")
    val spined = Sessionize.volumeAnomalySpine(events, "ts", 3600L, z = 1L)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    // spine: all 6 hours exist; exactly the two zero-count hours flag
    // (N=6, S=40, Q=400: dev(0)²=1600 > 1·800, dev(10)²=400 < 800)
    assert(spined.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      (0L, 10L, 0), (3600L, 10L, 0), (7200L, 10L, 0),
      (10800L, 0L, 1), (14400L, 0L, 1), (18000L, 10L, 0)))
    // empty input: empty result, no NPE, no spine to build
    val empty = Seq.empty[Tuple1[Timestamp]].toDF("ts")
    assert(Sessionize.volumeAnomalySpine(empty, "ts", 3600L, z = 1L).count() === 0L)
  }

  test("funnelSteps: per-step counts equal the prefix funnels; within-span post-filter") {
    def ts(s: Long) = new Timestamp(s * 1000)
    val events = Seq(
      // u1 completes a->b->c tightly (within 100s)
      (1L, ts(0L), "a"), (1L, ts(10L), "b"), (1L, ts(20L), "c"),
      // u2 completes a->b fast, c only after 200000s (outside span)
      (2L, ts(0L), "a"), (2L, ts(50L), "b"), (2L, ts(200000L), "c"),
      // u3 only reaches a->b; a c BEFORE b must not count
      (3L, ts(0L), "c"), (3L, ts(5L), "a"), (3L, ts(9L), "b"),
      // u4 only a
      (4L, ts(100L), "a"),
      // u5 has b, c but never a: in no step
      (5L, ts(0L), "b"), (5L, ts(1L), "c"))
      .toDF("user_id", "ts", "event_type")
    val steps = Seq("a", "b", "c")
    val got = Sessionize.funnelSteps(events, "user_id", "ts", "event_type", steps,
        spanSec = 86400L)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1, "a", 4L, 4L), (2, "b", 3L, 3L), (3, "c", 2L, 1L)))
    // law: step k's n_keys = the k-prefix funnel's completer count
    steps.indices.foreach { i =>
      val prefix = Sessionize.funnel(events, "user_id", "ts", "event_type",
        steps.take(i + 1)).count()
      assert(got(i)._3 === prefix, s"step ${i + 1} count must equal the prefix funnel")
    }
  }

  test("streamingFunnel reproduces the ORACLED batch funnel on an in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val steps = Seq("signup", "view", "click", "purchase")
    val expected = Sessionize.funnel(events, "user_id", "ts", "event_type", steps)
      .select(col("key"), // events ts is TIMESTAMP_NTZ; cast is identity under the UTC session
        unix_micros(col("t1").cast("timestamp")), unix_micros(col("t2").cast("timestamp")),
        unix_micros(col("t3").cast("timestamp")), unix_micros(col("t4").cast("timestamp")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "the batch funnel must have completers at sf0.001")
    val replay = events.select("user_id", "ts", "event_type")
      .as[(Long, Timestamp, String)].collect().sortBy(_._2.getTime) // chronological
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Sessionize.streamingFunnel(
        mem.toDS().toDF("user_id", "ts", "event_type").as[Sessionize.TypedEvent], steps)
      .writeStream.format("memory").queryName("funnel_bridge").outputMode("append").start()
    val (h1, h2) = replay.splitAt(replay.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    // re-deliver the second half: completed keys must NOT re-emit
    mem.addData(h2); q.processAllAvailable()
    val got = spark.table("funnel_bridge").as[(Long, Seq[Long])].collect()
      .map(r => (r._1, r._2(0), r._2(1), r._2(2), r._2(3))).toSet
    q.stop()
    assert(got === expected, "stream completions must equal the oracled batch funnel")
    // documented arrival-order deviation: a LATE earlier-step event is not
    // re-matched (greedy re-matching would need per-key history)
    def ts(s: Long) = new Timestamp(s * 1000)
    val mem2 = MemoryStream[(Long, Timestamp, String)]
    val q2 = Sessionize.streamingFunnel(
        mem2.toDS().toDF("user_id", "ts", "event_type").as[Sessionize.TypedEvent],
        Seq("a", "b"))
      .writeStream.format("memory").queryName("funnel_late").outputMode("append").start()
    mem2.addData(Seq((7L, ts(100L), "b"))); q2.processAllAvailable() // b before a arrives
    mem2.addData(Seq((7L, ts(50L), "a"))); q2.processAllAvailable()  // late a
    val late = spark.table("funnel_late").count()
    q2.stop()
    assert(late === 0L, "a late earlier-step event must not retroactively complete")
  }

  test("volumeStats / flagBuckets: empty input is the lawful (0,0,0) baseline, not an NPE") {
    val empty = Seq.empty[(Timestamp, Long)].toDF("ts", "x")
    val stats = Sessionize.volumeStats(empty, "ts", 3600L)
    assert(stats === ((0L, 0L, 0L)))
    // flagging anything against the empty baseline flags nothing (rhs = 0,
    // dev = 0 for every n when N = 0 — strict inequality never fires)
    val live = Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L)).toDF("ts", "x")
    val flags = Sessionize.flagBuckets(
      live.groupBy(expr("unix_timestamp(ts) div 3600L").as("b")).agg(count(lit(1)).as("n")),
      stats, 3600L, z = 2L).select("flag").as[Int].collect().toSeq
    assert(flags === Seq(0))
  }

  test("pqTrain on an empty corpus fails with the descriptive row-count message") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.pqTrain(empty, "vec_id", "embedding", m = 4, k = 4, iters = 2)
    }
    assert(e.getMessage.contains("0 rows"), s"want the friendly message, got: ${e.getMessage}")
  }

  test("clusterSample caps each cluster in deterministic hash order") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cap = 5
    val assignment = Ann.kmeans(vecs, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Int, Long)].collect()
    val sampled = Ann.clusterSample(vecs, "vec_id", "embedding", k = 4, iters = 3, cap = cap)
      .as[(Long, Int, Long, Int)].collect()
    assert(sampled.forall(_._4 <= cap))
    // expected membership: per cluster, the cap lowest (md5-prefix, id) keys
    val md = java.security.MessageDigest.getInstance("MD5")
    def h8(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val expected = assignment.groupBy(_._2).toSeq.flatMap { case (c, rows) =>
      rows.sortBy(r => (h8(r._1), r._1)).take(cap).map(r => (r._1, c)).toSeq
    }.toSet
    assert(sampled.map(r => (r._1, r._2)).toSet === expected)
  }

  test("streaming cluster assignment matches the ORACLED batch kmeans labels") {
    // assignClusters is a pure projection over literal centroids, so the
    // SAME call labels a readStream source — batch-train, stream-assign
    // (the streaming-inference shape). A MemoryStream replay of the
    // embeddings table must reproduce the oracled q_kmeans assignment
    // (same k/iters) row for row.
    implicit val sqlCtx = spark.sqlContext
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = Ann.trainKmeans(vecs, "vec_id", "embedding", k = 4, iters = 3)
    val expected = Ann.kmeans(vecs, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Int, Long)].collect().toSet
    val replay = vecs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Ann.assignClusters(mem.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent)
      .writeStream.format("memory").queryName("km_bridge").outputMode("append").start()
    val (h1, h2) = replay.splitAt(replay.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    val got = spark.table("km_bridge").as[(Long, Int, Long)].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("pq matches the per-subspace Lloyd replay; m=1 degenerates to kmeans") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val quant = vecs.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
    val (m, k, iters) = (4, 4, 2)
    val d = quant.head._2.length / m
    // independent replay: slice each vector, run the reference Lloyd per
    // subspace, expect (id, sub) -> (code, dist)
    val expected = (0 until m).flatMap { s =>
      val sub = quant.map { case (id, q) => (id, q.slice(s * d, s * d + d)) }
      lloydReference(sub, k, iters).map { case (id, (c, dd)) => (id, s.toLong) -> (c, dd) }
    }.toMap
    val got = Ann.pq(vecs, "vec_id", "embedding", m, k, iters)
      .as[(Long, Long, Int, Long)].collect()
      .map { case (id, s, c, dd) => (id, s) -> (c, dd) }.toMap
    assert(got === expected)
    // degenerate law: one subspace IS kmeans (same init, rounds, tie-break)
    val viaKmeans = Ann.kmeans(vecs, "vec_id", "embedding", k, iters)
      .as[(Long, Int, Long)].collect().map { case (id, c, dd) => (id, 0L) -> (c, dd) }.toMap
    val viaPq = Ann.pq(vecs, "vec_id", "embedding", 1, k, iters)
      .as[(Long, Long, Int, Long)].collect()
      .map { case (id, s, c, dd) => (id, s) -> (c, dd) }.toMap
    assert(viaPq === viaKmeans)
    // codebook shape: m books of k codewords of dim/m
    val books = Ann.pqTrain(vecs, "vec_id", "embedding", m, k, iters)
    assert(books.length == m && books.forall(b => b.length == k && b.forall(_.length == d)))
  }

  test("volumeAnomaly: strict integer z-test — outlier flags, uniform stream doesn't") {
    def t(s: Long) = new Timestamp(s * 1000)
    // 6 hours of one event + 1 hour of 20: N=7, S=26, Q=406;
    // outlier: (20*7-26)^2 = 12996 > 4*(7*406-676) = 8664 -> flag;
    // ones: (7-26)^2 = 361 -> no flag
    val ev = ((0 to 5).map(h => (h.toLong, t(h * 3600L + 7))) ++
      (1 to 20).map(i => (100L + i, t(6 * 3600L + i))))
      .toDF("event_id", "ts")
    val got = Sessionize.volumeAnomaly(ev, "ts", bucketSec = 3600L, z = 2L)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got === (0 to 5).map(h => (h * 3600L, 1L, 0)) :+ (6 * 3600L, 20L, 1))
    // a single outlier among equals sits EXACTLY at 2 sigma — the strict
    // test must NOT flag it (the >= boundary), and a zero-variance stream
    // flags nothing at all
    val boundary = ((0 to 3).map(h => (h.toLong, t(h * 3600L))) ++
      (1 to 9).map(i => (200L + i, t(4 * 3600L + i)))).toDF("event_id", "ts")
    assert(Sessionize.volumeAnomaly(boundary, "ts", 3600L, 2L)
      .agg(sum("flag")).head().getLong(0) == 0L)
    val uniform = (0 to 4).map(h => (h.toLong, t(h * 3600L))).toDF("event_id", "ts")
    assert(Sessionize.volumeAnomaly(uniform, "ts", 3600L, 2L)
      .agg(sum("flag")).head().getLong(0) == 0L)
  }

  test("preferencePairs: trimmed sides, gap filter, no self-pairs in tiny groups") {
    import graft.pipeline.Corpus
    val docs = Seq(
      ("A", 1L, 100L), ("A", 2L, 90L), ("A", 3L, 80L), ("A", 4L, 10L), ("A", 5L, 5L),
      ("B", 6L, 7L),                   // singleton: in both trims, never self-pairs
      ("C", 7L, 60L), ("C", 8L, 5L)    // two rows: one valid direction only
    ).toDF("source", "doc_id", "n_chars")
    val got = Corpus.preferencePairs(docs, "doc_id", "source", "n_chars",
        minGap = 50L, sideCap = 2)
      .select("grp", "id_chosen", "id_rejected").as[(String, Long, Long)]
      .collect().toSet
    // A: top {1, 2} x bot {5, 4}, all four gaps >= 50; C: only (7, 8)
    assert(got === Set(("A", 1L, 5L), ("A", 1L, 4L), ("A", 2L, 5L), ("A", 2L, 4L),
      ("C", 7L, 8L)))
  }

  test("flagBuckets survives counts whose squared deviation overflows Long") {
    // n = 3e9 among ones: dev = n*N - S ~ 9e9, dev^2 ~ 8.1e19 > Long.Max —
    // raw Long math wraps silently; the decimal comparison stays exact.
    // (Single outlier among equals sits exactly at 2 sigma, so z = 1.)
    val big = 3000000000L
    val buckets = Seq((0L, big), (1L, 1L), (2L, 1L), (3L, 1L)).toDF("b", "n")
    val stats = (4L, big + 3L, big * big + 3L)
    val got = Sessionize.flagBuckets(buckets, stats, bucketSec = 1L, z = 1L)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq((0L, big, 1), (1L, 1L, 0), (2L, 1L, 0), (3L, 1L, 0)))
  }

  test("streaming anomaly flags: frozen baseline stats reproduce the ORACLED batch flags") {
    // the monitoring shape: train (N, S, Q) on a reference window, FREEZE,
    // flag live windowed counts — flagBuckets is a pure literal-stats
    // predicate, so stream-produced bucket counts flag identically
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val stats = Sessionize.volumeStats(events, "ts", 3600L)
    val expected = Sessionize.volumeAnomaly(events, "ts", 3600L, z = 2L)
      .as[(Long, Long, Int)].collect().toSet
    val replay = events.select(col("ts")).as[Timestamp].collect().toSeq
    val mem = MemoryStream[Timestamp]
    val (h1, h2) = replay.splitAt(replay.size / 2)
    val q = mem.toDS().toDF("ts")
      .groupBy(expr("unix_timestamp(ts) div 3600L").as("b"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("anom_bridge").outputMode("complete").start()
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    val got = Sessionize.flagBuckets(spark.table("anom_bridge"), stats, 3600L, z = 2L)
      .as[(Long, Long, Int)].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("retention: signup-week cohorts, pre-signup activity ignored, k0 is 10000 bp") {
    val wk = 604800L
    def t(s: Long) = new Timestamp(s * 1000)
    // users 1,2 cohort at week 0 (signups inside [0, wk)); user 3 at week 2;
    // user 4 never signs up -> no cohort, and their activity counts nowhere
    val ev = Seq(
      (1L, t(100), "signup"), (1L, t(wk + 5), "view"), (1L, t(3 * wk + 1), "click"),
      (2L, t(200), "signup"), (2L, t(50), "view") /* same week as signup */,
      (3L, t(2 * wk + 9), "signup"), (3L, t(wk), "view") /* PRE-signup: ignored */,
      (3L, t(3 * wk), "purchase"),
      (4L, t(10), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Sessionize.retention(ev, "user_id", "ts", "event_type", "signup")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // cohort 0 (n=2): k0 both (signup events), k1 user1, k3 user1
    // cohort 2 (n=1): k0 (signup), k1 (purchase at week 3)
    assert(got === Set(
      (0L, 0L, 2L, 2L, 10000L), (0L, 1L, 1L, 2L, 5000L), (0L, 3L, 1L, 2L, 5000L),
      (2L, 0L, 1L, 1L, 10000L), (2L, 1L, 1L, 1L, 10000L)))
  }

  test("funnel: greedy-earliest strictly-after matching, incomplete users excluded") {
    def t(s: Long) = new Timestamp(s * 1000)
    // user 1 completes — but only via the strictly-after rule: the view
    // BEFORE signup and the click BEFORE the matched view are ignored, and
    // purchase@30 == t3 is NOT strictly after (purchase@40 matches)
    // user 2 lacks purchase; user 3 has all steps in REVERSE order
    val ev = Seq(
      (1L, t(10), "signup"), (1L, t(5), "view"), (1L, t(20), "view"),
      (1L, t(15), "click"), (1L, t(30), "click"), (1L, t(30), "purchase"),
      (1L, t(40), "purchase"),
      (2L, t(10), "signup"), (2L, t(20), "view"), (2L, t(30), "click"),
      (3L, t(1), "purchase"), (3L, t(2), "click"), (3L, t(3), "view"), (3L, t(4), "signup")
    ).toDF("user_id", "ts", "event_type")
    val got = Sessionize.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
      .as[(Long, Timestamp, Timestamp, Timestamp, Timestamp)].collect().toSeq
    assert(got === Seq((1L, t(10), t(20), t(30), t(40))))
    // single-step funnel degenerates to a keyed min
    val one = Sessionize.funnel(ev, "user_id", "ts", "event_type", Seq("view"))
      .as[(Long, Timestamp)].collect().sortBy(_._1).toSeq
    assert(one === Seq((1L, t(5)), (2L, t(20)), (3L, t(3))))
  }

  test("knnLabel: majority vote with smallest-label ties over the ivfTopK neighbors") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val topk = Ann.ivfTopK(vecs, "vec_id", "embedding", k = 3,
        querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4)
      .as[(Long, Long, Long, Int)].collect()
    val lbl = vecs.select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = topk.groupBy(_._1).map { case (q, rows) =>
      val votes = rows.groupBy(r => lbl(r._2)).map { case (l, rs) => (l, rs.length.toLong) }
      val (bestL, bestV) = votes.toSeq.sortBy { case (l, v) => (-v, l) }.head
      (q, bestL, bestV)
    }.toSet
    val got = Ann.knnLabel(vecs, "vec_id", "embedding", "label", k = 3,
        querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty && got.forall(_._3 >= 1))
    // null-label tie: Spark's bare asc sorts nulls FIRST (DuckDB: LAST) —
    // the pinned nulls-last tie-break means a real label beats a null seed
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f), java.lang.Integer.valueOf(7)),
      (2L, Array(0.9f, 0.1f), null.asInstanceOf[java.lang.Integer]),
      (3L, Array(0.8f, 0.2f), java.lang.Integer.valueOf(5)))
      .toDF("vec_id", "embedding", "label")
    val verdict = Ann.knnLabel(tiny, "vec_id", "embedding", "label", k = 2,
        querySide = _.where(col("id") === 1), nlist = 1, nprobe = 1)
      .as[(Long, Option[Long], Long)].collect().toSeq
    assert(verdict === Seq((1L, Some(5L), 1L)),
      s"null label must lose the tie to a real one, got $verdict")
  }

  test("streaming PQ encode matches the ORACLED batch codes row for row") {
    // pqEncode is a pure projection over literal codebooks (the sq8 /
    // assignClusters streaming-inference shape): batch-train, stream-encode
    // a MemoryStream replay of the embeddings table -> the oracled q_pq rows
    implicit val sqlCtx = spark.sqlContext
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = Ann.pqTrain(vecs, "vec_id", "embedding", m = 4, k = 4, iters = 2)
    val expected = Ann.pq(vecs, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    val replay = vecs.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Ann.pqEncode(mem.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding", books)
      .writeStream.format("memory").queryName("pq_bridge").outputMode("append").start()
    val (h1, h2) = replay.splitAt(replay.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    val got = spark.table("pq_bridge").as[(Long, Long, Int, Long)].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("ivfPqTopK: ADC sums recompute from books+codes; ranks are consistent") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (m, kPq, iters) = (4, 4, 2)
    val got = Ann.ivfPqTopK(vecs, "vec_id", "embedding", kTop = 3,
        querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4,
        m = m, kPq = kPq, iters = iters)
      .as[(Long, Long, Long, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (q, n, _, _) => q != n }, "self-pair returned")
    // adc_dist must equal the lookup-table recompute from the engine's own
    // codec components (books and codes are independently Lloyd-replay
    // verified; this pins the table build + m-lookup sum on top of them)
    val books = Ann.pqTrain(vecs, "vec_id", "embedding", m, kPq, iters)
    val d = books.head.head.length
    val codes = Ann.pq(vecs, "vec_id", "embedding", m, kPq, iters)
      .as[(Long, Long, Int, Long)].collect()
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3)
      }
    val quant = vecs.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect().toMap
    def adcOf(q: Long, n: Long): Long =
      (0 until m).map { s =>
        val qs = quant(q).slice(s * d, s * d + d)
        val cw = books(s)(codes(n)(s))
        qs.zip(cw).map { case (x, c) => (x - c) * (x - c) }.sum
      }.sum
    got.foreach { case (q, n, dist, _) =>
      assert(dist == adcOf(q, n), s"ADC mismatch for ($q, $n)")
    }
    // per query: ranks 1..k contiguous, adc non-decreasing, (adc, id) order
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length))
      assert(sorted.map(r => (r._3, r._2)).toSeq ==
        sorted.map(r => (r._3, r._2)).sortBy(identity).toSeq)
    }
  }

  test("ivfPqResTopK routes identically to raw ivfPqTopK; residual cuts reconstruction error") {
    // the residual variant changes ONLY the scoring arithmetic: same
    // leaders, same cells, same probes — so with kTop large enough to
    // return every candidate, the (id_q, id_n) pair sets must be EQUAL
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_q", "id_n").as[(Long, Long)].collect().toSet
    val all = 1000000
    val rawAll = Ann.ivfPqTopK(vecs, "vec_id", "embedding", kTop = all,
      querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4)
    val resAll = Ann.ivfPqResTopK(vecs, "vec_id", "embedding", kTop = all,
      querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4)
    assert(pairsOf(rawAll) === pairsOf(resAll), "candidate routing must be identical")
    // recall@3 against the exact squared-L2 ground truth (the metric ADC
    // approximates — bruteTopK ranks by cosine, a different ordering):
    // recentring by the assigned leader tightens what the codebooks must
    // cover, so residual codes should rank no worse than raw codes (the
    // FAISS default for a reason) — both recalls recorded in session notes
    val quant = vecs.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = quant.filter(_._1 < 100).map { case (qid, qv) =>
      qid -> quant.filter(_._1 != qid)
        .map { case (nid, nv) => (l2(qv, nv), nid) }
        .sortBy(identity).take(3).map(_._2).toSet
    }.toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("id_q", "id_n").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val rawR = recall(Ann.ivfPqTopK(vecs, "vec_id", "embedding", kTop = 3,
      querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4))
    val resR = recall(Ann.ivfPqResTopK(vecs, "vec_id", "embedding", kTop = 3,
      querySide = _.where(col("id") < 100), nlist = 16, nprobe = 4))
    info(f"recall@3 vs exact L2: raw-PQ $rawR%.3f, residual-PQ $resR%.3f")
    assert(rawR > 0.0 && resR > 0.0)
    // the GUARANTEED improvement is reconstruction error, not per-dataset
    // recall (retrieval recall at these toy codec sizes is dominated by
    // the 4-codeword budget and routing, where both variants tie): the
    // total PQ quantization error over the corpus must DROP once vectors
    // are recentered by their cell leader — that is what residual coding
    // buys, and it is deterministic arithmetic, not sampling noise
    def totalErr(encoded: org.apache.spark.sql.DataFrame): Long =
      encoded.agg(sum("dist")).head().getLong(0)
    val rawErr = totalErr(Ann.pq(vecs, "vec_id", "embedding", m = 4, k = 4, iters = 2))
    val rq = Ann.ivfResidualFrame(vecs, "vec_id", "embedding", nlist = 16)
    val resErr = totalErr(Ann.pqEncodeOn(rq, Ann.pqTrainOn(
      rq.select(col("id"), col("q")), m = 4, k = 4, iters = 2)))
    info(f"total PQ reconstruction error: raw $rawErr%d, residual $resErr%d")
    assert(resErr < rawErr,
      s"residual coding must cut reconstruction error: raw=$rawErr res=$resErr")
  }

  test("pHashPairs: banding recall-complete vs exact hamming pairs; planted dup found") {
    implicit val sp = spark
    import graft.multimodal.Multimodal
    // real corpus + a planted byte-identical copy and a one-char variant
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((900001L, base), (900002L, base), // identical twins -> ham 0
        (900003L, base.updated(5, 'X').toString),  // near twin
        (900004L, "")).toDF("doc_id", "text"))     // empty: no pixels, absent
    val media = Multimodal.withPayload(docs, "doc_id", "text")
    val sigs = Multimodal.pHash(media).as[(Long, Long)].collect().toMap
    assert(!sigs.contains(900004L), "empty payload must be absent, like a SQL unnest")
    // exact ground truth: all id-ordered pairs at popcount(xor) <= 3
    val exact = (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      ham = java.lang.Long.bitCount(sa ^ sb) if ham <= 3
    } yield (a, b, ham)).toSet
    val got = Multimodal.pHashPairs(media, maxHam = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact, "banding must be recall-complete and precision-exact")
    assert(got.contains((900001L, 900002L, 0)), "identical payloads must pair at ham 0")
    assert(got.exists { case (a, b, _) => (a, b) == (900001L, 900003L) || (a, b) == (900002L, 900003L) },
      "a one-char variant must stay within the hamming budget")
  }

  test("tokens expression is bit-identical to filter(split(text,' '), len>0)") {
    // adversaries: empty, all-spaces, leading/trailing/consecutive spaces,
    // tabs and newlines INSIDE tokens (only 0x20 splits), multibyte and
    // surrogate-pair tokens, and a real corpus sample
    val tricky = Seq("", " ", "   ", "a", " a", "a ", "  a  b  ",
      "a\tb", "a\nb", "é €", "x𝄞y z", "one two  three   four ")
      .zipWithIndex.map { case (t, i) => (810000L + i, t) }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(tricky.toDF("doc_id", "text"))
    val chain = docs.select(col("doc_id"),
      filter(split(col("text"), " "), t => length(t) > 0).as("ts"))
      .as[(Long, Seq[String])].collect().toMap
    val got = docs.select(col("doc_id"),
      graft.functions.TextOps.tokens(col("text")).as("ts"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got === chain, "expression tokens must equal the declarative chain element-for-element")
    assert(got(810001L) === Seq.empty, "all-spaces text tokenizes to an empty array")
    assert(got(810007L) === Seq("a\tb"), "tabs do not split")
  }

  test("aHash64 expression is bit-identical to the declarative split/explode chain") {
    import graft.multimodal.Multimodal
    // adversaries: empty (absent), 1-char, <64, exactly 64, >64 chars,
    // multibyte (é € and a surrogate-pair 𝄞), replacement char, repeats,
    // and a real corpus sample — the chain semantics being mirrored are
    // split('') advancing by CODE POINT and ascii() = code point
    val tricky = Seq("", "a", "é", "€", "𝄞", "x𝄞y",
      "��", "ab" * 31, "ab" * 32, "ab" * 33, "z" * 200,
      ("the quick brown fox " * 7).trim)
      .zipWithIndex.map { case (t, i) => (800000L + i, t) }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(tricky.toDF("doc_id", "text"))
    val media = Multimodal.withPayload(docs, "doc_id", "text")
    // the pre-expression declarative chain, verbatim
    val text = decode(col("payload"), "UTF-8")
    val chars = when(length(text) >= 1, split(text, ""))
      .otherwise(array().cast("array<string>"))
    val px = media
      .select(col("doc_id").as("id"), posexplode(chars).as(Seq("pos", "c")))
      .select(col("id"), (col("pos") % 64).as("j"), ascii(col("c")).cast("long").as("v"))
    val stripes = px.groupBy("id", "j")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val tot = stripes.groupBy("id")
      .agg(sum(col("s")).as("st"), sum(col("n")).as("nt"))
    val chain = stripes.join(tot, "id")
      .withColumn("bit", (col("s") * col("nt") > col("st") * col("n")).cast("long"))
      .groupBy("id")
      .agg(sum(when(col("j") === 63, col("bit") * lit(Long.MinValue))
        .otherwise(col("bit") * expr("shiftleft(1L, j)")))
        .as("phash"))
      .as[(Long, Long)].collect().toMap
    val got = Multimodal.pHash(media).as[(Long, Long)].collect().toMap
    assert(got === chain, "expression pHash must equal the declarative chain row-for-row")
    assert(!got.contains(800000L), "empty text emits no signature row in either form")
  }

  test("sq8 matches an independent driver replay of the envelope/code/error chain") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // replay from the ENGINE-quantized milli values (the lloydReference
    // convention: quantization portability is q_sq8's oracle's job)
    val quant = vecs.select(col("vec_id"), Ann.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
    val dim = quant.head._2.length
    val mins = Array.tabulate(dim)(i => quant.map(_._2(i)).min)
    val rgs = Array.tabulate(dim)(i => math.max(quant.map(_._2(i)).max - mins(i), 1L))
    val expected = quant.map { case (id, q) =>
      val codes = Array.tabulate(dim) { i =>
        ((math.min(math.max(q(i), mins(i)), mins(i) + rgs(i)) - mins(i)) * 255) / rgs(i)
      }
      val err = Array.tabulate(dim) { i =>
        val d = q(i) - (mins(i) + (codes(i) * rgs(i)) / 255); d * d
      }.sum
      id -> (codes.toSeq, err)
    }.toMap
    val (gotMins, gotRgs) = Ann.trainSq8(vecs, "vec_id", "embedding")
    assert(gotMins.toSeq === mins.toSeq && gotRgs.toSeq === rgs.toSeq)
    val got = Ann.sq8(vecs, "vec_id", "embedding")
      .as[(Long, Array[Long], Long)].collect()
      .map { case (id, c, e) => id -> (c.toSeq, e) }.toMap
    assert(got === expected)
    // codec quality law: every code is an int8 value and every per-vector
    // error respects the per-dim bound |q - recon| <= rg div 255 + 1
    assert(got.values.forall(_._1.forall(c => c >= 0 && c <= 255)))
    val errBound = Array.tabulate(dim)(i => { val b = rgs(i) / 255 + 1; b * b }).sum
    assert(got.values.forall(_._2 <= errBound),
      s"reconstruction error above the envelope bound $errBound")
  }

  test("sq8Encode saturates out-of-envelope values and streams unchanged") {
    // codec trained on a NARROW corpus, applied to values outside it: codes
    // clamp to 0/255 instead of leaving [0, 255] — the streaming-encode
    // case where later batches exceed the trained envelope.
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, Array(0.0f, 0.1f)), (2L, Array(1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val (mins, rgs) = Ann.trainSq8(train, "vec_id", "embedding")
    assert(mins.toSeq === Seq(0L, 100L) && rgs.toSeq === Seq(1000L, 100L))
    val wild = Seq((3L, Array(-5.0f, 9.9f))).toDF("vec_id", "embedding")
    val sat = Ann.sq8Encode(wild, "vec_id", "embedding", mins, rgs)
      .as[(Long, Array[Long], Long)].collect().head
    assert(sat._2.toSeq === Seq(0L, 255L), s"expected saturated codes, got $sat")
    // dimensionality gate: rows whose dim differs from the codec DROP
    // (never NULL-coded / partially-summed) — for sq8 AND pq encode
    val mixed = Seq((4L, Array(0.5f, 0.5f)), (5L, Array(0.5f, 0.5f, 0.5f)),
      (6L, Array(0.5f))).toDF("vec_id", "embedding")
    assert(Ann.sq8Encode(mixed, "vec_id", "embedding", mins, rgs)
      .select("id").as[Long].collect().toSeq === Seq(4L))
    val book2 = Array(Array(Array(0L), Array(100L)), Array(Array(0L), Array(100L)))
    assert(Ann.pqEncode(mixed, "vec_id", "embedding", book2)
      .select("id").distinct().as[Long].collect().toSeq === Seq(4L))
    // the SAME call encodes a MemoryStream replay to identical rows
    val batch = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (bm, br) = Ann.trainSq8(batch, "vec_id", "embedding")
    val expected = Ann.sq8Encode(batch, "vec_id", "embedding", bm, br)
      .as[(Long, Array[Long], Long)].collect()
      .map { case (id, c, e) => (id, c.toSeq, e) }.toSet
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Ann.sq8Encode(mem.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", bm, br)
      .writeStream.format("memory").queryName("sq8_bridge").outputMode("append").start()
    val replay = batch.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val (h1, h2) = replay.splitAt(replay.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    val got = spark.table("sq8_bridge").as[(Long, Array[Long], Long)].collect()
      .map { case (id, c, e) => (id, c.toSeq, e) }.toSet
    q.stop()
    assert(got === expected)
  }

  test("streaming HLL maintenance: per-batch registers merge to the ORACLED batch sketch") {
    // hllRegisters is mergeable by per-bucket MAX (rho of a union is the
    // max of the parts), so maintaining the cardinality sketch over a
    // stream is foreachBatch + merge — no raw-data replay. The merged
    // table must equal the whole-corpus registers (q_hll is DuckDB-oracled
    // over the identical register arithmetic).
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketch
    val keys = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey")).as[Long].collect().toSeq
    val whole = Sketch.hllRegisters(keys.toDF("o_orderkey"), col("o_orderkey"), b = 6)
      .as[(Long, Int)].collect().toMap
    val mem = MemoryStream[Long]
    val acc = scala.collection.mutable.Map[Long, Int]()
    val q = mem.toDS().toDF("o_orderkey").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketch.hllRegisters(batch, col("o_orderkey"), b = 6)
          .as[(Long, Int)].collect()
          .foreach { case (bk, r) => acc(bk) = math.max(acc.getOrElse(bk, 0), r) }
      }.start()
    val (h1, h2) = keys.splitAt(keys.size / 2)
    mem.addData(h1); q.processAllAvailable()
    mem.addData(h2); q.processAllAvailable()
    q.stop()
    assert(acc.toMap === whole)
  }
}
