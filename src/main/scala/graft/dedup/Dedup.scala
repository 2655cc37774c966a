package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Deduplication operators for training-data pipelines (SURVEY.md §2.4).
  *
  * Scale design: no operator here ever materializes the O(n²) pair space.
  * Candidate generation is always an equi-join on a derived key (content
  * hash, shared shingle, MinHash band, SimHash band), so the shuffle is
  * keyed and AQE can split skewed buckets; exact verification runs only on
  * the candidate set.
  */
object Dedup {

  /** Exact dedup: md5 content groups; keep the minimum id per group.
    * NULL text hashes to the EMPTY-STRING sentinel (md5 output is always 32
    * hex chars, so '' cannot collide with a real hash): null-content docs
    * form one ordinary group with a non-null key, which keeps every
    * downstream h-keyed join — [[incrementalExact]]'s store probe above
    * all — a plain equi join that co-locates with an h-bucketed store. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(coalesce(md5(col(textCol)), lit("")).as("h"), col(idCol))
      .groupBy("h")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** INCREMENTAL exact dedup — the continuous-crawl shape: dedup a new
    * batch against the persisted fingerprint STORE of everything kept so
    * far, without rescanning the prior corpus. Returns
    * `(kept, updatedStore)`:
    *
    *  - `kept` = the batch's within-batch survivors (`(h, keep_id, n)`,
    *    min id per content hash — [[exact]]'s convention) whose hash is
    *    ABSENT from the store: the prior corpus always wins, so a recrawled
    *    page never re-enters the corpus under a new id;
    *  - `updatedStore` = `store ∪ kept` fingerprints `(h, keep_id)` — the
    *    input for the next batch.
    *
    * LAW (spec'd): folding batches b₁…bₖ through this function keeps
    * exactly the documents full-corpus `exact(b₁ ∪ … ∪ bₖ)` keeps, whenever
    * batch order agrees with id order (first-batch-wins ≡ min-id-wins).
    * This includes NULL text: [[exact]] hashes it to the '' sentinel, so
    * the null-content group rides the same plain equi anti join as every
    * other key. (A null h here would silently break the LAW — left_anti
    * never matches null, re-emitting a null group per batch — and the
    * null-safe `<=>` alternative compiles to coalesce'd join keys, which
    * disables bucketed-scan co-location on the store: measured, the store
    * side replans with `Bucketed: false` plus an Exchange.)
    *
    * Scale: one keyed agg over the BATCH (not the corpus) + one hash-keyed
    * anti join per batch; the store is fingerprint-sized (one row per
    * distinct kept hash — 32 hex chars + an id, ~50 bytes per corpus
    * document at 100 TB) and joins on `h`, so persisting it bucketed on `h`
    * ([[graft.plans.Scale.saveBucketed]]) makes the per-batch anti join
    * shuffle-free on the store side. */
  def incrementalExact(batch: DataFrame, idCol: String, textCol: String,
      store: DataFrame): (DataFrame, DataFrame) = {
    val kept = exact(batch, idCol, textCol)
      .join(store.select(col("h")), Seq("h"), "left_anti")
    (kept, store.select(col("h"), col("keep_id"))
      .unionByName(kept.select(col("h"), col("keep_id"))))
  }

  /** Bootstrap store for [[incrementalExact]]: no prior corpus. */
  def emptyStore(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("h", StringType), StructField("keep_id", LongType))))
  }

  /** N-gram Jaccard near-dup pairs: word-k-gram shingles → candidates via
    * shared-shingle equi-join → exact |∩|/|∪| in integer basis points.
    * Pairs with j_bp = 10000*|∩|/|∪| (floor) >= minBp. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minBp: Int = 5000): DataFrame = {
    // Prefix filtering (ssjoin): under a global total order of shingles, a
    // pair with J >= τ must share an element within the first
    // |X| - ⌈τ|X|⌉ + 1 shingles of each side. Candidates therefore come from
    // an equi-join on PREFIX shingles only (plus the |B| >= τ|A| size
    // filter the theorem needs) — exact, no false negatives. The order is
    // ASCENDING GLOBAL DOC-FREQUENCY, so prefixes hold the rarest shingles
    // and the join fan-out collapses (a lexical order would cluster frequent
    // shingles into prefixes and defeat the filter).
    // Materialize tokens before shingling: Catalyst lambdas have no
    // let-binding, so an inline tokens() expression would be re-evaluated
    // for every element_at reference inside the shingle transform.
    val raw = docs.select(col(idCol).as("id"),
        graft.functions.NativeOps.wordShingles(col(textCol), k).as("sh0"))
      .where(size(col("sh0")) > 0)
      .localCheckpoint(false) // hard boundary: shingle once, reuse everywhere
    val ex = raw.select(col("id"), explode(col("sh0")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val base = ex.join(dfreq, "s")
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("sh"))
      .withColumn("n", size(col("sh")))
      // n is widened to LONG before every scale-up below: int*int products
      // (n·minBp, n·10⁴) wrap past n ≈ 215k shingles — exactly the very-long
      // documents near-dup detection most needs to keep
      .withColumn("plen",
        (col("n") - expr(s"(cast(n as bigint) * $minBp + 9999) div 10000") + 1).cast("int"))
      // shl: the same shingles LEX-sorted, for the merge-scan rescore
      // (array_sort = Spark's string order = the order the native
      // SortedIntersectCount merge expects)
      .withColumn("shl", array_sort(col("sh")))
      .localCheckpoint(false) // reused 3x (both join sides + rescore); cut lineage
    // ppjoin positional bound (Xiao et al.): matching at (1-based) prefix
    // positions pa, pb caps the achievable overlap at
    // min(na-pa, nb-pb) + 1, and J >= τ needs |∩| >= τ/(1+τ)·(na+nb) —
    // cross-multiplied in integers, so the prune is exact (no rounding, no
    // false negatives; a qualifying pair always passes at its first shared
    // prefix token, the loosest bound).
    val prefix = base.select(col("id"), col("n"),
        posexplode(slice(col("sh"), lit(1), col("plen"))))
      .toDF("id", "n", "pos", "s") // pos is 0-based
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
        col("b.n").cast("long") * 10000L >= lit(minBp.toLong) * col("a.n") &&
        col("a.n").cast("long") * 10000L >= lit(minBp.toLong) * col("b.n") &&
        (least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1) + 1).cast("long") *
          lit((10000 + minBp).toLong) >= lit(minBp.toLong) * (col("a.n").cast("long") + col("b.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(base.select(col("id").as("id_a"), col("shl").as("sha"), col("n").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shl").as("shb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        graft.functions.NativeOps.sortedIntersectCount(col("sha"), col("shb")).as("i"))
      // boundary: `i` feeds the filter AND three projections — without it,
      // collapsed projects re-run the intersect once per reference
      .localCheckpoint(false)
      .withColumn("union_n", (col("na") + col("nb")).cast("long") - col("i"))
      .where(col("i") * 10000 >= lit(minBp) * col("union_n"))
      .select(col("id_a"), col("id_b"), col("i").as("inter_n"), col("union_n"),
        (col("i") * 10000).divide(col("union_n")).cast("long").as("j_bp"))
  }

  /** Near-dup CLUSTERS: the step after pair generation in a real pipeline —
    * connected components over the near-dup pair graph (a doc transitively
    * near-identical to another lands in the same cluster), cluster label =
    * min member id, and the label member is the canonical KEEPER. Docs with
    * no near-dup form singleton clusters of themselves. Components run on
    * GraphX Pregel (the pair graph is the tiny output of candidate
    * generation, but the same code is scale-safe if it isn't). */
  def clusters(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minBp: Int = 5000): DataFrame =
    clustersFromPairs(docs, idCol,
      ngramJaccardPairs(docs, idCol, textCol, k, minBp))

  /** Cluster assignment from an ARBITRARY duplicate-pair table (`id_a`,
    * `id_b`) — the closure step factored out so any candidate generator +
    * verifier chain (Jaccard, MinHash bands, edit-distance gate, SimHash)
    * feeds the same CC + min-id-keeper convention. */
  def clustersFromPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val vs = docs.select(col(idCol).as("id"))
    val cc = graft.algos.Algos.connectedComponents(vs,
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    cc.select(col("id").as("doc_id"), col("component").as("cluster"),
      (col("id") === col("component")).cast("int").as("keep"))
  }

  /** MinHash signature column: array of `numPerm` minima of affine permuted
    * 31-bit shingle hashes — ONE native pass over the hash array
    * ([[org.apache.spark.sql.graft.MinHashSigs]]). The expression references
    * its input exactly once, so the hash transform needs no checkpoint to
    * avoid per-permutation re-evaluation (the old declarative form was
    * numPerm interpreted array_min(transform(…)) traversals). */
  private val MersennePrime = org.apache.spark.sql.graft.MinHashSigs.MersennePrime

  private def minhashSigFromHashes(hashedArr: Column, numPerm: Int): Column =
    graft.functions.NativeOps.minhashSigs(hashedArr, numPerm)

  /** MinHash + LSH near-dup candidate pairs, exact-Jaccard rescored.
    * bands×rows = numPerm; docs sharing ≥1 band bucket become candidates
    * (band-keyed equi-join — the 100 TB path), then exact shingle Jaccard
    * filters to >= minBp. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerm: Int = 64, bands: Int = 16, minBp: Int = 5000): DataFrame = {
    require(numPerm % bands == 0,
      s"numPerm ($numPerm) must be divisible by bands ($bands) — otherwise " +
        s"${numPerm % bands} permutations would be silently ignored")
    val rows = numPerm / bands
    val withSig = docs.select(col(idCol).as("id"),
        graft.functions.NativeOps.wordShingles(col(textCol), k).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint(false) // sh feeds sig + shl + the rescore join-back
      // hash transform inlined: the native one-pass signature references it
      // exactly once (the old per-permutation formulation needed a
      // checkpointed hash column to avoid 64 re-evaluations)
      .withColumn("sig", minhashSigFromHashes(
        transform(col("sh"), x => pmod(xxhash64(x), lit(MersennePrime))), numPerm))
      .withColumn("shl", array_sort(col("sh"))) // lex-sorted for merge rescore
      .localCheckpoint(false) // reused by band-join sides and array join-back
    // Narrow candidate generation: band-join and pair-dedup on ids only; the
    // shingle arrays are joined back only for the surviving pairs.
    val banded = withSig.select(col("id"),
      explode(array((0 until bands).map { bidx =>
        struct(lit(bidx).as("band"),
          xxhash64(concat_ws(",", (0 until rows).map(r => element_at(col("sig"), bidx * rows + r + 1)): _*)).as("bh"))
      }: _*)).as("bk"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val arrs = withSig.select(col("id"), col("shl"), size(col("shl")).as("n"))
    cands
      .join(arrs.select(col("id").as("id_a"), col("shl").as("sha"), col("n").as("na")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("shl").as("shb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        // stays LONG end-to-end: a downcast here re-introduced the int
        // wrap the long-typed jaccard path deliberately avoids
        graft.functions.NativeOps.sortedIntersectCount(col("sha"), col("shb")).as("i"))
      .localCheckpoint(false) // boundary: `i` referenced by filter + outputs
      .withColumn("union_n", col("na").cast("long") + col("nb") - col("i"))
      .where(col("i") * 10000L >= lit(minBp.toLong) * col("union_n"))
      .select("id_a", "id_b", "i", "union_n")
  }

  /** Benchmark-contamination screen — the decontamination primitive of
    * training-data pipelines: flag documents sharing at least `minShared`
    * distinct word-k-gram shingles with any probe document (eval/benchmark
    * text). The probe side is small by nature (a benchmark suite), so its
    * exploded shingle table BROADCASTS and the screen is a map-side hash
    * join over the corpus — no shuffle of the 100 TB side at all. Returns
    * (doc_id, probe_id, shared_n = |shingle ∩|, exact). */
  /** `excludeSameId = true` suits probes drawn FROM the corpus (skip each
    * doc's trivial self-hit). Pass FALSE when probes are an external
    * benchmark file: its id space is unrelated to the corpus, and an
    * accidental id collision would otherwise silently hide a genuinely
    * contaminated document. */
  def contamination(docs: DataFrame, probes: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minShared: Long = 5L, excludeSameId: Boolean = true): DataFrame = {
    def sh(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(graft.functions.NativeOps.wordShingles(col(textCol), k)).as("s"))
    // per-doc shingles are DISTINCT (wordShingles), so join rows per
    // (doc, probe) = shared distinct shingles and a plain count is |∩|
    val hits = sh(docs, "doc_id").join(broadcast(sh(probes, "probe_id")), "s")
    (if (excludeSameId) hits.where(col("doc_id") =!= col("probe_id")) else hits)
      .groupBy("doc_id", "probe_id").agg(count(lit(1)).as("shared_n"))
      .where(col("shared_n") >= minShared)
  }

  /** MinHash band-bucket keys as ONE self-contained expression over a text
    * column — usable by STREAMING callers, where localCheckpoint boundaries
    * are unavailable: the native one-pass signature references the hash
    * transform exactly once, so no materialization is needed anywhere. */
  private[graft] def bandKeyArray(text: Column, k: Int, numPerm: Int, bands: Int): Column = {
    require(numPerm % bands == 0, s"numPerm ($numPerm) must be divisible by bands ($bands)")
    val rows = numPerm / bands
    val hs = transform(graft.functions.NativeOps.wordShingles(text, k),
      x => pmod(xxhash64(x), lit(MersennePrime)))
    val sig = minhashSigFromHashes(hs, numPerm)
    val keys = array((0 until bands).map { bidx =>
      xxhash64(lit(bidx),
        concat_ws(",", (0 until rows).map(r => element_at(sig, bidx * rows + r + 1)): _*))
    }: _*)
    // A doc with fewer than k tokens has NO shingles; the minimum over an
    // empty set is the constant MersennePrime, so every short doc would share
    // one signature and LSH would declare them all near-duplicates. The batch
    // path filters size(sh) > 0 before banding (minhashLsh:144); mirror that
    // here by emitting no band keys at all.
    when(size(graft.functions.NativeOps.wordShingles(text, k)) >= lit(1), keys)
      .otherwise(array().cast("array<bigint>"))
  }

  /** Engine-portable 64-bit token hash, assembled from the md5 hex digest:
    * bits 0-59 from the first 15 hex chars (big-endian), bits 60-63 from the
    * 16th. The top-nibble placement is done with SIGNED arithmetic (CASE on
    * nibble >= 8 → subtract 2⁶⁴) so neither engine ever parses an unsigned
    * value past Long.MaxValue — DuckDB mirrors the exact same three-step
    * formula with ('0x'||substr(md5(t),…))::BIGINT, making the hash a fact
    * of the token bytes rather than of the engine (xxhash64, the default
    * production hash below, has no DuckDB counterpart). */
  def portableHash64(t: Column): Column = {
    val lo = conv(substring(md5(t), 1, 15), 16, 10).cast("long")
    val hi = conv(substring(md5(t), 16, 1), 16, 10).cast("long")
    val p60 = lit(1152921504606846976L) // 2^60
    lo + when(hi >= 8, (hi - 16) * p60).otherwise(hi * p60)
  }

  /** 64-bit SimHash per doc: per-token 64-bit hash; each output bit is the
    * sign of the sum of ±1 contributions across tokens. One custom
    * imperative aggregate ([[org.apache.spark.sql.graft.SimHashAgg]])
    * instead of 64 declarative sum(when(bit(j)…)) columns.
    *
    * `portable = true` swaps xxhash64 for [[portableHash64]] so the whole
    * signature (and therefore the pair set) is reproducible in the DuckDB
    * oracle; the aggregation pipeline is identical either way. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("ts"))
      .select(col("id"), explode(col("ts")).as("t"))
      .withColumn("th", if (portable) portableHash64(col("t")) else xxhash64(col("t")))
      .groupBy("id")
      .agg(org.apache.spark.sql.graft.SimHashAgg.column(col("th")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxHam. Candidates via
    * (maxHam+1)-band exact-match — the pigeonhole bound: ham <= maxHam
    * differing bits cannot touch all maxHam+1 bands, so a qualifying pair
    * always shares at least one band verbatim (a fixed 4-band split was
    * only complete for ham <= 3 and silently lost pairs beyond it). Bands
    * split the 64 bits as evenly as possible; exact popcount rescores. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHam: Int = 3,
      portable: Boolean = false): DataFrame =
    hammingBandPairs(simhash(docs, idCol, textCol, portable), maxHam)

  /** Hamming-distance ≤ maxHam pairs over ANY 64-bit signature frame
    * (id, `sigCol`) via the (maxHam+1)-band pigeonhole of [[simhashPairs]]
    * — shared by SimHash text signatures and the multimodal perceptual
    * hash ([[graft.multimodal.Multimodal.pHash]]): candidates are
    * band-exact equi-join matches (recall-complete for ham ≤ maxHam by the
    * pigeonhole bound), exact popcount rescores. Emits (id_a, id_b, ham),
    * id_a < id_b. */
  def hammingBandPairs(sig: DataFrame, maxHam: Int = 3,
      sigCol: String = "simhash"): DataFrame = {
    require(maxHam >= 0 && maxHam < 64, s"maxHam must be in [0, 64), got $maxHam")
    val nBands = maxHam + 1
    val bounds = (0 to nBands).map(b => b * 64 / nBands) // even-ish split of 64 bits
    val sh = sig.select(col("id"), col(sigCol).as("simhash"))
    val banded = sh.select(col("id"), col("simhash"),
      explode(array((0 until nBands).map { b =>
        val lo = bounds(b); val width = bounds(b + 1) - lo
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(lit(b).as("band"),
          shiftright(col("simhash"), lo).bitwiseAND(mask).as("bits"))
      }: _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("ham", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("ham") <= maxHam)
      .select("id_a", "id_b", "ham")
  }

  /** SUBSTRING-level duplication coverage (the signal behind Lee et al.
    * 2022's "Deduplicating Training Data Makes Language Models Better":
    * exact duplicated SPANS, not whole-document near-dups). A span is a
    * word-k-gram occurring in >= `minDf` distinct documents; each occurrence
    * covers token positions [pos, pos+k). Per document we report the UNION
    * length of all duplicated spans (overlaps counted once) and its
    * basis-point share of the document — the "how much of this doc is
    * copied boilerplate/quotation" metric a span-removal pass keys on.
    *
    * Interval union without a driver pass: order a doc's span starts, take
    * the running max of span ends over STRICTLY PRECEDING rows, and each
    * span contributes max(0, end - max(start, prevMaxEnd)) — one doc-keyed
    * window. Span starts are unique per doc (one gram per position), so the
    * window order is total and the result deterministic.
    *
    * Scale: one posexplode + k-1 doc-keyed `lead`s (the boilerplateGrams
    * shape — per-row lambda shingling is CodegenFallback), one gram-keyed
    * count-distinct shuffle, one gram-keyed semi join back, two doc-keyed
    * windows/aggs. Never a pair join: cost is O(token instances), not
    * O(docs²), and every shuffle is keyed. */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (toks, spans) = dupSpanStarts(docs, idCol, textCol, k, minDf)
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = spans
      .withColumn("__prev_end", coalesce(max(col("pos") + k).over(wPrev), lit(0)))
      .withColumn("__contrib",
        greatest(lit(0), col("pos") + k - greatest(col("pos"), col("__prev_end"))))
      .groupBy("doc_id").agg(sum(col("__contrib")).cast("long").as("covered"))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("cov_bp", expr("(covered * 10000) div n_toks"))
  }

  /** Shared span machinery: `(token positions, duplicated-span starts)`.
    * Grams via posexplode + k-1 doc-keyed leads (per-row lambda shingling is
    * CodegenFallback); duplicated = gram in >= minDf distinct docs; the
    * starts come back through a gram-keyed LEFT SEMI join (PlanSpec pins
    * the shape — never a pair join). */
  private def dupSpanStarts(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Long, minDfBp: Long = 0L): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minDf >= 1)
    // checkpointed: tokenize+posexplode ran THREE times without it — once
    // under grams and once per stripFromStarts consumer (the kept-token
    // anti-join and the n_toks agg); one materialization serves all (r11)
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__t0")))
      .localCheckpoint(false)
    val wLead = Window.partitionBy("doc_id").orderBy("pos")
    val grams = (1 until k).foldLeft(toks)((d, j) =>
        d.withColumn(s"__t$j", lead(col("__t0"), j).over(wLead)))
      .where(col(s"__t${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until k).map(j => col(s"__t$j")): _*).as("gram"))
      .localCheckpoint(false) // referenced twice: df counts + join back
    val dfAgg = grams.groupBy("gram").agg(count_distinct(col("doc_id")).as("df"))
    // relative mode: df >= ceil(n·bp/10⁴) ⟺ df·10⁴ >= n·bp (integers), with
    // n = |docs| as a broadcast 1-row scalar INSIDE the plan — no separate
    // count action, and the n scan is empty-schema (row counts only), so a
    // 100 TB corpus is not re-read for its text a second time
    val dup = if (minDfBp > 0L) {
      val nDocs = docs.agg(count(lit(1)).as("__n"))
      dfAgg.crossJoin(broadcast(nDocs))
        .where(col("df") * 10000L >= col("__n") * minDfBp).select("gram")
    } else dfAgg.where(col("df") >= minDf).select("gram")
    (toks, grams.join(dup, Seq("gram"), "left_semi").select("doc_id", "pos"))
  }

  /** The REMOVAL pass over [[dupSpanCoverage]]'s signal (Lee et al. 2022
    * §4: drop the duplicated spans, keep the rest): rebuild each document's
    * text with every token covered by a duplicated span removed. Fully
    * covered documents come back as EMPTY STRINGS (the caller decides
    * whether to drop them); token-less documents are absent, matching the
    * coverage op. Span membership is a bounded explode (k rows per span,
    * doc-keyed); reassembly is one per-doc sorted aggregation — at 100 TB
    * every shuffle stays keyed by doc or gram, never a pair join. */
  def stripDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Long = 2L): DataFrame =
    stripFromStarts(dupSpanStarts(docs, idCol, textCol, k, minDf), k)

  /** [[stripDupSpans]] with a RELATIVE document-frequency threshold:
    * duplicated = gram in >= ceil(|docs|·minDfBp/10⁴) distinct docs. The
    * corpus size is folded into the SAME plan as a broadcast scalar (an
    * empty-schema row count), so — unlike deriving minDf from a separate
    * `docs.count()` action — a 100 TB corpus is scanned for its text
    * exactly once and the query stays a single declarative chain. A
    * relative threshold is the scale-stable form: any absolute df that
    * targets boilerplate at one SF over- or under-strips at 10× (SURVEY
    * §13's q_pipeline_curate note). */
  def stripDupSpansRelative(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDfBp: Long): DataFrame = {
    require(minDfBp >= 1L)
    stripFromStarts(dupSpanStarts(docs, idCol, textCol, k, 1L, minDfBp), k)
  }

  private def stripFromStarts(ts: (DataFrame, DataFrame), k: Int): DataFrame = {
    val (toks, spans) = ts
    val coveredPos = spans
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val keptText = toks.join(coveredPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("__t0")))),
        s => s.getField("__t0")), " ").as("__txt"))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
      .join(keptText, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__txt"), lit("")).as("text_stripped"))
  }

  /** Candidate-pair VERIFICATION — the stage every scalable dedup pipeline
    * runs AFTER candidate generation: exact edit-distance similarity on the
    * (small) candidate set only. `pairs` carries `id_a`/`id_b` (plus any
    * provenance columns, kept); each pair joins its two texts back and gets
    * `lev` (Levenshtein edits) and `sim_bp = 10000 − ⌊lev·10000 / max(len)⌋`;
    * pairs below `minSimBp` drop.
    *
    * Scale shape: levenshtein is O(|a|·|b|) PER PAIR — affordable precisely
    * because the input is the candidate output of a keyed generator (LSH
    * band join, shingle prefix join), never the corpus cross product; the
    * two text join-backs are id-keyed equi-joins. Both-empty pairs are
    * identical (sim 10000), not a divide-by-zero. */
  def verifyPairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, minSimBp: Long): DataFrame = {
    // provenance columns pass through, so a caller column named like one of
    // the internally generated ones would silently collide (withColumn
    // replaces `lev`/`sim_bp`; `__ta`/`__tb` would be an ambiguous
    // reference) — refuse loudly instead
    val reserved = Seq("lev", "sim_bp", "__ta", "__tb").filter(pairs.columns.contains)
    require(reserved.isEmpty,
      s"verifyPairs: `pairs` carries reserved column name(s) ${reserved.mkString(", ")} " +
        "(generated internally); rename or drop them before verification")
    val d = docs.select(col(idCol), col(textCol))
    val withTexts = pairs
      .join(d.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(d.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
    withTexts
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("sim_bp",
        when(greatest(length(col("__ta")), length(col("__tb"))) === 0, lit(10000L))
          .otherwise(expr("10000L - (lev * 10000L) div greatest(length(__ta), length(__tb))")))
      .where(col("sim_bp") >= minSimBp)
      .drop("__ta", "__tb")
  }

  /** Dataset-overlap matrix: EXACT pairwise Jaccard between the distinct
    * word-k-gram shingle sets of each group — "how much does source A's
    * content overlap source B's?" at dataset granularity (crawl-snapshot
    * drift, mixture-component redundancy, cross-source contamination
    * triage). Emits (grp_a, grp_b, n_common, sim_bp) for grp_a < grp_b
    * where the intersection is NON-EMPTY (zero-overlap pairs are absent —
    * the inner gram join never sees them; the oracle joins identically).
    * sim_bp = 10⁴·|A∩B| div |A∪B|, all 64-bit integer.
    *
    * Scale: one (grp, gram) dedup shuffle, then a gram-keyed self-join
    * whose per-gram fanout is bounded by the GROUP count squared — groups
    * (sources, snapshots, languages) are few by definition, so the pair
    * aggregation is corpus-linear with a tiny constant; set sizes ride a
    * broadcastable |groups|-row side. The per-document near-dup problem
    * stays with [[minhashLsh]] — this is its dataset-level sibling. */
  def groupJaccard(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // ONE materialized shingle-set frame: the per-group distinct-gram set
    // feeds three plan references (both self-join sides + the sizes agg);
    // without the checkpoint Catalyst re-derives the explode + distinct
    // subtree per reference (the r11 q_source_sim plan audit found the
    // Generate + two HashAggregates running THREE times).
    val (sh, shRows, _) = graft.plans.Scale.checkpointed(docs.select(col(groupCol).as("grp"),
        explode(graft.functions.NativeOps.wordShingles(col(textCol), k)).as("gram"))
      .dropDuplicates("grp", "gram"))
    val sizes = sh.groupBy("grp").agg(count(lit(1)).as("n"))
    // the checkpoint blinds stats, so the gram-keyed probe side must be
    // broadcast EXPLICITLY: the counted rows, ~32 B each (a group and a
    // gram string), within the Scale.guarded budget (500k rows). Past it
    // the shuffle join stands — group-shingle sets are corpus-sized in
    // general.
    val b = sh.select(col("grp").as("__gb"), col("gram").as("__gramb"))
    sh.join(graft.plans.Scale.guarded(b, shRows, 32L),
        col("gram") === col("__gramb") && col("grp") < col("__gb"))
      .groupBy(col("grp").as("grp_a"), col("__gb").as("grp_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("grp").as("grp_a"), col("n").as("__na"))), "grp_a")
      .join(broadcast(sizes.select(col("grp").as("grp_b"), col("n").as("__nb"))), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("n_common"),
        expr("(n_common * 10000) div (__na + __nb - n_common)").as("sim_bp"))
  }
}
