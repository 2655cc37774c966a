package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.4).
  *
  * Exactness convention: vectors are quantized to integer milli-units
  * (round(x*1000) as long) so dot products and norms are exact 64-bit
  * integer arithmetic — order-independent, hash-identical across engines.
  * Threshold tests use cross-multiplied integer comparisons
  * (10⁸·dot² >= τ²·10⁸·|a|²·|b|²) with no floating point anywhere.
  *
  * Scale design: the brute-force path is the correctness baseline with a
  * bounded (broadcastable) query side; the LSH path buckets by
  * random-hyperplane signature so candidate generation is an equi-join on
  * the bucket key — the shape that survives 100 TB.
  */
object Ann {

  /** Integer milli-quantized copy of an array<float> column. The float
    * element is EXPLICITLY widened to double before scaling: engines
    * disagree on float×int promotion (Spark multiplies in double; DuckDB
    * keeps float32, where e.g. 0.31949999f·1000 lands exactly on 319.5 and
    * rounds up) — pinning double on both sides makes the quantization a
    * fact of the data, not of the engine (found by a full-corpus sf0.1
    * cross-check: one component of one vector flipped a top-k score). */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1000).cast("long"))

  /** Integer dot product via the native [[graft.functions.LongArrayDot]]
    * Catalyst expression: a codegen'd primitive loop — no per-row
    * allocation (unlike zip_with+aggregate) and no 64 KB method blowup
    * (unlike an expanded term sum inlined into filters). Inputs MUST be
    * materialized attributes (withQuantNorm checkpoints) or the quantize
    * transform would re-evaluate per reference. The `dim` parameter is kept
    * for signature APIs (LSH planes); the dot uses runtime array length. */
  private def dotQ(a: Column, b: Column, dim: Int): Column =
    graft.functions.NativeOps.longArrayDot(a, b)

  private def withQuantNorm(vecs: DataFrame, idCol: String, embCol: String, dim: Int): DataFrame =
    // localCheckpoint stops CollapseProject from re-inlining the quantize
    // transform into every element_at of the expanded dot products (which
    // would turn each 64-term dot into 64 array materializations).
    vecs.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .withColumn("nq", dotQ(col("q"), col("q"), dim))
      .localCheckpoint(false)

  /** The threshold test `dot > 0 ∧ 10⁶·dot² >= τ²·|a|²·|b|²`, fused with
    * the dot-product loop in the native
    * [[org.apache.spark.sql.graft.CosineGateDot]] expression: NULL =
    * rejected. Exactness contract unchanged from the all-DECIMAL(38,0)
    * formulation the oracles replay (double prescreen with a 10⁻⁶ margin,
    * BigInt on near-boundary rows — see the expression's scaladoc for why
    * a multi-conjunct filter re-ran the dot loop three times per row). */
  private def gatedDot(qa: Column, qb: Column, na: Column, nb: Column, tauPm: Int): Column =
    graft.functions.NativeOps.cosineGateDot(qa, qb, na, nb, tauPm.toLong * tauPm)

  /** Sentinel default for `querySide`: reference-compared so [[cosinePairs]]
    * can detect the no-restriction (symmetric) case and take the half-work
    * `id_a < id_b` join. A caller passing its own lambda — even one that is
    * behaviorally the identity — gets the general two-sided path, which is
    * correct just slower. */
  val wholeCollection: DataFrame => DataFrame = identity

  /** All pairs (id_a < id_b) with cosine >= tau, exactly, on quantized
    * vectors. tauPm is cosine in per-mille (450 = 0.45). `querySide`
    * restricts EITHER member of the pair: candidates are generated with the
    * query filter on one side and the pair normalized to (id_a < id_b)
    * afterwards, so a qualifying (query, non-query) pair is found whichever
    * member has the lower id (a one-sided `id_a < id_b` join silently
    * dropped pairs whose query member had the HIGHER id).
    *
    * When `querySide` is the default [[wholeCollection]] the problem is
    * symmetric, so the join is restricted to `id_a < id_b` up front: each
    * pair is generated and scored exactly once and the trailing
    * `dropDuplicates` exchange disappears — half the dot products of the
    * two-sided form (which round 6 paid on every bench run). */
  def cosinePairs(vecs: DataFrame, idCol: String, embCol: String, tauPm: Int,
      querySide: DataFrame => DataFrame = wholeCollection, dim: Int = 64): DataFrame = {
    val qd = withQuantNorm(vecs, idCol, embCol, dim)
    if (querySide eq wholeCollection) {
      val a = qd.select(col("id").as("id_a"), col("q").as("qa"), col("nq").as("na"))
      val b = qd.select(col("id").as("id_b"), col("q").as("qb"), col("nq").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("dot", gatedDot(col("qa"), col("qb"), col("na"), col("nb"), tauPm))
        .where(col("dot").isNotNull)
        .select(col("id_a"), col("id_b"), col("dot"), col("na"), col("nb"))
    } else {
      val a = querySide(qd).select(col("id").as("id_q"), col("q").as("qa"), col("nq").as("nqa"))
      val b = qd.select(col("id").as("id_o"), col("q").as("qb"), col("nq").as("nqo"))
      a.join(b, col("id_q") =!= col("id_o"))
        .withColumn("dot", gatedDot(col("qa"), col("qb"), col("nqa"), col("nqo"), tauPm))
        .where(col("dot").isNotNull)
        .select(
          least(col("id_q"), col("id_o")).as("id_a"),
          greatest(col("id_q"), col("id_o")).as("id_b"),
          col("dot"),
          when(col("id_q") < col("id_o"), col("nqa")).otherwise(col("nqo")).as("na"),
          when(col("id_q") < col("id_o"), col("nqo")).otherwise(col("nqa")).as("nb"))
        .dropDuplicates("id_a", "id_b") // querySide ∩ rest yields each pair twice
    }
  }

  /** Brute-force top-k positive-cosine neighbors for a query subset.
    * Deterministic ranking: integer score = (dot·10⁶) div ⌊√(na·nb)⌋,
    * ties broken by neighbor id. */
  def bruteTopK(vecs: DataFrame, idCol: String, embCol: String, k: Int,
      querySide: DataFrame => DataFrame, dim: Int = 64): DataFrame = {
    val qd = withQuantNorm(vecs, idCol, embCol, dim)
    val a = querySide(qd).select(col("id").as("id_q"), col("q").as("qa"), col("nq").as("na"))
    val b = qd.select(col("id").as("id_n"), col("q").as("qb"), col("nq").as("nb"))
    val scored = a.join(b, col("id_q") =!= col("id_n"))
      .withColumn("dot", dotQ(col("qa"), col("qb"), dim))
      .where(col("dot") > 0)
      .withColumn("isq", floor(sqrt(col("na").cast("double") * col("nb").cast("double"))).cast("long"))
      .withColumn("score", (col("dot") * 1000000L).divide(col("isq")).cast("long"))
    val w = Window.partitionBy("id_q").orderBy(col("score").desc, col("id_n").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("id_q"), col("id_n"), col("score"), col("rn"))
  }

  /** Deterministic pseudo-random plane weights (MurmurHash3 of
    * (plane, dim-index) mod 1001) — reproducible across runs and engines. */
  private[graft] def planeWeights(dim: Int, numBits: Int): Array[Array[Long]] =
    Array.tabulate(numBits, dim) { (p, i) =>
      (scala.util.hashing.MurmurHash3.productHash((p, i)) % 1001).toLong
    }

  /** Random-hyperplane LSH signature (numBits planes): one native codegen'd
    * pass over the quantized vector ([[graft.functions.NativeOps.hyperplaneSig]]
    * — the numBits zip_with/aggregate formulation was CodegenFallback). */
  def lshSignature(qe: Column, dim: Int, numBits: Int): Column =
    graft.functions.NativeOps.hyperplaneSig(qe, planeWeights(dim, numBits))

  /** Bucketed approximate neighbor pairs: equi-join on LSH signature bands,
    * exact integer-cosine rescore. The scale path: shuffle is keyed by
    * (band, bits), never all-pairs.
    *
    * Pair dedup is SHUFFLE-FREE: a pair sharing k bands would surface k
    * times, so each join row keeps only the occurrence at the pair's LOWEST
    * shared band — computable from the two signatures already on the row
    * (first zero `rows`-bit slice of sig_a XOR sig_b), a scalar predicate
    * instead of a dropDuplicates exchange over the whole candidate stream.
    *
    * Rescore fetch: the a-side carries its packed (q, nq) payload THROUGH
    * the band join, so only the b-side needs a join-back — ONE candidate-
    * stream shuffle instead of two. The payload rides the band explode
    * (`bands`×N wide rows) on one side only; that trade wins whenever the
    * candidate count exceeds bands×N — exactly the degraded no-similarity-
    * gap regime — and with a strong gap the candidate stream is small, so
    * the extra band-shuffle width is bounded either way.
    *
    * No norm prefilter: cosine is scale-invariant, so NO |a|·|b| window on
    * sorted norms can prune soundly (any norm pair admits cos >= tau), and a
    * Cauchy-Schwarz prefix bound is vacuous at the low thresholds this data
    * needs — both would either break the oracle's recall-completeness or
    * prune nothing. The sound levers are banding and the first-shared-band
    * dedup above. */
  def lshPairs(vecs: DataFrame, idCol: String, embCol: String, dim: Int,
      tauPm: Int, numBits: Int = 16, bands: Int = 4): DataFrame = {
    require(numBits % bands == 0,
      s"numBits ($numBits) must be divisible by bands ($bands) — otherwise " +
        s"${numBits % bands} signature bits would be silently ignored")
    val rows = numBits / bands
    val qd = withQuantNorm(vecs, idCol, embCol, dim)
      .withColumn("sig", lshSignature(col("q"), dim, numBits))
    val qp = qd.select(col("id"), col("sig"), struct(col("q"), col("nq")).as("p"))
    // Flattened long band key (band << rows | bits): a primitive equi-join
    // key hashes/compares cheaper than a struct across the ~bands×collisions
    // joined rows, which dominate this operator's cost.
    def banded(withPayload: Boolean) =
      qp.select(Seq(col("id"), col("sig")) ++ (if (withPayload) Seq(col("p")) else Nil) :+
        explode(array((0 until bands).map { b =>
          lit(b.toLong << rows).bitwiseOR(
            shiftright(col("sig"), b * rows).bitwiseAND((1L << rows) - 1))
        }: _*)).as("bk"): _*)
    val mask = (1L << rows) - 1
    val firstShared = {
      val x = col("a.sig").bitwiseXOR(col("b.sig"))
      // statically unrolled when-chain over constant shifts: pure codegen'd
      // bit arithmetic (a transform/array_position formulation would be a
      // CodegenFallback evaluated per joined row — 10× slower here)
      (0 until bands).foldRight(lit(-1)) { case (b2, acc) =>
        when(shiftright(x, b2 * rows).bitwiseAND(lit(mask)) === 0, lit(b2)).otherwise(acc)
      }
    }
    val cands = banded(withPayload = true).as("a")
      .join(banded(withPayload = false).as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .where(shiftright(col("a.bk"), rows).cast("int") === firstShared)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.p").as("pa"))
    cands
      .join(qp.select(col("id").as("id_b"), col("p").as("pb")), "id_b")
      .withColumn("dot",
        gatedDot(col("pa.q"), col("pb.q"), col("pa.nq"), col("pb.nq"), tauPm))
      .where(col("dot").isNotNull)
      .select("id_a", "id_b", "dot")
  }

  /** The IVF coarse quantizer, collected driver-side: the `nlist` lowest-id
    * vectors as (lid, lq, ln) — nlist·dim bounded driver state BY
    * DEFINITION (the kmeansBest budget argument: a quantizer nobody can
    * hold is a quantizer nothing can assign against). Holding it as
    * literals turns every cell ranking into a pure per-row projection (see
    * [[rankedCells]]) instead of a broadcast crossJoin + window
    * exchange+sort per evaluation. lid keeps the id column's runtime type
    * (lit() round-trips it), so emitted `cell` schemas are unchanged.
    * NULL / empty embeddings carry no position and are never leaders (the
    * [[kmeansInput]] filter); they still rank into some cell, where their
    * null or zero dot product drops every pair they would form. */
  private def leadersOf(qd: DataFrame, nlist: Int): Array[(Any, Array[Long], Long)] =
    qd.where(col("q").isNotNull && size(col("q")) > 0)
      .orderBy(col("id").asc).limit(nlist)
      .select(col("id"), col("q"), col("nq")).collect()
      .map(r => (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2)))

  /** Integer-cosine leader ranking (deterministic tie-break on lid), as a
    * PURE PROJECTION: each row scores the nlist LITERAL leaders and sorts
    * the (score, lid) struct array in place — no crossJoin row blow-up, no
    * per-id window exchange+sort (the previous form paid both per
    * evaluation, and the IVF paths evaluate this under several driver
    * actions — q_ivfpq_res serialized ~26 micro-jobs on it). array_sort's
    * ascending lexicographic struct order on (−lscore, lid) IS the
    * window's (lscore desc, lid asc); a null-embedding row nulls every
    * score together, so both forms fall to the lid tie-break identically.
    * `lrn` = 1 is the cell assignment, `lrn` <= nprobe the probe set. */
  private def rankedCells(side: DataFrame, leaders: Array[(Any, Array[Long], Long)],
      idAs: String, dim: Int): DataFrame = {
    val cells = leaders.map { case (lid, lq, ln) =>
      val ldot = dotQ(col("q"), array(lq.map(lit(_)): _*), dim)
      val lsq = floor(sqrt(col("nq").cast("double") * lit(ln).cast("double"))).cast("long")
      val lscore = (ldot * 1000000L).divide(greatest(lsq, lit(1L))).cast("long")
      struct((-lscore).as("ns"), lit(lid).as("lid"))
    }
    side.select(col("id").as(idAs),
        posexplode(array_sort(array(cells: _*))).as(Seq("__p", "__s")))
      .select(col(idAs), col("__s")("lid").as("cell"), (col("__p") + 1).as("lrn"))
  }

  /** IVF-style approximate top-k: the second scale path next to LSH.
    *
    * A coarse quantizer of `nlist` leader centroids — deterministically the
    * `nlist` lowest-id vectors (a "sampled leaders" quantizer: reproducible
    * across runs and engines, no RNG, no iterative k-means) — partitions the
    * collection: every vector is indexed under its highest-integer-cosine
    * leader (a per-row projection over the literal leaders, see
    * [[leadersOf]], so assignment never shuffles the collection). A query
    * probes its `nprobe` nearest leaders and rescores exactly within those
    * cells, so candidate generation is an equi-join on the cell id — the
    * same narrow shuffle shape as the LSH path, but with data-adaptive cells
    * (IVF-flat, the standard ANN index layout). */
  def ivfTopK(vecs: DataFrame, idCol: String, embCol: String, k: Int,
      querySide: DataFrame => DataFrame, nlist: Int = 16, nprobe: Int = 2,
      dim: Int = 64): DataFrame = {
    val qd = withQuantNorm(vecs, idCol, embCol, dim)
    val leaders = leadersOf(qd, nlist)
    def ranked(side: DataFrame, idAs: String): DataFrame =
      rankedCells(side, leaders, idAs, dim)
    val indexed = ranked(qd, "id_n").where(col("lrn") === 1).drop("lrn")
    val probes = ranked(querySide(qd), "id_q").where(col("lrn") <= nprobe).drop("lrn")
    val cands = probes.join(indexed, "cell")
      .where(col("id_q") =!= col("id_n"))
      .select("id_q", "id_n").dropDuplicates("id_q", "id_n")
    val scored = cands
      .join(qd.select(col("id").as("id_q"), col("q").as("qa"), col("nq").as("na")), "id_q")
      .join(qd.select(col("id").as("id_n"), col("q").as("qb"), col("nq").as("nb")), "id_n")
      .withColumn("dot", dotQ(col("qa"), col("qb"), dim))
      .where(col("dot") > 0)
      .withColumn("isq", floor(sqrt(col("na").cast("double") * col("nb").cast("double"))).cast("long"))
      .withColumn("score", (col("dot") * 1000000L).divide(col("isq")).cast("long"))
    val w = Window.partitionBy("id_q").orderBy(col("score").desc, col("id_n").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("id_q"), col("id_n"), col("score"), col("rn"))
  }

  /** Label transfer by retrieval (k-NN weak labeling): each query row gets
    * the MAJORITY label of its [[ivfTopK]] neighbors, ties to the smallest
    * label — the semi-supervised pattern that stamps noisy class labels
    * onto an unlabeled corpus from a labeled seed set (quality tiers,
    * topic buckets, safety flags) without training anything. Emits
    * (id_q, label, votes).
    *
    * Scale: the [[ivfTopK]] shape (cell equi-join candidates) + one
    * id-keyed label join + a k-row-per-query vote agg — nothing beyond the
    * search itself grows with the corpus. */
  def knnLabel(vecs: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, querySide: DataFrame => DataFrame,
      nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val topk = ivfTopK(vecs, idCol, embCol, k, querySide, nlist, nprobe)
    val labels = vecs.select(col(idCol).as("id_n"), col(labelCol).cast("long").as("label"))
    val votes = topk.join(labels, "id_n")
      .groupBy("id_q", "label").agg(count(lit(1)).as("votes"))
    // NULLS LAST pins the tie-break cross-engine: Spark's bare asc sorts
    // nulls FIRST where DuckDB's ORDER BY sorts them LAST — a null seed
    // label must never beat a real one on ties
    val w = Window.partitionBy("id_q")
      .orderBy(col("votes").desc, col("label").asc_nulls_last)
    votes.withColumn("__vrn", row_number().over(w)).where(col("__vrn") === 1)
      .select("id_q", "label", "votes")
  }

  /** SemDeDup-style SEMANTIC dedup: partition the collection into IVF cells
    * (the same deterministic lowest-id leader quantizer as [[ivfTopK]]),
    * find exact integer-cosine >= tau pairs WITHIN each cell, connect them
    * transitively, and keep the minimum id of each duplicate group.
    * Output: (id, cell, cluster, keep) for every vector — cluster = min
    * member of the near-dup group (own id if unique), keep = 1 iff this id
    * is its group's representative.
    *
    * Scale: the pair join is keyed by cell — candidate generation is an
    * equi-join whose per-cell fan-out is (n/nlist)², tunable by nlist, never
    * the global n²; the closure runs on the (tiny) pair graph only. The
    * within-cell restriction is the SemDeDup trade stated honestly: a
    * cross-cell near-dup pair is missed by design (the paper's recall knob
    * is cluster count), and the ORACLE replays the same cells, so the
    * contract is exact. */
  def semanticDedup(vecs: DataFrame, idCol: String, embCol: String, tauPm: Int,
      nlist: Int = 16, dim: Int = 64)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val qd = withQuantNorm(vecs, idCol, embCol, dim)
    val cells = rankedCells(qd, leadersOf(qd, nlist), "id", dim)
      .where(col("lrn") === 1).drop("lrn")
    val sided = cells.join(qd, "id").localCheckpoint(false)
    val pairs = sided.as("a").join(sided.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("dot", gatedDot(col("a.q"), col("b.q"), col("a.nq"), col("b.nq"), tauPm))
      .where(col("dot").isNotNull)
      .select(col("a.id").as("src"), col("b.id").as("dst"))
    // CC runs on the PAIR-TOUCHED vertices only — the pair graph is tiny
    // relative to the collection, so isolated vectors never enter Pregel;
    // they fall out of the left join as their own singleton cluster.
    val touched = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id"))).distinct()
    val cc = graft.algos.Algos.connectedComponents(touched, pairs)
    cells.join(cc, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("component"), col("id")).as("cluster"),
        (coalesce(col("component"), col("id")) === col("id")).cast("int").as("keep"))
  }

  /** SPARSE cosine similarity pairs over TEXT — the inverted-index sibling
    * of the dense [[cosinePairs]]: documents as term-frequency vectors,
    * candidate pairs generated by equi-joining the inverted index ON THE
    * TERM (docs sharing no term never meet), dot products summed per pair,
    * and the cosine threshold applied in the repo's exact squared-integer
    * form (cos²·10⁶ as DECIMAL(38,0) — no sqrt, no float, engine-exact).
    *
    * `maxDf` drops terms appearing in more than that many documents BEFORE
    * the self-join — the sparse-retrieval hub guard (a stopword-grade term
    * would pair everything with everything; at 100 TB this cap is what
    * keeps the index join linear in posting-list mass). df=1 terms are
    * pruned too (they cannot form a pair). Norms are over the KEPT term
    * space, so the metric is the cosine in the filtered vocabulary —
    * stated, and mirrored exactly by the oracle. */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, minCos2Ppm: Long): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextOps.tokens(col(textCol))).as("t"))
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
      .localCheckpoint(false)
    val kept = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select("t")
    val tfk = tf.join(kept, "t").localCheckpoint(false)
    val norms = tfk.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dots = tfk.select(col("t"), col("doc_id").as("id_a"), col("w").as("wa"))
      .join(tfk.select(col("t"), col("doc_id").as("id_b"), col("w").as("wb")), "t")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("wa") * col("wb")).as("dot"))
    val dec = "decimal(38,0)"
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("cos2_ppm",
        (lit(1000000L).cast(dec) * col("dot").cast(dec) * col("dot").cast(dec) /
          (col("na").cast(dec) * col("nb").cast(dec))).cast("long"))
      .where(col("cos2_ppm") >= minCos2Ppm)
      .select(col("id_a"), col("id_b"), col("dot"), col("cos2_ppm"))
  }

  /** Deterministic integer-exact Lloyd's k-means over an embedding column —
    * the TRAINED-centroid clustering the IVF "sampled leaders" quantizer is
    * not: corpus diversity analysis, cluster-balanced sampling, and a
    * drop-in coarse quantizer whose cells actually track density.
    *
    * Semantics (engine-exact, oracled):
    *  - vectors quantized to milli-units ([[quantize]] — all arithmetic is
    *    64-bit integer from here on);
    *  - initial centroids = the `k` lowest-id vectors (cid 0..k-1 in id
    *    order — the [[ivfTopK]] reproducibility convention; no RNG);
    *  - `iters` assignment rounds: each row joins the centroid whose exact
    *    squared L2 distance Σ(q_i−c_i)² is minimal, ties → lowest cid;
    *    after every round but the last, centroid dim `i` becomes
    *    Σq_i div n (64-bit truncating division — DuckDB `//` on BIGINT
    *    truncates identically); a cluster that captured no rows keeps its
    *    previous centroid verbatim (the carry rule, mirrored by the
    *    oracle's coalesce).
    *
    * Returns (id, cluster, dist) — the FINAL round's assignment with its
    * exact integer squared distance.
    *
    * Scale: centroids live driver-side as a bounded k·dim table (the BPE
    * merge-table convention; they are broadcast-sized BY DEFINITION — a
    * quantizer nobody can broadcast is a quantizer no assignment join can
    * use either). Each round is ONE scan of the checkpointed quantized
    * corpus: the argmin is a pure per-row projection over the k LITERAL
    * centroids (array_min over (drel, cid) structs — dist = nq + nc − 2·dot
    * shares the row's norm, so only the relative part drel = nc − 2·dot
    * ranks), i.e. the corpus is NEVER multiplied by k and NEVER shuffled
    * for assignment — strictly leaner than the window-argmin shape
    * [[ivfTopK]] uses for its one-shot assignment. The update is one
    * map-side-combinable groupBy(cid, dim) agg collapsing to k·dim rows.
    * Literal-plan bound stated: k·dim literals must fit the codegen budget
    * (fine through k·dim ~10⁵; beyond that, assignment belongs in a
    * broadcast join — see [[ivfTopK]]'s rankedCells). Long-overflow bound:
    * per-cluster per-dim Σ|q| and per-row Σ(q−c)² stay far inside 2⁶³ for
    * |x| ≤ 10⁶ floats at any corpus size that fits a cluster. */
  def kmeans(vecs: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int): DataFrame = {
    // one shared quantized frame: train and the final labeling read the
    // SAME checkpointed (id, q, nq) — the corpus is quantized once
    val qd = kmeansInput(vecs, idCol, embCol)
    assignOn(qd, trainOn(qd, k, iters))
  }

  /** The quantized-and-filtered (id, q, nq) frame both k-means halves
    * share: NULL / empty embeddings carry no position — excluded (they are
    * also what an unnest-based SQL replay never sees; a kept null row
    * would diverge from the oracle), spec'd in DataOpsSpec. A STREAMING
    * input skips the localCheckpoint barrier (checkpoints reject streaming
    * plans); the cost is CollapseProject re-inlining the quantize
    * transform per centroid reference — per-micro-batch arithmetic, not a
    * scan or shuffle, and the trade only exists on the stream path. */
  private def kmeansInput(vecs: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val filtered = vecs.where(col(embCol).isNotNull && size(col(embCol)) > 0)
    if (vecs.isStreaming)
      filtered.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
        .withColumn("nq", dotQ(col("q"), col("q"), 0))
    else withQuantNorm(filtered, idCol, embCol, 0)
  }

  /** (drel, cid) struct per centroid over a quantized-vector column;
    * array_min's struct ordering is the (dist asc, cid asc) tie-break
    * because dist = nq + drel per fixed row. */
  private def kmeansBest(cent: Array[Array[Long]], qcol: Column = col("q")): Column = {
    val cells = cent.zipWithIndex.map { case (cq, cid) =>
      val nc = cq.map(x => x * x).sum
      val dot = graft.functions.NativeOps.longArrayDot(
        qcol, array(cq.map(lit(_)): _*))
      struct((lit(nc) - lit(2L) * dot).as("drel"), lit(cid).as("cid"))
    }
    array_min(array(cells: _*))
  }

  /** The Lloyd rounds of [[kmeans]], returning the trained centroid table
    * (milli-quantized, cid = array index) — bounded k·dim driver state a
    * caller can persist, ship, or hand to [[assignClusters]] over a BATCH
    * or a STREAM (assignment is a pure projection, so it applies to a
    * readStream source unchanged — the streaming-inference shape,
    * bridge-spec'd against the oracled batch assignment). */
  def trainKmeans(vecs: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int): Array[Array[Long]] =
    trainOn(kmeansInput(vecs, idCol, embCol), k, iters)

  private def trainOn(qd: DataFrame, k: Int,
      iters: Int): Array[Array[Long]] = {
    require(k >= 1, "k-means needs k >= 1")
    require(iters >= 1, "k-means needs at least one assignment round")
    // init: the k lowest-id vectors, cid by id order (bounded: k rows)
    var cent: Array[Array[Long]] = qd.orderBy(col("id")).limit(k)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(cent.length == k, s"k-means asked for $k centroids but the input has only ${cent.length} rows")
    val dim = cent.head.length
    require(cent.forall(_.length == dim), "k-means input vectors must share one dimensionality")
    // dimensionality gate (the sq8EncodeOn rule): a vector whose length
    // differs from the init centroids' would contribute a truncated
    // min-length dot to the assignment and skewed per-dim sums — mismatched
    // rows DROP, consistently with every codec/cluster path
    val gated = qd.where(size(col("q")) === dim)
    var round = 1
    while (round < iters) { // iters-1 centroid updates
      // one scan: inline assignment + per-(cid, dim) sums, map-side combined
      // down to k·dim rows (bounded driver state, the histogram convention)
      val sums = gated.select(kmeansBest(cent)("cid").as("cid"),
          posexplode(col("q")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      cent = cent.zipWithIndex.map { case (prev, cid) =>
        Array.tabulate(dim) { i =>
          sums.get((cid, i)).fold(prev(i)) { case (s, n) => s / n } // carry on empty
        }
      }
      round += 1
    }
    cent
  }

  /** Label `vecs` against a trained centroid table: (id, cluster, dist)
    * with the exact integer squared distance. A pure per-row projection
    * (the centroids ride the plan as literals — PlanSpec pins zero
    * Exchange / zero Join), so the SAME call labels a streaming source:
    * batch-train with [[trainKmeans]], assign each micro-batch here. */
  def assignClusters(vecs: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Long]]): DataFrame =
    assignOn(kmeansInput(vecs, idCol, embCol), centroids)

  private def assignOn(qd: DataFrame,
      centroids: Array[Array[Long]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val best = kmeansBest(centroids)
    // same dimensionality gate as trainOn: a mismatched-dim vector's
    // truncated dot would yield a wrong-but-plausible (cluster, dist)
    qd.where(size(col("q")) === centroids.head.length)
      .select(col("id"), best("cid").as("cluster"),
        (col("nq") + best("drel")).as("dist"))
  }

  /** Cluster-balanced sampling: [[kmeans]] assignment, then at most `cap`
    * rows per cluster in deterministic hash order (the
    * [[graft.pipeline.Corpus.domainCap]] rule keyed by cluster instead of
    * domain) — the "diverse subset" selection step of a SemDeDup-style
    * curation pass: hard-capping dense clusters flattens the density
    * profile instead of sampling proportionally from it. Emits
    * (id, cluster, dist, rk); rk ≤ cap. Scale: the kmeans rounds above +
    * ONE per-cluster window whose map-side WindowGroupLimit pre-trims to
    * cap rows per task (the q_domain_cap plan shape). */
  def clusterSample(vecs: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, cap: Int): DataFrame = {
    require(cap > 0)
    val a = kmeans(vecs, idCol, embCol, k, iters)
    val ordH = substring(md5(col("id").cast("string")), 1, 8)
    val w = Window.partitionBy(col("cluster")).orderBy(ordH.asc, col("id").asc)
    a.withColumn("rk", row_number().over(w)).where(col("rk") <= cap)
  }

  /** Scalar int8 quantization (SQ8) trainer: the per-dimension [min, max]
    * envelope of the milli-quantized corpus — the codec state an
    * embedding-index build ships to every encoder (FAISS's
    * ScalarQuantizer shape re-expressed declaratively). Returns
    * (mins, ranges) with range_i = max(max_i − min_i, 1), each `dim` longs
    * of bounded driver state (the trainKmeans convention: a codec nobody
    * can broadcast is a codec no encode pass can inline either).
    *
    * Scale: ONE corpus scan collapsing map-side to `dim` rows
    * (posexplode → groupBy(i) min/max — partial aggregation bounds the
    * shuffle at dim·tasks rows at any corpus size). */
  def trainSq8(vecs: DataFrame, idCol: String, embCol: String): (Array[Long], Array[Long]) =
    sq8TrainOn(kmeansInput(vecs, idCol, embCol))

  private def sq8TrainOn(qd: DataFrame): (Array[Long], Array[Long]) = {
    val rows = qd.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      .sortBy(_._1)
    require(rows.nonEmpty, "sq8 needs at least one non-empty vector")
    require(rows.map(_._1).toSeq == (0 until rows.length),
      "sq8 input vectors must share one dimensionality")
    (rows.map(_._2._1), rows.map { case (_, (mn, mx)) => math.max(mx - mn, 1L) })
  }

  /** Encode against a trained SQ8 codec: (id, codes, err) where
    * code_i = ((clamp(q_i, min_i, min_i+range_i) − min_i)·255) div range_i
    * ∈ [0, 255] (values outside the trained envelope saturate — the
    * streaming-encode case), and err is the exact integer squared-L2
    * reconstruction error Σ(q_i − recon_i)² against the codec's decode
    * recon_i = min_i + (code_i·range_i) div 255 — the fidelity metric an
    * index build thresholds on. All arithmetic is 64-bit integer on
    * milli-quantized values; `div` truncates toward zero = DuckDB `//`
    * floor because every numerator is non-negative by construction.
    *
    * Scale: a pure per-row projection — the codec rides the plan as
    * LITERAL arrays (2·dim longs; PlanSpec pins zero Exchange / zero
    * Join), so the SAME call encodes a readStream source micro-batch by
    * micro-batch (the assignClusters streaming-inference shape). Each
    * lambda stage lives in its OWN projection so the multi-referenced
    * arrays materialize once per row (the repetitionBp rule). */
  def sq8Encode(vecs: DataFrame, idCol: String, embCol: String,
      mins: Array[Long], ranges: Array[Long]): DataFrame =
    sq8EncodeOn(kmeansInput(vecs, idCol, embCol), mins, ranges)

  private def sq8EncodeOn(qd: DataFrame, mins: Array[Long],
      ranges: Array[Long]): DataFrame = {
    require(mins.nonEmpty && mins.length == ranges.length,
      s"codec arrays must be non-empty and same-length, got ${mins.length}/${ranges.length}")
    require(ranges.forall(_ >= 1L), "sq8 ranges must be >= 1 (trainSq8 guarantees this)")
    val mnSql = mins.mkString("array(", "L,", "L)")
    val rgSql = ranges.mkString("array(", "L,", "L)")
    // dimensionality gate: a vector shorter/longer than the codec would
    // silently produce NULL codes (element_at past the literal arrays) or
    // partially-summed errors (min-length dot) — mismatched rows DROP, the
    // kmeansInput null/empty rule extended to dimension (spec'd)
    qd.where(size(col("q")) === mins.length)
      .select(col("id"), col("q"),
        expr(s"""transform(q, (x, i) ->
          ((least(greatest(x, element_at($mnSql, i + 1)),
                  element_at($mnSql, i + 1) + element_at($rgSql, i + 1))
            - element_at($mnSql, i + 1)) * 255) div element_at($rgSql, i + 1))""")
          .as("codes"))
      .select(col("id"), col("q"), col("codes"),
        expr(s"""transform(codes, (c, i) ->
          element_at($mnSql, i + 1) + (c * element_at($rgSql, i + 1)) div 255)""")
          .as("recon"))
      .select(col("id"), col("codes"),
        aggregate(zip_with(col("q"), col("recon"), (x, r) => (x - r) * (x - r)),
          lit(0L), (acc, d) => acc + d).as("err"))
  }

  /** Train-and-encode SQ8 over one shared quantized frame (the [[kmeans]]
    * structure: the corpus is milli-quantized ONCE, the trainer's dim-row
    * envelope comes back as literals, and the encode is a zero-Exchange
    * second pass over the same checkpointed frame). */
  def sq8(vecs: DataFrame, idCol: String, embCol: String): DataFrame = {
    val qd = kmeansInput(vecs, idCol, embCol)
    val (mins, ranges) = sq8TrainOn(qd)
    sq8EncodeOn(qd, mins, ranges)
  }

  /** Product-quantization codebook trainer: split each milli-quantized
    * vector into `m` contiguous subvectors of dim/m and run the EXACT
    * integer Lloyd's of [[trainKmeans]] independently per subspace —
    * m·k·(dim/m) = k·dim longs of bounded driver state, the codec of an
    * IVF-PQ index (vectors compress to m small codes; distances
    * reconstruct per-subspace). Same determinism contract as [[kmeans]]:
    * lowest-id init per subspace, (dist, cid) tie-break, div-exact
    * updates, empty-cluster carry.
    *
    * Scale: training cost is m·iters bounded-state scans of ONE shared
    * checkpointed quantized corpus (each round's agg collapses map-side to
    * k·(dim/m) rows); nothing here grows with the corpus beyond the
    * scans. */
  def pqTrain(vecs: DataFrame, idCol: String, embCol: String, m: Int,
      k: Int, iters: Int): Array[Array[Array[Long]]] =
    pqTrainOn(kmeansInput(vecs, idCol, embCol), m, k, iters)

  /** All m subspaces train TOGETHER: one bounded init head (the k lowest-id
    * vectors, sliced driver-side — identical to per-subspace inits because
    * slicing preserves id order) and ONE scan per round computing every
    * subspace's assignment + (s, cid, i) sums (explode by subspace then by
    * dimension = N·dim rows, the same volume one kmeans round aggregates;
    * map-side combine collapses to m·k·(dim/m) = k·dim rows). Math is
    * bit-identical to m independent [[trainOn]] loops (the q_pq oracle and
    * the per-subspace Lloyd replay spec prove it); the fusion only cuts
    * driver actions from m·iters to iters. The subspace dimension comes
    * from the SAME init collect (one driver action, not a separate
    * limit(1) probe); an empty corpus still gets the descriptive error. */
  private[graft] def pqTrainOn(qd: DataFrame, m: Int, k: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    require(m >= 1, "pq needs m >= 1 subspaces")
    require(k >= 1 && iters >= 1, "pq needs k >= 1 and iters >= 1")
    val initRows = qd.orderBy(col("id")).limit(k).select(col("q"))
      .collect().map(_.getSeq[Long](0).toArray)
    require(initRows.nonEmpty, "pq asked for codewords but the input has only 0 rows")
    require(initRows.length == k,
      s"pq asked for $k codewords but the input has only ${initRows.length} rows")
    val dim = initRows.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    require(initRows.forall(_.length == m * d),
      "pq input vectors must share one dimensionality")
    var books = Array.tabulate(m)(s => initRows.map(_.slice(s * d, s * d + d)))
    var round = 1
    while (round < iters) {
      // the encode-side dimensionality gate applies to training too: a
      // mixed-dim row would contribute truncated slices to the sums
      val sliced = qd.where(size(col("q")) === m * d).select(col("id") +:
        (0 until m).map(s => slice(col("q"), s * d + 1, d).as(s"__q$s")): _*)
      val parts = (0 until m).map { s =>
        struct(lit(s).as("s"),
          kmeansBest(books(s), col(s"__q$s"))("cid").as("cid"),
          col(s"__q$s").as("qs"))
      }
      val sums = sliced.select(explode(array(parts: _*)).as("p"))
        .select(col("p.s").as("s"), col("p.cid").as("cid"),
          posexplode(col("p.qs")).as(Seq("i", "x")))
        .groupBy("s", "cid", "i").agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), (r.getLong(3), r.getLong(4))))
        .toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (prev, cid) =>
          Array.tabulate(d)(i =>
            sums.get((s, cid, i)).fold(prev(i)) { case (sm, n) => sm / n })
        }
      }
      round += 1
    }
    books
  }

  /** Encode against trained PQ codebooks: (id, sub, code, dist) — per
    * subspace the nearest codeword's index and the exact integer squared-L2
    * residual (the quantization error an ADC search adds to its distance
    * bound). A pure per-row projection: all m codebooks ride the plan as
    * literals (PlanSpec pins zero Exchange / zero Join), so the same call
    * encodes a readStream micro-batch — the [[sq8Encode]] /
    * [[assignClusters]] streaming-inference shape. */
  def pqEncode(vecs: DataFrame, idCol: String, embCol: String,
      books: Array[Array[Array[Long]]]): DataFrame =
    pqEncodeOn(kmeansInput(vecs, idCol, embCol), books)

  private[graft] def pqEncodeOn(qd: DataFrame,
      books: Array[Array[Array[Long]]]): DataFrame = {
    require(books.nonEmpty && books.forall(_.nonEmpty), "pq books must be non-empty")
    val m = books.length
    val d = books.head.head.length
    require(books.forall(_.forall(_.length == d)), "pq codewords must share one sub-dimension")
    // dimensionality gate (the sq8EncodeOn rule): a short vector's slices
    // would silently compute partially-summed dots — mismatched rows DROP
    // subvectors materialize under their own aliases (each is referenced
    // k+1 times by the per-codeword dots and its own norm — the
    // repetitionBp rule), then one generator row per subspace
    val sliced = qd.where(size(col("q")) === m * d).select(col("id") +:
      (0 until m).map(s => slice(col("q"), s * d + 1, d).as(s"__q$s")): _*)
    val cells = (0 until m).map { s =>
      val b = kmeansBest(books(s), col(s"__q$s"))
      struct(b("cid").as("code"),
        (graft.functions.NativeOps.longArrayDot(col(s"__q$s"), col(s"__q$s"))
          + b("drel")).as("dist"))
    }
    sliced.select(col("id"), posexplode(array(cells: _*)).as(Seq("sub", "sc")))
      .select(col("id"), col("sub").cast("long").as("sub"),
        col("sc")("code").as("code"), col("sc")("dist").as("dist"))
  }

  /** Train-and-encode PQ over one shared quantized frame (the [[kmeans]]
    * structure: quantize once, train per subspace, encode in one
    * zero-Exchange pass). */
  def pq(vecs: DataFrame, idCol: String, embCol: String, m: Int, k: Int,
      iters: Int): DataFrame = {
    val qd = kmeansInput(vecs, idCol, embCol)
    pqEncodeOn(qd, pqTrainOn(qd, m, k, iters))
  }

  /** IVF-ADC search — the standard large-scale ANN index layout end to end:
    * the [[ivfTopK]] coarse quantizer routes queries to `nprobe` cells, but
    * candidates are scored through their PQ CODES via asymmetric distance
    * computation instead of full vectors: each query precomputes its m·kPq
    * table of exact integer squared distances to every codeword (a
    * literal-codebook projection riding the probe side), and a candidate's
    * ADC distance is the sum of m table lookups selected by its codes —
    * the scan side never touches raw vectors at query time, which is the
    * entire point of PQ at 100 TB (codes are m bytes, vectors 4·dim).
    * This variant quantizes raw vectors, not IVF residuals (stated trade:
    * one codebook set serves every cell; residual PQ needs per-assignment
    * recentering that buys accuracy at the cost of a second join).
    *
    * Emits (id_q, id_n, adc_dist, rn): the kTop candidates per query by
    * (adc_dist asc, id_n asc) — exact integer ADC over milli-quantized
    * vectors, fully oracle-replayable (cells = ivfCellCtes, codes/tables =
    * the q_pq round CTEs: the ADC table IS the final assign round's
    * distance relation restricted to query ids).
    *
    * Scale: candidate generation is the cell equi-join (no-cartesian
    * pinned); scoring is codes-join (m rows per candidate) + one lookup
    * array carried on the bounded query side; the per-query top-k window
    * pre-trims map-side (WindowGroupLimit). */
  def ivfPqTopK(vecs: DataFrame, idCol: String, embCol: String, kTop: Int,
      querySide: DataFrame => DataFrame, nlist: Int = 16, nprobe: Int = 2,
      m: Int = 4, kPq: Int = 4, iters: Int = 2): DataFrame = {
    val qd = kmeansInput(vecs, idCol, embCol)
    val leaders = leadersOf(qd, nlist)
    val books = pqTrainOn(qd, m, kPq, iters)
    val codes = pqEncodeOn(qd, books)
      .select(col("id").as("id_n"), col("sub").cast("int").as("sub"), col("code"))
    val indexed = rankedCells(qd, leaders, "id_n", 0).where(col("lrn") === 1).drop("lrn")
    val qside = querySide(qd)
    val probes = rankedCells(qside, leaders, "id_q", 0).where(col("lrn") <= nprobe).drop("lrn")
    val adc = adcTable(qside.select(col("id").as("id_q"), col("q")), Seq("id_q"), books)
    val cands = probes.join(indexed, "cell")
      .where(col("id_q") =!= col("id_n"))
      .select("id_q", "id_n").dropDuplicates("id_q", "id_n")
    val scored = cands
      .join(codes, "id_n") // m rows per candidate pair
      .join(adc, "id_q")   // lookup arrays ride the bounded query side
      .withColumn("__part",
        element_at(element_at(col("__adc"), col("sub") + 1), col("code") + 1))
      .groupBy("id_q", "id_n").agg(sum(col("__part")).as("adc_dist"))
    val w = Window.partitionBy("id_q").orderBy(col("adc_dist").asc, col("id_n").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= kTop)
      .select(col("id_q"), col("id_n"), col("adc_dist"), col("rn"))
  }

  /** Per-row ADC lookup table over a full-dim quantized column `q`: for
    * each subspace s and codeword cw, the exact integer squared distance
    * |q_s|² − 2·q_s·cw + |cw|², emitted as one m×k nested array. Subvectors
    * and norms materialize under their own aliases (each referenced k+1
    * times — the repetitionBp rule); mismatched-dim rows drop (the
    * sq8EncodeOn rule). Emits keyCols :+ `__adc`. */
  private def adcTable(base: DataFrame, keyCols: Seq[String],
      books: Array[Array[Array[Long]]]): DataFrame = {
    val m = books.length
    val d = books.head.head.length
    val keys = keyCols.map(col)
    val sliced = base.where(size(col("q")) === m * d).select(keys ++
      (0 until m).map(s => slice(col("q"), s * d + 1, d).as(s"__q$s")): _*)
    val withN = sliced.select((keys ++ (0 until m).map(s => col(s"__q$s"))) ++
      (0 until m).map(s => graft.functions.NativeOps
        .longArrayDot(col(s"__q$s"), col(s"__q$s")).as(s"__n$s")): _*)
    withN.select(keys :+
      array((0 until m).map { s =>
        array(books(s).map { cw =>
          val nc = cw.map(x => x * x).sum
          lit(nc) + col(s"__n$s") - lit(2L) * graft.functions.NativeOps
            .longArrayDot(col(s"__q$s"), array(cw.map(lit(_)): _*))
        }: _*)
      }: _*).as("__adc"): _*)
  }

  /** Shared recentering plumbing of the residual-PQ paths: leaders route
    * (the existing coarse quantizer, unchanged), but the residual ANCHOR is
    * each cell's integer MEAN vector (Σq div n per dim — truncating, the
    * kmeans update rule) — NOT the sampled leader itself. Subtracting the
    * cell mean provably (weakly) reduces within-cell sum of squares, which
    * is what residual coding buys; subtracting a sampled corpus vector can
    * ADD variance (measured on the embeddings table: +56% reconstruction
    * error), because a random same-scale vector is not a centroid. FAISS's
    * IndexIVFPQ anchors at the coarse centroid for the same reason.
    *
    * Anchors are nlist·dim bounded driver state collected from one
    * map-side-combined scan (the trainOn convention) and ride the plan as
    * a cell → vector literal map. Mismatched-dim rows drop FIRST (zip_with
    * would otherwise null-pad and corrupt silently); a probed cell with no
    * assigned members has no anchor — its residual row drops, lawfully:
    * an empty cell has no candidates to score either. */
  private def ivfRecenter(qd: DataFrame, nlist: Int)
      : (Array[(Any, Array[Long], Long)], DataFrame, DataFrame => DataFrame) = {
    // the collected leader table already holds the dimensionality — the
    // previous separate select(lq).collect() probe action is gone
    val leaders = leadersOf(qd, nlist)
    require(leaders.nonEmpty, "residual IVF-PQ needs at least one leader")
    val dim = leaders.head._2.length
    // lazily checkpointed: the cell assignment feeds the anchor sums (an
    // action), the residual frame (two trainer actions), and the final
    // candidate join — without it each consumer re-runs the leader
    // crossJoin + argmin window over the whole corpus
    val indexed = rankedCells(qd, leaders, "id_n", 0).where(col("lrn") === 1).drop("lrn")
      .localCheckpoint(false)
    val assigned = qd.where(size(col("q")) === dim)
      .join(indexed.withColumnRenamed("id_n", "id"), "id")
    val sums = assigned.select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2) / r.getLong(3)))
    val anchors = sums.groupBy(_._1).map { case (cell, rs) =>
      val a = new Array[Long](dim)
      rs.foreach(t => a(t._2) = t._3)
      (cell, a)
    }
    val anchorMap = map(anchors.toSeq.flatMap { case (cell, a) =>
      Seq(lit(cell), array(a.map(lit(_)): _*)) }: _*)
    (leaders, indexed, df => df.where(size(col("q")) === dim)
      .withColumn("q", zip_with(col("q"),
        element_at(anchorMap, col("cell")), (x, c) => x - c))
      .where(col("q").isNotNull))
  }

  /** The corpus residual frame (id, q = vector − assigned cell's mean
    * anchor, cell) the residual-PQ codec trains on — exposed so the
    * reconstruction-error law (residual codes beat raw codes) is
    * independently spec-checkable. */
  private[graft] def ivfResidualFrame(vecs: DataFrame, idCol: String,
      embCol: String, nlist: Int): DataFrame = {
    val qd = kmeansInput(vecs, idCol, embCol)
    val (_, indexed, residual) = ivfRecenter(qd, nlist)
    residual(qd.join(indexed.withColumnRenamed("id_n", "id"), "id"))
  }

  /** Residual-PQ IVF-ADC — the accuracy-bearing production variant
    * [[ivfPqTopK]]'s scaladoc stated as a trade: vectors are RECENTERED by
    * their assigned cell's mean anchor before PQ (codebooks quantize
    * residuals, which are tighter than raw vectors once the coarse layer
    * has soaked up the between-cell variance — FAISS IndexIVFPQ's residual
    * default; see [[ivfRecenter]] for why the anchor is the cell MEAN, not
    * the sampled leader), and a query builds one ADC table PER PROBED CELL
    * (its residual differs per cell) instead of one per query — the
    * "second join" the trade named: the ADC side is keyed (id_q, cell),
    * still bounded by queries × nprobe.
    *
    * Candidate routing is IDENTICAL to [[ivfPqTopK]] (same cells, same
    * probes — spec'd); only the scoring arithmetic changes. All integer:
    * residuals are exact milli-unit differences against the bounded
    * anchor literals (nlist·dim longs, the kmeansBest budget); the
    * reconstruction-error drop vs raw PQ is spec-asserted.
    *
    * Scale: everything [[ivfPqTopK]] does, plus one zip_with projection
    * per side against literal anchor vectors — no new shuffle; the ADC
    * join key widens to (id_q, cell), its row count to queries × nprobe. */
  def ivfPqResTopK(vecs: DataFrame, idCol: String, embCol: String, kTop: Int,
      querySide: DataFrame => DataFrame, nlist: Int = 16, nprobe: Int = 2,
      m: Int = 4, kPq: Int = 4, iters: Int = 2): DataFrame = {
    val qd = kmeansInput(vecs, idCol, embCol)
    val (leaders, indexed, residual) = ivfRecenter(qd, nlist)
    // corpus residuals (assigned cell), codebooks + codes over THEM —
    // lazily checkpointed: the PQ trainer's init collect materializes it
    // once, the Lloyd round and the encode pass then reuse it instead of
    // re-running the assignment join + anchor zip_with per action
    val rq = residual(qd.join(indexed.withColumnRenamed("id_n", "id"), "id"))
      .localCheckpoint(false)
    val books = pqTrainOn(rq.select(col("id"), col("q")), m, kPq, iters)
    val codes = pqEncodeOn(rq, books)
      .select(col("id").as("id_n"), col("sub").cast("int").as("sub"), col("code"))
    val qside = querySide(qd)
    val probes = rankedCells(qside, leaders, "id_q", 0).where(col("lrn") <= nprobe).drop("lrn")
    // query residual PER PROBED CELL -> one ADC table per (id_q, cell)
    val rqp = residual(qside.join(probes.withColumnRenamed("id_q", "id"), "id"))
    val adc = adcTable(rqp.select(col("id").as("id_q"), col("cell"), col("q")),
      Seq("id_q", "cell"), books)
    // keep the matched cell: a candidate's codes encode ITS cell's
    // residual, so the lookup must use the query's residual wrt that cell
    val cands = probes.join(indexed, "cell")
      .where(col("id_q") =!= col("id_n"))
      .select("id_q", "id_n", "cell")
    val scored = cands
      .join(codes, "id_n")
      .join(adc, Seq("id_q", "cell"))
      .withColumn("__part",
        element_at(element_at(col("__adc"), col("sub") + 1), col("code") + 1))
      .groupBy("id_q", "id_n").agg(sum(col("__part")).as("adc_dist"))
    val w = Window.partitionBy("id_q").orderBy(col("adc_dist").asc, col("id_n").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= kTop)
      .select(col("id_q"), col("id_n"), col("adc_dist"), col("rn"))
  }
}
