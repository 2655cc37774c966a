package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Force-directed graph layout — the Spark re-expression of the reference's
  * ForceAtlas2-derived engine (fermor force_atlas.clj:1-192 +
  * force_atlas/graph.clj, itself ported from Gephi's FA2; Jacomy et al.,
  * "ForceAtlas2, a Continuous Graph Layout Algorithm", PLoS ONE 2014).
  *
  * The FULL reference force model is implemented — not a simplified
  * stand-in:
  *  - four forces: friction, strong gravity (anisotropic: y at 0.75×,
  *    force_atlas.clj strong-gravity), degree-mass-weighted vertex
  *    repulsion, and linear edge pull with the reference's too-short
  *    reversal (lin-attraction: edges shorter than 0.01 push apart);
  *  - two repulsion regimes on the reference's schedule: lin-repulsion for
  *    the first 250 iterations, then local-repulsion limited to range 40
  *    (force_atlas.clj:58-75), with the repulsion coefficient annealed as
  *    25·clamp(50/iter, 0.2, 4);
  *  - edge-weight influence 0 before iteration 250 and 0.5 after
  *    (force-atlas:126) — weight^0 = 1, which also makes the reference's
  *    squares-participation doubling (v-squares) exactly irrelevant below
  *    iteration 250; above it we apply weight^0.5 without the squares
  *    factor (documented deviation: counting 4-cycles per vertex is a
  *    whole-graph preprocessing pass out of scope for a layout operator);
  *  - the per-iteration ADAPTIVE controller: global swinging / traction
  *    aggregates, chaos-threshold jitter control, speed-efficiency decay
  *    and recovery, capped speed rise (force-atlas:137-180), and per-vertex
  *    swing-damped displacement with friction (apply-deltas:38-47). One
  *    deliberate divergence: the reference speeds up when `1000 < speed`
  *    whose own comment says "not moving too fast" — we follow the Gephi
  *    original it was ported from (`speed < 1000` → speed up).
  *
  * Distributed re-design (same plan shape the reference's all-pairs r/fold
  * cannot have):
  *  - attraction: one equi-join positions⋈edges per iteration, aggregated
  *    per vertex (map-side combine) — shuffle keyed by vertex id;
  *  - repulsion: NOT all-pairs — vertices repulse from MASS-WEIGHTED grid
  *    cell centroids (Barnes-Hut-flavored; the vertex's own contribution is
  *    subtracted exactly from its home cell), the grid resolution ADAPTIVE
  *    so the broadcast centroid table is bounded at ~(gridRes+1)² rows and
  *    each iteration at O(V·gridRes²) worst case (see [[run]]);
  *  - the controller's two global scalars are one agg per iteration; the
  *    speed/friction recurrence runs on the driver exactly as the
  *    reference's metadata loop does;
  *  - deterministic: initial positions/velocities derive from xxhash64(id),
  *    and apply-deltas' velocity rotation (0.05·rand in the reference) uses
  *    a hash of (id, iteration) instead of a PRNG — reproducible across
  *    runs, engines, and cluster sizes.
  * Each iteration localCheckpoints to keep lineage flat (same pattern as
  * [[Algos.topoLevels]]).
  */
object ForceLayout {

  // constants mirrored from force_atlas.clj force-atlas
  private val Coefficient = 25.0
  private val JitterTolerance = 0.02
  private val MinSpeedEfficiency = 0.05
  private val MaxRise = 0.5
  private val LocalRepulsionRange = 40.0

  /** Controller state threaded between iterations (the reference's graph
    * metadata map). */
  private case class Tuning(speed: Double, speedEfficiency: Double, traction: Double)

  private def clamp(x: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, x))

  /** Per-iteration schedule scalars (force-atlas:124-135). */
  private final case class Schedule(ewi: Double, friction: Double, gCoeff: Double,
      repCoeff: Double, linRegime: Boolean)
  private def schedule(iter: Int, vc: Long, traction: Double, defaultGravity: Double): Schedule = {
    val friction = clamp(1.0 - 0.05 * (traction / math.pow(vc.toDouble, 1.8)), 0.2, 0.95)
    val gravity = if (iter > 150 && iter < 450) -0.04 else defaultGravity
    val repScale = if (iter == 0) 4.0 else clamp(50.0 / iter, 0.2, 4.0)
    Schedule(
      ewi = if (iter < 250) 0.0 else 0.5,
      friction = friction,
      gCoeff = gravity * Coefficient,
      repCoeff = Coefficient * repScale,
      linRegime = iter < 250)
  }

  /** Controller update from the global swinging/traction aggregates
    * (force-atlas:149-180). Returns the state for apply-deltas + the next
    * iteration. */
  private def retune(t: Tuning, swinging: Double, traction: Double, vc: Long): Tuning = {
    val ct0 = JitterTolerance *
      math.min(10.0, (0.05 * math.sqrt(vc.toDouble)) * traction / (vc.toDouble * vc.toDouble))
    val sw = math.max(swinging, 1e-12) // a fully-settled layout must not divide by zero
    val (se1, ct) =
      if (swinging / math.max(traction, 1e-12) > 2.0)
        (if (t.speedEfficiency > MinSpeedEfficiency) t.speedEfficiency * 0.5 else t.speedEfficiency,
          math.max(ct0, JitterTolerance))
      else (t.speedEfficiency, ct0)
    val targetSpeed = ct * se1 * traction / sw
    val se2 =
      if (ct * traction < swinging)
        (if (se1 > MinSpeedEfficiency) se1 * 0.7 else se1)
      else if (t.speed < 1000.0) se1 * 1.3
      else se1
    val speed = t.speed + math.min(targetSpeed - t.speed, MaxRise * t.speed)
    Tuning(speed, se2, traction)
  }

  /** Deterministic stand-in for apply-deltas' `0.05 · rand` velocity
    * rotation: a (id, iter) hash folded to [0, 0.05). Pure integer
    * arithmetic in 48-bit space (ANSI-safe), computable identically as a
    * Column and as a scalar so both execution paths share trajectories. */
  private def rotAngle(id: Column, iter: Int): Column =
    (((id.bitwiseAND(lit(0xffffL)) * lit(2654435761L) + lit(iter.toLong * 40503L))
      .bitwiseAND(lit(0x3ffL))) / lit(1024.0)) * lit(0.05)
  private def rotAngle(id: Long, iter: Int): Double =
    (((id & 0xffffL) * 2654435761L + iter.toLong * 40503L) & 0x3ffL) / 1024.0 * 0.05

  /** Returns (id, x, y) after `iters` FA2 rounds.
    *
    * Layout graphs come in two regimes, and like [[Algos.immediateDominators]]
    * we pick the execution site per regime: at or below
    * [[LocalGraph.Guard.LayoutVertices]] vertices
    * (the reference's own regime — it lays out in-heap arrays) the whole
    * loop runs on driver arrays — one collect, zero per-iteration jobs;
    * above it, the distributed join+grid-centroid path, which survives
    * graphs that don't fit one heap. Both paths run the IDENTICAL force
    * model and controller (parity-spec'd in AlgosSpec).
    *
    * The repulsion grid is ADAPTIVE: per iteration the cell edge is
    * max(cell, span/gridRes), so the occupied-cell count is bounded by
    * ~(gridRes+1)² no matter how far the layout spreads — the grid
    * equivalent of a fixed-depth Barnes–Hut quadtree. With a FIXED cell
    * the early iterations are a trap: init velocities are position×O(500),
    * the first apply-deltas scatters positions far beyond the ±50 start
    * box, occupied cells approach V, and the vertex×cells repulsion join
    * degenerates to V² (measured: the 8× ScaleProbe hung — 1.3 M vertices
    * × ~10⁵ cells per iteration). Bounded cells pin the per-iteration cost
    * at O(V·gridRes² + E) worst case with a ≤(gridRes+1)²-row broadcast,
    * and the probe completes. When the layout fits in a gridRes·cell span
    * the adaptive edge equals `cell` and trajectories are unchanged; both
    * execution paths compute the edge from the same driver-side scalars,
    * so their parity is unaffected. */
  /** `startIter` mirrors the reference's resumable `:iter` graph metadata
    * (force-atlas reads it from `(meta graph)` and bumps it each call): the
    * schedule — repulsion regime and annealing, gravity window, edge-weight
    * influence — is a function of the GLOBAL iteration number, so a caller
    * resuming a layout passes where it left off. Controller speed state
    * starts fresh (the reference's or-defaults do the same on a graph
    * whose meta lost :speed). */
  def run(vertices: DataFrame, edges: DataFrame, iters: Int = 30,
      cell: Double = 10.0,
      defaultGravity: Double = 0.0, startIter: Int = 0,
      gridRes: Int = 64): DataFrame = {
    val idc = col(vertices.columns.head).as("id")
    // optional edge weights (e-weight on the reference's EDoc; 1.0 when the
    // caller's edges carry none) — raised to the edge-weight-influence power
    // on the reference's schedule (0 below iter 250 ⇒ weights inert there).
    // NULL weights coalesce to 1.0: otherwise the driver path would crash
    // decoding null into Double while the distributed sum would silently
    // drop the edge's attraction — the paths must stay identical.
    val wc =
      if (edges.columns.contains("weight"))
        coalesce(col("weight").cast("double"), lit(1.0))
      else lit(1.0)
    // checkpoint: the doubled edge list feeds the attraction join EVERY
    // iteration (plus the degree agg) — without this the upstream edges
    // plan re-executes `iters` times
    val e2 = edges.select(col("src"), col("dst"), wc.as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), wc.as("w")))
      .localCheckpoint(false)
    val deg = e2.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    // initial state mirrors attach-vertex-documents (graph.clj:86-103):
    // position in [-50,50)², velocity = position × (500 + hash-in-[0,500)),
    // prev-velocity = velocity; mass = 1 + degree (FA2's degree weighting;
    // the reference stores degree on VDoc and fixes mass at 1.0 — we weight
    // repulsion by 1+degree as the FA2 paper specifies)
    var pos = vertices.select(idc)
      .join(deg, Seq("id"), "left")
      .withColumn("mass", lit(1.0) + coalesce(col("degree"), lit(0L)).cast("double"))
      .drop("degree")
      .withColumn("x", (pmod(xxhash64(col("id")), lit(100000L)) / 1000.0) - 50.0)
      .withColumn("y", (pmod(xxhash64(col("id") + 1), lit(100000L)) / 1000.0) - 50.0)
      .withColumn("vmul", lit(500.0) + pmod(xxhash64(col("id") + 2), lit(500L)).cast("double"))
      .withColumn("vx", col("x") * col("vmul"))
      .withColumn("vy", col("y") * col("vmul"))
      .drop("vmul")
      .withColumn("pvx", col("vx"))
      .withColumn("pvy", col("vy"))
      .localCheckpoint(false)
    val vc = pos.count()
    if (vc == 0) return pos.select("id", "x", "y")

    if (vc <= LocalGraph.replayLimit(vertices.sparkSession, LocalGraph.Guard.LayoutVertices))
      return runLocal(pos, e2, iters, cell, defaultGravity, startIter, gridRes)

    var tuning = Tuning(1.0, 1.0, 3500.0 * vc)
    var i = 0
    while (i < iters) {
      val iter = startIter + i
      val sch = schedule(iter, vc, tuning.traction, defaultGravity)
      // adaptive cell edge (scaladoc): one narrow agg over the checkpointed
      // positions; the same max(cell, span/gridRes) scalar arithmetic runs
      // on the driver in BOTH paths, so parity is exact
      val bb = pos.agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      val effCell = math.max(cell,
        math.max(bb.getDouble(1) - bb.getDouble(0), bb.getDouble(3) - bb.getDouble(2)) / gridRes)
      // -- repulsion from mass-weighted grid centroids (+ gravity, fused) --
      val cells = pos
        .withColumn("cx", floor(col("x") / effCell)).withColumn("cy", floor(col("y") / effCell))
        .groupBy("cx", "cy")
        .agg(sum(col("mass") * col("x")).as("smx"), sum(col("mass") * col("y")).as("smy"),
          sum(col("mass")).as("sm"))
      val withCells = pos
        .withColumn("hcx", floor(col("x") / effCell)).withColumn("hcy", floor(col("y") / effCell))
        .crossJoin(broadcast(cells))
        // exact self-exclusion in the home cell: peer mass/centroid with
        // this vertex's own contribution subtracted
        .withColumn("home", col("hcx") === col("cx") && col("hcy") === col("cy"))
        .withColumn("pm", when(col("home"), col("sm") - col("mass")).otherwise(col("sm")))
        .where(col("pm") > 0)
        .withColumn("px",
          when(col("home"), (col("smx") - col("mass") * col("x")) / col("pm"))
            .otherwise(col("smx") / col("sm")))
        .withColumn("py",
          when(col("home"), (col("smy") - col("mass") * col("y")) / col("pm"))
            .otherwise(col("smy") / col("sm")))
        .withColumn("dx", col("x") - col("px"))
        .withColumn("dy", col("y") - col("py"))
        .withColumn("d", sqrt(col("dx") * col("dx") + col("dy") * col("dy")))
      // net pairwise effect incl. the reference's symmetric double
      // application: lin = 4·coeff·m1·m2/d², local = 40·coeff·m1·m2/d²
      // within range 40 (force_atlas.clj:58-75 with the /0.5 resp. /20)
      val factor =
        if (sch.linRegime)
          lit(4.0 * sch.repCoeff) * col("mass") * col("pm") /
            (greatest(col("d"), lit(0.01)) * greatest(col("d"), lit(0.01)))
        else
          when(col("d") < LocalRepulsionRange,
            lit(40.0 * sch.repCoeff) * col("mass") * col("pm") /
              (greatest(col("d"), lit(0.01)) * greatest(col("d"), lit(0.01))))
            .otherwise(lit(0.0))
      val rep = withCells
        .where(col("d") > 0.0001) // ->apply-force's clump-lock guard
        .groupBy("id")
        .agg(sum(col("dx") * factor).as("rx"), sum(col("dy") * factor).as("ry"))
      // -- attraction along edges (lin-attraction) --
      val p2 = pos.select(col("id").as("nid"), col("x").as("nx"), col("y").as("ny"))
      val att0 = pos.join(e2, col("id") === col("src")).join(p2, col("dst") === col("nid"))
        .withColumn("ew",
          if (sch.ewi == 0.0) lit(1.0) else pow(col("w"), lit(sch.ewi)))
        .withColumn("evx", col("x") - col("nx")) // edge-vector = from - to
        .withColumn("evy", col("y") - col("ny"))
        .withColumn("elen", sqrt(col("evx") * col("evx") + col("evy") * col("evy")))
        // e2 holds both directions, so emitting only the "from" side's
        // -push covers both endpoints of every original edge
        .withColumn("sgn", when(col("elen") > 0.01, lit(-1.0)).otherwise(lit(1.0)))
      val att = att0.groupBy("id")
        .agg(sum(col("sgn") * col("ew") * col("evx") * Coefficient).as("ax"),
          sum(col("sgn") * col("ew") * col("evy") * Coefficient).as("ay"))
      // -- accumulate forces into velocity (gravity inline) --
      val gmul = lit(sch.gCoeff) * col("mass")
      val forced = pos
        .join(rep, Seq("id"), "left").join(att, Seq("id"), "left")
        .withColumn("fvx", col("vx") + coalesce(col("rx"), lit(0.0)) +
          coalesce(col("ax"), lit(0.0)) + gmul * col("x"))
        .withColumn("fvy", col("vy") + coalesce(col("ry"), lit(0.0)) +
          coalesce(col("ay"), lit(0.0)) + gmul * lit(0.75) * col("y"))
        .localCheckpoint(false)
      // -- global controller aggregates (calculate-tuning-info) --
      val g = forced.agg(
        sum(col("mass") * sqrt((col("pvx") - col("fvx")) * (col("pvx") - col("fvx")) +
          (col("pvy") - col("fvy")) * (col("pvy") - col("fvy")))).as("swinging"),
        sum(lit(0.5) * col("mass") * sqrt((col("pvx") + col("fvx")) * (col("pvx") + col("fvx")) +
          (col("pvy") + col("fvy")) * (col("pvy") + col("fvy")))).as("traction")).head()
      val swinging = if (g.isNullAt(0)) 0.0 else g.getDouble(0)
      val traction = if (g.isNullAt(1)) 0.0 else g.getDouble(1)
      tuning = retune(tuning, swinging, traction, vc)
      // -- apply-deltas: deterministic rotation, swing damping, friction --
      val rot = rotAngle(col("id"), iter)
      val speed = tuning.speed
      pos = forced
        .withColumn("rvx", col("fvx") * cos(rot) - col("fvy") * sin(rot))
        .withColumn("rvy", col("fvx") * sin(rot) + col("fvy") * cos(rot))
        .withColumn("swv", col("mass") * sqrt(
          (col("pvx") - col("rvx")) * (col("pvx") - col("rvx")) +
          (col("pvy") - col("rvy")) * (col("pvy") - col("rvy"))))
        .withColumn("fac", lit(speed) / (lit(1.0) + sqrt(lit(speed) * col("swv"))))
        .select(col("id"), col("mass"),
          (col("x") + col("rvx") * col("fac")).as("x"),
          (col("y") + col("rvy") * col("fac")).as("y"),
          (col("rvx") * sch.friction).as("vx"),
          (col("rvy") * sch.friction).as("vy"),
          col("rvx").as("pvx"), col("rvy").as("pvy"))
        .localCheckpoint(false)
      i += 1
    }
    pos.select("id", "x", "y")
  }

  /** Driver-array loop — IDENTICAL force model and controller to the
    * distributed path (mass-weighted grid centroids with exact home-cell
    * self-exclusion, lin/local repulsion schedule, gravity, lin-attraction
    * with short-edge reversal, swinging/traction controller, hash-rotated
    * swing-damped deltas); deterministic by fixed iteration order. */
  private def runLocal(pos0: DataFrame, e2: DataFrame, iters: Int,
      cell: Double, defaultGravity: Double, startIter: Int = 0,
      gridRes: Int = 64): DataFrame = {
    val spark = pos0.sparkSession
    import spark.implicits._
    val rows = pos0.select("id", "mass", "x", "y", "vx", "vy")
      .as[(Long, Double, Double, Double, Double, Double)].collect().sortBy(_._1)
    val n = rows.length
    val ids = rows.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val mass = rows.map(_._2)
    val x = rows.map(_._3); val y = rows.map(_._4)
    val vx = rows.map(_._5); val vy = rows.map(_._6)
    val pvx = vx.clone(); val pvy = vy.clone()
    val vc = n.toLong
    val nbrs: Array[Array[(Int, Double)]] = {
      val raw = e2.select("src", "dst", "w").as[(Long, Long, Double)].collect()
      val b = Array.fill(n)(scala.collection.mutable.ArrayBuffer[(Int, Double)]())
      raw.foreach { case (s, d, w) =>
        (idx.get(s), idx.get(d)) match {
          case (Some(si), Some(di)) => b(si) += ((di, w))
          case _ => ()
        }
      }
      b.map(_.sortBy(_._1).toArray)
    }
    var tuning = Tuning(1.0, 1.0, 3500.0 * vc)
    var i = 0
    while (i < iters) {
      val iter = startIter + i
      val sch = schedule(iter, vc, tuning.traction, defaultGravity)
      val fvx = vx.clone(); val fvy = vy.clone()
      // adaptive cell edge — the identical driver-side scalar arithmetic
      // as the distributed path (IEEE min/max are order-independent, so
      // the Spark agg there and this sequential scan agree bit-for-bit)
      var minx = Double.PositiveInfinity; var maxx = Double.NegativeInfinity
      var miny = Double.PositiveInfinity; var maxy = Double.NegativeInfinity
      var bv = 0
      while (bv < n) {
        if (x(bv) < minx) minx = x(bv); if (x(bv) > maxx) maxx = x(bv)
        if (y(bv) < miny) miny = y(bv); if (y(bv) > maxy) maxy = y(bv)
        bv += 1
      }
      val effCell = math.max(cell, math.max(maxx - minx, maxy - miny) / gridRes)
      // mass-weighted grid centroids
      val cells = scala.collection.mutable.LinkedHashMap[(Long, Long), (Double, Double, Double)]()
      var v = 0
      while (v < n) {
        val key = (math.floor(x(v) / effCell).toLong, math.floor(y(v) / effCell).toLong)
        val (sx, sy, sm) = cells.getOrElse(key, (0.0, 0.0, 0.0))
        cells(key) = (sx + mass(v) * x(v), sy + mass(v) * y(v), sm + mass(v))
        v += 1
      }
      v = 0
      while (v < n) {
        val home = (math.floor(x(v) / effCell).toLong, math.floor(y(v) / effCell).toLong)
        var rx = 0.0; var ry = 0.0
        cells.foreach { case (key, (smx, smy, sm)) =>
          val pm = if (key == home) sm - mass(v) else sm
          if (pm > 0) {
            val px = if (key == home) (smx - mass(v) * x(v)) / pm else smx / sm
            val py = if (key == home) (smy - mass(v) * y(v)) / pm else smy / sm
            val dx = x(v) - px; val dy = y(v) - py
            val d = math.hypot(dx, dy)
            if (d > 0.0001) {
              val dc = math.max(d, 0.01)
              val factor =
                if (sch.linRegime) 4.0 * sch.repCoeff * mass(v) * pm / (dc * dc)
                else if (d < LocalRepulsionRange) 40.0 * sch.repCoeff * mass(v) * pm / (dc * dc)
                else 0.0
              rx += dx * factor; ry += dy * factor
            }
          }
        }
        // gravity (anisotropic strong-gravity)
        val gf = sch.gCoeff * mass(v)
        fvx(v) += rx + gf * x(v)
        fvy(v) += ry + gf * 0.75 * y(v)
        v += 1
      }
      // attraction: both directions are in nbrs, -push on the "from" side
      v = 0
      while (v < n) {
        val ns = nbrs(v)
        var j = 0
        var ax = 0.0; var ay = 0.0
        while (j < ns.length) {
          val (o, w) = ns(j)
          val ew = if (sch.ewi == 0.0) 1.0 else math.pow(w, sch.ewi)
          val evx = x(v) - x(o); val evy = y(v) - y(o)
          val sgn = if (math.hypot(evx, evy) > 0.01) -1.0 else 1.0
          ax += sgn * ew * evx * Coefficient; ay += sgn * ew * evy * Coefficient
          j += 1
        }
        fvx(v) += ax; fvy(v) += ay
        v += 1
      }
      // controller
      var swinging = 0.0; var traction = 0.0
      v = 0
      while (v < n) {
        swinging += mass(v) * math.hypot(pvx(v) - fvx(v), pvy(v) - fvy(v))
        traction += 0.5 * mass(v) * math.hypot(pvx(v) + fvx(v), pvy(v) + fvy(v))
        v += 1
      }
      tuning = retune(tuning, swinging, traction, vc)
      // apply-deltas
      v = 0
      while (v < n) {
        val rot = rotAngle(ids(v), iter)
        val rvx = fvx(v) * math.cos(rot) - fvy(v) * math.sin(rot)
        val rvy = fvx(v) * math.sin(rot) + fvy(v) * math.cos(rot)
        val swv = mass(v) * math.hypot(pvx(v) - rvx, pvy(v) - rvy)
        val fac = tuning.speed / (1.0 + math.sqrt(tuning.speed * swv))
        x(v) += rvx * fac; y(v) += rvy * fac
        pvx(v) = rvx; pvy(v) = rvy
        vx(v) = rvx * sch.friction; vy(v) = rvy * sch.friction
        v += 1
      }
      i += 1
    }
    ids.indices.map(v => (ids(v), x(v), y(v))).toDF("id", "x", "y")
  }
}
