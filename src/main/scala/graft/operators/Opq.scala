package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OPQ-style rotation gauge (Ge et al., "Optimized Product
  * Quantization", CVPR 2013): measure whether rotating the corpus into
  * the basis learned by the covariance power iteration ([[Pca]])
  * reduces PRODUCT-QUANTIZATION RECONSTRUCTION error — the quantity
  * OPQ's objective actually minimizes (‖x − decode(encode(x))‖², Ge
  * §3), and the honest metric here: the fixture's ADC *score*
  * distortion is dominated by the 16-codes-per-8-dim quantizer noise
  * floor, where a rotation's effect measures as ±2% noise (probed both
  * directions at sf0.01/sf0.1 before this design), while reconstruction
  * MSE responds to the rotation consistently.
  *
  * THE CORPUS IS SPIKE-PLANTED, like the dedup faces' planted-duplicate
  * corpus (fixtures ship none → plant, then measure the recovery): the
  * fixture embeddings are isotropic unit-norm Gaussians, which are
  * OPQ-NEUTRAL by construction (every orthogonal basis is equally good
  * — no rotation can win). A rank-1 spike along a fixed NON-axis
  * direction u (alternating ±1/8, so the spike smears across all AdcM
  * subspaces and correlates them — exactly the independence violation
  * OPQ exists to repair) gives the learned rotation real signal: the
  * power iteration recovers the spike direction from the planted
  * census, the Householder reflection concentrates it into dimension 0
  * (one subquantizer's subspace), and the remaining subspaces return to
  * the isotropic case. Measured recovery at spike strength a=2:
  * rotated MSE 2.3–2.7% below unrotated at sf0.01/sf0.1 (small because
  * the 16-centroid quantizer is coarse; one-directional because the
  * decorrelation is real).
  *
  * Exact-integer contract (every step oracle-replayable bit-for-bit):
  *  - plant: x'ᵢ = xᵢ + a·(u·x)·uᵢ in micro units is
  *    x'mᵢ = xmᵢ + eᵢ·sgnDiv(S, 64/a) with S = Σ eⱼ·xmⱼ an exact long
  *    (eᵢ = ±1; |S| ≤ d·1e6, |x'm| ≤ 3e6 at a=2);
  *  - learn: v₁ = the standard 30-round quantized power iteration on
  *    the PLANTED census ([[Pca.topComponent]] / the oracle's unrolled
  *    CTE chain — the proven-parity machinery, reused);
  *  - rotate: Householder H = I − 2ww'/w'w with w = v₁ − N·e₀,
  *    N = rnd(√Σv₁²); per row wx = Σ wᵢ·x'mᵢ is an exact long
  *    (≤ 2e6·3e6·64 ≈ 4e14) and ymᵢ = x'mᵢ − rnd(2·wx/w'w · wᵢ) — ONE
  *    double product per cell over exact longs, the [[Pca]] rounding
  *    discipline;
  *  - quantize: per (vector, subspace) the MIN over the ks=16
  *    md5-sampled centroids (the [[ProductQuant]] sample rule; same
  *    vec_ids in both lanes, each lane's centroids carried through its
  *    own transform — the quantizer trains in the space it codes) of
  *    the exact-long squared distance (diff ≤ 6.4e6 micro ⇒ per-vector
  *    total ≤ ~2.6e15, exact); ties need no rule — only the min enters;
  *  - aggregate: per-vector totals shrink micro²→(div 1e6) before the
  *    corpus sum, so the sum stays exact past 1e9 vectors.
  *
  * Scale shape: ONE corpus scan computes plant, rotation, and BOTH
  * lanes' per-vector errors in the same codegen'd projection (the
  * centroids ride along as 16-row typedLit DATA columns — the r10
  * lesson: never unroll codebook components into the expression tree);
  * the only driver state is the census (d²), v₁ (d longs) and the 16
  * sampled vectors — the bounded-codebook contract. The shuffle is one
  * 2-long partial aggregate.
  */
object Opq {

  /** Spike strength a (the planted multiplier on (u·x)u): micro step
    * divisor is d/a = 32 at d=64, a=2.
    */
  val SpikeDiv = 32

  /** Sampled centroids per subspace (one shared 16-id sample codes all
    * subspaces, the [[ProductQuant]] pattern).
    */
  val OpqKs = 16

  /** Subspace count (the ADC geometry: 8 subspaces × 8 dims at d=64). */
  val OpqM = 8

  private def rnd(x: Double): Long =
    if (x < 0) -Math.round(-x) else Math.round(x)

  /** Sign of planted direction j at dimension i (±1): u₁ alternates
    * +,−,+,… ; u₂ runs in blocks of two, +,+,−,−,… — orthogonal to u₁
    * over any 4-aligned span, d=64 included. Both are non-axis
    * directions of norm √d (u = e/8 at d=64).
    */
  private def e(j: Int, i: Int): Int =
    if (j == 0) (if (i % 2 == 0) 1 else -1)
    else if ((i / 2) % 2 == 0) 1 else -1

  /** The RANK-k spike-planted corpus (k ∈ {1, 2}) as
    * (vec_id, embedding: array<double>) — embedding cells are x'm/1e6,
    * the exact doubles both engines feed the covariance census. Each
    * direction j adds eⱼᵢ·sgnDiv(Sⱼ, 32) per cell, Sⱼ = Σᵢ eⱼᵢ·xmᵢ one
    * exact-long unrolled sum per row over the RAW micro cells. At k=2
    * the two directions carry equal strength, so the planted covariance
    * holds a full 2-D correlated PLANE, of which a single Householder
    * repairs only one direction (whichever mix the power iterate lands
    * on inside the near-degenerate eigenspace — the composed pair
    * repairs the whole plane either way, which is exactly the claim the
    * k=2 gauge measures).
    */
  def plantedSpike(embeddings: DataFrame, k: Int,
                   d: Int = Pca.Dim): DataFrame = {
    require(k == 1 || k == 2, s"plantedSpike: k must be 1 or 2, got $k")
    val sums = (0 until k).map(j => s"__s$j" -> (0 until d).map(i =>
      s"(${e(j, i)}L * cast(round(cast(embedding[$i] as double) * 1000000) as bigint))")
      .mkString(" + "))
    val terms = (0 until k).map { j =>
      val sign = if (j == 0) "i % 2 = 0" else "(i div 2) % 2 = 0"
      s"""
         |    + (case when $sign then 1L else -1L end)
         |    * (case when __s$j < 0 then -(abs(__s$j) div $SpikeDiv)
         |       else abs(__s$j) div $SpikeDiv end)""".stripMargin
    }.mkString
    sums.foldLeft(graft.Tables.spread(embeddings)) { case (df, (c, sum)) =>
        df.withColumn(c, expr(s"($sum)")) }
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${d - 1}), i ->
           |  (cast(round(cast(embedding[i] as double) * 1000000) as bigint)$terms)
           |  / cast(1000000 as double))""".stripMargin).as("embedding"))
  }

  /** The gauge over k ∈ {1, 2} reflections: mean PQ reconstruction
    * error per vector in milli² units (Σ per-vector min-distance totals
    * div 1e6, then div n) on the rank-k plant, per lane —
    *  - k=1: `identity` vs `rotated` by the single Householder from v₁
    *    ([[Pca.topComponent]]); the spec pins rotated < identity;
    *  - k=2 (VERDICT r19 #4): `identity`, `rotated1` and `rotated2`,
    *    the single and the COMPOSED two-reflection rotation from the
    *    deflated (v₁, v₂) pair ([[Pca.topTwoComponents]] through
    *    [[graft.operators.ProductQuant.composeHouseholders]] — the same
    *    integers the store's k-row rotation sidecar persists). The
    *    single reflection leaves subspaces 2..M correlated; the second
    *    repairs direction 2, so rotated2 < rotated1 < identity
    *    (spec-pinned ordered).
    * Every integer is oracle-replayed.
    */
  def opqDistortion(embeddings: DataFrame, k: Int,
                    d: Int = Pca.Dim): DataFrame = {
    require(d == 64, s"opqDistortion: the planted-spike geometry is d=64, got $d")
    val planted = plantedSpike(embeddings, k, d)
    // learn the spike directions from the planted census (driver state:
    // d² census, k d-long components — the bounded-codebook contract)
    val comps =
      if (k == 1) Seq(Pca.topComponent(planted, d)._1)
      else { val (v1, v2) = Pca.topTwoComponents(planted, d); Seq(v1, v2) }
    val rots = ProductQuant.composeHouseholders(comps, d)

    // the 16 sampled centroid ids + their planted/rotated micro forms,
    // computed driver-side with the IDENTICAL integer steps
    val sampIds = planted
      .select(col("vec_id"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(OpqKs)
      .select("vec_id").collect().map(_.getLong(0))
    val sampRaw = embeddings
      .filter(col("vec_id").isin(sampIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Number](1).map(_.doubleValue).toArray).toMap
    def plantMicro(x: Array[Double]): Array[Long] = {
      val xm = x.map(v => rnd(v * 1000000))
      val a = (0 until k).map { j =>
        var t = 0L; var i = 0
        while (i < d) { t += e(j, i) * xm(i); i += 1 }
        if (t < 0) -(math.abs(t) / SpikeDiv) else math.abs(t) / SpikeDiv
      }
      Array.tabulate(d)(i =>
        (0 until k).foldLeft(xm(i))((acc, j) => acc + e(j, i) * a(j)))
    }
    def reflect(xm: Array[Long], w: Array[Long], ww: Long): Array[Long] = {
      var wx = 0L; var j = 0
      while (j < d) { wx += w(j) * xm(j); j += 1 }
      val c2 = 2.0 * wx / ww
      Array.tabulate(d)(j => xm(j) - rnd(c2 * w(j)))
    }
    // sample order is part of the contract (centroid c is the c-th
    // md5-ordered id on both engines); stage r's centroids carry the
    // first r reflections — each lane's quantizer trains in the space
    // it codes
    val cents = rots.scanLeft(sampIds.map(id => plantMicro(sampRaw(id))).toSeq) {
      case (cs, (w, ww)) => cs.map(reflect(_, w, ww)) }

    val subLen = d / OpqM
    def minDistExpr(vec: String, cents: String): String = {
      val perSub = s"""aggregate(sequence(0, ${subLen - 1}), 0L,
                      |  (a2, i) -> a2 + ($vec[s * $subLen + i] - c[s * $subLen + i])
                      |                 * ($vec[s * $subLen + i] - c[s * $subLen + i]))""".stripMargin
      s"""aggregate(sequence(0, ${OpqM - 1}), 0L, (acc, s) ->
         |  acc + array_min(transform($cents, c -> $perSub)))""".stripMargin
    }
    // stage r = the micro cells after r reflections; the w·x fold
    // hoists into its own column so it runs once per row, not per cell.
    // A stage the NEXT reflection reads rides as a GENERATOR child — the
    // r11 discipline: referenced once inside that reflection's lambda,
    // CollapseProject would otherwise inline it and re-evaluate it per
    // cell. The last stage is read only by the min-dist lanes and stays
    // a plain projection.
    val stages = planted.withColumn("m0", expr(
      s"transform(embedding, v -> cast(round(v * 1000000) as bigint))"))
      .select(col("m0"))
    val reflected = rots.zipWithIndex.foldLeft(stages) {
      case (df, ((w, ww), r)) =>
        val wLit = w.mkString("array(", "L, ", "L)")
        val next = expr(
          s"""transform(sequence(0, ${d - 1}), i ->
             |  m$r[i] - cast(round(2.0d * __wx / ${ww}L
             |    * element_at($wLit, i + 1)) as bigint))""".stripMargin)
        val withWx = df.withColumn("__wx", expr(
          s"aggregate(sequence(0, ${d - 1}), 0L, " +
            s"(acc, j) -> acc + element_at($wLit, j + 1) * m$r[j])"))
        if (r + 1 == rots.length) withWx.withColumn(s"m${r + 1}", next)
        else withWx.select((0 to r).map(i => col(s"m$i")) :+
          explode(array(next)).as(s"m${r + 1}"): _*)
    }
    val lanes = "identity" +: (1 to k).map(r =>
      if (k == 1) "rotated" else s"rotated$r")
    val totals = cents.zipWithIndex.foldLeft(reflected) {
        case (df, (cs, r)) => df.withColumn(s"c$r", typedLit(cs.map(_.toSeq))) }
      .select(lanes.indices.map(r =>
        expr(minDistExpr(s"m$r", s"c$r")).as(s"tot$r")): _*)
      // micro²→div 1e6 BEFORE the corpus sum: exact past 1e9 vectors
      .agg(count(lit(1)).as("n_vectors"), lanes.indices.map(r =>
        sum(expr(s"tot$r div 1000000")).as(s"s$r")): _*)
    totals.select(explode(array(lanes.zipWithIndex.map { case (lane, r) =>
        struct(lit(lane).as("lane"), col("n_vectors"),
          expr(s"s$r div n_vectors").as("mse_milli2"))
      }: _*)).as("r"))
      .select(col("r.lane").as("lane"), col("r.n_vectors").as("n_vectors"),
        col("r.mse_milli2").as("mse_milli2"))
      .orderBy("lane")
  }
}
