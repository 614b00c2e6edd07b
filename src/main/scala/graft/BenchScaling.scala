package graft
import graft.Harness.{json, ms}

/** Scaling-curve harness (VERDICT r11 #4): run the headline query
  * families at sf0.001 / sf0.01 / sf0.1 (plus sf1 when generated — see
  * [[GenFixtures]]) in one interleaved pass and report each family's
  * TIME-GROWTH EXPONENT per data decade —
  * e = ln(t_hi/t_lo) / ln(sf_hi/sf_lo), so linear scaling reads 1.0,
  * constant overhead reads ~0, and anything clearly above the data
  * growth is a plan that is secretly superlinear and would surface at
  * 100 TB long after the sf0.1 gate went green. The TOP decade is the
  * signal; the bottom ones are fixed-overhead dominated at these sizes
  * and reported for context only.
  *
  * Families: the five the r11 verdict names (row_diff, dedup_minhash,
  * ann_ivfadc, graph_triangles, pipeline_curate) plus the two classic
  * scan-bound baselines (q1_pricing_summary, hashdiff_lineitem) as the
  * known-linear control group.
  *
  * Timing is [[Harness.time]], as for [[Bench]]: warm-up outside the
  * timings, min of interleaved reps. Its cells are (family, sf dir), so
  * a failure at one scale neither suppresses later reps at other scales
  * nor erases their samples. A family with any missing scale point still
  * emits, with the decades it can support and an `"errors"` marker.
  *
  * The r12–r20 sidecars were measured at `SPARK_GRAFT_CPUS=32` (then the
  * default here) and `SPARK_GRAFT_BENCH_REPS=3`; pass both to extend
  * that series like for like.
  */
object BenchScaling {

  private val Families = Seq("q1_pricing_summary", "hashdiff_lineitem",
    "row_diff", "dedup_minhash", "ann_ivfadc", "graph_triangles",
    "pipeline_curate",
    // r12 second-half families: the PCA census (per-row O(d²) work),
    // the Lloyd loop (3 corpus passes), the bigram LM (pair-key
    // shuffle join), and the SemDeDup sweep (cluster-bounded pairs).
    "embed_covariance", "kmeans_train_curve", "bigram_ppl",
    "semdedup_sweep",
    // r13-verdict #6 families — the heaviest new faces, exactly where a
    // superlinear surprise would hide: the capped banded self-join, the
    // partitionBy index write + pruned probe, and the d²-census OPQ
    // rotation gauge.
    "minhash_band_sweep", "ann_ivfadc_partitioned", "opq_distortion",
    // r14 banded/posting self-joins — same risk class: the 9×7-band
    // phash join over the planted image corpus and the capped
    // frame-posting containment join over the planted video corpus.
    "image_neardup", "video_neardup",
    // r15 (VERDICT r14 #7): the audio face's scaling shape differs
    // from image/video — CDC chunk boundaries make the chunk census
    // corpus-sized (every byte inspected, chunk count ∝ bytes), so the
    // containment join's input grows with content, not doc count.
    "audio_neardup",
    // r16 (VERDICT r15 #1): the deployment-path composition — publish
    // real codes as a store generation, resolve, probe. Scaling shape
    // should track ann_ivfadc_partitioned (one index write + pruned
    // probe); a divergence would mean the store layer added a scale
    // term it must not have.
    "ann_ivfadc_store_probe",
    // r18: the residual deployment seam (should track
    // ann_ivfadc_store_probe — persisting residual books must add no
    // scale term), the composed lifecycle face (rebuild-class: two
    // publishes + compaction + prune + retrain per run), and the
    // real-codec decode lane (per-row PNG decode — linear in rows is
    // the honest decoder price; superlinear would be a bug).
    "ann_ivfadc_residual_store", "index_lifecycle", "image_phash_decoded",
    // r19 faces: the residual lifecycle (rebuild-class composition),
    // the opq store (rotation learning + rotated encode + probe), and
    // the residual ingest (append-class)
    "index_lifecycle_residual", "ann_opq_store",
    "ann_ivfadc_residual_ingest",
    // r20 faces: the opq lifecycle (rebuild-class, rotation carried
    // through compact/retrain), the frozen-rotation ingest
    // (append-class), and the pinned-generation probe (probe-class:
    // should track ann_ivfadc_store_probe — resolving a retained
    // generation instead of CURRENT must add no scale term)
    "index_lifecycle_opq", "ann_opq_ingest", "index_probe_pinned")

  /** usage: runMain graft.BenchScaling [family ...]   (default: all) */
  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(Families.contains)
    require(unknown.isEmpty, s"unknown families: ${unknown.mkString(", ")}")
    val families = if (args.isEmpty) Families else Families.filter(args.toSet)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_BASE", "/root/testdata")
    // the sf1 decade lives outside the driver's read-only fixture tree
    // (GenFixtures writes it under the repo); include it when present
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/testdata/sf1")
    val sfs = Seq(0.001, 0.01, 0.1).map(sf => (s"$base/sf$sf", sf)) ++
      (if (new java.io.File(s"$sf1Dir/lineitem.parquet").exists())
        Seq((sf1Dir, 1.0)) else Nil)
    val spark = Harness.session()
    Harness.warm(spark, sfs.map(_._1))
    val t = Harness.time(spark, SparkEntry.queries,
      for ((dir, _) <- sfs; name <- families) yield (name, dir), Harness.reps)
    val sfVals = sfs.map(_._2)
    val fams = families.map { name =>
      val best = sfs.flatMap { case (dir, sf) =>
        t.samples.get((name, dir)).map(ss => sf -> ss.min) }.toMap
      def expo(lo: Double, hi: Double): Option[Double] =
        for (t0 <- best.get(lo); t1 <- best.get(hi))
          yield math.log(t1 / t0) / math.log(hi / lo)
      val timesJson = sfVals.collect {
        case sf if best.contains(sf) => json(s"sf$sf") + ":" + ms(best(sf))
      }
      val decades = sfVals.zip(sfVals.drop(1)).flatMap { case (lo, hi) =>
        expo(lo, hi).map(e => json(s"exp_sf${lo}_sf$hi") + ":" + ms(e))
      }
      // exp_top_decade falls back to the highest decade with both
      // endpoints present; "top_decade" NAMES that decade (ADVICE r13)
      // so a consumer can tell a demoted (overhead-bound, context-only)
      // exponent from the true top-decade signal.
      val top = sfVals.zip(sfVals.drop(1)).reverse
        .flatMap { case (lo, hi) => expo(lo, hi).map(e => (lo, hi, e)) }
        .headOption
        .map { case (lo, hi, e) => Seq(
          "\"exp_top_decade\":" + ms(e),
          "\"top_decade\":" + json(s"sf${lo}_sf$hi")) }
        .getOrElse(Nil)
      json(name) + ":{" + (timesJson ++ decades ++ top).mkString(",") + "}"
    }.mkString("{", ",", "}")
    val sfOf = sfs.toMap
    val errJson = t.errors.map { case ((nm, dir), v) =>
      json(s"$nm@sf${sfOf(dir)}") + ":" + json(v)
    }.mkString("{", ",", "}")
    val out =
      s"""{"metric":"scaling_exponent","families":$fams,"reps":${Harness.reps},""" +
        s""""sfs":[${sfVals.mkString(",")}],"errors":$errJson,""" +
        s""""note":"exp = ln(t_hi/t_lo)/ln(sf_hi/sf_lo); """ +
        s"""1.0 = linear in data, ~0 = overhead-bound"}"""
    // default sidecar name carries the CURRENT round — bump it when a
    // new round starts. An EXISTING sidecar is never overwritten
    // (VERDICT r16 #8: a round-16 re-run clobbered the committed r15
    // series point and only a lucky git restore saved it): the result
    // goes to a .new sibling instead, and picking which file is the
    // round's record stays an explicit human move. Set
    // SPARK_GRAFT_SCALING_OUT to write elsewhere deliberately.
    val sidecar =
      sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "BENCH_SCALING_r21.json")
    val target =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(sidecar))) {
        System.err.println(s"scaling: refusing to overwrite existing " +
          s"'$sidecar' — writing '$sidecar.new' instead (set " +
          "SPARK_GRAFT_SCALING_OUT to choose a path)")
        sidecar + ".new"
      } else sidecar
    Harness.write(target, out)
    println(out)
    spark.stop()
    if (t.exit != 0) sys.exit(t.exit)
  }
}
