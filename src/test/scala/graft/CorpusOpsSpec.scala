package graft

import graft.operators.TextAnalysis
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Round-7 corpus operators: bigram census, boilerplate scan, PII scrub,
  * domain mixing, ANN recall gate, bucketed co-located join.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  test("ngramTopK ranks are dense 1..k with non-increasing counts per lang") {
    val r = TextAnalysis.ngramTopK(docs, 10)
      .select("lang", "occurrences", "rank")
      .as[(String, Long, Int)].collect()
    assert(r.nonEmpty)
    r.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to byRank.length))
      assert(byRank.map(_._2).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b
        case _         => true
      })
    }
  }

  test("boilerplate flags planted shared windows and nothing else as shared") {
    val planted = docs.withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" home login search contact about privacy terms help")))
        .otherwise(col("text")))
    val r = TextAnalysis.boilerplate(planted, 5, 2)
      .select("doc_id", "boiler_windows")
      .as[(Long, Long)].collect().toMap
    val plantedIds = r.keySet.filter(_ % 4 == 0)
    assert(plantedIds.size >= 2)
    // the 4 windows fully inside the 8-token nav bar repeat across every
    // planted doc; straddling windows may add more
    plantedIds.foreach(id => assert(r(id) >= 4, s"doc $id: ${r(id)}"))
    // the small-vocabulary fixture has naturally repeated 5-grams, so the
    // unplanted corpus is NOT zero — but planting must add at least the 4
    // nav-bar windows to every planted doc on top of its natural score
    val clean = TextAnalysis.boilerplate(docs, 5, 2)
      .select("doc_id", "boiler_windows").as[(Long, Long)].collect().toMap
    plantedIds.foreach { id =>
      assert(r(id) >= clean.getOrElse(id, 0L) + 4, s"doc $id delta")
    }
  }

  test("piiRedact counts planted PII and redacts exactly the matching docs") {
    val planted = docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(col("text")))
    val r = TextAnalysis.piiRedact(planted)
      .select("doc_id", "n_emails", "n_phones", "redacted")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(r.nonEmpty)
    r.foreach { case (id, e, p, red) =>
      assert(red == (e + p > 0), s"doc $id")
      if (id % 5 == 0) assert(e >= 1 && p >= 1, s"doc $id: e=$e p=$p")
    }
  }

  test("domainMix fills every named source exactly to its water-filled quota") {
    val shares = Map("src0" -> 200, "src1" -> 200, "src2" -> 100, "src3" -> 500)
    val picked = TextAnalysis.domainMix(docs, shares)
      .select("source", "quota").as[(String, Long)].collect()
    val kept = picked.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val quota = picked.groupBy(_._1).view.mapValues(_.head._2).toMap
    val totals = docs.filter(col("source").isin(shares.keys.toSeq: _*))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val t = shares.collect { case (s, pm) if totals.contains(s) =>
      totals(s) * 1000L / pm
    }.min
    kept.foreach { case (src, n) =>
      assert(n == quota(src), s"$src kept $n != quota ${quota(src)}")
      assert(quota(src) == t * shares(src) / 1000L, s"$src quota formula")
      assert(n <= totals(src), s"$src upsampled")
    }
    // deterministic: a re-run picks the identical document set
    val again = TextAnalysis.domainMix(docs, shares)
      .select("doc_id").as[Long].collect().toSet
    assert(again == TextAnalysis.domainMix(docs, shares)
      .select("doc_id").as[Long].collect().toSet)
  }

  test("domainTemperatureMix flattens: big sources lose share, quotas exact") {
    // sources of 100 and 4 docs: sqrt weights 10 and 2, budget 12 →
    // quotas 10 and 2 — the small source's share rises from ~4% to 1/6
    val synth = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "tiny")))
      .toDF("doc_id", "source")
    val out = TextAnalysis.domainTemperatureMix(synth, budget = 12L)
      .select("source", "quota").as[(String, Long)].collect()
    val kept = out.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(kept == Map("big" -> 10L, "tiny" -> 2L))
    assert(out.toMap == Map("big" -> 10L, "tiny" -> 2L)) // quota == kept
  }

  test("madOutliers flags only past k*MAD with discrete integer medians") {
    // group a: [10,10,10,10,100] → med 10, MAD 0 → only the 100 flags
    // group b: 1..7 → med 4, MAD 2 → nothing exceeds 2*MAD = 4
    val synth = (Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "a", 10L), (5L, "a", 100L)) ++
      (1 to 7).map(i => (10L + i, "b", i.toLong)))
      .toDF("id", "g", "v")
    val out = graft.operators.Quantiles
      .madOutliers(synth, "g", "id", "v", k = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("g") == "a" && r.getAs[Long]("id") == 5L &&
      r.getAs[Long]("med") == 10L && r.getAs[Long]("mad") == 0L &&
      r.getAs[Long]("dev") == 90L)
  }

  test("pareto2D keeps exactly the non-dominated set, ties included") {
    // (x, y): (1,5) on-frontier; (1,3) dominated same-x; (2,5) dominates
    // (1,5)? no — x greater, y equal → (1,5) IS dominated by (2,5).
    // (3,4) frontier; (3,4) duplicate kept; (4,1) frontier (max x).
    val df = Seq((10L, 1L, 5L), (11L, 1L, 3L), (12L, 2L, 5L),
      (13L, 3L, 4L), (14L, 3L, 4L), (15L, 4L, 1L))
      .toDF("id", "x", "y")
    val out = graft.operators.Skyline.pareto2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(out == Set(12L, 13L, 14L, 15L))
    // brute-force cross-check: no kept row is dominated, every dropped
    // row is
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(p: (Long, Long, Long)) = rows.exists(q =>
      q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
    rows.foreach { p =>
      assert(out.contains(p._1) == !dominated(p), s"row $p")
    }
  }

  test("drift stats are zero on identical sides, positive under a shift") {
    val base = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("event_id", "value")
    val same = graft.operators.Drift.twoSampleDrift(base, base, 1000L)
      .collect().head
    assert(same.getAs[Long]("ks_permille") == 0L &&
      same.getAs[Long]("chi2_micro") == 0L)
    // shift every value up by 20.00 — one full bin width
    val shifted = base.withColumn("value", col("value") + 20.0)
    val drift = graft.operators.Drift.twoSampleDrift(base, shifted, 2000L)
      .collect().head
    assert(drift.getAs[Long]("ks_permille") > 0L &&
      drift.getAs[Long]("chi2_micro") > 0L)
  }

  test("symspell join finds every levenshtein-1 pair kind, nothing past 1") {
    val a = Seq((1L, "abcd"), (2L, "wxyz")).toDF("ida", "na")
    // equal / substitution / deletion / insertion / distance-2
    val b = Seq((10L, "abcd"), (11L, "abed"), (12L, "abd"),
      (13L, "abcde"), (14L, "abef")).toDF("idb", "nb")
    val out = graft.operators.Fuzzy
      .editDistance1Join(a, b, "ida", "na", "idb", "nb")
      .select("id_a", "id_b", "distance").as[(Long, Long, Int)]
      .collect().toSet
    assert(out == Set((1L, 10L, 0), (1L, 11L, 1), (1L, 12L, 1),
      (1L, 13L, 1)))
  }

  test("denseIds equals the global row_number over gappy keys") {
    val keys = Seq(5L, 7L, 103L, 250L, 251L, 999L, 1000L, 5000L)
    val df = keys.toDF("k0")
    val out = graft.operators.Ids.denseIds(df, "k0", 100L)
      .orderBy("k0").select("k0", "dense_id").as[(Long, Long)]
      .collect().toSeq
    assert(out == keys.sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) })
  }

  test("joinSizeEstimate predicts the exact join cardinality and skew key") {
    val left = Seq(1L, 1L, 2L, 3L).toDF("lk")
    val right = Seq(1L, 2L, 2L, 4L).toDF("rk")
    val r = graft.operators.Profile.joinSizeEstimate(left, right, "lk", "rk")
      .collect().head
    assert((r.getAs[Long]("est_rows"), r.getAs[Long]("n_common_keys"),
      r.getAs[Long]("n_keys_left"), r.getAs[Long]("n_keys_right"),
      r.getAs[Long]("max_key_rows")) == ((4L, 2L, 3L, 3L, 2L)))
    // the estimate equals the executed join's count
    assert(left.join(right, col("lk") === col("rk")).count() ==
      r.getAs[Long]("est_rows"))
  }

  test("percentileNorm spans 0..1000 per group with integer rank steps") {
    val df = (1 to 5).map(i => (i.toLong, "g", i * 10L))
      .toDF("id", "grp", "score")
    val pr = graft.operators.Rank.percentileNorm(df, "grp", "score", "id")
      .orderBy("id").select("pr_permille").as[Long].collect().toSeq
    assert(pr == Seq(0L, 250L, 500L, 750L, 1000L))
    // 1-row group normalizes to 0, not a division by zero
    val one = graft.operators.Rank.percentileNorm(
      Seq((1L, "x", 5L)).toDF("id", "grp", "score"), "grp", "score", "id")
      .select("pr_permille").as[Long].collect().toSeq
    assert(one == Seq(0L))
  }

  test("chunkDedupRewrite keeps first owner, rewrites later docs only") {
    // doc 1: ABC|DEF  doc 2: DEF|XYZ (shares span DEF with doc 1)
    // doc 3: unique single short span
    val a = "a" * 3; val b = "b" * 3; val c = "c" * 3
    val synth = Seq((1L, a + b), (2L, b + c), (3L, "zz"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.chunkDedupRewrite(synth, 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("kept_chunks"),
        r.getAs[Long]("new_len"))).toSeq
    // doc 1 keeps both spans (owns aaa and bbb); doc 2 loses bbb to
    // doc 1 and keeps ccc; doc 3 keeps its only span
    assert(out == Seq((1L, 2L, 2L, 6L), (2L, 2L, 1L, 3L), (3L, 1L, 1L, 2L)))
  }

  test("ann_recall face: k_truth is exact-k and recall stays within [0,1]") {
    val q = SparkEntry.queries("ann_recall")(spark, sfDir)
      .select("k_truth", "hits", "recall").as[(Long, Long, Double)].collect()
    assert(q.length == 50)
    q.foreach { case (k, h, rec) =>
      assert(k == 3 && h >= 0 && h <= k)
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("pca_ann_recall: bucket-on-reduction + full-dim rerank beats ranking in reduced space") {
    val q = SparkEntry.queries("pca_ann_recall")(spark, sfDir)
      .select("k_truth", "hits", "recall").as[(Long, Long, Double)].collect()
    assert(q.length == 50)
    q.foreach { case (k, h, rec) =>
      assert(k == 3 && h >= 0 && h <= k)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the gauge's stated expectation: the 4x-smaller index holds most
    // of the full-dim recall (0.60 at this fixture; floor well below)
    val meanComposed = q.map(_._3).sum / q.length
    assert(meanComposed >= 0.4, s"composed recall $meanComposed")
    // ...while RANKING inside the 16-dim JL space scrambles the
    // near-orthogonal neighbor order — the design claim behind the
    // bucket/rerank split, pinned here
    val e = Tables.load(spark, sfDir, "embeddings")
    val truth = operators.Similarity
      .bruteForceTopK(e, col("vec_id") < 50, 3)
      .select("query_id", "cand_id")
    val inRed = operators.Similarity
      .signLshTopK(operators.Pca.jlProject(e, k = 16), col("vec_id") < 50, 3)
      .select(col("query_id").as("a_qid"), col("cand_id").as("a_cid"))
    val hitRows = truth.join(inRed,
      truth("query_id") === inRed("a_qid") && truth("cand_id") === inRed("a_cid"))
      .count()
    val meanInRed = hitRows.toDouble / (q.length * 3)
    assert(meanComposed > meanInRed + 0.2,
      s"composed $meanComposed vs in-reduced $meanInRed")
  }

  test("opq_distortion: the learned rotation reduces PQ reconstruction error") {
    val rows = SparkEntry.queries("opq_distortion")(spark, sfDir)
      .select("lane", "n_vectors", "mse_milli2")
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq("identity", "rotated"))
    val Array(ident, rot) = rows
    assert(ident._2 == rot._2 && ident._2 > 0)
    assert(ident._3 > 0 && rot._3 > 0)
    // the design claim (VERDICT r12 #4): rotating into the learned
    // basis strictly reduces reconstruction MSE on the spike-planted
    // corpus — measured ~3.3% at sf0.01/sf0.1, strict here
    assert(rot._3 < ident._3,
      s"rotated ${rot._3} must beat identity ${ident._3}")
    // the plant is load-bearing: the planted corpus's top eigenvalue
    // must carry the spike (λ1 well above the isotropic trace share)
    val planted = operators.Opq.plantedSpike(
      Tables.load(spark, sfDir, "embeddings"), 1)
    val (_, l1, tr) = operators.Pca.topComponent(planted)
    assert(l1 > 3L * tr / 64, s"lambda1=$l1 trace=$tr — spike not planted?")
  }

  test("opq_distortion2: on a rank-2 plant the composed two-reflection rotation strictly beats the single reflection (VERDICT r19 #4)") {
    val rows = SparkEntry.queries("opq_distortion2")(spark, sfDir)
      .select("lane", "n_vectors", "mse_milli2")
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq("identity", "rotated1", "rotated2"))
    val Array(ident, r1, r2) = rows
    assert(ident._2 == r1._2 && r1._2 == r2._2 && ident._2 > 0)
    assert(ident._3 > 0 && r1._3 > 0 && r2._3 > 0)
    // the honest-measurement claim: with TWO correlated directions
    // planted, one Householder repairs only the first — the composed
    // rotation repairs both, strictly
    assert(r1._3 < ident._3,
      s"rotated1 ${r1._3} must beat identity ${ident._3}")
    assert(r2._3 < r1._3,
      s"rotated2 ${r2._3} must beat the single reflection ${r1._3}")
    // both planted directions are load-bearing: the two leading
    // eigenvalues of the planted census must both carry spike signal
    val planted = operators.Opq.plantedSpike(
      Tables.load(spark, sfDir, "embeddings"), 2)
    val (_, l1, tr) = operators.Pca.topComponent(planted)
    val (_, l2, _) = operators.Pca.secondComponent(planted)
    assert(l1 > 3L * tr / 64, s"lambda1=$l1 trace=$tr — spike 1 not planted?")
    assert(l2 > 3L * tr / 64, s"lambda2=$l2 trace=$tr — spike 2 not planted?")
  }

  test("profile covers every column in one pass with exact null/distinct counts") {
    val orders = Tables.load(spark, sfDir, "orders")
    val p = operators.Profile.profile(orders)
      .select("col_name", "n_rows", "n_nulls", "n_distinct")
      .as[(String, Long, Long, Long)].collect()
    val n = orders.count()
    assert(p.map(_._1).toSet == orders.columns.toSet)
    p.foreach { case (c, rows, nulls, distinct) =>
      assert(rows == n, s"$c n_rows")
      assert(nulls >= 0 && nulls <= n && distinct <= n, s"$c bounds")
    }
    val pk = p.find(_._1 == "o_orderkey").get
    assert(pk._3 == 0 && pk._4 == n, "dense-unique PK profile")
    // the sketch variant keeps the same shape (values are approximate)
    assert(operators.Profile.profile(orders, exactDistinct = false).count()
      == orders.columns.length.toLong)
  }

  test("minhashEval reports lane-estimate vs exact jaccard consistently") {
    val d = docs
    val eval = operators.Dedup.minhashEval(d)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard", "abs_err")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(eval.nonEmpty)
    eval.foreach { case (_, _, est, jac, err) =>
      assert(est >= 0.0 && est <= 1.0 && jac >= 0.0 && jac <= 1.0)
      assert(math.abs(err - math.abs(est - jac)) < 1e-6)
    }
    // every pair the miner keeps at 0.5 appears among the evaluated candidates
    val mined = operators.Dedup.minhashNearDups(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = eval.map(e => (e._1, e._2)).toSet
    assert(mined.subsetOf(cands))
  }

  test("band sweep hot-bucket cap drops template buckets and states the count") {
    import spark.implicits._
    // 40 docs dominated by ONE shared template (every shingle shared),
    // each with a distinct tail token: in the loosest (12, 1) config the
    // shared min-shingle puts all 40 in one band bucket per lane — the
    // Σ bucket² blowup the cap exists for. Cap 8 << 40 must fire.
    val template = (1 to 12).map(i => s"tmpl$i").mkString(" ")
    val hot = (0 until 40).map(i => (i.toLong, s"$template tail$i"))
      .toDF("doc_id", "text")
    val capped = operators.Dedup.minhashBandSweep(hot, maxBucket = Some(8))
      .collect()
    assert(capped.length == 5)
    val byBands = capped.map(r => r.getAs[Int]("bands") ->
      r.getAs[Long]("dropped_postings")).toMap
    // the 1-lane config's buckets are single min-shingle values — the 40-doc
    // template bucket exceeds the cap in every lane
    assert(byBands(12) > 0, s"loosest config must drop postings: $byBands")
    // the cap actually removed the quadratic bucket: uncapped, the hot
    // bucket pairs nearly all 40 template docs (≈ C(40,2) = 780
    // candidates in the loosest config); capped, pairs come only from
    // ≤ 8-doc buckets
    val uncapped = operators.Dedup.minhashBandSweep(hot).collect()
    def nCandAt12(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.find(_.getAs[Int]("bands") == 12).get.getAs[Long]("n_candidates")
    assert(nCandAt12(uncapped) > 700L, "fixture must blow up uncapped")
    assert(nCandAt12(capped) < nCandAt12(uncapped) / 4,
      s"cap must bound the hot bucket: ${nCandAt12(capped)} vs ${nCandAt12(uncapped)}")
    // self-check row stays internally consistent under the cap: truth is
    // the capped loosest config's verified candidates, so recall == 1000
    val loosest = capped.find(_.getAs[Int]("bands") == 12).get
    assert(loosest.getAs[Long]("n_truth") == 0 ||
      loosest.getAs[Long]("recall_permille") == 1000L)
    // cap is inert when no bucket exceeds it: same rows, zero dropped
    val d = docs
    val exact = operators.Dedup.minhashBandSweep(d).collect()
    val wide = operators.Dedup.minhashBandSweep(d, maxBucket = Some(1000000))
      .collect()
    assert(exact.map(_.toSeq).toSeq == wide.map(_.toSeq).toSeq)
    assert(wide.forall(_.getAs[Long]("dropped_postings") == 0L))
  }

  test("replay dedup keeps first delivery and counts every redelivery") {
    val r = SparkEntry.queries("events_dedup_replay")(spark, sfDir)
      .select("event_id", "n_deliveries", "first_ts_ms")
      .as[(Long, Long, Long)].collect()
    val ev = Tables.load(spark, sfDir, "events")
    val expected = ev.filter(col("event_id") % 9 === 0)
      .select(col("event_id"), graft.functions.Canonical.epochMs(col("ts")))
      .as[(Long, Long)].collect().toMap
    assert(r.length == expected.size)
    r.foreach { case (id, nd, ts) =>
      assert(id % 9 == 0 && nd == 2)
      assert(ts == expected(id), s"event $id first-seen drifted")
    }
  }

  test("packSequences spans tile each document exactly and fill sequences to width") {
    val spans = TextAnalysis.packSequences(docs, 512L)
      .select("lang", "seq_id", "doc_id", "tok_start", "tok_end", "n_toks")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val est = docs.select(col("doc_id"),
      expr("(length(text) + 3) div 4").cast("long"))
      .as[(Long, Long)].collect().toMap
    // per doc: spans start at 0, end at est, and are contiguous
    spans.groupBy(_._3).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 == 0 && sorted.last._5 == est(id), s"doc $id ends")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 == b._4, s"doc $id gap")
        case _           =>
      }
      assert(ss.map(_._6).sum == est(id), s"doc $id token sum")
    }
    // per (lang, seq): every sequence except the stream tail is exactly full
    spans.groupBy(s => (s._1, s._2)).foreach { case ((lang, seq), ss) =>
      val filled = ss.map(_._6).sum
      val lastSeq = spans.filter(_._1 == lang).map(_._2).max
      assert(filled <= 512, s"$lang/$seq overfull")
      if (seq != lastSeq) assert(filled == 512, s"$lang/$seq underfull")
    }
  }

  test("vocabCoverage OOV counts agree with the BPE token counts") {
    val cov = TextAnalysis.vocabCoverage(docs, 100)
      .select("doc_id", "n_bpe", "oov").as[(Long, Long, Long)].collect()
    val bpe = TextAnalysis.tokenCounts(docs)
      .select("doc_id", "bpe_tokens").as[(Long, Long)].collect().toMap
    assert(cov.length == bpe.size)
    cov.foreach { case (id, n, oov) =>
      assert(n == bpe(id), s"doc $id token count")
      assert(oov >= 0 && oov <= n, s"doc $id oov bounds")
    }
  }

  test("lengthDeciles is an equal-depth, order-respecting 10-way split") {
    val d = TextAnalysis.lengthDeciles(docs)
      .select("n_tokens", "decile").as[(Long, Int)].collect()
    val byDecile = d.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDecile.keySet == (1 to 10).toSet)
    assert(byDecile.values.max - byDecile.values.min <= 1)
    // monotone: no doc in a lower decile is longer than one in a higher
    (1 to 9).foreach { k =>
      assert(d.filter(_._2 == k).map(_._1).max
        <= d.filter(_._2 == k + 1).map(_._1).min, s"decile $k order")
    }
  }

  test("decomposed ntile equals Spark's window ntile when n % 10 != 0") {
    // The decomposed-rank form (bounded census window + per-length
    // row_number) must reproduce NTile's uneven-bucket rule — the first
    // n%10 buckets take one extra row — which the sf fixtures (n
    // divisible by 10) never exercise. 503 synthetic docs with heavy
    // length ties hit both branches.
    import org.apache.spark.sql.expressions.Window
    val synth = (1 to 503)
      .map(i => (i.toLong, ("w " * (1 + i % 7)).trim))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lengthDeciles(synth)
      .select("doc_id", "decile").as[(Long, Int)].collect().toMap
    val want = synth
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tokens"))
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("n_tokens"), col("doc_id"))))
      .select("doc_id", "decile").as[(Long, Int)].collect().toMap
    assert(got == want)
  }

  test("star join attaches every dim via broadcast — the fact side never shuffles pre-agg") {
    val q = SparkEntry.queries("star_join_revenue")(spark, sfDir)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 3, plan)
    assert(!plan.contains("SortMergeJoin"), "dim chain fell back to SMJ")
  }

  test("rollup emits consistent level sums in one pass") {
    val r = SparkEntry.queries("events_rollup")(spark, sfDir)
      .select("event_type_k", "gid", "cnt")
      .as[(String, Int, Long)].collect()
    val total = r.filter(_._2 == 3)
    assert(total.length == 1 && total.head._1 == "ALL")
    val perType = r.filter(_._2 == 1)
    // each type's hour rows (gid=0) sum to its type row, types sum to total
    assert(perType.map(_._3).sum == total.head._3)
    perType.foreach { case (et, _, cnt) =>
      assert(r.filter(x => x._2 == 0 && x._1 == et).map(_._3).sum == cnt, et)
    }
  }

  test("day filter over the partitioned layout prunes at the partition level") {
    val out = Scratch.dir("events_part_spec_")
    Tables.load(spark, sfDir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val back = spark.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-03"))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(scan).isDefined,
      s"day filter not pushed to partition pruning:\n$scan")
    // pruned read equals the unpartitioned filter
    val direct = Tables.load(spark, sfDir, "events")
      .filter(to_date(col("ts")) === lit("2024-01-03")).count()
    assert(back.count() == direct && direct > 0)
  }

  test("bucketed co-located join plans with zero exchanges and exact results") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.load(spark, sfDir, "orders")
      val li = Tables.load(spark, sfDir, "lineitem")
      val r = Bucketing.colocatedRevenue(orders, li, 8)
      r.count()
      val plan = r.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 0, s"expected shuffle-free plan, got $exchanges:\n$plan")
      // same rows as the straightforward shuffled join
      val dec = (c: String) => col(c).cast("decimal(18,2)")
      val direct = li.groupBy("l_orderkey").agg(
        count(lit(1)).as("n_items"),
        sum((dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("decimal(30,4)")).cast("double").as("revenue"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "n_items", "revenue")
        .as[(Long, Double, Long, Double)].collect().toSet
      assert(r.select("o_orderkey", "o_totalprice", "n_items", "revenue")
        .as[(Long, Double, Long, Double)].collect().toSet == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  test("bpe training learns CHAINED merges and stops when pairs run dry") {
    // Crafted vocabulary: "the" x10, "th" x5.
    //  round 1: (t,h) weight 15 beats (h,e) weight 10 -> th
    //  round 2: the only heterogeneous pair left is (th,e) weight 10 —
    //           the previously-merged symbol participates, proving the
    //           rounds COMPOSE (the one-step pair census cannot do this)
    //  round 3: no heterogeneous pairs remain -> graceful early stop
    val docs = (Seq.fill(10)("the") ++ Seq.fill(5)("th")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val out = graft.operators.Lexicon.bpeTrainMerges(docs, 3)
      .orderBy("step").collect()
    assert(out.length == 2)
    assert((out(0).getInt(0), out(0).getString(1), out(0).getString(2),
      out(0).getLong(3), out(0).getLong(4)) == ((1, "t", "h", 15L, 25L)))
    assert((out(1).getInt(0), out(1).getString(1), out(1).getString(2),
      out(1).getLong(3), out(1).getLong(4)) == ((2, "th", "e", 10L, 15L)))
  }

  test("bpe merge application is left-to-right equivalent for l != r") {
    // "abab" with merge (a,b): both occurrences merge independently
    // (positions 1 and 3 — never overlapping when l != r), so the word
    // compresses 4 -> 2 symbols in one round.
    val docs = Seq((1L, "abab abab abab")).toDF("doc_id", "text")
    val out = graft.operators.Lexicon.bpeTrainMerges(docs, 1).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "a" && out(0).getString(2) == "b")
    // one word, freq 3, 2 symbols after -> weighted count 6
    assert(out(0).getLong(4) == 6L)
  }

  test("bpe merges homogeneous pairs left-to-right non-overlapping") {
    // THE r11 restriction fixture (VERDICT r11 #6): under the old
    // heterogeneous-only rule this corpus learned NO merge at all
    // (every adjacent pair is (a,a)); real BPE must learn (a,a) and
    // apply it left-to-right without overlap:
    //   "aaaa" -> aa,aa   (2 merges, not 3 overlapping positions)
    //   "aaa"  -> aa,a    (1 merge; the tail 'a' survives)
    // census: 5 x "aaaa" contributes 2 each, 3 x "aaa" contributes 1
    //   -> pair_count 13 (= merges applied), symbols_after
    //      5*2 + 3*2 = 16
    val docs = (Seq.fill(5)("aaaa") ++ Seq.fill(3)("aaa")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val out = graft.operators.Lexicon.bpeTrainMerges(docs, 2)
      .orderBy("step").collect()
    assert(out.length == 2)
    assert((out(0).getInt(0), out(0).getString(1), out(0).getString(2),
      out(0).getLong(3), out(0).getLong(4)) == ((1, "a", "a", 13L, 16L)))
    // round 2 composes on the merged symbol: "aa","aa" -> (aa,aa) in
    // the 5 "aaaa" words (parity restarts on the new runs); "aa","a"
    // is (aa,a) heterogeneous in the 3 "aaa" words. (aa,aa) weight 5
    // beats (aa,a) weight 3 -> "aaaa"; after: 5*1 + 3*2 = 11
    assert((out(1).getInt(0), out(1).getString(1), out(1).getString(2),
      out(1).getLong(3), out(1).getLong(4)) == ((2, "aa", "aa", 5L, 11L)))
    // the vocabulary face segments with the same rule
    val vocab = graft.operators.Lexicon.bpeVocab(docs, 2, 10)
      .select("symbol", "weighted_count")
      .as[(String, Long)].collect().toMap
    assert(vocab("aaaa") == 5L && vocab("aa") == 3L && vocab("a") == 3L)
  }

  test("bpe apply replays frozen merges on training and unseen words") {
    // train: "the"x10, "th"x5, "aaaa"x4 -> merges (t,h,15), (th,e,10),
    // (a,a,8) in that order
    val train = (Seq.fill(10)("the") ++ Seq.fill(5)("th") ++
      Seq.fill(4)("aaaa")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = graft.operators.Lexicon.bpeTrainMerges(train, 3)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("t", "h"), ("th", "e"), ("a", "a")))
    // self-application reproduces the trainer's final segmentation
    val self = graft.operators.Lexicon.bpeApply(train, merges)
      .select("word", "segmented").as[(String, String)].collect().toMap
    assert(self == Map("the" -> "the", "th" -> "th", "aaaa" -> "aa aa"))
    // unseen words segment with the same ordered replay: "thath" merges
    // (t,h) twice then nothing; "aaa" merges (a,a) once, parity tail
    val delta = Seq((100L, "thath aaa")).toDF("doc_id", "text")
    val out = graft.operators.Lexicon.bpeApply(delta, merges)
      .select("word", "segmented", "n_syms")
      .as[(String, String, Long)].collect()
      .map { case (w, s, n) => w -> ((s, n)) }.toMap
    assert(out("thath") == (("th a th", 3L)))
    assert(out("aaa") == (("aa a", 2L)))
  }

  test("bpe fertility: the trained-for language compresses, the unseen one pays") {
    // TWO rounds learn (t,h) then (th,e) from the 'en' mass and stop
    // before the rare 'zz' pairs would merge, so every 'zz' character
    // stays a token:
    //   en: "the"x10 -> 1 sym each: syms 10, chars 30, words 10
    //   zz: "qk xv"x2 -> 2 syms per 2-char word: syms 8, chars 8, words 4
    val docs = (Seq.fill(10)(("the", "en")) ++ Seq.fill(2)(("qk xv", "zz")))
      .zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.Lexicon.fertilityByLang(docs, 2).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    assert(out("en") == ((10L, 30L, 10L, 333333L, 1000000L)))
    assert(out("zz") == ((4L, 8L, 8L, 1000000L, 2000000L)))
    assert(out("en")._4 < out("zz")._4) // fertility gap = tokenizer tax
  }
}
