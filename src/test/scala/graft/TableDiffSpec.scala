package graft

import graft.functions.Canonical
import graft.operators.{HashDiff, Perturb, TableDiff}
import graft.streaming.StreamingDiff
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

class TableDiffSpec extends SparkSpec {

  private lazy val orders = Tables.load(spark, sfDir, "orders")
  private val spec = TableDiff.DiffSpec(
    pkCols = Seq("o_orderkey"), chunkBy = "o_orderkey", chunkWidth = 500)

  test("diff of a table with itself is empty") {
    assert(TableDiff.rowDiff(orders, orders, spec).isEmpty)
    assert(TableDiff.badChunks(orders, orders, spec).isEmpty)
    assert(HashDiff.diff(orders, orders).isEmpty)
  }

  test("perturbed downstream has unique PKs at every scale (ADVICE r01)") {
    val down = Perturb.ordersDownstream(orders)
    val dupPks = down.groupBy("o_orderkey").count().filter(col("count") > 1)
    assert(dupPks.isEmpty, "insert offset must not collide with dense keys")
  }

  test("rowDiff classifies exactly the planted perturbations") {
    val down = Perturb.ordersDownstream(orders)
    val byKind = TableDiff.rowDiff(orders, down, spec)
      .groupBy("diff_kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = orders.count()
    val expectDeleted = orders.filter(col("o_orderkey") % 997 === 1).count()
    val expectMutated = orders.filter(
      col("o_orderkey") % 991 === 2 && !(col("o_orderkey") % 997 === 1)).count()
    val expectExtra = orders.filter(col("o_orderkey") % 983 === 3).count()
    assert(byKind.getOrElse("missing_on_down", 0L) == expectDeleted)
    assert(byKind.getOrElse("value_mismatch", 0L) == expectMutated)
    assert(byKind.getOrElse("extra_on_down", 0L) == expectExtra)
    assert(n > 0 && expectDeleted + expectMutated + expectExtra > 0)
  }

  test("summary agrees with the drill-down and needs no second pass") {
    val down = Perturb.ordersDownstream(orders)
    val s = TableDiff.summary(orders, down, spec).collect()(0)
    assert(s.getLong(0) == orders.count())
    assert(s.getLong(1) == down.count())
    assert(s.getLong(2) == TableDiff.badChunks(orders, down, spec).count())
  }

  test("checksum lane does not overflow with 10^5 rows in one chunk or bucket") {
    // 10^5 48-bit fingerprints sum to ~1.4e19 > 2^63: one signed BIGINT
    // sum overflows (ARITHMETIC_OVERFLOW under ANSI), the split lane not
    val n = 100000L
    val t = spark.range(0, n)
      .select(col("id").as("k"), (col("id") * 7).cast("string").as("v"))
    val wide = TableDiff.DiffSpec(Seq("k"), "k", 1000000)
    Seq(wide, wide.copy(hashBuckets = Some(1))).foreach { s =>
      val r = TableDiff.summary(t, t, s).collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, n, 0L)))
    }
    val down = t.withColumn("v",
      when(col("k") === 4242, lit("x")).otherwise(col("v")))
    assert(TableDiff.summary(t, down, wide).collect()(0).getLong(2) == 1L)
    // (hi, lo) is the exact 48-bit sum
    val fp = Canonical.fingerprint48(Seq((col("k"), LongType), (col("v"), StringType)))
    val exact = t.select(fp.cast("decimal(20,0)").as("fp"))
      .agg(sum("fp")).collect()(0).getDecimal(0)
    val c = TableDiff.chunkChecksums(t, wide).collect()(0)
    assert(BigDecimal(c.getAs[Long]("checksum_hi")) * (1 << 24) +
      c.getAs[Long]("checksum_lo") == BigDecimal(exact))
    // the streaming lane: one window holding every row
    val events = t.select(col("k").as("event_id"), col("k").as("user_id"),
      lit("click").as("event_type"), (col("k") % 1000 / 10.0).as("value"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    assert(StreamingDiff.windowedChecksums(events, "1 hour")
      .collect()(0).getAs[Long]("cnt") == n)
    assert(StreamingDiff.windowedDiff(events, events, "1 hour").isEmpty)
  }

  test("chunkRangePredicate merges adjacent chunks into one range") {
    val pred = TableDiff.chunkRangePredicate(Seq(0L, 1L, 3L), spec)
    // keys 0..999 (chunks 0-1 merged) and 1500..1999 (chunk 3) pass
    val hits = spark.range(0, 2500).toDF("o_orderkey").filter(pred).count()
    assert(hits == 1000 + 500)
  }

  test("range tier keeps fractional and decimal keys at a chunk's top edge") {
    // chunk_id = floor(k / 10) puts k = 9.5 in chunk 0; a closed
    // BETWEEN 0 AND 9 prune would drop it from the row pass
    val t = spark.range(0, 40).select((col("id") + 0.5).as("k"),
      col("id").cast("string").as("v"))
    Seq("double", "decimal(10,1)").foreach { tpe =>
      val up = t.withColumn("k", col("k").cast(tpe))
      val down = up.withColumn("v",
        when(col("k") === 9.5, lit("drift")).otherwise(col("v")))
      val s = TableDiff.DiffSpec(Seq("k"), "k", 10)
      val two = TableDiff.rowDiff(up, down, s).collect().toSeq
      val flat = TableDiff.rowDiff(up, down, s, twoPhase = false).collect().toSeq
      assert(flat.map(_.get(1)) == Seq("value_mismatch"), tpe)
      assert(two == flat, tpe)
    }
  }

  test("two-phase and flat row diff agree") {
    val down = Perturb.ordersDownstream(orders)
    val two = TableDiff.rowDiff(orders, down, spec, twoPhase = true)
      .orderBy("o_orderkey").collect().toSeq
    val flat = TableDiff.rowDiff(orders, down, spec, twoPhase = false)
      .orderBy("o_orderkey").collect().toSeq
    assert(two == flat)
  }

  test("hash-bucket chunking yields the identical diff (chunking invariance)") {
    val down = Perturb.ordersDownstream(orders)
    val ranged = TableDiff.rowDiff(orders, down, spec)
      .orderBy("o_orderkey").collect().toSeq
    val hashed = TableDiff.rowDiff(orders, down, spec.copy(hashBuckets = Some(16)))
      .orderBy("o_orderkey").collect().toSeq
    assert(hashed == ranged)
    // bad-chunk detection works in bucket space too
    assert(!TableDiff.badChunks(orders, down, spec.copy(hashBuckets = Some(16))).isEmpty)
  }

  test("hash-bucket pruning skips clean buckets (buckets >> drift)") {
    val down = Perturb.ordersDownstream(orders)
    val hSpec = spec.copy(hashBuckets = Some(4096))
    val bad = TableDiff.badChunks(orders, down, hSpec)
      .select("chunk_id").collect().map(_.getLong(0)).toSeq
    val diffRows = TableDiff.rowDiff(orders, down, hSpec).count()
    // each drifted row dirties at most 2 buckets (its up/down versions
    // can land in different fp-derived buckets)
    assert(bad.nonEmpty && bad.length <= 2 * diffRows)
    // the phase-2 semi-join tier scans strictly fewer rows than the flat
    // join would (VERDICT r03 #2: with buckets ~ drift this degenerated)
    val scanned = TableDiff.pruneToChunks(orders, bad, hSpec).count()
    assert(scanned < orders.count() / 5,
      s"prune kept $scanned of ${orders.count()} rows — not pruning")
    // ...while still keeping every drifted upstream row
    assert(scanned >= diffRows / 2)
  }

  test("pervasive drift never forces a broadcast of the fingerprint set (VERDICT r04 #1)") {
    // Mutate EVERY row: the differing-fingerprint set is corpus-sized, the
    // exact case where a forced broadcast(diffs) is a driver OOM at
    // 100 TB. The guard is AQE's runtime size check — at real scale the
    // materialized fp stage exceeds the broadcast threshold and the
    // semi-join shuffles. The fixture's corpus is tiny, so simulate
    // over-threshold by disabling auto-broadcast: the plan must contain
    // NO BroadcastExchange anywhere (nothing in the operator force-hints
    // one) and the diff must still be exact.
    val down = orders.withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    val n = orders.count()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val guarded = HashDiff.diff(orders, down)
      assert(guarded.count() == 2 * n) // every fp missing one side, extra other
      val plan = guarded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        "over-threshold fp set must shuffle, not broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // drift-bounded case: AQE's runtime sizing converts the semi-join to
    // broadcast-hash once the fp stage materializes small (the fast path
    // needs no manual hint)
    val bounded = HashDiff.diff(orders, orders.limit(n.toInt - 3))
    bounded.count()
    val adaptive = bounded.queryExecution.executedPlan.toString
    assert(adaptive.contains("BroadcastExchange") ||
      adaptive.contains("BroadcastQueryStage"),
      "drift-bounded fp set should broadcast at runtime via AQE")
  }

  test("range predicate restricts both sides") {
    val down = Perturb.ordersDownstream(orders)
    val half = spec.copy(range = "o_orderkey % 2 = 0")
    val diff = TableDiff.rowDiff(orders, down, half)
    assert(diff.filter(col("o_orderkey") % 2 === 1).isEmpty)
  }
}
