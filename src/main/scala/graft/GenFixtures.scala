package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** sf1 fixture generator (VERDICT r12 #2): the driver ships
  * sf0.001/0.01/0.1 read-only; the scaling sidecar needs one more real
  * decade (sf0.1 → sf1, ~170 MB) before the growth exponents stop being
  * overhead-bound. This reproduces the driver generator's OBSERVED
  * distributions (FIXTURES.md schemas; ranges/cardinalities measured
  * off the sf0.1 parquet footers and value stats): ×10 row counts, the
  * same 30-day event window (density grows with sf, as sf0.01 → sf0.1
  * does), unit-norm Gaussian embeddings, the 31-word document vocab
  * with ~0.16% injected duplicate texts, users = events/66.7.
  *
  * Determinism: every value is a pure function of (table, row id,
  * column tag) through xxhash64 — no RNG state, so any partitioning of
  * the range produces identical data. sf1 output is BENCH-ONLY input
  * for BenchScaling's top decade; correctness (DuckDB oracle) stays on
  * the driver's read-only fixtures.
  *
  * Usage: runMain graft.GenFixtures <outDir> [sf]   (default sf=1.0;
  * the session is [[Harness.session]]'s, `SPARK_GRAFT_CPUS` default 4)
  */
object GenFixtures {

  /** Uniform in [0,1) from (table, id, tag) — 40 high-entropy bits. */
  private def u(table: String, tag: Int, id: Column): Column =
    pmod(xxhash64(lit(table), id, lit(tag)), lit(1L << 40))
      .cast("double") / (1L << 40).toDouble

  /** Integer in [0, n) from (table, id, tag). */
  private def h(table: String, tag: Int, id: Column, n: Int): Column =
    pmod(xxhash64(lit(table), id, lit(tag)), lit(n.toLong)).cast("int")

  private def pick(table: String, tag: Int, id: Column,
                   vals: Seq[String]): Column =
    element_at(typedLit(vals), h(table, tag, id, vals.length) + 1)

  /** The documents vocab observed at every driver sf (31 words). */
  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "batch", "part", "line",
    "order", "sort", "fast", "scan", "a", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "row", "customer", "join", "the",
    "stride")

  private def write(df: DataFrame, out: String, name: String,
                    files: Int): Unit = {
    df.repartition(files).write.mode("overwrite")
      .parquet(s"$out/$name.parquet")
    println(s"wrote $name")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val spark = Harness.session()
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nOrders = n(1500000L)
    val nCust = n(150000L)
    val nPart = n(200000L)
    val nSupp = n(10000L)
    val nEvents = n(1000000L)
    val nDocs = n(50000L)
    val nVecs = n(20000L)
    val id = col("id")

    // region / nation: scale-invariant dimension tables (5 / 25 rows)
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), out, "region", 1)
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), out, "nation", 1)

    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h("supplier", 1, id, 25).as("s_nationkey"),
      round(lit(-1000) + u("supplier", 2, id) * 11000, 2).as("s_acctbal")),
      out, "supplier", 1)

    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h("customer", 1, id, 25).as("c_nationkey"),
      round(lit(-1000) + u("customer", 2, id) * 11000, 2).as("c_acctbal"),
      pick("customer", 3, id, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE")).as("c_mktsegment")), out, "customer", 2)

    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick("part", 1, id, Seq("large", "hot", "blue", "red", "small",
          "cold", "green", "dim")),
        pick("part", 2, id, Seq("ring", "bolt", "screw", "nut", "washer",
          "cap", "plate", "rod"))).as("p_name"),
      concat(lit("Brand#"), (h("part", 3, id, 25) + 1)).as("p_brand"),
      pick("part", 4, id, Seq("ECONOMY", "MEDIUM", "PROMO", "LARGE",
        "STANDARD", "SMALL")).as("p_type"),
      (h("part", 5, id, 50) + 1).as("p_size"),
      round(lit(900.0) + id * 0.1, 2).as("p_retailprice")), out, "part", 2)

    val orderDay0 = to_timestamp(lit("1995-01-01"))
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      floor(u("orders", 1, id) * nCust).as("o_custkey"),
      pick("orders", 2, id, Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000) + u("orders", 3, id) * 499000, 2).as("o_totalprice"),
      timestamp_seconds(unix_timestamp(orderDay0) +
        floor(u("orders", 4, id) * 2400) * 86400L).as("o_orderdate"),
      pick("orders", 5, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      out, "orders", 4)

    // lineitem: 1..7 lines per order (avg 4 → ~4×nOrders rows);
    // extendedprice = quantity × unit price in [900, 2100]
    val shipDay0 = to_timestamp(lit("1995-01-02"))
    val li = spark.range(nOrders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), h("lineitem", 0, id, 7) + 1))
          .as("l_linenumber"))
      .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber"))
    val lid = col("lid")
    val qty = (h("lineitem", 2, lid, 50) + 1).cast("double")
    write(li.select(col("l_orderkey"),
      floor(u("lineitem", 1, lid) * nPart).as("l_partkey"),
      floor(u("lineitem", 7, lid) * nSupp).as("l_suppkey"),
      col("l_linenumber"), qty.as("l_quantity"),
      round(qty * (lit(900.0) + u("lineitem", 3, lid) * 1200), 2)
        .as("l_extendedprice"),
      round(u("lineitem", 4, lid) * 0.1, 2).as("l_discount"),
      round(u("lineitem", 5, lid) * 0.08, 2).as("l_tax"),
      pick("lineitem", 6, lid, Seq("A", "N", "R")).as("l_returnflag"),
      pick("lineitem", 8, lid, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(unix_timestamp(shipDay0) +
        floor(u("lineitem", 9, lid) * 2500) * 86400L).as("l_shipdate")),
      out, "lineitem", 8)

    // events: strictly monotonic ts across the SAME 30-day window every
    // sf (jitter < slot width), exponential-ish value (mean ~50)
    val spanUs = 30L * 86400L * 1000000L
    val slotUs = spanUs / nEvents
    val evDay0 = to_timestamp(lit("2024-01-01"))
    write(spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(unix_timestamp(evDay0) * 1000000L + id * slotUs +
        floor(u("events", 1, id) * (slotUs - 1)).cast("long")).as("ts"),
      floor(u("events", 2, id) * (nEvents / 67 + 1)).as("user_id"),
      pick("events", 3, id, Seq("error", "view", "purchase", "signup",
        "click")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u("events", 4, id) * 0.99999), 2)
        .as("value"),
      concat(lit("{\"k\": "), h("events", 5, id, 100), lit("}"))
        .as("props")), out, "events", 4)

    // documents: 10..100 vocab words; ~1/625 of docs reuse an EARLIER
    // doc's text seed (cross-row copy without a join: text is a pure
    // function of the seed), reproducing the driver's dup-pair rate.
    // The redirected seed must itself be a NON-dup row (ADVICE r13): a
    // seed landing on another dup row copies that row's seed FUNCTION
    // input, not its realized text, so the planted pair wouldn't
    // actually match — step such seeds down one id (floor(u*id) ≤ id-1,
    // so the adjustment never collides with id or goes negative).
    val dup = (id % 625 === 624) && (id > 0)
    val rawSeed = floor(u("documents", 1, id) * id)
    val seed = when(dup,
      rawSeed - when(rawSeed % 625 === 624, 1).otherwise(0)).otherwise(id)
    val nWords = h("documents", 2, seed, 91) + 10
    val text = concat_ws(" ", transform(sequence(lit(1), nWords),
      i => element_at(typedLit(Vocab),
        h("documents", 3, seed * 131 + i, Vocab.length) + 1)))
    val langU = u("documents", 4, id)
    write(spark.range(nDocs).select(id.as("doc_id"), text.as("text"),
      when(langU < 0.41, "en").when(langU < 0.56, "zh")
        .when(langU < 0.71, "es").when(langU < 0.86, "fr")
        .otherwise("de").as("lang"),
      concat(lit("src"), h("documents", 5, id, 20)).as("source"),
      length(text).cast("long").as("n_chars")), out, "documents", 2)

    // embeddings: unit-norm 64-dim Gaussian (Box–Muller), random label
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      sqrt(lit(-2.0) * log(lit(1.0) -
        u("embeddings", 1, id * 64 + i) * 0.999999)) *
        cos(lit(2.0 * math.Pi) * u("embeddings", 2, id * 64 + i)))
    val nrm = sqrt(aggregate(col("g"), lit(0.0), (a, x) => a + x * x))
    write(spark.range(nVecs).select(id.as("vec_id"), gauss.as("g"),
      h("embeddings", 3, id, 10).as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / nrm).cast("float")).as("embedding"),
        col("label")), out, "embeddings", 1)

    println(s"done: $out at sf=$sf")
    spark.stop()
  }
}
