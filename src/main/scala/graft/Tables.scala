package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fixture-table access (TESTDATA.md layout: `<dir>/<name>.parquet`).
  *
  * The reference addresses tables as `schema.table` against two live TiDB
  * sources (`/root/reference/syncdiff_config2/my_database_users.toml:14-32`);
  * here a "source" is a directory of immutable parquet snapshots, which is
  * the natural snapshot-pinned analogue of the reference's `snapshot = "auto"`
  * (`my_database_users.toml:20,29`): an immutable file version IS a pinned
  * snapshot, so both sides of every comparison are consistent by construction.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Primary-key columns per fixture table (FIXTURES.md). */
  val primaryKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Clustered-vs-nonclustered PK classification for the discovery stage —
    * the fixture analogue of `information_schema.tables.TIDB_PK_TYPE`
    * (`/root/reference/syncdiff_config2/config.toml:16`). Tables whose PK is
    * composite or "large" are declared NONCLUSTERED so the discovery filter
    * has both classes to discriminate.
    */
  val pkKind: Map[String, String] = Map(
    "region" -> "CLUSTERED", "nation" -> "CLUSTERED",
    "customer" -> "CLUSTERED", "supplier" -> "CLUSTERED",
    "part" -> "CLUSTERED", "documents" -> "CLUSTERED",
    "embeddings" -> "CLUSTERED",
    "orders" -> "NONCLUSTERED", "lineitem" -> "NONCLUSTERED",
    "events" -> "NONCLUSTERED")

  /** Session settings every entry point (Bench/Verify/tests/driver) must
    * apply ONCE at construction — not per read, which would mutate shared
    * session state mid-flight and race under concurrent query execution
    * (ADVICE r01). The events fixture carries TIMESTAMP(NANOS) parquet
    * columns, which Spark's reader rejects by default
    * (PARQUET_TYPE_ILLEGAL); the legacy flag reads nanos as long.
    */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Idempotent safety net for sessions built outside our entry points
    * (e.g. the driver's own SparkSession): set the nanos flag only if it
    * is not already in effect, once per session.
    */
  private def ensureConf(spark: SparkSession): Unit =
    sessionConf.foreach { case (k, v) =>
      if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }

  /** Spread a narrow input across the cluster before compute-heavy
    * per-row work (signatures, pair joins). Tiny single-file fixture
    * scans arrive as ONE partition, serializing everything downstream; a
    * 100 TB table already has >= parallelism splits, so this is a no-op
    * there — the guard keeps it from ever adding a shuffle at scale.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Width from scan METADATA, not `df.rdd.getNumPartitions`: the RDD
    // conversion forces eager physical planning outside AQE for every
    // caller (VERDICT r07 #5). A FILE scan's parallelism is bounded below
    // by max(file count, bytes/maxPartitionBytes) — both available
    // without planning. The estimate is only trusted for file-backed
    // relations: fileless ones report either a placeholder size (JDBC
    // scans advertise defaultSizeInBytes = Long.MaxValue — "huge" there
    // means UNKNOWN, and the scan may still be one partition) or a
    // multiplied join estimate, so those fall back to the physical
    // partition count (eager planning only on that rare path).
    val files = df.inputFiles.length
    val est: BigInt =
      if (files > 0) {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val maxSplit =
          BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
        BigInt(files).max(bytes / maxSplit)
      } else BigInt(df.rdd.getNumPartitions)
    if (est < target) df.repartition(target) else df
  }

  /** Path of a fixture table under a source directory. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureConf(spark)
    val df = spark.read.parquet(path(dir, name))
    // Convert nanos-as-long to the engine's microsecond TimestampType with
    // integer division (epoch nanos exceed 2^53, so double math would lose
    // precision).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}
