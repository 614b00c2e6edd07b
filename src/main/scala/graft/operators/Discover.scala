package graft.operators

import graft.Tables
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Discovery stage (SURVEY.md S1/P1-P5, §2.11 check_sql).
  *
  * The reference discovers comparison targets with a user-supplied SQL over
  * `information_schema.tables` filtered on row count and PK class
  * (`/root/reference/syncdiff_config2/config.toml:16`), contract-checked to
  * return (schema_name, table_name) (`README.md:226-227`). For file sources
  * the catalog relation is a *manifest* DataFrame built from the parquet
  * snapshots plus declared PK metadata; any user `check_sql` runs against it
  * via `spark.sql` with the same two-column contract.
  */
object Discover {

  /** Catalog manifest: (schema_name, table_name, table_rows, pk_kind),
    * one row per [[tables]] entry of `dir`. Row counts come from parquet
    * footer metadata (a metadata-only Spark job per table — no data
    * scan), matching the reference's reliance on stats
    * (`information_schema.tables.TABLE_ROWS`). A table with no declared
    * kind reads NONCLUSTERED, which is what TiDB reports for a table
    * without a clustered primary key.
    */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tables(spark, dir).map { t =>
      ("main", t, rowCount(spark, Tables.path(dir, t), Tables.load(spark, dir, t)),
        Tables.pkKind.getOrElse(t, "NONCLUSTERED"))
    }.toDF("schema_name", "table_name", "table_rows", "pk_kind")
  }

  /** Names of the tables in a source directory: its `<name>.parquet`
    * entries (file or directory), sorted.
    */
  def tables(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
  }

  /** Row counts by table path, with the file status (path, length, mtime
    * of every file under it) they were counted at.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Long)]()

  /** Row count of the table at `path`. Counting is footer metadata but
    * still one Spark job per table, so the count is reused until the
    * table's file status changes: the discovery/config/cleanup queries
    * don't re-issue 10 count jobs each, and a table rewritten in place
    * (say, during a long `--detach` run) is recounted. The reference
    * likewise reads stats, not data (TABLE_ROWS, config.toml:16).
    */
  private def rowCount(spark: SparkSession, path: String, table: => DataFrame): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a LocatedFileStatus copies each file's
    // permissions, which the local file system reads by forking a process
    def files(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files) else Seq(s)
    val status = files(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val hit = countCache.get(path)
    if (hit != null && hit._1 == status) hit._2
    else {
      val n = table.count()
      countCache.put(path, (status, n))
      n
    }
  }

  /** Reference default check_sql translated to the manifest relation, with
    * the billion-row floor scaled to the fixture sizes (`config.toml:16`).
    */
  def defaultCheckSql(minRows: Long): String =
    s"""SELECT schema_name, table_name FROM graft_manifest
       |WHERE table_rows > $minRows AND pk_kind = 'NONCLUSTERED'
       |ORDER BY table_name""".stripMargin

  /** Run a user check_sql against the manifest; enforce the reference's
    * two-string-column contract (`README.md:226-227`). A third or further
    * column is tolerated and truncated, as step1 does
    * (`step1_query_tables.sh:141,146`).
    */
  def discover(spark: SparkSession, dir: String, checkSql: String): DataFrame = {
    manifest(spark, dir).createOrReplaceTempView("graft_manifest")
    val out = spark.sql(checkSql)
    require(out.schema.length >= 2,
      s"check_sql must return at least (schema_name, table_name); got ${out.schema.simpleString}")
    out.select(out.columns.take(2).map(col): _*)
      .toDF("schema_name", "table_name")
      .select(col("schema_name").cast(StringType), col("table_name").cast(StringType))
      // reference also drops client warning leakage lines (step1:143-145)
      .filter(!col("schema_name").startsWith("mysql:"))
  }
}
