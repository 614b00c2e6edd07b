package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** File-boundary parity operators (SURVEY.md S3/S7/P8/W3/F8/F12).
  *
  * The reference's stages communicate through files: a TSV table list
  * between discovery and config generation (`step1_query_tables.sh:134-149`)
  * and per-run `summary.txt` reports harvested by the final aggregation
  * (`step3_run_syncdiff.sh:149-244`). In-process the engine passes Datasets
  * directly, but the file boundary is part of the public surface (external
  * tools write/read these artifacts), so both directions are implemented:
  * write artifacts a reference-tooling consumer could read, and ingest
  * artifacts a reference run could have produced.
  */
object ReportIngest {

  // ------------------------------------------------------ TSV table list (S3)

  private val tableListSchema = StructType(Seq(
    StructField("schema_name", StringType),
    StructField("table_name", StringType)))

  /** `(schema \t table)` sink — the step1 -> step2 handoff artifact. */
  def writeTableList(tables: DataFrame, path: String): Unit =
    tables.select("schema_name", "table_name")
      .coalesce(1).write.mode("overwrite")
      .option("sep", "\t").csv(path)

  /** TSV source with the same tolerances as step1's reader: declared
    * 2-column schema (extra columns truncated by schema projection),
    * client-warning lines dropped (`step1_query_tables.sh:143-145`).
    */
  def readTableList(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(tableListSchema).option("sep", "\t").csv(path)
      .filter(!col("schema_name").startsWith("mysql:"))

  // ------------------------------------------------- summary artifacts (S7)

  /** The golden equivalence phrase the reference greps for
    * (`step3_run_syncdiff.sh:204`).
    */
  val EquivalentPhrase =
    "The table structure and data in upstream and downstream are equivalent"

  /** Verdict line of a struct-only run (`check-struct-only`), whose data
    * stage never ran: read back as `skipped`, neither equivalent nor
    * different.
    */
  val SkippedPhrase =
    "The data check was skipped; only the table structure was compared"

  /** Render one per-table summary.txt body in the shape step3 parses: a
    * verdict phrase plus a backticked data row split on `|`
    * (`step3_run_syncdiff.sh:203-218`).
    */
  def renderSummary(r: Report.TableReport): String = {
    val verdict =
      if (r.data_result == "skipped") SkippedPhrase
      else if (r.structure == "ok" && r.data_result == "ok") EquivalentPhrase
      else "The upstream and downstream tables are different"
    s"""$verdict
       |`${r.table_name}` | ${r.structure} | ${r.upcount} | ${r.downcount}
       |""".stripMargin
  }

  /** Write per-table summary artifacts under `<base>/<table>_<runId>/
    * summary.txt` — the directory-per-run layout step3 harvests with
    * `find` (`step3_run_syncdiff.sh:157-166`).
    */
  def writeSummaries(reports: Seq[Report.TableReport], base: String,
                     runId: String): Unit =
    reports.foreach { r =>
      val dir = java.nio.file.Paths.get(base, s"${r.table_name}_$runId")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(
        dir.resolve("summary.txt"), renderSummary(r))
    }

  /** Ingest every summary.txt under `base`, recover the run id from the
    * directory name (F12 filename parse), keep only the LATEST run per
    * table (P8 latest-run selection, window max), and parse the verdict
    * phrase + backticked row (F8/W3) back into the report relation.
    */
  def ingestSummaries(spark: SparkSession, base: String): DataFrame = {
    val raw = spark.read.text(s"$base/*/summary.txt")
      .withColumn("path", input_file_name())
      // <table>_<runId>/summary.txt -> (table, runId); run ids are
      // reference-style `yyyyMMdd_HHmmss` stamps (which themselves
      // contain '_', so match the stamp shape before falling back to
      // the generic last-field parse F12)
      .withColumn("run_dir", element_at(split(col("path"), "/"), -2))
      .withColumn("run_id",
        when(regexp_extract(col("run_dir"), "_(\\d{8}_\\d{6})$", 1) =!= "",
          regexp_extract(col("run_dir"), "_(\\d{8}_\\d{6})$", 1))
          .otherwise(element_at(split(col("run_dir"), "_"), -1)))
      .withColumn("table_name",
        expr("substring(run_dir, 1, length(run_dir) - length(run_id) - 1)"))

    val perFile = raw.groupBy("table_name", "run_id").agg(
      max(when(col("value").contains(EquivalentPhrase), 1).otherwise(0))
        .as("equivalent"),
      max(when(col("value").contains(SkippedPhrase), 1).otherwise(0))
        .as("skipped"),
      // first backticked data row (W3 first-match limit)
      min(when(col("value").startsWith("`"), col("value"))).as("data_row"))

    val latest = perFile.withColumn("max_run",
      max(col("run_id")).over(Window.partitionBy("table_name")))
      .filter(col("run_id") === col("max_run"))

    // P9 numeric guard: foreign artifacts can carry junk in the count
    // fields; guard with an explicit integer shape check -> NULL (a bare
    // cast throws under ANSI mode, and silently-zero would be worse)
    def guardedLong(c: org.apache.spark.sql.Column) =
      when(c.rlike("^-?\\d+$"), c.cast(LongType))

    latest.select(
      col("table_name"),
      trim(element_at(split(col("data_row"), "\\|"), 2)).as("structure"),
      when(col("skipped") === 1, lit("skipped"))
        .when(col("equivalent") === 1, lit("ok")).otherwise(lit("diff"))
        .as("data_result"),
      guardedLong(trim(element_at(split(col("data_row"), "\\|"), 3)))
        .as("upcount"),
      guardedLong(trim(element_at(split(col("data_row"), "\\|"), 4)))
        .as("downcount"))
  }
}
