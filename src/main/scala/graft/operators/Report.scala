package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Comparison summary report (SURVEY.md S8/A2-A7/U1/F13).
  *
  * Mirrors the reference's merged final report
  * (`/root/reference/step3_run_syncdiff.sh:190-244`): one row per table with
  * structure verdict, data verdict and both row counts, a TOTAL row, and an
  * ASCII bordered rendering.
  */
object Report {

  case class TableReport(
      table_name: String,
      structure: String, // "ok" | "diff"
      data_result: String, // "ok" | "diff" | "skipped"
      upcount: Long,
      downcount: Long)

  def toDF(spark: SparkSession, rs: Seq[TableReport]): DataFrame = {
    import spark.implicits._
    rs.toDF()
  }

  /** Per-table rows + grand-total row (reference `TOTAL_UPCOUNT` etc.,
    * `step3_run_syncdiff.sh:223-229`); `structure`/`data_result` on the
    * TOTAL row carry the diff-table tallies (A4 `count_if` analogue).
    */
  def withTotal(reports: DataFrame): DataFrame = {
    val total = reports.agg(
      lit("TOTAL").as("table_name"),
      concat(sum(when(col("structure") === "diff", 1).otherwise(0)).cast("string"),
        lit(" diff")).as("structure"),
      concat(sum(when(col("data_result") === "diff", 1).otherwise(0)).cast("string"),
        lit(" diff")).as("data_result"),
      sum("upcount").as("upcount"),
      sum("downcount").as("downcount"))
    reports.orderBy("table_name").unionByName(total)
  }

  /** ASCII bordered rendering in the reference's report shape
    * (`step3_run_syncdiff.sh:190-234`). Driver-side — reports are tiny.
    */
  def render(reports: DataFrame): String = {
    val rows: Array[Row] = reports.collect()
    val header = f"| ${"TABLE"}%-24s | ${"STRUCTURE"}%-9s | ${"DATA"}%-7s | ${"UPCOUNT"}%10s | ${"DOWNCOUNT"}%10s |"
    val border = "+" + "-" * (header.length - 2) + "+"
    val body = rows.map { r =>
      f"| ${r.getString(0)}%-24s | ${r.getString(1)}%-9s | ${r.getString(2)}%-7s | ${r.getLong(3)}%10d | ${r.getLong(4)}%10d |"
    }
    // A7 unit-scaled totals footer — the reference's `UPCOUNT/1000000`M
    // display (`step3_run_syncdiff.sh:241`, integer division)
    val footer = rows.find(_.getString(0) == "TOTAL").map { t =>
      s"Total rows compared: upstream ${t.getLong(3) / 1000000}M, " +
        s"downstream ${t.getLong(4) / 1000000}M"
    }
    ((Seq(border, header, border) ++ body :+ border) ++ footer).mkString("\n")
  }

  /** Reference exit-code semantics (`step3_run_syncdiff.sh:247-249`):
    * non-zero iff any table shows a structure or data difference.
    */
  def exitCode(reports: DataFrame): Int = {
    val bad = reports
      .filter(col("table_name") =!= "TOTAL" &&
        (col("structure") === "diff" || col("data_result") === "diff"))
      .limit(1).count()
    if (bad > 0) 1 else 0
  }
}
