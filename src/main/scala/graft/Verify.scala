package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Extra args (dev only; driver always passes exactly two) restrict the
    // dump to the named queries for fast single-query oracle iteration.
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Registry discipline: every query must have an oracle and vice versa.
    // A one-sided registration would otherwise ship as a silently weaker
    // (or absent) correctness check — the r7 failure mode.
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    require(qk == ok, s"queries/oracleSql key sets diverge: " +
      s"missing oracle for ${(qk -- ok).toSeq.sorted.mkString(",")}; " +
      s"oracle without query ${(ok -- qk).toSeq.sorted.mkString(",")}")
    // Order-canonical dump: the driver hashes the parquet's row sequence,
    // so a dump whose row order depends on partition concatenation order
    // can flip red between runs even when the VALUES are exact. Sort
    // the single coalesced partition on every orderable output column so
    // green never depends on task scheduling. (Note: this was NOT the
    // r8/r9 bloom_prune_join root cause — that was an order-sensitive
    // sum(double) in the hashed VALUES, fixed in r10 by the
    // cast-before-sum exact decimal lane; canonicalize remains for
    // genuine tie-order flakes.) Map-typed columns are not
    // orderable in Spark and are skipped; full-row duplicates tie under
    // the sort but identical rows hash identically regardless of order.
    def canonicalize(df: DataFrame): DataFrame = {
      val sortCols = df.schema.fields
        .filter(f => RowOrdering.isOrderable(f.dataType))
        .map(f => col("`" + f.name + "`"))
      val one = df.coalesce(1)
      if (sortCols.isEmpty) one else one.sortWithinPartitions(sortCols: _*)
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        canonicalize(fn(spark, sfDir)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Wall time to stderr: single-query perf iteration without a full
        // bench pass (dump+write time, not a bench number — gauge only).
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        // A crashed query must show up as a RED ledger row, not vanish
        // (VERDICT r07: repair_roundtrip produced no `err` entry at all).
        // Leave the query's output dir present but parquet-free with a
        // FAILED marker: the driver's read of the dump then errors and
        // records `err` for this name instead of omitting it.
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        // The marker write must never abort the remaining queries — an IO
        // error here would skip every later query AND the failure
        // summary, the exact silent-vanish mode this block exists to end.
        try {
          val d = Paths.get(s"$outDir/$name")
          // write.parquet may have partially created the dir before the
          // action failed — clear any part-files so no stale/partial dump
          // can masquerade as a result.
          if (Files.isDirectory(d)) {
            // recursive: a failed write can leave a _temporary/ subtree
            val walk = Files.walk(d)
            try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => if (p != d) Files.delete(p))
            finally walk.close()
          } else Files.createDirectories(d)
          Files.writeString(d.resolve("FAILED"),
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}\n")
        } catch { case cleanup: Throwable =>
          System.err.println(s"[verify] $name marker write failed: $cleanup")
        }
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Harness.json(k)}: ${Harness.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"}" +
          s" FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
