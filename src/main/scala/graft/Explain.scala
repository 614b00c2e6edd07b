package graft

/** Plan-audit entry point: prints the formatted physical plan for one or
  * more registered queries (all of them with no args) — the "is this the
  * plan you'd want" loop (SURVEY.md §7.3: check pushdown, codegen spans,
  * join strategies before trusting a timing).
  *
  * usage: runMain graft.Explain [queryName ...]   (SPARK_GRAFT_SF_DIR
  * selects the fixture, default sf0.01)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
