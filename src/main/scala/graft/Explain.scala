package graft

/** Plan auditor: prints explain("formatted") for the named queries (or
  * all) against a given SF dir — used to check pushdown (PushedFilters/
  * ReadSchema), broadcast choices, and WholeStageCodegen coverage.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Session.local(4)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries.get(name) match {
        case Some(fn) => println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
