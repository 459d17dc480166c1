package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: execute queries and print one line of physical-plan
  * shape counters each (exchanges, join strategies, sorts,
  * cartesians) — the quick audit for "did this operator keep the
  * plan it was designed around?". Usage:
  *
  *   runMain graft.PlanAudit <sfDir> [queryName ...]
  *
  * With no names, audits every registered query (slow — runs each
  * one). The counters are heuristics for eyeballing, not a gate;
  * plan-shape invariants that matter are locked in PlanSpec /
  * CurationSpec / AdvancedSpec assertions.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Session.local(8)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        val p = df.queryExecution.explainString(FormattedMode)
        def c(pat: String) = pat.r.findAllIn(p).size
        // the gate form of this audit is FullPlanSpec (same lint over
        // every query with the reviewed whitelist); here it annotates
        val lint = graft.core.PlanLint.lint(n, df)
        val flag = if (lint.isEmpty) "" else lint.map(_.kind).distinct.mkString("  !", ",", "")
        println(f"$n%-28s exch=${c("Exchange")}%2d reused=${c("ReusedExchange")}%2d inmem=${c("InMemoryTableScan")}%2d bhj=${c("BroadcastHashJoin")}%2d smj=${c("SortMergeJoin")}%2d bnlj=${c("BroadcastNestedLoopJoin")}%2d cart=${c("CartesianProduct")}%2d sortAgg=${c("SortAggregate")}%2d$flag")
      } catch {
        case e: Exception => println(s"$n AUDIT-ERROR: ${e.getMessage.take(120)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
