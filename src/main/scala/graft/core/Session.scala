package graft.core

import org.apache.spark.sql.SparkSession

/** The one way this engine starts Spark: `local[N]` with shuffle
  * partitions = N, a UTC session time zone, the UI off and WARN logs.
  * AQE is Spark's default (on). Every main, tool and the test suite
  * build their session here, so their confs cannot drift apart.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = math.min(32, Runtime.getRuntime.availableProcessors())): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The session on `local[cpus]` (or the active one). `maxFailures` > 1
    * allows that many attempts per task (`local[N,F]`), as a cluster's
    * `spark.task.maxFailures` would.
    */
  def local(cpus: Int = Session.cpus(), maxFailures: Int = 1): SparkSession = {
    val s = SparkSession.builder()
      .master(if (maxFailures > 1) s"local[$cpus,$maxFailures]" else s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
