package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Scale-pattern specs: salted aggregation correctness and shuffle-free
  * bucketed joins (plan-shape asserted, not just results).
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAggregate equals the unsalted aggregate (incl. a hot key)") {
    val skewed = spark.range(0, 10000).toDF("i")
      .withColumn("k", when($"i" % 10 === 0, lit("hot")).otherwise(concat(lit("k"), $"i" % 7)))
      .withColumn("v", ($"i" % 1000).cast("double"))
    val direct = skewed.groupBy("k")
      .agg(sum($"v").as("sum_v"), count($"v").as("count_v"),
           min($"v").as("min_v"), max($"v").as("max_v"))
      .as[(String, Double, Long, Double, Double)].collect().toSet
    val salted = Skew.saltedAggregate(skewed, Seq("k"), salt = 8,
        Map("v" -> "sum"))
      .as[(String, Double)].collect().toMap
    val saltedFull = Skew.saltedAggregate(skewed, Seq("k"), salt = 8,
        Map("v" -> "count"))
      .as[(String, Long)].collect().toMap
    direct.foreach { case (k, s, c, _, _) =>
      assert(math.abs(salted(k) - s) < 1e-6, s"sum mismatch for $k")
      assert(saltedFull(k) == c, s"count mismatch for $k")
    }
  }

  test("salted join/agg salts are a pure function of row content (retry-safe)") {
    // The SPARK-23207 hazard: a salt derived from monotonically_increasing_id
    // (or any partition-position source) changes when map tasks are
    // recomputed after a shuffle-fetch failure, so retried stages emit
    // different shuffle output than the lost originals. A content-hash
    // salt is invariant to HOW rows are partitioned. Proxy for retry
    // recomputation: derive the salt under three different physical
    // layouts and assert every row salts identically — position-derived
    // salts fail this immediately.
    val base = spark.range(0, 5000).toDF("i")
      .withColumn("k", when($"i" % 5 === 0, lit("hot")).otherwise(concat(lit("k"), $"i")))
      .withColumn("v", ($"i" % 97).cast("double"))
    def saltsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      // same expression saltedAggregate/saltedJoin use internally
      df.withColumn("__salt", pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(8L)))
        .select($"i", $"__salt").as[(Long, Long)].collect().toMap
    }
    val s1 = saltsOf(base)
    val s2 = saltsOf(base.repartition(3))               // different partitioning
    val s3 = saltsOf(base.repartition(17, $"k").sortWithinPartitions($"v"))
    assert(s1 == s2 && s1 == s3,
      "salt must not depend on physical row placement (retry nondeterminism)")
    // And end-to-end: two independent evaluations of the salted join
    // produce identical row multisets.
    val dim = spark.range(0, 40).toDF("d")
      .withColumn("k", when($"d" === 0, lit("hot")).otherwise(concat(lit("k"), $"d")))
      .drop("d")
    def joined() = Skew.saltedJoin(base, dim, "k", salt = 8)
      .select($"i").as[Long].collect().sorted.toSeq
    assert(joined() == joined(), "salted join output must be run-invariant")
  }

  test("bucketed tables join without an exchange") {
    // warehouse dir is a tmp dir set at session build (SparkSpec)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    def bucketed(df: org.apache.spark.sql.DataFrame, table: String, key: String): Unit =
      df.write.bucketBy(4, key).sortBy(key).format("parquet").mode("overwrite").saveAsTable(table)
    bucketed(o, "orders_b", "o_orderkey")
    bucketed(l, "lineitem_b", "l_orderkey")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
      joined.collect() // force final plan (AQE)
      val plan = joined.queryExecution.executedPlan.toString
      // the join inputs must come straight from bucketed scans — the
      // only allowed exchange is the later aggregation on o_custkey
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
             !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join should not shuffle the join inputs:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans not bucketed:\n$plan")
      // cross-check result vs plain join
      val direct = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
        .as[(Long, Double)].collect().toMap
      val viaBuckets = joined.as[(Long, Double)].collect().toMap
      assert(viaBuckets == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
