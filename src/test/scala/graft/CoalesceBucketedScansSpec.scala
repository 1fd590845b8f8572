package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import graft.plans.CoalesceBucketedScans

/** A 32-bucket Staging artifact scans as k bucket groups, k the
  * smallest divisor of 32 at or above the shuffle parallelism: the scan
  * stays bucketed, its side of a join on the bucket key still plans no
  * Exchange, and every answer equals the one-task-per-bucket plan. */
class CoalesceBucketedScansSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val name = "graft_coalesce_spec_orders"

  /** Staging-style fixture: orders clustered by customer, 32 buckets. */
  private lazy val fixturePath = {
    val path = targetPath("graft_stage/coalesce_spec_orders")
    Staging.ensureBucketed(spark, name, path, buckets = 32,
      clusterCols = Seq("o_custkey"), tag = "coalesce spec v1")(
      Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey",
        $"o_totalprice"))
    path
  }
  private def fixture: DataFrame = { fixturePath; spark.table(name) }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def deep[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil) ++ kids.flatMap(deep(_)(pf))
  }
  private def fixtureScans(p: SparkPlan): Seq[FileSourceScanExec] = deep(p) {
    case s: FileSourceScanExec if s.relation.location.rootPaths
      .exists(_.toString.contains("coalesce_spec_orders")) => s
  }

  /** Per-customer order count and spend, joined to customer on the
    * bucket key (broadcast off, so the join needs co-partitioning):
    * its rows and the executed plan. */
  private def query(shufflePartitions: Int,
      extra: (String, String)*): (Set[(Long, String, Long, Double)], SparkPlan) =
    withConf(Seq("spark.sql.shuffle.partitions" -> shufflePartitions.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") ++ extra: _*) {
      val df = fixture.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("spend"))
        .join(Tables.customer(spark, sf).select($"c_custkey", $"c_name"),
          $"o_custkey" === $"c_custkey")
        .select($"o_custkey", $"c_name", $"n", round($"spend", 2))
      val rows = df.as[(Long, String, Long, Double)].collect().toSet
      (rows, df.queryExecution.executedPlan)
    }

  test("groups: the smallest divisor of N at or above both floors") {
    val mb = 128L << 20
    assert(CoalesceBucketedScans.groups(32, 4, 1L << 20, mb) === 4)
    assert(CoalesceBucketedScans.groups(32, 6, 1L << 20, mb) === 8)
    assert(CoalesceBucketedScans.groups(32, 4, 5 * mb, mb) === 8)
    assert(CoalesceBucketedScans.groups(32, 32, 1L << 20, mb) === 32)
    assert(CoalesceBucketedScans.groups(32, 200, 1L << 20, mb) === 32)
    assert(CoalesceBucketedScans.groups(12, 5, 0L, mb) === 6)
  }

  test("at 4 shuffle partitions the 32-bucket scan plans 4 groups, stays " +
    "bucketed, its join side has no Exchange, and rows equal 32 partitions") {
    val (rows, plan) = query(4)
    val scans = fixtureScans(plan)
    assert(scans.nonEmpty, plan.toString.take(3000))
    scans.foreach { s =>
      assert(s.bucketedScan, plan.toString.take(3000))
      assert(s.optionalNumCoalescedBuckets === Some(4))
      assert(s.outputPartitioning.numPartitions === 4)
      assert(s.inputRDD.getNumPartitions === 4)
    }
    val join = deep(plan) { case j: SortMergeJoinExec => j }
    assert(join.size === 1, plan.toString.take(3000))
    val fixtureSide = join.head.children.filter(c => fixtureScans(c).nonEmpty)
    assert(fixtureSide.size === 1)
    val exchanges = deep(fixtureSide.head) { case e: ShuffleExchangeLike => e }
    assert(exchanges.isEmpty, fixtureSide.head.toString.take(3000))
    val (full, fullPlan) = query(32)
    fixtureScans(fullPlan).foreach(s =>
      assert(s.optionalNumCoalescedBuckets.isEmpty))
    assert(rows.nonEmpty)
    assert(rows === full)
  }

  test("at 6 shuffle partitions the scan plans 8 groups") {
    val (rows, plan) = query(6)
    val scans = fixtureScans(plan)
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.optionalNumCoalescedBuckets === Some(8)))
    assert(rows === query(32)._1)
  }

  test("at 32 or more partitions, or with a tiny maxPartitionBytes, the " +
    "scan is untouched") {
    Seq(query(32)._2, query(64)._2,
        query(4, "spark.sql.files.maxPartitionBytes" -> "1024")._2)
      .foreach { plan =>
        val scans = fixtureScans(plan)
        assert(scans.nonEmpty)
        scans.foreach { s =>
          assert(s.bucketedScan)
          assert(s.optionalNumCoalescedBuckets.isEmpty, plan.toString.take(3000))
          assert(s.inputRDD.getNumPartitions === 32)
        }
      }
  }

  test("bucket pruning with coalescing keeps the exact rows") {
    val keys = Tables.orders(spark, sf).select($"o_custkey").distinct()
      .as[Long].collect().sorted.take(7).toSeq
    // grouped on the bucket key, so the scan stays a bucketed scan
    def perCustomer(df: DataFrame) = df.filter($"o_custkey".isin(keys: _*))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), max($"o_orderkey").as("last"))
      .as[(Long, Long, Long)]
    val expect = perCustomer(Tables.orders(spark, sf)).collect().toSet
    val df = perCustomer(fixture)
    val got = df.collect().toSet
    val scans = fixtureScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.bucketedScan)
      assert(s.optionalBucketSet.exists(_.cardinality() <= keys.size))
      assert(s.optionalNumCoalescedBuckets === Some(4))
    }
    assert(expect.size === keys.size)
    assert(got === expect)
  }
}
