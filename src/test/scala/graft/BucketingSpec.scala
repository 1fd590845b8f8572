package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the engine's answer to the reference's
  * region-aligned shuffle-free joins (RegionPartitioner co-partitioning,
  * HBaseRDD.scala:26): two tables bucketed by the join key hash-align,
  * so the join plans with NO shuffle exchange on either side. At 100 TB
  * this is the difference between joining in place and moving the
  * table.
  */
class BucketingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("join of two tables bucketed by the key plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(targetPath("warehouse/graft_b_orders")))
    rm(new java.io.File(targetPath("warehouse/graft_b_lineitem")))
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_b_orders")
    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_b_lineitem")

    val joined = spark.table("graft_b_lineitem")
      .join(spark.table("graft_b_orders"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus").agg(sum($"l_quantity").as("q"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: no Exchange feeding the join (only the final agg may
    // exchange on its own grouping key)
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey")
      && !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"join still shuffles:\n${plan.take(3000)}")
    // and it still answers correctly
    val got = joined.as[(String, Double)].collect().toMap
    val exp = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus").agg(sum($"l_quantity").as("q"))
      .as[(String, Double)].collect().toMap
    assert(got === exp)
  }

  test("two compacted KV tables join on key with zero Exchange (and " +
      "resolve itself plans shuffle-free off the bucketed layout)") {
    import graft.write.KVTable
    val a = KVTable(spark, targetPath("graft_kv_test/cojoin_a"), wipe = true)
    val b = KVTable(spark, targetPath("graft_kv_test/cojoin_b"), wipe = true)
    val base = Tables.orders(spark, sf)
    a.put(base.select($"o_orderkey".as("key"), lit("f").as("family"),
      lit("st").as("qualifier"), $"o_orderstatus".as("value"), lit(1L).as("ts")))
    b.put(base.select($"o_orderkey".as("key"), lit("f").as("family"),
      lit("pr").as("qualifier"), $"o_totalprice".cast("string").as("value"),
      lit(1L).as("ts")))
    a.compact()
    b.compact()
    // the compacted scan reports bucket(8, key) partitioning: the
    // resolve windows (partitioned by key and its prefixes) AND the
    // cross-table key join are all satisfied by it — no Exchange anywhere
    val joined = a.resolved().select($"key", $"value".as("status"))
      .join(b.resolved().select($"key", $"value".as("price")), Seq("key"))
    // no SHUFFLE exchange anywhere (a BroadcastExchange would be fine —
    // it moves no table, only a small side)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"compacted KV join still shuffles:\n${plan.take(3000)}")
    assert(plan.linesIterator.exists(l =>
      l.contains("BatchScan graft-kv") && l.contains("buckets=8")), plan.take(2000))
    assert(joined.count() === base.count())
  }
}
