package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.write.KVTable

/** Edge-input robustness + compacted-layout pruning. */
class RobustnessSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("compacted KV table serves key-range queries with pushed filters") {
    val t = KVTable(spark, targetPath("graft_kv_test/ranged"), wipe = true)
    t.put(Tables.orders(spark, sf).select($"o_orderkey".as("key"),
      lit("O").as("family"), lit("s").as("qualifier"),
      $"o_orderstatus".as("value"), lit(1L).as("ts")))
    t.compact()
    val q = t.cells.filter($"key" >= 100L && $"key" < 200L)
    val scan = q.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val pushed = scan.scan.description()
    assert(pushed.contains("GreaterThanOrEqual(key,100)") &&
      pushed.contains("LessThan(key,200)"), pushed)
    assert(q.count() ===
      Tables.orders(spark, sf)
        .filter($"o_orderkey" >= 100 && $"o_orderkey" < 200).count())
  }

  test("GraftFs.readString: absent file is None, not an exception") {
    val dir = new java.io.File(targetPath("graft_fs_test")).getAbsolutePath
    assert(graft.sources.kv.GraftFs.readString(s"$dir/absent.txt").isEmpty)
    graft.sources.kv.GraftFs.writeString(s"$dir/present.txt", "x")
    assert(graft.sources.kv.GraftFs.readString(s"$dir/present.txt")
      .contains("x"))
  }

  test("library operators tolerate empty inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(llm.Dedup.exact(emptyDocs).count() === 0)
    assert(llm.Dedup.ngramJaccard(emptyDocs, 0.8).count() === 0)
    assert(llm.Dedup.minHashLsh(emptyDocs, 0.8).count() === 0)
    assert(llm.Dedup.simHashPairs(emptyDocs).count() === 0)

    val emptyPairs = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graph.GraphOps.reverse(emptyPairs).count() === 0)
    val emptyEdges = Seq.empty[graph.GraphOps.Edge].toDF()
    assert(graph.GraphOps.fromPairs(emptyEdges).count() === 0)

    val t = KVTable(spark, targetPath("graft_kv_test/empty"), wipe = true)
    assert(t.resolved().count() === 0) // read before any write
    t.increment(Seq.empty[(Long, String, String, Long)]
      .toDF("key", "family", "qualifier", "delta"), ts = 1L)
    assert(t.resolved().count() === 0)
  }

  test("identical-ts cells resolve to a stable winner across repeated runs") {
    // Two cells at the same (key,family,qualifier,ts): the resolve order
    // must be total (ts desc, value desc) so the winner never flips
    // between runs — mirror of the reference's total KeyValueOrdering
    // (HBaseTable.scala:219-232).
    val t = KVTable(spark, targetPath("graft_kv_test/ties"), wipe = true)
    t.put(Seq((1L, "f", "q", "alpha", 5L), (1L, "f", "q", "zeta", 5L),
      (2L, "f", "q", "zeta", 5L), (2L, "f", "q", "alpha", 5L))
      .toDF("key", "family", "qualifier", "value", "ts"))
    val winners = (1 to 3).map { _ =>
      t.resolved().orderBy($"key")
        .select($"key", $"value").as[(Long, String)].collect().toSeq
    }
    assert(winners.head === Seq((1L, "zeta"), (2L, "zeta")))
    assert(winners.distinct.size === 1, s"nondeterministic resolve: $winners")
  }

  test("single-document corpus produces no pairs, keeps itself") {
    val one = Seq((7L, "only one document here with some words")).toDF("doc_id", "text")
    assert(llm.Dedup.ngramJaccard(one, 0.5).count() === 0)
    val kept = llm.Dedup.exact(one).as[(Long, Long, Long)].collect().toSeq
    assert(kept === Seq((7L, 7L, 1L)))
  }
}
