package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.{KVLayout, KVSource}
import graft.write.KVTable

/** A KV table is its path: generations are written by one staged
  * writer (compaction and the copy-on-write rewrite alike) and adopted
  * by one commit, with no catalog entry anywhere — so a second session
  * holding only the path reads the exact state, bucketed. */
class KVGenerationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cells(rows: Seq[(Long, String)], ts: Long) =
    rows.toDF("key", "value").select($"key", lit("F").as("family"),
      lit("q").as("qualifier"), $"value", lit(ts).as("ts"))

  private def state(t: KVTable): Set[(Long, String)] =
    t.resolved().select($"key", $"value").as[(Long, String)].collect().toSet

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }.size

  test("path-only addressing: compaction and a CoW MERGE leave no catalog " +
    "entry, and a new session reads the exact rows with zero shuffle") {
    val path = targetPath("graft_kv_test/pathonly")
    val t = KVTable(spark, path, wipe = true)
    t.put(cells((1L to 200L).map(k => k -> s"v$k"), 1L))
    t.compact()
    Seq((5L, "m5"), (500L, "m500")).toDF("key", "value")
      .createOrReplaceTempView("kvgen_updates")
    val ident = KVSource.sqlName(spark, path)
    spark.conf.set("spark.graft.kv.rowlevel", "cow")
    try spark.sql(
      s"""MERGE INTO $ident t USING kvgen_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'q'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'q', u.value, 2, null)""".stripMargin)
    finally spark.conf.unset("spark.graft.kv.rowlevel")
    assert(t.currentGen.map(_._1) === Some(1), "CoW MERGE published gen-1")

    val kvEntries = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_kv_"))
    assert(kvEntries.isEmpty, s"catalog entries: ${kvEntries.mkString(", ")}")

    val want = (1L to 200L).map(k => k -> s"v$k").toMap
      .updated(5L, "m5").updated(500L, "m500").toSet
    val other = spark.newSession()
    val t2 = KVTable(other, path)
    assert(state(t2) === want)
    val agg = t2.resolved().groupBy($"key").count()
    assert(shuffles(agg) === 0, agg.queryExecution.executedPlan.toString)
    assert(agg.count() === want.size)
  }

  test("staged generation write: a stale inflight dir and an unpublished " +
    "next generation are invisible, and the next compaction publishes " +
    "exactly the resolved rows") {
    val path = targetPath("graft_kv_test/staged")
    val t = KVTable(spark, path, wipe = true)
    t.put(cells((1L to 50L).map(k => k -> s"a$k"), 1L))
    t.compact(numBuckets = 4) // gen-0
    t.put(cells((1L to 50L by 5).map(k => k -> s"b$k"), 2L))
    val want = state(t)
    val feed = t.changeLog(Seq(0L, 1L, 2L)).collect().toSet

    // a crashed writer's leftovers: an inflight dir holding a cell file,
    // and a non-empty gen-1 the pointer never named
    cells(Seq(999L -> "stale"), 9L).withColumn("tomb", lit(null).cast("string"))
      .coalesce(1).write.parquet(s"$path/compacted/.inflight-crashed")
    val gen1 = new java.io.File(s"$path/compacted/gen-1")
    gen1.mkdirs()
    new java.io.File(s"$path/compacted/gen-0").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(gen1, f.getName).toPath)
      }
    def listed = { val l = KVLayout(path); l.compactedFiles ++ l.logFiles }
    assert(!listed.exists(_.contains(".inflight")), listed.mkString("\n"))

    assert(state(t) === want)
    assert(t.changeLog(Seq(0L, 1L, 2L)).collect().toSet === feed)

    t.compact(numBuckets = 4) // adopts gen-1 afresh
    assert(t.currentGen === Some((1, 4)))
    assert(state(t) === want)
    val stored = t.cells.select($"key", $"value").as[(Long, String)].collect()
    assert(stored.length === want.size, "duplicated or extra rows published")
    assert(stored.toSet === want)
    assert(!listed.exists(_.contains(".inflight")), listed.mkString("\n"))
    t.drop()
  }
}
