package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.kv.{KVCdcMicroBatchStream, KVCdcOffset, KVLayout}
import graft.streaming.IdempotentSink
import graft.write.KVTable

/** The graft-cdc streaming source: rate-limited cutoff offsets,
  * restart continuation from the checkpoint, and deterministic replay
  * of a committed window — the contracts a standing incremental-MV
  * consumer stands on. */
class KVCdcSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def seed(path: String): KVTable = {
    val t = KVTable(spark, path, wipe = true)
    val c = Tables.customer(spark, sf)
    t.put(c.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    t
  }

  private def mutate(t: KVTable): Unit = {
    val c = Tables.customer(spark, sf)
    t.put(c.filter($"c_custkey" % 4 === 0)
      .select($"c_custkey".as("key"), lit("F").as("family"),
        lit("bal").as("qualifier"), lit("777").as("value"), lit(2L).as("ts")))
    t.delete(c.filter($"c_custkey" % 6 === 0)
      .select($"c_custkey".as("key"), lit(null).cast("string").as("family"),
        lit(null).cast("string").as("qualifier")), ts = 3L)
  }

  /** The DataFrame reference for a walk over `cuts`: changesBetween per
    * adjacent cutoff pair, as (key, change_type, old_value, new_value). */
  private def pairwise(t: KVTable, cuts: Seq[Long]) =
    cuts.sliding(2).toSeq.flatMap { case Seq(from, to) =>
      t.changesBetween(from, to)
        .select($"key", $"change_type", $"old_value", $"new_value")
        .as[(Long, String, Option[String], Option[String])]
        .collect().toSeq
    }.sorted

  test("stream continues from the checkpoint across restarts; >=3 batches") {
    val path = targetPath("graft_kv_test/cdc_stream")
    val out = targetPath("graft_kv_test/cdc_stream_out")
    val ckpt = targetPath("graft_kv_test/cdc_stream_ckpt")
    Seq(out, ckpt).foreach(p =>
      graft.sources.kv.GraftFs.delete(p, recursive = true))
    val t = seed(path)
    def run(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", path).option("startTs", "0").option("stepTs", "1")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          IdempotentSink.parquet(out)(b, id)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run() // catches up to cutoff 1: one batch of pure inserts
    val afterFirst = spark.read.parquet(out)
    assert(afterFirst.select(col(IdempotentSink.COL)).distinct().count() === 1)
    assert(afterFirst.filter($"change_type" =!= "insert").count() === 0)
    mutate(t)
    run() // resumes at cutoff 1, drains rounds 2 and 3 (stepTs=1)
    val all = spark.read.parquet(out)
    assert(all.select(col(IdempotentSink.COL)).distinct().count() === 3,
      "expected 3 rate-limited micro-batches across the two runs")
    // the accumulated feed equals the DataFrame diff of every adjacent
    // cutoff pair, no dups
    val got = IdempotentSink.read(spark, out)
      .select($"key", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, Option[String], Option[String])]
      .collect().toSeq.sorted
    assert(got === pairwise(t, Seq(0L, 1L, 2L, 3L)))
  }

  test("st13 fold: re-applying a batch leaves the MV unchanged") {
    // the incremental-MV fold's exactly-once story is versioned as-of
    // reads, not a transactional sink — a replayed batch must recompute
    // from the same immutable base version and land byte-identical
    // cells that latest-wins absorbs
    val path = targetPath("graft_kv_test/cdc_apply")
    val t = seed(path)
    mutate(t)
    val agg = KVTable(spark, targetPath("graft_kv_test/cdc_apply_mv"),
      wipe = true)
    agg.put(t.resolvedAsOf(1L)
      .groupBy(($"key" % 100).as("key"))
      .agg(sum($"value".cast("long")).as("total"))
      .select($"key", lit("A").as("family"), lit("sum").as("qualifier"),
        $"total".cast("string").as("value"), lit(1L).as("ts")))
    def fold(batchId: Long, from: Long, to: Long): Unit =
      graft.write.WriteQueries.cdcApplyBatch(agg)(
        t.changesBetween(from, to), batchId)
    fold(0L, 1L, 2L)
    fold(1L, 2L, 3L)
    val once = agg.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted
    // replay BOTH batches out of order — each re-lands its own version
    fold(1L, 2L, 3L)
    fold(0L, 1L, 2L)
    val twice = agg.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted
    assert(twice === once, "replayed fold changed the MV")
    // and the MV equals the from-scratch recompute of the final state
    // (a group whose every member was deleted stays in the MV at total
    // 0 — the recompute simply has no rows for it)
    val want = t.resolved()
      .groupBy(($"key" % 100).as("key"))
      .agg(sum($"value".cast("long")).cast("string").as("value"))
      .as[(Long, String)].collect().toMap
    once.foreach { case (g, v) =>
      assert(v === want.getOrElse(g, "0"),
        s"group $g: incremental $v != recompute ${want.get(g)}")
    }
    assert(want.keySet.subsetOf(once.map(_._1).toSet),
      "recompute has groups the MV never saw")
  }

  test("stream survives a retention-aware compaction mid-flight") {
    // the real operational sequence: a consumer checkpoints at cutoff
    // 2, a compactRetaining(2) rewrite lands, the consumer resumes —
    // its remaining windows must be byte-identical to the uncompacted
    // history's
    val path = targetPath("graft_kv_test/cdc_compact")
    val out = targetPath("graft_kv_test/cdc_compact_out")
    val ckpt = targetPath("graft_kv_test/cdc_compact_ckpt")
    Seq(out, ckpt).foreach(p =>
      graft.sources.kv.GraftFs.delete(p, recursive = true))
    val t = seed(path)
    val c = Tables.customer(spark, sf)
    def drain(): Unit = {
      // AvailableNow drains to the high-water cutoff at start time
      val q = spark.readStream.format("graft-cdc")
        .option("path", path).option("startTs", "1")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          IdempotentSink.parquet(out)(b, id)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // round 1 lands (ts=2) and the consumer drains (1,2]
    t.put(c.filter($"c_custkey" % 4 === 0)
      .select($"c_custkey".as("key"), lit("F").as("family"),
        lit("bal").as("qualifier"), lit("777").as("value"), lit(2L).as("ts")))
    drain()
    // round 2 lands (tombstones at ts=3); reference feed computed on
    // the UNCOMPACTED history
    t.delete(c.filter($"c_custkey" % 6 === 0)
      .select($"c_custkey".as("key"), lit(null).cast("string").as("family"),
        lit(null).cast("string").as("qualifier")), ts = 3L)
    val want = pairwise(t, Seq(1L, 2L, 3L))
    // a retention-aware compaction lands (horizon = the consumer's
    // committed cutoff)...
    t.compactRetaining(retainSince = 2L)
    assert(graft.sources.kv.GraftFs.dataFiles(s"$path/log").isEmpty,
      "compaction should have retired the log")
    // ...and the consumer resumes over the rewritten files
    drain()
    val got = IdempotentSink.read(spark, out)
      .select($"key", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, Option[String], Option[String])]
      .collect().toSeq.sorted
    assert(got === want,
      "feed across the compaction diverged from the uncompacted history")
  }

  test("compactSafely picks its horizon from the slowest consumer") {
    val path = targetPath("graft_kv_test/cdc_registry")
    val t = seed(path)
    mutate(t) // versions at ts 2, tombstones at ts 3
    t.commitCdcCutoff("slow", 2L)
    t.commitCdcCutoff("fast", 3L)
    assert(t.cdcCutoffs === Map("slow" -> 2L, "fast" -> 3L))
    val want = t.changesBetween(2L, 3L)
      .select($"key", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, Option[String], Option[String])]
      .collect().toSeq.sorted
    // horizon = min = 2: the slow consumer's remaining window stays
    // exact across the rewrite
    t.compactSafely()
    val got = t.changesBetween(2L, 3L)
      .select($"key", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, Option[String], Option[String])]
      .collect().toSeq.sorted
    assert(got === want, "slow consumer's window broke across compaction")
    // retire the slow consumer: the next safe compaction may fold its
    // history (horizon 3 keeps only post-3 exactness), live state fixed
    t.releaseCdcConsumer("slow")
    assert(t.cdcCutoffs === Map("fast" -> 3L))
    val live = t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted
    t.compactSafely()
    assert(t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted === live)
    // superseded pre-horizon versions are gone: raw cells now hold at
    // most live + post-horizon rows (no ts<=2 duplicates of updated keys)
    val rawPerCell = t.cells.groupBy($"key", $"family", $"qualifier")
      .count().filter($"count" > 1).count()
    assert(rawPerCell === 0,
      "horizon-3 safe compaction left pre-horizon duplicate versions")
  }

  test("a registered consumer whose cutoff file does not parse makes " +
    "compactSafely throw, naming the file, and leaves the generation unchanged") {
    val path = targetPath("graft_kv_test/cdc_badconsumer")
    val t = seed(path)
    mutate(t)
    t.commitCdcCutoff("slow", 2L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_cdc_consumers/x.txt"), "garbage")
    val layout = KVLayout(path)
    val live = t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted
    val e = intercept[IllegalStateException](t.compactSafely())
    assert(e.getMessage.contains("x.txt"), e.getMessage)
    val after = KVLayout(path)
    assert(after.generation === layout.generation)
    assert(after.logFiles === layout.logFiles)
    assert(t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSeq.sorted === live)
    // a released consumer's file is gone from the listing and is no error
    t.releaseCdcConsumer("x")
    assert(t.cdcCutoffs === Map("slow" -> 2L))
  }

  test("dual-cutoff replay matches changesBetween on family/cell " +
      "tombstones, null coordinates and equal-ts value ties") {
    // exercises every CutState granularity the round-18 primitive-map
    // rewrite re-implements: row/family/cell tombstone masks, the
    // NULL-qualifier cell coordinate (interner id 0), and the
    // equal-timestamp larger-value-wins tie-break — each read through
    // the streaming reader and compared cell-for-cell against the
    // batch changesBetween diff
    val path = targetPath("graft_kv_test/cdc_granular")
    val t = KVTable(spark, path, wipe = true)
    def cells(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("key", "family", "qualifier", "value", "ts")
    t.put(cells(Seq(
      (1L, "F", "a", "v1", 1L), (1L, "F", "b", "v2", 1L),
      (1L, "G", "a", "v3", 1L),
      (2L, "F", "a", "v4", 1L), (2L, "F", null, "vnullq", 1L),
      (3L, "F", "a", "tie0", 1L),
      (4L, "F", "a", "keep", 1L))))
    t.compact()
    // window (1,2]: family tombstone kills 1/F/*; cell tombstone kills
    // 2/F/a; the null-qualifier cell updates; key 3 lands TWO versions
    // at the SAME ts (larger value must win on both paths)
    t.delete(Seq((1L, "F")).toDF("key", "family")
      .withColumn("qualifier", lit(null).cast("string")), ts = 2L)
    t.delete(Seq((2L, "F", "a")).toDF("key", "family", "qualifier"), ts = 2L)
    t.put(cells(Seq(
      (2L, "F", null, "vnullq2", 2L),
      (3L, "F", "a", "tie9", 2L), (3L, "F", "a", "tie5", 2L))))
    val stream = new KVCdcMicroBatchStream(path, startTs = 1L,
      stepTs = Long.MaxValue)
    def readWindow(from: Long, to: Long) = {
      val parts = stream.planInputPartitions(KVCdcOffset(from), KVCdcOffset(to))
      val factory = stream.createReaderFactory()
      parts.flatMap { p =>
        val r = factory.createReader(p)
        val rows = Iterator.continually(r).takeWhile(_.next()).map { rr =>
          val row = rr.get()
          def str(i: Int) =
            if (row.isNullAt(i)) null else row.getUTF8String(i).toString
          def lng(i: Int): java.lang.Long =
            if (row.isNullAt(i)) null else java.lang.Long.valueOf(row.getLong(i))
          (row.getLong(0), str(1), str(2), str(3), str(4), str(5),
            lng(6), lng(7))
        }.toList
        r.close()
        rows
      }.toSeq.sortBy(r => (r._1, String.valueOf(r._2), String.valueOf(r._3)))
    }
    val want = t.changesBetween(1L, 2L)
      .select($"key", $"family", $"qualifier", $"change_type",
        $"old_value", $"new_value", $"old_ts", $"new_ts")
      .collect().toSeq
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4),
        if (r.isNullAt(5)) null else r.getString(5),
        if (r.isNullAt(6)) null else java.lang.Long.valueOf(r.getLong(6)),
        if (r.isNullAt(7)) null else java.lang.Long.valueOf(r.getLong(7))))
      .sortBy(r => (r._1, String.valueOf(r._2), String.valueOf(r._3)))
    val got = readWindow(1L, 2L)
    assert(got === want, "stream dual-cutoff diff != batch changesBetween")
    // the tie must have resolved to the larger value on both paths
    assert(got.exists(r => r._1 == 3L && r._6 == "tie9"))
    // both tombstone granularities surfaced as deletes
    assert(got.count(_._4 == "delete") >= 3)
    // the untouched cell emitted nothing
    assert(!got.exists(_._1 == 4L))
  }

  test("a committed window replays deterministically from the source") {
    val path = targetPath("graft_kv_test/cdc_replay")
    val t = seed(path)
    mutate(t)
    val stream = new KVCdcMicroBatchStream(path, startTs = 0L,
      stepTs = Long.MaxValue)
    def readWindow(from: Long, to: Long): Seq[(Long, String, String, String)] = {
      val parts = stream.planInputPartitions(KVCdcOffset(from), KVCdcOffset(to))
      val factory = stream.createReaderFactory()
      parts.flatMap { p =>
        val r = factory.createReader(p)
        val rows = Iterator.continually(r)
          .takeWhile(_.next())
          .map { rr =>
            val row = rr.get()
            (row.getLong(0),
              row.getUTF8String(3).toString,
              if (row.isNullAt(4)) null else row.getUTF8String(4).toString,
              if (row.isNullAt(5)) null else row.getUTF8String(5).toString)
          }.toList
        r.close()
        rows
      }.toSeq
    }
    val first = readWindow(1L, 2L).sorted
    val second = readWindow(1L, 2L).sorted
    assert(first === second, "replayed window diverged")
    assert(first.nonEmpty && first.forall(_._2 == "update"))
    val batch = t.changesBetween(1L, 2L)
      .select($"key", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, String, String)].collect().toSeq.sorted
    assert(first === batch, "stream window != batch changesBetween")
    // rate limiting: stepTs bounds each trigger's cutoff advance
    val limited = new KVCdcMicroBatchStream(path, 0L, stepTs = 1L)
    val o1 = limited.latestOffset(KVCdcOffset(0L),
      limited.getDefaultReadLimit)
    assert(o1 === KVCdcOffset(1L))
    val o2 = limited.latestOffset(o1, limited.getDefaultReadLimit)
    assert(o2 === KVCdcOffset(2L))
    val o3 = limited.latestOffset(KVCdcOffset(2L), limited.getDefaultReadLimit)
    assert(o3 === KVCdcOffset(3L), s"high-water cutoff: $o3")
    assert(limited.latestOffset(o3, limited.getDefaultReadLimit)
      === KVCdcOffset(3L), "offset must not advance past available data")
  }

  test("the stream's high-water offset is the max ts the commit records hold") {
    val path = targetPath("graft_kv_test/cdc_footers")
    val t = KVTable(spark, path, wipe = true)
    val stream = new KVCdcMicroBatchStream(path, 0L, Long.MaxValue)
    def check(ts: Long): Unit = {
      assert(stream.reportLatestOffset() === KVCdcOffset(ts))
      assert(KVLayout(path).maxTs === ts)
    }
    def put(ts: Long): Unit = {
      t.put(Seq((ts, "F", "q", s"v$ts", ts))
        .toDF("key", "family", "qualifier", "value", "ts"))
      check(ts)
    }
    (1L to 3L).foreach(put)
    t.compact(); check(3L)
    (4L to 6L).foreach(put)
    t.compact(); check(6L)
  }

  private type Change = (java.lang.Long, String, String, String, String,
    String, java.lang.Long, java.lang.Long)

  /** One graft-cdc window, drained straight from its partition readers. */
  private def drainCdc(path: String, from: Long, to: Long): Seq[Change] = {
    val stream = new KVCdcMicroBatchStream(path, 0L, Long.MaxValue)
    val factory = stream.createReaderFactory()
    stream.planInputPartitions(KVCdcOffset(from), KVCdcOffset(to)).toSeq
      .flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map { rr =>
          val row = rr.get()
          def str(i: Int) =
            if (row.isNullAt(i)) null else row.getUTF8String(i).toString
          def lng(i: Int) =
            if (row.isNullAt(i)) null else java.lang.Long.valueOf(row.getLong(i))
          (lng(0), str(1), str(2), str(3), str(4), str(5), lng(6), lng(7))
        }.toList
        finally r.close()
      }.sortBy(_.toString)
  }

  private def batchChanges(t: KVTable, from: Long, to: Long): Seq[Change] =
    t.changesBetween(from, to).collect().toSeq.map { r =>
      def str(i: Int) = if (r.isNullAt(i)) null else r.getString(i)
      def lng(i: Int) =
        if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))
      (lng(0), str(1), str(2), str(3), str(4), str(5), lng(6), lng(7))
    }.sortBy(_.toString)

  test("70,000 distinct qualifiers in one bucket: graft-cdc and SQL DELETE") {
    // more names than a 16-bit cell id can hold, all in ONE bucket
    val path = targetPath("graft_kv_test/cdc_wide")
    val t = KVTable(spark, path, wipe = true)
    val n = 70000
    val base = spark.range(n).select(($"id" % 100).as("key"),
      lit("F").as("family"), concat(lit("q"), $"id".cast("string")).as("qualifier"),
      $"id".cast("string").as("value"), lit(1L).as("ts"))
    t.put(base)
    t.compact(numBuckets = 1)
    // window (1,2]: every 10th cell updated, key 3 row-deleted
    t.put(base.filter($"id" % 10 === 0).withColumn("value", lit("upd"))
      .withColumn("ts", lit(2L)))
    t.delete(Seq(3L).toDF("key").select($"key",
      lit(null).cast("string").as("family"),
      lit(null).cast("string").as("qualifier")), ts = 2L)
    val got = drainCdc(path, 1L, 2L)
    assert(got.count(_._4 == "update") === n / 10)
    assert(got.count(_._4 == "delete") === n / 100)
    assert(got === batchChanges(t, 1L, 2L))
    // the row-level read resolves the same bucket through the kernel
    spark.sql(s"DELETE FROM ${graft.sources.kv.KVSource.sqlName(spark, path)} " +
      "WHERE key = 7")
    val model = (0 until n).filter(i => i % 100 != 3 && i % 100 != 7).map { i =>
      if (i % 10 == 0) (i % 100L, "F", s"q$i", "upd", 2L)
      else (i % 100L, "F", s"q$i", i.toString, 1L)
    }.toSet
    assert(t.resolved().as[(Long, String, String, String, Long)]
      .collect().toSet === model)
  }

  test("a NULL key and a Long.MinValue key stay apart: resolved(), " +
      "SQL DELETE and graft-cdc") {
    val path = targetPath("graft_kv_test/cdc_minkey")
    val t = KVTable(spark, path, wipe = true)
    val min = Long.MinValue
    def put(rows: (Option[Long], String, Long)*): Unit =
      t.put(rows.toDF("key", "value", "ts").select($"key",
        lit("F").as("family"), lit("q").as("qualifier"), $"value", $"ts"))
    def live() = t.resolved().select($"key", $"value", $"ts")
      .as[(Option[Long], String, Long)].collect().toSet
    put((None, "n1", 1L), (Some(min), "m1", 1L), (Some(1L), "o1", 1L))
    t.compact()
    // both keys overwritten in the log at the SAME ts
    put((None, "n2", 2L), (Some(min), "m2", 2L))
    assert(live() ===
      Set((None, "n2", 2L), (Some(min), "m2", 2L), (Some(1L), "o1", 1L)))
    // the resolved scan must hand the MinValue cell up with its real key
    spark.sql(s"DELETE FROM ${graft.sources.kv.KVSource.sqlName(spark, path)} " +
      s"WHERE key = $min")
    assert(live() === Set((None, "n2", 2L), (Some(1L), "o1", 1L)))
    val got = drainCdc(path, 1L, 2L)
    assert(got === batchChanges(t, 1L, 2L))
    assert(got.toSet === Set[Change](
      (null, "F", "q", "update", "n1", "n2", 1L, 2L),
      (min, "F", "q", "delete", "m1", null, 1L, null)))
  }
}
