package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.{GraftFs, KVGeneration, KVLayout, KVResolvedScan, KVSource}
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

  /** The Spark jobs one call ran on this thread: their descriptions,
    * their distinct stages, the shuffle bytes those stages wrote, and
    * the physical operator names of the SQL executions they ran in
    * (every plan of an execution, adaptive re-plans included). Jobs are
    * matched by a local property set around `body`, which a job
    * inherits only when it is submitted from this thread under the
    * caller's local properties. */
  private case class Shape(jobs: Seq[String], stages: Int, shuffleBytes: Long,
                           operators: Set[String])

  private def shape(body: => Unit): Shape = {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val prop = "graft.test.shape"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Int], Option[Long])]()
    val written = new ConcurrentHashMap[Int, java.lang.Long]()
    val plans = new ConcurrentLinkedQueue[(Long, SparkPlanInfo)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(prop) == tag)
          jobs.add((e.properties.getProperty("spark.job.description"), e.stageIds,
            Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => written.put(
          e.stageInfo.stageId, m.shuffleWriteMetrics.bytesWritten))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add((s.executionId, s.sparkPlanInfo))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add((u.executionId, u.sparkPlanInfo))
        case _ => ()
      }
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(prop, tag)
    try body
    finally {
      sc.setLocalProperty(prop, null)
      GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val stages = jobs.asScala.toSeq.flatMap(_._2).distinct
    val executions = jobs.asScala.flatMap(_._3).toSet
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    Shape(jobs.asScala.toSeq.map(_._1), stages.size,
      stages.map(s => Option(written.get(s)).fold(0L)(_.longValue)).sum,
      plans.asScala.filter(p => executions(p._1)).flatMap(p => names(p._2)).toSet)
  }

  /** One job of one stage that shuffles nothing: a bucket-local rewrite. */
  private def bucketLocal(s: Shape): Boolean =
    s.jobs.size == 1 && s.stages == 1 && s.shuffleBytes == 0L

  /** The shuffle leg: the raw cells are exchanged once, and each
    * bucket is resolved by the kernel, with no Sort or Window operator. */
  private def kernelShuffle(s: Shape): Boolean =
    s.shuffleBytes > 0 && s.operators.contains("Exchange") &&
      !s.operators.exists(n => n == "Sort" || n == "Window")

  /** Every file of the table's current generation, each checked to be
    * sorted by (key, family, qualifier); their cells, tomb included. */
  private def sortedFiles(path: String): Seq[Row] =
    KVLayout(path).compactedFiles.flatMap { f =>
      val rows = spark.read.parquet(f)
        .select("key", "family", "qualifier", "value", "ts", "tomb").collect().toSeq
      val order = rows.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.getString(1)), Option(r.getString(2))))
      assert(order === order.sorted, s"$f is not sorted by (key, family, qualifier)")
      rows
    }

  private val cellSchema = StructType.fromDDL(KVTable.CELL_SCHEMA_DDL)

  private def putRows(t: KVTable, rows: Row*): Unit =
    t.put(spark.createDataFrame(rows.asJava, cellSchema))

  private def marks(ids: (Long, String, String)*) =
    ids.toDF("key", "family", "qualifier")

  private def resolvedRows(t: KVTable): Set[Row] = t.resolved().collect().toSet

  /** The writer directories under `compacted/` that hold no live file. */
  private def deadDirs(path: String): Set[String] =
    Option(new java.io.File(s"$path/compacted").list()).toSet.flatten --
      KVLayout(path).compactedFiles.map(f => f.split("/").init.last)

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
    assert(KVLayout(path).generation === 2L, "CoW MERGE committed seq 2")

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

  test("a crashed writer's files and record tmp file are invisible, and " +
    "the next compaction commits exactly the resolved rows") {
    val path = targetPath("graft_kv_test/staged")
    val t = KVTable(spark, path, wipe = true)
    t.put(cells((1L to 50L).map(k => k -> s"a$k"), 1L))
    t.compact(numBuckets = 4)
    t.put(cells((1L to 50L by 5).map(k => k -> s"b$k"), 2L))
    val want = state(t)
    val feed = t.changeLog(Seq(0L, 1L, 2L)).collect().toSet

    // a crashed rewrite's and a crashed append's files, each in its own
    // writer dir, and the tmp file of a record that was never linked
    Seq("compacted/crashed", "log/crashed").foreach { d =>
      cells(Seq(999L -> "stale"), 9L).withColumn("tomb", lit(null).cast("string"))
        .coalesce(1).write.parquet(s"$path/$d")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$path/_commits/.00000000000000000003.crashed.tmp"), "graft-kv-commit 1\nseq 3\n")
    def listed = { val l = KVLayout(path); l.compactedFiles ++ l.logFiles }
    assert(!listed.exists(_.contains("crashed")), listed.mkString("\n"))
    assert(KVLayout(path).generation === 2L)

    assert(state(t) === want)
    assert(t.changeLog(Seq(0L, 1L, 2L)).collect().toSet === feed)

    t.compact(numBuckets = 4)
    assert(KVLayout(path).generation === 3L && KVLayout(path).numBuckets === 4)
    assert(state(t) === want)
    val stored = t.cells.select($"key", $"value").as[(Long, String)].collect()
    assert(stored.length === want.size, "duplicated or extra rows published")
    assert(stored.toSet === want)
    assert(!listed.exists(_.contains("crashed")), listed.mkString("\n"))
    t.drop()
  }

  test("bucket-local compaction: compact and restoreAsOf at an unchanged " +
    "bucket count run one stage with zero shuffle, write the snapshot's " +
    "resolved cells key-sorted per file, and keep a put landing after " +
    "the snapshot; the other rewrites keep their shuffle") {
    // the other rewrites: a first compaction and a re-bucketing, each
    // one shuffle of the raw cells with no Sort or Window
    val path = targetPath("graft_kv_test/bucketlocal")
    val t = KVTable(spark, path, wipe = true)
    putRows(t, (1L to 40L).flatMap(k => Seq(Row(k, "F", "a", s"a$k", 1L, null),
      Row(k, "G", "b", s"b$k", 1L, null))) ++ Seq(
      Row(null, "F", "a", "nullkey", 1L, null),
      Row(41L, null, null, "nullfq", 1L, null),
      Row(42L, "F", null, "nullq", 1L, null)): _*)
    val first = shape(t.compact(numBuckets = 4))
    assert(kernelShuffle(first), s"a log-only table's first compaction: $first")
    sortedFiles(path)

    // a log with new versions, NULL coordinates, and row / family / cell
    // tombstones
    putRows(t, Row(1L, "F", "a", "a1v2", 2L, null),
      Row(null, "F", "a", "nullkey2", 2L, null),
      Row(41L, null, null, "nullfq2", 2L, null),
      Row(42L, "F", null, "nullq2", 2L, null),
      Row(43L, "H", "z", "new", 2L, null))
    t.delete(marks((2L, null, null), (3L, "F", null), (4L, "G", "b")), ts = 3L)
    val snap = KVLayout(path)
    assert(snap.numBuckets === 4 && snap.logFiles.nonEmpty)
    val want = KVReference.resolve(spark.read.schema(KVTable.CELL_SCHEMA_DDL)
      .parquet(snap.compactedFiles ++ snap.logFiles: _*)).collect().toSet

    val local = shape(t.compact(numBuckets = 4))
    assert(bucketLocal(local), local.toString)
    assert(local.jobs.head.contains(path), local.toString)
    val compacted = KVLayout(path)
    assert(compacted.generation === snap.generation + 1)
    assert(compacted.logFiles.isEmpty)
    val stored = sortedFiles(path).map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
    assert(stored.size === want.size, "duplicated or extra rows published")
    assert(stored.toSet === want)
    assert(stored.exists(_.isNullAt(0)) && stored.exists(_.isNullAt(1)))

    putRows(t, Row(5L, "F", "a", "a5v4", 4L, null))
    t.delete(marks((6L, null, null)), ts = 5L)
    val asOf3 = t.resolvedAsOf(3L).collect().toSet
    val restore = shape(t.restoreAsOf(3L, numBuckets = 4))
    assert(bucketLocal(restore), restore.toString)
    sortedFiles(path)
    assert(resolvedRows(t) === asOf3)

    putRows(t, Row(7L, "F", "a", "a7v6", 6L, null))
    val before = KVLayout(path)
    val wantBefore = resolvedRows(t)
    putRows(t, Row(8L, "F", "a", "late", 7L, null)) // after the snapshot
    KVGeneration.writeResolved(before, before.numBuckets, Long.MaxValue)
    val left = KVLayout(path).logFiles
    assert(left.size === 1 && !before.logFiles.contains(left.head), left.toString)
    assert(spark.read.parquet(left: _*).select("value").as[String].collect()
      .toSeq === Seq("late"))
    val withLate = wantBefore.filterNot(r => r.get(0) == 8L && r.get(1) == "F") +
      Row(8L, "F", "a", "late", 7L)
    assert(resolvedRows(t) === withLate)

    val rebucket = shape(t.compact(numBuckets = 8))
    assert(kernelShuffle(rebucket), s"re-bucketing: $rebucket")
    sortedFiles(path)
    assert(KVLayout(path).numBuckets === 8)
    assert(resolvedRows(t) === withLate)
    t.drop()
  }

  test("compactAt and compactRetaining at an unchanged bucket count run " +
    "one stage with zero shuffle: expired winners dropped, rows above the " +
    "horizon kept verbatim, files key-sorted") {
    val path = targetPath("graft_kv_test/bucketlocalttl")
    val t = KVTable(spark, path, wipe = true)
    t.setFamilies(Seq(write.FamilyDescriptor("T", ttlSeconds = 10L)))
    putRows(t, (1L to 40L).flatMap(k => Seq(Row(k, "F", "a", s"a$k", 1L, null),
      Row(k, "T", "b", s"b$k", 1L, null))) ++ Seq(
      Row(null, "F", "a", "nullkey", 1L, null), Row(41L, null, null, "nullfq", 1L, null)): _*)
    t.compact(numBuckets = 4)
    putRows(t, Row(1L, "T", "b", "b1v95", 95L, null), Row(2L, "F", "a", "a2v2", 2L, null))
    t.delete(marks((3L, "T", null)), ts = 96L)
    val want = t.resolvedAt(100L).collect().toSet
    assert(want.contains(Row(1L, "T", "b", "b1v95", 95L)) &&
      !want.exists(r => r.get(0) == 2L && r.get(1) == "T"))
    val ttl = shape(t.compactAt(100L, numBuckets = 4))
    assert(bucketLocal(ttl), s"compactAt: $ttl")
    assert(sortedFiles(path).map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
      .toSet === want, "compactAt must store exactly the unexpired winners")

    // horizon 3: the versions and the tombstone above it stay verbatim
    putRows(t, Row(4L, "F", "a", "a4v2", 2L, null), Row(4L, "F", "a", "a4v4", 4L, null))
    t.delete(marks((5L, "F", "a")), ts = 5L)
    val live = resolvedRows(t)
    val asOf = (3L to 5L).map(v => v -> t.resolvedAsOf(v).collect().toSet).toMap
    val retaining = shape(t.compactRetaining(3L, numBuckets = 4))
    assert(bucketLocal(retaining), s"compactRetaining: $retaining")
    val kept = sortedFiles(path)
    assert(kept.filter(r => r.get(0) == 4L).map(_.getString(3)).toSet === Set("a4v2", "a4v4"))
    assert(kept.exists(r => r.get(0) == 5L && r.get(5) == "cell" && r.get(4) == 5L))
    assert(resolvedRows(t) === live)
    (3L to 5L).foreach(v => assert(t.resolvedAsOf(v).collect().toSet === asOf(v), s"as of $v"))
    t.drop()
  }

  test("a generation commit over a stale snapshot throws, and the CoW " +
    "MERGE published since stays visible") {
    val path = targetPath("graft_kv_test/stalecommit")
    val t = KVTable(spark, path, wipe = true)
    t.put(cells((1L to 40L).map(k => k -> s"v$k"), 1L))
    t.compact(numBuckets = 4) // gen-0, empty log
    val stale = KVLayout(path)
    Seq((5L, "m5"), (500L, "m500")).toDF("key", "value")
      .createOrReplaceTempView("kvgen_stale_updates")
    spark.conf.set("spark.graft.kv.rowlevel", "cow")
    try spark.sql(
      s"""MERGE INTO ${KVSource.sqlName(spark, path)} t USING kvgen_stale_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'q'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'q', u.value, 2, null)""".stripMargin)
    finally spark.conf.unset("spark.graft.kv.rowlevel")
    assert(KVLayout(path).generation === 2L, "CoW MERGE committed seq 2")
    val want = (1L to 40L).map(k => k -> s"v$k").toMap
      .updated(5L, "m5").updated(500L, "m500").toSet

    intercept[java.util.ConcurrentModificationException](
      KVGeneration.writeResolved(stale, stale.numBuckets, Long.MaxValue))
    assert(KVLayout(path).generation === 2L)
    assert(state(t) === want)
    assert(deadDirs(path).isEmpty, deadDirs(path).toString)
    t.drop()
  }

  test("a scan planned before a compaction still reads the log files the " +
    "compaction retired, until the next compaction deletes them") {
    val path = targetPath("graft_kv_test/retiredlog")
    val t = KVTable(spark, path, wipe = true)
    t.put(cells((1L to 30L).map(k => k -> s"a$k"), 1L))
    t.compact(numBuckets = 4) // gen-0
    t.put(cells((1L to 30L by 3).map(k => k -> s"b$k"), 2L))
    val want = state(t)
    def drain(scan: KVResolvedScan): Set[(Long, String)] = {
      val factory = scan.createReaderFactory()
      scan.planInputPartitions().toSeq.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next())
          .map(rr => (rr.get().getLong(0), rr.get().getUTF8String(1).toString)).toList
        finally r.close()
      }.toSet
    }
    def planned() = new KVResolvedScan(path, KVLayout(path),
      StructType.fromDDL("key BIGINT, value STRING"), Array.empty)
    val early = planned()
    val earlyLog = KVLayout(path).logFiles
    t.compact(numBuckets = 4) // drops the log
    assert(KVLayout(path).logFiles.isEmpty)
    assert(drain(early) === want)
    assert(drain(planned()) === want)
    val late = planned()
    t.put(cells(Seq(1L -> "c1"), 3L))
    t.compact(numBuckets = 4) // deletes what the previous one dropped
    assert(drain(late) === want)
    assert(state(t) === want + (1L -> "c1") - (1L -> "b1"))
    assert(earlyLog.nonEmpty && !earlyLog.exists(GraftFs.exists))
    t.drop()
  }

  private def planned(df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]): Int =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan)(pf).size

  private def isResolvedScan(p: org.apache.spark.sql.execution.SparkPlan) =
    p.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] &&
      p.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .scan.isInstanceOf[KVResolvedScan]

  test("a resolved read is one scan stage: resolved() runs 1 job, 1 stage " +
    "and 0 shuffle bytes on a log-only and on a bucketed compacted + log layout") {
    val path = targetPath("graft_kv_test/resolvedshape")
    val t = KVTable(spark, path, wipe = true)
    putRows(t, (1L to 30L).map(k => Row(k, "F", "a", s"a$k", 1L, null)) ++ Seq(
      Row(null, "F", "a", "nullkey", 1L, null),
      Row(31L, null, null, "nullfq", 1L, null)): _*)
    putRows(t, Row(1L, "F", "a", "a1v2", 2L, null), Row(2L, null, null, null, 2L, "row"))
    t.delete(marks((3L, "F", null), (4L, "F", "a")), ts = 3L)
    for (layout <- Seq("log-only", "bucketed")) {
      if (layout == "bucketed") {
        t.compact(numBuckets = 4)
        putRows(t, Row(5L, "F", "a", "a5v4", 4L, null), Row(6L, null, null, null, 4L, "row"))
      }
      val want = KVReference.resolve(t.cells).collect().toSet
      var got = Set.empty[Row]
      val read = shape { got = t.resolved().collect().toSet }
      assert(read.jobs.size === 1 && read.stages === 1 && read.shuffleBytes === 0L,
        s"$layout: $read")
      assert(got === want, layout)
      val asOf = shape { got = t.resolvedAsOf(2L).collect().toSet }
      assert(asOf.jobs.size === 1 && asOf.stages === 1 && asOf.shuffleBytes === 0L,
        s"$layout as of 2: $asOf")
      assert(got === KVReference.resolve(t.cells.filter($"ts" <= 2L)).collect().toSet,
        s"$layout as of 2")
    }
    t.drop()
  }

  test("the fold shape: resolvedAsOf(v) left-joined to a small aggregate " +
    "broadcasts the resolved scan and plans no Window") {
    val t = KVTable(spark, targetPath("graft_kv_test/foldshape"), wipe = true)
    t.put(cells((0L until 10L).map(k => k -> s"${k * 10}"), 1L))
    t.put(cells(Seq(3L -> "31", 4L -> "41"), 2L))
    val delta = Seq(2L, 3L, 4L, 11L).toDF("key")
      .groupBy($"key").agg(count(lit(1)).as("n"))
    val fold = delta.join(t.resolvedAsOf(1L).select($"key", $"value"), Seq("key"), "left_outer")
    val plan = fold.queryExecution.executedPlan.toString.take(3000)
    assert(planned(fold) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.exists(isResolvedScan) =>
    } === 1, plan)
    assert(planned(fold) { case _: org.apache.spark.sql.execution.window.WindowExec => } === 0, plan)
    assert(fold.select($"key", $"value").as[(Long, Option[String])].collect().toSet ===
      Set((2L, Some("20")), (3L, Some("30")), (4L, Some("40")), (11L, None)))
    t.drop()
  }
}
