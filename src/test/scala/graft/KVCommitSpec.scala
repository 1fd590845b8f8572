package graft

import java.util.ConcurrentModificationException
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.{GraftFs, KVCdcMicroBatchStream, KVCdcOffset, KVGeneration, KVLayout, KVSource}
import graft.write.KVTable

/** The commit log under racing writers and readers: a commit record is
  * put-if-absent at `snapshot seq + 1`, so of two rewrites of one
  * snapshot exactly one commits, appends retry until they land, no
  * reader sees the head go back, and a graft-cdc stream never sees part
  * of a commit. Races are forced with [[FaultFs]] hooks, not with hooks
  * in the engine. */
class KVCommitSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import KVModel.{Op, load, model}

  private def abs(rel: String): String = new java.io.File(targetPath(rel)).getAbsolutePath

  private def cell(k: Long, ts: Long) = Op(k, "F", "a", ts, None)

  private def resolved(t: KVTable): Set[KVModel.Cell] =
    t.resolved().as[KVModel.Cell].collect().toSet

  private def causedBy[E <: Throwable](e: Throwable)(implicit m: reflect.ClassTag[E]): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(m.runtimeClass.isInstance)

  /** Runs `writers` on two threads that both reach their commit record's
    * rename before either makes it; returns each one's outcome. */
  private def race(writers: Seq[() => Unit]): Seq[Option[Throwable]] = {
    val barrier = new CyclicBarrier(writers.size)
    FaultFs.hook = (kind, p) =>
      if (kind == "rename" && p.getParent.getName == "_commits")
        barrier.await(60, TimeUnit.SECONDS)
    try {
      val runs = writers.map(w => Future(scala.util.Try(w()).failed.toOption))
      runs.map(Await.result(_, 3.minutes))
    } finally FaultFs.reset()
  }

  private def table(name: String): KVTable = {
    KVTable(spark, abs(s"graft_kv_test/$name"), wipe = true)
    KVTable(spark, FaultFs.uri(abs(s"graft_kv_test/$name")))
  }

  private val base = (0L to 9L).map(cell(_, 1L))
  private val overlay = (0L to 3L).map(cell(_, 2L))

  test("two compactions of one snapshot: exactly one commits, the other " +
    "throws, and the state is the model's") {
    val t = table("commit_race_compact")
    load(t, base); t.compact(numBuckets = 2); load(t, overlay)
    val snap = KVLayout(t.path)
    val outcomes = race(Seq.fill(2)(() =>
      KVGeneration.writeResolved(snap, 2, Long.MaxValue)))
    assert(outcomes.count(_.isEmpty) === 1, outcomes.toString)
    assert(outcomes.flatten.forall(causedBy[ConcurrentModificationException]), outcomes.toString)
    val after = KVLayout(t.path)
    assert(after.generation === snap.generation + 1 && after.logFiles.isEmpty)
    assert(resolved(t) === model(base ++ overlay))
    // the loser deleted its own directory: the compacted dirs left are
    // the winner's and the one it dropped
    def dirs(files: Seq[String]) = files.map(_.split("/").init.last).toSet
    assert(new java.io.File(abs("graft_kv_test/commit_race_compact/compacted")).list().toSet ===
      dirs(after.compactedFiles ++ snap.compactedFiles))
    t.compact(numBuckets = 2)
    assert(resolved(t) === model(base ++ overlay))
  }

  test("two CoW MERGEs of one snapshot: exactly one commits, the other " +
    "throws, and the state is the winner's model") {
    val t = table("commit_race_cow")
    load(t, base); t.compact(numBuckets = 2); load(t, overlay)
    val ident = KVSource.sqlName(spark, t.path)
    def mergeAt(ts: Long): () => Unit = () => {
      val src = s"kvcommit_cow_$ts"
      Seq((2L, s"v2_$ts"), (12L, s"v12_$ts")).toDF("key", "value").createOrReplaceTempView(src)
      spark.sql(
        s"""MERGE INTO $ident t USING $src u
           |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'a'
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = $ts
           |WHEN NOT MATCHED THEN
           |  INSERT (key, family, qualifier, value, ts, tomb)
           |  VALUES (u.key, 'F', 'a', u.value, $ts, null)""".stripMargin)
    }
    val outcomes = graft.GraftSession.withConf(spark, "spark.graft.kv.rowlevel" -> "cow") {
      race(Seq(mergeAt(4L), mergeAt(5L)))
    }
    assert(outcomes.count(_.isEmpty) === 1, outcomes.toString)
    assert(outcomes.flatten.forall(causedBy[ConcurrentModificationException]), outcomes.toString)
    val winner = if (outcomes.head.isEmpty) 4L else 5L
    assert(resolved(t) === model(base ++ overlay ++ Seq(cell(2L, winner), cell(12L, winner))))
  }

  test("8 concurrent appenders and 4 readers: every append lands at its own " +
    "seq, and no reader sees the head go back") {
    val path = abs("graft_kv_test/commit_appenders")
    val t = KVTable(spark, path, wipe = true)
    val (writers, puts) = (8, 3)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new AtomicReference[String](null)
    val reads = new AtomicInteger(0)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        var last = -1L
        while (!stop.get() && bad.get() == null) {
          try {
            val g = KVLayout(path).generation
            if (g < last) bad.compareAndSet(null, s"head went back: $last -> $g")
            last = g
            reads.incrementAndGet()
          } catch { case e: Exception => bad.compareAndSet(null, e.toString) }
        }
      })
    }
    readers.foreach(_.start())
    val appends = (0 until writers).map { w =>
      Future((0 until puts).foreach { i =>
        t.put(Seq((w * 100L + i, "F", "a", s"w$w-$i", 1L))
          .toDF("key", "family", "qualifier", "value", "ts"))
      })
    }
    try appends.foreach(Await.result(_, 5.minutes))
    finally { stop.set(true); readers.foreach(_.join(10000)) }
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(reads.get() > 0)
    assert(KVLayout(path).generation === writers * puts - 1L)
    assert(t.resolved().select($"key").as[Long].collect().toSet ===
      (for (w <- 0 until writers; i <- 0 until puts) yield w * 100L + i).toSet)
  }

  test("a graft-cdc stream meeting a 3-file put paused between its files " +
    "delivers every row of it") {
    val t = table("commit_cdc_paused")
    t.put(Seq((1L, "F", "q", "a", 1L)).toDF("key", "family", "qualifier", "value", "ts"))
    val stream = new KVCdcMicroBatchStream(t.path, 0L, Long.MaxValue)
    val factory = stream.createReaderFactory()
    var offset: KVCdcOffset = KVCdcOffset(0L)
    var delivered = Set.empty[(Long, String)]
    /** One trigger: advance to the high-water offset, read the window. */
    def trigger(): Unit = {
      val end = stream.latestOffset(offset, stream.getDefaultReadLimit).asInstanceOf[KVCdcOffset]
      delivered ++= stream.planInputPartitions(offset, end).toSeq.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next())
          .map(rr => (rr.get().getLong(0), rr.get().getUTF8String(3).toString)).toList
        finally r.close()
      }
      offset = end
    }
    trigger()
    assert(delivered === Set((1L, "insert")))

    // the put's 2nd data file waits until this thread has run a trigger
    val paused = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
    val files = new AtomicInteger(0)
    FaultFs.hook = (kind, p) => {
      val visible = !p.toUri.getPath.split("/").exists(_.startsWith("."))
      if ((kind == "create" || kind == "rename") && p.getName.endsWith(".parquet") &&
          visible && files.incrementAndGet() == 2) {
        paused.countDown()
        resume.await(60, TimeUnit.SECONDS)
      }
    }
    try {
      val put = Future(t.put(spark.sparkContext.parallelize(
        Seq((10L, "F", "q", "b", 5L), (11L, "F", "q", "c", 5L), (12L, "F", "q", "d", 5L)), 3)
        .toDF("key", "family", "qualifier", "value", "ts")))
      assert(paused.await(60, TimeUnit.SECONDS), "the put never reached its 2nd file")
      trigger()
      resume.countDown()
      Await.result(put, 2.minutes)
    } finally { resume.countDown(); FaultFs.reset() }
    trigger()
    assert(delivered === Set(1L, 10L, 11L, 12L).map(_ -> "insert"))
  }

  test("conditional-create probe: only an incapable s3 store is rejected") {
    import GraftFs.conditionalCreateUnsupported
    // s3 without the Hadoop 3.4.1+ conditional-create path capability =
    // a silent exists-then-PUT race. The enabled FLAG is deliberately
    // not a signal: on a capable client it surfaces as the capability,
    // on an older client it is a no-op that must not bypass the check.
    assert(conditionalCreateUnsupported("s3a", hasCapability = false))
    assert(conditionalCreateUnsupported("s3", hasCapability = false))
    assert(!conditionalCreateUnsupported("s3a", hasCapability = true))
    // non-s3 schemes have atomic exclusive create natively
    assert(!conditionalCreateUnsupported("file", hasCapability = false))
    assert(!conditionalCreateUnsupported("hdfs", hasCapability = false))
    assert(!conditionalCreateUnsupported("gs", hasCapability = false))
  }

  test("probe verdict: indeterminate probes defer to the operator") {
    import GraftFs.probeDecision
    // clean probe answers: capability rules, flag ignored
    assert(probeDecision("s3a", Some(false), flagEnabled = true,
      operatorTrust = false))
    assert(!probeDecision("s3a", Some(true), flagEnabled = false,
      operatorTrust = false))
    // probe THREW (None): nothing learned — the conf flag is the
    // operator's word and must not fail every commit spuriously
    assert(!probeDecision("s3a", None, flagEnabled = true,
      operatorTrust = false))
    assert(probeDecision("s3a", None, flagEnabled = false,
      operatorTrust = false))
    // explicit operator trust overrides even a clean negative probe
    // (builds that implement conditional create without advertising it)
    assert(!probeDecision("s3a", Some(false), flagEnabled = false,
      operatorTrust = true))
    // non-s3 never rejected
    assert(!probeDecision("gs", None, flagEnabled = false,
      operatorTrust = false))
  }
}
