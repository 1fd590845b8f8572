package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.KVSource
import graft.write.KVTable

/** Crash-point enumerator: every KV write path is killed at each of its
  * storage mutations in turn, on the `faultfs:` scheme ([[FaultFs]]),
  * where the k-th mutating call and every one after it fail, so that,
  * as in a dead process, no cleanup runs. After each crash the table is
  * reopened: it must read exactly as before the write or exactly as
  * after it (its resolved view and its raw cells alike), and the next
  * put plus compaction must succeed and reach the model's state
  * ([[KVModel]]). */
class KVCrashSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import KVModel.{Op, load, model}

  private def cell(k: Long, ts: Long) = Op(k, "F", "a", ts, None)

  private val base = (0L to 5L).map(cell(_, 1L))
  private val overlay = (0L to 2L).map(cell(_, 2L)) :+ Op(5L, null, null, 2L, Some("row"))
  private val next = Seq(cell(0L, 6L), cell(8L, 6L))

  private def merge(t: KVTable, mode: String): Unit = {
    Seq((2L, "v2_4"), (7L, "v7_4")).toDF("key", "value")
      .createOrReplaceTempView("kvcrash_src")
    graft.GraftSession.withConf(spark, "spark.graft.kv.rowlevel" -> mode) {
      spark.sql(
        s"""MERGE INTO ${KVSource.sqlName(spark, t.path)} t USING kvcrash_src u
           |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'a'
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 4
           |WHEN NOT MATCHED THEN
           |  INSERT (key, family, qualifier, value, ts, tomb)
           |  VALUES (u.key, 'F', 'a', u.value, 4, null)""".stripMargin)
    }
  }

  private val merged = Seq(cell(2L, 4L), cell(7L, 4L))

  /** Each write path: the write, and the ops it leaves the table with. */
  private val paths: Seq[(String, KVTable => Unit, Seq[Op] => Seq[Op])] = Seq(
    ("put of a 3-partition frame", t => t.put(spark.sparkContext
      .parallelize(Seq((1L, "F", "a", "v1_3", 3L), (3L, "F", "a", "v3_3", 3L),
        (6L, "F", "a", "v6_3", 3L)), 3).toDF("key", "family", "qualifier", "value", "ts")),
      _ ++ Seq(cell(1L, 3L), cell(3L, 3L), cell(6L, 3L))),
    ("compact", _.compact(numBuckets = 2), identity),
    ("compactRetaining", _.compactRetaining(1L, numBuckets = 2), identity),
    ("restoreAsOf", _.restoreAsOf(1L, numBuckets = 2), _.filter(_.ts <= 1L)),
    ("delta MERGE", merge(_, "delta"), _ ++ merged),
    ("CoW MERGE", merge(_, "cow"), _ ++ merged))

  private def resolved(t: KVTable): Set[KVModel.Cell] =
    t.resolved().as[KVModel.Cell].collect().toSet

  private def raw(t: KVTable): Seq[String] =
    t.cells.collect().map(_.toString).toSeq.sorted

  private def copy(from: java.io.File, to: java.io.File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles.foreach(f => copy(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  test("every KV write path, crashed at each storage mutation, reads as " +
    "before or after the write and takes the next write") {
    val template = new java.io.File(targetPath("graft_kv_test/crash_template")).getAbsolutePath
    val t0 = KVTable(spark, template, wipe = true)
    load(t0, base)
    t0.compact(numBuckets = 2)
    load(t0, overlay)
    val before = base ++ overlay
    val beforeRaw = raw(t0)
    assert(resolved(t0) === model(before))

    val work = new java.io.File(targetPath("graft_kv_test/crash_work"))
    def fresh(): KVTable = {
      FaultFs.reset()
      KVTable(spark, work.getAbsolutePath, wipe = true)
      copy(new java.io.File(template), work)
      KVTable(spark, FaultFs.uri(work.getAbsolutePath))
    }
    try for ((name, write, effect) <- paths) {
      val started = System.nanoTime()
      val after = effect(before)
      // a clean run: the after state, and how many mutating calls it makes
      val clean = fresh()
      val calls = FaultFs.crashAt(Int.MaxValue)
      write(clean)
      FaultFs.reset()
      val points = calls.get
      assert(resolved(clean) === model(after), name)
      val afterRaw = raw(clean)
      for (k <- 1 to points) {
        val clue = s"$name crashed at mutating call $k of $points"
        val t = fresh()
        FaultFs.crashAt(k)
        try write(t) catch { case scala.util.control.NonFatal(_) => () }
        FaultFs.reset()
        val reopened = KVTable(spark, t.path)
        val state = resolved(reopened)
        val cells = raw(reopened)
        val stateOps =
          if (state == model(before) && cells == beforeRaw) before
          else if (state == model(after) && cells == afterRaw) after
          else fail(s"$clue: neither the state before nor after the write; " +
            s"resolved $state, raw ${cells.mkString("; ")}")
        load(reopened, next)
        reopened.compact(numBuckets = 2)
        assert(resolved(reopened) === model(stateOps ++ next), clue)
      }
      val secs = (System.nanoTime() - started) / 1e9
      info(f"$name: $points crash points, $secs%.1f s")
    } finally FaultFs.reset()
  }
}
