package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.write.KVTable

/** Cell-store semantics (SURVEY.md §7.4 hard part 1: latest-version
  * cells + timestamped puts + delete tombstones). */
class KVTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cells(rows: (Long, String, String, String, Long)*) =
    rows.toDF("key", "family", "qualifier", "value", "ts")

  private def fresh(name: String) =
    KVTable(spark, targetPath(s"graft_kv_test/$name"), wipe = true)

  test("latest ts wins regardless of write order") {
    val t = fresh("latest")
    t.put(cells((1L, "F", "a", "new", 5L)))
    t.put(cells((1L, "F", "a", "stale", 3L))) // arrives later, older ts
    val got = t.resolved().select($"value").as[String].collect()
    assert(got.toSeq === Seq("new"))
  }

  test("row tombstone masks all cells at or below its ts, not newer ones") {
    val t = fresh("rowdel")
    t.put(cells((1L, "F", "a", "x", 1L), (1L, "T", "b", "y", 1L)))
    t.delete(Seq((1L, Option.empty[String], Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 2L)
    assert(t.resolved().count() === 0)
    t.put(cells((1L, "F", "a", "reborn", 3L))) // write after delete
    val got = t.resolved().select($"value").as[String].collect()
    assert(got.toSeq === Seq("reborn"))
  }

  test("family and cell tombstones are scoped") {
    val t = fresh("famdel")
    t.put(cells((1L, "F", "a", "fa", 1L), (1L, "F", "b", "fb", 1L),
      (1L, "T", "c", "tc", 1L)))
    t.delete(Seq((1L, Some("F"), Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 2L)
    val live = t.resolved().select($"family", $"qualifier", $"value")
      .as[(String, String, String)].collect().toSet
    assert(live === Set(("T", "c", "tc")))
    t.delete(Seq((1L, Some("T"), Some("c")))
      .toDF("key", "family", "qualifier"), ts = 3L)
    assert(t.resolved().count() === 0)
  }

  test("changesBetween emits the net insert/update/delete diff only") {
    val t = fresh("cdc")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v1", 1L),
      (3L, "F", "a", "v1", 1L), (4L, "F", "a", "v1", 1L),
      (4L, "F", "b", "w1", 1L)))
    // inside the window: key 1 updated; key 2 updated THEN row-deleted
    // (net delete, the ts=2 version must not leak); key 5 inserted and
    // key 6 inserted-then-deleted (net nothing); key 4 loses only cell
    // F.b to a cell tombstone; key 3 untouched
    t.put(cells((1L, "F", "a", "v2", 2L), (2L, "F", "a", "v2", 2L),
      (5L, "F", "a", "new", 2L), (6L, "F", "a", "gone", 2L)))
    t.delete(Seq((2L, Option.empty[String], Option.empty[String]),
      (6L, Option.empty[String], Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 3L)
    t.delete(Seq((4L, Option("F"), Option("b")))
      .toDF("key", "family", "qualifier"), ts = 3L)
    val got = t.changesBetween(1L, 3L)
      .select($"key", $"qualifier", $"change_type", $"old_value", $"new_value")
      .as[(Long, String, String, Option[String], Option[String])]
      .collect().toSet
    assert(got === Set(
      (1L, "a", "update", Some("v1"), Some("v2")),
      (2L, "a", "delete", Some("v1"), None),
      (4L, "b", "delete", Some("w1"), None),
      (5L, "a", "insert", None, Some("new"))))
    // a narrower window sees the intermediate version key 2 DID have
    val mid = t.changesBetween(1L, 2L)
      .filter($"key" === 2L).select($"change_type", $"new_value")
      .as[(String, Option[String])].collect().toSeq
    assert(mid === Seq(("update", Some("v2"))))
    intercept[IllegalArgumentException](t.changesBetween(3L, 3L))
  }

  test("changeLog's one-pass walk equals changesBetween per adjacent pair") {
    val t = fresh("cdclog")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v1", 1L),
      (3L, "F", "a", "v1", 1L), (4L, "F", "b", "w1", 1L)))
    t.put(cells((1L, "F", "a", "v2", 2L), (5L, "F", "a", "new", 2L)))
    t.delete(Seq((2L, Option.empty[String], Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 3L)
    t.put(cells((4L, "F", "b", "w2", 4L), (1L, "F", "a", "v3", 4L)))
    val cuts = Seq(1L, 2L, 3L, 4L)
    val walked = t.changeLog(cuts)
      .select($"round", $"key", $"qualifier", $"change_type",
        $"old_value", $"new_value")
      .as[(Int, Long, String, String, Option[String], Option[String])]
      .collect().map(r => (r._1.toLong, r._2, r._3, r._4, r._5, r._6)).toSet
    val pairwise = (1 until cuts.length).flatMap { r =>
      t.changesBetween(cuts(r - 1), cuts(r))
        .select(lit(r).cast("long").as("round"), $"key", $"qualifier",
          $"change_type", $"old_value", $"new_value")
        .as[(Long, Long, String, String, Option[String], Option[String])]
        .collect()
    }.toSet
    assert(walked === pairwise && walked.nonEmpty)
    // same-ts tie-break parity: the supplementary-plane 😀 (4-byte
    // UTF-8, but LOWER than U+FFFD in UTF-16 code units) must win the
    // tie on BOTH paths — Spark's resolve compares UTF-8 bytes, and
    // changeLog's in-memory replay must agree
    val t2 = fresh("cdclog_tie")
    t2.put(cells((1L, "F", "a", "😀", 1L), (1L, "F", "a", "�", 1L)))
    val sparkWinner = t2.resolved().select($"value").as[String].head()
    val logWinner = t2.changeLog(Seq(0L, 1L))
      .select($"new_value").as[String].head()
    assert(sparkWinner === "😀" && logWinner === sparkWinner)
    intercept[IllegalArgumentException](t2.changeLog(Seq(2L, 1L)))
  }

  test("null-coordinate cells and unknown tomb markers: resolve, " +
      "changesBetween and changeLog agree") {
    // NULL family/qualifier are real cell coordinates (the version
    // window groups them), so the CDC diff must match them null-SAFELY:
    // an unchanged null-keyed cell emits NO change, not delete+insert
    val t = fresh("nullcoord")
    t.put(Seq((1L, Option.empty[String], Option.empty[String],
        Option("v"), 1L))
      .toDF("key", "family", "qualifier", "value", "ts"))
    t.put(cells((2L, "F", "a", "x", 1L), (2L, "F", "a", "y", 2L)))
    assert(t.resolved().filter($"key" === 1L).count() === 1)
    assert(t.changesBetween(1L, 2L).filter($"key" === 1L).count() === 0)
    assert(t.changeLog(Seq(1L, 2L)).filter($"key" === 1L).count() === 0)
    // a cell tombstone at the (null, null) coordinate masks it — on the
    // library resolve (null-safe window partition) exactly as on the replay
    t.put(Seq((1L, Option.empty[String], Option.empty[String],
        Option.empty[String], 3L, Option("cell")))
      .toDF("key", "family", "qualifier", "value", "ts", "tomb"))
    assert(t.resolved().filter($"key" === 1L).count() === 0)
    assert(t.changesBetween(2L, 3L).filter($"key" === 1L)
      .select($"change_type").as[String].collect().toSeq === Seq("delete"))
    assert(t.changeLog(Seq(2L, 3L)).filter($"key" === 1L)
      .select($"change_type").as[String].collect().toSeq === Seq("delete"))

    // an UNKNOWN tomb marker (conform passes arbitrary strings through
    // put) masks at cell granularity on every path — library resolve,
    // changeLog replay, and the DSv2 executor resolve already agreed
    val t2 = fresh("unknowntomb")
    t2.put(cells((7L, "F", "a", "v", 1L)))
    t2.put(Seq((7L, Option("F"), Option("a"), Option.empty[String], 2L,
        Option("x")))
      .toDF("key", "family", "qualifier", "value", "ts", "tomb"))
    assert(t2.resolved().count() === 0)
    assert(t2.changeLog(Seq(1L, 2L))
      .select($"change_type").as[String].collect().toSeq === Seq("delete"))
    assert(t2.changesBetween(1L, 2L)
      .select($"change_type").as[String].collect().toSeq === Seq("delete"))
  }

  test("resolve over a log-only table with row, family and cell tombstones " +
      "and null coordinates plans exactly one shuffle Exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val t = fresh("oneexchange")
    val F = Option("F")
    val none = Option.empty[String]
    t.put(Seq[(Long, Option[String], Option[String], Option[String], Long,
        Option[String])](
      (1L, F, Some("a"), Some("v1"), 1L, none),
      (1L, F, Some("a"), Some("v2"), 3L, none),
      (1L, F, Some("b"), Some("x"), 1L, none),
      (1L, Some("T"), Some("c"), Some("t"), 1L, none),
      (1L, F, none, none, 2L, Some("family")),
      (2L, F, Some("a"), Some("y"), 1L, none),
      (2L, none, none, none, 2L, Some("row")),
      (2L, F, Some("b"), Some("z"), 3L, none),
      (3L, none, none, Some("n1"), 1L, none),
      (3L, F, none, Some("fn"), 1L, none),
      (3L, none, none, none, 1L, Some("cell")),
      (4L, none, Some("q"), Some("a"), 1L, none),
      (4L, none, Some("r"), Some("b"), 2L, none),
      (4L, none, none, none, 1L, Some("family")),
      (5L, F, Some("a"), Some("v"), 4L, none),
      (5L, F, Some("a"), none, 5L, Some("cell")),
      (5L, F, Some("a"), Some("w"), 6L, none))
      .toDF("key", "family", "qualifier", "value", "ts", "tomb"))
    def count(df: org.apache.spark.sql.DataFrame)(
        pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]) =
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan)(pf).size
    def live(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String], Option[String], String, Long)].collect().toSet
    val now = t.resolved()
    val asOf = t.resolvedAsOf(2L)
    // every window shares one order: one shuffle on key, one sort
    for ((name, df) <- Seq("resolved" -> now, "resolvedAsOf" -> asOf)) {
      val plan = df.queryExecution.executedPlan.toString.take(3000)
      assert(count(df) { case _: ShuffleExchangeExec => } === 1,
        s"$name shuffles more than once:\n$plan")
      assert(count(df) { case _: SortExec => } === 1,
        s"$name sorts more than once:\n$plan")
    }
    assert(live(now) === Set((1L, F, Some("a"), "v2", 3L),
      (1L, Some("T"), Some("c"), "t", 1L), (2L, F, Some("b"), "z", 3L),
      (3L, F, none, "fn", 1L), (4L, none, Some("r"), "b", 2L),
      (5L, F, Some("a"), "w", 6L)))
    assert(live(asOf) === Set((1L, Some("T"), Some("c"), "t", 1L),
      (3L, F, none, "fn", 1L), (4L, none, Some("r"), "b", 2L)))
  }

  test("increment merges deltas and skips zeros") {
    val t = fresh("incr")
    t.increment(Seq((1L, "C", "n", 5L), (1L, "C", "n", 3L), (2L, "C", "n", 0L))
      .toDF("key", "family", "qualifier", "delta"), ts = 1L)
    t.increment(Seq((1L, "C", "n", -2L))
      .toDF("key", "family", "qualifier", "delta"), ts = 2L)
    val got = t.resolved().select($"key", $"value".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 6L)) // zero delta for key 2 never materializes
  }

  test("compact preserves resolved state and drops masked versions") {
    val t = fresh("compact")
    t.put(cells((1L, "F", "a", "v1", 1L), (1L, "F", "a", "v2", 2L),
      (2L, "F", "a", "w", 1L)))
    t.delete(Seq((2L, Option.empty[String], Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 2L)
    val before = t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSet
    t.compact()
    val after = t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toSet
    assert(before === after)
    assert(after === Set((1L, "v2")))
    // physical: only live cells remain in the log
    assert(t.cells.count() === 1)
  }

  test("family descriptors round-trip through the metadata file") {
    val t = fresh("fams")
    val descs = Seq(
      write.FamilyDescriptor("F", ttlSeconds = 100L, compression = "zstd",
        bloom = false),
      write.FamilyDescriptor("T")) // defaults: no TTL, snappy, bloom
    t.setFamilies(descs)
    assert(t.families === descs)
    // re-opening the same path sees the same descriptors (disk-backed)
    assert(KVTable(spark, t.path).families === descs)
  }

  test("resolvedAt masks cells older than their family's TTL") {
    val t = fresh("ttlmask")
    t.setFamilies(Seq(write.FamilyDescriptor("F", ttlSeconds = 10L)))
    t.put(cells((1L, "F", "a", "old", 100L), (2L, "F", "a", "live", 95L),
      (3L, "T", "a", "eternal", 1L)))
    // now=107: cutoff is 97 — key 1 (ts 100) lives, key 2 (ts 95) expired;
    // family T has no TTL so its ancient cell survives.
    val live = t.resolvedAt(107L).select($"key", $"value")
      .as[(Long, String)].collect().toSet
    assert(live === Set((1L, "old"), (3L, "eternal")))
    // untimed view still sees everything (TTL is an explicit read choice)
    assert(t.resolved().count() === 3)
  }

  test("compactAt physically drops TTL-expired cells; compact keeps them") {
    val t = fresh("ttlcompact")
    t.setFamilies(Seq(write.FamilyDescriptor("F", ttlSeconds = 10L)))
    t.put(cells((1L, "F", "a", "expired", 1L), (2L, "F", "a", "fresh", 99L)))
    t.compactAt(nowTs = 100L)
    // the expired cell is gone from STORAGE, not just masked
    assert(t.cells.select($"key").as[Long].collect().toSet === Set(2L))
    assert(t.resolved().select($"value").as[String].collect().toSeq
      === Seq("fresh"))
  }

  test("compactAsync completes while appends land; racing put survives") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val t = fresh("async")
    t.put(cells((1L, "F", "a", "v1", 1L)))
    // Deterministic race: snapshot-then-delete must only touch the files
    // present when compaction STARTED. Run the compaction future and
    // append concurrently; whichever interleaving occurs, the racing put
    // must survive into the resolved view (the reference's completeAsync
    // contract, HBaseTable.scala:316-344).
    val fut = t.compactAsync()
    t.put(cells((2L, "F", "a", "racing", 2L)))
    Await.result(fut, 2.minutes)
    val keys = t.resolved().select($"key").as[Long].collect().toSet
    assert(keys.contains(2L), "append racing with compaction was lost")
    assert(keys === Set(1L, 2L))
    // and the next compaction folds the racing put into the bucketed state
    t.compact()
    assert(t.resolved().select($"key").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("compact leaves no phantom log: bare bucketed scan after, union " +
      "leg back only when a new put lands") {
    val t = fresh("phantom")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v2", 1L)))
    t.compact()
    // post-compaction read must be the bucketed table alone — Spark's
    // parquet commit markers (_SUCCESS) must not count as "the log
    // exists", or every read unions an empty leg and the union erases
    // hashpartitioning(key), re-shuffling the whole table (the scale
    // property the bucketed layout exists to provide).
    val planAfter = t.resolved().queryExecution.executedPlan.toString
    assert(!planAfter.contains("Union"),
      s"phantom log leg after compaction:\n${planAfter.take(2000)}")
    assert(!planAfter.contains("Exchange hashpartitioning"),
      s"resolve re-shuffles a purely-compacted table:\n${planAfter.take(2000)}")
    assert(planAfter.contains("Bucketed: true"), planAfter.take(1500))
    // a fresh append re-introduces the log leg (memstore semantics) —
    // served by the DSv2 per-bucket merge, which keeps the read
    // clustered by key: still no shuffle even with a live log
    t.put(cells((3L, "F", "a", "v3", 2L)))
    val planWithLog = t.resolved().queryExecution.executedPlan.toString
    assert(planWithLog.contains("BatchScan"),
      s"log leg not served by the DSv2 merge:\n${planWithLog.take(2000)}")
    assert(!planWithLog.contains("Exchange hashpartitioning"),
      s"live log re-shuffles the table:\n${planWithLog.take(2000)}")
    assert(t.resolved().count() === 3)
    // the union fallback stays available behind the config gate
    spark.conf.set("graft.kv.dsv2", "false")
    try assert(t.resolved().queryExecution.executedPlan.toString.contains("Union"),
      "union fallback gone")
    finally spark.conf.unset("graft.kv.dsv2")
    // ...and the next compaction clears it again (full cycle)
    t.compact()
    val planAfter2 = t.resolved().queryExecution.executedPlan.toString
    assert(!planAfter2.contains("Union") &&
      !planAfter2.contains("Exchange hashpartitioning"),
      s"phantom log leg after second compaction:\n${planAfter2.take(2000)}")
    assert(t.resolved().count() === 3)
  }

  test("readers planned before a re-compaction keep working through the swap") {
    val t = fresh("genswap")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v2", 1L)))
    t.compact() // gen-0
    t.put(cells((3L, "F", "a", "v3", 2L)))
    val planned = t.resolved() // resolved against gen-0 + the live log
    assert(planned.count() === 3)
    t.compact() // gen-1 swaps in; gen-0 (and its catalog entry) survive
    // the pre-swap plan still executes: its files were not deleted
    assert(planned.count() === 3)
    assert(t.resolved().count() === 3)
    // the NEXT compaction retires gen-0 (one full interval to drain)
    t.put(cells((4L, "F", "a", "v4", 3L)))
    t.compact() // gen-2
    val root = new java.io.File(targetPath("graft_kv_test/genswap"), "compacted")
    assert(!new java.io.File(root, "gen-0").exists(), "gen-0 not retired")
    assert(new java.io.File(root, "gen-1").exists(), "drain window gone")
    assert(t.resolved().count() === 4)
  }

  test("truncated generation pointer recovers from the newest complete " +
    "generation and repairs itself") {
    val t = fresh("ptrcrash")
    t.put(cells((1L, "F", "a", "v1", 1L)))
    t.compact() // gen-0
    t.put(cells((2L, "F", "a", "v2", 2L)))
    t.compact() // gen-1
    val ptr = new java.io.File(
      targetPath("graft_kv_test/ptrcrash"), "compacted/_graft_current.txt")
    // simulate the pre-atomic failure mode: crash after truncate
    new java.io.PrintWriter(ptr).close()
    assert(ptr.length() === 0)
    val reread = new KVTable(spark, targetPath("graft_kv_test/ptrcrash"))
    assert(reread.resolved().orderBy($"key").select($"value").as[String]
      .collect().toSeq === Seq("v1", "v2"))
    // and the pointer was repaired to the newest generation
    assert(reread.currentGen.map(_._1) === Some(1))
    val repaired = scala.io.Source.fromFile(ptr)
    try assert(repaired.mkString.trim.split(" ")(0).toInt === 1)
    finally repaired.close()
    reread.drop()
  }

  test("garbage generation pointer recovers too") {
    val t = fresh("ptrjunk")
    t.put(cells((1L, "F", "a", "v1", 1L)))
    t.compact()
    val ptr = new java.io.File(
      targetPath("graft_kv_test/ptrjunk"), "compacted/_graft_current.txt")
    val w = new java.io.PrintWriter(ptr)
    try w.print("not a generation") finally w.close()
    val reread = new KVTable(spark, targetPath("graft_kv_test/ptrjunk"))
    assert(reread.resolved().select($"value").as[String].collect().toSeq
      === Seq("v1"))
    reread.drop()
  }

  test("pointer flips are atomic under reader load: gen is monotonic, " +
    "never absent, never malformed") {
    val path = targetPath("graft_kv_test/ptrrace")
    KVTable(spark, path, wipe = true) // clean slate
    new java.io.File(s"$path/compacted/gen-0").mkdirs()
    graft.sources.kv.KVPointer.writeGenMeta(path, 0, 8)
    graft.sources.kv.KVPointer.publish(path, 0, 8)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        var lastGen = -1
        while (!stop.get() && bad.get() == null) {
          graft.sources.kv.KVPointer.read(path) match {
            case None => bad.compareAndSet(null, "pointer read came back None")
            case Some((g, n)) =>
              if (g < lastGen) bad.compareAndSet(null,
                s"generation went backwards: $lastGen -> $g")
              if (n != 8) bad.compareAndSet(null, s"bucket count corrupted: $n")
              lastGen = g
          }
        }
      })
    }
    readers.foreach(_.start())
    for (g <- 1 to 300) { // publisher: 300 atomic flips under read fire
      new java.io.File(s"$path/compacted/gen-$g").mkdirs()
      graft.sources.kv.KVPointer.writeGenMeta(path, g, 8)
      graft.sources.kv.KVPointer.publish(path, g, 8)
    }
    stop.set(true)
    readers.foreach(_.join(10000))
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(graft.sources.kv.KVPointer.read(path) === Some((300, 8)))
  }

  test("legacy pre-generational layout migrates to gen-0 on first read") {
    val t = fresh("legacy")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v2", 1L)))
    t.compact(numBuckets = 4) // gen-0, modern layout
    val root = new java.io.File(targetPath("graft_kv_test/legacy"), "compacted")
    val gen0 = new java.io.File(root, "gen-0")
    // reshape to the legacy layout: bucket files directly under
    // compacted/, a _graft_buckets.txt marker, no pointer, no gen dir
    gen0.listFiles().filter(_.getName != "_graft_meta.txt").foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(root, f.getName).toPath)
    }
    new java.io.File(gen0, "_graft_meta.txt").delete()
    gen0.delete()
    new java.io.File(root, "_graft_current.txt").delete()
    val w = new java.io.PrintWriter(new java.io.File(root, "_graft_buckets.txt"))
    try w.print("4") finally w.close()
    // first read migrates in place and the compacted state is visible
    val reread = new KVTable(spark, targetPath("graft_kv_test/legacy"))
    assert(reread.currentGen === Some((0, 4)))
    assert(reread.resolved().orderBy($"key").select($"value").as[String]
      .collect().toSeq === Seq("v1", "v2"))
    assert(!new java.io.File(root, "_graft_buckets.txt").exists(),
      "legacy marker not consumed")
    assert(new java.io.File(root, "gen-0").isDirectory)
    reread.drop()
  }

  test("distinct paths that slug identically get distinct catalog tables") {
    val a = KVTable(spark, targetPath("graft_kv_test/case-x"), wipe = true)
    val b = KVTable(spark, targetPath("graft_kv_test/case_X"), wipe = true)
    assert(a.tableName !== b.tableName)
    a.put(cells((1L, "F", "a", "from-a", 1L)))
    b.put(cells((2L, "F", "a", "from-b", 1L)))
    a.compact(); b.compact()
    assert(a.resolved().select($"key").as[Long].collect().toSeq === Seq(1L))
    assert(b.resolved().select($"key").as[Long].collect().toSeq === Seq(2L))
    a.drop(); b.drop()
  }
}
