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
    // changeLog (the executor-side kernel) must agree
    val t2 = fresh("cdclog_tie")
    t2.put(cells((1L, "F", "a", "😀", 1L), (1L, "F", "a", "�", 1L)))
    val sparkWinner = t2.resolved().select($"value").as[String].head()
    val logWinner = t2.changeLog(Seq(0L, 1L))
      .select($"new_value").as[String].head()
    assert(sparkWinner === "😀" && logWinner === sparkWinner)
    intercept[IllegalArgumentException](t2.changeLog(Seq(2L, 1L)))
  }

  test("changeLog over a bucketed compacted + log table plans zero " +
      "shuffle Exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val t = fresh("cdclog_noshuffle")
    t.put(cells((1L, "F", "a", "v1", 1L), (2L, "F", "a", "v1", 1L),
      (3L, "F", "b", "w1", 1L)))
    t.compact(numBuckets = 4)
    t.put(cells((1L, "F", "a", "v2", 2L), (4L, "F", "a", "new", 2L)))
    t.delete(Seq((3L, Option.empty[String], Option.empty[String]))
      .toDF("key", "family", "qualifier"), ts = 3L)
    val walked = t.changeLog(Seq(1L, 2L, 3L))
    val plan = walked.queryExecution.executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"changeLog shuffles:\n${plan.toString.take(3000)}")
    assert(walked.schema === StructType(StructField("round", IntegerType,
      nullable = false) +: graft.sources.kv.KVCdc.SCHEMA.fields))
    assert(walked.select($"round", $"key", $"change_type", $"old_value",
        $"new_value").as[(Int, Long, String, Option[String], Option[String])]
      .collect().toSet === Set(
        (1, 1L, "update", Some("v1"), Some("v2")),
        (1, 4L, "insert", None, Some("new")),
        (2, 3L, "delete", Some("w1"), None)))
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
    // put) masks at cell granularity on both paths — the library resolve
    // and the executor-side kernel under changeLog
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
    import org.apache.spark.sql.execution.window.WindowExec
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
    // the reference: every window shares one order, so one shuffle on
    // key and one sort
    for ((name, df) <- Seq("resolve" -> KVReference.resolve(t.cells),
        "resolve as of 2" -> KVReference.resolve(t.cells.filter($"ts" <= 2L)))) {
      val plan = df.queryExecution.executedPlan.toString.take(3000)
      assert(count(df) { case _: ShuffleExchangeExec => } === 1,
        s"$name shuffles more than once:\n$plan")
      assert(count(df) { case _: SortExec => } === 1,
        s"$name sorts more than once:\n$plan")
      assert(live(df) === live(if (name == "resolve") now else asOf), name)
    }
    // the library reads resolve inside the scan: no shuffle, sort or window
    for ((name, df) <- Seq("resolved" -> now, "resolvedAsOf" -> asOf)) {
      val plan = df.queryExecution.executedPlan.toString.take(3000)
      assert(count(df) { case _: ShuffleExchangeExec => } === 0, s"$name:\n$plan")
      assert(count(df) { case _: SortExec => } === 0, s"$name:\n$plan")
      assert(count(df) { case _: WindowExec => } === 0, s"$name:\n$plan")
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

  test("resolvedAt resolves in the scan and equals expiring before the " +
      "resolve: expired newer versions, TTL'd family and cell tombstones, " +
      "row tombstones") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val t = fresh("ttlkernel")
    t.setFamilies(Seq(write.FamilyDescriptor("F", ttlSeconds = 10L)))
    val F = Option("F")
    val T = Option("T")
    val none = Option.empty[String]
    def q(s: String) = Option(s)
    t.put(Seq[(Long, Option[String], Option[String], Option[String], Long,
        Option[String])](
      (1L, F, q("a"), q("old"), 90L, none), (1L, F, q("a"), q("new"), 100L, none),
      // the newer version expired too: no older version resurfaces
      (2L, F, q("a"), q("e1"), 96L, none), (2L, F, q("a"), q("e2"), 97L, none),
      (2L, F, q("b"), q("b2"), 99L, none),
      // a live family tombstone masks; an expired one masks only expired cells
      (3L, F, q("a"), q("x"), 99L, none), (3L, F, none, none, 99L, q("family")),
      (4L, F, q("a"), q("y"), 95L, none), (4L, F, none, none, 96L, q("family")),
      (4L, F, q("c"), q("c4"), 100L, none),
      // a live cell tombstone masks; an expired one masks nothing live
      (5L, F, q("a"), q("z"), 100L, none), (5L, F, q("a"), none, 101L, q("cell")),
      (5L, F, q("b"), q("b5"), 98L, none), (5L, F, q("b"), none, 96L, q("cell")),
      // row tombstones carry no family and never expire
      (6L, none, none, none, 100L, q("row")), (6L, F, q("a"), q("r"), 99L, none),
      (6L, T, q("a"), q("t6"), 101L, none), (6L, T, q("b"), q("old6"), 50L, none),
      (7L, none, none, none, 50L, q("row")), (7L, T, q("a"), q("m"), 40L, none),
      (7L, F, q("a"), q("f7"), 99L, none),
      (8L, T, q("a"), q("eternal"), 1L, none))
      .toDF("key", "family", "qualifier", "value", "ts", "tomb"))
    def live(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String], Option[String], String, Long)].collect().toSet
    val got = t.resolvedAt(107L)
    val want = live(KVReference.resolve(t.ttlFilter(t.cells, 107L)))
    assert(live(got) === want)
    assert(want === Set((1L, F, q("a"), "new", 100L), (2L, F, q("b"), "b2", 99L),
      (4L, F, q("c"), "c4", 100L), (5L, F, q("b"), "b5", 98L),
      (6L, T, q("a"), "t6", 101L), (7L, F, q("a"), "f7", 99L),
      (8L, T, q("a"), "eternal", 1L)))
    assert(new AdaptiveSparkPlanHelper {}.collect(got.queryExecution.executedPlan) {
      case w: WindowExec => w }.isEmpty)
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
    // post-compaction read must be the bucketed scan alone — Spark's
    // parquet commit markers (_SUCCESS) must not count as "the log
    // exists", or every read unions an empty leg and the union erases
    // the key partitioning, re-shuffling the whole table (the scale
    // property the bucketed layout exists to provide).
    val planAfter = t.resolved().queryExecution.executedPlan.toString
    assert(!planAfter.contains("Union"),
      s"phantom log leg after compaction:\n${planAfter.take(2000)}")
    assert(!planAfter.contains("Exchange hashpartitioning"),
      s"resolve re-shuffles a purely-compacted table:\n${planAfter.take(2000)}")
    assert(planAfter.linesIterator.exists(l =>
      l.contains("BatchScan graft-kv") && l.contains("buckets=8")), planAfter.take(1500))
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
    t.compact()
    val first = graft.sources.kv.KVLayout(t.path).compactedFiles
    t.put(cells((3L, "F", "a", "v3", 2L)))
    val planned = t.resolved() // resolved against the first generation + the live log
    assert(planned.count() === 3)
    t.compact() // the second generation swaps in; the first one's files survive
    val second = graft.sources.kv.KVLayout(t.path).compactedFiles
    // the pre-swap plan still executes: its files were not deleted
    assert(planned.count() === 3)
    assert(t.resolved().count() === 3)
    // the NEXT compaction deletes the first generation (one full
    // interval to drain) and keeps the second
    t.put(cells((4L, "F", "a", "v4", 3L)))
    t.compact()
    def onDisk(f: String) = graft.sources.kv.GraftFs.exists(f)
    assert(first.nonEmpty && !first.exists(onDisk), "first generation not deleted")
    assert(second.forall(onDisk), "drain window gone")
    assert(t.resolved().count() === 4)
  }

  test("truncated generation pointer recovers from the newest complete " +
    "generation and repairs itself") {
    val t = fresh("ptrcrash")
    t.put(cells((1L, "F", "a", "v1", 1L)))
    t.compact()
    t.put(cells((2L, "F", "a", "v2", 2L)))
    t.compact()
    val head = graft.sources.kv.KVLayout(t.path).generation
    // the next generation's publish crashed after truncating its record's
    // tmp file and before linking it: the head record is never half-written
    val record = java.nio.file.Paths.get(graft.sources.kv.KVCommit.file(t.path, head + 1))
    val tmp = record.resolveSibling(s".${record.getFileName}.crashed.tmp")
    java.nio.file.Files.write(tmp, Array.emptyByteArray)
    assert(java.nio.file.Files.size(tmp) === 0)
    val reread = new KVTable(spark, t.path)
    assert(reread.resolved().orderBy($"key").select($"value").as[String]
      .collect().toSeq === Seq("v1", "v2"))
    assert(graft.sources.kv.KVLayout(t.path).generation === head)
    // and the next commit takes the generation the crashed publish lost
    reread.put(cells((3L, "F", "a", "v3", 3L)))
    assert(graft.sources.kv.KVLayout(t.path).generation === head + 1)
    assert(java.nio.file.Files.exists(record))
    assert(reread.resolved().orderBy($"key").select($"value").as[String]
      .collect().toSeq === Seq("v1", "v2", "v3"))
    reread.drop()
  }

  test("a commit record that does not parse fails the read, naming the file") {
    val t = fresh("recordjunk")
    t.put(cells((1L, "F", "a", "v1", 1L)))
    t.compact()
    val record = graft.sources.kv.KVCommit.file(t.path, 1L)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(record), "not a commit")
    val e = intercept[IllegalStateException](graft.sources.kv.KVLayout(t.path))
    assert(e.getMessage.contains(record), e.getMessage)
    t.drop()
  }

  test("distinct paths that slug identically keep independent state") {
    val a = KVTable(spark, targetPath("graft_kv_test/case-x"), wipe = true)
    val b = KVTable(spark, targetPath("graft_kv_test/case_X"), wipe = true)
    a.put(cells((1L, "F", "a", "from-a", 1L)))
    b.put(cells((2L, "F", "a", "from-b", 1L)))
    a.compact(); b.compact()
    assert(a.resolved().select($"key").as[Long].collect().toSeq === Seq(1L))
    assert(b.resolved().select($"key").as[Long].collect().toSeq === Seq(2L))
    a.drop(); b.drop()
  }
}
