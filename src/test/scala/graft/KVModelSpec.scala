package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.kv.{KVBatchTable, KVCdcMicroBatchStream, KVCdcOffset, KVLayout, KVResolvedScan}
import graft.write.KVTable

/** Property-based model test (KeySpaceTest statistical-genre parity,
  * applied to storage semantics): random sequences of put/delete cells
  * resolved by KVTable must match a naive in-memory HBase model.
  */
class KVModelSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  import KVModel.{Cell, Op, load, model}

  private val genOp: Gen[Op] = for {
    key <- Gen.choose(0L, 4L)
    fam <- Gen.oneOf("F", "T")
    qual <- Gen.oneOf("a", "b", "c")
    ts <- Gen.choose(1L, 20L)
    tomb <- Gen.frequency(6 -> Gen.const(None),
      1 -> Gen.const(Some("cell")), 1 -> Gen.const(Some("family")),
      1 -> Gen.const(Some("row")))
  } yield Op(key, fam, qual, ts, tomb)

  /** 40 random ops of `seed`; duplicate (key,fam,qual,ts,tomb) ops are
    * ambiguous (which value wins), so later duplicates are dropped like
    * HBase overwrites identical ts cells. */
  private def randomOps(seed: Long): List[Op] =
    Gen.listOfN(40, genOp).pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex
      .groupBy(o => (o._1.key, o._1.family, o._1.qualifier, o._1.ts, o._1.tomb))
      .map(_._2.head).toList.sortBy(_._2).map(_._1)



  private def str(row: org.apache.spark.sql.catalyst.InternalRow, i: Int) =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString

  /** The executor-side resolve kernel against the DataFrame resolve and
    * the model: drains the resolved scan's partitions directly (the
    * kernel at cutoff Long.MaxValue), then one graft-cdc window between
    * two random cutoffs (the kernel at both) against changesBetween. */
  private def kernelLeg(t: KVTable, want: Set[Cell], seed: Long,
                        clue: String): Unit = {
    val scan = new KVResolvedScan(t.path, KVLayout(t.path),
      org.apache.spark.sql.types.StructType(KVBatchTable.CELL_SCHEMA.take(5)),
      Array.empty)
    val factory = scan.createReaderFactory()
    val viaKernel = scan.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map { rr =>
        val row = rr.get()
        (row.getLong(0), str(row, 1), str(row, 2), str(row, 3), row.getLong(4))
      }.toList
      finally r.close()
    }
    assert(viaKernel.size === viaKernel.toSet.size, s"duplicate cells, $clue")
    assert(viaKernel.toSet === want, s"kernel != model, $clue")
    assert(viaKernel.toSet ===
      t.resolved().as[Cell].collect().toSet, s"kernel != resolved(), $clue")

    val Seq(from, to) = Seq(
      Gen.choose(0L, 20L).pureApply(Gen.Parameters.default, Seed(seed)),
      Gen.choose(0L, 20L).pureApply(Gen.Parameters.default, Seed(seed + 1)))
      .distinct.padTo(2, 21L).sorted
    val stream = new KVCdcMicroBatchStream(t.path, 0L, Long.MaxValue)
    val cdcFactory = stream.createReaderFactory()
    val viaCdc = stream.planInputPartitions(KVCdcOffset(from), KVCdcOffset(to))
      .toSeq.flatMap { p =>
        val r = cdcFactory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map { rr =>
          val row = rr.get()
          def lng(i: Int) = if (row.isNullAt(i)) null else Long.box(row.getLong(i))
          (row.getLong(0), str(row, 1), str(row, 2), str(row, 3), str(row, 4),
            str(row, 5), lng(6), lng(7))
        }.toList
        finally r.close()
      }
    val batch = t.changesBetween(from, to).collect().toSeq.map { r =>
      def str(i: Int) = if (r.isNullAt(i)) null else r.getString(i)
      def lng(i: Int) = if (r.isNullAt(i)) null else Long.box(r.getLong(i))
      (r.getLong(0), str(1), str(2), str(3), str(4), str(5), lng(6), lng(7))
    }
    assert(viaCdc.sortBy(_.toString) === batch.sortBy(_.toString),
      s"graft-cdc ($from, $to] != changesBetween, $clue")
  }

  /** The two resolves against the model, live and as of `cut`: the
    * library reads (the kernel inside the scan) and the DataFrame
    * reference [[KVReference.resolve]] over the raw cells. `ops` must all
    * still be retained at `cut` (no compaction folded a version above
    * it). */
  private def referenceLeg(t: KVTable, ops: List[Op], cut: Long,
                           clue: String): Unit = {
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df.as[Cell].collect().toSet
    val now = model(ops)
    val asOf = model(ops.filter(_.ts <= cut))
    assert(cellsOf(t.resolved()) === now, s"resolved() != model, $clue")
    assert(cellsOf(KVReference.resolve(t.cells)) === now, s"resolve(cells) != model, $clue")
    assert(cellsOf(t.resolvedAsOf(cut)) === asOf, s"resolvedAsOf($cut) != model, $clue")
    assert(cellsOf(KVReference.resolve(t.cells.filter(col("ts") <= cut))) === asOf,
      s"resolve(cells as of $cut) != model, $clue")
  }

  /** `changeLog` at 3-4 random ascending cutoffs against the DataFrame
    * reference: `changesBetween` per adjacent cutoff pair, tagged with
    * the later cutoff's index. */
  private def changeLogLeg(t: KVTable, seed: Long, clue: String): Unit = {
    val n = Gen.choose(3, 4).pureApply(Gen.Parameters.default, Seed(seed))
    val cuts = Gen.pick(n, 0L to 21L)
      .pureApply(Gen.Parameters.default, Seed(seed + 1)).toSeq.sorted
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map { r =>
      def str(i: Int) = if (r.isNullAt(i)) null else r.getString(i)
      def lng(i: Int) = if (r.isNullAt(i)) null else Long.box(r.getLong(i))
      (r.getInt(0), r.getLong(1), str(2), str(3), str(4), str(5), str(6),
        lng(7), lng(8))
    }.sortBy(_.toString)
    val want = rows((1 until cuts.length).map { r =>
      t.changesBetween(cuts(r - 1), cuts(r)).select(lit(r).as("round"), col("*"))
    }.reduce(_ unionByName _))
    assert(rows(t.changeLog(cuts)) === want,
      s"changeLog(${cuts.mkString(",")}) != changesBetween per pair, $clue")
  }

  test("resolve matches the naive model on random op sequences") {
    for (seed <- 1 to 8) {
      val deduped = randomOps(seed.toLong)
      val t = KVTable(spark,
        targetPath(s"graft_kv_test/model_${deduped.hashCode.abs}"),
        wipe = true)
      load(t, deduped)
      val got = t.resolved()
        .as[(Long, String, String, String, Long)].collect().toSet
      assert(got === model(deduped), s"mismatch at seed=$seed")
      referenceLeg(t, deduped, Gen.choose(1L, 20L)
        .pureApply(Gen.Parameters.default, Seed(9000L + seed)), s"log-only seed=$seed")
      kernelLeg(t, model(deduped), 3000L + seed, s"seed=$seed")
      changeLogLeg(t, 5000L + seed, s"log-only seed=$seed")
    }
  }

  test("a mid-sequence compaction never changes the resolved view " +
    "(random ops, random split)") {
    // Arrival order respects ts across the split (everything at or
    // below the threshold lands before the compaction, the rest after),
    // so no post-compaction cell carries a ts older than a compacted-
    // away tombstone — the one case where HBase major-compaction parity
    // legitimately resurrects (documented in resolvedAsOf's scaladoc)
    // and a log-only replay would diverge by design.
    for (numBuckets <- Seq(1, 4); seed <- 1 to 6) {
      val deduped = randomOps(1000L + seed)
      val cut = Gen.choose(1L, 20L)
        .pureApply(Gen.Parameters.default, Seed(2000L + seed))
      val t = KVTable(spark,
        targetPath(s"graft_kv_test/modelc_${numBuckets}_$seed"), wipe = true)
      val (before, after) = deduped.partition(_.ts <= cut)
      load(t, before)
      t.compact(numBuckets = numBuckets)
      load(t, after)
      val got = t.resolved()
        .as[(Long, String, String, String, Long)].collect().toSet
      val clue = s"buckets=$numBuckets seed=$seed cut=$cut " +
        s"(compacted ${before.size} ops)"
      assert(got === model(deduped), s"mismatch at $clue")
      // every op at or below `cut` went into the compaction, so the view
      // as of `cut` is exactly their model
      referenceLeg(t, deduped, cut, clue)
      kernelLeg(t, model(deduped), 4000L + seed, clue)
      changeLogLeg(t, 6000L + seed, clue)

      // the bucket-local rewrites: the table is bucketed at numBuckets
      // and its log holds the later ops' versions and tombstones. The
      // restore runs on a clone of this state, because after the full
      // compaction the versions superseded above `cut` are gone (the
      // retention rule) and a restore could not reach them.
      val clone = t.cloneTo(
        targetPath(s"graft_kv_test/modelc_${numBuckets}_${seed}_clone"))
      t.compact(numBuckets = numBuckets)
      assert(t.resolved().as[Cell].collect().toSet === model(deduped),
        s"recompaction mismatch at $clue")
      kernelLeg(t, model(deduped), 7000L + seed, s"recompacted, $clue")
      changeLogLeg(t, 8000L + seed, s"recompacted, $clue")
      clone.restoreAsOf(cut, numBuckets = numBuckets)
      assert(clone.resolved().as[Cell].collect().toSet === model(before),
        s"restoreAsOf($cut) mismatch at $clue")
      clone.drop()
    }
  }

  test("every compaction rewrite matches the model on log-only, 1-bucket " +
    "and 4-bucket tables: compactAt, compactRetaining, and compact and " +
    "restoreAsOf as a first compaction or across a re-bucketing") {
    // family T expires 10 ts units before `now`; row tombstones carry no
    // family and never expire
    def unexpired(ops: List[Op], now: Long) = ops.filterNot(o =>
      o.family == "T" && !o.tomb.contains("row") && o.ts <= now - 10L)
    def state(t: KVTable) = t.resolved().as[Cell].collect().toSet
    def asOf(t: KVTable, v: Long) = t.resolvedAsOf(v).as[Cell].collect().toSet
    def pick(lo: Long, hi: Long, seed: Long) =
      Gen.choose(lo, hi).pureApply(Gen.Parameters.default, Seed(seed))
    for (layout <- Seq(0, 1, 4); seed <- 1 to 3) {
      val ops = randomOps(10000L + seed)
      // a bucketed table compacted the ops at or below `split` (so every
      // version above it is retained) and holds the rest in its log
      val split = if (layout == 0) 0L else pick(1L, 10L, 11000L + seed)
      val base = KVTable(spark,
        targetPath(s"graft_kv_test/modelr_${layout}_$seed"), wipe = true)
      val (before, after) = ops.partition(_.ts <= split)
      load(base, before)
      if (layout > 0) base.compact(numBuckets = layout)
      load(base, after)
      // the rewrites' bucket counts: unchanged on a bucketed table, the
      // other of 1 and 4 for the re-bucketing, 4 for a first compaction
      val same = if (layout == 0) 4 else layout
      val other = if (layout == 4) 1 else 4
      val clue = s"layout=$layout seed=$seed split=$split"
      def fresh(name: String): KVTable = {
        val c = base.cloneTo(targetPath(s"graft_kv_test/modelr_${layout}_${seed}_$name"))
        assert(state(c) === model(ops), s"clone $name, $clue")
        c
      }

      val now = pick(10L, 30L, 12000L + seed)
      val ttl = fresh("ttl")
      ttl.setFamilies(Seq(write.FamilyDescriptor("T", ttlSeconds = 10L)))
      assert(ttl.resolvedAt(now).as[Cell].collect().toSet === model(unexpired(ops, now)),
        s"resolvedAt($now), $clue")
      ttl.compactAt(now, numBuckets = same)
      assert(state(ttl) === model(unexpired(ops, now)), s"compactAt($now), $clue")
      assert(ttl.cells.filter(col("family") === "T" && col("ts") <= now - 10L).count() === 0,
        s"compactAt($now) kept an expired cell, $clue")
      ttl.drop()

      val h = pick(split.max(1L), 20L, 13000L + seed)
      val retain = fresh("retain")
      retain.compactRetaining(h, numBuckets = same)
      assert(state(retain) === model(ops), s"compactRetaining($h), $clue")
      for (v <- h to 20L)
        assert(asOf(retain, v) === model(ops.filter(_.ts <= v)),
          s"compactRetaining($h) then resolvedAsOf($v), $clue")
      retain.drop()

      val v = pick(split.max(1L), 20L, 14000L + seed)
      for (n <- Seq(same, other).distinct) {
        val compacted = fresh(s"compact$n")
        compacted.compact(numBuckets = n)
        assert(KVLayout(compacted.path).numBuckets === n)
        assert(state(compacted) === model(ops), s"compact($n), $clue")
        compacted.drop()
        val restored = fresh(s"restore$n")
        restored.restoreAsOf(v, numBuckets = n)
        assert(state(restored) === model(ops.filter(_.ts <= v)),
          s"restoreAsOf($v, $n), $clue")
        restored.drop()
      }
      base.drop()
    }
  }
}
