package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.kv.{KVBatchTable, KVCdcMicroBatchStream, KVCdcOffset, KVLayout, KVResolvedScan}
import graft.write.KVTable

/** Property-based model test (KeySpaceTest statistical-genre parity,
  * applied to storage semantics): random sequences of put/delete cells
  * resolved by KVTable must match a naive in-memory HBase model.
  */
class KVModelSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // (key, family, qualifier, value|tomb, ts)
  private case class Op(key: Long, family: String, qualifier: String,
                        ts: Long, tomb: Option[String])

  private val genOp: Gen[Op] = for {
    key <- Gen.choose(0L, 4L)
    fam <- Gen.oneOf("F", "T")
    qual <- Gen.oneOf("a", "b", "c")
    ts <- Gen.choose(1L, 20L)
    tomb <- Gen.frequency(6 -> Gen.const(None),
      1 -> Gen.const(Some("cell")), 1 -> Gen.const(Some("family")),
      1 -> Gen.const(Some("row")))
  } yield Op(key, fam, qual, ts, tomb)

  /** Naive reference model of HBase latest-wins + tombstone masking. */
  private def model(ops: List[Op]): Set[(Long, String, String, String, Long)] = {
    def rowDel(k: Long) =
      ops.filter(o => o.tomb.contains("row") && o.key == k)
        .map(_.ts).maxOption.getOrElse(Long.MinValue)
    def famDel(k: Long, f: String) =
      ops.filter(o => o.tomb.contains("family") && o.key == k && o.family == f)
        .map(_.ts).maxOption.getOrElse(Long.MinValue)
    def cellDel(k: Long, f: String, q: String) =
      ops.filter(o => o.tomb.contains("cell") && o.key == k &&
          o.family == f && o.qualifier == q)
        .map(_.ts).maxOption.getOrElse(Long.MinValue)
    ops.filter(_.tomb.isEmpty)
      .groupBy(o => (o.key, o.family, o.qualifier))
      .flatMap { case ((k, f, q), cells) =>
        val latest = cells.maxBy(_.ts)
        val mask = List(rowDel(k), famDel(k, f), cellDel(k, f, q)).max
        if (latest.ts > mask)
          Some((k, f, q, s"v${latest.key}_${latest.ts}", latest.ts))
        else None
      }.toSet
  }

  private type Cell = (Long, String, String, String, Long)

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

  test("resolve matches the naive model on random op sequences") {
    for (seed <- 1 to 8) {
      val ops = Gen.listOfN(40, genOp)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // duplicate (key,fam,qual,ts) puts are ambiguous (which value wins)
      // — drop later duplicates like HBase overwrites identical ts cells
      val deduped = ops.zipWithIndex
        .groupBy(o => (o._1.key, o._1.family, o._1.qualifier, o._1.ts, o._1.tomb))
        .map(_._2.head).toList.sortBy(_._2).map(_._1)
      val t = KVTable(spark,
        targetPath(s"graft_kv_test/model_${deduped.hashCode.abs}"),
        wipe = true)
      val puts = deduped.filter(_.tomb.isEmpty)
        .map(o => (o.key, o.family, o.qualifier, s"v${o.key}_${o.ts}", o.ts))
      if (puts.nonEmpty)
        t.put(puts.toDF("key", "family", "qualifier", "value", "ts"))
      deduped.filter(_.tomb.nonEmpty).groupBy(_.ts).foreach { case (ts, dels) =>
        t.delete(dels.map {
          case Op(k, f, q, _, Some("row")) => (k, None, None)
          case Op(k, f, _, _, Some("family")) => (k, Some(f), None)
          case Op(k, f, q, _, Some("cell")) => (k, Some(f), Some(q))
          case o => throw new IllegalStateException(o.toString)
        }.toDF("key", "family", "qualifier"), ts)
      }
      val got = t.resolved()
        .as[(Long, String, String, String, Long)].collect().toSet
      assert(got === model(deduped), s"mismatch at seed=$seed")
      kernelLeg(t, model(deduped), 3000L + seed, s"seed=$seed")
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
      val ops = Gen.listOfN(40, genOp)
        .pureApply(Gen.Parameters.default, Seed(1000L + seed))
      val deduped = ops.zipWithIndex
        .groupBy(o => (o._1.key, o._1.family, o._1.qualifier, o._1.ts, o._1.tomb))
        .map(_._2.head).toList.sortBy(_._2).map(_._1)
      val cut = Gen.choose(1L, 20L)
        .pureApply(Gen.Parameters.default, Seed(2000L + seed))
      val t = KVTable(spark,
        targetPath(s"graft_kv_test/modelc_${numBuckets}_$seed"), wipe = true)
      def apply(batch: List[Op]): Unit = {
        val puts = batch.filter(_.tomb.isEmpty)
          .map(o => (o.key, o.family, o.qualifier, s"v${o.key}_${o.ts}", o.ts))
        if (puts.nonEmpty)
          t.put(puts.toDF("key", "family", "qualifier", "value", "ts"))
        batch.filter(_.tomb.nonEmpty).groupBy(_.ts).foreach { case (ts, dels) =>
          t.delete(dels.map {
            case Op(k, _, _, _, Some("row")) => (k, None, None)
            case Op(k, f, _, _, Some("family")) => (k, Some(f), None)
            case Op(k, f, q, _, Some("cell")) => (k, Some(f), Some(q))
            case o => throw new IllegalStateException(o.toString)
          }.toDF("key", "family", "qualifier"), ts)
        }
      }
      val (before, after) = deduped.partition(_.ts <= cut)
      apply(before)
      t.compact(numBuckets = numBuckets)
      apply(after)
      val got = t.resolved()
        .as[(Long, String, String, String, Long)].collect().toSet
      val clue = s"buckets=$numBuckets seed=$seed cut=$cut " +
        s"(compacted ${before.size} ops)"
      assert(got === model(deduped), s"mismatch at $clue")
      kernelLeg(t, model(deduped), 4000L + seed, clue)
    }
  }
}
