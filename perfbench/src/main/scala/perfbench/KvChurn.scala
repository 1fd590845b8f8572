package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.write.KVTable

/** `kv_churn`: a FIXTURES §1-shaped KV table (Zipf-skewed keys, families
  * F = features, T = tags, S = scores) is built and compacted in set-up.
  * Each round (one pass) then issues, in order: put, delete, merge (SQL
  * MERGE INTO), resolve, asof, changes, lookup, and every `CompactEvery`
  * rounds a compact. Every read is checked against the generator's
  * in-memory latest-wins model. */
final class KvChurn(ctx: Ctx) extends Workload {
  import KvChurn._

  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed)
  private val nKeys = if (ctx.smoke) 400 else 5000
  private val putCells = if (ctx.smoke) 60 else 1500
  private val deleteMarks = if (ctx.smoke) 20 else 150
  private val mergeRows = if (ctx.smoke) 30 else 500
  private val lookupKeys = if (ctx.smoke) 10 else 50
  private val path = s"${ctx.dir}/kv_churn"
  private val zipf = new Zipf(nKeys + nKeys / 4, 1.1, rng)
  private lazy val table = KVTable(spark, path, wipe = true)
  private lazy val ident = graft.sources.kv.KVSource.sqlName(spark, path)

  private var model = KvModel.empty
  private var clock = 1L
  private var userBytes = 0.0
  private var writtenBytes = 0.0

  def setup(): Unit = {
    val base = (0L until nKeys.toLong).flatMap { k =>
      Seq(Cell(k, "F", "width", gauss()), Cell(k, "F", "height", gauss())) ++
        Tags.filter(_ => rng.nextBoolean()).map(t => Cell(k, "T", t, "1")) ++
        rng.shuffle(Scores).take(2).map(q => Cell(k, "S", q, score()))
    }
    table.put(frame(base.map(_.row(clock))))
    base.foreach(c => model = model.put(c.key, c.family, c.qualifier, c.value, clock))
    table.compact()
  }

  def pass(r: Int): Iterator[Op] = {
    val prev = (model, clock)
    val builders: Seq[() => Op] = Seq(
      () => put(), () => delete(), () => merge(), () => resolve(),
      () => asOf(prev), () => changes(prev), () => lookup()) ++
      (if (r % CompactEvery == CompactEvery - 1) Seq(() => compact()) else Nil)
    builders.iterator.map(_())
  }

  /** A write op: draws its cells now, times `write`, then checks nothing
    * more than that it returned, and folds the cells into the model. */
  private def writeOp(name: String, cells: Seq[Cell], ts: Long, apply: KvModel => KvModel)(
      write: => Unit): Op = {
    val before = KvFiles.listing(path)
    Op(name, "write", "write")(write) { _ =>
      model = apply(model)
      val user = cells.map(c => KvModel.cellBytes(c.family, c.qualifier, c.value)).sum.toDouble
      val w = KvFiles.written(before, path).toDouble
      userBytes += user
      writtenBytes += w
      Verdict(ok = true, extra = Map("user_bytes" -> user, "written_bytes" -> w, "ts" -> ts.toDouble))
    }
  }

  private def put(): Op = {
    clock += 1
    val ts = clock
    val cells = (1 to putCells).map { _ =>
      val k = zipf.next()
      rng.nextInt(10) match {
        case x if x < 5 => Cell(k, "F", if (rng.nextBoolean()) "width" else "height", gauss())
        case x if x < 9 => Cell(k, "S", Scores(rng.nextInt(Scores.size)), score())
        case _ => Cell(k, "T", Tags(rng.nextInt(Tags.size)), "1")
      }
    }.groupBy(c => (c.key, c.family, c.qualifier)).values.map(_.last).toSeq
    writeOp("put", cells, ts, m => cells.foldLeft(m)((a, c) =>
      a.put(c.key, c.family, c.qualifier, c.value, ts))) {
      table.put(frame(cells.map(_.row(ts))))
    }
  }

  private def delete(): Op = {
    clock += 1
    val ts = clock
    val marks = (1 to deleteMarks).map { _ =>
      val k = zipf.next()
      rng.nextInt(10) match {
        case x if x < 2 => Cell(k, null, null, null)
        case x if x < 5 => Cell(k, Families(rng.nextInt(Families.size)), null, null)
        case _ =>
          val row = model.cells.getOrElse(k, Map.empty).keys.toSeq
          if (row.isEmpty) Cell(k, "S", Scores(rng.nextInt(Scores.size)), null)
          else { val (f, q) = row(rng.nextInt(row.size)); Cell(k, f, q, null) }
      }
    }
    writeOp("delete", marks, ts, m => marks.foldLeft(m)((a, c) =>
      a.delete(c.key, c.family, c.qualifier))) {
      table.delete(spark.createDataFrame(
        marks.map(c => Row(c.key, c.family, c.qualifier)).asJava, MarkSchema).coalesce(1), ts)
    }
  }

  private def merge(): Op = {
    clock += 1
    val ts = clock
    val rows = Iterator.continually((zipf.next(), Scores(rng.nextInt(Scores.size))))
      .distinct.take(mergeRows).map { case (k, q) => Cell(k, "S", q, score()) }.toSeq
    writeOp("merge", rows, ts, m => rows.foldLeft(m)((a, c) =>
      a.put(c.key, c.family, c.qualifier, c.value, ts))) {
      spark.createDataFrame(rows.map(c => Row(c.key, c.qualifier, c.value)).asJava,
        UpdateSchema).createOrReplaceTempView("perfbench_merge_updates")
      spark.sql(
        s"""MERGE INTO $ident t USING perfbench_merge_updates u
           |ON t.key = u.key AND t.family = 'S' AND t.qualifier = u.q
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = $ts
           |WHEN NOT MATCHED THEN
           |  INSERT (key, family, qualifier, value, ts, tomb)
           |  VALUES (u.key, 'S', u.q, u.value, $ts, null)""".stripMargin)
    }
  }

  /** A read op: the read shape is listed just before it runs. */
  private def readOp(name: String, expected: => Map[String, (Long, Long)], live: => Long)(
      read: => DataFrame, key: String): Op = {
    val shape = KvFiles.readShape(path) + ("live_cells" -> live.toDouble)
    Op(name, "read", "sources.kv")(read.collect()) { got =>
      val actual = got.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = expected
      Verdict(actual == want, if (actual == want) "" else s"$key: got $actual want $want", extra = shape)
    }
  }

  private def crcAgg(df: DataFrame, by: String, value: Column): DataFrame =
    df.groupBy(col(by)).agg(count(lit(1)).as("n"),
      sum(crc32(concat_ws("|", col("key").cast("string"), col("family"),
        col("qualifier"), value).cast("binary"))).as("crc"))

  private def resolve(): Op =
    readOp("resolve", model.byFamily, model.size)(
      crcAgg(table.resolved(), "family", col("value")), "family")

  private def asOf(prev: (KvModel, Long)): Op =
    readOp("asof", prev._1.byFamily, prev._1.size)(
      crcAgg(table.resolvedAsOf(prev._2), "family", col("value")), "family")

  private def changes(prev: (KvModel, Long)): Op =
    readOp("changes", model.changesSince(prev._1), model.size)(
      crcAgg(table.changesBetween(prev._2, clock), "change_type",
        coalesce(col("new_value"), lit(""))), "change_type")

  private def lookup(): Op = {
    val keys = Iterator.continually(zipf.next()).distinct.take(lookupKeys).toSeq
    val shape = KvFiles.readShape(path) + ("live_cells" -> model.size.toDouble)
    Op("lookup", "read", "sources.kv")(
      table.resolved().filter(col("key").isin(keys: _*))
        .select("key", "family", "qualifier", "value").collect()) { got =>
      val actual = got.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      val want = keys.flatMap(k => model.cells.getOrElse(k, Map.empty).map {
        case ((f, q), (v, _)) => (k, f, q, v) }).toSet
      Verdict(actual == want, if (actual == want) "" else
        s"lookup: ${(actual diff want).size} unexpected, ${(want diff actual).size} missing",
        extra = shape)
    }
  }

  private def compact(): Op = {
    val before = KvFiles.listing(path)
    Op("compact", "compact", "write")(table.compact()) { _ =>
      val w = KvFiles.written(before, path).toDouble
      writtenBytes += w
      Verdict(ok = true, extra = Map("written_bytes" -> w))
    }
  }

  override def finish(): Seq[(String, Boolean, String)] = {
    val got = crcAgg(table.resolved(), "family", col("value")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq(("final_resolve", got == model.byFamily, s"got $got want ${model.byFamily}"))
  }

  override def endMetrics(): Map[String, Double] = Map(
    "kv_space_amp" -> KvFiles.bytes(path).toDouble / model.logicalBytes,
    "write_amp" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0))

  private def gauss(): String = math.round(1000 + 50 * rng.nextGaussian()).toString
  private def score(): String = f"${rng.nextDouble()}%.4f"
  /** A client batch: one partition, so one write lands one log file. */
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, CellSchema).coalesce(1)
}

object KvChurn {
  val CompactEvery = 2
  val Tags = Vector("lego", "music", "cars", "cinema", "sport")
  val Scores = Vector.tabulate(8)(i => s"s$i")
  val Families = Vector("F", "T", "S")
  val CellSchema: StructType = StructType.fromDDL(KVTable.CELL_SCHEMA_DDL)
  val MarkSchema: StructType = StructType.fromDDL("key BIGINT, family STRING, qualifier STRING")
  val UpdateSchema: StructType = StructType.fromDDL("key BIGINT, q STRING, value STRING")

  final case class Cell(key: Long, family: String, qualifier: String, value: String) {
    def row(ts: Long): Row = Row(key, family, qualifier, value, ts, null)
  }

  /** Zipf(s) ranks over `n` keys, mapped through a seeded permutation so
    * the hot keys are scattered over the key space. */
  final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    private val perm = rng.shuffle((0L until n.toLong).toVector)
    def next(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
  }
}
