package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.write.KVTable

/** `stream_cdc`: each round commits one seeded mutation round to a KV
  * base table, through each of the table's write paths (a put of
  * updates, row deletes, and one SQL `MERGE INTO` of updates and
  * inserts), and lands one seeded file of events. Every
  * `CompactEvery` rounds the base table is compacted, as an op of its
  * own.
  * Two standing streams run on the same triggers:
  *  - a `graft-cdc` stream folds each commit's net diff into a derived
  *    per-group SUM kept in a second KV table (the st13 shape: read the
  *    derived table as of the window's lower cutoff, write the changed
  *    groups at the upper one, so a replayed batch lands the same
  *    versions);
  *  - an event-time windowed count over the events, with a watermark and
  *    a state store, written through the engine's idempotent sink.
  * After the round's commits the harness calls `processAllAvailable()`
  * on both (three CDC triggers, one per commit, and one events
  * trigger), then reads the derived table and checks it against the
  * model. */
final class StreamCdc(ctx: Ctx) extends Workload {
  import StreamCdc._

  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed)
  private val nKeys = if (ctx.smoke) 300 else 5000
  private val updates = if (ctx.smoke) 20 else 300
  private val mergeUpdates = if (ctx.smoke) 5 else 100
  private val deletes = if (ctx.smoke) 5 else 60
  private val inserts = if (ctx.smoke) 5 else 60
  private val eventsPerRound = if (ctx.smoke) 50 else 600
  private val groups = if (ctx.smoke) 10L else 100L
  private val basePath = s"${ctx.dir}/base"
  private val aggPath = s"${ctx.dir}/agg"
  private val landing = s"${ctx.dir}/events_landing"
  private val sinkPath = s"${ctx.dir}/events_sink"
  private lazy val base = KVTable(spark, basePath, wipe = true)
  private lazy val agg = KVTable(spark, aggPath, wipe = true)
  private lazy val baseIdent = graft.sources.kv.KVSource.sqlName(spark, basePath)

  /** key -> cents: the live base state. */
  private var live = Map.empty[Long, Long]
  private var nextKey = 0L
  private var committedRounds = 0
  private var eventsLanded = 0L
  private var userBytes = 0.0
  private var writtenBytes = 0.0
  private var cdc: StreamingQuery = _
  private var events: StreamingQuery = _

  def setup(): Unit = {
    live = (0L until nKeys.toLong).map(k => k -> cents()).toMap
    nextKey = nKeys.toLong
    base.put(cells(live.toSeq, ts = 1L))
    base.compact(Buckets)
    agg.put(spark.createDataFrame(groupSums(live).toSeq.map { case (g, s) =>
      Row(g, "A", "sum", s.toString, 1L, null) }.asJava, CellSchema))
    Files.createDirectories(Paths.get(landing))
    cdc = spark.readStream.format("graft-cdc")
      .option("path", basePath).option("startTs", "1").option("stepTs", "1").load()
      .writeStream.queryName("perfbench_cdc_fold")
      .option("checkpointLocation", s"${ctx.dir}/ckpt_cdc")
      .foreachBatch((b: DataFrame, id: Long) => fold(b, id))
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()
    events = spark.readStream.schema(EventSchema).parquet(landing)
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("units")).as("units"))
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("units"))
      .writeStream.queryName("perfbench_event_windows").outputMode("update")
      .option("checkpointLocation", s"${ctx.dir}/ckpt_events")
      .foreachBatch(graft.streaming.IdempotentSink.parquet(sinkPath))
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()
  }

  /** The st13 fold: batch `i` covers the cutoff window (1+i, 2+i]. */
  private def fold(batch: DataFrame, batchId: Long): Unit = {
    val prevTs = 1L + batchId
    val delta = batch.groupBy((col("key") % groups).as("key"))
      .agg(sum(coalesce(col("new_value").cast("long"), lit(0L))
        - coalesce(col("old_value").cast("long"), lit(0L))).as("delta"))
    val cur = agg.resolvedAsOf(prevTs).select(col("key"), col("value").cast("long").as("cur"))
    agg.put(delta.join(cur, Seq("key"), "left_outer")
      .select(col("key"), lit("A").as("family"), lit("sum").as("qualifier"),
        (coalesce(col("cur"), lit(0L)) + col("delta")).cast("string").as("value"),
        lit(prevTs + 1L).as("ts")))
  }

  /** A pass is `RoundsPerPass` stream rounds, each one op, with a
    * compaction of the base table after every `CompactEvery`-th, so a
    * run has more than one compaction to take a median of. The warm-up
    * pass has the same shape. */
  def pass(p: Int): Iterator[Op] =
    (1 to RoundsPerPass).iterator.flatMap { r =>
      Iterator(() => streamRound()) ++ (if (r % CompactEvery == 0) Iterator(() => compact()) else Nil)
    }.map(_())

  private def streamRound(): Op = {
    committedRounds += 1
    // The round's three commits, each at its own cell timestamp: a
    // graft-cdc batch's cutoff is the newest timestamp in the log, so a
    // commit at a timestamp the stream has already consumed would never
    // reach the fold.
    val Seq(putTs, deleteTs, mergeTs) = (-1 to 1).map(3L * committedRounds + _)
    val keys = live.keys.toVector
    val upd = rng.shuffle(keys).take(updates).map(k => k -> cents())
    val del = rng.shuffle(keys.filterNot(upd.map(_._1).toSet)).take(deletes)
    val ins = (0 until inserts).map { _ => nextKey += 1; (nextKey - 1) -> cents() }
    val (putRows, mergeRows) = upd.splitAt(updates - mergeUpdates)
    val changed = upd ++ ins
    val minute = committedRounds.toLong
    val evs = (0 until eventsPerRound).map { i =>
      Row(eventsLanded + i, java.sql.Timestamp.from(
          T0.plusSeconds(minute * 60 + rng.nextInt(60))),
        EventTypes(rng.nextInt(EventTypes.size)), (1 + rng.nextInt(9)).toLong)
    }
    val sinceBefore = Seq(cdc, events).map(q => q.id.toString -> lastBatch(q)).toMap
    val shape = KvFiles.readShape(basePath) + ("live_cells" -> live.size.toDouble)
    val before = KvFiles.listing(basePath)
    Op("round", "round", "streaming") {
      def timed(name: String)(body: => Unit): Double = {
        val t = System.nanoTime()
        ctx.span(name)(body)
        (System.nanoTime() - t) / 1e9
      }
      val t0 = System.nanoTime()
      val writes = ctx.span("commit") {
        val putS = timed("put")(base.put(cells(putRows, putTs).coalesce(1)))
        val deleteS = timed("delete")(base.delete(spark.createDataFrame(
          del.map(k => Row(k, null, null)).asJava, MarkSchema).coalesce(1), deleteTs))
        val mergeS = timed("merge")(merge(mergeRows ++ ins, mergeTs))
        landEvents(evs, committedRounds)
        Map("put_s" -> putS, "delete_s" -> deleteS, "merge_s" -> mergeS)
      }
      val committed = System.nanoTime()
      ctx.span("trigger") {
        cdc.processAllAvailable()
        events.processAllAvailable()
      }
      val triggered = System.nanoTime()
      val got = ctx.span("read") {
        agg.resolved().select(col("key"), col("value").cast("long")).collect()
      }
      val read = System.nanoTime()
      (got, writes, Seq(t0, committed, triggered, read))
    } { case (got, writes, Seq(t0, committed, triggered, read)) =>
      val tracer = ctx.tracer
      Seq(cdc, events).foreach { q =>
        val from = sinceBefore(q.id.toString)
        val ids = q.recentProgress.map(_.batchId).filter(_ > from).toSeq
        tracer.mapBatches(q.id.toString, ids, tracer.lastOpSpan)
      }
      live = live -- del ++ changed
      eventsLanded += evs.size
      val user = (changed.map { case (_, v) => KvModel.cellBytes("F", "cents", v.toString) }.sum +
        del.size * KvModel.cellBytes(null, null, null)).toDouble
      val written = KvFiles.written(before, basePath).toDouble
      userBytes += user
      writtenBytes += written
      val want = groupSums(live)
      val actual = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Verdict(actual == want,
        if (actual == want) "" else s"derived table differs in ${(actual.toSet diff want.toSet).size} groups",
        extra = writes ++ Map(
          "user_bytes" -> user, "written_bytes" -> written,
          "commit_s" -> (committed - t0) / 1e9,
          "trigger_s" -> (triggered - committed) / 1e9,
          "read_s" -> (read - triggered) / 1e9,
          "freshness_s" -> (read - committed) / 1e9,
          "source_rows" -> (changed.size + del.size + evs.size).toDouble) ++ shape)
    }
  }

  /** One SQL `MERGE INTO` the base table: matched keys are updated,
    * new keys inserted, all at cell timestamp `ts`. */
  private def merge(rows: Seq[(Long, Long)], ts: Long): Unit = {
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v.toString) }.asJava, MergeSchema)
      .createOrReplaceTempView("perfbench_cdc_merge")
    spark.sql(
      s"""MERGE INTO $baseIdent t USING perfbench_cdc_merge u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'cents'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = $ts
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'cents', u.value, $ts, null)""".stripMargin)
  }

  /** Compaction of the base table between rounds. Both streams have
    * consumed every committed round, so folding the history changes no
    * window the CDC stream has still to read. */
  private def compact(): Op = {
    val before = KvFiles.listing(basePath)
    Op("compact", "compact", "write")(base.compact(Buckets)) { _ =>
      val w = KvFiles.written(before, basePath).toDouble
      writtenBytes += w
      val got = base.resolved().agg(count(lit(1)), sum(col("value").cast("long"))).head()
      val want = (live.size.toLong, live.values.sum)
      val ok = (got.getLong(0), got.getLong(1)) == want
      Verdict(ok, if (ok) "" else s"compacted base: (cells, sum) = $got, want $want",
        extra = Map("written_bytes" -> w))
    }
  }

  private def lastBatch(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Write one events file and move it into the landing directory in one
    * rename, so the file source never lists a partial file. */
  private def landEvents(rows: Seq[Row], r: Int): Unit = {
    val tmp = s"${ctx.dir}/events_tmp/$r"
    spark.createDataFrame(rows.asJava, EventSchema).coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(landing, f"round-$r%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  override def finish(): Seq[(String, Boolean, String)] = {
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    val derived = rows(agg.resolved().select(col("key"), col("value").cast("long")))
    val batch = rows(base.resolved().groupBy((col("key") % groups).as("key"))
      .agg(sum(col("value").cast("long"))))
    val latest = rows(spark.read.parquet(sinkPath)
      .groupBy(col("w"), col("event_type"))
      .agg(max_by(struct(col("n"), col("units")), col(graft.streaming.IdempotentSink.COL)).as("x"))
      .select(col("w"), col("event_type"), col("x.n"), col("x.units")))
    val recompute = rows(spark.read.schema(EventSchema).parquet(landing)
      .groupBy(window(col("ts"), "1 minute").getField("start"), col("event_type"))
      .agg(count(lit(1)), sum(col("units"))))
    def diff(a: Set[Seq[Any]], b: Set[Seq[Any]]) = s"${(a diff b).size + (b diff a).size} rows differ"
    Seq(("derived_equals_batch_recompute", derived == batch, diff(derived, batch)),
      ("event_windows_equal_batch_recompute", latest == recompute, diff(latest, recompute)))
  }

  override def endMetrics(): Map[String, Double] = Map(
    "write_amp" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0),
    "kv_space_amp" -> (KvFiles.bytes(basePath) + KvFiles.bytes(aggPath)).toDouble /
      (live.values.map(v => KvModel.cellBytes("F", "cents", v.toString)).sum +
        groupSums(live).values.map(s => KvModel.cellBytes("A", "sum", s.toString)).sum))

  override def teardown(): Unit = Seq(cdc, events).filter(_ != null).foreach(_.stop())

  private def cents(): Long = 100L + rng.nextInt(1000000)

  private def groupSums(m: Map[Long, Long]): Map[Long, Long] =
    m.groupMapReduce(_._1 % groups)(_._2)(_ + _)

  private def cells(kv: Seq[(Long, Long)], ts: Long): DataFrame =
    spark.createDataFrame(kv.map { case (k, v) => Row(k, "F", "cents", v.toString, ts, null) }
      .asJava, CellSchema)
}

object StreamCdc {
  val RoundsPerPass = 4
  val CompactEvery = 2
  /** The base table's bucket count. It holds 5000 keys; with the
    * engine's default of 8 buckets a round took about 4.1 s instead of
    * 3.5 s, and a run about 67 s instead of 57 s, more than the run
    * budget leaves. */
  val Buckets = 1
  /** Trigger interval of both streams. An idle stream with the default
    * trigger re-lists its source every 10 ms, which keeps a core busy
    * beside the client; 100 ms bounds that, at up to 100 ms of added
    * freshness. */
  val TriggerMs = 100L
  val T0: java.time.Instant = java.time.Instant.parse("2024-01-01T00:00:00Z")
  val EventTypes = Vector("click", "view", "purchase", "signup", "error")
  val CellSchema: StructType = StructType.fromDDL(KVTable.CELL_SCHEMA_DDL)
  val MarkSchema: StructType = StructType.fromDDL("key BIGINT, family STRING, qualifier STRING")
  val MergeSchema: StructType = StructType.fromDDL("key BIGINT, value STRING")
  val EventSchema: StructType =
    StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, event_type STRING, units BIGINT")
}
