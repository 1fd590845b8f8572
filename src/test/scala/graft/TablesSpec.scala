package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.GraftFs

/** `Tables.parquet` infers a known file's schema once: later reads of
  * the same files under the same type-mapping confs build their
  * DataFrame with no Spark job, and anything that could change the
  * schema infers again. */
class TablesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fresh(rel: String): String = {
    val path = targetPath(s"tablesspec/$rel")
    GraftFs.delete(path, recursive = true)
    path
  }

  test("a second read of the same table runs no Spark job to build its DataFrame") {
    val path = fresh("second_read")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val first = jobCallSites(Tables.parquet(spark, path): Unit)
    assert(first.exists(_.startsWith("parquet at")), first)
    val second = jobCallSites(Tables.parquet(spark, path): Unit)
    assert(second.isEmpty, second)
    assert(Tables.parquet(spark, path).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // the corpus tables go through the same reader
    Tables.lineitem(spark, sf)
    assert(jobCallSites(Tables.lineitem(spark, sf): Unit).isEmpty)
  }

  test("a file rewritten at the same path is inferred again, and the " +
    "path keeps one cache entry across rewrites") {
    val path = fresh("rewrite")
    val before = Tables.cachedSchemas
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("k", "v"))
    for (n <- 1 to 3) {
      val extra = (1 to n).map(i => s"c$i")
      Seq((1L, "a")).toDF("k", "v")
        .select(($"k" +: $"v" +: extra.map(c => $"k".as(c))): _*)
        .write.mode("overwrite").parquet(path)
      val df = Tables.parquet(spark, path)
      assert(df.columns.toSeq === Seq("k", "v") ++ extra)
      assert(df.collect().head.getLong(2 + n - 1) === 1L)
    }
    assert(Tables.cachedSchemas === before + 1)
  }

  /** An events table whose `ts` is TIMESTAMP(NANOS), the legacy
    * layout `nanosAsLong` exists for (Spark itself never writes it). */
  private def nanosEvents(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(GraftFs.hadoopConf).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try w.write(rows.newGroup().append("event_id", 1L)
      .append("ts", 1700000000123456789L))
    finally w.close()
  }

  test("events.ts is a Long under nanosAsLong and not a Long without it, " +
    "in the same JVM") {
    val dir = fresh("nanos")
    nanosEvents(dir)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    def ts = scala.util.Try(
      Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType)
    try {
      spark.conf.set(key, "true")
      assert(ts.toOption === Some(LongType))
      assert(Tables.events(spark, dir).select("ts").as[Long].collect() ===
        Array(1700000000123456789L))
      spark.conf.set(key, "false")
      // rejected by the reader or read as a timestamp: never served
      // from the entry inferred under the other setting
      assert(!ts.toOption.contains(LongType))
      spark.conf.set(key, "true")
      assert(ts.toOption === Some(LongType))
    } finally spark.conf.set(key, prev)
  }

  test("four threads reading a table for the first time at once agree " +
    "on its schema") {
    val path = fresh("concurrent")
    Seq((1L, "a", 2.0)).toDF("k", "v", "x").write.parquet(path)
    val want = spark.read.parquet(path).schema
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(4)
    try {
      val reads = (1 to 4).map(_ => Future {
        barrier.await(60, TimeUnit.SECONDS)
        Tables.parquet(spark, path).schema
      })
      val got = Await.result(Future.sequence(reads), 120.seconds)
      assert(got.forall(_ == want), got)
    } finally pool.shutdownNow(): Unit
  }
}
