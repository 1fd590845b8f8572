package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine queries read these, and the parquet artifacts the engine
  * stages itself, through [[parquet]] — Catalyst gives predicate
  * pushdown, column pruning and partition coalescing for free, which at
  * 100 TB means the scan only materializes the (columns × row groups) a
  * query actually touches. Equivalent of the reference's server-side
  * scan pushdown (HBaseRDD.scala:39-56).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change how parquet types map to Spark types. */
  private val typeConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.caseSensitive")

  /** path -> (key, schema): one entry per path, schemas only. */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** Read a parquet path the engine knows, inferring its schema (a
    * Spark job over the footers) only on a path's first read. The entry
    * is reused while the path's [[Staging.fingerprint]] and the
    * session's type-mapping confs are unchanged; a change infers again
    * and replaces the path's one entry. Spark still lists the path on
    * every read. Inference runs under no lock: concurrent first reads
    * may each infer the same schema. The fingerprint is taken first,
    * so a rewrite during inference leaves a key that never matches. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val fp = Staging.fingerprint(path)
    // a missing path or a glob has no fingerprint to key on
    if (fp == "absent") spark.read.parquet(path)
    else {
      val key = (fp +: typeConfs.map(k => spark.conf.getOption(k).orNull))
        .mkString("|")
      val hit = Option(schemas.get(path)).collect { case (`key`, st) => st }
      val schema = hit.getOrElse {
        val st = spark.read.parquet(path).schema
        schemas.put(path, (key, st))
        st
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The number of paths [[parquet]] holds a schema for. */
  private[graft] def cachedSchemas: Int = schemas.size

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** Events with `ts` normalized to the engine's timestamp convention:
    * epoch-NANOS Long (the reference's cell timestamps are epoch longs,
    * HBaseRDD cell ts). The driver has shipped this column as both
    * TIMESTAMP(NANOS) — which `nanosAsLong` already surfaces as Long —
    * and TIMESTAMP(MICROS) (naive), which Spark reads as TIMESTAMP_NTZ;
    * the NTZ leg converts via the UTC session clock so it agrees with
    * DuckDB's `epoch_ns` on the same naive values. Every consumer
    * (`ts DIV 1000000000` seconds math, streaming stage dirs, KV cell
    * timestamps) sees one stable Long type either way.
    *
    * Scale note: this conversion happens ONCE, at the ingest boundary —
    * everything the engine itself writes (KV cell logs, staged
    * streaming dirs, compacted tables) stores the Long, so ts range
    * predicates on engine-written data push down to parquet row-group
    * stats untouched. Only a foreign NTZ-typed file pays the
    * conversion, and a 100 TB deployment would normalize it at load
    * exactly like this. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** Typed row models (Dataset[T] views, reference `Transformation`-style
  * schema-on-read — Transformation.scala:8-13). */
object Models {
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                      c_acctbal: Double, c_mktsegment: String)
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Region(r_regionkey: Int, r_name: String)
  case class Document(doc_id: Long, text: String, lang: String,
                      source: String, n_chars: Long)
}
