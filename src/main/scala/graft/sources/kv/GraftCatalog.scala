package graft.sources.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing graft KV tables to Spark's V2 resolution —
  * `spark.table("graft.`root`.`...`.`my_kv`")` maps the identifier's
  * parts onto an absolute filesystem path. Doubles as the
  * FunctionCatalog providing the `bucket` transform function, which is
  * what lets Catalyst translate the scan's reported
  * `KeyGroupedPartitioning(bucket(n, key))` into a catalyst
  * partitioning it can verify distributions against (the reference's
  * equivalent is advertising its RegionPartitioner on the scan RDD,
  * HBaseRDD.scala:26 — same idea, catalog-mediated here).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "graft"
  private var root: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // spark.sql.catalog.<name>.root=/data/kv → `SELECT * FROM <name>.events`
    // resolves /data/kv/events; absolute-path identifiers keep working.
    root = Option(options.get("root")).map(_.stripSuffix("/"))
  }
  override def name(): String = catalogName

  /** With a root configured, root-relative resolution WINS: a table
    * named `tmp`/`home`/`data` must not be shadowed by an unrelated
    * absolute directory that happens to exist. Absolute paths still
    * resolve, but only when the identifier is not a table under the
    * root (the KVLayout existence check — a bare directory without KV
    * state does not count). */
  private def pathOf(ident: Identifier): String = {
    val parts = ident.namespace() :+ ident.name()
    val joined = parts.mkString("/")
    if (KVSource.isUriRoot(parts.head)) joined // a URI names its own root
    else root match {
      case Some(r) if KVLayout(s"$r/$joined").exists => s"$r/$joined"
      case Some(r) if !KVLayout("/" + joined).exists => s"$r/$joined"
      case _ => "/" + joined
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    if (!KVLayout(path).exists) throw new NoSuchTableException(ident)
    new KVBatchTable(path)
  }

  override def tableExists(ident: Identifier): Boolean =
    KVLayout(pathOf(ident)).exists

  /** SQL time travel: `VERSION AS OF v` pins the read to cells with
    * `ts <= v` — HBase's timestamped-scan semantics over the cell log
    * (version = the user-space cell timestamp, not a snapshot id;
    * combine with [[graft.write.KVTable.resolvedAsOf]] for the
    * latest-wins view as of v). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    if (!KVLayout(path).exists) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new UnsupportedOperationException(
        s"graft KV VERSION AS OF takes a cell-timestamp long, got '$version'")
    }
    new KVBatchTable(path, Some(v))
  }

  override def createTable(ident: Identifier, info: TableInfo): Table =
    throw new UnsupportedOperationException(
      "graft KV tables are created by KVTable.put/compact, not DDL")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft KV tables are created by KVTable.put/compact, not DDL")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft KV tables are immutable via DDL")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("graft KV tables cannot be renamed")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketUnbound
    else throw new NoSuchFunctionException(ident)
}

/** `bucket(numBuckets, key)` — the transform named by the scan's
  * KeyGroupedPartitioning. Bound result must equal the bucket id the
  * physical layout used, so it delegates to [[GraftBucket]] (Spark's
  * own murmur3+pmod). */
object GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): murmur3(key) pmod n — the compacted layout's bucket id"
  override def bind(inputType: StructType): BoundFunction = GraftBucketFunction
}

object GraftBucketFunction extends ScalarFunction[Int] {
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Int =
    GraftBucket.of(
      if (input.isNullAt(1)) null else java.lang.Long.valueOf(input.getLong(1)),
      input.getInt(0))
}

/** Entry point the engine's read path uses: registers the catalog (a
  * session conf, idempotent), enables V2 bucketing, and resolves the
  * KV path through it so the scan's reported partitioning is visible
  * to Catalyst. */
object KVSource {
  val CATALOG = "graft"

  /** Read option carrying a ts cutoff: the read is the latest-wins view
    * as of it, resolved inside the scan ([[KVResolvedScan]]). */
  val RESOLVED_AS_OF = "resolvedAsOf"

  /** `scheme:` or `scheme://authority` — a URI path's root, kept as the
    * identifier's first part. */
  private val UriRoot = "([a-zA-Z][a-zA-Z0-9+.-]*:(?://[^/]*)?)(/.*)?".r

  private[kv] def isUriRoot(part: String): Boolean =
    UriRoot.unapplySeq(part).exists(_(1) == null)

  /** Registers the catalog (idempotent) and returns the SQL identifier
    * for a KV path — usable anywhere SQL takes a table name, including
    * `MERGE INTO` / `DELETE FROM`. A local path becomes its absolute
    * path's segments; a URI (`s3a://b/t`, `file:/t`) keeps its root as
    * the first part, so [[GraftCatalog]] resolves the same URI back. */
  def sqlName(spark: SparkSession, path: String): String = {
    if (!spark.conf.getOption(s"spark.sql.catalog.$CATALOG").isDefined)
      spark.conf.set(s"spark.sql.catalog.$CATALOG", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val parts = path match {
      case UriRoot(uriRoot, rest) =>
        uriRoot +: Option(rest).toSeq.flatMap(_.split("/")).filter(_.nonEmpty)
      case _ => new java.io.File(path).getAbsolutePath
        .split("/").filter(_.nonEmpty).toSeq
    }
    CATALOG + "." + parts.map(s => s"`$s`").mkString(".")
  }

  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options).table(sqlName(spark, path))
}
