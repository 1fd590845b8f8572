package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The DataFrame statement of the KV read semantics, kept beside the
  * specs as the reference the engine's one resolve
  * ([[graft.sources.kv.KVResolveKernel]]: every resolved read, MERGE,
  * the graft-cdc stream, `changeLog` and every compaction rewrite) is
  * compared against — the two must agree cell-for-cell. */
object KVReference {
  /** HBase read semantics: per (key,family,qualifier) the latest
    * non-tombstone cell wins, unless masked by a row/family/cell
    * tombstone at or above its ts (maxVersions=1 + delete markers).
    *
    * One window pass over the cells: every window is partitioned by a
    * prefix of (key, family, qualifier) and ordered by the rest of one
    * shared order, so the plan is a single hashpartitioning(key)
    * Exchange (none on a bucketed or key-grouped scan) and one Sort.
    * The masks are whole-partition maxima. `partitionBy` groups NULL
    * family/qualifier values as equal, so a NULL is a real cell
    * coordinate with null-safe (<=>) matching. Any tombstone marker
    * that is not 'row'/'family' masks at cell granularity, exactly like
    * the kernel. */
  def resolve(cells: DataFrame): DataFrame = {
    // live cells (NULL tomb) before tombstones, then ts desc + value
    // desc: a TOTAL order within the version group, so two cells written
    // at the same (key,family,qualifier,ts) resolve to a stable winner
    // across runs (the reference's KeyValueOrdering is total for the
    // same reason, HBaseTable.scala:219-232). Plain columns only, so all
    // four windows share one sort.
    val order = Seq(col("family"), col("qualifier"), col("tomb").asc_nulls_first,
      col("ts").desc, col("value").desc_nulls_last)
    def over(depth: Int) = Window.partitionBy(col("key") +: order.take(depth): _*)
      .orderBy(order.drop(depth): _*)
    def whole(depth: Int) =
      over(depth).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def maskTs(tomb: Column, depth: Int) =
      coalesce(max(when(tomb, col("ts"))).over(whole(depth)), lit(Long.MinValue))
    val t = col("tomb")
    cells
      .withColumn("row_del_ts", maskTs(t === "row", 0))
      .withColumn("fam_del_ts", maskTs(t === "family", 1))
      .withColumn("cell_del_ts", maskTs(t =!= "row" && t =!= "family", 2))
      .withColumn("rn", row_number().over(over(2)))
      .filter(col("rn") === 1 && t.isNull && col("ts") > col("row_del_ts") &&
        col("ts") > col("fam_del_ts") && col("ts") > col("cell_del_ts"))
      .select(col("key"), col("family"), col("qualifier"), col("value"), col("ts"))
  }
}

/** The naive in-memory model of HBase latest-wins + tombstone masking
  * the KV specs hold the engine to, over ops whose cell values are
  * `v<key>_<ts>`, and the loader that writes ops to a table. */
object KVModel {
  /** (key, family, qualifier, ts, tomb), the value implied. */
  case class Op(key: Long, family: String, qualifier: String,
                ts: Long, tomb: Option[String])

  type Cell = (Long, String, String, String, Long)

  def model(ops: Seq[Op]): Set[Cell] = {
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

  /** Writes `batch` to `t`: one put of its versions, one delete per
    * tombstone ts. */
  def load(t: graft.write.KVTable, batch: Seq[Op]): Unit = {
    import t.spark.implicits._
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
}
