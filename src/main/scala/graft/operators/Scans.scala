package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{RepoPaths, Tables}

/** §2.1 scans / sources / sinks (SURVEY.md).
  *
  * The reference's scan machinery (region-parallel HBaseRDD with
  * server-side filter stacks, HBaseRDD.scala:30-89) maps to declarative
  * DataFrame reads: Catalyst pushes predicates + projections into the
  * parquet reader (`PushedFilters`/`ReadSchema`), and file splits give the
  * region-parallelism. At 100 TB the scan cost is bounded by (pruned
  * columns × matching row groups), not table size.
  */
object Scans {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S1: scan with pushed-down predicate + projection
    // (HBaseRDD.scala:39-56 — filters evaluate inside the storage layer).
    "s1_scan_pushdown" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .filter($"l_extendedprice" > 5000.0)
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // S2: raw full-table source (HBaseRDD.scala:100-104).
    "s2_raw_source" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d).orderBy($"r_regionkey")
    }),

    // S3: typed table view — Dataset[T] with case-class encoder
    // (HBaseTable.scala:55-65 `rdd(valueMapper)`).
    "s3_typed_view" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).as[graft.Models.Customer]
        .filter(_.c_acctbal > 0)
        .map(c => (c.c_custkey, c.c_name.toUpperCase))
        .toDF("c_custkey", "name_upper")
        .orderBy($"c_custkey")
    }),

    // S4: keyspace-restricted source (HBaseRDDKS.scala:29-45); keyspace ≙
    // a computed partition of the key domain, pruned at scan time.
    "s4_keyspace_source" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" % 4 === 2)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"event_type")
    }),

    // S5: snapshot sink/source round-trip (RDDUtils.scala:51-75 saved Kryo
    // blocks; here columnar parquet — splittable + predicate-pushable,
    // which Kryo SequenceFiles are not).
    "s5_snapshot_roundtrip" -> ((s, d) => {
      import s.implicits._
      val path = RepoPaths.target("graft_snapshots/s5")
      Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
        .write.mode("overwrite").parquet(path)
      // plain read: the write-and-read-back round trip is under test
      s.read.parquet(path).orderBy($"doc_id")
    }),

    // S6: export sink — render rows as CSV lines (HttpRDD.scala:14-54).
    "s6_export_lines" -> ((s, d) => {
      import s.implicits._
      Tables.region(s, d)
        .select(concat_ws(",", $"r_regionkey", $"r_name").as("line"))
        .orderBy($"line")
    }),

    // S7: stream source → aggregation (KafkaProxy.scala:12-33 socket
    // DStream, rebuilt as Structured Streaming over the events table;
    // Trigger.AvailableNow = bounded replay of the backlog).
    "s7_stream_agg" -> ((s, d) => {
      import s.implicits._
      // File-stream source needs a directory: stage the events table into
      // one (models the landing dir a stream ingests at scale) — built
      // once per dataset. Flat: a stream landing dir, no join key.
      val stageDir =
        RepoPaths.target(s"graft_stream/events_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(stageDir, s"s7 v1 $d")(
        Tables.events(s, d).write.mode("overwrite").parquet(stageDir))
      val schema = Tables.events(s, d).schema
      val src = s.readStream.schema(schema).parquet(stageDir)
      val agg = src.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      // complete-mode state here is O(#event types) — bounded — but the
      // sink must still be distributed: each micro-batch REPLACES the
      // parquet snapshot of the aggregate from the executors (the
      // refreshed-dashboard-table pattern); no driver-memory sink.
      val out = RepoPaths.target("graft_stream/s7_out")
      graft.sources.kv.GraftFs.delete(out, recursive = true)
      val q = agg.writeStream.outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // plain read: the stream sink's output files are under test
      s.read.parquet(out).orderBy($"event_type")
    }),

    // S11 (extra): z-order clustered bulk layout — the multi-column
    // upgrade of S9's key-sorted sink. Lineitem lands along the Morton
    // curve of (l_orderkey, l_partkey); the read-back filters on the
    // SECONDARY column only, which a key-sorted layout cannot prune
    // (ZOrderSpec measures the per-file stats-range shrink that makes
    // row-group pruning bite at scale).
    "s11_zorder_scan" -> ((s, d) => {
      import s.implicits._
      val path = RepoPaths.target("graft_bulk/s11")
      ZOrder.writeZOrdered(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", path, numFiles = 8)
      // plain read: the scan's pruning of the z-ordered files is under test
      s.read.parquet(path)
        .filter($"l_partkey" < 100)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
    }),

    // S12 (extra): CSV text-format source — the landing-zone format a
    // pipeline actually ingests. Staged once per dataset; read back
    // with an EXPLICIT schema (never inferSchema at scale — inference
    // is a full extra pass over the data) and aggregated, proving the
    // quoted/escaped round-trip of strings and the exact round-trip of
    // doubles against the parquet original.
    "s12_csv_source" -> ((s, d) => {
      import s.implicits._
      // flat: a format fixture — the operator under test IS the scan
      val dir =
        RepoPaths.target(s"graft_fmt/csv_customer_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s12 v1 $d")(
        Tables.customer(s, d).write.mode("overwrite")
          .option("header", "true").csv(dir))
      s.read.option("header", "true").schema(Tables.customer(s, d).schema)
        .csv(dir)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(round($"c_acctbal" * 100).cast("long")).as("cents"))
        .orderBy($"c_mktsegment")
    }),

    // S13 (extra): JSON source — the semi-structured sibling. Same
    // staging + explicit-schema discipline; the aggregate leans on the
    // JSON-encoded props STRING surviving the escape/unescape
    // round-trip byte-for-byte (total length check).
    "s13_json_source" -> ((s, d) => {
      import s.implicits._
      // flat: a format fixture — the operator under test IS the scan
      val dir =
        RepoPaths.target(s"graft_fmt/json_events_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s13 v1 $d")(
        Tables.events(s, d).write.mode("overwrite").json(dir))
      s.read.schema(Tables.events(s, d).schema).json(dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("cents"),
          sum(length($"props")).cast("long").as("props_len"))
        .orderBy($"event_type")
    }),

    // S14 (extra): ORC columnar source — the other columnar format a
    // warehouse migration reads (Spark's built-in ORC reader, same
    // pushdown/pruning surface as parquet). Staged once; the aggregate
    // proves exact double and key round-trips. The oracle runs on the
    // parquet original: DuckDB has no ORC reader, so equality here IS
    // the format-fidelity check.
    "s14_orc_source" -> ((s, d) => {
      import s.implicits._
      // flat: a format fixture — the operator under test IS the scan
      val dir =
        RepoPaths.target(s"graft_fmt/orc_orders_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s14 v1 $d")(
        Tables.orders(s, d).write.mode("overwrite").orc(dir))
      s.read.schema(Tables.orders(s, d).schema).orc(dir)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
          sum($"o_custkey").as("custsum"))
        .orderBy($"o_orderstatus")
    }),

    // S15 (extra): Hive-partitioned layout + DYNAMIC partition pruning
    // — the partition-elimination path a 100-TB date/status-partitioned
    // lake lives on. The fact table is staged partitionBy(status); the
    // probe dimension is decided at RUNTIME (statuses holding ≤ a third
    // of rows — an aggregate comparison, not a static predicate), so
    // Catalyst can only prune via DPP: the dim subquery's result
    // becomes a partition filter on the fact scan and non-matching
    // partitions are never read (PlanSpec pins dynamicpruning in the
    // scan and counts the partitions actually read).
    "s15_partitioned_scan" -> ((s, d) => {
      import s.implicits._
      // flat facade, but the build writes its OWN layout: hive
      // partitionBy(status) — the partition dirs ARE what s15 tests
      val dir =
        RepoPaths.target(s"graft_fmt/part_orders_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s15 v1 $d")(
        Tables.orders(s, d).write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dir))
      // the total is ONE scalar (bounded collect) — it must reach the
      // dim as a literal Filter, not a join condition, for Catalyst's
      // PartitionPruning rule to see a selective predicate
      val tot = Tables.orders(s, d).count()
      val dim = Tables.orders(s, d).groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 3 <= lit(tot))
        .select($"o_orderstatus")
      // dim is the broadcast side BY HINT: at test scale the planner
      // would otherwise broadcast the (tiny) fact itself, and DPP only
      // prunes the probe side; at 100 TB this is the only shape anyway
      // plain read: partition discovery and pruning are under test
      s.read.parquet(dir).join(broadcast(dim), "o_orderstatus")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
        .orderBy($"o_orderstatus")
    }),

    // S16 (extra): SCHEMA EVOLUTION on a landing zone — a long-lived
    // 100-TB table's files NEVER share one schema: early batches
    // predate later columns. Staged as two generations (gen1 without
    // o_orderstatus, gen2 with it), read back with mergeSchema; the
    // pre-evolution rows surface the added column as NULL and the
    // aggregate proves both generations' rows and the evolved column
    // survive. (mergeSchema costs a footer pass per file — at scale
    // pin the merged schema in a catalog and pass it explicitly; the
    // read semantics are identical.)
    "s16_schema_evolution" -> ((s, d) => {
      import s.implicits._
      // flat: two-generation landing-zone fixture — the mixed-schema
      // file LAYOUT is the thing under test
      val dir =
        RepoPaths.target(s"graft_fmt/evo_orders_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s16 v1 $d") {
        val o = Tables.orders(s, d)
        o.filter($"o_orderkey" % 2 === 0)
          .select($"o_orderkey", $"o_totalprice")
          .write.mode("overwrite").parquet(s"$dir/data/gen=1")
        o.filter($"o_orderkey" % 2 =!= 0)
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
          .write.mode("overwrite").parquet(s"$dir/data/gen=2")
      }
      // plain read: merging the two generations' schemas is under test
      s.read.option("mergeSchema", "true").parquet(s"$dir/data")
        .groupBy(coalesce($"o_orderstatus", lit("__pre_evolution__"))
          .as("status"))
        .agg(count(lit(1)).as("n"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
        .orderBy($"status")
    }),

    // S18 (extra): raw TEXT-LINE source (format "text") — the
    // unstructured-log front door: one row per line, schema = a single
    // string, parsing is the reader's job (here a codegen'd split).
    // Distinct from s12's CSV source, which delegates quoting/escaping
    // to the format; raw logs have no such contract. Staged once per
    // dataset; the parse round-trip is the oracle check.
    "s18_text_source" -> ((s, d) => {
      import s.implicits._
      // flat: a format fixture — the operator under test IS the scan
      val dir =
        RepoPaths.target(s"graft_fmt/txt_nation_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s18 v1 $d")(
        Tables.nation(s, d)
          .select(concat_ws("|", $"n_nationkey", $"n_regionkey", $"n_name")
            .as("value"))
          .coalesce(1).write.mode("overwrite").text(dir))
      s.read.text(dir)
        .select(split($"value", "\\|").as("f"))
        .select(element_at($"f", 1).cast("long").as("n_nationkey"),
          element_at($"f", 2).cast("long").as("n_regionkey"),
          element_at($"f", 3).as("n_name"))
        .orderBy($"n_nationkey")
    }),

    // S17 (extra): whole-file BINARY source (format "binaryFile") —
    // the ingestion front door for multimodal blobs: images/audio land
    // as files, not rows, and this source turns a directory of them
    // into (path, length, content) rows that feed llm/Multimodal's
    // decode surface. Stages the first 5 documents as .bin fixtures
    // once per dataset (driver-side, bounded by the literal doc_id<5
    // predicate) and proves the byte-exact round-trip via length + md5.
    // At scale binaryFile parallelizes per file and prunes via
    // pathGlobFilter before any read — which also keeps the staging
    // marker out of the scan here.
    "s17_binary_source" -> ((s, d) => {
      import s.implicits._
      // flat: a directory of raw .bin blobs IS the source under test
      val dir =
        RepoPaths.target(s"graft_fmt/bin_docs_${graft.Staging.slug(d)}")
      graft.Staging.ensureFlat(dir, s"s17 v1 $d") {
        val rows = Tables.documents(s, d).filter($"doc_id" < 5)
          .select($"doc_id", $"text").collect()
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        rows.foreach { r =>
          java.nio.file.Files.write(p.resolve(f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          : Unit
        }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(
          regexp_extract($"path", "doc_(\\d+)\\.bin", 1).cast("long")
            .as("doc_id"),
          $"length".as("n_bytes"),
          md5($"content").as("content_md5"))
        .orderBy($"doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "s11_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_partkey < 100
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity"""
        .stripMargin,
    "s1_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_extendedprice > 5000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s2_raw_source" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "s3_typed_view" ->
      """SELECT c_custkey, upper(c_name) AS name_upper FROM customer
        |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin,
    "s4_keyspace_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM events WHERE user_id % 4 = 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s5_snapshot_roundtrip" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "s17_binary_source" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
        |         AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents WHERE doc_id < 5 ORDER BY doc_id""".stripMargin,
    "s18_text_source" ->
      """SELECT n_nationkey, n_regionkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "s6_export_lines" ->
      """SELECT r_regionkey || ',' || r_name AS line FROM region
        |ORDER BY line""".stripMargin,
    "s7_stream_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s12_csv_source" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "s13_json_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       CAST(sum(len(props)) AS BIGINT) AS props_len
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "s14_orc_source" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       CAST(sum(o_custkey) AS BIGINT) AS custsum
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "s15_partitioned_scan" ->
      """WITH tot AS (SELECT count(*) AS t FROM orders),
        |dim AS (SELECT o_orderstatus FROM orders CROSS JOIN tot
        |        GROUP BY o_orderstatus, t HAVING count(*) * 3 <= t)
        |SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders o JOIN dim USING (o_orderstatus)
        |GROUP BY o.o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "s16_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '__pre_evolution__'
        |            ELSE o_orderstatus END AS status,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin
  )
}
