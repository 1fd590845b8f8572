package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kv.{GraftBucket, KVScan}
import graft.write.KVTable

/** DSv2 KV source — the structural property the source exists for:
  * with a NON-EMPTY log on top of a compacted table (the case a
  * DataFrame union can only express by re-shuffling the whole table),
  * the per-bucket merged scan reports KeyGroupedPartitioning(bucket(n,
  * key)) and the resolve window / key joins plan with zero shuffle
  * Exchange. Reference counterpart: region-partitioned scans
  * advertising their partitioner (HBaseRDD.scala:18-91, :26).
  */
class KVSourceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def mkTable(name: String, qual: String, tsBase: Long): KVTable = {
    val t = KVTable(spark, targetPath(s"graft_kv_test/dsv2_$name"), wipe = true)
    val base = Tables.orders(spark, sf)
    t.put(base.select($"o_orderkey".as("key"), lit("f").as("family"),
      lit(qual).as("qualifier"), $"o_orderstatus".as("value"),
      lit(tsBase).as("ts")))
    t.compact()
    // post-compaction append (non-empty log): overwrite a subset at a
    // later ts so latest-wins actually has to merge across the legs
    t.put(base.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey".as("key"), lit("f").as("family"),
        lit(qual).as("qualifier"), lit("X").as("value"),
        lit(tsBase + 1).as("ts")))
    t
  }

  test("resolve over compacted+log merge plans with zero shuffle Exchange") {
    val t = mkTable("a", "st", 1L)
    val resolved = t.resolved()
    val plan = resolved.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"merged KV read still shuffles:\n${plan.take(3000)}")
    // correctness: latest-wins across the two legs
    val got = resolved.select($"key", $"value").as[(Long, String)].collect().toMap
    val base = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderstatus").as[(Long, String)].collect().toMap
    assert(got.size === base.size)
    base.foreach { case (k, v) =>
      val exp = if (k % 10 == 0) "X" else v
      assert(got(k) === exp, s"key $k")
    }
  }

  test("two KV tables with live logs storage-partition-join with zero Exchange") {
    val a = mkTable("b1", "st", 1L)
    val b = mkTable("b2", "pr", 5L)
    val joined = a.resolved().select($"key", $"value".as("status"))
      .join(b.resolved().select($"key", $"value".as("price")), Seq("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"KV-KV join still shuffles:\n${plan.take(3000)}")
    assert(joined.count() === Tables.orders(spark, sf).count())
  }

  test("filters are pushed into the scan and key equality prunes buckets") {
    val t = mkTable("c", "st", 1L)
    val someKey = Tables.orders(spark, sf)
      .filter($"o_orderkey" % 10 =!= 0)
      .select($"o_orderkey").as[Long].head()
    val q = t.cells.filter($"key" === someKey && $"family" === "f")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a DSv2 BatchScan")
    val kv = scans.head.scan.asInstanceOf[KVScan]
    assert(kv.pushed.nonEmpty, "no filters pushed into the KV scan")
    // bucket pruning: only the key's bucket is planned
    val parts = kv.planInputPartitions()
    assert(parts.length === 1,
      s"expected 1 pruned bucket partition, got ${parts.length}")
    // and the read is still right
    val rows = q.collect()
    assert(rows.length === 1 && rows.head.getLong(0) === someKey)
  }

  test("column pruning reaches the scan's read schema") {
    val t = mkTable("d", "st", 1L)
    val q = t.cells.select($"key", $"ts")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val kv = scans.head.scan.asInstanceOf[KVScan]
    assert(kv.readSchema().fieldNames.toSet === Set("key", "ts"),
      s"scan reads ${kv.readSchema().fieldNames.mkString(",")}")
    assert(q.count() === Tables.orders(spark, sf).count() +
      Tables.orders(spark, sf).filter($"o_orderkey" % 10 === 0).count())
  }

  test("a log-only table reads as size-packed splits, not one task per file") {
    val t = KVTable(spark, targetPath("graft_kv_test/dsv2_logsplits"), wipe = true)
    (1L to 12L).foreach(k => t.put(Seq((k, "F", "q", s"v$k", 1L))
      .toDF("key", "family", "qualifier", "value", "ts")))
    assert(graft.sources.kv.KVLayout(t.path).logFiles.size === 12)
    val kv = t.cells.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[KVScan] }.head
    val parts = kv.planInputPartitions()
    assert(parts.length <= spark.sparkContext.defaultParallelism,
      s"${parts.length} splits for 12 tiny files")
    assert(t.cells.select($"key").as[Long].collect().sorted.toSeq === (1L to 12L))
  }

  test("dsv2 merge agrees with the union fallback bit-for-bit") {
    val t = mkTable("e", "st", 1L)
    val viaDsv2 = t.resolved().orderBy($"key", $"family", $"qualifier").collect()
    // reference: the DataFrame union of plain parquet reads of the
    // current generation's files and the log's
    val layout = graft.sources.kv.KVLayout(t.path)
    def plain(files: Seq[String]) =
      spark.read.schema(KVTable.CELL_SCHEMA_DDL).parquet(files: _*)
    val viaUnion = KVReference.resolve(plain(layout.compactedFiles).unionByName(plain(layout.logFiles)))
      .orderBy($"key", $"family", $"qualifier").collect()
    assert(viaDsv2.toSeq === viaUnion.toSeq)
  }

  test("range predicates translate to parquet row-group filters and read right") {
    import org.apache.spark.sql.sources._
    import graft.sources.kv.KVParquetFilters
    assert(KVParquetFilters.predicate(Array(
      GreaterThan("ts", java.lang.Long.valueOf(1L)), EqualTo("family", "f"),
      In("key", Array[Any](java.lang.Long.valueOf(1L),
        java.lang.Long.valueOf(2L))))).isDefined)
    // untranslatable conjuncts drop without poisoning the rest
    assert(KVParquetFilters.predicate(Array(
      StringContains("value", "x"),
      LessThanOrEqual("ts", java.lang.Long.valueOf(5L)))).isDefined)
    // an Or with an untranslatable side must NOT partially translate
    assert(KVParquetFilters.predicate(Array(
      Or(StringContains("value", "x"),
        EqualTo("ts", java.lang.Long.valueOf(5L))))).isEmpty)
    // a read through the row-group-pruned path stays correct
    val t = mkTable("f", "st", 1L)
    val cnt = t.cells.filter($"ts" === 2L).count()
    assert(cnt ===
      Tables.orders(spark, sf).filter($"o_orderkey" % 10 === 0).count())
  }

  test("runtime In-filter prunes to the keys' buckets (multi-get path)") {
    import org.apache.spark.sql.sources.In
    val t = mkTable("h", "st", 1L)
    val q = t.cells
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    val kv = scans.head.scan.asInstanceOf[KVScan]
    val all = kv.planInputPartitions().length
    assert(all === 8, s"expected all 8 bucket partitions, got $all")
    // a DPP-style runtime filter with two keys reaches at most 2 buckets
    kv.filter(Array[org.apache.spark.sql.sources.Filter](
      In("key", Array[Any](java.lang.Long.valueOf(1L),
        java.lang.Long.valueOf(2L)))))
    val pruned = kv.planInputPartitions().length
    assert(pruned <= 2 && pruned >= 1,
      s"runtime filter left $pruned partitions")
  }

  test("VERSION AS OF pins the read to a cell-timestamp cutoff") {
    val t = mkTable("g", "st", 1L)   // ts=1 compacted, ts=2 overlay in log
    val ident = new java.io.File(targetPath("graft_kv_test/dsv2_g"))
      .getAbsolutePath.split("/").filter(_.nonEmpty)
      .map(s => s"`$s`").mkString(".")
    // SQL time travel over the DSv2 table: v=1 sees no overlay cells
    val asOf1 = spark.sql(s"SELECT * FROM graft.$ident VERSION AS OF 1")
    assert(asOf1.filter($"ts" > 1).count() === 0)
    assert(asOf1.count() === Tables.orders(spark, sf).count())
    // engine-level view: as-of-1 resolve returns pre-overlay values
    val got = t.resolvedAsOf(1L).select($"key", $"value")
      .as[(Long, String)].collect().toMap
    assert(!got.values.exists(_ == "X"), "overlay leaked into as-of-1 view")
    // and the live view still sees the overlay
    assert(t.resolved().filter($"value" === "X").count() ===
      Tables.orders(spark, sf).filter($"o_orderkey" % 10 === 0).count())
  }

  test("catalog root option gives friendly table names") {
    mkTable("r", "st", 1L)
    spark.conf.set("spark.sql.catalog.graftr",
      classOf[graft.sources.kv.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftr.root",
      new java.io.File(targetPath("graft_kv_test")).getAbsolutePath)
    val df = spark.table("graftr.dsv2_r")
    assert(df.count() > 0)
    assert(spark.sql("SELECT count(*) FROM graftr.dsv2_r WHERE family = 'f'")
      .head().getLong(0) === df.count())
  }

  test("SQL INSERT INTO a catalog table appends to the log and resolves") {
    val t = mkTable("ins", "st", 1L)
    spark.conf.set("spark.sql.catalog.grafti",
      classOf[graft.sources.kv.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafti.root",
      new java.io.File(targetPath("graft_kv_test")).getAbsolutePath)
    val before = t.resolved().count()
    // an overwrite of key 1 at a later ts, and a brand-new key —
    // through SQL, not the library API
    spark.sql("""INSERT INTO grafti.dsv2_ins VALUES
      (1, 'f', 'st', 'SQL', 99, CAST(NULL AS STRING)),
      (900000001, 'f', 'st', 'NEW', 99, CAST(NULL AS STRING))""")
    val after = t.resolved()
    assert(after.count() === before + 1, "one new key must appear")
    val got = after.filter($"key".isin(1L, 900000001L))
      .select($"key", $"value").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "SQL", 900000001L -> "NEW"),
      "latest-wins must see the SQL-inserted cells")
    // round-trip through the same catalog identifier too
    assert(spark.sql(
      "SELECT count(*) FROM grafti.dsv2_ins WHERE value = 'SQL'")
      .head().getLong(0) >= 1L)
  }

  test("merged read is columnar; VERSION AS OF stays row-wise exact") {
    mkTable("vec", "st", 1L)
    // the merged read plans columnar (vectorized compacted decode +
    // batched log leg) — Spark inserts ColumnarToRow above the scan
    val plan = graft.sources.kv.KVSource
      .read(spark, targetPath("graft_kv_test/dsv2_vec"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"merged KV scan no longer columnar:\n${plan.take(3000)}")
    // time travel carries a scan-internal ts cutoff nothing re-checks,
    // so the columnar reader must gate rows on it exactly. Fixture: the
    // compacted file and the log file EACH hold ts 1 and ts 3 in one
    // row group, which row-group pruning alone cannot split
    val path = targetPath("graft_kv_test/dsv2_vec_tt")
    val t = KVTable(spark, path, wipe = true)
    def cells(rows: (Long, String, Long)*) =
      rows.toDF("key", "value", "ts")
        .select($"key", lit("f").as("family"), lit("q").as("qualifier"),
          $"value", $"ts").coalesce(1)
    t.put(cells((1L, "c1", 1L), (2L, "c3", 3L)))
    t.compact(numBuckets = 1)
    t.put(cells((3L, "l1", 1L), (4L, "l3", 3L)))
    val layout = graft.sources.kv.KVLayout(path)
    val files = layout.compactedByBucket.values.flatten.toSeq ++ layout.logFiles
    assert(layout.compactedByBucket.values.flatten.size === 1 &&
      layout.logFiles.size === 1)
    files.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), graft.sources.kv.GraftFs.hadoopConf))
      try {
        val groups = r.getFooter.getBlocks
        assert(groups.size === 1, s"$f: ${groups.size} row groups")
        val st = groups.get(0).getColumns.toArray.toSeq
          .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
          .find(_.getPath.toDotString == "ts").get.getStatistics
        val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
        assert(lo === 1L && hi === 3L, s"$f: ts in [$lo, $hi]")
      } finally r.close()
    }
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    val tt = spark.sql(s"SELECT key, value, ts FROM $ident VERSION AS OF 2")
    assert(tt.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "time-travel scan is no longer columnar")
    assert(tt.as[(Long, String, Long)].collect().toSet ===
      Set((1L, "c1", 1L), (3L, "l1", 1L)))
    assert(spark.sql(s"SELECT count(*) FROM $ident VERSION AS OF 2")
      .head().getLong(0) === 2L)
  }

  test("SQL MERGE INTO / DELETE round-trip drives latest-wins + tombstones") {
    val path = targetPath("graft_kv_test/dsv2_merge")
    val t = KVTable(spark, path, wipe = true)
    val cust = Tables.customer(spark, sf)
    t.put(cust.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    // a post-compaction append so the row-level scan has to resolve
    // across BOTH legs: key%7==0 overwritten at ts=2
    t.put(cust.filter($"c_custkey" % 7 === 0)
      .select($"c_custkey".as("key"), lit("F").as("family"),
        lit("bal").as("qualifier"), lit("777").as("value"), lit(2L).as("ts")))
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)

    // source: matched rows (update to cents+111) + unmatched (insert)
    cust.select(($"c_custkey").as("key"),
        (round($"c_acctbal" * 100).cast("long") + 111).cast("string").as("value"))
      .filter($"key" % 5 === 0)
      .unionByName(cust.select(($"c_custkey" + 1000000).as("key"),
        lit("42").as("value")).filter($"key" % 5 === 1))
      .createOrReplaceTempView("kvspec_updates")
    spark.sql(
      s"""MERGE INTO $ident t USING kvspec_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'bal', u.value, 3, null)""".stripMargin)
    spark.sql(s"DELETE FROM $ident WHERE key % 10 = 3")

    val got = t.resolved().select($"key", $"value".cast("long"))
      .as[(Long, Long)].collect().toMap
    val base = cust.select($"c_custkey", round($"c_acctbal" * 100).cast("long"))
      .as[(Long, Long)].collect().toMap
    base.foreach { case (k, cents) =>
      if (k % 10 == 3) assert(!got.contains(k), s"key $k not deleted")
      else if (k % 5 == 0) assert(got(k) === cents + 111, s"key $k not updated")
      else if (k % 7 == 0) assert(got(k) === 777L, s"key $k lost its log overwrite")
      else assert(got(k) === cents, s"key $k changed unexpectedly")
    }
    base.keys.filter(k => (k + 1000000) % 5 == 1).foreach { k0 =>
      val k = k0 + 1000000
      if (k % 10 == 3) assert(!got.contains(k))
      else assert(got(k) === 42L, s"inserted key $k missing")
    }
    assert(got.size ===
      base.count { case (k, _) => k % 10 != 3 } +
      base.keys.count(k => (k + 1000000) % 5 == 1 && (k + 1000000) % 10 != 3))
  }

  test("UPDATE without raising ts auto-bumps; ts below live fails fast") {
    val path = targetPath("graft_kv_test/dsv2_tsbump")
    val t = KVTable(spark, path, wipe = true)
    t.put(Seq((1L, "F", "v", "old", 5L)).toDF(
      "key", "family", "qualifier", "value", "ts")
      .withColumn("ts", $"ts".cast("long")))
    t.compact()
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    // assignment leaves ts at the scanned (live) value → the writer
    // auto-bumps to live+1 so latest-wins makes the update take effect
    // (ADVICE r9: it used to append a tying version that could lose)
    spark.sql(s"UPDATE $ident SET value = 'new' WHERE key = 1")
    val live = t.resolved().select($"value", $"ts").as[(String, Long)].collect()
    assert(live.toSeq === Seq(("new", 6L)))
    // explicitly writing BELOW the live version through UPDATE is a bug
    // the writer rejects (the versioned put API is how history lands)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $ident SET value = 'older', ts = 2 WHERE key = 1")
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("below the live version")))
    assert(t.resolved().select($"value").as[String].collect().toSeq
      === Seq("new"))
    // live ts = Long.MaxValue: the auto-bump cannot go higher — it
    // must fail fast, never wrap to Long.MinValue and silently lose
    t.put(Seq((2L, "F", "v", "forever", Long.MaxValue)).toDF(
      "key", "family", "qualifier", "value", "ts"))
    val e2 = intercept[Exception] {
      spark.sql(s"UPDATE $ident SET value = 'nope' WHERE key = 2")
    }
    assert(rootMessages(e2).exists(_.contains("Long.MaxValue")))
    assert(t.resolved().filter($"key" === 2)
      .select($"value").as[String].collect().toSeq === Seq("forever"))
  }

  test("copy-on-write MERGE/DELETE rewrites a fresh generation") {
    val path = targetPath("graft_kv_test/dsv2_cow")
    val t = KVTable(spark, path, wipe = true)
    val cust = Tables.customer(spark, sf)
    t.put(cust.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    // a post-compaction append the CoW scan must fold in (and whose log
    // file the commit must retire)
    t.put(cust.filter($"c_custkey" % 7 === 0)
      .select($"c_custkey".as("key"), lit("F").as("family"),
        lit("bal").as("qualifier"), lit("777").as("value"), lit(2L).as("ts")))
    val genBefore = graft.sources.kv.KVLayout(path).generation
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    cust.select($"c_custkey".as("key"),
        (round($"c_acctbal" * 100).cast("long") + 111).cast("string").as("value"))
      .filter($"key" % 5 === 0)
      .unionByName(cust.select(($"c_custkey" + 1000000).as("key"),
        lit("42").as("value")).filter($"key" % 5 === 1))
      .createOrReplaceTempView("kvspec_cow_updates")
    val prevRowLevel = spark.conf.getOption("spark.graft.kv.rowlevel")
    spark.conf.set("spark.graft.kv.rowlevel", "cow")
    try {
      spark.sql(
        s"""MERGE INTO $ident t USING kvspec_cow_updates u
           |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3
           |WHEN NOT MATCHED THEN
           |  INSERT (key, family, qualifier, value, ts, tomb)
           |  VALUES (u.key, 'F', 'bal', u.value, 3, null)""".stripMargin)
      spark.sql(s"DELETE FROM $ident WHERE key % 10 = 3")
    } finally prevRowLevel match {
      case Some(v) => spark.conf.set("spark.graft.kv.rowlevel", v)
      case None => spark.conf.unset("spark.graft.kv.rowlevel")
    }

    // two CoW ops = two commit records, no delta/tombstones anywhere
    val genAfter = graft.sources.kv.KVLayout(path).generation
    assert(genAfter === genBefore + 2)
    val t2 = KVTable(spark, path)
    assert(t2.cells.filter($"tomb".isNotNull).count() === 0,
      "CoW must not write tombstones")
    assert(graft.sources.kv.KVLayout(path).logFiles.isEmpty,
      "CoW commit must drop the consumed log files")

    val got = t2.resolved().select($"key", $"value".cast("long"))
      .as[(Long, Long)].collect().toMap
    val base = cust.select($"c_custkey", round($"c_acctbal" * 100).cast("long"))
      .as[(Long, Long)].collect().toMap
    base.foreach { case (k, cents) =>
      if (k % 10 == 3) assert(!got.contains(k), s"key $k not deleted")
      else if (k % 5 == 0) assert(got(k) === cents + 111, s"key $k not updated")
      else if (k % 7 == 0) assert(got(k) === 777L, s"key $k lost its log overwrite")
      else assert(got(k) === cents, s"key $k changed unexpectedly")
    }
    base.keys.filter(k => (k + 1000000) % 5 == 1).foreach { k0 =>
      val k = k0 + 1000000
      if (k % 10 == 3) assert(!got.contains(k))
      else assert(got(k) === 42L, s"inserted key $k missing")
    }
    // the rewritten generation still reads bucketed: zero-Exchange key
    // aggregation over the path-addressed scan
    val agg = graft.sources.kv.KVSource.read(spark, t2.path).groupBy($"key").count()
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"bucketed layout lost: ${agg.queryExecution.executedPlan}")
  }

  test("group-filtered CoW: a 2-bucket MERGE rewrites exactly those buckets") {
    import graft.sources.kv.{GraftBucket, KVLayout}
    val path = targetPath("graft_kv_test/dsv2_cow_group")
    val t = KVTable(spark, path, wipe = true)
    val cust = Tables.customer(spark, sf)
    t.put(cust.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    val keys = cust.select($"c_custkey").as[Long].collect().toSeq.sorted
    val byBucket = keys.groupBy(k => GraftBucket.of(k, 8))
    assert(byBucket.size === 8, "need every bucket populated")
    val bs = byBucket.keys.toList.sorted
    val (bA, bB, bC) = (bs(0), bs(1), bs(2))
    val (kA, kB, kC) = (byBucket(bA).head, byBucket(bB).head, byBucket(bC).head)
    // a pending log row in a bucket the MERGE does NOT touch — the
    // group-filtered commit must carry it through the log rewrite
    t.put(Seq((kC, "F", "bal", "9999", 2L)).toDF(
      "key", "family", "qualifier", "value", "ts"))
    val before = KVLayout(path)
    assert(before.compactedByBucket.size === 8)
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    Seq((kA, "111111"), (kB, "222222")).toDF("key", "value")
      .createOrReplaceTempView("kvspec_cowgroup_updates")
    val prev = spark.conf.getOption("spark.graft.kv.rowlevel")
    spark.conf.set("spark.graft.kv.rowlevel", "cow")
    try {
      spark.sql(
        s"""MERGE INTO $ident t USING kvspec_cowgroup_updates u
           |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3""".stripMargin)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.kv.rowlevel", v)
      case None => spark.conf.unset("spark.graft.kv.rowlevel")
    }
    val after = KVLayout(path)
    assert(after.generation === before.generation + 1)
    // files-level proof: exactly the two touched buckets' files are
    // fresh; the other six are the same files, still live, not copies
    val fresh = (0 until 8).filter(b =>
      after.compactedByBucket(b) != before.compactedByBucket(b)).toSet
    assert(fresh === Set(bA, bB), s"rewrote buckets $fresh, expected {$bA, $bB}")
    // the untouched bucket's pending row is re-appended in that record
    assert(after.logFiles.size === 1 && !before.logFiles.contains(after.logFiles.head))
    // semantics: updates landed, untouched bucket kept its PENDING log
    // row (the filtered log rewrite), everything else intact
    val got = t.resolved().select($"key", $"value".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got(kA) === 111111L && got(kB) === 222222L)
    assert(got(kC) === 9999L, "untouched bucket lost its pending log row")
    val base = cust.select($"c_custkey", round($"c_acctbal" * 100).cast("long"))
      .as[(Long, Long)].collect().toMap
    base.foreach { case (k, cents) =>
      if (k != kA && k != kB && k != kC)
        assert(got(k) === cents, s"key $k changed unexpectedly")
    }
  }

  test("rowlevel=auto: small MERGE plans delta, near-full MERGE plans CoW") {
    import graft.sources.kv.{KVCommit, KVLayout}
    val path = targetPath("graft_kv_test/dsv2_auto")
    val t = KVTable(spark, path, wipe = true)
    val cust = Tables.customer(spark, sf)
    t.put(cust.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    val prev = spark.conf.getOption("spark.graft.kv.rowlevel")
    spark.conf.set("spark.graft.kv.rowlevel", "auto")
    try {
      // SMALL command: one key = 1/8 buckets touched → MoR (delta
      // append: generation unchanged, a new log file carries the delta)
      val k = cust.select(min($"c_custkey")).as[Long].head()
      val compactedBefore = KVLayout(path).compactedFiles
      val small = Seq((k, "111")).toDF("key", "value")
      small.createOrReplaceTempView("kvspec_auto_small")
      val (_, smallMode) = t.withAutoRowLevel(small) {
        spark.sql(
          s"""MERGE INTO $ident t USING kvspec_auto_small u
             |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
             |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2""".stripMargin)
      }
      assert(smallMode === "delta")
      assert(KVLayout(path).compactedFiles === compactedBefore,
        "small MERGE must not rewrite a generation")
      assert(KVLayout(path).logFiles.nonEmpty,
        "small MERGE must land as a delta append")
      // NEAR-FULL command: every key → all buckets touched → CoW
      // (fresh generation, consumed log retired)
      val big = cust.select($"c_custkey".as("key"),
        lit("999").as("value"))
      big.createOrReplaceTempView("kvspec_auto_big")
      val (_, bigMode) = t.withAutoRowLevel(big) {
        spark.sql(
          s"""MERGE INTO $ident t USING kvspec_auto_big u
             |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
             |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3""".stripMargin)
      }
      assert(bigMode === "cow")
      val afterBig = KVLayout(path)
      assert(KVCommit.read(path, afterBig.generation).rewrite,
        "near-full MERGE must land as a CoW rewrite record")
      assert(afterBig.logFiles.isEmpty,
        "CoW commit must have dropped the consumed log files")
      // the conf is back to auto, and the state reflects both commands
      assert(spark.conf.get("spark.graft.kv.rowlevel") === "auto")
      val vals = t.resolved().select($"value").distinct()
        .as[String].collect().toSet
      assert(vals === Set("999"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.kv.rowlevel", v)
      case None => spark.conf.unset("spark.graft.kv.rowlevel")
    }
  }

  test("MERGE with NOT MATCHED BY SOURCE syncs the table to the source") {
    // the sync-table pattern: rows absent from the source are deleted,
    // matched rows updated — one MERGE makes the KV state mirror the
    // source exactly (all three arms through the delta write)
    val path = targetPath("graft_kv_test/dsv2_sync")
    val t = KVTable(spark, path, wipe = true)
    val cust = Tables.customer(spark, sf)
    t.put(cust.select($"c_custkey".as("key"), lit("F").as("family"),
      lit("v").as("qualifier"), lit("old").as("value"), lit(1L).as("ts")))
    t.compact()
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    // source = even keys only, plus one brand-new key
    cust.filter($"c_custkey" % 2 === 0)
      .select($"c_custkey".as("key"), lit("new").as("value"))
      .unionByName(Seq((999999L, "ins")).toDF("key", "value"))
      .createOrReplaceTempView("kvspec_sync_src")
    spark.sql(
      s"""MERGE INTO $ident t USING kvspec_sync_src u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'v'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'v', u.value, 2, null)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = t.resolved().select($"key", $"value")
      .as[(Long, String)].collect().toMap
    val evens = cust.filter($"c_custkey" % 2 === 0)
      .select($"c_custkey").as[Long].collect().toSet
    assert(got.size === evens.size + 1)
    evens.foreach(k => assert(got(k) === "new"))
    assert(got(999999L) === "ins")
    assert(got.keySet.forall(k => k == 999999L || evens(k)),
      "an odd key survived the sync")
  }

  test("SQL MERGE racing an async compaction loses neither side") {
    // the row-level write is a log append and compaction deletes only
    // ITS snapshot's log files — so a MERGE landing while the rewrite
    // runs must survive it, whatever the interleaving
    val path = targetPath("graft_kv_test/dsv2_race")
    val t = KVTable(spark, path, wipe = true)
    val part = Tables.part(spark, sf)
    t.put(part.select($"p_partkey".as("key"), lit("F").as("family"),
      lit("size").as("qualifier"), $"p_size".cast("string").as("value"),
      lit(1L).as("ts")))
    t.compact()
    // a live log leg for the compaction to fold in
    t.put(part.filter($"p_partkey" % 5 === 0)
      .select($"p_partkey".as("key"), lit("F").as("family"),
        lit("size").as("qualifier"),
        ($"p_size" + 100).cast("string").as("value"), lit(2L).as("ts")))
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    val rewrite = t.compactAsync()
    part.filter($"p_partkey" % 2 === 0)
      .select($"p_partkey".as("key"), lit("777").as("value"))
      .createOrReplaceTempView("kvspec_race_updates")
    spark.sql(
      s"""MERGE INTO $ident t USING kvspec_race_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'size'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3""".stripMargin)
    scala.concurrent.Await.result(rewrite,
      scala.concurrent.duration.Duration(120, "s"))
    val got = t.resolved().select($"key", $"value".cast("long"))
      .as[(Long, Long)].collect().toMap
    val sizes = part.select($"p_partkey", $"p_size".cast("long"))
      .as[(Long, Long)].collect().toMap
    sizes.foreach { case (k, sz) =>
      val exp = if (k % 2 == 0) 777L
        else if (k % 5 == 0) sz + 100 else sz
      assert(got(k) === exp, s"key $k")
    }
    assert(got.size === sizes.size)
  }

  test("row-level MERGE sees through row/family tombstones (resolved scan)") {
    // a row-deleted key must look ABSENT to MERGE's matched/not-matched
    // arms — the bucket-local resolve inside the row-level scan has to
    // honor row- and family-granularity masks, not just cell tombstones
    val path = targetPath("graft_kv_test/dsv2_tombs")
    val t = KVTable(spark, path, wipe = true)
    t.put(Seq(
      (1L, "F", "v", "one", 1L), (2L, "F", "v", "two", 1L),
      (3L, "F", "v", "three", 1L), (3L, "G", "w", "three-g", 1L))
      .toDF("key", "family", "qualifier", "value", "ts"))
    t.compact()
    // key 1: whole-ROW tombstone; key 3: family-F tombstone (G survives)
    t.delete(Seq((1L, null, null)).toDF("key", "family", "qualifier"), ts = 2L)
    t.delete(Seq((3L, "F", null)).toDF("key", "family", "qualifier"), ts = 2L)
    val ident = graft.sources.kv.KVSource.sqlName(spark, path)
    Seq((1L, "re-one"), (2L, "upd-two"), (3L, "re-three"))
      .toDF("key", "value").createOrReplaceTempView("kvspec_tomb_src")
    spark.sql(
      s"""MERGE INTO $ident t USING kvspec_tomb_src u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'v'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'v', u.value, 3, null)""".stripMargin)
    val got = t.resolved()
      .select($"key", $"family", $"value").as[(Long, String, String)]
      .collect().toSet
    // keys 1 and 3 were dead under F -> NOT MATCHED -> inserted fresh at
    // ts=3 (above the tombstones); key 2 was live -> updated; 3's G cell
    // was never masked
    assert(got === Set(
      (1L, "F", "re-one"), (2L, "F", "upd-two"),
      (3L, "F", "re-three"), (3L, "G", "three-g")))
  }

  test("_cell metadata column is selectable on a plain scan (row-wise)") {
    mkTable("cellmeta", "st", 1L)
    val ident = graft.sources.kv.KVSource.sqlName(spark,
      targetPath("graft_kv_test/dsv2_cellmeta"))
    val df = spark.sql(s"SELECT key, family, qualifier, ts, _cell FROM $ident")
    val rows = df.limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getStruct(4)
      assert(c.getLong(0) === r.getLong(0))
      assert(c.getString(1) === r.getString(1))
      assert(c.getString(2) === r.getString(2))
      assert(c.getLong(3) === r.getLong(3))
    }
    // and SELECT * does NOT surface the metadata column
    assert(!spark.sql(s"SELECT * FROM $ident").columns.contains("_cell"))
  }

  test("GraftBucket matches Spark's bucketBy placement") {
    // the log-merge routes rows by GraftBucket; if it ever drifted from
    // Spark's murmur3 pmod the merged read would split keys across
    // partitions and resolve would silently miss overwrites — pin it
    val t = KVTable(spark, targetPath("graft_kv_test/dsv2_hash"), wipe = true)
    t.put(Tables.orders(spark, sf).limit(500)
      .select($"o_orderkey".as("key"), lit("f").as("family"),
        lit("q").as("qualifier"), lit("v").as("value"), lit(1L).as("ts")))
    t.compact(numBuckets = 8)
    val layout = graft.sources.kv.KVLayout(
      new java.io.File(targetPath("graft_kv_test/dsv2_hash")).getAbsolutePath)
    layout.compactedByBucket.foreach { case (bucket, files) =>
      val keys = spark.read.parquet(files: _*).select($"key").as[Long].collect()
      keys.foreach(k => assert(GraftBucket.of(k, 8) === bucket,
        s"key $k in file-bucket $bucket but GraftBucket says ${GraftBucket.of(k, 8)}"))
    }
  }

  test("a table at a file: URI reads back through its identifier: put, " +
    "resolved() and SQL MERGE INTO return the exact rows") {
    val abs = new java.io.File(targetPath("graft_kv_test/dsv2_uri")).getAbsolutePath
    val uri = "file:" + abs
    val t = KVTable(spark, uri, wipe = true)
    t.put(Seq((1L, "F", "q", "a", 1L), (2L, "F", "q", "b", 1L))
      .toDF("key", "family", "qualifier", "value", "ts"))
    t.put(Seq((2L, "F", "q", "b2", 2L)).toDF("key", "family", "qualifier", "value", "ts"))
    val ident = graft.sources.kv.KVSource.sqlName(spark, uri)
    assert(ident === "graft.`file:`." +
      abs.split("/").filter(_.nonEmpty).map(p => s"`$p`").mkString("."))
    assert(t.cells.count() === 3L)
    def live = t.resolved().select($"key", $"value").as[(Long, String)].collect().toSet
    assert(live === Set(1L -> "a", 2L -> "b2"))
    Seq((2L, "b3"), (3L, "c")).toDF("key", "value")
      .createOrReplaceTempView("kvspec_uri_updates")
    spark.sql(
      s"""MERGE INTO $ident t USING kvspec_uri_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'q'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'q', u.value, 3, null)""".stripMargin)
    assert(live === Set(1L -> "a", 2L -> "b3", 3L -> "c"))
    t.compact(numBuckets = 2)
    assert(live === Set(1L -> "a", 2L -> "b3", 3L -> "c"))
    // a local absolute path keeps its plain segment identifier
    assert(graft.sources.kv.KVSource.sqlName(spark, abs) ===
      "graft." + abs.split("/").filter(_.nonEmpty).map(p => s"`$p`").mkString("."))
    t.drop()
  }

  test("a non-numeric resolvedAsOf read option fails naming the option") {
    val t = KVTable(spark, targetPath("graft_kv_test/dsv2_badasof"), wipe = true)
    t.put(Seq((1L, "F", "q", "a", 1L)).toDF("key", "family", "qualifier", "value", "ts"))
    val ident = graft.sources.kv.KVSource.sqlName(spark, t.path)
    val e = intercept[Exception] {
      spark.read.option("resolvedAsOf", "yesterday").table(ident).collect()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(c => Option(c.getMessage).toSeq ++ messages(c.getCause))
    assert(messages(e).exists(m => m.contains("'resolvedAsOf'") && m.contains("'yesterday'")),
      messages(e).mkString(" | "))
    assert(spark.read.option("resolvedAsOf", "1").table(ident).count() === 1L)
    t.drop()
  }
}
