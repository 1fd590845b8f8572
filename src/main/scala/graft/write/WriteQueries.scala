package graft.write

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{RepoPaths, Tables}

/** §2.8 mutation operators + §2.1 write sinks + §2.10 streaming merge
  * (SURVEY.md). Every mutation is exercised against the KVTable cell
  * store and the final table state is oracle-checked relationally.
  */
object WriteQueries {
  type Q = (SparkSession, String) => DataFrame

  private def base(name: String) = graft.RepoPaths.target(s"graft_kv/$name")

  /** Staging directory for a stream query, built ONCE per dataset (the
    * staged files are the INPUT a landing zone would already hold — the
    * operator under test is the stream, not the dump). The builder
    * writes into the passed dir; mtime ordering of its files is
    * preserved across runs, so maxFilesPerTrigger batch order is
    * stable. Sinks/checkpoints still reset per run. */
  private def stageOnce(s: SparkSession, name: String, d: String,
                        version: Int)(build: String => Unit): String = {
    val dir = RepoPaths.target(s"graft_stream/${name}_${graft.Staging.slug(d)}")
    // flat: a stream LANDING dir — the file-stream source lists it in
    // mtime order; there is no downstream join key to bucket by. The
    // tag fingerprints the whole source dataset: a regenerated dataset
    // at the same path (SynthGen) must restage, never serve stale.
    graft.Staging.ensureFlat(dir,
      s"$name v$version $d fp=${graft.Staging.fingerprint(d)}")(build(dir))
  }

  /** BOUNDED-REPLAY stream profile (name carries the precondition —
    * r17 ADVICE): every wrapped run must be a sentinel-flushed or
    * per-batch-emitting bounded replay, because this wrapper ALSO
    * disables the trailing no-data micro-batch (withBoundedReplay
    * below). An open-ended stream that closes state purely by
    * watermark timeout must NOT use it, or it loses its final
    * emissions. Partition sizing: stateful streams commit one state
    * store per shuffle partition per micro-batch; at this data volume
    * the commit fan-out dominates, so every stateful stream here runs
    * at a quarter of the session's partitions. The count is baked into
    * a checkpoint at first start (a restart keeps it) — a per-pipeline
    * sizing decision, exactly as at 100 TB where it would instead be
    * set HIGHER than the default. */
  private def withBoundedStreamRun[T](s: SparkSession)(body: => T): T = {
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    // these registry runs are sentinel-flushed bounded replays — the
    // trailing no-data micro-batch is one full commit cycle of pure
    // overhead (GraftSession.withBoundedReplay scaladoc); harmless
    // no-op for the wrapped batch/stateless sites
    graft.GraftSession.withConf(s,
        "spark.sql.shuffle.partitions" -> math.max(parts / 4, 1).toString) {
      graft.GraftSession.withBoundedReplay(s)(body)
    }
  }

  /** Build-once table setup for READ-operator queries (s10, m11): the
    * operator under test there is the scan — the write path is what
    * m1–m9/s8/s9 measure — so rebuilding the table on every invocation
    * would time compaction, not the read. A marker records the source
    * dir + a setup version; any mismatch (different scale factor, new
    * setup semantics) wipes and rebuilds. The marker is written only
    * AFTER `build` completes, so a crash mid-build leaves no marker and
    * the next run starts clean. */
  private def setupOnce(s: SparkSession, name: String, d: String,
                        version: Int)(build: KVTable => Unit): KVTable = {
    val path = base(name)
    // flat: the KV store owns this dir's layout (region dirs + logs);
    // bucketed parquet staging does not apply to a KV table base. The
    // tag fingerprints the whole source dataset (regeneration-proof —
    // this path is NOT dataset-slugged, so the slug-wipe can't see it).
    graft.Staging.ensureFlat(path,
      s"$name v$version $d fp=${graft.Staging.fingerprint(d)}")(
      build(KVTable(s, path, wipe = true)))
    KVTable(s, path)
  }

  /** part → F:size cells at ts. */
  private def partCells(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.part(s, d).select($"p_partkey".as("key"), lit("F").as("family"),
      lit("size").as("qualifier"), $"p_size".cast("string").as("value"),
      lit(1L).as("ts"))
  }

  private def customerCents(s: SparkSession, d: String, ts: Long) = {
    import s.implicits._
    Tables.customer(s, d).select($"c_custkey".as("key"), lit("F").as("family"),
      lit("bal").as("qualifier"),
      round($"c_acctbal" * 100).cast("long").cast("string").as("value"),
      lit(ts).as("ts"))
  }

  /** m14/m16 shared base state: one `cents` cell per order at ts=1. */
  private[graft] def putOrdersBase(t: KVTable, o: org.apache.spark.sql.DataFrame): Unit = {
    import o.sparkSession.implicits._
    val cents = round($"o_totalprice" * 100).cast("long")
    t.put(o.select($"o_orderkey".as("key"), lit("F").as("family"),
      lit("cents").as("qualifier"), cents.cast("string").as("value"),
      lit(1L).as("ts")))
  }

  /** m14/m16 shared mutation script — updates (%7, ts=2), row-tombstone
    * deletes (%5, ts=3), fresh inserts (%3 shifted keys, ts=4). m16's
    * oracle re-derives m14's final state, so the two queries MUST
    * mutate identically; one definition keeps them in sync. */
  private[graft] def mutateOrders(t: KVTable, o: org.apache.spark.sql.DataFrame): Unit = {
    import o.sparkSession.implicits._
    val cents = round($"o_totalprice" * 100).cast("long")
    t.put(o.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey".as("key"), lit("F").as("family"),
        lit("cents").as("qualifier"),
        (cents + 100L).cast("string").as("value"), lit(2L).as("ts")))
    t.delete(o.filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey".as("key"),
        lit(null).cast("string").as("family"),
        lit(null).cast("string").as("qualifier")), ts = 3L)
    t.put(o.filter($"o_orderkey" % 3 === 0)
      .select(($"o_orderkey" + 2000000L).as("key"), lit("F").as("family"),
        lit("cents").as("qualifier"), lit("42").as("value"),
        lit(4L).as("ts")))
  }

  /** The st13 fold, shared with KVCdcSpec's double-apply pin: land one
    * CDC micro-batch's net changes on the derived per-group SUM table,
    * REPLAY-IDEMPOTENTLY. Under `startTs=1, stepTs=1`, batch `i`
    * covers the cutoff window `(1+i, 2+i]` — the fold reads the MV as
    * of the window's LOWER cutoff (that version is immutable history)
    * and writes only the CHANGED groups' new totals at the UPPER
    * cutoff's ts, so a replay recomputes from the same base and lands
    * byte-identical versions that latest-wins absorbs. O(churn)
    * versions written per trigger; unchanged groups keep their older
    * version and resolve untouched. */
  private[graft] def cdcApplyBatch(agg: KVTable)(
      batch: DataFrame, batchId: Long): Unit = {
    val prevTs = 1L + batchId
    val delta = batch
      .groupBy((col("key") % 100).as("key"))
      .agg(sum(coalesce(col("new_value").cast("long"), lit(0L))
        - coalesce(col("old_value").cast("long"), lit(0L))).as("delta"))
    val cur = agg.resolvedAsOf(prevTs)
      .select(col("key"), col("value").cast("long").as("cur"))
    agg.put(delta.join(cur, Seq("key"), "left_outer")
      .select(col("key"), lit("A").as("family"), lit("sum").as("qualifier"),
        (coalesce(col("cur"), lit(0L)) + col("delta"))
          .cast("string").as("value"),
        lit(prevTs + 1L).as("ts")))
  }

  private def ordersCells(s: SparkSession, d: String) = {
    import s.implicits._
    val o = Tables.orders(s, d)
    o.select($"o_orderkey".as("key"), lit("O").as("family"),
        lit("status").as("qualifier"), $"o_orderstatus".as("value"),
        lit(1L).as("ts"))
      .unionByName(o.select($"o_orderkey".as("key"), lit("O").as("family"),
        lit("cents").as("qualifier"),
        round($"o_totalprice" * 100).cast("long").cast("string").as("value"),
        lit(1L).as("ts")))
  }

  val queries: Map[String, Q] = Map(
    // M1 `update` (HBaseTable.scala:100-122): typed single-column upsert;
    // latest ts wins on read.
    "m1_update" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m1"), wipe = true)
      t.put(partCells(s, d))
      t.put(Tables.part(s, d).filter($"p_type" === "ECONOMY")
        .select($"p_partkey".as("key"), lit("F").as("family"),
          lit("size").as("qualifier"),
          ($"p_size" + 100).cast("string").as("value"), lit(2L).as("ts")))
      t.resolved()
        .select($"key", $"value".cast("long").as("size"))
        .orderBy($"key")
    }),

    // M2 `put` with explicit timestamps (HBaseTable.scala:124-155):
    // version order is the cell ts, not arrival order — a later write
    // carrying an older ts loses.
    "m2_put_versioned" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m2"), wipe = true)
      t.put(customerCents(s, d, ts = 5L)) // arrives first, ts=5
      t.put(Tables.customer(s, d).select($"c_custkey".as("key"), // stale write
        lit("F").as("family"), lit("bal").as("qualifier"),
        (round($"c_acctbal" * 100).cast("long") + 999L).cast("string").as("value"),
        lit(3L).as("ts")))
      t.put(Tables.customer(s, d).filter($"c_mktsegment" === "MACHINERY")
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long") + 111L).cast("string").as("value"),
          lit(7L).as("ts")))
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M11 (extra): time-travel read — `resolvedAsOf(v)` / SQL `VERSION
    // AS OF v` on the DSv2 table pins the view to cells with ts <= v
    // (the reference's timestamped scan, HBaseRDDFunctions.scala:39-46):
    // the later overlay AND a later tombstone are both invisible at v=5.
    "m11_version_asof" -> ((s, d) => {
      import s.implicits._
      val t = setupOnce(s, "m11", d, version = 2) { t =>
        t.put(customerCents(s, d, ts = 5L))
        t.compact()
        t.put(Tables.customer(s, d).filter($"c_mktsegment" === "MACHINERY")
          .select($"c_custkey".as("key"), lit("F").as("family"),
            lit("bal").as("qualifier"),
            (round($"c_acctbal" * 100).cast("long") + 111L).cast("string").as("value"),
            lit(7L).as("ts")))
        t.delete(Tables.customer(s, d).filter($"c_custkey" % 10 === 3)
          .select($"c_custkey".as("key"), lit(null).cast("string").as("family"),
            lit(null).cast("string").as("qualifier")), ts = 8L)
      }
      t.resolvedAsOf(5L)
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M12 (extra): SQL MERGE INTO + DELETE — the reference's typed
    // mutation surface (M1-M7) driven from SQL through delta-based
    // row-level operations (sources/kv/KVRowLevel.scala): the MERGE
    // reads the RESOLVED live state (bucket-local latest-wins scan,
    // shuffle-free), appends new cell versions for matched rows and
    // fresh cells for unmatched ones, and DELETE appends tombstones at
    // each live version's ts — nothing is rewritten in place, exactly
    // the log-structured write path the library `put`/`delete` use, so
    // concurrent appends and compactions keep their guarantees.
    "m12_merge_into" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m12"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.compact()
      val ident = graft.sources.kv.KVSource.sqlName(s, base("m12"))
      val cust = Tables.customer(s, d)
      cust.select($"c_custkey".as("key"),
          (round($"c_acctbal" * 100).cast("long") + 111L).cast("string")
            .as("value"))
        .filter($"key" % 5 === 0)
        .unionByName(cust
          .select(($"c_custkey" + 1000000L).as("key"), lit("42").as("value"))
          .filter($"key" % 5 === 1))
        .createOrReplaceTempView("m12_updates")
      s.sql(
        s"""MERGE INTO $ident t USING m12_updates u
           |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
           |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2
           |WHEN NOT MATCHED THEN
           |  INSERT (key, family, qualifier, value, ts, tomb)
           |  VALUES (u.key, 'F', 'bal', u.value, 2, null)""".stripMargin)
      s.sql(s"DELETE FROM $ident WHERE key % 10 = 3")
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M13 (extra): bare SQL UPDATE — the third row-level verb through
    // the same delta rewrite (RewriteUpdateTable): the resolved scan
    // finds matching live cells, the assignment appends new versions.
    // Together with m12's MERGE/DELETE this completes the SQL mutation
    // surface over the typed M1-M7 semantics.
    "m13_sql_update" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m13"), wipe = true)
      t.put(partCells(s, d))
      t.compact()
      val ident = graft.sources.kv.KVSource.sqlName(s, base("m13"))
      s.sql(
        s"""UPDATE $ident SET value = CAST(CAST(value AS BIGINT) + 500
           |  AS STRING), ts = 2
           |WHERE qualifier = 'size' AND key % 3 = 0""".stripMargin)
      t.resolved()
        .select($"key", $"value".cast("long").as("size"))
        .orderBy($"key")
    }),

    // M14 (extra): CDC changes-between read — the table-format change
    // feed (Delta CDF / Iceberg changelog shape) over the version log:
    // the NET difference between two as-of cutoffs, tagged
    // insert/update/delete with before/after values. Exercises every
    // transition: updates (ts=2), row-tombstone deletes (ts=3, some of
    // them superseding the ts=2 update — net DELETE, the intermediate
    // version must not leak), fresh inserts (ts=4), and the untouched
    // majority emitting nothing.
    "m14_changes_between" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m14"), wipe = true)
      val o = Tables.orders(s, d)
      putOrdersBase(t, o)
      t.compact()
      mutateOrders(t, o)
      t.changesBetween(1L, 4L)
        .select($"key", $"change_type",
          $"old_value".cast("long").as("old_value"),
          $"new_value".cast("long").as("new_value"))
        .orderBy($"key")
    }),

    // M15 (extra): the same MERGE+DELETE surface through the
    // GROUP-BASED copy-on-write strategy (spark.graft.kv.rowlevel=cow;
    // sources/kv/KVCow.scala): the operation's ReplaceData lands as a
    // fresh bucketed generation in one commit record — a compaction
    // whose input had the mutation applied — instead of delta appends.
    // Same final state as the delta path, tombstone-free by
    // construction; the two strategies are the MoR/CoW pair.
    "m15_merge_cow" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m15"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.compact()
      val ident = graft.sources.kv.KVSource.sqlName(s, base("m15"))
      val cust = Tables.customer(s, d)
      cust.select($"c_custkey".as("key"),
          (round($"c_acctbal" * 100).cast("long") + 111L).cast("string")
            .as("value"))
        .filter($"key" % 5 === 0)
        .unionByName(cust
          .select(($"c_custkey" + 1000000L).as("key"), lit("42").as("value"))
          .filter($"key" % 5 === 1))
        .createOrReplaceTempView("m15_updates")
      graft.GraftSession.withConf(s, "spark.graft.kv.rowlevel" -> "cow") {
        s.sql(
          s"""MERGE INTO $ident t USING m15_updates u
             |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
             |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2
             |WHEN NOT MATCHED THEN
             |  INSERT (key, family, qualifier, value, ts, tomb)
             |  VALUES (u.key, 'F', 'bal', u.value, 2, null)""".stripMargin)
        s.sql(s"DELETE FROM $ident WHERE key % 10 = 3")
      }
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M17 (extra): rowlevel=auto — the engine MEASURES each command's
    // touched-bucket fraction and picks the strategy itself
    // (KVTable.withAutoRowLevel): the near-full first MERGE lands as a
    // copy-on-write generation flip, the surgical second as a delta
    // append — the MoR/CoW pair selected per command, the write-side
    // answer to the reference's join-strategy-selection TODO
    // (README.md:14,232). Final state oracle-checked; KVSourceSpec
    // pins that each command took the intended physical path.
    "m17_merge_auto" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m17"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.compact()
      val ident = graft.sources.kv.KVSource.sqlName(s, base("m17"))
      val cust = Tables.customer(s, d)
      graft.GraftSession.withConf(s, "spark.graft.kv.rowlevel" -> "auto") {
        val big = cust.select($"c_custkey".as("key"),
          (round($"c_acctbal" * 100).cast("long") + 50L).cast("string")
            .as("value"))
        big.createOrReplaceTempView("m17_big")
        t.withAutoRowLevel(big) {
          s.sql(
            s"""MERGE INTO $ident t USING m17_big u
               |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
               |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 2""".stripMargin)
        }
        val small = cust.filter($"c_custkey" % 97 === 0)
          .select($"c_custkey".as("key"),
            (round($"c_acctbal" * 100).cast("long") + 57L).cast("string")
              .as("value"))
        small.createOrReplaceTempView("m17_small")
        t.withAutoRowLevel(small) {
          s.sql(
            s"""MERGE INTO $ident t USING m17_small u
               |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
               |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 3""".stripMargin)
        }
      }
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M18 (extra): compaction with a CDC RETENTION HORIZON
    // (KVTable.compactRetaining): the same m14 mutation script, then a
    // rewrite that collapses history at-or-below cutoff 2 to its
    // resolved winners while keeping every later version and tombstone
    // VERBATIM — so the post-compaction changesBetween(2, 4) window is
    // still EXACT (the oracle recomputes it from the script). This is
    // the knob that lets a lagging CDC consumer coexist with
    // compaction: retain back to the slowest checkpoint's cutoff, pay
    // O(churn-since-horizon) extra rows, keep replayability. KVCdcSpec
    // drives an actual graft-cdc stream ACROSS the rewrite.
    "m18_compact_retain" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m18"), wipe = true)
      val o = Tables.orders(s, d)
      putOrdersBase(t, o)
      t.compact()
      mutateOrders(t, o)
      t.compactRetaining(retainSince = 2L)
      t.changesBetween(2L, 4L)
        .select($"key", $"change_type",
          $"old_value".cast("long").as("old_value"),
          $"new_value".cast("long").as("new_value"))
        .orderBy($"key")
    }),

    // M19 (extra): SECONDARY INDEX over a KV table (write/KVIndex) —
    // the HBase/Phoenix global-index pattern the reference's
    // key-only access model leaves to the user. The index is itself a
    // KV table (value-hash → base keys), maintained by dual append on
    // put; a value lookup is a bucket-pruned point read of the index +
    // a broadcast multi-get of the base, with READ-REPAIR dropping the
    // stale pointers updates leave behind. The script moves customers
    // INTO and OUT OF the looked-up segment at ts=2, so the result is
    // wrong unless both the new index entries land and the stale ones
    // are repaired. At 100 TB: O(matching rows), never a table scan.
    "m19_secondary_index" -> ((s, d) => {
      import s.implicits._
      val t = setupOnce(s, "m19", d, version = 2) { t =>
        val cust = Tables.customer(s, d)
        def segCells(rows: org.apache.spark.sql.DataFrame, ts: Long) =
          rows.select($"c_custkey".as("key"), lit("F").as("family"),
            lit("seg").as("qualifier"), $"seg".as("value"), lit(ts).as("ts"))
        // ts=1: every customer's segment (indexed) + balance (plain)
        KVIndex.put(t, "F", "seg",
          segCells(cust.withColumn("seg", $"c_mktsegment"), 1L))
        t.put(customerCents(s, d, ts = 1L))
        // ts=2: %7 move OUT to BUILDING, %10 (not %7) move IN
        KVIndex.put(t, "F", "seg", segCells(
          cust.filter($"c_custkey" % 7 === 0 || $"c_custkey" % 10 === 0)
            .withColumn("seg", when($"c_custkey" % 7 === 0, "BUILDING")
              .otherwise("MACHINERY")), 2L))
        t.compact()
        KVIndex.indexTable(t, "F", "seg").compact()
      }
      KVIndex.lookup(t, "F", "seg", lit("MACHINERY"))
        .join(t.resolved().filter($"qualifier" === "bal")
          .select($"key", $"value".cast("long").as("bal")), "key")
        .select($"key", $"bal").orderBy($"key")
    }),

    // M22 (extra): RESTORE / ROLLBACK (KVTable.restoreAsOf) — a bad
    // bulk write (+999 on half the keys) and a bad delete land on top
    // of the ts=1 base; restore to VERSION AS OF 1 rolls the live
    // state back in one atomic generation flip, and a NORMAL write
    // then continues on the restored base. The oracle is base + only
    // the post-restore write: if the restore leaked either the
    // corruption or the tombstones, the hash fails.
    "m22_restore" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m22"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.compact()
      // the incident: corrupting bulk update + stray deletes
      t.put(Tables.customer(s, d).filter($"c_custkey" % 2 === 0)
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long") + 999L).cast("string")
            .as("value"), lit(2L).as("ts")))
      t.delete(Tables.customer(s, d).filter($"c_custkey" % 7 === 0)
        .select($"c_custkey".as("key"),
          lit(null).cast("string").as("family"),
          lit(null).cast("string").as("qualifier")), ts = 3L)
      t.restoreAsOf(1L)
      // business as usual on the restored base: %5 keys +5 at ts=4
      t.put(Tables.customer(s, d).filter($"c_custkey" % 5 === 0)
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long") + 5L).cast("string")
            .as("value"), lit(4L).as("ts")))
      t.resolved()
        .select(($"key" % 100).as("grp"), $"value".cast("long").as("cents"))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
        .orderBy($"grp")
    }),

    // M21 (extra): ZERO-COPY shallow clone (KVTable.cloneTo — the
    // lakehouse CLONE): snapshot the source (compacted generation +
    // live log) as hard links, then DIVERGE the source with a new
    // write AND a compaction that retires the linked generation. The
    // clone must keep reading the snapshot state (links keep the bytes
    // alive through the source's generation pruning); the source must
    // show the post-clone write. Both sides are read back and reported
    // side-by-side so the oracle fails if isolation leaks either way.
    "m21_clone" -> ((s, d) => {
      import s.implicits._
      val src = KVTable(s, base("m21src"), wipe = true)
      src.put(customerCents(s, d, ts = 1L))
      src.compact()
      // live log on top of the compacted state: %3 keys bump +7 at ts=2
      src.put(Tables.customer(s, d).filter($"c_custkey" % 3 === 0)
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long") + 7L).cast("string")
            .as("value"),
          lit(2L).as("ts")))
      val clone = src.cloneTo(base("m21clone"))
      // diverge the source: %5 keys +100 at ts=3, then compact — which
      // retires the generation the clone's links point at
      src.put(Tables.customer(s, d).filter($"c_custkey" % 5 === 0)
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long")
            + when($"c_custkey" % 3 === 0, 7L).otherwise(0L) + 100L)
            .cast("string").as("value"),
          lit(3L).as("ts")))
      src.compact()
      def side(t: KVTable, name: String) = t.resolved()
        .select(lit(name).as("side"), ($"key" % 100).as("grp"),
          $"value".cast("long").as("cents"))
      side(clone, "clone").unionByName(side(src, "source"))
        .groupBy($"side", $"grp")
        .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
        .orderBy($"side", $"grp")
    }),

    // M20 (extra): expectation-gated ingest — the write path ROUTES
    // each row by declared data-quality rules (the lakehouse
    // "expectations with quarantine" contract, vs an_quality_report's
    // read-side assertions): valid rows land in the main table,
    // violations land in a quarantine table tagged with the FIRST
    // failing rule (deterministic priority order), and the report
    // reads BOTH back from storage — proving the split writes, not
    // just the classification. Scale shape: one per-row codegen'd
    // classification, two append writes partitioned like any other
    // put, one read-back rollup; no row is dropped silently.
    "m20_quarantine" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m20"), wipe = true)
      val q = KVTable(s, base("m20q"), wipe = true)
      val classified = Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"value",
          round($"value" * 100).cast("long").as("cents"))
        .withColumn("disposition",
          when($"value" > 100.0, "q_value_cap")
            .when($"event_type" === "error", "q_not_error")
            .when($"user_id" % 97 === 0, "q_user_blocked")
            .otherwise("landed"))
      t.put(classified.filter($"disposition" === "landed")
        .select($"event_id".as("key"), lit("F").as("family"),
          lit("cents").as("qualifier"), $"cents".cast("string").as("value"),
          lit(1L).as("ts")))
      q.put(classified.filter($"disposition" =!= "landed")
        .select($"event_id".as("key"), lit("Q").as("family"),
          $"disposition".as("qualifier"), $"cents".cast("string").as("value"),
          lit(1L).as("ts")))
      t.resolved()
        .select(lit("landed").as("disposition"),
          $"value".cast("long").as("cents"))
        .unionByName(q.resolved()
          .select($"qualifier".as("disposition"),
            $"value".cast("long").as("cents")))
        .groupBy($"disposition")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .orderBy($"disposition")
    }),

    // M16 (extra): incremental materialized-view maintenance over the
    // CDC feed — the reason changesBetween exists. A derived per-group
    // SUM is seeded from the base state, then three mutation rounds
    // (update / row-delete / insert) are folded in by applying ONLY the
    // diff: delta(group) = Σ new−old over changed cells, landed with
    // the counter `increment` API. The query's answer is the derived
    // table — the oracle recomputes the aggregate from scratch, so the
    // gate proves incremental == batch. At 100 TB the derived refresh
    // costs O(churn), not O(table).
    // The whole refresh is small-aggregate work (diffs, per-group
    // sums, counter merges) — it runs at the reduced partition count,
    // the same per-pipeline sizing call the streams make; at 100 TB
    // the SAME knob is set higher, not lower.
    "m16_cdc_apply" -> ((s, d) => withBoundedStreamRun(s) {
      import s.implicits._
      val t = KVTable(s, base("m16"), wipe = true)
      val o = Tables.orders(s, d)
      putOrdersBase(t, o)
      val agg = KVTable(s, base("m16_agg"), wipe = true)
      // three mutation rounds against the BASE table — the SAME script
      // as m14 (m16's oracle re-derives m14's final state)
      mutateOrders(t, o)
      // seed the derived table from the base-cutoff state (time travel
      // makes the seed exact even after the mutations landed)
      agg.put(t.resolvedAsOf(1L)
        .groupBy(($"key" % 100).as("key"))
        .agg(sum($"value".cast("long")).as("total"))
        .select($"key", lit("A").as("family"), lit("sum").as("qualifier"),
          $"total".cast("string").as("value"), lit(1L).as("ts")))
      // ONE pass over the version log yields every round's diff
      // (changeLog's CDC walk); each round's delta then folds into the
      // derived table sequentially — the catch-up loop a consumer runs
      val diffs = t.changeLog(Seq(1L, 2L, 3L, 4L))
        .select($"round", ($"key" % 100).as("key"), lit("A").as("family"),
          lit("sum").as("qualifier"),
          (coalesce($"new_value".cast("long"), lit(0L))
            - coalesce($"old_value".cast("long"), lit(0L))).as("delta"))
        .cache()
      try {
        (1 to 3).foreach { r =>
          agg.increment(diffs.filter($"round" === r).drop("round"),
            ts = r + 1L)
        }
      } finally diffs.unpersist(false)
      agg.resolved()
        .select($"key".as("grp"), $"value".cast("long").as("total"))
        .orderBy($"grp")
    }),

    // M3/A11 `increment` (HBaseTable.scala:157-179): two rounds of
    // counter deltas (zero deltas skipped), final counter per key.
    "m3_increment" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m3"), wipe = true)
      val ev = Tables.events(s, d).select($"user_id".as("key"),
        lit("C").as("family"), lit("n").as("qualifier"),
        round($"value" * 100).cast("long").as("delta"), $"event_id")
      t.increment(ev.filter($"event_id" % 2 === 0), ts = 1L)
      t.increment(ev.filter($"event_id" % 2 === 1), ts = 2L)
      t.resolved()
        .select($"key", $"value".cast("long").as("counter"))
        .orderBy($"key")
    }),

    // M4 `delete` (HBaseTable.scala:181-212): row / family / cell
    // tombstone granularity, applied by key%10 — surviving cell counts.
    "m4_delete" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m4"), wipe = true)
      val cust = Tables.customer(s, d)
      t.put(customerCents(s, d, ts = 1L))
      t.put(cust.select($"c_custkey".as("key"), lit("T").as("family"),
        lit("seg").as("qualifier"), $"c_mktsegment".as("value"), lit(1L).as("ts")))
      t.delete(cust.filter($"c_custkey" % 10 === 0).select($"c_custkey".as("key"),
        lit(null).cast("string").as("family"),
        lit(null).cast("string").as("qualifier")), ts = 2L)
      t.delete(cust.filter($"c_custkey" % 10 === 1).select($"c_custkey".as("key"),
        lit("F").as("family"), lit(null).cast("string").as("qualifier")), ts = 2L)
      t.delete(cust.filter($"c_custkey" % 10 === 2).select($"c_custkey".as("key"),
        lit("T").as("family"), lit("seg").as("qualifier")), ts = 2L)
      t.resolved()
        .groupBy($"key").agg(count(lit(1)).as("n_cells"))
        .orderBy($"key")
    }),

    // M5 `bulkUpdate` (HBaseTable.scala:234-250): update batch then the
    // bulk path — compact() = range-partition + sort + rewrite (the
    // HFile shuffle, HBaseTable.scala:219-242).
    "m5_bulk_update" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m5"), wipe = true)
      t.put(Tables.part(s, d).select($"p_partkey".as("key"),
        lit("F").as("family"), lit("cents").as("qualifier"),
        round($"p_retailprice" * 100).cast("long").cast("string").as("value"),
        lit(1L).as("ts")))
      t.put(Tables.part(s, d).filter($"p_size" > 25)
        .select($"p_partkey".as("key"), lit("F").as("family"),
          lit("cents").as("qualifier"),
          (round($"p_retailprice" * 100).cast("long") + 1000L).cast("string").as("value"),
          lit(2L).as("ts")))
      t.compact()
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M6 `bulkLoad` (HBaseTable.scala:252-269): raw family load from
    // scratch through the sorted bulk path.
    "m6_bulk_load" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m6"), wipe = true)
      t.put(ordersCells(s, d))
      t.compact()
      t.resolved().groupBy($"key")
        .agg(max(when($"qualifier" === "status", $"value")).as("status"),
          max(when($"qualifier" === "cents", $"value")).cast("long").as("cents"))
        .orderBy($"key")
    }),

    // M7 `bulkDelete` (HBaseTable.scala:271-294): row tombstones through
    // the bulk path, then compaction physically drops the masked cells.
    "m7_bulk_delete" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m7"), wipe = true)
      t.put(ordersCells(s, d))
      t.delete(Tables.orders(s, d).filter($"o_orderkey" % 7 === 0)
        .select($"o_orderkey".as("key"),
          lit(null).cast("string").as("family"),
          lit(null).cast("string").as("qualifier")), ts = 2L)
      t.compact()
      t.resolved().groupBy($"key")
        .agg(max(when($"qualifier" === "status", $"value")).as("status"))
        .orderBy($"key")
    }),

    // M8 table copy (HBaseAdminUtils.scala:146-176): scan → repartition →
    // write to destination table, then aggregate the copy.
    "m8_copy" -> ((s, d) => {
      import s.implicits._
      val src = KVTable(s, base("m8_src"), wipe = true)
      src.put(ordersCells(s, d))
      val dst = KVTable(s, base("m8_dst"), wipe = true)
      dst.put(src.cells.repartition(8, $"key"))
      // one pass: pivot the two qualifiers per key, then aggregate
      dst.resolved().groupBy($"key")
        .agg(max(when($"qualifier" === "status", $"value")).as("status"),
          max(when($"qualifier" === "cents", $"value")).cast("long").as("cents"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
        .orderBy($"status")
    }),

    // M9 DDL (HBaseAdminUtils.scala:105-214): catalog create/insert/read.
    "m9_ddl" -> ((s, d) => {
      import s.implicits._
      KVTable.deleteRecursively(RepoPaths.target("warehouse/graft_m9"))
      s.sql("DROP TABLE IF EXISTS graft_m9")
      s.sql("""CREATE TABLE graft_m9
              |(n_nationkey INT, n_name STRING, n_regionkey INT)
              |USING parquet""".stripMargin)
      Tables.nation(s, d).createOrReplaceTempView("graft_m9_src")
      s.sql("INSERT INTO graft_m9 SELECT * FROM graft_m9_src")
      s.table("graft_m9").orderBy($"n_nationkey")
    }),

    // M10 family TTL (HBaseAdminUtils.scala:86-103): cells of a TTL'd
    // family expire relative to "now" — masked at read (resolvedAt) and
    // physically dropped by compactAt, so the plain resolved() view
    // afterwards proves storage-level expiry end-to-end.
    "m10_ttl" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("m10"), wipe = true)
      t.setFamilies(Seq(FamilyDescriptor("E", ttlSeconds = 21600L)))
      t.put(Tables.events(s, d).select($"user_id".as("key"),
        lit("E").as("family"), lit("last").as("qualifier"),
        round($"value" * 100).cast("long").cast("string").as("value"),
        expr("ts DIV 1000000000").as("ts")))
      // "now" = newest event second (deterministic per dataset)
      val now = Tables.events(s, d)
        .agg(max(expr("ts DIV 1000000000"))).first().getLong(0)
      t.compactAt(now)
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // S8 buffered-mutator sink (HBaseTable.scala:100-122): plain upsert
    // (append path, no bulk sort), latest-wins read.
    "s8_upsert_sink" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("s8"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.put(Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".as("key"), lit("F").as("family"),
          lit("bal").as("qualifier"),
          (round($"c_acctbal" * 100).cast("long") + 10000L).cast("string").as("value"),
          lit(2L).as("ts")))
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // S9 HFile bulk sink (HBaseTable.scala:234-352): range-partitioned,
    // in-partition-sorted write — Spark's native sorted bulk write.
    "s9_bulk_sink" -> ((s, d) => {
      import s.implicits._
      val path = RepoPaths.target("graft_bulk/s9")
      Tables.lineitem(s, d)
        .repartitionByRange(8, $"l_orderkey")
        .sortWithinPartitions($"l_orderkey", $"l_linenumber")
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // S10 (extra): DSv2 merged read (sources/kv/KVBatchTable.scala) —
    // compacted state + LIVE log served by the per-bucket DSv2 scan
    // (KeyGroupedPartitioning(bucket(n,key))), so latest-wins resolve
    // over both legs plans with zero shuffle Exchange — the reference's
    // region-partitioned scan advertisement (HBaseRDD.scala:18-91,:26)
    // for the one case a DataFrame union cannot keep co-partitioned.
    "s10_kv_merge_read" -> ((s, d) => {
      import s.implicits._
      val t = setupOnce(s, "s10", d, version = 2) { t =>
        t.put(Tables.orders(s, d).select($"o_orderkey".as("key"),
          lit("F").as("family"), lit("cents").as("qualifier"),
          round($"o_totalprice" * 100).cast("long").cast("string").as("value"),
          lit(1L).as("ts")))
        t.compact()
        t.put(Tables.orders(s, d).filter($"o_orderkey" % 10 === 0)
          .select($"o_orderkey".as("key"), lit("F").as("family"),
            lit("cents").as("qualifier"),
            (round($"o_totalprice" * 100).cast("long") + 5000L)
              .cast("string").as("value"),
            lit(2L).as("ts")))
      }
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // §2.10: stream → foreachBatch merge into a KV table (S7 + M1) —
    // the reference's socket-to-table pipeline as Structured Streaming.
    "st1_stream_merge" -> ((s, d) => {
      import s.implicits._
      val stage = stageOnce(s, "st1", d, version = 1) { dir =>
        Tables.events(s, d).write.mode("overwrite").parquet(dir)
      }
      val t = KVTable(s, base("st1"), wipe = true)
      val src = s.readStream.schema(Tables.events(s, d).schema).parquet(stage)
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          t.put(batch.select($"user_id".as("key"), lit("E").as("family"),
            lit("last").as("qualifier"),
            round($"value" * 100).cast("long").cast("string").as("value"),
            $"ts"))
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // ST9 (extra): streaming SQL MERGE INTO — the CDC-apply composition:
    // each micro-batch pre-aggregates to one update per key (MERGE's
    // cardinality contract) and lands through the m12 row-level path
    // (matched → UPDATE, unmatched → INSERT) against the catalog KV
    // table. The update is a MAX-register (value = greatest(live,
    // incoming)) — commutative and associative — so the final state is
    // independent of how the file source splits batches
    // (maxFilesPerTrigger=2 forces several). UPDATE omits ts: the
    // delta writer's auto-bump carries the version forward. At 100 TB
    // this is the standing upsert-apply loop: per batch one resolved
    // bucket-local scan + a delta append, never a table rewrite.
    "st9_stream_merge_into" -> ((s, d) => {
      import s.implicits._
      val stage = stageOnce(s, "st9", d, version = 1) { dir =>
        Tables.events(s, d).repartition(4)
          .write.mode("overwrite").parquet(dir)
      }
      val t = KVTable(s, base("st9"), wipe = true)
      t.put(customerCents(s, d, ts = 1L))
      t.compact()
      val ident = graft.sources.kv.KVSource.sqlName(s, base("st9"))
      val src = s.readStream.schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", "2").parquet(stage)
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the batch df lives in a micro-batch CLONE session — register
          // the view and run the MERGE there, not on the outer session
          batch.groupBy($"user_id".as("key"))
            .agg(max(round($"value" * 100).cast("long")).as("mx"))
            .createOrReplaceTempView("st9_updates")
          batch.sparkSession.sql(
            s"""MERGE INTO $ident t USING st9_updates u
               |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'bal'
               |WHEN MATCHED THEN UPDATE SET value =
               |  CAST(greatest(CAST(t.value AS BIGINT), u.mx) AS STRING)
               |WHEN NOT MATCHED THEN
               |  INSERT (key, family, qualifier, value, ts, tomb)
               |  VALUES (u.key, 'F', 'bal', CAST(u.mx AS STRING), 1,
               |          null)""".stripMargin)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      t.resolved()
        .select($"key", $"value".cast("long").as("cents"))
        .orderBy($"key")
    }),

    // §2.10 (extra): stream-STATIC enrichment — the dimension-join
    // every ingest pipeline runs: each micro-batch of the event stream
    // joins the (small, broadcastable) customer dimension and appends
    // its PRE-AGGREGATED partial counts; the final read merges the
    // partials. At 100 TB/day the static side rides a broadcast per
    // batch (no stream-side shuffle, no state store at all — the join
    // is stateless), and the sink receives segment×type-sized rows per
    // batch, not events.
    "st11_stream_enrich" -> ((s, d) => {
      import s.implicits._
      val out = RepoPaths.target("graft_stream/st11_out")
      KVTable.deleteRecursively(out)
      val ev = Tables.events(s, d)
      val stage = stageOnce(s, "st11", d, version = 1) { dir =>
        ev.repartition(3).write.mode("overwrite").parquet(dir)
      }
      val dim = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val enriched = src.join(broadcast(dim),
          $"user_id" === $"c_custkey", "left")
        .select(coalesce($"c_mktsegment", lit("none")).as("segment"),
          $"event_type")
      // batch-idempotent sink: a replayed batchId overwrites its own
      // partition instead of double-counting (streaming/IdempotentSink)
      val q = enriched.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.streaming.IdempotentSink.parquet(out)(
            batch.groupBy(col("segment"), col("event_type"))
              .agg(count(lit(1)).as("n")), batchId)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.streaming.IdempotentSink.read(s, out)
        .groupBy($"segment", $"event_type")
        .agg(sum($"n").as("n"))
        .orderBy($"segment", $"event_type")
    }),

    // §2.10 (extra): NATIVE session windows — session_window(gap) in a
    // streaming aggregation, the built-in declarative twin of st3's
    // flatMapGroupsWithState sessionizer. APPEND mode + watermark:
    // a session emits exactly once, when the watermark passes its end
    // (last event + gap), so state holds only OPEN sessions inside the
    // watermark horizon — at 100 TB/day that's the live-user set, not
    // the history. Flush sentinels are staged at max+6h/max+7h
    // (the 4h gap + 1h watermark delay must both be cleared before the
    // last real session's end is passed) so every real session closes
    // deterministically; their own never-closing session is filtered,
    // stays in final state, and dies with the query.
    "st10_session_window" -> ((s, d) => {
      import s.implicits._
      val out = RepoPaths.target("graft_stream/st10_out")
      KVTable.deleteRecursively(out)
      val ev = Tables.events(s, d)
      val stage = stageOnce(s, "st10", d, version = 2) { dir =>
        val maxNs = ev.agg(max($"ts")).as[Long].head()
        def flush(h: Long): Unit = ev.limit(1)
          .withColumn("ts", lit(maxNs + h * 3600L * 1000000000L))
          .withColumn("user_id", lit(-1L))
          .coalesce(1).write.mode("append").parquet(dir)
        // sentinels stamped strictly after the real events — pickup
        // order must not hinge on write-clock ties (Staging.ordered)
        graft.streaming.Staging.ordered(dir)(
          () => ev.filter($"user_id" < 100).coalesce(1)
            .write.mode("overwrite").parquet(dir),
          () => flush(6L),
          () => flush(7L))
      }
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .withColumn("tsc", expr("CAST(ts DIV 1000000000 AS TIMESTAMP)"))
      val agg = src.withWatermark("tsc", "1 hour")
        .groupBy(session_window($"tsc", "4 hours"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
      withBoundedStreamRun(s) {
        val q = agg.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.streaming.IdempotentSink.parquet(out)(
              batch.select(col("user_id"),
                unix_timestamp(col("session_window.start")).as("start_s"),
                unix_timestamp(col("session_window.end")).as("end_s"),
                col("n_events")), batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out).filter($"user_id" >= 0)
        .orderBy($"user_id", $"start_s")
    }),

    // ST12 (extra): the CDC feed as a STANDING STREAM — m14/m16's
    // change history consumed through the graft-cdc readStream source
    // (sources/kv/KVCdc.scala): offset = version-log cutoff, stepTs=1
    // rate-limits each trigger to one mutation round, so the same
    // three-round script arrives as three micro-batches of net-change
    // rows (bucket-local dual-cutoff replay inside the scan — no
    // shuffle, no state store). The idempotent sink records each
    // batch; round = batchId + 1 by the rate limit's construction.
    // This is m16's catch-up loop turned into a standing incremental-
    // MV feed: a consumer folds each batch into derived state at
    // O(churn), forever.
    "st12_cdc_stream" -> ((s, d) => {
      import s.implicits._
      val t = KVTable(s, base("st12"), wipe = true)
      val o = Tables.orders(s, d)
      putOrdersBase(t, o)
      t.compact()
      mutateOrders(t, o)
      val out = RepoPaths.target("graft_stream/st12_out")
      KVTable.deleteRecursively(out)
      val src = s.readStream.format("graft-cdc")
        .option("path", base("st12"))
        .option("startTs", "1").option("stepTs", "1")
        .load()
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.streaming.IdempotentSink.parquet(out)(batch, batchId)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out)
        .select((col(graft.streaming.IdempotentSink.COL) + 1)
            .cast("long").as("round"),
          $"key", $"change_type",
          $"old_value".cast("long").as("old_value"),
          $"new_value".cast("long").as("new_value"))
        .orderBy($"round", $"key")
    }),

    // ST13 (extra): STANDING incremental-MV maintenance — the m16 +
    // st12 composition the CDC source exists for: the graft-cdc stream
    // delivers each mutation round as a micro-batch of net-change rows,
    // and foreachBatch folds ONLY the diff into a derived per-group SUM
    // kept in a second KV table. Exactly-once without a transactional
    // sink: the fold reads the MV AS OF THE PREVIOUS CUTOFF
    // (resolvedAsOf — the MV is itself versioned, one version per
    // cutoff) and writes the new totals at the batch's own cutoff ts,
    // so a replayed batch recomputes from the same base and lands the
    // same version — latest-wins absorbs it (KVCdcSpec pins the
    // double-apply). At 100 TB the refresh costs O(churn) per trigger,
    // forever; the oracle recomputes the aggregate from scratch, so
    // the gate proves streaming-incremental == batch.
    "st13_cdc_apply_stream" -> ((s, d) => withBoundedStreamRun(s) {
      import s.implicits._
      val t = KVTable(s, base("st13"), wipe = true)
      val o = Tables.orders(s, d)
      putOrdersBase(t, o)
      t.compact()
      mutateOrders(t, o)
      val agg = KVTable(s, base("st13_agg"), wipe = true)
      agg.put(t.resolvedAsOf(1L)
        .groupBy(($"key" % 100).as("key"))
        .agg(sum($"value".cast("long")).as("total"))
        .select($"key", lit("A").as("family"), lit("sum").as("qualifier"),
          $"total".cast("string").as("value"), lit(1L).as("ts")))
      val src = s.readStream.format("graft-cdc")
        .option("path", base("st13"))
        .option("startTs", "1").option("stepTs", "1")
        .load()
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          cdcApplyBatch(agg)(batch, batchId)
          // register the committed cutoff so the base table's
          // compactions pick a safe retention horizon (compactSafely)
          t.commitCdcCutoff("st13_mv", 2L + batchId)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      agg.resolved()
        .select($"key".as("grp"), $"value".cast("long").as("total"))
        .orderBy($"grp")
    }),

    // §2.10 (extra): stream-stream LEFT OUTER interval join — st5's
    // inner match plus the UNMATCHED clicks, which a streaming join
    // can only emit once the watermark proves no in-interval purchase
    // can still arrive (state eviction = null-extension time). Two
    // far-future sentinel PAIRS (one per side, mtime-ordered after the
    // real data) advance both sides' watermarks and then trigger the
    // cleanup batch in which the null-extended rows land — the st2
    // flush discipline applied to join state. At 100 TB/day the join
    // state is still watermark-horizon-bounded per side; the outer
    // rows add no state, only deferred emission.
    "st15_stream_left_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val stage = stageOnce(s, "st15", d, version = 3) { dir =>
        val maxNs = ev.agg(max($"ts")).as[Long].head()
        // both sides' sentinels share ONE file per flush step: each
        // micro-batch costs a full state-store commit cycle across
        // every partition of all four join state stores, so batch
        // count — not row count — dominates at test scale; 3 batches
        // total (data, watermark-advance, eviction). In production,
        // event-time-ordered ingestion drains outer state continuously
        // — the per-trigger commit cost amortizes over the interval.
        def sentinelPair(hours: Long): Unit = {
          val base = ev.limit(1)
            .withColumn("ts", lit(maxNs + hours * 3600L * 1000000000L))
            .withColumn("user_id", lit(-1L))
          base.withColumn("event_type", lit("click"))
            .unionByName(base.withColumn("event_type", lit("purchase")))
            .coalesce(1).write.mode("append").parquet(dir)
        }
        graft.streaming.Staging.ordered(dir)(
          () => ev.coalesce(1).write.mode("overwrite").parquet(dir),
          () => sentinelPair(240L),
          () => sentinelPair(241L))
      }
      val schema = ev.schema
      def side(tpe: String, prefix: String) =
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .filter($"event_type" === tpe)
          .select($"user_id".as(s"${prefix}_user"),
            $"event_id".as(s"${prefix}_id"),
            expr("CAST(ts DIV 1000000000 AS TIMESTAMP)").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "1 hour")
      val joined = side("click", "c").join(side("purchase", "p"),
        $"c_user" === $"p_user" &&
          $"p_ts" >= $"c_ts" &&
          $"p_ts" < $"c_ts" + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      val out = RepoPaths.target("graft_stream/st15_out")
      KVTable.deleteRecursively(out)
      withBoundedStreamRun(s) {
        val q = joined.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.streaming.IdempotentSink.parquet(out)(
              batch.filter(col("c_user") >= 0)
                .select(col("c_user").as("user_id"),
                  col("c_id").as("click_id"), col("p_id").as("purchase_id"),
                  (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
                    .as("gap_sec")), batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out)
        .orderBy($"user_id", $"click_id", $"purchase_id")
    }),

    // §2.10 (extra): STREAMING heavy hitters — the mergeable-sketch
    // story run over a stream: each micro-batch reduces to a partial
    // count-min sketch (≤ d×w cells no matter the batch size) landed
    // in an idempotent batch=<id> partition, and the standing answer
    // is the per-cell SUM across batches — the associative merge that
    // makes the sketch replay-safe (a re-run batch OVERWRITES its own
    // partition) and exactly equal to the one-shot batch sketch, which
    // is what the oracle computes. State per batch is sketch-sized;
    // nothing driver-side; at 100 TB/day the feed ships 2048 cells per
    // trigger. Candidates are the exact top-20 (an_heavy_hitters's
    // oracle-portability discipline).
    "st14_stream_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      import graft.llm.TextOps.sharedHash
      val out = RepoPaths.target("graft_stream/st14_out")
      KVTable.deleteRecursively(out)
      val ev = Tables.events(s, d).select($"user_id")
      val stage = stageOnce(s, "st14", d, version = 1) { dir =>
        ev.repartition(4).write.mode("overwrite").parquet(dir)
      }
      val W = 512L
      val D = 4
      def cell(j: Int, c: org.apache.spark.sql.Column) =
        pmod(sharedHash(concat(lit(s"cm$j:"), c.cast("string"))), lit(W))
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      withBoundedStreamRun(s) {
        val q = src.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val partial = batch.select(posexplode(array(
                (0 until D).map(j => cell(j, col("user_id"))): _*))
                .as(Seq("j", "cell")))
              .groupBy(col("j"), col("cell"))
              .agg(count(lit(1)).as("cnt"))
            graft.streaming.IdempotentSink.parquet(out)(partial, batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val sketch = graft.streaming.IdempotentSink.read(s, out)
        .groupBy($"j", $"cell").agg(sum($"cnt").as("cnt"))
      val top = ev.groupBy($"user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy($"n_exact".desc, $"user_id".asc).limit(20)
      top.select($"user_id", $"n_exact",
          posexplode(array((0 until D).map(j => cell(j, $"user_id")): _*))
            .as(Seq("j", "cell")))
        .join(broadcast(sketch), Seq("j", "cell"))
        .groupBy($"user_id", $"n_exact")
        .agg(min($"cnt").as("est"))
        .orderBy($"n_exact".desc, $"user_id".asc)
    }),

    // §2.10: windowed aggregation with watermark (beyond the reference's
    // surface, built-in Structured Streaming). APPEND mode: a window
    // emits exactly once, when the watermark passes its end — so state
    // holds only the watermark horizon of windows (complete mode would
    // retain every window ever seen AND re-emit the whole aggregate
    // each batch). The sink is a distributed parquet append per
    // micro-batch; nothing lands on the driver. Two far-future flush
    // rows are staged as the LAST files so the final micro-batches push
    // the watermark past every real window's end — the streaming
    // analogue of closing the books — making emission deterministic
    // without relying on a trailing no-data batch.
    "st2_stream_window" -> ((s, d) => {
      import s.implicits._
      val out = RepoPaths.target("graft_stream/st2_out")
      KVTable.deleteRecursively(out)
      val ev = Tables.events(s, d)
      val stage = stageOnce(s, "st2", d, version = 2) { dir =>
        val maxNs = ev.agg(max($"ts")).as[Long].head()
        def flush(h: Long): Unit = ev.limit(1)
          .withColumn("ts", lit(maxNs + h * 3600L * 1000000000L))
          .withColumn("event_type", lit("__flush__"))
          .coalesce(1).write.mode("append").parquet(dir)
        // explicit mtime order: the flush sentinels MUST be picked up
        // after every real event (graft.streaming.Staging)
        graft.streaming.Staging.ordered(dir)(
          () => ev.coalesce(1).write.mode("overwrite").parquet(dir),
          () => flush(3L),
          () => flush(4L))
      }
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .withColumn("tsc", expr("CAST(ts DIV 1000000000 AS TIMESTAMP)"))
      val agg = src.withWatermark("tsc", "1 hour")
        .groupBy(window($"tsc", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
      withBoundedStreamRun(s) {
        val q = agg.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.streaming.IdempotentSink.parquet(out)(
              batch.select(unix_timestamp($"window.start").as("hour_start"),
                col("event_type"), col("n")), batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out)
        .filter($"event_type" =!= "__flush__")
        .orderBy($"hour_start", $"event_type")
    }),

    // §2.10 (extra): expectation-gated STREAMING ingest — m20's
    // routing contract on the stream: every micro-batch classifies
    // per-row and routes landed/quarantined rows through the
    // batch-idempotent sink (deterministic batch=<id> dirs, replay
    // overwrites), so a restarted query re-executing a committed batch
    // cannot duplicate EITHER side of the split. The report reads both
    // sinks back; the oracle is the same classification in SQL, so a
    // row lost or double-routed anywhere in the stream fails the hash.
    "st16_stream_quarantine" -> ((s, d) => {
      import s.implicits._
      val outL = RepoPaths.target("graft_stream/st16_landed")
      val outQ = RepoPaths.target("graft_stream/st16_quar")
      Seq(outL, outQ).foreach(KVTable.deleteRecursively)
      val ev = Tables.events(s, d)
      val stage = stageOnce(s, "st16", d, version = 1) { dir =>
        ev.write.mode("overwrite").parquet(dir)
      }
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "16").parquet(stage)
      val classified = src.select($"event_id", $"user_id", $"event_type",
          round($"value" * 100).cast("long").as("cents"), $"value")
        .withColumn("disposition",
          when($"value" > 100.0, "q_value_cap")
            .when($"event_type" === "error", "q_not_error")
            .when($"user_id" % 97 === 0, "q_user_blocked")
            .otherwise("landed"))
      withBoundedStreamRun(s) {
        val q = classified.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val b = batch.persist()
            try {
              graft.streaming.IdempotentSink.parquet(outL)(
                b.filter(col("disposition") === "landed")
                  .select(col("event_id"), col("cents")), batchId)
              graft.streaming.IdempotentSink.parquet(outQ)(
                b.filter(col("disposition") =!= "landed")
                  .select(col("event_id"), col("disposition"),
                    col("cents")), batchId)
            } finally { b.unpersist(); () }
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, outL)
        .select(lit("landed").as("disposition"), $"cents")
        .unionByName(graft.streaming.IdempotentSink.read(s, outQ)
          .select($"disposition", $"cents"))
        .groupBy($"disposition")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .orderBy($"disposition")
    }),

    // §2.10 (extra): dedup-at-ingest — at-least-once delivery (every
    // third event re-delivered) made exactly-once by event_id via
    // dropDuplicatesWithinWatermark; state is bounded by the watermark
    // horizon, not by the number of keys ever seen (streaming/
    // StreamDedup.scala). The 90-day horizon exceeds the staged data's
    // 30-day span, so within this run the dedup is exact and the oracle
    // is plain DISTINCT.
    // §2.10 (extra): st17 — streaming ANN ingest, the embedding twin of
    // st8's dedup ingest: micro-batches of NEW vectors probe the
    // PERSISTED cent_id-bucketed IVF index (AnnStore) — the standing
    // corpus is never re-assigned, the index side of every batch's
    // probe join plans Exchange-free, and only batch-sized top-k rows
    // flow to the executor-side sink. Results are batch-invariant
    // (each query vector probes independently), so the oracle is the
    // batch-equivalent IVF probe replay.
    "st17_ann_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.llm.{AnnStore, Similarity}
      val out = RepoPaths.target("graft_stream/st17_out")
      KVTable.deleteRecursively(out)
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter($"vec_id" % 25 =!= 0)
      val cents = graft.Materialize.cut(Similarity.ivfCentroids(corpus, 40))
      val index = AnnStore.ivfIndex(s, d, corpus, cents)
      val batchAll = emb.filter($"vec_id" % 25 === 0)
      val stage = stageOnce(s, "st17", d, version = 1) { dir =>
        (0 to 1).foreach(g => batchAll
          .filter(expr("(vec_id DIV 25) % 2") === g)
          .coalesce(1).write.mode("append").parquet(dir))
      }
      val src = s.readStream.schema(batchAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      withBoundedStreamRun(s) {
        val q = src.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.GraftSession.withMicroBatchPlanning(batch.sparkSession) {
              graft.streaming.IdempotentSink.parquet(out)(
                Similarity.ivfProbe(cents, index, batch, k = 3, nprobe = 2),
                batchId)
            }
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out)
        .orderBy($"query_id", $"rank")
    }),

    "st4_stream_dedup" -> ((s, d) => {
      import s.implicits._
      val out = RepoPaths.target("graft_stream/st4_out")
      val ckpt = RepoPaths.target("graft_stream/st4_ckpt")
      Seq(out, ckpt).foreach(KVTable.deleteRecursively)
      val ev = Tables.events(s, d)
        .withColumn("tsc", expr("CAST(ts DIV 1000000000 AS TIMESTAMP)"))
        .select($"event_id", $"tsc", $"user_id", $"value")
      val stage = stageOnce(s, "st4", d, version = 1) { dir =>
        ev.unionByName(ev.filter($"event_id" % 3 === 0))
          .write.mode("overwrite").parquet(dir)
      }
      withBoundedStreamRun(s) {
        graft.streaming.StreamDedup
          .run(s, stage, ev.schema, out, ckpt, keys = Seq("event_id"),
            eventTimeCol = "tsc", horizon = "90 days")
      }
        .select($"event_id", $"user_id",
          round($"value" * 100).cast("long").as("cents"))
        .orderBy($"event_id")
    }),

    // §2.10: stateful sessionization via flatMapGroupsWithState —
    // closed sessions (4h inactivity gap) per user; the open tail stays
    // in state and is not emitted.
    "st3_sessionize" -> ((s, d) => {
      import s.implicits._
      val stage = stageOnce(s, "st3", d, version = 1) { dir =>
        Tables.events(s, d).write.mode("overwrite").parquet(dir)
      }
      withBoundedStreamRun(s) {
        graft.streaming.Sessionize
          .run(s, stage, Tables.events(s, d).schema,
            sinkPath = base("st3_sessions"), gapSec = 14400L)
      }.orderBy($"user_id", $"session_start")
    }),

    // §2.10 (extra): stream-stream INTERVAL join — clicks matched to
    // the same user's purchases within 30 minutes. Both sides carry
    // watermarks, so at 100 TB/day each side's join state holds only
    // the watermark horizon (1h) + interval (30min) of events per
    // user, evicted as event time advances — never the full history.
    // The staged input is a single file on purpose: one AvailableNow
    // micro-batch means the watermark can't drop in-window matches
    // mid-run, which keeps the result equal to the static join the
    // oracle runs.
    "st5_stream_join" -> ((s, d) => {
      import s.implicits._
      val stage = stageOnce(s, "st5", d, version = 1) { dir =>
        Tables.events(s, d).write.mode("overwrite").parquet(dir)
      }
      val schema = Tables.events(s, d).schema
      // unbounded maxFilesPerTrigger pins the drop-free single-batch
      // semantics explicitly (all staged files in one micro-batch, so
      // the watermark can't discard in-window matches mid-run)
      def side(tpe: String, prefix: String) =
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", Int.MaxValue.toString)
          .parquet(stage)
          .filter($"event_type" === tpe)
          .select($"user_id".as(s"${prefix}_user"),
            $"event_id".as(s"${prefix}_id"),
            expr("CAST(ts DIV 1000000000 AS TIMESTAMP)").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "1 hour")
      val clicks = side("click", "c")
      val purchases = side("purchase", "p")
      val joined = clicks.join(purchases,
        $"c_user" === $"p_user" &&
          $"p_ts" >= $"c_ts" &&
          $"p_ts" < $"c_ts" + expr("INTERVAL 30 MINUTES"))
      val out = RepoPaths.target("graft_stream/st5_out")
      KVTable.deleteRecursively(out)
      // Sink: each micro-batch's matches append to parquet from the
      // executors — the match stream never materializes on the driver
      // (the memory sink here would hold the full click×purchase
      // result in driver heap, the first thing to break at 100 TB).
      withBoundedStreamRun(s) {
        val q0 = joined.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.streaming.IdempotentSink.parquet(out)(
              batch.select(col("c_user").as("user_id"),
                col("c_id").as("click_id"), col("p_id").as("purchase_id"),
                (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
                  .as("gap_sec")), batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q0.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out)
        .orderBy($"user_id", $"click_id", $"purchase_id")
    }),

    // §2.10 (extra): streaming running statistics — per-type power
    // sums carried across micro-batches in mapGroupsWithState state
    // (streaming/StreamStats.scala). Staged as 2 files with
    // maxFilesPerTrigger=1, so the state crosses a genuine batch
    // boundary and the final emission equals the batch formula the
    // oracle computes (StreamStatsSpec drives 4 batches). State is
    // O(#event types) x 3 numbers at any stream volume; each batch's
    // emission upserts into a KV table (latest-wins on n) from the
    // executors — the engine's own merge is the sink.
    "st6_stream_stats" -> ((s, d) => {
      import s.implicits._
      val stage = stageOnce(s, "st6", d, version = 1) { dir =>
        Tables.events(s, d).repartition(2)
          .write.mode("overwrite").parquet(dir)
      }
      withBoundedStreamRun(s) {
        graft.streaming.StreamStats
          .run(s, stage, Tables.events(s, d).schema, base("st6_stats"))
      }.orderBy($"event_type")
    }),

    // §2.10 (extra): st8 — near-dup cluster assignment AT INGEST: the
    // llm_dedup_clusters_incr op run per micro-batch from foreachBatch,
    // the composition a streaming training-data pipeline actually runs.
    // The standing corpus (labels + band index) is computed once and
    // probed by every batch; each batch forms its own local components
    // (the incremental contract — batch-boundary-deterministic because
    // the staged files partition the ingest by doc_id group, and each
    // batch's result depends only on the fixed standing state).
    // Assignments append to parquet from the executors.
    "st8_cluster_ingest" -> ((s, d) => {
      import s.implicits._
      val out = RepoPaths.target("graft_stream/st8_out")
      KVTable.deleteRecursively(out)
      val (corpus, labels, index) =
        graft.llm.LlmQueries.standingDedupState(s, d)
      val batchAll = Tables.documents(s, d).filter($"doc_id" % 5 === 0)
      val stage = stageOnce(s, "st8", d, version = 1) { dir =>
        (0 to 1).foreach(g => batchAll
          .filter(expr("(doc_id DIV 5) % 2") === g)
          .coalesce(1).write.mode("append").parquet(dir))
      }
      val src = s.readStream.schema(batchAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      withBoundedStreamRun(s) {
        val q = src.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // trigger-sized work: AQE off for the batch body (the
            // streaming engine already runs the stream itself that way).
            // The body executes in the micro-batch CLONE session — the
            // toggle must land on batch.sparkSession, not the outer `s`
            // (where it would be both ineffective and racy).
            graft.GraftSession.withMicroBatchPlanning(batch.sparkSession) {
              graft.streaming.IdempotentSink.parquet(out)(
                graft.llm.Dedup
                  .clustersIncremental(corpus, labels, index, batch, 0.8),
                batchId)
            }
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.IdempotentSink.read(s, out).orderBy($"doc_id")
    }),

    // §2.10 (extra): st7 — event-time z-score ALERTS against the
    // running stats (the monitoring twin of an_zscore, on st6's
    // power-sum state): each event scores against the stats of all
    // STRICTLY EARLIER events of its type and alerts when |z| > 3.
    // Staged as time-ordered quartile files so event time advances
    // batch over batch — the alert decision is a pure function of the
    // data (exact integer power sums), so a replay emits identical
    // alerts and the DuckDB oracle reproduces them with a strictly-
    // preceding window frame. State is 3 longs per key; only alerts
    // flow to the executor-side parquet sink.
    "st7_zscore_alerts" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      // three time-ordered files = three genuine stateful micro-batches
      // (the state-crossing proof) without paying per-batch state-store
      // commits for more batches than the semantics need
      val stage = stageOnce(s, "st7", d, version = 2) { dir =>
        val bounds = ev.stat.approxQuantile("ts", Array(1.0 / 3, 2.0 / 3), 0.0)
        val cuts = Long.MinValue +: bounds.map(_.toLong) :+ Long.MaxValue
        // event-time pickup order stamped explicitly (Staging.ordered)
        graft.streaming.Staging.ordered(dir)(
          cuts.sliding(2).collect {
            case Array(lo, hi) => () =>
              ev.filter($"ts" > lo && $"ts" <= hi)
                .coalesce(1).write.mode("append").parquet(dir)
          }.toSeq: _*)
      }
      withBoundedStreamRun(s) {
        graft.streaming.StreamStats
          .alerts(s, stage, ev.schema, RepoPaths.target("graft_stream/st7_out"))
      }.select($"event_type", $"event_id", $"sec", $"cents", $"z")
        .orderBy($"event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "m1_update" ->
      """SELECT p_partkey AS key,
        |       CAST(CASE WHEN p_type = 'ECONOMY' THEN p_size + 100
        |                 ELSE p_size END AS BIGINT) AS size
        |FROM part ORDER BY key""".stripMargin,
    "m2_put_versioned" ->
      """SELECT c_custkey AS key,
        |       CAST(round(c_acctbal*100) AS BIGINT)
        |         + CASE WHEN c_mktsegment = 'MACHINERY' THEN 111 ELSE 0 END
        |         AS cents
        |FROM customer ORDER BY key""".stripMargin,
    "m11_version_asof" ->
      """SELECT c_custkey AS key,
        |       CAST(round(c_acctbal*100) AS BIGINT) AS cents
        |FROM customer ORDER BY key""".stripMargin,
    "m12_merge_into" ->
      """WITH base AS (
        |  SELECT c_custkey AS key,
        |         CAST(round(c_acctbal*100) AS BIGINT)
        |           + CASE WHEN c_custkey % 5 = 0 THEN 111 ELSE 0 END AS cents
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS key, CAST(42 AS BIGINT) AS cents
        |  FROM customer WHERE (c_custkey + 1000000) % 5 = 1)
        |SELECT key, cents FROM base WHERE key % 10 <> 3
        |ORDER BY key""".stripMargin,
    "m13_sql_update" ->
      """SELECT p_partkey AS key,
        |       CAST(p_size + CASE WHEN p_partkey % 3 = 0 THEN 500 ELSE 0 END
        |            AS BIGINT) AS size
        |FROM part ORDER BY key""".stripMargin,
    "m15_merge_cow" ->
      """WITH base AS (
        |  SELECT c_custkey AS key,
        |         CAST(round(c_acctbal*100) AS BIGINT)
        |           + CASE WHEN c_custkey % 5 = 0 THEN 111 ELSE 0 END AS cents
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS key, CAST(42 AS BIGINT) AS cents
        |  FROM customer WHERE (c_custkey + 1000000) % 5 = 1)
        |SELECT key, cents FROM base WHERE key % 10 <> 3
        |ORDER BY key""".stripMargin,
    "m18_compact_retain" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT key, 'delete' AS change_type,
        |       CASE WHEN key % 7 = 0 THEN cents + 100 ELSE cents END
        |         AS old_value,
        |       CAST(NULL AS BIGINT) AS new_value
        |FROM base WHERE key % 5 = 0
        |UNION ALL
        |SELECT key + 2000000, 'insert', CAST(NULL AS BIGINT),
        |       CAST(42 AS BIGINT)
        |FROM base WHERE key % 3 = 0
        |ORDER BY key""".stripMargin,
    "m17_merge_auto" ->
      """SELECT c_custkey AS key,
        |       CAST(round(c_acctbal*100)
        |         + CASE WHEN c_custkey % 97 = 0 THEN 57 ELSE 50 END
        |         AS BIGINT) AS cents
        |FROM customer ORDER BY key""".stripMargin,
    "m19_secondary_index" ->
      """WITH seg AS (
        |  SELECT c_custkey AS key,
        |         CASE WHEN c_custkey % 7 = 0 THEN 'BUILDING'
        |              WHEN c_custkey % 10 = 0 THEN 'MACHINERY'
        |              ELSE c_mktsegment END AS seg,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        |  FROM customer)
        |SELECT key, bal FROM seg WHERE seg = 'MACHINERY'
        |ORDER BY key""".stripMargin,
    "m22_restore" ->
      """WITH base AS (SELECT c_custkey AS key,
        |                CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |              FROM customer),
        |fin AS (SELECT key, cents + CASE WHEN key % 5 = 0
        |                                 THEN 5 ELSE 0 END AS cents
        |        FROM base)
        |SELECT key % 100 AS grp, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS total
        |FROM fin GROUP BY key % 100 ORDER BY grp""".stripMargin,
    "m21_clone" ->
      """WITH base AS (SELECT c_custkey AS key,
        |                CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |              FROM customer),
        |snap AS (SELECT key, cents + CASE WHEN key % 3 = 0
        |                                  THEN 7 ELSE 0 END AS cents
        |         FROM base),
        |fin AS (SELECT key, cents + CASE WHEN key % 5 = 0
        |                                 THEN 100 ELSE 0 END AS cents
        |        FROM snap),
        |u AS (SELECT 'clone' AS side, key, cents FROM snap
        |      UNION ALL SELECT 'source', key, cents FROM fin)
        |SELECT side, key % 100 AS grp, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS total
        |FROM u GROUP BY side, key % 100 ORDER BY side, grp""".stripMargin,
    "m20_quarantine" ->
      """WITH cls AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN value > 100.0 THEN 'q_value_cap'
        |              WHEN event_type = 'error' THEN 'q_not_error'
        |              WHEN user_id % 97 = 0 THEN 'q_user_blocked'
        |              ELSE 'landed' END AS disposition
        |  FROM events)
        |SELECT disposition, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM cls GROUP BY disposition ORDER BY disposition""".stripMargin,
    "st16_stream_quarantine" ->
      """WITH cls AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN value > 100.0 THEN 'q_value_cap'
        |              WHEN event_type = 'error' THEN 'q_not_error'
        |              WHEN user_id % 97 = 0 THEN 'q_user_blocked'
        |              ELSE 'landed' END AS disposition
        |  FROM events)
        |SELECT disposition, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM cls GROUP BY disposition ORDER BY disposition""".stripMargin,
    // batch-equivalent replay of the streaming IVF ingest: per-batch
    // probes are independent per query vector, so the union of batch
    // results equals one batch probe over the whole query split —
    // identical to llm_ann_ivf_incr's oracle shape
    "st17_ann_ingest" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |co AS (SELECT vec_id, e FROM e WHERE vec_id % 25 <> 0),
        |c AS (SELECT vec_id AS cent_id, e AS ec FROM co WHERE vec_id % 40 = 0),
        |ab AS (SELECT v.vec_id,
        |       arg_max(c.cent_id, ${graft.llm.LlmQueries.ASSIGN_KEY}) AS cent_id
        |       FROM co v CROSS JOIN c GROUP BY v.vec_id),
        |aq AS (SELECT vec_id, cent_id FROM (
        |  SELECT v.vec_id, c.cent_id,
        |         row_number() OVER (PARTITION BY v.vec_id
        |           ORDER BY round(list_cosine_similarity(v.e, c.ec), 6) DESC,
        |                    c.cent_id) AS r
        |  FROM e v CROSS JOIN c WHERE v.vec_id % 25 = 0) WHERE r <= 2),
        |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS nb_id,
        |                  round(list_cosine_similarity(qe.e, be.e), 6) AS cos
        |           FROM aq q JOIN ab b USING (cent_id)
        |           JOIN e qe ON qe.vec_id = q.vec_id
        |           JOIN e be ON be.vec_id = b.vec_id
        |           WHERE b.vec_id <> q.vec_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "m16_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders),
        |final AS (
        |  SELECT key,
        |         cents + CASE WHEN key % 7 = 0 THEN 100 ELSE 0 END AS cents
        |  FROM base WHERE key % 5 <> 0
        |  UNION ALL
        |  SELECT key + 2000000, 42 FROM base WHERE key % 3 = 0)
        |SELECT key % 100 AS grp, CAST(sum(cents) AS BIGINT) AS total
        |FROM final GROUP BY 1 ORDER BY grp""".stripMargin,
    "m14_changes_between" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT key, 'delete' AS change_type, cents AS old_value,
        |       CAST(NULL AS BIGINT) AS new_value
        |FROM base WHERE key % 5 = 0
        |UNION ALL
        |SELECT key, 'update', cents, cents + 100
        |FROM base WHERE key % 7 = 0 AND key % 5 <> 0
        |UNION ALL
        |SELECT key + 2000000, 'insert', CAST(NULL AS BIGINT),
        |       CAST(42 AS BIGINT)
        |FROM base WHERE key % 3 = 0
        |ORDER BY key""".stripMargin,
    "st13_cdc_apply_stream" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders),
        |final AS (
        |  SELECT key,
        |         cents + CASE WHEN key % 7 = 0 THEN 100 ELSE 0 END AS cents
        |  FROM base WHERE key % 5 <> 0
        |  UNION ALL
        |  SELECT key + 2000000, 42 FROM base WHERE key % 3 = 0)
        |SELECT key % 100 AS grp, CAST(sum(cents) AS BIGINT) AS total
        |FROM final GROUP BY 1 ORDER BY grp""".stripMargin,
    "st12_cdc_stream" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS round, key, 'update' AS change_type,
        |       cents AS old_value, cents + 100 AS new_value
        |FROM base WHERE key % 7 = 0
        |UNION ALL
        |SELECT 2, key, 'delete',
        |       CASE WHEN key % 7 = 0 THEN cents + 100 ELSE cents END,
        |       CAST(NULL AS BIGINT)
        |FROM base WHERE key % 5 = 0
        |UNION ALL
        |SELECT 3, key + 2000000, 'insert', CAST(NULL AS BIGINT),
        |       CAST(42 AS BIGINT)
        |FROM base WHERE key % 3 = 0
        |ORDER BY round, key""".stripMargin,
    "m3_increment" ->
      """SELECT user_id AS key,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS counter
        |FROM events GROUP BY user_id ORDER BY key""".stripMargin,
    "m4_delete" ->
      """SELECT c_custkey AS key,
        |       CAST(CASE WHEN c_custkey % 10 IN (1, 2) THEN 1 ELSE 2 END
        |            AS BIGINT) AS n_cells
        |FROM customer WHERE c_custkey % 10 <> 0 ORDER BY key""".stripMargin,
    "m5_bulk_update" ->
      """SELECT p_partkey AS key,
        |       CAST(round(p_retailprice*100) AS BIGINT)
        |         + CASE WHEN p_size > 25 THEN 1000 ELSE 0 END AS cents
        |FROM part ORDER BY key""".stripMargin,
    "m6_bulk_load" ->
      """SELECT o_orderkey AS key, o_orderstatus AS status,
        |       CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |FROM orders ORDER BY key""".stripMargin,
    "m7_bulk_delete" ->
      """SELECT o_orderkey AS key, o_orderstatus AS status
        |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY key""".stripMargin,
    "m8_copy" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "m9_ddl" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "m10_ttl" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
        |                  CAST(round(value*100) AS BIGINT) AS cents
        |           FROM events),
        |m AS (SELECT max(sec) AS mx FROM e),
        |r AS (SELECT user_id, sec, cents,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY sec DESC, CAST(cents AS VARCHAR) DESC) AS rn
        |      FROM e)
        |SELECT user_id AS key, cents FROM r
        |WHERE rn = 1 AND sec > (SELECT mx FROM m) - 21600
        |ORDER BY key""".stripMargin,
    "s8_upsert_sink" ->
      """SELECT c_custkey AS key,
        |       CAST(round(c_acctbal*100) AS BIGINT)
        |         + CASE WHEN c_mktsegment = 'BUILDING' THEN 10000 ELSE 0 END
        |         AS cents
        |FROM customer ORDER BY key""".stripMargin,
    "s9_bulk_sink" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s10_kv_merge_read" ->
      """SELECT o_orderkey AS key,
        |       CAST(round(o_totalprice*100) AS BIGINT)
        |         + CASE WHEN o_orderkey % 10 = 0 THEN 5000 ELSE 0 END
        |         AS cents
        |FROM orders ORDER BY key""".stripMargin,
    "st1_stream_merge" ->
      """SELECT user_id AS key, CAST(round(value*100) AS BIGINT) AS cents
        |FROM (SELECT user_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY epoch_ns(ts) DESC) AS rn
        |      FROM events) WHERE rn = 1 ORDER BY key""".stripMargin,
    "st9_stream_merge_into" ->
      """WITH ev AS (
        |  SELECT user_id AS key,
        |         max(CAST(round(value*100) AS BIGINT)) AS mx
        |  FROM events GROUP BY 1),
        |base AS (
        |  SELECT c_custkey AS key,
        |         CAST(round(c_acctbal*100) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT coalesce(b.key, e.key) AS key,
        |       CASE WHEN e.key IS NULL THEN b.cents
        |            WHEN b.key IS NULL THEN e.mx
        |            ELSE greatest(b.cents, e.mx) END AS cents
        |FROM base b FULL OUTER JOIN ev e ON b.key = e.key
        |ORDER BY key""".stripMargin,
    "st11_stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'none') AS segment,
        |       e.event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,
    "st10_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec,
        |                  event_id
        |           FROM events WHERE user_id < 100),
        | m AS (SELECT user_id, tsec, event_id,
        |              CASE WHEN lag(tsec) OVER w IS NULL
        |                     OR tsec - lag(tsec) OVER w >= 14400
        |                   THEN 1 ELSE 0 END AS new_sess
        |       FROM e
        |       WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        | g AS (SELECT user_id, tsec,
        |              sum(new_sess) OVER (PARTITION BY user_id
        |                ORDER BY tsec, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS sid
        |       FROM m)
        |SELECT user_id, CAST(min(tsec) AS BIGINT) AS start_s,
        |       CAST(max(tsec) + 14400 AS BIGINT) AS end_s,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_s""".stripMargin,
    "st2_stream_window" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "st4_stream_dedup" ->
      """SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,
    "st15_stream_left_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |             epoch_ns(ts) // 1000000000 AS cts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |        epoch_ns(ts) // 1000000000 AS pts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id,
        |       p.pts - c.cts AS gap_sec
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.cts AND p.pts < c.cts + 1800
        |ORDER BY c.user_id, c.click_id, p.purchase_id NULLS FIRST""".stripMargin,
    // batch recompute of the merged stream sketch — per-cell SUM over
    // partial sketches is exact, so the streaming answer must equal
    // the one-shot an_heavy_hitters computation
    "st14_stream_heavy_hitters" ->
      """WITH ev AS (SELECT user_id FROM events),
        |cm AS (SELECT g.j,
        |         ('0x' || substr(md5('cm' || g.j || ':' || user_id::VARCHAR),
        |            1, 15))::BIGINT % 512 AS cell
        |       FROM ev, generate_series(0, 3) AS g(j)),
        |cells AS (SELECT j, cell, CAST(count(*) AS BIGINT) AS cnt
        |          FROM cm GROUP BY 1, 2),
        |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        |        FROM ev GROUP BY 1
        |        ORDER BY n_exact DESC, user_id LIMIT 20),
        |tc AS (SELECT t.user_id, t.n_exact, g.j,
        |         ('0x' || substr(md5('cm' || g.j || ':' || t.user_id::VARCHAR),
        |            1, 15))::BIGINT % 512 AS cell
        |       FROM top t, generate_series(0, 3) AS g(j))
        |SELECT user_id, n_exact, min(cnt) AS est
        |FROM tc JOIN cells USING (j, cell)
        |GROUP BY 1, 2
        |ORDER BY n_exact DESC, user_id""".stripMargin,
    "st6_stream_stats" ->
      """WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |              sum(value) AS s1, sum(value*value) AS s2
        |            FROM events GROUP BY event_type)
        |SELECT event_type, n, round(s1/n, 6) AS mean,
        |       CASE WHEN n > 1
        |            THEN round(sqrt((s2 - s1*s1/n)/(n-1)), 6) END AS sd
        |FROM st ORDER BY event_type""".stripMargin,
    "st8_cluster_ingest" ->
      ("""WITH RECURSIVE wt AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |            FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM wt, range(1, 200) r(i) WHERE i + 2 <= len(w)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |sh0 AS (SELECT doc_id, s,
        |          ('0x'||substr(md5(s),1,15))::BIGINT % 1000000007 AS h0
        |        FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db),
        |vp AS (SELECT da, db
        |       FROM common JOIN cnt ca ON da = ca.doc_id
        |                   JOIN cnt cb ON db = cb.doc_id
        |       WHERE common*1.0/(ca.n+cb.n-common) >= 0.8),
        |corp_e AS (SELECT da AS v, db AS w FROM vp
        |             WHERE da % 5 <> 0 AND db % 5 <> 0
        |           UNION SELECT db, da FROM vp
        |             WHERE da % 5 <> 0 AND db % 5 <> 0),
        |reach AS (SELECT v, w FROM corp_e
        |          UNION
        |          SELECT r.v, e.w FROM reach r JOIN corp_e e ON r.w = e.v),
        |corp_lab AS (SELECT d.doc_id,
        |               coalesce(l.cluster, d.doc_id) AS cluster
        |             FROM documents d LEFT JOIN
        |               (SELECT v AS doc_id, least(v, min(w)) AS cluster
        |                FROM reach GROUP BY v) l USING (doc_id)
        |             WHERE d.doc_id % 5 <> 0),
        |nn_e AS (SELECT da AS v, db AS w FROM vp
        |           WHERE da % 5 = 0 AND db % 5 = 0
        |             AND (da // 5) % 2 = (db // 5) % 2
        |         UNION SELECT db, da FROM vp
        |           WHERE da % 5 = 0 AND db % 5 = 0
        |             AND (da // 5) % 2 = (db // 5) % 2),
        |reach_b AS (SELECT v, w FROM nn_e
        |            UNION
        |            SELECT r.v, e.w FROM reach_b r JOIN nn_e e ON r.w = e.v),
        |comp AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS comp
        |         FROM documents d LEFT JOIN
        |           (SELECT v AS doc_id, least(v, min(w)) AS comp
        |            FROM reach_b GROUP BY v) l USING (doc_id)
        |         WHERE d.doc_id % 5 = 0),
        |nc AS (SELECT CASE WHEN da % 5 = 0 THEN db ELSE da END AS cdoc,
        |              CASE WHEN da % 5 = 0 THEN da ELSE db END AS bdoc
        |       FROM vp WHERE (da % 5 = 0) <> (db % 5 = 0)),
        |seeds AS (SELECT n.bdoc AS doc_id, min(c.cluster) AS seed
        |          FROM nc n JOIN corp_lab c ON c.doc_id = n.cdoc
        |          GROUP BY n.bdoc),
        |comp_seed AS (SELECT comp, min(seed) AS comp_seed
        |              FROM comp LEFT JOIN seeds USING (doc_id)
        |              GROUP BY comp),
        |lab AS (SELECT comp,
        |          CASE WHEN comp_seed IS NULL THEN comp
        |               ELSE least(comp_seed, comp) END AS cluster
        |        FROM comp_seed)
        |SELECT c.doc_id, l.cluster,
        |       CAST(l.cluster = c.doc_id AS BIGINT) AS keep
        |FROM comp c JOIN lab l USING (comp) ORDER BY c.doc_id""").stripMargin,
    "st7_zscore_alerts" ->
      """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn,
        |                  epoch_ns(ts) // 1000000000 AS sec,
        |                  CAST(round(value*100) AS BIGINT) AS cents
        |           FROM events),
        |w AS (SELECT event_type, event_id, sec, cents,
        |             count(*) OVER win AS n,
        |             sum(cents) OVER win AS s1,
        |             sum(cents*cents) OVER win AS s2
        |      FROM e WINDOW win AS (PARTITION BY event_type
        |        ORDER BY tsn, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_type, event_id, sec, cents,
        |             CASE WHEN n > 1 AND s2*n > s1*s1
        |                  THEN round((cents - s1*1.0/n)
        |                    / sqrt((s2 - (s1*1.0)*(s1*1.0)/n)/(n-1)), 6)
        |             END AS z
        |      FROM w)
        |SELECT event_type, event_id, sec, cents, z FROM z
        |WHERE z IS NOT NULL AND abs(z) > 3 ORDER BY event_id""".stripMargin,
    "st5_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_ns(ts) // 1000000000 AS sec FROM events)
        |SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       CAST(p.sec - c.sec AS BIGINT) AS gap_sec
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.sec >= c.sec AND p.sec < c.sec + 1800
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,
    "st3_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
        |                  CAST(round(value*100) AS BIGINT) AS cents, event_id
        |           FROM events),
        |x AS (SELECT user_id, sec, cents, event_id,
        |             CASE WHEN lag(sec) OVER w IS NULL
        |                    OR sec - lag(sec) OVER w > 14400 THEN 1 ELSE 0 END
        |               AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |s AS (SELECT user_id, sec, cents,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x),
        |g AS (SELECT user_id, sid, min(sec) AS session_start,
        |             CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(cents) AS BIGINT) AS sum_cents
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events, sum_cents FROM g
        |WHERE sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)
        |ORDER BY user_id, session_start""".stripMargin
  )
}
