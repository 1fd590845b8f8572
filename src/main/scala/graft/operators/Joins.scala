package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.3 joins (SURVEY.md).
  *
  * The reference hand-built three shuffle-avoiding join strategies against
  * the storage table (multi-get lookup, range-scan merge, fill/memoized
  * lookup — HBaseRDDFunctions.scala:72-343). On Spark, strategy choice is
  * Catalyst's + AQE: small side → broadcast hash join (the multi-get
  * analogue: no shuffle of the big side), big-big → sort-merge join (the
  * range-scan analogue). We declare intent (`broadcast`, `hint("merge")`)
  * only where the stats can't know; everything else is left to AQE, which
  * re-plans at runtime on real sizes — the correct behavior at 100 TB.
  */
object Joins {

  /** J5 `fill` (HBaseRDDFunctions.scala:96-101,278-343): rows whose value
    * is already present pass through untouched; only the missing ones are
    * looked up. At scale this halves (or better) the join input on every
    * iteration of an iterative expansion — the memoization the reference
    * built by hand, expressed as split + join + union.
    */
  def fill(in: DataFrame, key: String, value: String,
           lookup: DataFrame, lookupKey: String, lookupValue: String): DataFrame = {
    val present = in.filter(col(value).isNotNull)
    val missing = in.filter(col(value).isNull).drop(value)
      .join(lookup.select(col(lookupKey).as(key), col(lookupValue).as(value)),
        Seq(key), "left_outer")
    present.unionByName(missing.select(in.columns.map(col).toIndexedSeq: _*))
  }

  /** Salted equi-join for skewed keys: the big side spreads each key
    * over `salts` shuffle partitions deterministically; the small side
    * is replicated `salts`× so every salted partition still finds its
    * match. Use when one key dominates a shuffle (AQE's skew-join
    * split covers SMJ; this helper covers hash-partitioned paths and
    * makes the technique explicit). Inner-join semantics. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // J1: join dispatch — declare the equi-join, Catalyst/AQE pick the
    // physical strategy (the reference's manual multiGetSize flag,
    // HBaseRDDFunctions.scala:72-84, is an acknowledged TODO; here it's
    // cost-based and adaptive).
    "j1_join" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_linenumber", $"o_custkey", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // J2: multi-get lookup join (HBaseRDDFunctions.scala:121-198): a small
    // key set probes the big table. Broadcast hash join = the big side is
    // never shuffled, exactly the reference's preservesPartitioning goal.
    "j2_lookup_join" -> ((s, d) => {
      import s.implicits._
      val keys = Tables.customer(s, d)
        .filter($"c_acctbal" > 9000.0).select($"c_custkey")
      Tables.orders(s, d)
        .join(broadcast(keys), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // J3: range-scan merge join (HBaseRDDFunctions.scala:200-268) — two
    // key-ordered streams walked in lock-step ≙ Spark's sort-merge join.
    "j3_merge_join" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).hint("merge")
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 4).as("sum_qty"))
        .orderBy($"o_orderstatus")
    }),

    // J4: right-outer lookup join (HBaseRDDFunctions.scala:86-94): misses
    // on the table side surface as nulls instead of being dropped.
    "j4_right_outer" -> ((s, d) => {
      import s.implicits._
      val liKeys = Tables.lineitem(s, d).select($"l_orderkey").distinct()
      liKeys.join(Tables.orders(s, d),
          $"l_orderkey" === $"o_orderkey", "right_outer")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
             count($"l_orderkey").as("n_with_items"))
        .orderBy($"o_orderstatus")
    }),

    // J5: fill / memoized lookup: only null-valued rows hit the lookup
    // table (HBaseRDDFunctions.scala:309-313).
    "j5_fill" -> ((s, d) => {
      import s.implicits._
      val in = Tables.customer(s, d).select(
        $"c_custkey", $"c_nationkey",
        when($"c_nationkey" < 10, lit("cached")).as("filled"))
      fill(in.withColumnRenamed("c_nationkey", "n_nationkey"),
          "n_nationkey", "filled", Tables.nation(s, d), "n_nationkey", "n_name")
        .select($"c_custkey", $"filled")
        .orderBy($"c_custkey")
    }),

    // J6: constrain-by (AGraph.scala:51 `limit`) = left-semi join.
    "j6_semi_join" -> ((s, d) => {
      import s.implicits._
      val bigItems = Tables.lineitem(s, d).filter($"l_quantity" >= 49.0)
      Tables.orders(s, d)
        .join(bigItems, $"o_orderkey" === $"l_orderkey", "left_semi")
        .select($"o_orderkey", $"o_orderstatus")
        .orderBy($"o_orderkey")
    }),

    // J7: expand-style left-outer join (AGraph.scala:235).
    "j7_left_outer" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"))
        .orderBy($"c_custkey")
    }),

    // J8: anti-join idiom (README.md:152 unknown-words) = left-anti.
    "j8_anti_join" -> ((s, d) => {
      import s.implicits._
      val bulkLines = Tables.lineitem(s, d).filter($"l_quantity" >= 40.0)
      Tables.part(s, d)
        .join(bulkLines, $"p_partkey" === $"l_partkey", "left_anti")
        .select($"p_partkey", $"p_name")
        .orderBy($"p_partkey")
    }),

    // J9: profile overlay join (AGraph.scala:247-249).
    "j9_profile_join" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"c_name", $"n_name")
        .orderBy($"c_custkey")
    }),

    // J10 (extra): as-of join — each purchase picks up the latest
    // 'view' value of the same user at-or-before its timestamp
    // (trades-and-quotes). One shuffle, linear merge — no range probe.
    "j10_asof_join" -> ((s, d) => {
      import s.implicits._
      // micro-second timestamps on both sides: the oracle engine's
      // TIMESTAMP truncates the parquet nanos to micros, so the as-of
      // comparison must happen at the precision both engines share
      val e = Tables.events(s, d).withColumn("ts", expr("ts DIV 1000"))
      val quotes = e.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"value").as("qval"))
      val trades = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      Temporal.asofJoin(trades, quotes, "user_id", "ts",
          Seq("event_id"), "qval")
        .select($"user_id", $"ts", $"event_id",
          round($"asof_value", 6).as("asof_value"))
        .orderBy($"user_id", $"ts", $"event_id")
    }),

    // J12 (extra): the as-of HOT-KEY path, oracle-checked — all traffic
    // deliberately collapses onto 5 keys (the case the binned merge
    // exists for: a plain per-key window would serialize each giant key
    // on one task) and the result must equal DuckDB's plain ASOF JOIN
    // on the same collapsed keys, i.e. binning changes the schedule,
    // never the answer.
    "j12_asof_hotkey" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).withColumn("ts", expr("ts DIV 1000"))
        .withColumn("hot_id", $"user_id" % 5)
      val quotes = e.filter($"event_type" === "view")
        .groupBy($"hot_id", $"ts").agg(max($"value").as("qval"))
      val trades = e.filter($"event_type" === "purchase")
        .select($"hot_id", $"ts", $"event_id")
      val (t0, t1) = trades.agg(min($"ts"), max($"ts")).as[(Long, Long)].head()
      Temporal.asofJoin(trades, quotes, "hot_id", "ts",
          Seq("event_id"), "qval",
          hotKeyBinWidth = math.max((t1 - t0) / 32, 1L))
        .select($"hot_id", $"ts", $"event_id",
          round($"asof_value", 6).as("asof_value"))
        .orderBy($"hot_id", $"ts", $"event_id")
    }),

    // J13 (extra): NEAREST-in-time join — each purchase matched to the
    // same user's closest view, before OR after, backward winning
    // ties. One shuffle, one sort, two frames (Temporal.nearestJoin);
    // the oracle cross-checks with two DuckDB ASOF JOINs (>= and <)
    // merged by the smaller gap.
    "j13_nearest_join" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).withColumn("ts", expr("ts DIV 1000"))
      val quotes = e.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"value").as("qval"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      Temporal.nearestJoin(purchases, quotes, "user_id", "ts",
          Seq("event_id"), "qval")
        .select($"user_id", $"ts", $"event_id",
          $"nearest_gap".cast("long").as("gap_us"),
          round($"nearest_value", 6).as("nearest_value"))
        .orderBy($"user_id", $"ts", $"event_id")
    }),

    // J11 (extra): range join with no equi-key — events against 20
    // overlapping campaign windows via fixed-width bin bucketing
    // (equi-join on the bin + exact range filter; no cartesian).
    "j11_range_join" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).select($"event_id", $"ts", $"value")
      val (t0, t1) = e.agg(min($"ts"), max($"ts")).as[(Long, Long)].head()
      val stride = math.max((t1 - t0) / 20, 1L)
      val wins = s.range(20).select($"id".as("win_id"),
        (lit(t0) + $"id" * stride).as("w_start"),
        (lit(t0) + $"id" * stride + lit(3L * stride / 2)).as("w_end"))
      Temporal.rangeJoin(e, wins, "ts", "w_start", "w_end", stride)
        .groupBy($"win_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value"), 4).as("sum_value"))
        .orderBy($"win_id")
    }),

    // J14 (extra): POINT-IN-TIME join — the feature-store training
    // join, END TO END: an_scd2_build's versioned dimension rows are
    // PERSISTED through the KV write path (one versioned cell per
    // change instant, compacted once per dataset) and each label row
    // (purchase) picks up the dimension state STRICTLY before its own
    // instant from the TABLE READ — the store-then-train loop a real
    // feature store runs, not an in-plan recomputation. The strict `<`
    // is the leakage guard — a feature written at the label's exact
    // timestamp must NOT be visible to the example. With
    // integer-microsecond timestamps, "latest change < t" is exactly
    // "latest change <= t-1", so the one as-of merge machinery serves
    // both semantics; same single-shuffle plan as J10.
    "j14_pit_join" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).withColumn("ts", expr("ts DIV 1000"))
        .filter($"user_id" < 50)
      val dim = scd2DimTable(s, d).resolved()
        .select($"key".as("user_id"), $"qualifier".cast("long").as("ts"),
          $"value".cast("long").as("cents"))
      val labels = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      Temporal.asofJoin(labels.withColumn("ts", $"ts" - 1), dim,
          "user_id", "ts", Seq("event_id"), "cents",
          asofCol = "feat_cents")
        .select($"user_id", ($"ts" + 1).as("ts"), $"event_id",
          $"feat_cents")
        .orderBy($"user_id", $"ts", $"event_id")
    }),

    // J15 (extra): RUNTIME BLOOM-FILTER join — the shuffle reducer for
    // big-big joins where neither side broadcasts: Catalyst builds a
    // bloom filter from the SELECTIVE side's join keys at runtime and
    // pushes might_contain() into the fact scan, so non-matching fact
    // rows are dropped BEFORE the sort-merge shuffle (at 100 TB that
    // is the difference between shuffling the table and shuffling the
    // matches). The dim filter (p_size = 1) is selective but the MERGE
    // hint forces the big-big plan shape; the application-side size
    // threshold is lowered for the run because the 10 GB default is
    // calibrated for production scans (the knob exists precisely to
    // encode "fact is huge"), and restored after. PlanSpec pins
    // might_contain in the executed fact scan.
    "j15_bloom_join" -> ((s, d) => {
      import s.implicits._
      // slugged per dataset like the Scans staging dirs, so runs
      // against different SFs never clobber each other's artifact
      val slug = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
      val out = graft.RepoPaths.target(s"graft_join/j15_out_$slug")
      withBloomThreshold(s) {
        // executes UNDER the lowered threshold (plans are lazy — a
        // try/finally around a returned DataFrame would restore the
        // conf before optimization ran)
        bloomJoin(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy($"l_suppkey")
    }),

    // J16 (extra): numeric BAND join — |s_bal − c_bal| ≤ ε — as a
    // bucketized equi-join. A naive theta-join on abs() is a
    // nested-loop cross product (Catalyst has no range-join operator);
    // here each side buckets its value at ε granularity, the SMALLER
    // side explodes to its 3 adjacent buckets (≤3× fanout on the
    // cheap side only), the join runs on bucket EQUALITY — one hash
    // shuffle — and the exact band predicate filters residual
    // near-misses inside the bucket pair. Each matching pair meets in
    // exactly one bucket (a row has one bucket; the probe's 3 are
    // distinct), so no dedup pass is needed. At 100 TB: shuffle keyed
    // by value-bucket, per-key load bounded by value density × ε —
    // the band width is the skew knob.
    "j16_band_join" -> ((s, d) => {
      import s.implicits._
      val eps = 50L // band half-width, cents
      val cst = Tables.customer(s, d).select($"c_custkey",
          round($"c_acctbal" * 100).cast("long").as("c_cents"))
        .withColumn("bucket", floor($"c_cents" / eps.toDouble).cast("long"))
      val probe = Tables.supplier(s, d).select($"s_suppkey",
          round($"s_acctbal" * 100).cast("long").as("s_cents"))
        .withColumn("b0", floor($"s_cents" / eps.toDouble).cast("long"))
        .withColumn("bucket", explode(array($"b0" - 1, $"b0", $"b0" + 1)))
      probe.join(cst, "bucket")
        .filter(abs($"s_cents" - $"c_cents") <= eps)
        .groupBy($"s_suppkey")
        .agg(count(lit(1)).as("n_near"), sum($"c_cents").as("sum_cents"))
        .orderBy($"s_suppkey")
    })
  )

  /** J15's join, conf-free: big-big SMJ whose fact side Catalyst
    * prunes with a runtime bloom filter built from the selective dim.
    * PlanSpec executes this under [[withBloomThreshold]] and pins
    * might_contain in the fact scan. */
  private[graft] def bloomJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Tables.part(s, d).filter($"p_size" === 1)
      .select($"p_partkey")
    val fact = Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
    fact.join(dim.hint("merge"), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
      .orderBy($"l_suppkey")
  }

  /** Scope the confs that make the test-scale join LOOK like the
    * 100-TB case the bloom filter exists for: the 10 GB
    * application-side gate encodes "only bother for huge scans", and
    * InjectRuntimeFilter skips any join it predicts will broadcast
    * (canBroadcastBySize) — at production scale neither side
    * broadcasts, so both knobs model that, scoped and restored. */
  private[graft] def withBloomThreshold[T](s: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The persisted SCD2 feature dimension j14 trains against: one KV
    * cell per (entity, change instant) — key = user, qualifier = the
    * instant, value = the feature, ts = the instant (so the version
    * log IS the history) — compacted into the bucketed layout once per
    * dataset. Write once, train forever: exactly the feature-store
    * loop, through the engine's own table. */
  private def scd2DimTable(s: SparkSession, d: String): graft.write.KVTable = {
    // flat: the KV store owns this dir's layout (the setupOnce case)
    val path =
      graft.RepoPaths.target(s"graft_kv/j14_dim_${graft.Staging.slug(d)}")
    graft.Staging.ensureFlat(path, s"j14_dim v2 $d") {
      val t = graft.write.KVTable(s, path)
      t.put(Analytics.scd2Changes(s, d).select(
        col("user_id").as("key"), lit("F").as("family"),
        col("vf").cast("string").as("qualifier"),
        col("cents").cast("string").as("value"), col("vf").as("ts")))
      t.compact()
    }
    graft.write.KVTable(s, path)
  }

  val oracles: Map[String, String] = Map(
    "j1_join" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "j2_lookup_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000.0 ORDER BY o_orderkey""".stripMargin,
    "j3_merge_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "j4_right_outer" ->
      """WITH lik AS (SELECT DISTINCT l_orderkey FROM lineitem)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(count(l_orderkey) AS BIGINT) AS n_with_items
        |FROM orders LEFT JOIN lik ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "j5_fill" ->
      """SELECT c_custkey,
        |       CASE WHEN c_nationkey < 10 THEN 'cached' ELSE n_name END AS filled
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "j6_semi_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
        |ORDER BY o_orderkey""".stripMargin,
    "j7_left_outer" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "j8_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity >= 40.0)
        |ORDER BY p_partkey""".stripMargin,
    "j9_profile_join" ->
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "j10_asof_join" ->
      """WITH q AS (SELECT user_id, epoch_us(ts) AS ts, max(value) AS qval
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, epoch_us(ts) AS ts, event_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.user_id, p.ts, p.event_id, round(q.qval, 6) AS asof_value
        |FROM p ASOF LEFT JOIN q
        |  ON p.user_id = q.user_id AND p.ts >= q.ts
        |ORDER BY p.user_id, p.ts, p.event_id""".stripMargin,
    "j12_asof_hotkey" ->
      """WITH q AS (SELECT user_id % 5 AS hot_id, epoch_us(ts) AS ts,
        |                  max(value) AS qval
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id % 5 AS hot_id, epoch_us(ts) AS ts, event_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.hot_id, p.ts, p.event_id, round(q.qval, 6) AS asof_value
        |FROM p ASOF LEFT JOIN q
        |  ON p.hot_id = q.hot_id AND p.ts >= q.ts
        |ORDER BY p.hot_id, p.ts, p.event_id""".stripMargin,
    "j14_pit_join" ->
      """WITH dim AS (SELECT user_id, epoch_us(ts) AS ts,
        |                    max(CAST(round(value * 100) AS BIGINT))
        |                      AS cents
        |             FROM events
        |             WHERE event_type = 'click' AND user_id < 50
        |             GROUP BY 1, 2),
        | lab AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |         FROM events
        |         WHERE event_type = 'purchase' AND user_id < 50)
        |SELECT lab.user_id, lab.ts, lab.event_id,
        |       dim.cents AS feat_cents
        |FROM lab ASOF LEFT JOIN dim
        |  ON lab.user_id = dim.user_id AND lab.ts > dim.ts
        |ORDER BY lab.user_id, lab.ts, lab.event_id""".stripMargin,
    "j13_nearest_join" ->
      """WITH q AS (SELECT user_id, epoch_us(ts) AS ts, max(value) AS qval
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, epoch_us(ts) AS ts, event_id FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT p.user_id, p.ts, p.event_id, q.ts AS bts, q.qval AS bval
        |      FROM p ASOF LEFT JOIN q
        |        ON p.user_id = q.user_id AND p.ts >= q.ts),
        |f AS (SELECT p.user_id AS f_user, p.ts AS f_ts, p.event_id AS f_id,
        |             q.ts AS fts, q.qval AS fval
        |      FROM p ASOF LEFT JOIN q
        |        ON p.user_id = q.user_id AND p.ts < q.ts)
        |SELECT b.user_id, b.ts, b.event_id,
        |       CAST(CASE WHEN bts IS NULL THEN fts - b.ts
        |                 WHEN fts IS NULL THEN b.ts - bts
        |                 WHEN b.ts - bts <= fts - b.ts THEN b.ts - bts
        |                 ELSE fts - b.ts END AS BIGINT) AS gap_us,
        |       round(CASE WHEN bts IS NULL THEN fval
        |                  WHEN fts IS NULL THEN bval
        |                  WHEN b.ts - bts <= fts - b.ts THEN bval
        |                  ELSE fval END, 6) AS nearest_value
        |FROM b JOIN f ON b.user_id = f_user AND b.ts = f_ts
        |              AND b.event_id = f_id
        |ORDER BY b.user_id, b.ts, b.event_id""".stripMargin,
    "j11_range_join" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts, value FROM events),
        |b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        |s AS (SELECT t0, GREATEST((t1 - t0) // 20, 1) AS stride FROM b),
        |w AS (SELECT i AS win_id, t0 + i*stride AS w_start,
        |             t0 + i*stride + (3*stride) // 2 AS w_end
        |      FROM range(20) r(i), s)
        |SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM w JOIN e ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY win_id ORDER BY win_id""".stripMargin,
    "j15_bloom_join" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "j16_band_join" ->
      """WITH sup AS (SELECT s_suppkey,
        |               CAST(round(s_acctbal * 100) AS BIGINT) AS s_cents
        |             FROM supplier),
        |cst AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS c_cents
        |        FROM customer)
        |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_near,
        |       CAST(sum(c_cents) AS BIGINT) AS sum_cents
        |FROM sup JOIN cst ON abs(s_cents - c_cents) <= 50
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
  )
}
