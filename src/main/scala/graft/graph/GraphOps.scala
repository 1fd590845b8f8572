package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Property-graph dataflow operators (SURVEY.md §2.9, AGraph.scala:30-326
  * in the reference).
  *
  * Representation: a NETWORK is `(src: Long, edges: array<struct<dst,
  * version, pb, vendor, ts>>)` — the reference's `LAYER[Seq[(Key,EP)]]`
  * (AGraph.scala:30-47) — and PAIRS is the exploded `(src, dst, props…)`
  * form. Ops are declarative DataFrame transforms: one hash-shuffle per
  * groupBy, map-side partial aggregation, AQE skew handling. Heavy-hitter
  * handling (`cutoff`) and `f1` are fully distributed — the reference's
  * driver-side collects (AGraph.scala:108,305-310) are replaced by joins.
  *
  * Edge properties mirror EP (EP.scala:12-79): `version` byte, `pb` the
  * probability quantized to /255, `vendor` code, cell timestamp `ts`.
  */
object GraphOps {

  /** Process-wide sequence that scopes `observe` metric names per run:
    * names must be unique among the session's ACTIVE observations, and
    * two runs on one session (even over the same input DataFrame, from
    * different threads) must never share one. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()
  private def nextObsScope(): Long = obsSeq.incrementAndGet()

  /** EP edge payload (EP.scala:12-30); pb = round(probability*255). */
  case class Edge(src: Long, dst: Long, version: Long, pb: Long,
                  vendor: Long, ts: Long)

  /** `Props.combine` for EP (EP.scala:14,51-79): byte-wise max of the
    * packed (version, probability, vendor) payload, timestamp = max.
    * Expressed as a typed `Aggregator` — the Spark form of the
    * reference's user-defined edge-property merge (AGraph.scala:13-15).
    */
  object CombineEdge extends Aggregator[Edge, Edge, Edge] {
    private def payload(e: Edge): (Long, Long, Long) = (e.version, e.pb, e.vendor)
    override def zero: Edge = Edge(0L, 0L, -1L, -1L, -1L, Long.MinValue)
    override def reduce(b: Edge, a: Edge): Edge = merge(b, a)
    override def merge(x: Edge, y: Edge): Edge = {
      if (x.version < 0) y
      else if (y.version < 0) x
      else {
        val keep = if (Ordering[(Long, Long, Long)].gteq(payload(x), payload(y))) x else y
        keep.copy(ts = math.max(x.ts, y.ts))
      }
    }
    override def finish(r: Edge): Edge = r
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[Edge]
    override def outputEncoder = org.apache.spark.sql.Encoders.product[Edge]
  }

  /** Keyspace of a vertex id (Key.scala:6-23 2-byte keyspace symbol; here
    * a modular partition of the long id domain). */
  def space(v: Column, k: Int = 3): Column = pmod(v, lit(k))

  /** G1 `reverse` (AGraph.scala:80-82): undirected pairs → both
    * directions. */
  def reverse(pairs: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val cols = pairs.columns.filterNot(c => c == src || c == dst).map(col)
    pairs.select(col(src) +: col(dst) +: cols.toIndexedSeq: _*)
      .unionByName(pairs.select(
        col(dst).as(src) +: col(src).as(dst) +: cols.toIndexedSeq: _*))
  }

  /** A8 `deduplicate` (AGraph.scala:126-211): merge duplicate (src,dst)
    * edges via EP combine. Declarative form — `max_by` on the packed
    * payload + `max(ts)`, all codegen'd; the typed CombineEdge Aggregator
    * is the extension point for user-defined Props (used in a8 query). */
  def deduplicate(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("src"), col("dst"))
      .agg(
        max_by(struct(col("version"), col("pb"), col("vendor")),
               struct(col("version"), col("pb"), col("vendor"))).as("p"),
        max(col("ts")).as("ts"))
      .select(col("src"), col("dst"), col("p.version").as("version"),
        col("p.pb").as("pb"), col("p.vendor").as("vendor"), col("ts"))

  /** G2 `fromPairs`/`group` (AGraph.scala:75,118): pairs → adjacency
    * network with per-row dst-sorted edge lists. */
  def fromPairs(pairs: DataFrame): DataFrame =
    deduplicate(pairs)
      .groupBy(col("src"))
      .agg(array_sort(collect_list(struct(col("dst"), col("version"),
        col("pb"), col("vendor"), col("ts")))).as("edges"))

  /** W3 `flatten` (AGraph.scala:56): network → pool of
    * (key, highest(key ∪ neighbor keys)). */
  def flatten(net: DataFrame): DataFrame =
    net.select(col("src"),
      greatest(col("src"), array_max(col("edges.dst"))).as("rep"))

  /** G3 one BSP superstep (AGraph.scala:88-93): every vertex takes the
    * max label among itself and its neighbors. `labels` = (vertex, label),
    * `pairs` must contain both directions. */
  def bspStep(labels: DataFrame, pairs: DataFrame): DataFrame = {
    val viaNeighbors = pairs
      .join(labels.withColumnRenamed("vertex", "dst"), Seq("dst"))
      .select(col("src").as("vertex"), col("label"))
    labels.unionByName(viaNeighbors)
      .groupBy(col("vertex")).agg(max(col("label")).as("label"))
  }

  /** G4 iterative BSP (HGraphTable.scala:143-228 semantics): n supersteps
    * with lineage cut each round — at scale this is checkpoint cadence;
    * localCheckpoint keeps the loop's plan from growing exponentially. */
  def bspIterate(labels0: DataFrame, pairs: DataFrame, steps: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // pairs is re-joined every superstep — materialize it once
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = labels0
    for (_ <- 1 to steps) {
      labels = bspStep(labels, p).localCheckpoint(eager = true)
    }
    p.unpersist()
    labels
  }

  /** Delta-frontier BSP: identical fixpoint trajectory to `bspIterate`,
    * but each superstep only pushes labels that CHANGED in the previous
    * one — the incremental-join pattern (SURVEY §7.4 risk 4, the
    * reference's fill-style memoization). On real graphs the frontier
    * collapses after a few supersteps, so late iterations join a small
    * delta against the network instead of every vertex. */
  def bspIterateDelta(labels0: DataFrame, pairs: DataFrame, steps: Int): DataFrame =
    bspIterateDeltaFrom(pairs, steps)(_ => labels0)

  /** [[bspIterateDelta]] with the initial labels derived FROM the cached
    * network layout: `init` receives the persisted, dst-partitioned
    * pairs, so a labels0 like "distinct vertices" reads the cache
    * instead of recomputing the network's whole upstream plan (dedup,
    * reverse, scan) a second time. */
  def bspIterateDeltaFrom(pairs: DataFrame, steps: Int)
      (init: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Partition the network by the join side ONCE and cache that layout:
    // every superstep joins `p` on dst, so a dst-partitioned, dst-sorted
    // cache makes each round's big side exchange-free and sort-free — the
    // only per-round shuffle is the (shrinking) frontier. At 100 TB the
    // network is the immutable giant; re-shuffling it per superstep is
    // the classic iterative-join mistake.
    val p = pairs.repartition(col("dst")).sortWithinPartitions(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 0 is read twice in the first superstep (frontier leg + labels
    // leg) — materialize it once instead of recomputing the distinct.
    var labels = init(p).persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = labels
    // Sliding persist window: each round is materialized eagerly (labels
    // + frontier share the one computation), then the PREVIOUS round's
    // blocks are freed — at most two rounds are ever resident, instead
    // of one leaked persist per superstep. Lineage is cut with an eager
    // checkpoint every few rounds so plans stay bounded on long runs.
    var prev: Option[DataFrame] = Some(labels)
    for (step <- 1 to steps) {
      // Per superstep, only the frontier's contributions shuffle: they
      // are max-reduced by destination (a frontier-sized aggregation),
      // then joined back onto the label state, which sits in cache
      // hash-partitioned by vertex from the PREVIOUS round's
      // aggregation — so the O(V) label table never moves after round
      // 0, only the O(frontier-edges) delta does. At 100 TB that is
      // the difference between re-shuffling every vertex every round
      // and touching just what changed. contrib's vertex domain ⊆
      // labels' (every src labels itself in round 0), so a left join
      // loses nothing.
      val contribAgg = p
        .join(frontier.withColumnRenamed("vertex", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(max(col("label")).as("nlabel"))
        .withColumnRenamed("src", "vertex")
      var next = labels
        .join(contribAgg, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          greatest(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"),
          (coalesce(col("nlabel"), lit(Long.MinValue)) > col("label"))
            .as("changed"))
      next =
        if (step % 4 == 0) next.localCheckpoint(eager = true)
        else {
          val n = next.persist(StorageLevel.MEMORY_AND_DISK)
          // materialize the cache in one pass; count() scans every
          // cached batch like foreach but skips the per-row
          // InternalRow→Row conversion foreach pays
          n.count()
          n
        }
      prev.foreach(_.unpersist(false))
      prev = Some(next)
      frontier = next.filter(col("changed")).select(col("vertex"), col("label"))
      labels = next.select(col("vertex"), col("label"))
    }
    p.unpersist()
    // the final round's blocks back the returned DataFrame; they are
    // released when the caller's session sweeps (Bench does) or on GC.
    labels
  }

  /** G5 `expand` (AGraph.scala:234-245): pool (key, rep) pushes reps to
    * neighbors, then max-reduce — one transitive-closure step. Left-outer:
    * keys without edges keep their rep. */
  def expand(pool: DataFrame, pairs: DataFrame): DataFrame = {
    val pushed = pairs
      .join(pool.withColumnRenamed("key", "src"), Seq("src"))
      .select(col("dst").as("key"), col("rep"))
    pool.unionByName(pushed)
      .groupBy(col("key")).agg(max(col("rep")).as("rep"))
  }

  /** (1−ε)-mass degree threshold from a per-vertex degree relation. The
    * histogram is one row per DISTINCT degree — driver-small on any
    * real degree distribution — so the fast path collects it and folds
    * total + threshold in one job. Bounded BY CONSTRUCTION, not by
    * assumption: the collect is capped at `histCap` rows, and a
    * histogram that exceeds the cap falls back to a distributed
    * cumulative-window threshold (single ordered task over the distinct
    * degrees — cluster memory, not driver heap; the two scalar rows it
    * broadcasts are the only driver traffic). */
  private[graft] def heavyVertices(degree: DataFrame, epsilon: Double,
                                   histCap: Int = 100000): DataFrame = {
    val hist = degree.groupBy(col("degree")).agg(count(lit(1)).as("nv"))
    val probe = hist.limit(histCap + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (probe.length <= histCap) {
      // limit() does not promise order — sort the collected rows here
      val sorted = probe.sortBy(_._1)
      val total = sorted.map(_._2).sum
      val cut = total * (1.0 - epsilon)
      var cum = 0L
      val threshold = sorted.collectFirst {
        case (d, nv) if { cum += nv; cum >= cut } => d
      }.getOrElse(Long.MaxValue)
      degree.filter(col("degree") > threshold)
    } else {
      val wcum = Window.orderBy(col("degree"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val total = hist.agg(sum(col("nv")).as("_total"))
      val thr = hist.withColumn("_cum", sum(col("nv")).over(wcum))
        .crossJoin(broadcast(total))
        .filter(col("_cum") >= col("_total") * (1.0 - epsilon))
        .agg(min(col("degree")).as("_thr"))
      degree.crossJoin(broadcast(thr))
        .filter(col("degree") > coalesce(col("_thr"), lit(Long.MaxValue)))
        .select(col("vertex"), col("degree"))
    }
  }

  /** A13 `cutoff` (AGraph.scala:98-113), distributed: degree histogram →
    * cumulative vertex-mass fraction → smallest degree covering 1-ε →
    * drop pairs touching vertices above it. No driver-side collect, and
    * no broadcast hint on the anti-joins: `heavy` is up to ε·|V| rows —
    * unbounded at scale — so AQE decides (it broadcasts when the set
    * actually fits, the common case). `pairs` is scanned by both the
    * degree side and the final anti-joins; callers running multiple
    * actions should persist it — see [[cutoffCounts]]. */
  def cutoff(pairs: DataFrame, epsilon: Double = 0.05): (DataFrame, DataFrame) = {
    val degree = pairs.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"))
    val heavy = heavyVertices(degree, epsilon)
    val kept = pairs
      .join(heavy.select(col("vertex").as("src")), Seq("src"), "left_anti")
      .join(heavy.select(col("vertex").as("dst")), Seq("dst"), "left_anti")
    (kept, heavy)
  }

  /** Materializing form of [[cutoff]] (the a13 query): persists the
    * twice-scanned relations for the multi-action computation and frees
    * them before returning — no cached blocks outlive the call. */
  def cutoffCounts(pairs: DataFrame, epsilon: Double = 0.05): (Long, Long) = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val degree = p.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val heavy = heavyVertices(degree, epsilon)
      val kept = p
        .join(heavy.select(col("vertex").as("src")), Seq("src"), "left_anti")
        .join(heavy.select(col("vertex").as("dst")), Seq("dst"), "left_anti")
      (kept.count(), heavy.count())
    } finally {
      degree.unpersist(false)
      p.unpersist(false)
    }
  }

  /** G11 PageRank: `iters` power iterations, uniform start, damping
    * `damp`. SAFE FOR DIRECTED INPUT: sink vertices (appearing only as
    * dst) join the vertex set with degree 0, and each iteration
    * redistributes their rank mass uniformly — the dangling-mass term —
    * so total rank is conserved at exactly 1 whatever the edge list's
    * shape. For symmetric pairs the dangling leg is empty and the
    * fixpoint is bit-identical to the no-term formula (the `+ 0.0/n`
    * adds nothing in FP). Returns `(vertex, degree, pr)` with each
    * iteration's rank rounded at 12 dp so results are engine-portable
    * (the DuckDB oracle re-derives the identical fixpoint).
    *
    * Scale shape: per iteration, ONE equi-join of the edge list against
    * the vertex-sized rank vector (bucket both by the vertex key and
    * the join plans with zero Exchange — BucketingSpec pattern), ONE
    * partial-agg'd sum shuffled by dst, and the dangling mass as a
    * one-row broadcast scalar; the rank/degree vectors are vertex-
    * sized, never edge-sized. The result is materialized
    * (localCheckpoint) so the edge/degree caches can be RELEASED before
    * returning — repeated invocations leak nothing. */
  def pageRank(pairs: DataFrame, iters: Int, damp: Double = 0.85,
               symmetric: Boolean = false): DataFrame = {
    val (result, cleanup) = pageRankStaged(pairs, iters, damp, symmetric)
    try traced(result.sparkSession, "pr_final_checkpoint")(
      result.localCheckpoint(true)) finally cleanup()
  }

  /** Per-phase wall-clock tracing for the bench bimodality diagnosis
    * (the g11 demand): every eager phase of an iterative loop is
    * ALWAYS recorded to [[graft.Trace]] (two nanoTime calls + one
    * bounded-queue offer — invisible at phase scale; graft.Bench
    * drains it per sample into the artifact, so the anomalous
    * environment reports its own breakdown). Additionally, under
    * `spark.graft.bench.trace=true`, prints `[trace] <name> <sec>` to
    * stderr for interactive runs. */
  private def traced[T](s: org.apache.spark.sql.SparkSession,
      name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Trace.record(name, sec)
      if (s.conf.getOption("spark.graft.bench.trace").contains("true"))
        System.err.println(f"[trace] $name $sec%.3f")
    }
  }

  /** The lazy plan + a cache-release handle — split out so PlanSpec can
    * pin the cached-edge-layout iteration shape before materialization
    * collapses it to a checkpoint scan. */
  private[graft] def pageRankStaged(pairs: DataFrame, iters: Int,
                                    damp: Double = 0.85,
                                    symmetric: Boolean = false)
      : (DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    // symmetric=true is the same opt-in discipline as kcoreFixpoint,
    // so it carries the same guard: a false claim here would silently
    // drop dangling vertices from the result and leak their rank mass,
    // so under spark.graft.debug.validate=true the claim is
    // spot-checked (a bounded edge sample must find its reverse in the
    // input) and misuse FAILS LOUDLY (RankingSpec pins it)
    if (symmetric && pairs.sparkSession.conf
        .getOption("spark.graft.debug.validate").contains("true")) {
      val in = pairs.select(col("src"), col("dst"))
      val missing = in.limit(1000)
        .select(col("dst").as("src"), col("src").as("dst"))
        .join(in, Seq("src", "dst"), "left_anti").limit(1).count()
      if (missing > 0)
        throw new IllegalArgumentException(
          "pageRank(symmetric = true) called on an edge list missing " +
            "reverse edges — the claim is false; drop the flag (the " +
            "default detects sinks) or fix the input")
    }
    // The edge list is the immutable giant of the iteration: partition
    // it by the join key ONCE and cache that layout (the same
    // iterative-join discipline as [[bspIterateDeltaFrom]]) — otherwise
    // every iteration replays the edge list's upstream plan (scan +
    // dedup + reverse) AND re-shuffles it for its join.
    val p = pairs.repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = p.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"))
    // dangling vertices: only ever a dst — in-graph, but no out-edges.
    // `symmetric = true` (the kcoreFixpoint opt-in discipline): every
    // dst IS a src by construction, so the sink set is empty and the
    // edge-sized distinct + anti-join that would prove it are skipped
    // — same guarantee, zero cost (pairs2-shaped callers).
    val deg = (if (symmetric) outDeg
      else {
        val sinks = p.select(col("dst").as("vertex")).distinct()
          .join(outDeg, Seq("vertex"), "left_anti")
          .select(col("vertex"), lit(0L).as("degree"))
        outDeg.unionByName(sinks)
      }).persist(StorageLevel.MEMORY_AND_DISK)
    // eager staging stage (unconditional, so traced and untraced runs
    // execute the IDENTICAL plan): populates the edge-layout and
    // degree caches — work every iteration needs anyway — and makes
    // the edge-staging cost a separate entry in the per-phase
    // breakdown instead of riding inside iteration 1. The vertex count
    // rides out of the same job as a DRIVER SCALAR: n is one long, so
    // shipping it as a literal replaces a per-iteration one-row
    // aggregate + broadcast-exchange pair (two scheduler round-trips
    // per superstep) with the number itself — same double, same plan
    // arithmetic (1.0/n is computed identically either way).
    val nVal = traced(pairs.sparkSession, "pr_stage_edges_deg")(deg.count())
    def step(pr: DataFrame): DataFrame = {
      val contrib = p
        .join(pr.filter(col("degree") > 0).withColumnRenamed("vertex", "src"),
          "src")
        .groupBy(col("dst").as("vertex"))
        .agg(sum(col("pr") / col("degree")).as("c"))
      // dangling mass: on a symmetric graph the term is exactly zero
      // and `x + 0.0/n` is FP-identical to `x` (the scaladoc claim,
      // now taken) — skip the per-iteration aggregate + broadcast.
      val base = deg.join(contrib, Seq("vertex"), "left")
      val withDm = if (symmetric) base
        else {
          val dangling = pr.filter(col("degree") === 0)
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
          base.crossJoin(broadcast(dangling))
        }
      val rank =
        if (symmetric)
          round(lit((1.0 - damp) / nVal)
            + lit(damp) * coalesce(col("c"), lit(0.0)), 12)
        else
          round(lit((1.0 - damp) / nVal)
            + lit(damp) * (coalesce(col("c"), lit(0.0))
              + col("dm") / lit(nVal.toDouble)), 12)
      withDm.select(col("vertex"), col("degree"), rank.as("pr"))
    }
    val pr0 = deg
      .select(col("vertex"), col("degree"), lit(1.0 / nVal).as("pr"))
    // each step references pr TWICE (contribution join + dangling sum),
    // so a lazy fold would double the plan tree per round — materialize
    // between rounds (vertex-sized, the bspIterateDelta discipline) and
    // leave only the final round lazy for the caller/PlanSpec
    val result = (1 to iters).foldLeft(pr0) { (pr, i) =>
      val next = step(pr)
      if (i < iters)
        traced(pairs.sparkSession, s"pr_iter${i}_checkpoint")(
          next.localCheckpoint(true))
      else next
    }
    (result, () => { p.unpersist(false); deg.unpersist(false): Unit })
  }

  /** G13: synchronous label propagation (Raghavan et al. 2007) made
    * deterministic — every round each vertex adopts its neighbors'
    * MODAL label, ties broken by smallest label; seed label = vertex
    * id. The reference's BSP surface (AGraph.scala:84-106) propagates
    * max-label; this is the community-detection sibling with the
    * frequency vote. Scale shape per round: the edge list is
    * partitioned by the join key (dst) ONCE and cached (the pageRank
    * discipline); labels (vertex-sized) shuffle to it; the
    * (vertex, label) counts partial-aggregate map-side; the per-vertex
    * argmax is itself a HASH AGGREGATION — max(struct(c, -label))
    * orders lexicographically by (count desc via max, then min label
    * via the negation), so it partial-aggregates map-side too. No
    * window, no sort anywhere: a hot vertex with millions of distinct
    * neighbor labels combines per-partition instead of single-tasking
    * a row_number partition. Rounds are checkpointed so lineage stays
    * flat. */
  def labelPropagation(pairs: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs.select(col("src"), col("dst"))
      .repartition(col("dst")).sortWithinPartitions(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val s = pairs.sparkSession
      var labels = traced(s, "lp_stage")(
        p.select(col("src").as("vertex")).distinct()
          .withColumn("label", col("vertex"))
          .localCheckpoint(eager = true))
      for (i <- 1 to iters) {
        labels = traced(s, s"lp_round$i")(
          lpRound(p, labels).localCheckpoint(eager = true))
      }
      labels
    } finally { p.unpersist(false): Unit }
  }

  /** One label-propagation round over the dst-partitioned edge cache —
    * exposed (package-private) so PlanDump can commit the REAL round
    * plan as evidence; the loop above checkpoints each round, so the
    * query's own explain only shows a final-state read.
    *
    * Round shape: ONE exchange, not two. The joined rows are projected
    * to (src,label) and hash-partitioned by src; hash(src) satisfies
    * the clustered distribution of BOTH the (vertex,label) count and
    * the per-vertex argmax, so the two hash aggregations chain
    * exchange-free on top of the single repartition (guide §2.4: two
    * operations keyed the same way share one exchange). The count's
    * map-side partial aggregation is given up, but a vertex's
    * neighbors are spread across dst partitions, so pre-exchange
    * (src,label) duplicates were rare — the second exchange cost more
    * than the partial agg saved. */
  private[graft] def lpRound(p: DataFrame, labels: DataFrame): DataFrame =
    p.join(labels.withColumnRenamed("vertex", "dst"), "dst")
      .select(col("src"), col("label"))
      .repartition(col("src"))
      .groupBy(col("src").as("vertex"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("vertex"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("vertex"), (-col("m.nl")).as("label"))

  /** G14: multi-source BFS distance labeling to `maxHops`, by
    * delta-frontier expansion — the unweighted shortest-path front end
    * (nearest seed / blast-radius queries). Each round joins ONLY the
    * new frontier against the edge list, anti-joins out the visited
    * set, and distinct-collapses multi-parent arrivals, so per-round
    * cost is O(frontier out-edges), never O(visited): the same
    * delta-frontier discipline as the g4 BSP iterate. Visited state is
    * vertex-sized and checkpointed per round. */
  def bfsDistances(pairs: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var visited = sources.select(col("vertex"), lit(0L).as("dist"))
        .localCheckpoint(eager = true)
      var frontier = visited.select(col("vertex"))
      for (hop <- 1 to maxHops) {
        val next = p.join(frontier.withColumnRenamed("vertex", "src"), "src")
          .select(col("dst").as("vertex")).distinct()
          .join(visited.select(col("vertex")), Seq("vertex"), "left_anti")
          .withColumn("dist", lit(hop.toLong))
          .localCheckpoint(eager = true)
        visited = visited.unionByName(next).localCheckpoint(eager = true)
        frontier = next.select(col("vertex"))
      }
      visited
    } finally { p.unpersist(false): Unit }
  }

  /** A10 `f1` (AGraph.scala:307-326), distributed: TP/FP/FN from the two
    * edge sets restricted to keys present in both networks, then one
    * global reduce → precision/recall/F1. */
  /** The distributed part of f1: (|M|, |V|, |M∩V|) restricted to src
    * keys present in BOTH networks — computed as two hash aggregations
    * over a flagged union, with no joins at all. Level 1 dedups edges
    * and marks membership; level 2 folds per-src edge counts plus
    * has-model/has-validation flags; the final global agg keeps only
    * common-src rows. Map-side partial aggregation shrinks both
    * shuffles, and the second shuffle moves pre-aggregated per-edge
    * rows only — strictly less data than any join formulation (the
    * reference collects the key set on the driver instead,
    * AGraph.scala:305, which cannot scale). Exposed for PlanSpec's
    * join-free assertion. */
  private[graft] def f1Counts(model: DataFrame, validation: DataFrame): DataFrame = {
    val flagged = model.select(col("src"), col("dst"),
        lit(1L).as("in_m"), lit(0L).as("in_v"))
      .unionByName(validation.select(col("src"), col("dst"),
        lit(0L).as("in_m"), lit(1L).as("in_v")))
    val perEdge = flagged.groupBy(col("src"), col("dst"))
      .agg(max(col("in_m")).as("m"), max(col("in_v")).as("v"))
    val perSrc = perEdge.groupBy(col("src"))
      .agg(sum(col("m")).as("nm_s"), sum(col("v")).as("nv_s"),
        sum(col("m") * col("v")).as("tp_s"),
        max(col("m")).as("has_m"), max(col("v")).as("has_v"))
    perSrc.filter(col("has_m") === 1L && col("has_v") === 1L)
      .agg(sum(col("nm_s")).as("nm"), sum(col("nv_s")).as("nv"),
        sum(col("tp_s")).as("tp"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the O(log n)-round algorithm for
    * HIGH-DIAMETER graphs, where per-step label propagation
    * ([[bspIterateDelta]], Dedup.clusters) needs O(diameter) rounds.
    * Each round is two groupBy-min passes over the shrinking edge set:
    *
    *  - large-star: every vertex u computes m = min(N(u) ∪ u) and
    *    points its LARGER neighbors at m — long chains halve.
    *  - small-star: every vertex u points its smaller-or-equal
    *    neighbors (and itself) at the minimum — stars flatten.
    *
    * State is only the edge set itself (re-keyed each round, partially
    * aggregated — no vertex-indexed side structures), lineage is cut
    * per round with an eager localCheckpoint, and the fixpoint check
    * is an exact `except ... limit 1` probe (bounded ≤1-row collect),
    * not a hashed signature that could falsely converge. The exact
    * probe is gated behind a cheap pre-check — (edge count, sum of
    * row hashes), one aggregation over the round's own output — so
    * the two full anti-join jobs run only on candidate-converged
    * rounds (typically once, the final round), never per round.
    * Terminates in O(log² n) rounds worst-case; `maxRounds` is a
    * runaway guard that FAILS FAST rather than returning unconverged
    * labels.
    *
    * Input: (src, dst) pairs, any orientation/duplication. Output:
    * (vertex, cluster) for every non-isolated vertex, cluster = the
    * component's minimum vertex id.
    */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 25)
      : DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // signature of the CURRENT edge set: (count, sum of 32-bit row
    // hashes, summed as long — overflow-free under ANSI below 2^32
    // edges). Equal signatures are necessary, not sufficient, for set
    // equality: a mismatch skips the exact probe with zero false
    // convergences, and a (vanishingly rare) collision only means the
    // exact probe runs one extra time — it stays authoritative.
    // The signature rides the round's own checkpoint-materialization
    // job as an `observe` metric instead of a second full-pass
    // aggregation job per round (guide §1.2: one pass, not two).
    val obsScope = nextObsScope()
    def sigObs(name: String): org.apache.spark.sql.Observation =
      org.apache.spark.sql.Observation(s"${name}_$obsScope")
    def withSig(d: DataFrame, o: org.apache.spark.sql.Observation): DataFrame =
      d.observe(o, count(lit(1)).as("n"),
        sum(hash($"a", $"b").cast("long")).as("h"))
    def sigOf(o: org.apache.spark.sql.Observation): (Long, Long) = {
      val m = o.get
      (m("n").asInstanceOf[Long],
        Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val obs0 = sigObs("cc_sig_stage")
    var e = traced(s, "cc_stage")(withSig(pairs
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), obs0)
      .localCheckpoint(true))
    var eSig = sigOf(obs0)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) { traced(s, s"cc_round$round") {
      // large-star over the symmetric view: m(u) = min(N(u) ∪ {u}),
      // emit (m, v) for neighbors v > u (canonical: m < u < v)
      val sym = e.select($"a".as("u"), $"b".as("v"))
        .unionByName(e.select($"b".as("u"), $"a".as("v")))
      val mL = sym.groupBy($"u")
        .agg(least(min($"v"), first($"u")).as("m"))
      val large = sym.join(mL, "u").filter($"v" > $"u")
        .select(least($"m", $"v").as("a"), greatest($"m", $"v").as("b"))
        .filter($"a" =!= $"b").distinct()
      // small-star on canonical (a < b) edges grouped by the larger
      // endpoint b: m = min smaller-neighbor; emit (m, other smaller
      // neighbors) and (m, b)
      val mS = large.groupBy($"b").agg(min($"a").as("m"))
      val obsR = sigObs(s"cc_sig_$round")
      val small = withSig(large.join(mS, "b")
        .select($"m".as("a"), $"a".as("b"))
        .unionByName(mS.select($"m".as("a"), $"b"))
        .filter($"a" =!= $"b").distinct(), obsR)
        .localCheckpoint(true)
      // cheap monotone pre-check first (signature observed during the
      // checkpoint job above — no extra job); exact fixpoint probe
      // (≤1 row collected; both directions of the symmetric difference
      // in ONE job) only when the signatures say convergence is possible
      val smallSig = sigOf(obsR)
      converged = smallSig == eSig &&
        small.except(e).unionByName(e.except(small)).limit(1).isEmpty
      e = small
      eSig = smallSig
      round += 1
    } }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds " +
          "— raise maxRounds (rounds grow O(log^2 n))")
    // at fixpoint every edge is (root, member)
    e.select($"b".as("vertex"), $"a".as("cluster"))
      .unionByName(
        e.select($"a").distinct().select($"a".as("vertex"), $"a".as("cluster")))
  }

  /** Degree-ordered orientation for triangle/wedge enumeration: point
    * each undirected edge toward the higher-(degree, id) endpoint.
    * The triangle set is invariant under ANY total vertex order, but
    * the wedge-join cost is Σ_v in(v)·out(v) and depends on it hard:
    * id-orientation leaves a hot mid-id vertex with d/2 in- and d/2
    * out-edges (d²/4 wedges — unbounded under power-law skew), while
    * degree-orientation bounds every out-neighborhood by O(√m) (an
    * out-neighbor has degree ≥ yours, and there can only be √(2m)
    * vertices of degree ≥ √(2m)), so total wedges are O(m^1.5) on ANY
    * graph — the classic Ortmann/Brandes bound. Input: one row per
    * undirected edge as (u, v), endpoints distinct in any order.
    * Output: the same edge set re-oriented, columns (u, v). */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.select($"u".as("x"))
      .unionByName(edges.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("dg"))
    val fwd = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    edges
      .join(deg.select($"x".as("u"), $"dg".as("du")), Seq("u"))
      .join(deg.select($"x".as("v"), $"dg".as("dv")), Seq("v"))
      .select(when(fwd, $"u").otherwise($"v").as("u"),
        when(fwd, $"v").otherwise($"u").as("v"))
  }

  /** k-core peeling to the FULL fixpoint: repeatedly drop vertices of
    * degree < k until none remain (the data-dependent completion of
    * the fixed-round g15 contract). Input: symmetric (src, dst) pairs.
    * Output: the surviving edge set.
    *
    * Each round is one partial-agg'd degree count + two semi-joins
    * over the monotonically SHRINKING edge set, lineage cut per round.
    * Convergence is an exact edge-count comparison — peeling only
    * removes rows, so an unchanged count IS the fixpoint (no hashed
    * signature needed, and no two-sided except). `maxRounds` is a
    * runaway guard that FAILS FAST rather than returning an unpeeled
    * core (the connectedComponentsStar discipline); real graphs
    * converge in O(peel depth) <= O(max degeneracy) rounds.
    *
    * Degrees are derived from groupBy(src) alone, which is only the
    * true degree when the input holds BOTH directions of every edge.
    * The DEFAULT (`symmetric = false`) therefore symmetrizes the input
    * here — safe for any caller, at the cost of one reverse+distinct.
    * Callers that KNOW their edge list is already symmetric (pairs2 is,
    * by construction) opt into skipping that shuffle with
    * `symmetric = true`; a false claim would peel an out-degree-based
    * (wrong) core, so under `spark.graft.debug.validate=true` the
    * claim is spot-checked (a bounded edge sample must find its
    * reverse in the input) and misuse FAILS LOUDLY instead
    * (GraphOpsSpec pins it).
    */
  def kcoreFixpoint(pairs: DataFrame, k: Int, maxRounds: Int = 60,
      symmetric: Boolean = false): DataFrame = {
    val in = pairs.select(col("src"), col("dst"))
    if (symmetric && pairs.sparkSession.conf
        .getOption("spark.graft.debug.validate").contains("true")) {
      val missing = in.limit(1000)
        .select(col("dst").as("src"), col("src").as("dst"))
        .join(in, Seq("src", "dst"), "left_anti").limit(1).count()
      if (missing > 0)
        throw new IllegalArgumentException(
          "kcoreFixpoint(symmetric = true) called on an edge list " +
            "missing reverse edges — the claim is false; drop the flag " +
            "(the default symmetrizes) or fix the input")
    }
    // per-round edge counts ride each round's checkpoint job as an
    // `observe` metric instead of a second count() job per round
    // (guide §1.2: one pass, not two)
    def counted(d: DataFrame, name: String): (DataFrame, () => Long) = {
      val o = org.apache.spark.sql.Observation(name)
      (d.observe(o, count(lit(1)).as("n")),
        () => o.get("n").asInstanceOf[Long])
    }
    val obsScope = nextObsScope()
    val sym = if (symmetric) in else reverse(in).distinct()
    val (sym0, n0) = counted(sym, s"kcore_n_stage_$obsScope")
    var edges = sym0.localCheckpoint(true)
    var n = n0()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val keep = edges.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("vertex"))
      val (nextObs, m0) = counted(edges
        .join(keep.withColumnRenamed("vertex", "src"), Seq("src"),
          "left_semi")
        .join(keep.withColumnRenamed("vertex", "dst"), Seq("dst"),
          "left_semi")
        .select(col("src"), col("dst")),
        s"kcore_n_${round}_$obsScope")
      val next = nextObs.localCheckpoint(true)
      val m = m0()
      converged = m == n
      edges = next
      n = m
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kcoreFixpoint did not converge in $maxRounds rounds — raise " +
          "maxRounds (rounds are bounded by the graph's peel depth)")
    edges
  }

  /** Probability-product incremental BSP — the reference's
    * `incrementalNetBSP` semantics (HGraphTable.scala:143-228,
    * SURVEY-declared intent): a BATCH of new scored connections is
    * admitted against a STANDING connection state, and accepted
    * evidence propagates through the state with multiplicatively
    * attenuating probability (`ehe.probability * she.probability`,
    * HGraphTable.scala:193-197), each hop dominance-filtered — a
    * message loses against any existing connection to the same peer
    * with probability >= its own (HGraphTable.scala:168-170, the
    * reference's `>=`-drop, so only STRICT improvements survive).
    *
    * Semantics preserved from the reference per superstep:
    *  - inbox collapses per (vertex, peer) to the best message
    *    (max prob, ties by ts then vendor — deterministic where the
    *    reference's reduceByKey order was arbitrary);
    *  - dominance filters against state AND the accumulated pending
    *    suggestions (reference: hbase + pending checks);
    *  - the surviving delta pairs with the vertex's PRE-MERGE
    *    connections (state ∪ old pending — the reference reads
    *    `existing = hbase ++ pending` before transferring the inbox)
    *    and suggests both sides: peer s learns of peer i with
    *    (vendor, ts) of the NEW edge; peer i learns of s with the new
    *    edge's vendor but the EXISTING edge's ts (HGraphTable.scala:
    *    190-197 carries exactly that asymmetry);
    *  - the last superstep absorbs its inbox without propagating.
    *
    * Output = the pending set: suggested state changes per
    * (vertex, peer), the reference's BSP_OUT update half — state
    * itself is never mutated (the caller applies changes, exactly as
    * the reference leaves the put to the caller).
    *
    * Spark-first shape: probabilities are integer MICRO-units
    * (prob_ppm ∈ [0, 1e6]; hop product = a*b DIV 1e6 — exact and
    * association-free in any engine), the frontier is delta-only
    * (messages are generated from newly-accepted rows, never from
    * standing state against itself), the standing state is partitioned
    * by vertex once and cached, and every per-round result is an eager
    * localCheckpoint (the bspIterateDelta lineage discipline).
    * `minProbPpm` drops messages whose probability attenuated below
    * the floor — the natural 100 TB fan-out bound: hop k carries
    * p^(k+1), so the frontier starves geometrically instead of
    * flooding the cluster with epsilon-probability suggestions.
    *
    * Input schemas (state and batch): (vertex, peer, vendor,
    * prob_ppm, ts), symmetric (both directions present).
    */
  def probBspIncremental(state: DataFrame, batch: DataFrame,
      supersteps: Int, minProbPpm: Long = 1L,
      stateColocated: Boolean = false): DataFrame = {
    val s = state.sparkSession
    import s.implicits._
    // The dominance join keys on (vertex, peer) but the state layout is
    // clustered by vertex alone (the propagation join's key). Spark
    // only anchors co-partitioning on a SUBSET of the join keys when
    // this conf allows it — without it EnsureRequirements re-shuffles
    // the full standing state by (vertex, peer) EVERY superstep.
    // Scoped set/restore is sound because the whole loop executes
    // eagerly (localCheckpoint/count) inside this function.
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPartPrev = s.conf.get(coPartKey)
    s.conf.set(coPartKey, "false")
    try probBspIncrementalRun(state, batch, supersteps, minProbPpm,
      stateColocated)
    finally s.conf.set(coPartKey, coPartPrev)
  }

  private def probBspIncrementalRun(state: DataFrame, batch: DataFrame,
      supersteps: Int, minProbPpm: Long,
      stateColocated: Boolean): DataFrame = {
    val s = state.sparkSession
    import s.implicits._
    val cols = Seq("vertex", "peer", "vendor", "prob_ppm", "ts")
    def canon(df: DataFrame): DataFrame = df.select(cols.map(col): _*)
    // best message / suggestion per (vertex, peer): lexicographic
    // (prob, ts, vendor) struct max — a pure hash aggregation
    def best(df: DataFrame): DataFrame = df
      .groupBy($"vertex", $"peer")
      .agg(max(struct($"prob_ppm", $"ts", $"vendor")).as("m"))
      .select($"vertex", $"peer", $"m.vendor".as("vendor"),
        $"m.prob_ppm".as("prob_ppm"), $"m.ts".as("ts"))
    // the existing side never contributes vendor (messages carry the
    // NEW edge's vendor, the reference's ehe.vendorCode) — cache the
    // slim 4-column layout, partitioned by the message-join key.
    // `stateColocated`: the caller's state is ALREADY clustered by
    // vertex (a Staging bucketed table) — skip the repartition and let
    // every superstep join plan against the storage partitioning
    // (cache and project both preserve it); the batch/delta side pays
    // the only Exchange. At 100 TB the standing state is the table an
    // ingest cannot afford to re-shuffle per run.
    val slim = state.select(col("vertex"), col("peer"), col("prob_ppm"),
      col("ts"))
    val st = (if (stateColocated) slim
              else slim.repartition(col("vertex"))).cache()
    st.count() // materialize once; every superstep reuses the layout
    // pending starts ABSENT, not as an empty relation: unioning a
    // statically-empty LocalRelation trips Catalyst's union constraint
    // rewrite (AttributeMap lookup on the pruned side), so the first
    // superstep's delta BECOMES the pending set instead
    var pending: Option[DataFrame] = None
    val obsScope = nextObsScope()
    var inbox = canon(batch)
    var step = 1
    var drained = false
    while (step <= supersteps && !drained) {
      val cand = best(inbox).filter($"prob_ppm" >= minProbPpm)
      // dominance: strict improvement over state AND over pending
      val vsState = cand.as("c")
        .join(st.as("s"), $"c.vertex" === $"s.vertex" &&
          $"c.peer" === $"s.peer", "left")
        .filter($"s.prob_ppm".isNull || $"c.prob_ppm" > $"s.prob_ppm")
        .select($"c.vertex", $"c.peer", $"c.vendor", $"c.prob_ppm", $"c.ts")
      // the drained probe rides the delta's checkpoint job as an
      // `observe` count instead of a separate limit-1 job per superstep
      val deltaObs = org.apache.spark.sql.Observation(
        s"g16_delta_${step}_$obsScope")
      val delta = pending.fold(vsState) { p =>
        vsState.as("c")
          .join(p.as("p"), $"c.vertex" === $"p.vertex" &&
            $"c.peer" === $"p.peer", "left")
          .filter($"p.prob_ppm".isNull || $"c.prob_ppm" > $"p.prob_ppm")
          .select($"c.vertex", $"c.peer", $"c.vendor", $"c.prob_ppm",
            $"c.ts")
      }.observe(deltaObs, count(lit(1)).as("n")).localCheckpoint(true)
      drained = deltaObs.get("n").asInstanceOf[Long] == 0L
      // propagate the delta against the PRE-MERGE existing connections.
      // Join the state leg and the pending leg SEPARATELY, then union
      // the pairs: join distributes over union, and a union node would
      // erase the state's partitioning credit (bucketed or cached
      // hash layout) and force a per-superstep state shuffle.
      if (step < supersteps && !drained) {
        def pairWith(existing: DataFrame): DataFrame = delta.as("d")
          .join(existing.as("e"), $"d.vertex" === $"e.vertex")
          .filter($"e.peer" =!= $"d.peer")
          .withColumn("pp", expr("d.prob_ppm * e.prob_ppm DIV 1000000"))
          // floor the product BEFORE the message shuffle: dropping a
          // sub-floor message can only drop keys whose MAX is
          // sub-floor, which the post-aggregation floor drops anyway —
          // identical outcome, but deep-hop fan-out (attenuated to
          // epsilon) never reaches the wire
          .filter($"pp" >= minProbPpm)
          .select($"d.peer".as("d_peer"), $"d.vendor".as("d_vendor"),
            $"d.ts".as("d_ts"), $"e.peer".as("e_peer"),
            $"e.ts".as("e_ts"), $"pp")
        val paired = pending.fold(pairWith(st))(p =>
            pairWith(st).unionByName(
              pairWith(p.select(col("vertex"), col("peer"),
                col("prob_ppm"), col("ts")))))
        // both message legs come out of ONE pass over the join via
        // explode(array(struct, struct)) — the same row multiset as the
        // former two-select union, without materializing the join to an
        // eager checkpoint first (one fewer blocking job + checkpoint
        // write per superstep; lineage stays bounded because delta and
        // pending are still checkpointed each round)
        inbox = paired.select(explode(array(
            struct($"e_peer".as("vertex"), $"d_peer".as("peer"),
              $"d_vendor".as("vendor"), $"pp".as("prob_ppm"),
              $"d_ts".as("ts")),
            struct($"d_peer".as("vertex"), $"e_peer".as("peer"),
              $"d_vendor".as("vendor"), $"pp".as("prob_ppm"),
              $"e_ts".as("ts")))).as("m"))
          .select($"m.vertex".as("vertex"), $"m.peer".as("peer"),
            $"m.vendor".as("vendor"), $"m.prob_ppm".as("prob_ppm"),
            $"m.ts".as("ts"))
      }
      if (!drained)
        pending = Some(pending.fold(delta)(p =>
          best(p.unionByName(delta)).localCheckpoint(true)))
      step += 1
    }
    st.unpersist(false)
    pending.getOrElse(
      Seq.empty[(Long, Long, Long, Long, Long)].toDF(cols: _*))
  }

  def f1(model: DataFrame, validation: DataFrame): DataFrame = {
    val row = f1Counts(model, validation).first()
    val (nm, nv, tp) = (row.getLong(0).toDouble, row.getLong(1).toDouble,
      row.getLong(2).toDouble)
    val fp = nm - tp
    val fn = nv - tp
    val precision = if (tp + fp > 0) tp / (tp + fp) else 0.0
    val recall = if (tp + fn > 0) tp / (tp + fn) else 0.0
    val f = if (precision + recall > 0) 2 * precision * recall / (precision + recall) else 0.0
    val s = model.sparkSession
    import s.implicits._
    Seq((math.rint(precision * 1e6) / 1e6, math.rint(recall * 1e6) / 1e6,
      math.rint(f * 1e6) / 1e6)).toDF("precision", "recall", "f1")
  }
}
