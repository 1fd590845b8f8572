package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization seam: every eager checkpoint in
  * `src/main` goes through here (MaterializeGuardSpec enforces it).
  *
  *  - [[eager]]: a multiply-consumed relation computed once (the
  *    llm_ccnet_buckets / an_ks_test pattern: a slim scored relation
  *    read 3× downstream, where lazy recompute would re-execute the
  *    whole upstream pipeline per consumer — measured 2.8× of
  *    llm_ccnet's total at sf1.0). Deployment-selected via
  *    `spark.graft.materialize`:
  *    - default (`localCheckpoint`): a [[cut]] — blocks live on
  *      executor-local storage with TRUNCATED lineage. Fastest, and
  *      right for local[*] / static-executor clusters; but on a cluster
  *      with dynamic allocation or executor loss the query dies
  *      unrecoverably instead of recomputing.
  *    - `persist`: MEMORY_AND_DISK persist + an eager count. Lineage is
  *      KEPT, so a lost block recomputes from source — the setting a
  *      dynamic-allocation 100 TB deployment should run with, at the
  *      cost of keeping the upstream plan alive in each consumer.
  *  - [[cut]]: the lineage cut, under BOTH values of
  *    `spark.graft.materialize`. Iterative loops (graph supersteps, BPE
  *    rounds, k-means rounds) cut every round because a round's state
  *    is referenced two or more times by the next round's plan: a
  *    persisted, lineage-keeping chain grows the analyzed plan
  *    exponentially with the round count (the Bpe.learn stall), and a
  *    caller that releases its inputs right after materializing (the
  *    pageRank result, Dedup's barrier) needs blocks that do not read
  *    through them. Making `persist` safe for loops is open work.
  *  - [[release]]: frees what either of the above pinned.
  */
object Materialize {
  def eager(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.materialize") match {
      case Some("persist") =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count(): Unit // materialize now; recomputable on block loss
        p
      case _ => cut(df)
    }

  /** Process-wide sequence that scopes `observe` metric names: names
    * must be unique among the session's ACTIVE observations, and two
    * runs on one session (even over the same input DataFrame, from
    * different threads) must never share one. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Eager `localCheckpoint`: computes `df` once into executor-local
    * blocks and returns a frame whose plan starts there. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** [[cut]] that also returns `metrics` (aggregate columns, named with
    * `.as`) evaluated over `df`'s rows. They ride the checkpoint's own
    * job through `observe`, so reading them costs no extra job. */
  def cut(df: DataFrame, metric: Column, more: Column*): (DataFrame, Map[String, Any]) = {
    val o = Observation(s"graft_cut_${obsSeq.incrementAndGet()}")
    val out = cut(df.observe(o, metric, more: _*))
    (out, o.get)
  }

  /** Frees the blocks behind a frame [[cut]] or [[eager]] returned.
    * `Dataset.unpersist` frees nothing for a checkpointed frame — its
    * blocks belong to the RDD under the plan's `LogicalRDD` root — so
    * that RDD is unpersisted directly (non-blocking). Any other frame
    * is `unpersist`ed. Only for frames nothing reads any more: a frame
    * derived from a cut does not read through it, but a persisted
    * frame derived from it recomputes through it if its blocks are
    * lost. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
    case _ => df.unpersist(false): Unit
  }
}
