package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `analytics`: repeated passes over a fixed, read-only mix of
  * `SparkEntry.queries` in a seed-permuted order. Every result is
  * collected and fingerprinted; the fingerprints are checked against
  * the DuckDB oracle's outside the JVM. No KV table or stream is
  * touched except the engine's own staged artifacts. */
final class Analytics(ctx: Ctx) extends Workload {
  import Analytics._

  private val queries = graft.SparkEntry.queries
  private val rng = new scala.util.Random(ctx.seed)

  def setup(): Unit = Mix.foreach(q => require(queries.contains(q), s"unknown query $q"))

  /** A pass runs the mix in one order and then in the reverse of that
    * order, so every query has two samples whose mean position in the
    * pass is the same for every query and seed: the speed-up that is
    * still under way across a run does not favour the queries a seed
    * happens to put late. A timed pass takes a fresh seeded order; the
    * warm-up pass, a fixed one. After a warm-up of the mix run only
    * once, a query's first timed run was still 30-50% slower than its
    * second. */
  def pass(p: Int): Iterator[Op] = {
    val order = if (p == 0) Mix else rng.shuffle(Mix)
    (order ++ order.reverse).iterator.map(op)
  }

  private def op(name: String): Op = {
    val fn = queries(name)
    Op(name, "read", module(name)) {
      val df: DataFrame = ctx.span("build")(fn(ctx.spark, ctx.dataDir))
      (df.columns.toSeq, ctx.span("collect")(df.collect()))
    } { case (cols, rows) =>
      Verdict(ok = true, fingerprint = Some(Fingerprint.of(cols, rows).json))
    }
  }

  /** The same between-query sweep `graft.Bench` does: no query's cached
    * blocks may tax the next one. */
  override def betweenOps(): Unit = {
    val s: SparkSession = ctx.spark
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

object Analytics {
  val Relational = Seq("tpch_q9")
  val Graph = Seq("g11_pagerank", "g16_prob_bsp")
  val Llm = Seq("llm_dedup_clusters")
  /** Queries from the sub-0.3 s half of the suite: the job/planning floor. */
  val Floor = Seq("tpch_q6", "w1_top1_per_group")
  val Mix: Seq[String] = Relational ++ Graph ++ Llm ++ Floor

  def module(q: String): String =
    if (graft.graph.GraphQueries.queries.contains(q)) "graph"
    else if (graft.llm.LlmQueries.queries.contains(q)) "llm"
    else "operators"
}
