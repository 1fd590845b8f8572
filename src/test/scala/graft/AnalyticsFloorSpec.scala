package graft

import org.scalatest.funsuite.AnyFunSuite

/** The job floor of a warm query: once a dataset's tables and staged
  * artifacts have been read, running a query again submits only the
  * jobs that compute its answer — no schema-inference job over parquet
  * footers, and no eager count to fill a cache of state that is already
  * on disk. The queries are the analytics benchmark mix. */
class AnalyticsFloorSpec extends AnyFunSuite with SparkSpec {

  private val mix = Seq("tpch_q9", "g11_pagerank", "g16_prob_bsp",
    "llm_dedup_clusters", "tpch_q6", "w1_top1_per_group")

  /** One pass over the mix: each query's rows and the call sites of the
    * jobs it submitted. Cached blocks are dropped between queries, as
    * the benchmark does. */
  private def pass(): Map[String, (Seq[String], Seq[String])] =
    mix.map { q =>
      var rows = Seq.empty[String]
      val calls = jobCallSites {
        rows = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq
      }
      spark.catalog.clearCache()
      q -> (rows, calls)
    }.toMap

  test("a second pass over the analytics mix runs no footer job and " +
    "g16 no count job, with the same results") {
    val first = pass()
    val second = pass()
    mix.foreach { q =>
      assert(second(q)._1 === first(q)._1, q)
      val calls = second(q)._2
      assert(!calls.exists(_.startsWith("parquet at")), s"$q: $calls")
    }
    val g16 = second("g16_prob_bsp")._2
    assert(!g16.exists(_.startsWith("count at")), g16)
  }
}
