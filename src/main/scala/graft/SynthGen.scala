package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the SCALING.md curves (dev
  * tooling, like Bench/Verify): replicates the driver's sf0.1 tables
  * `copies`× with disjoint key namespaces, producing a synthetic
  * sf≈1.0 under target/synth/ WITHOUT touching /root/testdata.
  *
  * Replication-with-key-shift is the right scale-up for plan stress:
  * per-key group sizes, join selectivities and the degree distribution
  * keep their sf0.1 shape (each copy is a disjoint universe, exactly
  * like TPC-H sf growth, where order/part/supplier counts all scale
  * together), while totals grow linearly — so a measured super-linear
  * runtime exposes a super-linear PLAN, not a changed data shape.
  * No RNG anywhere: output is a pure function of the input tables.
  *
  *  - lineitem: l_orderkey / l_partkey / l_suppkey shift per copy
  *    (disjoint graph universes for the pairs2/probState suites)
  *  - events: event_id / user_id shift; the time WINDOW stays fixed so
  *    event density grows 10× — the streaming-stress axis
  *  - documents: doc_id shifts; a per-copy suffix token keeps the
  *    copies from being exact duplicates of each other
  *  - embeddings: vec_id shifts; the vector rotates by `copy`
  *    positions (norm-preserving, deterministic) so ANN structure
  *    stays non-degenerate
  *  - orders: o_orderkey / o_custkey shift with the SAME per-copy
  *    offset as lineitem (FK-coherent) — the CDC/mutation stream
  *    suites (st12/st13) are orders-driven
  *  - customer / supplier / part: primary keys shift with the SAME
  *    per-copy offset as the fact FKs that reference them, so
  *    o_custkey→c_custkey, l_partkey→p_partkey, l_suppkey→s_suppkey
  *    all resolve inside every copy — exactly TPC-H sf semantics,
  *    where these three scale linearly with the facts. The
  *    nation-key columns are NOT shifted: region/nation stay fixed
  *    across sf in TPC-H too, and every copy's dims point at them.
  *
  * Build-once: the output dir carries a [[Staging.ensureFlat]] marker
  * tagged with the recipe version, the copy count and the source's
  * [[Staging.fingerprint]], written after the last table. A run whose
  * tag matches rewrites nothing and sweeps nothing.
  *
  * Regeneration staleness: every marker-guarded per-dataset artifact
  * staged FROM a previous generation of this dir (KV bases, stream
  * landing dirs, format fixtures — the flat tags carry no content
  * fingerprint) would silently serve stale data, so after writing,
  * the generator DELETES all staged artifacts slugged to the output
  * dir; the fingerprinted bucketed artifacts would rebuild anyway.
  */
object SynthGen {

  private def withCopies(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("_c", explode(sequence(lit(0L), lit(copies - 1L))))

  /** One FIXED offset per copy for every key column, far above any
    * sf0.1 id: the same copy index shifts l_orderkey and o_orderkey by
    * the same amount, so cross-table FK joins stay valid inside each
    * copy (per-table max-based offsets would break them). */
  private val SHIFT = 10000000L

  /** col + copy * SHIFT: disjoint, FK-coherent id namespace per copy. */
  private def shifted(df: DataFrame, keys: Seq[String], copies: Int)
      : DataFrame = {
    val base = withCopies(df, copies)
    keys.foldLeft(base) { case (d, k) =>
      d.withColumn(k, col(k) + col("_c") * SHIFT)
    }
  }

  /** Bump when the replication recipe changes: a new tag regenerates. */
  private val Recipe = "synthgen v1"

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption
      .getOrElse(RepoPaths.target("synth/sf1.0"))
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()
    generate(spark, src, out, copies)
    spark.stop()
  }

  /** Writes the `copies`× replication of `src` to `out` and drops the
    * staged artifacts of any previous generation — unless `out` already
    * holds this generation (same recipe, copy count and source
    * fingerprint), in which case it touches nothing. */
  def generate(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = Staging.ensureFlat(out,
      s"$Recipe copies=$copies src=$src fp=${Staging.fingerprint(src)}") {
    def write(name: String, df: DataFrame): Unit = {
      df.drop("_c").write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[synthgen] $name -> $out/$name.parquet")
    }

    write("lineitem", shifted(Tables(spark, src, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), copies))

    write("events", shifted(Tables(spark, src, "events"),
      Seq("event_id", "user_id"), copies))

    write("documents",
      shifted(Tables(spark, src, "documents"), Seq("doc_id"), copies)
        .withColumn("text", concat(col("text"), lit(" c"),
          col("_c").cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long")))

    val emb = shifted(Tables(spark, src, "embeddings"),
      Seq("vec_id"), copies)
    write("embeddings", emb.withColumn("embedding",
      concat( // rotate by `copy` positions; copy 0 stays the original
        slice(col("embedding"), (col("_c") + 1).cast("int"),
          size(col("embedding")) - col("_c").cast("int")),
        slice(col("embedding"), lit(1), col("_c").cast("int")))))

    write("orders", shifted(Tables(spark, src, "orders"),
      Seq("o_orderkey", "o_custkey"), copies))

    // the fact-referenced dims scale with the facts (TPC-H sf
    // semantics), keyed by the SAME per-copy offset as their FKs;
    // nation keys stay unshifted — region/nation are fixed across sf.
    // c_name/s_name are REGENERATED from the shifted key (the TPC-H
    // spec derives them as 'Customer#'/'Supplier#' + 9-digit key):
    // leaving the copies' names identical breaks the name<->key
    // bijection both engines rely on — caught by the sf1.0 oracle
    // gate as a tpch_q21 hash mismatch (its oracle groups by s_name
    // alone; Spark's plan carries s_suppkey through the join).
    write("customer", shifted(Tables(spark, src, "customer"),
      Seq("c_custkey"), copies)
      .withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"),
          9, "0"))))
    write("supplier", shifted(Tables(spark, src, "supplier"),
      Seq("s_suppkey"), copies)
      .withColumn("s_name",
        concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"),
          9, "0"))))
    write("part", shifted(Tables(spark, src, "part"),
      Seq("p_partkey"), copies))
    Seq("region", "nation")
      .foreach(t => write(t, Tables(spark, src, t)))

    // invalidate per-dataset staged artifacts built from a PREVIOUS
    // generation of this dir (flat tags carry no content fingerprint)
    val slug = Staging.slug(out)
    val tgt = java.nio.file.Paths.get(RepoPaths.target(""))
    if (java.nio.file.Files.isDirectory(tgt)) {
      val fams = java.nio.file.Files.list(tgt)
      try fams.forEach { fam =>
        if (java.nio.file.Files.isDirectory(fam)) {
          val subs = java.nio.file.Files.list(fam)
          try subs.forEach { sub =>
            if (sub.getFileName.toString.endsWith(s"_$slug")) {
              println(s"[synthgen] dropping stale staged artifact $sub")
              graft.sources.kv.GraftFs.delete(sub.toString, recursive = true)
              : Unit
            }
          } finally subs.close()
        }
      } finally fams.close()
    }
  }: Unit
}
