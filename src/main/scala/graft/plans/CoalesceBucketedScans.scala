package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Post-planner rule: an N-bucket file table scans as k coalesced
  * bucket groups, with k sized to the session's shuffle parallelism
  * instead of the table's write-time bucket count.
  *
  * Why: every Staging artifact (`pairs2`, `probstate`, `partsupp`, the
  * ANN indexes) is written with a fixed bucket count sized for a large
  * cluster, so on a small one each read pays one task per bucket file —
  * 32 tasks over ~45 KB files at sf0.01, a scheduler floor rather than
  * compute. The reference runs one task per region and joins inside the
  * table's own stage (`HBaseRDD.scala:26`, `RegionPartitioner`); this
  * keeps that co-partitioning but lets a task own several buckets.
  *
  * k is the smallest divisor of N with
  *  - `k >= spark.sql.shuffle.partitions`: with a smaller k,
  *    `EnsureRequirements` would anchor a join on the other side's
  *    shuffle count and re-shuffle the bucketed side, and
  *  - `k >= ceil(selected bytes / spark.sql.files.maxPartitionBytes)`:
  *    a group never reads more than a split's worth of data.
  *
  * k must divide N: bucket b holds the rows with `pmod(h, N) = b`, and
  * `pmod(h, N) mod k = pmod(h, k)` only when k | N — so group g is
  * exactly the rows a `HashPartitioning(key, k)` shuffle sends to g, and
  * the scan reports that partitioning (Spark's own
  * `CoalesceBucketsInJoin` relies on the same identity, but only for a
  * join of two bucketed sides). When k = N (many cores, a cluster, or a
  * large table) the scan is left untouched.
  *
  * Scope: Spark applies post-planner rules inside adaptive execution
  * only, on the initial plan and on every re-plan, before
  * `EnsureRequirements`. Non-adaptive plans (streaming micro-batches)
  * keep one task per bucket, which is equally correct. A scan that
  * already carries a coalesced count is left alone.
  */
object CoalesceBucketedScans extends Rule[SparkPlan] {

  /** Groups for an `n`-bucket scan of `bytes` bytes. */
  def groups(n: Int, shufflePartitions: Int, bytes: Long,
      maxPartitionBytes: Long): Int = {
    val bySize = math.ceil(bytes.toDouble / maxPartitionBytes).toLong
    val floor = math.max(shufflePartitions.toLong, bySize)
    (1 to n).find(k => n % k == 0 && k >= floor).getOrElse(n)
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: FileSourceScanExec
        if s.bucketedScan && s.optionalNumCoalescedBuckets.isEmpty =>
      val n = s.relation.bucketSpec.get.numBuckets
      val k = groups(n, conf.numShufflePartitions,
        s.selectedPartitions.totalFileSize, conf.filesMaxPartitionBytes)
      if (k < n) s.copy(optionalNumCoalescedBuckets = Some(k)) else s
  }
}
