package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

/** The plain statement of G4 iterative BSP, kept beside the specs as the
  * reference the engine's delta-frontier loop
  * ([[graft.graph.GraphOps.bspIterateDeltaFrom]]) is compared against —
  * the two must agree label-for-label at every step count. */
object GraphReference {
  /** n supersteps of [[GraphOps.bspStep]] (HGraphTable.scala:143-228
    * semantics) with the lineage cut each round, so the loop's plan
    * does not grow exponentially. */
  def bspIterate(labels0: DataFrame, pairs: DataFrame, steps: Int): DataFrame = {
    // pairs is re-joined every superstep — materialize it once
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = labels0
    for (_ <- 1 to steps) {
      labels = GraphOps.bspStep(labels, p).localCheckpoint(eager = true)
    }
    p.unpersist()
    labels
  }
}
