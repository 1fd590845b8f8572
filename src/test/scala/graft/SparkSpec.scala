package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (TestSparkContext.scala:5-17
  * parity in the reference). */
trait SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("4")
  lazy val sf: String = "/root/testdata/sf0.001"
  /** Checkout-relative scratch path — suites must not assume the repo
    * lives at one absolute location. */
  def targetPath(rel: String): String = RepoPaths.target(rel)

  /** The call sites (result-stage names, e.g. `parquet at Tables.scala:NN`)
    * of the Spark jobs `body` submits under this thread's local
    * properties, in submission order. */
  def jobCallSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val prop = "graft.test.callsites"
    val tag = java.util.UUID.randomUUID.toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(prop) == tag)
          seen.add(e.stageInfos.maxBy(_.stageId).name)
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(prop, tag)
    try body
    finally {
      sc.setLocalProperty(prop, null)
      GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}
