package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.kv.GraftFs

/** SynthGen is build-once: a generation whose recipe, copy count and
  * source fingerprint match the output dir's marker rewrites no table
  * and drops no staged artifact; any other generation does both. */
class SynthGenSpec extends AnyFunSuite with SparkSpec {

  test("a repeated 2-copy generation leaves the files' mtimes and the " +
    "staged artifacts unchanged; a new copy count regenerates") {
    val out = targetPath("synthgen_spec/sf0.002")
    GraftFs.delete(out, recursive = true)
    val artifact = targetPath(s"graft_stage/spec_${Staging.slug(out)}")
    def plant(): Unit = GraftFs.writeString(s"$artifact/_graft_setup.txt", "x")
    def planted: Boolean = Files.exists(Paths.get(artifact))
    def mtimes: Map[String, Long] = {
      val files = Files.walk(Paths.get(out))
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally files.close()
    }
    def lineitems: Long = spark.read.parquet(s"$out/lineitem.parquet").count()
    val base = Tables.lineitem(spark, sf).count()

    plant()
    SynthGen.generate(spark, sf, out, 2)
    assert(!planted, "a fresh generation drops the previous one's artifacts")
    assert(lineitems === 2 * base)
    val first = mtimes
    assert(first.keys.exists(_.endsWith("_graft_setup.txt")))

    plant()
    SynthGen.generate(spark, sf, out, 2)
    assert(mtimes === first)
    assert(planted, "a matching generation sweeps nothing")

    SynthGen.generate(spark, sf, out, 3)
    assert(!planted)
    assert(lineitems === 3 * base)
    GraftFs.delete(out, recursive = true)
  }
}
