package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs run
  * in the same forked JVM, so building it once keeps `sbt test` fast): the
  * mains' [[LocalSession]] at 4 cores, plus test-only settings. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession.builder(4)
    .appName("graft-test")
    // every test frame is tiny — disable the Ranked size gate so specs
    // exercise the distributed (scale) spelling; gate-regime tests set
    // the knob explicitly and restore it
    .config("spark.graft.ranked.smallBytes", "0")
    // same discipline for the graph driver-finish gate (r17): specs test
    // the distributed supersteps; GraphSmallEquivalenceSpec flips the
    // knob explicitly to pin driver ≡ distributed
    .config("spark.graft.graph.smallEdges", "0")
    .config("spark.graft.cc.smallStars", "0")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
    .getOrCreate()
}
