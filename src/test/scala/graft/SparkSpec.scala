package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  // Restart-safe: SessionCacheSpec stops the shared session to prove the
  // session-keyed caches evict on stop; any suite running after it must
  // transparently get a fresh one (suites run sequentially in the single
  // forked test JVM, so no suite sees a session stop mid-flight).
  private var s: SparkSession = null
  def session: SparkSession = synchronized {
    if (s == null || s.sparkContext.isStopped) {
      // the fork-free `file:` scheme Bench and Verify run on, so the
      // checkpoint and state-store specs recover through it, and their
      // shared compiled classes (HarnessTuning)
      s = graft.io.LocalFs(SparkSession.builder())
        .config("spark.sql.artifact.isolation.enabled", "false")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .appName("graft-tests")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
    }
    s
  }
}
