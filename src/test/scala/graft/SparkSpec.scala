package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Runs `body` with HarnessTuning's runtime SQL knobs unset, i.e. on
    * the Spark defaults a cluster keeps (sort-merge joins, 128 MB scan
    * splits, AQE coalescing to 64 MB by parallelism), then restores them.
    * Shuffle compression, `LocalFs` and artifact isolation are fixed when
    * the context starts and stay tuned. */
  def withSparkDefaults[T](body: => T): T = {
    val prev = SparkSpec.TunedSqlKeys.map(k => k -> spark.conf.getOption(k))
    SparkSpec.TunedSqlKeys.foreach(spark.conf.unset)
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

object SparkSpec {
  val TunedSqlKeys: Seq[String] = Seq(
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes")

  // Restart-safe: SessionCacheSpec stops the shared session to prove the
  // session-keyed caches evict on stop; any suite running after it must
  // transparently get a fresh one (suites run sequentially in the single
  // forked test JVM, so no suite sees a session stop mid-flight).
  private var s: SparkSession = null
  def session: SparkSession = synchronized {
    if (s == null || s.sparkContext.isStopped) {
      // the Bench session at 4 threads (HarnessTuning): every spec runs
      // the engine the bench times and the oracle gate checks
      s = HarnessTuning.session("4")
    }
    s
  }
}
