package graft

import graft.operators.Similarity
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF and IVF-PQ pipelines materialize every checkpointed frame
  * before their serving action runs. A lazy `localCheckpoint(false)`
  * frame first computed inside the action races: the job that
  * materializes it truncates its lineage while the DAG scheduler walks
  * the same lineage for a concurrent AQE query-stage job
  * ("RDD.dependencies() is null", seen once in 270 benchmark runs of
  * q165). So the serving action must store no RDD block: every
  * checkpoint it reads already exists. */
class ServingCheckpointSpec extends SparkSpec {

  private lazy val planted500 = Similarity.plantedEmbeddings(
    spark.range(500).select(col("id").as("vec_id")))

  /** RDD blocks stored while `df`'s action runs. */
  private def blocksStoredBy(df: DataFrame): Seq[String] = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val stored = collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit = {
        val b = u.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid)
          stored.synchronized(stored += b.blockId.name)
      }
    }
    sc.addSparkListener(listener)
    try { df.collect(); ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    stored.synchronized(stored.toList)
  }

  test("q165's serving action stores no checkpoint block") {
    val q165 = Similarity.ivfPqResidual(planted500, 10, 3, 4, 8, 2, 5)
    assert(blocksStoredBy(q165).isEmpty)
  }

  test("the other IVF-PQ serving actions store no checkpoint block") {
    val pipelines = Seq(
      "ivfPq" -> Similarity.ivfPq(planted500, 10, 3, 4, 8, 2, 5),
      "ivfPqResidualMultiprobe" ->
        Similarity.ivfPqResidualMultiprobe(planted500, 10, 3, 4, 8, 2, 2, 5),
      "jlIvfPq" -> Similarity.jlIvfPq(planted500, 16, 10, 3, 2, 4, 8, 2, 5))
    for ((name, df) <- pipelines)
      assert(blocksStoredBy(df).isEmpty, name)
  }

  test("q158/q167's JL-IVF serving action stores no checkpoint block") {
    val jlIvf = Similarity.jlIvf(planted500, 16, 10, 3, 2, 5)
    assert(blocksStoredBy(jlIvf).isEmpty)
  }
}
