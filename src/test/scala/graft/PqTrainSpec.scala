package graft

import graft.operators.Similarity
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused IVF-PQ trainers keep the contract their scaladoc promises
  * and the shape they were fused for:
  *   - pqTrainFused equals m independent lloydCore runs over the
  *     sub-slices (seed tags tagBase+s), and ivfPqTrainFused equals
  *     lloydCore(…, 143) plus those runs — element for element;
  *   - every training job scans its input ONCE: a round is one job whose
  *     input stage has as many tasks as the frame has partitions, not m
  *     times that (an m-leg union of re-projections would multiply it),
  *     and no job shuffles more than model-sized rows.
  * The corpus is the 500-id planted corpus PlantedRecallSpec uses,
  * quantized and spread over 3 partitions (not the 4 reduce partitions
  * a training scope plans, so an input stage cannot pass by accident). */
class PqTrainSpec extends SparkSpec {

  private lazy val qframe = Similarity.quantized(Similarity.plantedEmbeddings(
      spark.range(500).select(col("id").as("vec_id"))))
    .repartition(3).localCheckpoint()

  private def subSlice(s: Int, sub: Int): DataFrame = qframe
    .select(col("vec_id"), expr(s"slice(qd, ${s * sub + 1}, $sub)").as("qd"))
    .withColumn("qq", expr("vec_dot(qd, qd)"))

  /** Jobs started and stages completed while `f` runs. */
  private def census[A](f: => A): (A, Int, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    @volatile var jobs = 0
    val stages = collection.mutable.ArrayBuffer.empty[StageInfo]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages += sc.stageInfo)
    }
    sc.addSparkListener(listener)
    val out =
      try { val a = f; ListenerDrain(sc); a }
      finally sc.removeSparkListener(listener)
    (out, jobs, stages.synchronized(stages.toList))
  }

  test("pqTrainFused equals m independent lloydCore runs over the " +
    "sub-slices") {
    val got = Similarity.pqTrainFused(qframe.select("vec_id", "qd"),
      4, 16, 8, 2, tagBase = 16000)
    val want = (0 until 4).map(s =>
      Similarity.lloydCore(subSlice(s, 16), 8, 2, 16000 + s)._1)
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }

  test("ivfPqTrainFused equals lloydCore(…, 143) plus the per-subspace " +
    "lloydCore runs") {
    val (ca, codebooks, d) = Similarity.ivfPqTrainFused(qframe, 10, 3, 4, 8, 2)
    assert(d == 64)
    assert(ca.toSeq == Similarity.lloydCore(qframe, 10, 3, 143)._1.toSeq)
    val want = (0 until 4).map(s =>
      Similarity.lloydCore(subSlice(s, 16), 8, 2, 15700 + s)._1.toSeq)
    assert(codebooks.map(_.toSeq) == want)
  }

  test("one scan per training job: 1 + iters jobs, input stages as wide " +
    "as the frame") {
    val parts = qframe.rdd.getNumPartitions
    assert(parts == 3)
    val iters = 2
    def check(name: String, jobs: Int, stages: Seq[StageInfo],
              cells: Int): Unit = {
      assert(jobs == 1 + iters, s"$name ran $jobs jobs, want ${1 + iters}")
      // every shuffle carries model-sized rows: partial aggregates and
      // per-partition seed top-k, never the corpus
      val shuffled = stages.map(_.taskMetrics.shuffleWriteMetrics.recordsWritten)
      assert(shuffled.forall(_ <= parts * cells),
        s"$name shuffled ${shuffled.mkString(",")} rows, bound ${parts * cells}")
      // input stages read the frame, not another stage's shuffle
      val input = stages.filter(_.parentIds.isEmpty)
      assert(input.size == jobs, s"$name: one input stage per job, got " +
        input.map(_.numTasks).mkString(","))
      assert(input.forall(_.numTasks == parts),
        s"$name input stages ran ${input.map(_.numTasks).mkString(",")} " +
          s"tasks over a $parts-partition frame")
    }
    val (_, pqJobs, pqStages) = census(Similarity.pqTrainFused(
      qframe.select("vec_id", "qd"), 4, 16, 8, iters, tagBase = 16000))
    check("pqTrainFused", pqJobs, pqStages, cells = 4 * 8 * 16)
    val (_, lJobs, lStages) = census(Similarity.lloydCore(qframe, 10, iters, 143))
    check("lloydCore", lJobs, lStages, cells = 10 * 64)
  }
}
