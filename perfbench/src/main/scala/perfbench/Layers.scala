package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Warm-pass values are per-pass totals, the median over the traced
  * warm passes; `Tables.*` come from the set-up, `codegen.*` from the
  * cold pass, `jvm.gc_s` from all passes of the run and `jvm.heap_mb`
  * from full GCs at the end of the cold pass and of the run. Also writes every span and one row per traced query to
  * `<work>/trace/<workload>-<seed>.json`. */
object Layers {
  import Harness.median

  def apply(passes: Seq[Int], passWalls: Seq[Double], untracedPassS: Double, gcS: Double, heapMb: Double, cores: Int,
            tableLoads: Seq[(String, Double)], work: String, workload: String, seed: String): Seq[(String, Double, String)] = {
    val all = Recorder.spans.asScala.toSeq
    val byPass = all.groupBy(_.pass)
    val perPass = passes.zip(passWalls).map { case (p, wall) =>
      val spans = byPass.getOrElse(p, Nil)
      val a = Recorder.acc(p)
      val split = SelfTime.split(spans)
      val queries = spans.filter(_.level == "query")
      val builds = spans.filter(_.level == "build")
      val actions = spans.filter(_.level == "action")
      val jobs = spans.filter(_.level == "job")
      val busyS = a.busyMs / 1e3
      Seq(
        ("SparkEntry.build_s", builds.map(_.dur).sum / 1e3, "s"),
        ("SparkEntry.build_jobs", jobs.count(_.phase == "build").toDouble, "count"),
        ("SparkEntry.build_gap_s", split.buildGapPerQuery.values.sum, "s"),
        ("catalyst.analysis_s", a.analysisMs / 1e3, "s"),
        ("catalyst.optimization_s", a.optimizationMs / 1e3, "s"),
        ("catalyst.planning_s", a.planningMs / 1e3, "s"),
        ("plans.rewrites", a.rewrites.toDouble, "count"),
        ("functions.exprs", a.graftExprs.toDouble, "count"),
        ("exec.s", actions.map(_.dur).sum / 1e3, "s"),
        ("exec.jobs", a.jobs.toDouble, "count"),
        ("exec.stages", a.stages.toDouble, "count"),
        ("exec.tasks", a.tasksEnded.toDouble, "count"),
        ("exec.task_busy_s", busyS, "s"),
        ("exec.core_util", busyS / (wall * cores), "ratio"),
        ("exec.shuffle_write_mb", a.shuffleWrite / 1e6, "MB"),
        ("exec.shuffle_read_mb", a.shuffleRead / 1e6, "MB"),
        ("exec.spill_mb", a.spill / 1e6, "MB"),
        ("exec.task_ok_ratio", (if (a.tasksLaunched == 0) 1.0 else a.tasksOk.toDouble / a.tasksLaunched), "ratio"),
        ("materialize.blocks", a.blocks.toDouble, "count"),
        ("materialize.mb", a.blockBytes / 1e6, "MB"),
        ("streaming.batches", a.batches.toDouble, "count"),
        ("streaming.batch_p50_ms", median(a.batchMs.toSeq), "ms"),
        ("streaming.addbatch_ms", a.addBatchMs, "ms"),
        ("streaming.planning_ms", a.streamPlanningMs, "ms"),
        ("streaming.commit_ms", a.commitMs, "ms"),
        ("scratch.peak_mb", a.scratchPeakBytes / 1e6, "MB"),
        ("scratch.files", a.scratchPeakFiles.toDouble, "count"),
        ("sched.task_wait_s", a.waitMs / 1e3, "s"),
        ("trace.pass_s", wall, "s"),
        ("split.build_self_s", split.buildSelf, "s"),
        ("split.build_jobs_s", split.buildJobs, "s"),
        ("split.catalyst_s", split.catalyst, "s"),
        ("split.action_jobs_s", split.actionJobs, "s"),
        ("split.action_self_s", split.actionSelf, "s"),
        ("split.leftover_s", wall - queries.map(_.dur).sum / 1e3, "s"))
    }
    val cold = Recorder.acc(Recorder.ColdPass)
    val setup = Recorder.acc(Recorder.SetupPass)
    val tracedPassS = median(passWalls)
    val warm = perPass.headOption.toSeq.flatten.indices.map { i =>
      val (name, _, unit) = perPass.head(i)
      (name, median(perPass.map(_(i)._2)), unit)
    }
    writeTrace(all, passes.toSet, s"$work/trace/$workload-$seed.json")
    Seq(
      ("Tables.load_s", tableLoads.map(_._2).sum, "s"),
      ("Tables.staged_mb", setup.blockBytes / 1e6, "MB"),
      ("codegen.compile_s", cold.codegenMs / 1e3, "s"),
      ("codegen.classes", cold.codegenCount.toDouble, "count"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_mb", heapMb, "MB")) ++ warm ++ Seq(
      ("trace.untraced_pass_s", untracedPassS, "s"),
      ("trace.overhead", tracedPassS / untracedPassS - 1, "ratio"))
  }

  /** Spans of the set-up, the cold pass and the traced passes, plus one
    * row per traced query. */
  private def writeTrace(all: Seq[Span], traced: Set[Int], path: String): Unit = {
    import Harness.{jsonNum, jsonStr}
    val kept = all.filter(s => s.pass <= Recorder.ColdPass || traced(s.pass)).sortBy(_.start)
    val spanLines = kept.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"qid":${jsonStr(s.qid)},"level":"${s.level}",""" +
        s""""name":${jsonStr(s.name)},"phase":"${s.phase}","start_ms":${jsonNum(s.start)},"end_ms":${jsonNum(s.end)}}"""
    }
    val byQid = kept.groupBy(_.qid)
    val rows = kept.filter(s => s.level == "query" && traced(s.pass)).map { q =>
      val mine = byQid(q.qid)
      val split = SelfTime.split(mine)
      val jobs = mine.filter(_.level == "job")
      def dur(level: String) = mine.filter(_.level == level).map(_.dur).sum / 1e3
      s"""{"pass":${q.pass},"qid":${jsonStr(q.qid)},"query":${jsonStr(q.name)},"wall_s":${jsonNum(q.dur / 1e3)},""" +
        s""""build_s":${jsonNum(dur("build"))},"action_s":${jsonNum(dur("action"))},""" +
        s""""build_jobs":${jobs.count(_.phase == "build")},"action_jobs":${jobs.count(_.phase == "action")},""" +
        s""""build_gap_s":${jsonNum(split.buildGapPerQuery.values.sum)},"catalyst_s":${jsonNum(split.catalyst)},""" +
        s""""action_self_s":${jsonNum(split.actionSelf)}}"""
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (s"""{"queries":[${rows.mkString(",\n")}],\n"spans":[${spanLines.mkString(",\n")}]}""" + "\n")
      .getBytes(UTF_8))
  }
}
