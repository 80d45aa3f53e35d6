package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Harness-scale floor tuning and the session factory every main uses.
  *
  * Everything here is a LATENCY knob for the local[32] / sub-MB-shuffle
  * harness — none of it changes results, and a 100 TB cluster deployment
  * would keep the Spark defaults (documented per knob):
  *
  *  - AQE small-shuffle coalescing (`parallelismFirst=false`, 1 MB
  *    advisory): a 500-row aggregate does not need 32 ~empty reduce
  *    tasks. Clusters keep the 64 MB default advisory size.
  *  - shuffle (+spill) compression off: every suite shuffle is sub-MB on
  *    a local disk; LZ4 latency buys nothing. Clusters keep compression —
  *    network and spill volume dominate there.
  *  - `maxPartitionBytes=8m`: single-file local tables split into a few
  *    scan tasks, restoring the parallelism a multi-file production root
  *    gets for free.
  *  - `preferSortMergeJoin=false`: shuffled-hash over sort-merge when a
  *    side fits per-partition memory; AQE's runtime sizes keep it safe.
  *  - `bypassMergeThreshold=8` (r12, config-grid measured): at 32
  *    shuffle partitions the bypass-merge writer opens 32 temp files per
  *    map task (32 mappers → 1024 file creates per exchange); forcing
  *    the serialized (Tungsten) writer makes each map task write one
  *    spill file. Above 200 partitions — i.e. any cluster job — Spark
  *    already picks the serialized writer, so this only changes the
  *    local floor.
  *  - `spark.local.dir=/dev/shm` when present (r12): shuffle scratch on
  *    tmpfs. Suite shuffles are sub-MB, so file-create + fsync latency
  *    dominates, not bandwidth or capacity; Spark removes its blockmgr
  *    and spark-uuid scratch dirs on session stop. Clusters keep fast local
  *    disks — 100 TB shuffle spill does not fit in RAM.
  *  - the fork-free `file:` filesystem (`graft.io.LocalFs`): with no
  *    `libhadoop` native library, Hadoop's local filesystem spawns a
  *    `chmod` process per created file and a `readlink` process per
  *    link-status lookup (two per checkpoint rename): 293 spawns for a
  *    4-row q153 round trip, 4,531 for a `graft.Verify` pass at sf0.001,
  *    ~4 ms each — most of what earlier rounds recorded as the
  *    streaming micro-batch floor. `LocalFs` does both through
  *    `java.nio` with the stock answers. Inert at 100 TB: cluster
  *    checkpoints, state stores and sinks live on hdfs/s3a/abfs and
  *    never reach the `file:` scheme. A single-host deployment that
  *    checkpoints to local disk gets the same saving.
  *  - one compiled class per generated source per JVM
  *    (`spark.sql.artifact.isolation.enabled=false`): `CodeGenerator`
  *    caches compiled classes by (thread context class loader, source),
  *    and with isolation on each session's jobs carry its own artifact
  *    state, so the executor runs that session's tasks under a class
  *    loader of its own. Every `newSession()` (RoundTrip's) and every
  *    session a `StreamExecution` clones therefore Janino-compiled and
  *    re-JITted whole-stage code the JVM already held byte for byte: 16
  *    compiles per q153 round trip, 0 once off. Nothing here adds a
  *    session artifact (no `addArtifact`, no Spark Connect; the graft
  *    functions come from `GraftExtensions` on the app classpath), so
  *    isolation protected nothing. Not inert at 100 TB: a cluster saves
  *    the same compiles on every executor at every stream start. Only a
  *    multi-tenant Connect server whose sessions add their own jars or
  *    classes keeps isolation on.
  *
  * Measured effect (r12 config-grid probe, 9-query sample, median-of-3;
  * retired, see OPTIMIZATION_r19.md "Retired flags and probes"): shipped
  * r11 config 3.38 s → 1.85 s with the two r12 knobs; the minimal
  * 2-stage shuffle job fell 0.33 s → 0.19 s.
  */
object HarnessTuning {
  /** tmpfs is RAM-backed (typically capped at half of system memory), so
    * the scratch redirect is GATED on reported free space (r12 advice): a
    * spill-heavy run or a bigger scale factor must fall back to disk
    * rather than exhaust memory-backed storage in a way the sub-MB sf0.1
    * harness never exercises. 4 GiB ≈ 40× the largest whole-suite
    * scratch footprint observed at sf0.1. */
  private val ShmMinFreeBytes = 4L << 30

  /** /dev/shm iff present AND comfortably free, else None. */
  private[graft] def shmDir(): Option[java.nio.file.Path] = {
    val p = Paths.get("/dev/shm")
    try {
      if (Files.isDirectory(p) &&
        Files.getFileStore(p).getUsableSpace >= ShmMinFreeBytes) Some(p)
      else None
    } catch { case _: Throwable => None }
  }

  /** Best-effort sweep of STALE graft scratch roots from /dev/shm (r12
    * advice): a SIGKILLed JVM never runs its shutdown hooks, so its
    * TmpDirs trees linger in RAM-backed storage. Only directories with
    * our `graft_` prefix are touched, and only when untouched for ≥ 2 h.
    * A live JVM's root stays younger than that even past 2 h of wall
    * clock: TmpDirs refreshes the root's mtime on every keyed/fresh
    * call (rate-limited, r13 advice), so liveness is visible in the
    * mtime this sweep reads and the age guard cannot race a concurrent
    * long-lived run. Spark's own `spark-*` local
    * dirs are left alone (they are removed on clean session stop, and
    * another JVM's live scratch is not ours to judge). */
  private val sweptOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def sweepStaleScratch(root: java.nio.file.Path): Unit =
    if (sweptOnce.compareAndSet(false, true)) {
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      val kids = root.toFile.listFiles()
      if (kids != null) kids.foreach { f =>
        if (f.getName.startsWith("graft_") && f.lastModified() < cutoff) {
          def rm(x: java.io.File): Unit = {
            val cs = x.listFiles(); if (cs != null) cs.foreach(rm)
            x.delete(): Unit
          }
          try rm(f) catch { case _: Throwable => () }
        }
      }
    }

  /** The one session factory: `local[cpus]` with as many shuffle
    * partitions, AQE on, UTC, the graft extensions and this object's
    * floor tuning (the Bench session), plus the caller's own confs, at
    * WARN with `Quiet`'s one logger dropped. Every main and the test
    * session build through it, so a tool measures or checks the engine
    * the bench times. */
  def session(cpus: String, confs: (String, String)*): SparkSession = {
    val bench = apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    val spark = confs.foldLeft(bench) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Quiet.windowExecWarnings()
    spark
  }

  /** The dev mains' ad-hoc overrides (QBench, PlanDump):
    * `SPARK_GRAFT_CONF="k=v;k=v"`. */
  def envConfs(): Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }

  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val tuned = graft.io.LocalFs(b)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      // codegen class cache sized for the SUITE, not a single query
      // (static conf, default 100 entries): 146 queries × ~5-10 codegen
      // units/query evict every compiled class between interleaved
      // bench reps, so each rep regenerates + Janino-recompiles + re-JITs
      // what the warm-up pass already paid for (q139's 7-stage iterate
      // plan measured ~2× in-suite vs solo on unchanged code). A cluster
      // running a FIXED production query set hits the same default and
      // would apply the same sizing.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    shmDir() match {
      case Some(p) =>
        sweepStaleScratch(p)
        tuned.config("spark.local.dir", p.toString)
      case None => tuned
    }
  }
}
