package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Lifecycle plumbing for the session-keyed plan caches
  * (`Tables.planCache`, `Polls.stagingCache`, `TextAnalysis
  * .claimCorpusCache`) and the JVM-scoped scratch dirs.
  *
  * The caches memoize immutable logical plans (and their eager
  * localCheckpoint blocks) per (SparkSession, sfDir). Without eviction a
  * stopped session stays reachable through the map key, pinning the
  * session object and its checkpointed blocks for the life of the JVM —
  * harmless in the one-session-per-JVM bench/verify entrypoints, wrong
  * for any long-lived host (r10 advice). Each cache registers an eviction
  * callback here; the first `arm(spark)` installs ONE listener on that
  * session's context, and `SparkListenerApplicationEnd` (posted and
  * drained synchronously inside `SparkContext.stop()`) fires every
  * callback with the stopped session.
  */
object SessionCaches {
  private val evictors =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession => Unit]()
  private val armed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Register a cache's eviction callback. Called once per cache object
    * (static init); the callback must drop every entry keyed by the given
    * session and nothing else. */
  def onStop(evict: SparkSession => Unit): Unit = evictors.add(evict)

  /** Ensure `spark`'s stop fires the registered evictors. Idempotent and
    * cheap (one set lookup) — call it from every cache-miss path. */
  def arm(spark: SparkSession): Unit =
    if (armed.add(spark)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          evictors.forEach(f => f(spark))
          armed.remove(spark)
        }
      })
    }

  /** True iff any registered cache still holds an entry for `spark` —
    * test hook for the eviction spec. */
  private[graft] val holders =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession => Boolean]()
  private[graft] def registerHolder(f: SparkSession => Boolean): Unit = holders.add(f)
  private[graft] def anyEntryFor(spark: SparkSession): Boolean = {
    val it = holders.iterator()
    var found = false
    while (it.hasNext && !found) found = it.next()(spark)
    found
  }
}

/** JVM-scoped scratch directories for materialized intermediates (q81's
  * minhash-pair table, q82's compacted-table rewrite). One directory per
  * prefix per JVM — repeated invocations reuse it via `mode("overwrite")`
  * instead of minting a fresh temp dir each call (r10: a bench run leaked
  * ~7 full table copies per round) — and a shutdown hook removes the whole
  * tree when the JVM exits.
  */
object TmpDirs {
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def scoped(prefix: String): String =
    dirs.computeIfAbsent(prefix, { _ =>
      // Scratch on tmpfs when the host has it AND reports headroom
      // (HarnessTuning.shmDir gates on free space and sweeps stale
      // graft_ trees from SIGKILLed JVMs — r12 advice): everything under
      // TmpDirs is MB-scale staging / checkpoint / round-trip state
      // whose cost is per-file latency, not capacity. That latency was
      // mostly Hadoop's per-file chmod/readlink process spawns, not the
      // file create or fsync; graft.io.LocalFs removes those. Falls back
      // to the JVM temp dir; a cluster deployment stages to real storage.
      val d = (HarnessTuning.shmDir() match {
        case Some(shm) => java.nio.file.Files.createTempDirectory(shm, prefix)
        case None => java.nio.file.Files.createTempDirectory(prefix)
      }).toFile
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
      d.toString
    })

  /** Subdirectory of the scoped root, keyed INJECTIVELY by `key` (URL
    * encoding — no hashCode collisions): two different sf dirs never
    * share an output path, so a cached reference to one can't be
    * overwritten by a later write for the other. */
  def keyed(prefix: String, key: String): String = {
    val root = scoped(prefix)
    touchLiveness(root)
    root + "/" + java.net.URLEncoder.encode(key, "UTF-8")
  }

  private val lastTouchMs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Refresh the scoped root's mtime (rate-limited to one syscall per
    * root per 10 min): HarnessTuning.sweepStaleScratch treats a graft_
    * root untouched for 2 h as a dead JVM's leak, but a legitimately
    * long-lived JVM only bumps the root's mtime on direct-child
    * creation — writes deep inside existing run dirs don't propagate.
    * Touching on every keyed/fresh call makes liveness visible in the
    * mtime the sweeper reads (r13 advice). */
  private def touchLiveness(root: String): Unit = {
    val now = System.currentTimeMillis()
    val prev = lastTouchMs.get(root)
    if ((prev == null || now - prev > 10L * 60 * 1000) &&
        (if (prev == null) lastTouchMs.putIfAbsent(root, now) == null
         else lastTouchMs.replace(root, prev, now))) {
      new java.io.File(root).setLastModified(now): Unit
    }
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Monotone per-JVM run id for invocation-scoped scratch naming —
    * shared by every fresh-dir site so the device lives in ONE place. */
  def nextRunId(): Long = runSeq.incrementAndGet()

  /** Invocation-scoped scratch dir: [[keyed]] plus a run id no other
    * invocation ever reuses, so a later run's overwrite can never race a
    * previously returned frame's readback (r12 advice). Still under the
    * shutdown-swept scoped root — and with BOUNDED RETENTION (r12
    * advice): per (prefix, key) only the newest TWO run dirs are kept.
    * The newest backs the frame just returned; the one before it may
    * still back the PREVIOUS invocation's returned frame (bench reps
    * construct before the older frame is provably dead); anything older
    * is unreachable by construction and deleted here, so repeated reps
    * no longer grow tmpfs linearly with rep count.
    *
    * CALLER CONTRACT (r13 advice): construct-then-execute, at most one
    * constructed-but-unexecuted frame in flight per (prefix, key). A
    * caller that constructs THREE or more frames for the same key before
    * executing the first would find the oldest's directory deleted. All
    * current callers (q82/q110/q114 via RoundTrip, the streaming
    * round-trips) build one frame and execute it before the next rep —
    * the bench's rep loop enforces the discipline suite-wide. */
  def fresh(prefix: String, key: String): String = {
    val dir = keyed(prefix, s"$key#r${nextRunId()}")
    val q = retained.computeIfAbsent(prefix + "\u0000" + key,
      _ => new java.util.ArrayDeque[String]())
    q.synchronized {
      q.addLast(dir)
      while (q.size > 2) delete(new java.io.File(q.removeFirst()))
    }
    dir
  }

  private val retained =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayDeque[String]]()

  private def delete(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete(): Unit
  }
}
