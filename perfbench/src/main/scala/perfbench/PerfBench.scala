package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark program for the engine's registered queries.
  *
  *   census <sfDir> <workDir> <outDir> <cores>
  *       runs every `SparkEntry.queries` entry once, writes its output the
  *       way `graft.Verify` does (for tools/check.py) and one census row
  *       per query to <workDir>/census.tsv: construction/action jobs, streams started, scratch
  *       files written, graft rewrites and expressions in its executed
  *       plans, row count and output digest.
  *   run <planFile> <resultFile>
  *       one benchmark run as laid out by perfbench/run.py.
  *
  * Everything the engine sees goes through its public entry points:
  * `HarnessTuning`, `GraftExtensions`, `Tables.load` and
  * `SparkEntry.queries(name)(spark, sfDir)`.
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("census") => Census(args(1), args(2), args(3), args(4).toInt)
      case Some("run") => Runner(args(1), args(2))
      case _ => System.err.println("usage: census <sf> <work> <out> <cores> | run <plan> <result>"); 2
    }
    System.exit(code)
  }
}

object Harness {
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  /** The `graft.Bench` session at `cores` threads, with Spark scratch and
    * the warehouse inside `work`. */
  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = graft.HarnessTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = (if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
             else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Quiet.windowExecWarnings()
    if (trace) Recorder.attach(s.sparkContext)
    s
  }

  /** First call of `Tables.load` for every table; seconds per table. */
  def loadTables(spark: SparkSession, sf: String): Seq[(String, Double)] =
    graft.Tables.names.map { n =>
      val t0 = System.nanoTime()
      graft.Tables.load(spark, sf, n)
      n -> (System.nanoTime() - t0) / 1e9
    }

  /** Order-insensitive digest of a query output: row count plus the sum
    * of a 64-bit hash of each row's JSON form (columns in name order),
    * and the sorted column names. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val row = pos.select(xxhash64(to_json(struct(order.toIndexedSeq.map(i => col(s"c$i").as(names(i))): _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val cols = names.sorted.mkString(",")
    (row.getLong(0), s"$total/${Integer.toHexString(cols.hashCode)}")
  }

  /** Directories the engine's scratch lands in: this JVM's `graft_*`
    * TmpDirs roots (tmpfs or java.io.tmpdir) and Spark's local dir. */
  def scratchRoots(work: String): () => Seq[File] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime - 1000
    val parents = Seq(new File("/dev/shm"), new File(System.getProperty("java.io.tmpdir")))
    () => {
      val graftRoots = parents.flatMap(p => Option(p.listFiles()).toSeq.flatten)
        .filter(f => f.getName.startsWith("graft_") && created(f) >= jvmStart)
      graftRoots :+ new File(s"$work/spark-local")
    }
  }
  private def created(f: File): Long =
    try Files.readAttributes(f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes])
      .creationTime().toMillis
    catch { case _: Throwable => 0L }

  def setQuery(spark: SparkSession, qid: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.qid", qid)
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
  }

  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap left after a full GC, a pause for Spark's ContextCleaner to
    * drop the blocks of collected plans, and a second full GC. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  /** Median; 0 for no samples (a stream-free pass has no batches). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** One-off census and output dump (see PerfBench). */
object Census {
  def apply(sf: String, work: String, out: String, cores: Int): Int = {
    val spark = Harness.session(cores, work, trace = true)
    Recorder.on = true
    Harness.loadTables(spark, sf)
    val sc = spark.sparkContext
    val roots = Harness.scratchRoots(work)
    new File(out).mkdirs()
    val rows = ArrayBuffer.empty[String]
    Harness.queries.keys.toSeq.sorted.zipWithIndex.foreach { case (name, i) =>
      Recorder.beginPass(sc, i)
      val t0 = System.currentTimeMillis()
      val row = try {
        Harness.setQuery(spark, name, "build")
        val b0 = System.nanoTime()
        val df = Harness.queries(name)(spark, sf)
        val b1 = System.nanoTime()
        Harness.setQuery(spark, name, "action")
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        val b2 = System.nanoTime()
        Recorder.drain(sc)
        // graft rewrites and expressions in the plans of the query itself,
        // taken before the check below plans anything else
        val a = Recorder.acc(i)
        val (rewrites, graftExprs) = (a.rewrites, a.graftExprs)
        // scratch files this query wrote, counted before the check
        // below reads anything back
        var files = 0L
        def walk(f: File): Unit = Option(f.listFiles()) match {
          case Some(kids) => kids.foreach(walk)
          case None => if (f.isFile && f.lastModified() >= t0 &&
            !f.getPath.contains("spark-local")) files += 1
        }
        roots().foreach(walk)
        Harness.setQuery(spark, name, "check")
        val (n, d) = Harness.digest(spark.read.parquet(s"$out/$name"))
        val (n2, d2) = Harness.digest(df)
        Recorder.drain(sc)
        val jobs = Recorder.spans.asScala.filter(s => s.level == "job" && s.qid == name)
        Seq(name, f"${(b1 - b0) / 1e9}%.3f", f"${(b2 - b1) / 1e9}%.3f",
          jobs.count(_.phase == "build").toString, jobs.count(_.phase == "action").toString,
          a.streamsStarted.toString, files.toString, rewrites.toString, graftExprs.toString, n.toString, d,
          (n == n2 && d == d2).toString).mkString("\t")
      } catch { case e: Throwable =>
        Seq(name, "error", Option(e.getMessage).getOrElse(e.toString).replaceAll("\\s+", " ").take(300))
          .mkString("\t")
      }
      System.err.println(s"[census] $row")
      rows += row
    }
    Files.write(Paths.get(s"$work/census.tsv"),
      ("name\tbuild_s\taction_s\tbuild_jobs\taction_jobs\tstreams\tscratch_files\trewrites\tgraft_exprs\trows\tdigest\tdigest_stable\n" +
        rows.mkString("\n") + "\n").getBytes(UTF_8))
    Files.write(Paths.get(s"$out/oracle_sql.json"), graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonStr(k)}: ${Harness.jsonStr(v)}" }
      .mkString("{", ",", "}").getBytes(UTF_8))
    spark.stop()
    if (rows.exists(_.split("\t")(1) == "error")) 1 else 0
  }
}

/** One benchmark run: set up, one cold pass with the output check, then
  * warm passes until the time is up. */
object Runner {
  final case class Plan(conf: Map[String, String], lists: Seq[(String, String)],
                        digests: Map[String, (Long, String)], orders: Map[Int, Seq[String]])

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.map(_.split("\t", -1).toSeq)
    Plan(
      lines.collect { case Seq("conf", k, v) => k -> v }.toMap,
      lines.collect { case Seq("list", l, q) => l -> q }.toSeq,
      lines.collect { case Seq("digest", q, n, d) => q -> (n.toLong, d) }.toMap,
      lines.collect { case Seq("order", p, qs) => p.toInt -> qs.split(",").toSeq }.toMap)
  }

  /** Every registered query must sit in exactly one list. */
  def checkLists(lists: Seq[(String, String)]): Option[String] = {
    val registered = Harness.queries.keySet
    val byQuery = lists.groupBy(_._2)
    val missing = registered.diff(byQuery.keySet)
    val unknown = byQuery.keySet.diff(registered)
    val twice = byQuery.filter(_._2.size > 1).keys
    if (missing.isEmpty && unknown.isEmpty && twice.isEmpty) None
    else Some(Seq(
      if (missing.nonEmpty) s"in no list: ${missing.toSeq.sorted.mkString(",")}" else "",
      if (unknown.nonEmpty) s"not registered: ${unknown.toSeq.sorted.mkString(",")}" else "",
      if (twice.nonEmpty) s"in several lists: ${twice.toSeq.sorted.mkString(",")}" else ""
    ).filter(_.nonEmpty).mkString("; "))
  }

  final case class Sample(pass: Int, name: String, buildS: Double, actionS: Double)

  def apply(planFile: String, resultFile: String): Int = {
    val plan = readPlan(planFile)
    val c = plan.conf
    checkLists(plan.lists).foreach { msg =>
      System.err.println(s"[perfbench] membership lists do not match SparkEntry.queries: $msg")
      return 3
    }
    val sf = c("sf"); val work = c("work"); val cores = c("cores").toInt
    val trace = c("trace") == "1"
    val warmups = c("warmups").toInt; val timed = c("timed").toInt
    val noDigest = plan.orders.values.flatten.toSet.diff(plan.digests.keySet)
    if (noDigest.nonEmpty) {
      System.err.println(s"[perfbench] no stored digest for: ${noDigest.toSeq.sorted.mkString(",")}")
      return 3
    }

    // --- set-up, from JVM start ---------------------------------------------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Recorder.on = trace
    Recorder.pass = Recorder.SetupPass
    val spark = Harness.session(cores, work, trace)
    val tableLoads = Harness.loadTables(spark, sf)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    if (trace) Recorder.endPass(sc)
    val sampler = if (trace) Some(Recorder.startScratchSampler(Harness.scratchRoots(work))) else None

    // --- passes ------------------------------------------------------------
    val failures = collection.mutable.Map.empty[String, String]
    var attempted, failed = 0L
    val samples = ArrayBuffer.empty[Sample]

    /** Runs one query; returns the seconds spent on the output check. */
    def runOne(pass: Int, name: String, check: Boolean): Double = {
      val qid = s"p$pass.$name"
      attempted += 1
      val q0 = Clock.now()
      val qSpan = Recorder.nextId()
      try {
        Harness.setQuery(spark, qid, "build")
        val t0 = System.nanoTime()
        val df = Harness.queries(name)(spark, sf)
        val t1 = System.nanoTime()
        val b1 = Clock.now()
        Recorder.span(qSpan, qid, "build", name, "build", q0, b1)
        Harness.setQuery(spark, qid, "action")
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        val q1 = Clock.now()
        Recorder.span(qSpan, qid, "action", name, "action", b1, q1)
        if (Recorder.on) Recorder.spans.add(Span(qSpan, 0, Recorder.pass, qid, "query", name, "", q0, q1))
        if (pass > warmups) samples += (Sample(pass, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        if (!check) 0.0
        else {
          Harness.setQuery(spark, qid, "check")
          val c0 = System.nanoTime()
          val got = Harness.digest(df)
          if (got != plan.digests(name)) {
            failed += 1
            failures(name) = ( s"digest mismatch: got ${got._1} rows ${got._2}, " +
              s"expected ${plan.digests(name)._1} rows ${plan.digests(name)._2}")
          }
          (System.nanoTime() - c0) / 1e9
        }
      } catch { case e: Throwable =>
        failed += 1
        failures(name) = Option(e.getMessage).getOrElse(e.toString).replaceAll("\\s+", " ").take(300)
        0.0
      }
    }

    /** One pass in the seeded order: wall seconds net of the output
      * checks. */
    val passStats = ArrayBuffer.empty[String]
    def runPass(pass: Int, check: Boolean): Double = {
      val cpu0 = Harness.cpuS()
      Recorder.beginPass(sc, pass)
      val t0 = System.nanoTime()
      val checkS = plan.orders(pass).map(runOne(pass, _, check)).sum
      val wall = (System.nanoTime() - t0) / 1e9 - checkS
      passStats += s"[$pass,$wall,${Harness.cpuS() - cpu0}]"
      Recorder.endPass(sc)
      wall
    }

    val gc0 = Recorder.gcMs()
    val coldS = runPass(0, check = true)
    val heapCold = if (trace) Harness.heapAfterGcMb() else 0.0
    // Untimed warm-up passes while the JIT settles (the passes after the
    // cold one run 10-30% slow), then a fixed number of timed passes, so
    // the timed passes are the same pass indices whatever the code's
    // speed. A traced run alternates traced and untraced timed passes so
    // it can report the tracing overhead.
    (1 to warmups).foreach(runPass(_, check = false))
    val warmS = ArrayBuffer.empty[(Int, Double, Boolean)]
    for (p <- warmups + 1 to warmups + timed) {
      val traced = trace && (p - warmups) % 2 == 1
      Recorder.on = traced
      warmS += ((p, runPass(p, check = false), traced))
    }
    Recorder.on = false
    val gcS = (Recorder.gcMs() - gc0) / 1e3
    val heapEnd = if (trace) Harness.heapAfterGcMb() else 0.0
    sampler.foreach(_.interrupt())

    // --- metrics ---------------------------------------------------------------
    import Harness.median
    val untraced = warmS.filterNot(_._3).map(_._2)
    // The median latency is taken per timed pass, then the median over the
    // passes: the passes run the same queries, so this does not jump with
    // the pass count the way a pooled median does. A run holds at most a
    // few dozen timed samples, too few for a percentile with ten samples
    // beyond it to lie above the median, so the tail is the slowest
    // query's median latency over the timed passes (the slowest query of
    // each pass would follow whichever query a burst of host load hit).
    val lat = samples.toSeq.map(s => (s.pass, s.name, s.buildS + s.actionS))
    val n = samples.size
    val p50 = median(lat.groupBy(_._1).values.map(ps => median(ps.map(_._3))).toSeq)
    val tail = lat.groupBy(_._2).values.map(qs => median(qs.map(_._3))).max
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", coldS, "s"),
      ("pass_s", median(untraced.toSeq), "s"),
      ("query_p50_s", p50, "s"),
      ("query_tail_s", tail, "s"))
    val layers = if (trace) Layers(warmS.filter(_._3).map(_._1).toSeq, warmS.filter(_._3).map(_._2).toSeq,
      median(untraced.toSeq), gcS, heapCold max heapEnd, cores, tableLoads, work, c("workload"), c("seed"))
    else Nil
    val perQuery = samples.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, ss) =>
      s"${Harness.jsonStr(q)}:{\"n\":${ss.size},\"build_s\":${Harness.jsonNum(median(ss.map(_.buildS)))}," +
        s"\"action_s\":${Harness.jsonNum(median(ss.map(_.actionS)))}}"
    }
    def metricsJson(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s"${Harness.jsonStr(k)}:{\"value\":${Harness.jsonNum(v)},\"unit\":${Harness.jsonStr(u)}}"
    }.mkString("{", ",", "}")
    val json = Seq(
      s"\"attempted\":$attempted", s"\"failed\":$failed",
      s"\"failures\":${failures.toSeq.sorted.map { case (k, v) => s"${Harness.jsonStr(k)}:${Harness.jsonStr(v)}" }.mkString("{", ",", "}")}",
      s"\"metrics\":${metricsJson(e2e)}",
      s"\"layers\":${metricsJson(layers)}",
      s"\"warm_passes_s\":${warmS.map(w => Harness.jsonNum(w._2)).mkString("[", ",", "]")}",
      s"\"samples\":$n",
      s"\"pass_stats\":${passStats.mkString("[", ",", "]")}",
      s"\"per_query\":${perQuery.mkString("{", ",", "}")}"
    ).mkString("{", ",", "}")
    Files.write(Paths.get(resultFile), (json + "\n").getBytes(UTF_8))
    spark.stop()
    0
  }
}
