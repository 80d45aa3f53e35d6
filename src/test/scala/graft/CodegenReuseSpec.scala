package graft

import java.sql.Timestamp

import graft.streaming.Incremental
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Every session the engine creates shares the JVM's compiled classes.
  * `CodeGenerator.compile` caches by (context class loader, source), and
  * with artifact isolation on each session's tasks run under a class
  * loader of their own, so a `RoundTrip` stream (its `newSession()` and
  * the session the stream clones) or any child session recompiled every
  * whole-stage class the JVM already held. The sessions are built with
  * `spark.sql.artifact.isolation.enabled=false`, so a second identical
  * run compiles nothing. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles of the first and of the second of two runs of `f`. */
  private def compilesPerRun(f: => Unit): (Long, Long) = {
    val c0 = compiles(); f
    val c1 = compiles(); f
    (c1 - c0, compiles() - c1)
  }

  test("a second streaming round trip compiles no class") {
    val s = spark
    import s.implicits._
    def ts(day: Int, hour: Int) =
      Timestamp.valueOf(f"2024-03-0$day $hour%02d:00:00")
    val log = Seq((1L, ts(1, 1), "click"), (2L, ts(1, 2), "view"),
      (3L, ts(2, 1), "click"), (4L, ts(3, 0), "view"))
      .toDF("event_id", "ts", "event_type")
    val (first, second) = compilesPerRun {
      assert(Incremental.streamWindowTopk(spark, log).collect().length == 3)
    }
    assert(second == 0,
      s"second round trip compiled $second classes (first run: $first)")
  }

  test("a batch aggregate in a second new session compiles no class") {
    val (first, second) = compilesPerRun {
      val rows = spark.newSession().range(1000)
        .groupBy((col("id") % 7).as("k")).agg(sum("id").as("s"))
        .orderBy("k").collect()
      assert(rows.map(_.getLong(1)).sum == 499500L)
    }
    assert(second == 0,
      s"second new session compiled $second classes (first run: $first)")
  }

  test("the Bench builder and the test session turn artifact isolation off") {
    // the test session is HarnessTuning's Bench session (SparkSpec)
    val key = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(key) == "false", "test session")
    assert(spark.newSession().conf.get(key) == "false", "child session")
  }
}
