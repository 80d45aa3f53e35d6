package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The shared stage → stream → sink → readback scaffold behind every
  * declared streaming query (q72/q92/q96/q98/q99/q102/q106).
  *
  * Each input frame is staged to ONE parquet file (one data micro-batch
  * per side under AvailableNow — the determinism contract all the
  * streaming oracles rely on; parquet round-trips microsecond timestamps
  * and doubles exactly), streamed through `transform`, sunk to an
  * append-mode parquet sink with an exactly-once commit log, and read
  * back with the stream's watermark column metadata stripped.
  *
  * The stream runs in an ISOLATED `newSession()` sharing the
  * SparkContext: the per-query conf pins (few shuffle partitions so a
  * bounded slice doesn't pay 32 state-store commits; optionally skipping
  * the trailing no-data micro-batch) live and die with that session.
  * Setting them on the caller's session — the previous shape — raced
  * under Verify's concurrent query execution: another query's stream
  * could clone the session conf inside a set→restore window and either
  * lose its REQUIRED no-data flush batch (q92/q102) or permanently
  * downgrade the shared session's shuffle partitioning when two
  * set/restore pairs interleaved. The isolation scopes confs only:
  * sessions are built with artifact isolation off (`HarnessTuning`), so
  * this session and the one the stream clones reuse the compiled
  * classes the JVM already holds instead of recompiling them per run.
  *
  * `noDataBatches = false` is ONLY for queries whose every output row is
  * emitted inside a data batch (immediate-emission dedup/joins) — the
  * trailing no-data batch then runs pure state eviction, which a
  * continuous deployment performs on later data batches anyway. Queries
  * whose output is RELEASED by the advancing watermark (windowed/session
  * aggregates in append mode) must keep it true.
  */
object RoundTrip {

  def run(spark: SparkSession, prefix: String, inputs: Seq[DataFrame],
          noDataBatches: Boolean = true)
         (transform: Seq[DataFrame] => DataFrame): DataFrame = {
    // Fresh in/ckpt/out dirs per run nested under one shutdown-swept root
    // (a reused checkpoint would replay rewritten input against
    // already-evicted state), the q82-leak-fix shape.
    val tmp = graft.TmpDirs.fresh(prefix, "run")
    val ckpt = s"$tmp/ckpt"; val outDir = s"$tmp/out"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    val streams = inputs.zipWithIndex.map { case (in, i) =>
      val dir = s"$tmp/in$i"
      in.coalesce(1).write.mode("overwrite").parquet(dir)
      s2.readStream.schema(in.schema).parquet(dir)
    }
    val transformed = transform(streams)
    val q = transformed.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Explicit schema on the readback: a run that commits ZERO output
    // files (empty input slice, or every window still open) leaves only
    // _spark_metadata behind, and schema INFERENCE over that throws
    // AnalysisException where the correct result is an empty frame with
    // the transform's schema.
    val back = spark.read.schema(transformed.schema).parquet(outDir)
    // Strip the stream's watermarkDelayMs column metadata so declared
    // output schemas are the plain batch ones.
    back.select(back.columns.map(c =>
      col(c).as(c, org.apache.spark.sql.types.Metadata.empty)): _*)
  }
}
