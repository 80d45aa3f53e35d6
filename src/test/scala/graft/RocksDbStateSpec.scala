package graft

import graft.Tables.T
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The 100 TB streaming-state answer, exercised: every stateful
  * streaming claim in this engine runs on the default HDFS-backed
  * state store locally, but a production deployment whose per-window /
  * per-session state exceeds executor memory runs RocksDB
  * (`spark.sql.streaming.stateStore.providerClass` — state lives on
  * local disk with changelog checkpointing, bounded memory). These
  * tests pin that the engine's streaming shapes are PROVIDER-AGNOSTIC:
  * the same query, checkpoint-continued across two AvailableNow legs,
  * produces the batch-oracle answer under RocksDB exactly as it does
  * under the default store (CrashRecoverySpec), and the session-window
  * merge state (the most provider-sensitive shape — multi-values per
  * key) round-trips identically under both providers. */
class RocksDbStateSpec extends SparkSpec {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private lazy val t = T(spark, "/root/testdata/sf0.001")

  test("RocksDB state store: two-leg windowed aggregate matches batch") {
    val input = t.events.filter(col("event_id") % 3 === 1)
      .select("event_id", "ts", "user_id", "value")
    val splitTs = input.agg(expr("percentile_approx(ts, 0.5)")).head()
      .getTimestamp(0)
    val legA = input.filter(col("ts") <= lit(splitTs))
    val legB = input.filter(col("ts") > lit(splitTs))
    val tmp = TmpDirs.fresh("graft_rocksdb_", "winagg")
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val outDir = s"$tmp/out"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    def runLeg(): Unit = {
      val q = s2.readStream.schema(input.schema).parquet(inDir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "24 hours"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("win_start"), col("n"), col("total"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    legA.coalesce(1).write.mode("overwrite").parquet(inDir)
    runLeg()
    legB.coalesce(1).write.mode("append").parquet(inDir)
    runLeg()
    val streamed = spark.read
      .schema("win_start timestamp, n bigint, total double").parquet(outDir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val maxTs = input.agg(max("ts")).head().getTimestamp(0)
    val oracle = input
      .groupBy(window(col("ts"), "24 hours"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .filter(col("window.end") <= lit(maxTs))
      .select(col("window.start").as("win_start"), col("n"), col("total"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == oracle.length && streamed.nonEmpty,
      s"row count drift: ${streamed.length} vs ${oracle.length}")
    streamed.zip(oracle).foreach { case (s, o) => assert(s == o, s"$s != $o") }
  }

  test("RocksDB changelog checkpointing: two-leg continuation matches " +
    "batch (the commit format StreamStateProbe measures 5-6x faster)") {
    // StreamStateProbe is retired; its cells are in SCALE.md and its
    // row in OPTIMIZATION_r19.md "Retired flags and probes"
    // the checkpoint FORMAT is what changes under changelog mode, so
    // the discriminating rehearsal is a RESTART: leg B must restore
    // leg A's state from the delta log + last snapshot, not from a
    // per-batch full snapshot
    val input = t.events.filter(col("event_id") % 5 === 2)
      .select("event_id", "ts", "user_id", "value")
    val splitTs = input.agg(expr("percentile_approx(ts, 0.5)")).head()
      .getTimestamp(0)
    val tmp = TmpDirs.fresh("graft_rocksdb_", "changelog")
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val outDir = s"$tmp/out"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    def runLeg(): Unit = {
      val q = s2.readStream.schema(input.schema).parquet(inDir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "24 hours"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("win_start"), col("n"), col("total"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    input.filter(col("ts") <= lit(splitTs))
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    runLeg()
    input.filter(col("ts") > lit(splitTs))
      .coalesce(1).write.mode("append").parquet(inDir)
    runLeg()
    val streamed = spark.read
      .schema("win_start timestamp, n bigint, total double").parquet(outDir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val maxTs = input.agg(max("ts")).head().getTimestamp(0)
    val oracle = input
      .groupBy(window(col("ts"), "24 hours"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .filter(col("window.end") <= lit(maxTs))
      .select(col("window.start").as("win_start"), col("n"), col("total"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == oracle.length && streamed.nonEmpty,
      s"row count drift: ${streamed.length} vs ${oracle.length}")
    streamed.zip(oracle).foreach { case (s, o) => assert(s == o, s"$s != $o") }
  }

  test("RocksDB state store: session_window merge state matches default") {
    val input = t.events.filter(col("event_id") % 4 === 2)
      .select("user_id", "event_id", "ts", "event_type", "value")
    def run(provider: Option[String]): Array[Seq[Any]] = {
      val tag = provider.map(_ => "rocks").getOrElse("hdfs")
      val tmp = TmpDirs.fresh("graft_rocksdb_", s"sess_$tag")
      val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val outDir = s"$tmp/out"
      input.coalesce(1).write.mode("overwrite").parquet(inDir)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      provider.foreach(p =>
        s2.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      val agg = operators.Sessions.sessionWindowAgg(
        s2.readStream.schema(input.schema).parquet(inDir)
          .withWatermark("ts", "0 seconds"))
      val q = agg.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(agg.schema).parquet(outDir)
        .select("user_id", "session_start", "session_end", "n_events",
          "total_value")
        .collect().map(_.toSeq).sortBy(_.toString)
    }
    val viaRocks = run(Some(RocksDb))
    val viaDefault = run(None)
    assert(viaRocks.length == viaDefault.length && viaRocks.nonEmpty,
      s"${viaRocks.length} vs ${viaDefault.length}")
    viaRocks.zip(viaDefault).foreach { case (r, d) => assert(r == d) }
  }
}
