package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run concurrently (4 at a time) — they're independent jobs in one
  * SparkSession, so the scheduler overlaps their stages and the wall clock
  * is bounded by the slowest queries, not the sum.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-only filter: comma-separated query names or `all`
    // (3rd arg); an unregistered name fails before the session starts.
    // The driver always invokes with exactly two args → full run.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(SparkEntry.names(args(2)).toSet) else None
    // SPARK_GRAFT_CODEGEN=off forces the INTERPRETED paths everywhere —
    // whole-stage codegen off and the expression factory pinned to
    // NO_CODEGEN, so every native Expression's eval() (not doGenCode)
    // serves the whole suite. A codegen/eval divergence in any of the
    // 20 custom expressions would hash-mismatch; the sweep is the
    // end-to-end version of ExpressionPropertySpec's per-expression
    // parity checks.
    val interp = sys.env.get("SPARK_GRAFT_CODEGEN").contains("off")
    // SPARK_GRAFT_ANSI=off runs the suite under legacy (non-ANSI)
    // semantics — overflow/cast clamp and error-to-NULL instead of
    // throwing. Every query is written to be TOTAL (guarded divisions,
    // try_element_at, bounded arithmetic), so the flag must not change
    // a single value; the sweep proves the suite carries no hidden
    // dependence on either dialect.
    val ansi = !sys.env.get("SPARK_GRAFT_ANSI").contains("off")
    // the Bench session (HarnessTuning) at 8 threads — the gate then
    // verifies the exact plans the bench times, shuffled-hash joins and
    // serialized shuffle writer included
    val spark = HarnessTuning.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.wholeStage" -> (!interp).toString,
      "spark.sql.codegen.factoryMode" -> (if (interp) "NO_CODEGEN" else "FALLBACK"),
      "spark.sql.ansi.enabled" -> ansi.toString)
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      Future {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
