package graft

/** Log-noise control for every `HarnessTuning.session` (and perfbench's).
  *
  * The suite's bounded whole-frame windows (post-top-k rank, post-aggregate
  * share-of-total — a handful of rows by construction) each emit a
  * `WindowExec: No Partition Defined` WARN; at 65 queries × multiple reps
  * that is hundreds of lines, which filled the r5 bench artifact's captured
  * tail and buried real warnings. Dropping that single logger to ERROR
  * keeps every other WARN visible.
  */
object Quiet {
  def windowExecWarnings(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
    } catch {
      // log4j2-core absent or a different backend bound — noise is
      // cosmetic, never fail the bench over it
      case _: Throwable => ()
    }
}
