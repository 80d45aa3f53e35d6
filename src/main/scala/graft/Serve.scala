package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Serving-order helper for BOUNDED-SMALL results.
  *
  * Every declared query ends in a total ORDER BY — that is the driver
  * contract's serving order, not operator semantics. Spark plans a global
  * `orderBy` as a range exchange, and RangePartitioner first runs a
  * SEPARATE sampling job over the child to pick bounds — for a 5-row
  * aggregate output that sampling pass re-runs the child and costs ~0.1 s
  * of the trivial-query floor (measured r8 by a floor probe since
  * retired — OPTIMIZATION_r19.md "Retired flags and probes"): the sort
  * tail was the single largest fixed cost left in the suite.
  *
  * For a result whose cardinality is BOUNDED (post-aggregation group
  * counts, capped report sizes — everything here is ≤ ~50 k rows at any
  * sf), a single-partition sort is strictly better: `coalesce(1)` on the
  * post-shuffle output is a narrow no-op (AQE has already coalesced the
  * tiny aggregate to one partition; the exchange boundary stops the
  * coalesce from propagating up, so scan/aggregate parallelism is
  * untouched) and `sortWithinPartitions` then yields the identical total
  * order with no sampling job and no extra exchange.
  *
  * NOT for unbounded outputs: a row-level result that grows with the
  * input (q05/q21/q32/q43…) keeps the distributed range sort — at 100 TB
  * a one-task sort of an unbounded stream is a straggler by construction.
  * The rule: use smallSort iff you can state the output bound from the
  * query shape itself.
  *
  * NOT directly over a narrow (shuffle-free) expensive chain: coalesce is
  * a narrow dependency, so the one merged task would COMPUTE every parent
  * partition serially — a lazy localCheckpoint underneath does not save
  * you, because lazy checkpoints materialize inside the first job that
  * reads them (measured on q66: the whole per-row JSON parse ran
  * single-threaded, 0.96 s → 2.0 s). If there is no exchange between the
  * heavy work and the serving sort, either checkpoint EAGERLY first or
  * keep orderBy.
  */
object Serve {
  implicit class ServingOps(private val df: DataFrame) extends AnyVal {
    /** Drop-in for a trailing `.orderBy` on a bounded-small result. */
    def smallSort(cols: Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(cols: _*)
    def smallSort(c0: String, cs: String*): DataFrame =
      df.coalesce(1).sortWithinPartitions(c0, cs: _*)
  }
}
