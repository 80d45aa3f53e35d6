package graft

import org.apache.spark.sql.functions._

/** sf1 corpus synthesis for the scale rehearsal (scratch tooling, not
  * library surface) — a 10× corpus whose copies are DIVERGENT, unlike
  * the retired ScaleProbe's near-dup copies (OPTIMIZATION_r19.md), so
  * the heavy families' true-work density stays constant and a
  * time-vs-sf curve reads as scaling evidence rather than
  * candidate-density growth:
  *
  *   - documents: every word of copy c>0 carries the copy suffix, so
  *     cross-copy shingle/minhash/bigram overlap is exactly ZERO —
  *     near-dup structure exists only WITHIN a copy, at base density.
  *     True-pair counts grow linearly, not quadratically.
  *   - embeddings: copy c adds a deterministic pseudo-random jitter of
  *     ~0.7 of the coordinate scale, pushing cross-copy cosines to
  *     ~0.67 — far below every ε-threshold in the family (0.9/0.95/
  *     0.99), so SemDedup/near-dup densities stay at base level.
  *   - orders/lineitem: keys remapped per copy INCLUDING o_custkey and
  *     l_suppkey, so the purchase graph becomes 10 disjoint copies of
  *     the base graph — 10× nodes, 10× edges, unchanged degree
  *     distribution; PageRank supersteps and CC rounds do honestly 10×
  *     the work (ScaleProbe's variant kept the vertex set fixed and
  *     the deduped edge list saturates).
  *   - events: event_id AND user_id remapped per copy (like the graph
  *     endpoints), so the user population grows 10× at constant
  *     per-user event density — sessions/funnel/cohort queries measured
  *     on this corpus see honest scale, not hotter users.
  *   - part: keys remapped per copy, p_brand suffixed AND every p_name
  *     word suffixed, so the trigram-dedup blocks (brand, head,
  *     len_band) never pair across copies — q34's candidate density
  *     stays at base level (the documents discipline applied to the
  *     catalog dim).
  *
  * The remaining dimension tables copy unchanged; the sf1 dir serves
  * the HEAVY family (graph / ANN / dedup / corpus / merge pipelines),
  * not the full-suite oracle gate. Deterministic end to end (no RNG —
  * all jitter derives from (id, dim, copy) integer arithmetic), so
  * reruns are identical.
  *
  * ZIPF variant (3rd arg "zipf" — the r15 skew rehearsal): events'
  * user_id and orders' o_custkey are redrawn from their scaled key
  * universe by inverse-CDF sampling on the portable md5 hash of the
  * row id — r = min(U, ⌊x^(−1/(s−1))⌋) with s = 1.2, i.e. p(r) ∝
  * r^(−1.2) — so ONE user owns ~13% of all events (P(r=1) = 1−2^(1−s))
  * and the user/custkey-keyed shuffle family meets the hot key that
  * actually kills 100 TB jobs. Row COUNTS and all other tables match
  * the uniform variant exactly, so a uniform-vs-zipf time delta is
  * attributable to skew alone.
  *
  *   sbt "runMain graft.ScaleGen"          # writes /tmp/graft_sf1
  *   sbt "runMain graft.ScaleGen 20 /tmp/graft_sf2"
  *   sbt "runMain graft.ScaleGen 10 /tmp/graft_sf1z zipf"
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val zipf = args.length > 2 && args(2) == "zipf"
    val base = "/root/testdata/sf0.1"
    val spark = HarnessTuning.session("32",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    new java.io.File(out).mkdirs()
    def copies = spark.range(factor).select(col("id").as("copy"))

    // documents: copy 0 verbatim; copy c>0 suffixes EVERY word
    spark.read.parquet(s"$base/documents.parquet")
      .crossJoin(copies)
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("v"), col("copy"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: copy 0 verbatim; copy c>0 jittered additively by a
    // deterministic pseudo-random r(id, i, c) ∈ [-0.7, 0.7]
    spark.read.parquet(s"$base/embeddings.parquet")
      .crossJoin(copies)
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (v, i) =>
            (v + (((col("vec_id") * 31 + i.cast("long") * 17 +
              col("copy") * 101) % 2001 - 1000).cast("double") / 1000d
              * 0.7d).cast("float")).cast("float"))).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // zipf(s = 1.2) rank over a key universe U from the portable hash
    // of the REMAPPED row id (id·factor + copy — unique per output row
    // at ANY factor; an earlier draft hardcoded ·10 and collided seeds
    // above factor 10): x ∈ (0,1) uniform, r = ⌊x^−5⌋ ⇒ p(r) ∝ r^−1.2
    // with P(r = 1) ≈ 0.13 — the planted hot key. The Pareto tail
    // beyond U (≈ U^−0.2 of the mass) redraws UNIFORMLY from 1..U off
    // the hash's high bits — clamping it to U would plant a second,
    // artificial hot key hotter than r = 1. zipfKey READS the zh/zr0
    // columns installed by withZipfCols on the same id expression.
    def zipfKey(universe: Long) = expr(
      s"""CASE WHEN zr0 <= $universe THEN zr0
         |  ELSE 1L + (zh DIV 1000000) % $universe END
         |""".stripMargin.replace("\n", " "))
    def withZipfCols(df: org.apache.spark.sql.DataFrame, rowId: String) = df
      .withColumn("zh", expr(
        s"CAST(conv(substring(md5(CAST($rowId AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      // the power() reaches ~1e30 at the smallest x; clamp BEFORE the
      // cast (4e18 < Long.Max, and any clamp above every universe this
      // tool passes routes the draw into the tail redraw) so the
      // expression is ANSI-safe — the bare double→long cast relies on
      // non-ANSI clamping and throws under spark.sql.ansi.enabled=true
      .withColumn("zr0", expr(
        "greatest(1L, CAST(floor(least(power((zh % 1000000 + 1) / 1000001.0D, -5.0D), 4.0e18D)) AS BIGINT))"))

    // orders/lineitem: per-copy key remap INCLUDING the graph endpoints
    withZipfCols(spark.read.parquet(s"$base/orders.parquet")
      .crossJoin(copies), s"o_orderkey * $factor + copy")
      .select((col("o_orderkey") * factor + col("copy")).as("o_orderkey"),
        (if (zipf) zipfKey(15000L * factor)
         else (col("o_custkey") * factor + col("copy"))).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liOther = li.columns.filter(c => c != "l_orderkey" && c != "l_suppkey")
    li.crossJoin(copies)
      .select((col("l_orderkey") * factor + col("copy")).as("l_orderkey") +:
        (col("l_suppkey") * factor + col("copy")).as("l_suppkey") +:
        liOther.map(col).toSeq: _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    withZipfCols(spark.read.parquet(s"$base/events.parquet")
      .crossJoin(copies), s"event_id * $factor + copy")
      .select((col("event_id") * factor + col("copy")).as("event_id"),
        col("ts"),
        (if (zipf) zipfKey(1500L * factor)
         else (col("user_id") * factor + col("copy"))).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // part: the q34 trigram-dedup input — divergent copies like documents
    // (brand suffix splits the blocking key; word suffixes kill cross-copy
    // trigram overlap), so the merge-family curve measures scale, not
    // candidate-density growth
    spark.read.parquet(s"$base/part.parquet")
      .crossJoin(copies)
      .select((col("p_partkey") * factor + col("copy")).as("p_partkey"),
        when(col("copy") === 0, col("p_name")).otherwise(
          array_join(transform(split(col("p_name"), " "),
            w => concat(w, lit("v"), col("copy"))), " ")).as("p_name"),
        when(col("copy") === 0, col("p_brand"))
          .otherwise(concat(col("p_brand"), lit("#"), col("copy")))
          .as("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier")) {
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"[scalegen] wrote ${factor}x corpus to $out")
    spark.stop()
  }
}
