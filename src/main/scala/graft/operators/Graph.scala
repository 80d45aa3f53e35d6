package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as declarative join/aggregate rounds —
  * the Pregel shape without RDDs: vertex state is a small frame, the
  * edge list is the big one, and every superstep is one equi-join plus
  * one pre-aggregated shuffle on the vertex key.
  *
  * Re-expresses (and extends to iteration) the reference's graph-shaped
  * pass — the citation follow that walks reference edges between studies
  * (study_scraper/citations.py:60-118, ported as q54) — in the direction
  * a training-data pipeline needs it: link-graph authority scoring for
  * crawl admission, the PageRank/harmonic-centrality ranking used to
  * weight web domains before corpus sampling.
  */
object Graph {

  /** Damping numerator/denominator and rank scale: all integer, so both
    * engines compute bit-identical ranks (truncating division is part of
    * the declared semantics, applied identically everywhere). */
  val DampNum = 85
  val DampDen = 100
  val Scale = 1000000000L // ranks in parts-per-billion of total mass
  val Iterations = 5

  /** q139 — PAGERANK in exact fixed-point arithmetic: authority scores
    * over the bipartite customer⇄supplier purchase graph (an edge per
    * distinct (customer, supplier) pair with at least one line item,
    * walked in both directions so every node has out-degree ≥ 1 — no
    * dangling-mass term needed). Five supersteps of
    *
    *   contrib(u) = r_k(u) DIV outdeg(u)            (per edge u→v)
    *   r_{k+1}(v) = base + (85 · Σ contrib) DIV 100,  base = (15·SCALE
    *                DIV 100) DIV N
    *
    * — every operation an integer DIV, so DuckDB replays the identical
    * values by unrolling the same five steps as CTEs; truncation dust is
    * deterministic and identical on both engines (no FP anywhere, the
    * q128 micro-unit discipline applied to iteration).
    *
    * 100 TB design: the edge list is the corpus-sized side — built once,
    * lazily checkpointed (the iterate-over-cached-edges shape every
    * Pregel system uses; at scale this is the persisted edge table), and
    * each superstep shuffles only (node, contrib) pairs pre-aggregated
    * map-side — vertex-count-sized, not edge-count-sized. Ranks never
    * leave the cluster; the driver sees no state (contrast GraphX's
    * RDD Pregel: same dataflow, but here Catalyst plans each superstep
    * and AQE sizes the vertex shuffles). Output is every supplier node's
    * final rank — rank mass says WHICH sources a crawl should trust,
    * exactly the per-source admission weighting q136 profiles and q75/
    * q91 mixtures consume downstream. */
  def q139Pagerank(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    // node ids packed into LONGs (customer = 2k, supplier = 2k+1): the
    // edge frame is the one corpus-sized, 5×-joined structure, so long
    // keys beat "c123"-style strings on hash, shuffle bytes and cache
    // footprint alike — and the class parity bit keeps the two id
    // spaces disjoint (the symmetrize contract)
    val edgesOnce = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(expr("o_custkey * 2").as("src"),
        expr("l_suppkey * 2 + 1").as("dst"))
    pagerank(edgesOnce, Iterations)
      .filter(col("node") % 2 === 1)
      .select(expr("node DIV 2").as("supplier"), col("rank_ppb"))
      .smallSort("supplier")
  }

  /** q148 — PERSONALIZED PageRank: the teleport vector is a SEED set,
    * not uniform — the crawl-frontier weighting a pipeline runs from a
    * trusted-source list ("rank every domain by its random-walk
    * proximity to the seeds"; Page et al. 1999 §6's personalized
    * vector, the TrustRank shape). Seeds are the trusted customer
    * accounts (custkey % 50 = 0 → packed node % 100 = 0); both the
    * teleport base AND the initial mass live only on seeds, so a
    * supplier's rank is exactly its discounted seed-walk visit rate —
    * suppliers unreachable from any seed in five steps report honest
    * zeros. Same exact ppb fixed-point discipline as q139 (every op an
    * integer DIV; the oracle unrolls the same five supersteps), same
    * cached pre-partitioned edge table, same vertex-sized shuffles —
    * the ONLY deltas are the seed predicate folded into the vertex
    * frame and the seed count replacing the node count in the two
    * driver literals. */
  def q148PersonalizedPagerank(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    val edgesOnce = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(expr("o_custkey * 2").as("src"),
        expr("l_suppkey * 2 + 1").as("dst"))
    pagerankCore(edgesOnce, Iterations, Some(expr("node % 100 = 0")))
      .filter(col("node") % 2 === 1)
      .select(expr("node DIV 2").as("supplier"), col("rank_ppb"))
      .smallSort("supplier")
  }

  /** q149 — WEIGHTED PageRank: edge mass from line-item value, the
    * crawl-authority weighting q136's per-source profile and the q75/q91
    * mixtures consume — a domain that moves more value pulls more rank,
    * the same instinct as the reference's poll-of-polls size weighting
    * (study_scraper/aggregate.py:36-51: bigger n ⇒ bigger weight)
    * applied to graph mass. Each (customer, supplier) edge carries the
    * pair's total line-item cents; a node's outflow splits ∝ weight
    * instead of uniformly. To keep every operation in exact Long
    * arithmetic (the q139 discipline — no FP, both engines truncate
    * identically), the split is precomputed ONCE on the edge table as
    * parts-per-million: w_ppm = (w · 10⁶) DIV Σw(src), and each
    * superstep's contribution is (rank · w_ppm) DIV 10⁶ — products
    * bounded by 10⁹·10⁶ = 10¹⁵ < 2⁶³. Truncating ppm shares lose a
    * deterministic dust of mass per round exactly as q139's DIV outdeg
    * does. Same shared pagerankCore: one corpus shuffle builds the
    * weight-summed symmetric edge table (the groupBy rides the same
    * hash(src) repartition the dedupe used), the w_ppm join is
    * exchange-free on top of it, and the five superstep joins shuffle
    * only vertex-sized rank frames. */
  def q149WeightedPagerank(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    val edgesOnce = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(expr("o_custkey * 2").as("src"),
        expr("l_suppkey * 2 + 1").as("dst"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("w"))
    weightedPagerank(edgesOnce, Iterations)
      .filter(col("node") % 2 === 1)
      .select(expr("node DIV 2").as("supplier"), col("rank_ppb"))
      .smallSort("supplier")
  }

  /** Cutoff splitting "yesterday's" orders from the update batch
    * (q156): ~76% of sf0.1 orders predate it. */
  val WarmCutoff = "2000-01-01"
  val WarmRounds = 2

  /** q156 — WARM-START PageRank: incremental authority maintenance, the
    * graph member of the engine's incremental-job family (q109
    * incremental dedup, q150 incremental IVF — the daily jobs a
    * production store runs instead of nightly rebuilds). Yesterday's
    * ranks (5 full supersteps over orders before [[WarmCutoff]] — the
    * stored rank table) initialize today's graph, and only
    * [[WarmRounds]] supersteps run over the UPDATED edge list; nodes
    * new to the graph start at their teleport base, the state a node
    * with no history holds. This is how crawl authority actually
    * updates: PageRank's power iteration converges geometrically from
    * any start, so a warm start amortizes convergence across days
    * (Langville & Meyer 2006 §9 — restart from the previous vector).
    * Deterministic end-to-end — both phases are the same exact ppb
    * fixed-point arithmetic, so the oracle unrolls base-5 + warm-2
    * rounds as CTEs and matches bit-for-bit. Output carries each
    * supplier's warm rank NEXT TO its stored base rank (0 when new),
    * so the hash pins the drift the update produced, not just the end
    * state. */
  def q156WarmstartPagerank(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    // ONE orders⋈lineitem pass + ONE hash(src) shuffle builds BOTH
    // phases' edge tables (r19; r18 ran the corpus-sized edge build
    // twice, once per phase): the symmetric dedup carries has_base =
    // "some pre-cutoff order produced this pair", so the base phase's
    // edge set is a FILTER of the one checkpointed table — filter and
    // project preserve the checkpoint's hash(src) partitioning, and
    // both phases' degree aggregates and superstep joins stay
    // exchange-free on the edge side. Base-edge identity: a pair is in
    // the filtered view iff ≥1 base order produced it ⟺ it is in the
    // dedup of the base orders' own edge list (what r18 built).
    val spark = t.orders.sparkSession
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val directed = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(expr("o_custkey * 2").as("src"),
        expr("l_suppkey * 2 + 1").as("dst"),
        (col("o_orderdate") < lit(WarmCutoff).cast("timestamp")).as("is_base"))
    val flagged = withStaticPlan(spark) {
      val reversed = directed.select(col("dst").as("src"),
        col("src").as("dst"), col("is_base"))
      directed.unionByName(reversed)
        .repartition(shuffleN, col("src"))
        .groupBy("src", "dst").agg(max("is_base").as("has_base"))
        .localCheckpoint(false)
    }
    // the stored rank table: vertex-sized, checkpointed — exactly what
    // a daily job reads back from yesterday's output
    val stored = pagerankOnEdges(
      flagged.where(col("has_base")).select("src", "dst"),
      Iterations, seed = None)
      .localCheckpoint(false)
    pagerankOnEdges(flagged.select("src", "dst"), WarmRounds, seed = None,
      warm = Some(stored))
      .join(stored.select(col("node"),
        col("rank_ppb").as("base_rank_ppb")), Seq("node"), "left")
      .filter(col("node") % 2 === 1)
      .select(expr("node DIV 2").as("supplier"), col("rank_ppb"),
        coalesce(col("base_rank_ppb"), lit(0L)).as("base_rank_ppb"))
      .smallSort("supplier")
  }

  /** Pair-volume threshold for the q151 component graph: cents of
    * line-item value a (customer, supplier) pair must exceed for an edge
    * — high enough that the sf0.1 graph fragments into real components
    * (663 components, max size 49) instead of the one hub-connected
    * giant the unthresholded bipartite graph forms. */
  val CcWeightThreshold = 15000000L
  val CcRounds = 12 // oracle unroll depth (sf0.1 converges at 9, +3 margin)

  /** q151 — CONNECTED COMPONENTS over the thresholded purchase graph:
    * the relationship-clustering pass a supplier-network analysis runs
    * ("which customer/supplier groups transact heavily with each
    * other"), and the declared promotion of the min-label CC that
    * q67's clustering uses internally (r13 verdict ask). Labels are
    * min-reachable node ids — the unique fixpoint of min-label
    * propagation — computed by q67's `ccMinLabels` core: a driver
    * union-find when the directed edge count is under the documented
    * bound (bounded collect, broadcast mapping back — the adjudicated
    * q67 pattern) and the convergence-CHECKED distributed pointer-jump
    * loop above it. The oracle reaches the SAME fixpoint its own way:
    * CcRounds = 12 unrolled MATERIALIZED pointer-doubling CTEs (3-round
    * margin over the measured sf0.1 convergence at round 9) with a
    * one-extra-round guard that poisons labels to NULL if unconverged —
    * fixpoint uniqueness is what lets two different iteration schedules
    * hash-match.
    *
    * 100 TB shape: the edge table builds on one hash(src) shuffle (pair
    * aggregate + threshold ride the repartition) and checkpoints
    * PRE-PARTITIONED on the join key; past the union-find bound, the
    * distributed loop's corpus-side join is exchange-free per round and
    * the label frames are vertex-sized, with pointer jumping keeping
    * rounds logarithmic where plain propagation pays the diameter. */
  def q151ConnectedComponents(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    val edgesOnce = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(expr("o_custkey * 2").as("src"),
        expr("l_suppkey * 2 + 1").as("dst"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("w"))
      .filter(col("w") >= CcWeightThreshold)
      .select("src", "dst")
    connectedComponents(edgesOnce, maxIter = 30)
      .select(
        expr("CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END")
          .as("side"),
        expr("node DIV 2").as("entity"),
        col("label"), col("comp_size"))
      .smallSort("side", "entity")
  }

  /** q159 — INCREMENTAL CONNECTED COMPONENTS: the graph member the
    * incremental-job family was missing (q109 incremental dedup, q150
    * incremental IVF, q156 warm-start PageRank) — and the daily job a
    * dedup-cluster store actually runs: yesterday's labels + today's
    * new edges, union-find over the DELTA contracted against stored
    * labels, relabel only affected components. The full rebuild is
    * q151; this produces the SAME labels bit-for-bit because min-label
    * CC is a unique fixpoint and edge weights only grow (base orders ⊂
    * full orders, weights additive nonnegative), so the full graph's
    * edge set is exactly base edges ∪ newly-crossing pairs — merges
    * only, never splits.
    *
    * The store keeps TWO frames (what a production job persists): the
    * pair-weight table (thresholds are on cumulative volume, so
    * tomorrow needs the sub-threshold mass too) and the label table.
    * The update leg — the only part that runs daily — is (1) a
    * batch-sized pair aggregate, (2) a batch-keyed join against the
    * stored weights to find pairs that cross the threshold NOW,
    * (3) contraction of those new edges to the component graph via two
    * stored-label lookups, (4) CC over that delta-sized label graph
    * (the proven `connectedComponents` core — driver union-find under
    * its documented bound, convergence-checked pointer-jump above it),
    * and (5) a broadcast relabel of the delta-sized mapping over the
    * stored labels. Nothing in (1)–(5) scans the base corpus:
    * the retired CcAddProbe measured the apply leg flat while the
    * store build grows with the corpus (SCALE.md; OPTIMIZATION_r19.md
    * "Retired flags and probes"). Output pins each entity's new label NEXT
    * TO its stored base label (-1 when the node is new today) — the
    * q156 drift device — plus rebuilt component sizes. */
  def q159IncrementalCc(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    val cutoff = lit(WarmCutoff).cast("timestamp")
    // yesterday's store: pair weights + labels over the base graph
    val (storedW, storedLabels) =
      ccStore(t.orders.filter(col("o_orderdate") < cutoff), t.lineitem)
    // today's batch: the delta pair aggregate (batch-sized)
    val deltaW = ccPairWeights(
      t.orders.filter(col("o_orderdate") >= cutoff), t.lineitem)
    ccApply(storedW, storedLabels, deltaW)
      .select(
        expr("CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END")
          .as("side"),
        expr("node DIV 2").as("entity"),
        col("label"), col("base_label"), col("comp_size"))
      .smallSort("side", "entity")
  }

  /** The (customer, supplier) pair-volume aggregate both CC store and
    * update legs share: one partially-aggregated shuffle keyed by the
    * pair. */
  private[graft] def ccPairWeights(orders: DataFrame,
                                   lineitem: DataFrame): DataFrame = orders
    .join(lineitem, col("o_orderkey") === col("l_orderkey"))
    .groupBy(expr("o_custkey * 2").as("src"),
      expr("l_suppkey * 2 + 1").as("dst"))
    .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("w"))

  /** The nightly store build: checkpointed pair weights and min-label
    * component labels over the thresholded base graph — exactly what a
    * daily q159 run reads back. */
  private[graft] def ccStore(orders: DataFrame, lineitem: DataFrame)
  : (DataFrame, DataFrame) = {
    val storedW = ccPairWeights(orders, lineitem).localCheckpoint(false)
    val baseEdges = storedW.filter(col("w") >= CcWeightThreshold)
      .select("src", "dst")
    val storedLabels = connectedComponents(baseEdges, maxIter = 30)
      .select("node", "label")
      .localCheckpoint(false)
    (storedW, storedLabels)
  }

  /** The daily update leg: batch-sized work only (see q159 scaladoc).
    * Returns (node, label, base_label, comp_size) for the FULL graph. */
  private[graft] def ccApply(storedW: DataFrame, storedLabels: DataFrame,
                             deltaW: DataFrame): DataFrame = {
    // pairs crossing the threshold only now — the edge delta. The join
    // is keyed by the BATCH's pairs; at scale the stored weight table
    // is bucketed on the pair key, so only the batch side shuffles.
    val newEdges = deltaW
      .join(storedW.select(col("src"), col("dst"), col("w").as("w_base")),
        Seq("src", "dst"), "left")
      .withColumn("wb", coalesce(col("w_base"), lit(0L)))
      .filter(col("w") + col("wb") >= CcWeightThreshold &&
        col("wb") < CcWeightThreshold)
      .select("src", "dst")
      .localCheckpoint(false) // read by contraction, new-node scan, union
    // contract to the component graph: endpoints → stored labels; a
    // node new today is its own label (the union-find sees node ids
    // and component minima in one namespace, so merged roots are
    // global component minima)
    val labelEdges = newEdges
      .join(storedLabels.select(col("node").as("src"),
        col("label").as("la")), Seq("src"), "left")
      .join(storedLabels.select(col("node").as("dst"),
        col("label").as("lb")), Seq("dst"), "left")
      .select(coalesce(col("la"), col("src")).as("src"),
        coalesce(col("lb"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // CC over the delta-sized label graph: the same proven core as
    // q151 (driver union-find under the bound, pointer-jump above)
    val mapping = connectedComponents(labelEdges, maxIter = 30)
      .select(col("node").as("label"), col("label").as("new_label"))
    // nodes new today (endpoints of new edges absent from the store)
    val newNodes = newEdges.select(col("src").as("node"))
      .unionByName(newEdges.select(col("dst").as("node")))
      .distinct()
      .join(storedLabels.select("node"), Seq("node"), "left_anti")
    val allLabels = storedLabels
      .select(col("node"), col("label"), col("label").as("base_label"))
      .unionByName(newNodes
        .select(col("node"), col("node").as("label"), lit(-1L).as("base_label")))
    // broadcast relabel: the mapping is delta-sized by construction
    val relabeled = allLabels
      .join(broadcast(mapping), Seq("label"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("label")).as("label"),
        col("base_label"))
      .localCheckpoint(false) // sizes + output both read it
    val sizes = relabeled.groupBy("label")
      .agg(count(lit(1)).as("comp_size"))
    relabeled.join(sizes, Seq("label"))
      .select("node", "label", "base_label", "comp_size")
  }

  /** Min-label CC core over a directed edge frame (same reverse-pair
    * caller contract as pagerank). Delegates to q67's proven
    * `ccMinLabels` machinery: driver union-find under the documented
    * edge bound (with path compression, broadcast mapping back), and
    * the convergence-CHECKED distributed pointer-jump loop above it —
    * both reach the unique fixpoint (every node labeled with its
    * component minimum), which is why the oracle's fixed 12 unrolled
    * rounds + convergence guard hash-match without the two sides
    * sharing an iteration schedule. Public so the spec can run tiny
    * graphs with known components. */
  def connectedComponents(directed: DataFrame, maxIter: Int): DataFrame = {
    val spark = directed.sparkSession
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // checkpoint the DIRECTED frame first: the count (the union-find
    // bound decision), the symmetrize and the dedupe all read it — one
    // corpus pass instead of three (the thresholded edge list is tiny,
    // so the checkpoint itself is cheap)
    val d0 = directed.localCheckpoint(false)
    val directedRows = d0.count()
    val e = d0
      .unionByName(d0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(shuffleN, col("src"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("qid")).distinct()
    val labels = Clustering.ccMinLabels(spark, nodes, e,
      directedRows, maxIter, Clustering.SmallGraphEdgeBound)
      .select(col("qid").as("node"), col("label"))
      .localCheckpoint(false)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("label")).select("node", "label", "comp_size")
  }

  /** The reusable core over a directed edge frame (src, dst): symmetrize,
    * dedupe, then run `iterations` fixed-point supersteps. Public so the
    * spec can run tiny graphs with known closed-form ranks. CALLER
    * CONTRACT: no pair's reverse is also present in `directed` (otherwise
    * symmetrize+dedupe and dedupe+symmetrize differ); q139 satisfies it
    * structurally — src ids are even (customers), dst ids odd
    * (suppliers). */
  def pagerank(directed: DataFrame, iterations: Int): DataFrame =
    pagerankCore(directed, iterations, None)

  /** Weighted variant over (src, dst, w) rows — multiple rows per pair
    * sum (the caller can pass per-line-item rows; the core's one
    * hash(src) shuffle both symmetrizes and aggregates). Same caller
    * contract on reverse pairs. */
  def weightedPagerank(directed: DataFrame, iterations: Int): DataFrame =
    pagerankCore(directed, iterations, None, weighted = true)

  /** Warm-start variant: `stored` is a (node, rank_ppb) frame (a prior
    * run's output); nodes absent from it start at their teleport base.
    * Public so the spec can warm tiny graphs against a hand model. */
  def warmPagerank(directed: DataFrame, iterations: Int,
                   stored: DataFrame): DataFrame =
    pagerankCore(directed, iterations, None, warm = Some(stored))

  /** Personalized variant: teleport base and initial mass restricted to
    * nodes satisfying `seed` (a predicate over the `node` column);
    * uniform PageRank when None. */
  def pagerank(directed: DataFrame, iterations: Int,
               seed: org.apache.spark.sql.Column): DataFrame =
    pagerankCore(directed, iterations, Some(seed))

  private def pagerankCore(directed: DataFrame, iterations: Int,
      seed: Option[org.apache.spark.sql.Column],
      weighted: Boolean = false,
      warm: Option[DataFrame] = None): DataFrame = {
    // symmetrized DEDUPED edge list, pre-partitioned ON THE JOIN KEY and
    // materialized once (lazy localCheckpoint) — every superstep joins
    // it. Three build choices carry the round cost:
    //  - dedupe AFTER symmetrize, ON the repartition shuffle: hash(src)
    //    clusters every (src, *) group, which satisfies the dedupe
    //    aggregate's distribution, so one corpus shuffle does both
    //    (r12 paid separate distinct + union passes);
    //  - repartition by src before the barrier: LogicalRDD keeps the
    //    checkpointed plan's outputPartitioning, so all `iterations`
    //    superstep joins see edges hash-clustered on src and shuffle
    //    ONLY the vertex-sized rank frame (r12 re-shuffled the
    //    corpus-sized edge list every superstep; at 100 TB this is the
    //    bucketed edge table every Pregel deployment keeps);
    //  - the union's two branches project the SAME join output —
    //    ReuseExchange computes the underlying join once.
    // AQE is disabled ONLY while the two barrier frames plan their RDDs:
    // LogicalRDD inherits the checkpointed plan's outputPartitioning
    // from the physical plan at toRdd time, and under AQE that is
    // UnknownPartitioning (the adaptive root hides the final stage's
    // partitioning — measured: every superstep then re-exchanged BOTH
    // checkpointed sides). Static planning keeps hash(src, 32) on the
    // leaves, so the five superstep joins run exchange-free on the edge
    // side. The scope covers the two checkpoint builds — the jobs that
    // materialize them (the seed count and the checkpoint RDDs) DO run
    // inside it, deliberately, so their leaves plan statically. The
    // conf flip is session-global: a query constructed CONCURRENTLY on
    // the same session during this window also plans AQE-off.
    // `graft.Bench` builds one query at a time, but `graft.Verify`
    // builds queries on a pool of 4 threads over one session, so the
    // flip reaches whatever the other threads plan meanwhile (their
    // values hold, their plans are not the benched ones) — ROADMAP
    // item 3 tracks the scoped fix. A cluster deployment would instead
    // read a bucketed edge table, which carries the same partitioning
    // guarantee natively with AQE on.
    val spark = directed.sparkSession
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = withStaticPlan(spark) {
      val reversed =
        if (weighted)
          directed.select(col("dst").as("src"), col("src").as("dst"), col("w"))
        else directed.select(col("dst").as("src"), col("src").as("dst"))
      val sym = directed.unionByName(reversed).repartition(shuffleN, col("src"))
      // weighted: the pair aggregate rides the SAME hash(src) shuffle the
      // dedupe does (HashPartitioning(src) satisfies the (src, dst)
      // clustering); the per-src weight total joins back exchange-free on
      // top of that partitioning, and because BOTH join branches contain
      // the identical repartition exchange, ReuseExchange computes the
      // corpus pass ONCE inside the single checkpoint job — the weighted
      // edge table costs one shuffle and one checkpoint, like q139's
      if (weighted) {
        val pairW = sym.groupBy("src", "dst").agg(sum("w").as("w"))
        val wt = pairW.groupBy("src").agg(sum("w").as("wtot"))
        pairW.join(wt, Seq("src"))
          .select(col("src"), col("dst"),
            expr("(w * 1000000L) DIV wtot").as("w_ppm"))
          .localCheckpoint(false)
      } else sym.dropDuplicates("src", "dst").localCheckpoint(false)
    }
    pagerankOnEdges(edges, iterations, seed, weighted, warm)
  }

  /** AQE off while a barrier frame plans its RDD (see the pagerankCore
    * scaladoc block above) — restores on any exit; session-global while
    * the thunk runs (single-threaded-harness assumption, documented
    * there). */
  private def withStaticPlan[A](spark: org.apache.spark.sql.SparkSession)(f: => A): A = {
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }

  /** The superstep loop over a PRE-BUILT edge table: `edges` must be the
    * symmetric deduped (src, dst[, w_ppm]) frame, hash(src)-partitioned
    * and checkpointed (what pagerankCore builds). Split out (r19) so
    * q156 can run its base and warm phases over two FILTERED VIEWS of
    * one shared edge build — filter/project preserve the checkpoint's
    * partitioning, so each phase's degree aggregate and superstep joins
    * stay exchange-free on the edge side. */
  private def pagerankOnEdges(edges: DataFrame, iterations: Int,
      seed: Option[org.apache.spark.sql.Column],
      weighted: Boolean = false,
      warm: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    val (verts, nn) = withStaticPlan(spark) {
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val degN = deg.select(col("src").as("node"), col("outdeg"))
        .withColumn("is_seed", seed.getOrElse(lit(true)))
      // the mass-carrier count (all nodes, or the seed set) is ONE
      // long — it goes to the driver and the teleport base rides as a
      // plan literal (r12 built a broadcast 1-row crossJoin whose
      // exchange materialized the whole edge frame during plan
      // CONSTRUCTION); this count is the job that materializes the edge
      // checkpoint, exchange-free on top of its partitioning
      val n = degN.filter(col("is_seed")).count()
      require(n > 0, "personalized pagerank needs at least one seed node")
      // vertex frame with the teleport base precomputed: node-count-
      // sized, checkpointed once — every superstep (and r0) joins THIS,
      // so the degree aggregate never replays
      val v = degN
        .withColumn("base", when(col("is_seed"),
          lit(((DampDen - DampNum).toLong * Scale / DampDen) / n))
          .otherwise(lit(0L)))
        .localCheckpoint(false)
      (v, n)
    }
    // warm start (q156): nodes carry their STORED rank into round one;
    // nodes new to the graph start at their teleport base — the state a
    // node with no history holds. Cold start: uniform (seeded) mass.
    val r0 = warm match {
      case Some(stored) => verts
        .join(stored.select(col("node"), col("rank_ppb").as("warm_rank")),
          Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("base"),
          coalesce(col("warm_rank"), col("base")).as("rank_ppb"))
      case None => verts.select(col("node"), col("outdeg"), col("base"),
        when(col("is_seed"), lit(Scale / nn)).otherwise(lit(0L)).as("rank_ppb"))
    }
    val rFinal = (1 to iterations).foldLeft(r0) { (r, _) =>
      val inflow = r
        // SHUFFLE_HASH on the rank side: both sides are already
        // hash-clustered on the key (edges by construction, r by the
        // previous round's vertex join), so the join is exchange-free;
        // the hint only stops SMJ from RE-SORTING the corpus-sized edge
        // RDD every superstep — the vertex-sized rank frame is the
        // hash-build side
        .hint("SHUFFLE_HASH")
        .join(edges, r("node") === edges("src"))
        .select(col("dst").as("node"),
          expr(if (weighted) "(rank_ppb * w_ppm) DIV 1000000L"
               else "rank_ppb DIV outdeg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("inflow"))
      verts
        .join(inflow, Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("base"),
          (col("base") + expr(s"($DampNum * coalesce(inflow, 0L)) DIV $DampDen"))
            .as("rank_ppb"))
      // no per-round barrier: each round references its predecessor
      // exactly once (edges/verts are the checkpointed fan-out frames),
      // so the folded plan grows LINEARLY deep and one AQE DAG runs all
      // five supersteps without five serialized checkpoint
      // materialization jobs (measured ~2× end-to-end)
    }
    rFinal.select("node", "rank_ppb")
  }
}
