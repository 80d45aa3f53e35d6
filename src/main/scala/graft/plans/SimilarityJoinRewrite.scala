package graft.plans

import graft.functions.{TrigramSet, TrigramSimSorted, TrigramSimilarity}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a naive similarity join into the exact
  * prefix-filtered equi-join.
  *
  * The query every analyst writes first —
  *
  * {{{ a.join(b, trigram_similarity(a.name, b.name) >= 0.55 && ...) }}}
  *
  * — has no equi-key, so Spark plans a BroadcastNestedLoopJoin (or a
  * cartesian product): every row pair is compared, O(n·m) similarity
  * calls, a guaranteed non-starter at 100 TB. The q34/q60 operators
  * avoid it by hand-building a blocked candidate join; this rule gives
  * the same scalable shape to the DECLARED form automatically, the
  * Spark-first way: state the intent, let the optimizer pick the plan.
  *
  * Rewrite (exact, not heuristic): per side, materialize the sorted
  * distinct trigram set once per row (`trigram_set`), explode only its
  * PREFIX of length `|S| − ⌈t·|S|⌉ + 1`, equi-join on the gram (plus any
  * equality conjuncts the predicate already carries), dedup candidate
  * pairs by per-side row ids, and re-apply the full original predicate
  * with the similarity computed by the allocation-free sorted-merge form
  * (`trigram_sim_sorted`, value-identical — ExpressionPropertySpec).
  *
  * Completeness is the standard prefix-filter lemma (Bayardo et al.,
  * WWW'07 "Scaling Up All Pairs Similarity Search"; Chaudhuri et al.,
  * ICDE'06): under any fixed total order on grams (here UTF8 binary
  * order, the `trigram_set` sort), J(A,B) ≥ t implies |A∩B| ≥
  * ⌈t·max(|A|,|B|)⌉, and two sets with overlap ≥ α share an element in
  * their (|S|−α+1)-prefixes — so every qualifying pair survives the
  * prefix equi-join and the post-filter makes the result exact. Rows
  * with <3 chars have empty gram sets: no prefix → never a candidate,
  * matching `trigram_similarity` = 0 < t on the naive path.
  *
  * Guards: inner joins only; threshold a foldable double in (0, 1]
  * (t ≤ 0 would admit zero-overlap pairs — unrewritable); both sim
  * arguments resolve each to exactly one side; every join output column
  * groupable (the pair dedup is a hash aggregate — MapType bails);
  * disabled with `spark.graft.similarityJoin.rewrite=false`.
  *
  * Idempotence in the fixed-point batch: the rewritten join's condition
  * holds only gram/equality conjuncts, and the re-applied predicate uses
  * `TrigramSimSorted` — a different expression class — so even when
  * predicate pushdown folds the post-filter back into the candidate
  * join's condition, this rule cannot match its own output.
  *
  * Multiplicity: candidate pairs are deduped on per-side
  * `monotonically_increasing_id` columns added below the explode, never
  * on payload values — two identical input rows still produce two output
  * rows, exactly like the naive join.
  */
object SimilarityJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledKey = "spark.graft.similarityJoin.rewrite"

  /** r19: round-robin-spread a parallelism-starved probe side. The gram
    * explode multiplies per-row CPU (hash probes + prune + merges on
    * every matching gram row) without growing the INPUT bytes the scan
    * splitter sees, so a side small enough to arrive as one or two scan
    * splits serializes the join's entire CPU on one core (q97 at bench
    * SF: 180 KB input → 1 task → every one of ~10⁷ candidate rows on one
    * thread; the 8-vs-32-core bench ratio measured exactly 1.0). When
    * the side that will stream through the hash join (the larger one —
    * the planner builds on the smaller) is estimated below this
    * threshold, insert a shuffle=true Repartition to the session's
    * shuffle parallelism under the explode. Scale-adaptive by
    * construction: numShufflePartitions follows the core-count sweep,
    * and any side past the threshold (i.e. one with real scan
    * parallelism) is left alone — at 100 TB this never fires. */
  private val SpreadMaxBytes: Long = 64L << 20

  private def threshold(e: Expression): Option[Double] = e match {
    case t if t.foldable && t.dataType == DoubleType =>
      Option(t.eval()).map(_.asInstanceOf[Double]).filter(d => d > 0.0 && d <= 1.0)
    case _ => None
  }

  /** trigram_similarity(x, y) ≥/> t (either operand order). */
  private object SimPredicate {
    def unapply(e: Expression): Option[(TrigramSimilarity, Double)] = e match {
      case GreaterThanOrEqual(s: TrigramSimilarity, t) => threshold(t).map((s, _))
      case GreaterThan(s: TrigramSimilarity, t)        => threshold(t).map((s, _))
      case LessThanOrEqual(t, s: TrigramSimilarity)    => threshold(t).map((s, _))
      case LessThan(t, s: TrigramSimilarity)           => threshold(t).map((s, _))
      case _ => None
    }
  }

  private def groupable(dt: DataType): Boolean = dt match {
    case _: MapType => false // no hash/equality contract → can't dedup pairs
    case ArrayType(et, _) => groupable(et)
    case StructType(fields) => fields.forall(f => groupable(f.dataType))
    case _: UserDefinedType[_] => false // conservative: unknown equality
    case _ => true // scalar leaf types all group
  }

  /** (leftStr, rightStr) iff one sim argument references only `left` and
    * the other only `right` (non-trivially). */
  private def oriented(sim: TrigramSimilarity, left: LogicalPlan,
                       right: LogicalPlan): Option[(Expression, Expression)] = {
    val (a, b) = (sim.left, sim.right)
    def only(e: Expression, p: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(p.outputSet)
    if (only(a, left) && only(b, right)) Some((a, b))
    else if (only(b, left) && only(a, right)) Some((b, a))
    else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "true") != "true") return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.output.forall(a => groupable(a.dataType)) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val matched = conjuncts.iterator.map {
          case SimPredicate(sim, t) => oriented(sim, left, right).map((sim, t, _))
          case _ => None
        }.collectFirst { case Some(m) => m }
        matched match {
          case Some((sim, t, (lStr, rStr))) =>
            rewrite(j, cond, conjuncts, sim, t, lStr, rStr)
          case None => j
        }
    }
  }

  /** Explode-prefix leg for one side: Project(+id, +grams) →
    * PosGenerate. The gram's 0-based POSITION rides along for the
    * positional prune below (PPJoin's filter, Xiao et al. WWW'08) —
    * slice() takes the array's HEAD, so a prefix position IS the
    * position in the full sorted gram set. */
  private def prefixed(side: LogicalPlan, strExpr: Expression, t: Double,
                       tag: String, spread: Boolean): (LogicalPlan, Attribute, Attribute, Attribute, Attribute) = {
    val idAlias = Alias(MonotonicallyIncreasingID(), s"__sjr_${tag}id")()
    val gramsAlias = Alias(TrigramSet(strExpr), s"__sjr_${tag}grams")()
    // see SpreadMaxBytes: round-robin under the id/grams projection,
    // so the shuffle carries the raw side (no gram arrays) and the ids
    // are assigned once above it
    val base =
      if (spread) Repartition(conf.numShufflePartitions, shuffle = true, side)
      else side
    val proj = Project(side.output ++ Seq(idAlias, gramsAlias), base)
    val gramsAttr = gramsAlias.toAttribute
    val sz = Size(gramsAttr)
    // |S| − ⌈t·|S|⌉ + 1, all-integer after the one ceil
    val prefLen = Add(
      Subtract(sz, Cast(Ceil(Multiply(Literal(t), Cast(sz, DoubleType))), IntegerType)),
      Literal(1))
    val posAttr = AttributeReference(s"__sjr_${tag}pos", IntegerType, nullable = false)()
    val gramAttr = AttributeReference(s"__sjr_${tag}gram", StringType, nullable = false)()
    val gen = Generate(PosExplode(Slice(gramsAttr, Literal(1), prefLen)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, gramAttr), child = proj)
    (gen, idAlias.toAttribute, gramsAttr, posAttr, gramAttr)
  }

  private def rewrite(j: Join, cond: Expression, conjuncts: Seq[Expression],
                      sim: TrigramSimilarity, t: Double,
                      lStr: Expression, rStr: Expression): LogicalPlan = {
    // spread the side that will STREAM through the hash join (the larger
    // one; tie → left, matching the planner's build-right tie-break) when
    // it is too small for scan parallelism — see SpreadMaxBytes
    val (lSz, rSz) = (j.left.stats.sizeInBytes, j.right.stats.sizeInBytes)
    val spreadL = lSz >= rSz && lSz <= SpreadMaxBytes
    val spreadR = rSz > lSz && rSz <= SpreadMaxBytes
    val (lGen, lId, lGrams, lPos, lGram) = prefixed(j.left, lStr, t, "l", spreadL)
    val (rGen, rId, rGrams, rPos, rGram) = prefixed(j.right, rStr, t, "r", spreadR)
    // candidate key: shared prefix gram + any equality conjuncts the
    // predicate already carries (they shrink the candidate space for free)
    val equis = conjuncts.filter {
      case EqualTo(a, b) =>
        def only(e: Expression, p: LogicalPlan) =
          e.references.nonEmpty && e.references.subsetOf(p.outputSet)
        (only(a, j.left) && only(b, j.right)) || (only(b, j.left) && only(a, j.right))
      case _ => false
    }
    // POSITIONAL prune (PPJoin, Xiao et al. WWW'08 §3.2 — exact, not
    // heuristic; r18 optimization round): J(A,B) ≥ t ⟺ |A∩B| ≥
    // ⌈t·(|A|+|B|)/(1+t)⌉, and for the FIRST shared gram (positions i, j,
    // 0-based) every intersection element sits at or after it in both
    // sorted arrays, so |A∩B| ≤ min(|A|−i, |B|−j). Gram rows failing
    // min(|A|−i, |B|−j) ≥ ⌈t·(|A|+|B|)/(1+t)⌉ cannot be a qualifying
    // pair's first shared gram — pruning them loses no pair (the
    // first-shared-gram row always survives; the id-dedup keeps one row
    // per pair anyway) and skips the O(|A|+|B|) sorted-merge similarity
    // for the bulk of spurious gram collisions: a few integer ops
    // replace the merge. Evaluated BEFORE the re-applied predicate in
    // the conjunct order, so short-circuit evaluation does the skipping.
    val szL = Size(lGrams)
    val szR = Size(rGrams)
    val reqOverlap = Cast(Ceil(Multiply(Literal(t / (1.0 + t)),
      Cast(Add(szL, szR), DoubleType))), IntegerType)
    val posPrune = GreaterThanOrEqual(
      Least(Seq(Subtract(szL, lPos), Subtract(szR, rPos))), reqOverlap)
    // Full original predicate on each candidate, with every similarity
    // over this column pair swapped to the sorted-merge form on the
    // already-materialized gram arrays (value-identical; also what keeps
    // the fixed-point batch from re-matching this rule's own output).
    val simSorted = TrigramSimSorted(lGrams, rGrams)
    val rewrittenCond = cond.transform {
      case s: TrigramSimilarity
          if (s.left.semanticEquals(lStr) && s.right.semanticEquals(rStr)) ||
             (s.left.semanticEquals(rStr) && s.right.semanticEquals(lStr)) =>
        simSorted
    }
    // cost-ordered single Filter (r19): the user's non-sim conjuncts
    // first (cheap row kills like key_a < key_b), then the integer-only
    // positional prune, then the sorted-merge sim conjuncts; the join
    // carries only the equi keys. Predicate pushdown folds this Filter
    // into the join condition IN THIS ORDER, so And's short-circuit does
    // the skipping the prune is for. The prune must NOT ride the join's
    // own condition: PushPredicateThroughJoin appends that AFTER the
    // pushed conjuncts, so it would run only on rows that already paid
    // the merge it exists to skip. SimilarityJoinRewriteSpec pins the
    // order on q97.
    val (simConj, otherConj) = splitConjunctivePredicates(rewrittenCond)
      .partition(_.exists(_.isInstanceOf[TrigramSimSorted]))
    val j2 = Join(lGen, rGen, Inner,
      Some((EqualTo(lGram, rGram) +: equis).reduce(And)), JoinHint.NONE)
    val filtered = Filter((otherConj ++ (posPrune +: simConj)).reduce(And), j2)
    // dedup candidates that shared several prefix grams — by row id, so
    // genuinely duplicate input rows keep their multiplicity
    val keep = (j.left.output ++ j.right.output ++ Seq(lId, rId))
      .map(_.asInstanceOf[NamedExpression])
    val dedup = Aggregate(keep.map(_.toAttribute), keep, Project(keep, filtered))
    Project(j.output.map(_.asInstanceOf[NamedExpression]), dedup)
  }
}
