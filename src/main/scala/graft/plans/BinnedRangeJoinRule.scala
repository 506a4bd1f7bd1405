package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** Optimizer rule that rewrites a pure range (interval) join —
  * `l JOIN r ON t >= lo AND t < hi` with no equality key — into the
  * binned equi-join shape of [[graft.operators.RangeJoin]]: the probe
  * side computes a time-bin key, the interval side explodes to the bins
  * it overlaps, and the join becomes a hash join on the bin key with the
  * original range predicate as residual. Without this, Spark plans the
  * join as BroadcastNestedLoopJoin — O(|L|·|R|) comparisons and a
  * mandatory broadcast.
  *
  * Opt-in via `spark.graft.rangeJoin.binSeconds` (0 = off, the
  * default): a plan-changing rewrite should be a deliberate choice, and
  * the right bin width is workload knowledge (≈ the typical interval
  * length) the optimizer does not have.
  *
  * This is the §2.12(c) extension path — a `Rule[LogicalPlan]`
  * registered through `SparkSessionExtensions` (see [[GraftExtensions]])
  * — used where whole-plan semantics, not a scalar function, need
  * extending.
  */
object BinnedRangeJoinRule extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rangeJoin.binSeconds"

  /** One normalized range conjunct: probe-time expr, bound expr, and
    * whether the bound is a lower bound for the probe time.
    */
  private case class Bound(t: Expression, bound: Expression, isLower: Boolean)

  private def asBound(e: Expression): Seq[Bound] = e match {
    case GreaterThan(a, b)        => Seq(Bound(a, b, isLower = true), Bound(b, a, isLower = false))
    case GreaterThanOrEqual(a, b) => Seq(Bound(a, b, isLower = true), Bound(b, a, isLower = false))
    case LessThan(a, b)           => Seq(Bound(a, b, isLower = false), Bound(b, a, isLower = true))
    case LessThanOrEqual(a, b)    => Seq(Bound(a, b, isLower = false), Bound(b, a, isLower = true))
    case _                        => Seq.empty
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case x         => Seq(x)
  }

  /** floor(epochSeconds / binSeconds) — same formula as RangeJoin. */
  private def binOf(e: Expression, binSec: Long): Expression =
    Floor(Divide(Cast(Cast(e, LongType), DoubleType), Literal(binSec.toDouble)))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val binSec = conf.getConfString(ConfKey, "0").toLong
    if (binSec <= 0) return plan
    plan transform {
      case j @ Join(left, right, Inner, Some(cond), _) if j.resolved =>
        val conjuncts = splitConj(cond)
        val rewritten =
          if (conjuncts.length != 2) None
          else {
            // all (t, bound, lower/upper) readings of the two conjuncts;
            // pick a pairing with one lower + one upper on the same t
            val pairs = for {
              b1 <- asBound(conjuncts(0))
              b2 <- asBound(conjuncts(1))
              if b1.isLower != b2.isLower
              if b1.t.semanticEquals(b2.t)
              if b1.t.dataType == TimestampType
              if b1.bound.dataType == TimestampType && b2.bound.dataType == TimestampType
            } yield if (b1.isLower) (b1.t, b1.bound, b2.bound) else (b1.t, b2.bound, b1.bound)
            pairs.headOption.flatMap { case (t, lo, hi) =>
              val tRefs = t.references
              val bRefs = lo.references ++ hi.references
              if (tRefs.subsetOf(left.outputSet) && bRefs.subsetOf(right.outputSet))
                Some(rewrite(j, probeLeft = true, t, lo, hi, binSec))
              else if (tRefs.subsetOf(right.outputSet) && bRefs.subsetOf(left.outputSet))
                Some(rewrite(j, probeLeft = false, t, lo, hi, binSec))
              else None
            }
          }
        rewritten.getOrElse(j)
    }
  }

  private def rewrite(j: Join, probeLeft: Boolean, t: Expression,
                      lo: Expression, hi: Expression, binSec: Long): LogicalPlan = {
    val probe = if (probeLeft) j.left else j.right
    val build = if (probeLeft) j.right else j.left
    val binP = Alias(binOf(t, binSec), "__graft_bin")()
    val newProbe = Project(probe.output :+ binP, probe)
    val binB = AttributeReference("__graft_bin_r", LongType, nullable = false)()
    val newBuild = Generate(
      // Sequence is TimeZoneAwareExpression: without a timezone it stays
      // unresolved and the optimizer rejects the rewritten plan.
      // Greatest guards inverted intervals (end < start): sequence()
      // throws where the original nested-loop join matched nothing.
      Explode(Sequence(binOf(lo, binSec),
        Greatest(Seq(binOf(lo, binSec), binOf(hi, binSec))),
        Some(Literal(1L)), Some(conf.sessionLocalTimeZone))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(binB), child = build)
    val newCond = And(EqualTo(binP.toAttribute, binB), j.condition.get)
    val newJoin =
      if (probeLeft) Join(newProbe, newBuild, Inner, Some(newCond), j.hint)
      else Join(newBuild, newProbe, Inner, Some(newCond), j.hint)
    Project(j.output, newJoin)
  }
}

/** Session-extensions entry point: enables graft's Catalyst extensions
  * on any SparkSession via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions`). Injects [[BinnedRangeJoinRule]] (optimizer
  * rule), [[TopKPerKeyStrategy]] (planner strategy for the custom
  * [[TopKPerKeyNode]] physical operator) and [[ObservedEmptyPropagation]]
  * (AQE runtime rule).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BinnedRangeJoinRule)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectRuntimeOptimizerRule(_ => ObservedEmptyPropagation)
    // union-typed ORDER BY → distributed 3-key sort (values.go order)
    ext.injectResolutionRule(_ => VariantSortRule)
    // union-typed GROUP BY / DISTINCT → json-key grouping
    ext.injectResolutionRule(_ => VariantGroupRule)
  }
}
