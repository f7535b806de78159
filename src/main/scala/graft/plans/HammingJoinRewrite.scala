package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: a join whose condition bounds the HAMMING DISTANCE of
  * two 64-bit columns — `bit_count(a ^ b) <= k` — has no equi-key, so
  * Spark plans it as a cartesian/BNLJ: quadratic, dead at scale. But by
  * the pigeonhole principle, if at most k of the 64 bits differ, then of
  * any k+1 disjoint bit-chunks at least ONE is bitwise identical — an
  * EQUI-join key. This rule rewrites the naive join into a UNION of k+1
  * chunk-equality joins, each predicated on "chunk i equal AND every
  * chunk before i different" (so the branches PARTITION the result —
  * each qualifying pair is emitted by exactly its first equal chunk,
  * no post-union distinct needed) with the original distance bound as a
  * residual filter. The same blocking the hand-written
  * `Dedup.simhashChunkPairs` performs — produced automatically from the
  * declarative formulation.
  *
  * The residual is re-expressed as `bit_count(a ^ b) < k+1` — the
  * equivalent STRICT comparison — so this rule's own output no longer
  * matches its pattern and the fixed-point batch terminates after one
  * application.
  *
  * Scope guards: inner joins; both columns LongType, each referencing
  * exactly one side; 0 <= k < 63. Comes with every session that
  * `graft.GraftSession` builds, through `GraftExtensions`.
  */
object HammingJoinRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** bit_count(a ^ b) <= k with an integer-literal bound. */
  private object HammingLeq {
    def unapply(e: Expression): Option[(Expression, Expression, Int)] = e match {
      case LessThanOrEqual(BitwiseCount(BitwiseXor(a, b)),
          Literal(k: Int, IntegerType)) => Some((a, b, k))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType),
          BitwiseCount(BitwiseXor(a, b))) => Some((a, b, k))
      case _ => None
    }
  }

  /** Bits [64*i/n, 64*(i+1)/n) of `e`, as an equi-joinable expression. */
  private def chunk(e: Expression, i: Int, n: Int): Expression = {
    val lo = (64 * i) / n
    val width = (64 * (i + 1)) / n - lo
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    BitwiseAnd(ShiftRightUnsigned(e, Literal(lo)), Literal(mask))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjs = conjuncts(cond)
      val matched = conjs.collectFirst {
        case h @ HammingLeq(a, b, k)
            if a.dataType == LongType && b.dataType == LongType &&
              k >= 0 && k < 63 && a.deterministic && b.deterministic &&
              ((a.references.subsetOf(left.outputSet) &&
                b.references.subsetOf(right.outputSet)) ||
                (a.references.subsetOf(right.outputSet) &&
                  b.references.subsetOf(left.outputSet))) =>
          (h, a, b, k)
      }
      matched match {
        case None => j
        case Some((h, a0, b0, k)) =>
          // orient a to the left side (xor is symmetric)
          val (a, b) =
            if (a0.references.subsetOf(left.outputSet)) (a0, b0) else (b0, a0)
          val n = k + 1
          val others = conjs.filterNot(_ eq h)
          // strict-< form: equivalent bound that this rule cannot re-match
          val residual =
            LessThan(BitwiseCount(BitwiseXor(a, b)), Literal(k + 1))
          val branches = (0 until n).map { i =>
            val eqI = EqualTo(chunk(a, i, n), chunk(b, i, n))
            val firstEqual = (0 until i).map(jj =>
              Not(EqualTo(chunk(a, jj, n), chunk(b, jj, n))))
            val branchCond =
              (Seq(eqI) ++ firstEqual ++ others :+ residual).reduce(And(_, _))
            Join(left, right, Inner, Some(branchCond), hint)
          }
          if (branches.size == 1) branches.head else Union(branches)
      }
  }
}
