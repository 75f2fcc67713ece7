package graft.plans

import org.apache.spark.sql.SparkSession
import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
  Filter, GlobalLimit, Join, LogicalPlan, Project, SubqueryAlias, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer-injected scale guardrail: flags logical-plan shapes that run
  * fine at test scale and melt at 100 TB —
  *
  *  - a Window with an ORDER BY but NO PARTITION BY over raw (non-
  *    aggregated) data — the whole dataset moves through a single task;
  *    the reason q_win_ntile is a two-pass rewrite. A global window
  *    directly over an Aggregate output is the deliberate "small global
  *    pass" pattern (e.g. cumulative offsets over bins) and is allowed;
  *  - an INNER join with no condition at all — the accidental cartesian
  *    (an explicit crossJoin states intent and is left alone).
  *
  * Mode via `spark.graft.scalelint` (session conf, default `off` so the
  * engine never changes behavior unless asked): `warn` logs each finding
  * once per plan, `fail` throws ScaleLintViolation — the CI posture, so a
  * scale-killer cannot merge silently. Registered by GraftExtensions
  * (`injectOptimizerRule`), so `spark.sql.extensions` users get it for
  * free. The rule never rewrites anything — read-only inspection.
  */
case class ScaleLintRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    ScaleLint.report(spark, logWarning(_))(ScaleLint.findings(plan))
    plan
  }
}

/** Physical-plan twin of ScaleLintRule, injected as a query-stage
  * preparation rule so it sees the ACTUAL exchanges (a logical Join can't
  * tell broadcast from shuffle — this can): flags any shuffle exchange
  * whose rows carry a float-vector payload (`array<float>`, the engine's
  * embedding convention, ~256 B/row at dim 64). The r4 PQ/SQ8
  * pool-selection scale-killer class, enforced engine-wide at plan time:
  * vectors must re-attach via broadcast joins AFTER candidate selection,
  * never ride an exchange. Same conf + modes as the logical rule;
  * read-only.
  */
case class ScaleLintShuffleRule(spark: SparkSession)
    extends Rule[org.apache.spark.sql.execution.SparkPlan] {
  override def apply(plan: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = {
    ScaleLint.report(spark, logWarning(_))(ScaleLint.shuffleFindings(plan))
    plan
  }
}

/** Non-AQE and streaming coverage for the physical lint: query-stage-prep
  * rules only run inside AdaptiveSparkPlanExec, so the same inspection is
  * ALSO injected as a columnar rule — preColumnarTransitions runs in the
  * preparations of every executed plan (batch or micro-batch, AQE on or
  * off). Read-only; under AQE both hooks may inspect the same exchange,
  * which at most duplicates a warn-mode log line.
  */
case class ScaleLintColumnarRule(spark: SparkSession)
    extends org.apache.spark.sql.execution.ColumnarRule {
  override def preColumnarTransitions
      : Rule[org.apache.spark.sql.execution.SparkPlan] =
    ScaleLintShuffleRule(spark)
}

object ScaleLint {

  val ConfKey = "spark.graft.scalelint"

  /** Attribute-metadata mark VectorFunctions.packVec stamps on packed
    * (BINARY) embedding columns, so re-encoding floats as bytes cannot
    * silently evade the float-payload shuffle rule — same 4·dim bytes
    * per row, same 100 TB exposure.
    */
  val PackedVectorKey = "graft.packedVector"

  /** Exemption mark (value = human-readable justification) stamped by
    * VectorFunctions.packVecExempt for DELIBERATE packed-vector
    * exchanges whose row count is bounded by construction — the
    * exact-verify re-attach pattern. Greppable audit trail.
    */
  val PackedVectorExemptKey = "graft.packedVectorExempt"

  /** Exemption mark for a DELIBERATE multi-distinct Expand whose input
    * row count is bounded by construction — the packVecExempt pattern
    * for the Expand rule: stamp any column feeding the aggregate and the
    * site becomes a greppable audit entry instead of a lint trip.
    */
  val ExpandExemptKey = "graft.expandExempt"

  def expandExempt(c: org.apache.spark.sql.Column, name: String,
      reason: String): org.apache.spark.sql.Column = {
    require(reason.nonEmpty, "expandExempt requires a justification")
    c.as(name, new org.apache.spark.sql.types.MetadataBuilder()
      .putString(ExpandExemptKey, reason).build())
  }

  final class ScaleLintViolation(msg: String) extends RuntimeException(
    s"$msg (set $ConfKey=warn to log instead, or off to disable)")

  /** The session's lint mode: `off` (the default), `warn` or `fail`. */
  def mode(spark: SparkSession): String =
    spark.conf.get(ConfKey, "off").toLowerCase

  /** Acts on `findings` by the session's mode: `fail` throws the first,
    * `warn` logs each through `warn`, and `off` does not inspect at all.
    */
  private[plans] def report(spark: SparkSession, warn: String => Unit)(
      findings: => Seq[String]): Unit =
    mode(spark) match {
      case "fail" => findings.headOption.foreach(f => throw new ScaleLintViolation(f))
      case "warn" => findings.foreach(f => warn(s"[scalelint] $f"))
      case _ =>
    }

  private def expandFinding(columns: Int, projections: Int): String =
    s"multi-distinct Expand replicates an unbounded $columns-column input " +
      s"${projections}x map-side before the shuffle: plan one single-distinct " +
      "pass per column and union the 1-row results (the q_profile_columns " +
      "rewrite), or stamp ScaleLint.expandExempt on an input column if the " +
      "replication is bounded by construction"

  /** The window's input with row-preserving unary nodes peeled off —
    * "directly over a bounded producer" must mean the direct producer
    * chain, not "an Aggregate exists SOMEWHERE below" (a tiny aggregate
    * joined to a huge raw table must not suppress the finding).
    */
  @tailrec private def producer(p: LogicalPlan): LogicalPlan = p match {
    case n: Project       => producer(n.child)
    case n: Filter        => producer(n.child)
    case n: SubqueryAlias => producer(n.child)
    case other            => other
  }

  /** Cardinality-bounded producers a global window may legitimately sit
    * on: an Aggregate (the small-global-pass pattern) or a GlobalLimit
    * (≤ k rows by construction — note df.limit(k) lowers to
    * GlobalLimit(LocalLimit(...)), so GlobalLimit is what the peel
    * reaches).
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: GlobalLimit => true
    case _ => false
  }

  /** Provenance test for the RewriteDistinctAggregates Expand (r17: the
    * r16 rule matched the marker by NAME alone — `_.name == "gid"` — so
    * a user column that happened to be called gid feeding a
    * ≥4-projection Expand could false-fire the FAIL-mode gate). The
    * rewrite's gid is a group-enumeration tag: its slot in EVERY
    * projection is an integer literal and the literals are pairwise
    * distinct (one id per duplicated group). A passthrough user column
    * occupies its slot with an attribute (or one repeated literal), so
    * it can never satisfy this; cube/rollup/grouping-sets tag with
    * `spark_grouping_id`, so the name guard keeps them exempt as
    * declared.
    */
  private def distinctGroupTag(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      projections: Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])
      : Boolean =
    output.zipWithIndex.exists { case (a, i) =>
      a.name == "gid" &&
        a.dataType == org.apache.spark.sql.types.IntegerType && {
          val slots = projections.map(p =>
            if (i < p.length) p(i)
            else org.apache.spark.sql.catalyst.expressions.Literal(null))
          slots.forall(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]) &&
            slots.distinct.length == slots.length
        }
    }

  /** Pure inspection — returns a message per scale-killer found. */
  def findings(plan: LogicalPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    plan.foreach {
      case w: Window if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
          !bounded(producer(w.child)) =>
        out += ("global window (ORDER BY with no PARTITION BY) over " +
          "non-aggregated data moves the whole dataset through one task: " +
          w.windowExpressions.map(_.sql).mkString(", ").take(120))
      // crossing against a cardinality-bounded side (an aggregate or
      // limit output — e.g. a broadcast centroid table) is the deliberate
      // small-dimension pattern; two unbounded sides is the accident
      case j: Join if j.condition.isEmpty && j.joinType == Inner &&
          !bounded(producer(j.left)) && !bounded(producer(j.right)) =>
        out += "condition-less inner join of two unbounded sides plans a cartesian product"
      // The multi-distinct planning shape (RewriteDistinctAggregates
      // marks its Expand with a `gid` attribute — cube/rollup/sets carry
      // spark_grouping_id instead and replicate only their narrow
      // grouping projection, so they stay exempt): N distinct-column
      // groups replicate the aggregate's ENTIRE input N+1 times
      // map-side. Over an unbounded fact that is an N× byte
      // amplification BEFORE the shuffle — the r15 profiler shape
      // (32 GB of spill from 1.5 GB of input at the 100× fixture, fixed
      // by one single-distinct pass per column unioned:
      // queries/ProfileOps). Two distinct groups (3 projections) is the
      // common benign case and passes; three or more over raw data is
      // the lint class. expandExempt marks a deliberately-blessed site.
      case e: Expand if e.projections.length >= 4 &&
          distinctGroupTag(e.output, e.projections) &&
          !bounded(producer(e.child)) &&
          !e.child.output.exists(_.metadata.contains(ExpandExemptKey)) =>
        out += expandFinding(e.child.output.length, e.projections.length)
      case _ =>
    }
    out.result()
  }

  /** Physical bounded-producer peel — ProjectExec/FilterExec preserve
    * rows; an aggregate or global-limit producer bounds cardinality.
    */
  @tailrec private def physProducer(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case n: org.apache.spark.sql.execution.ProjectExec => physProducer(n.child)
    case n: org.apache.spark.sql.execution.FilterExec  => physProducer(n.child)
    // codegen/columnar wrappers are row-preserving plumbing
    case n: org.apache.spark.sql.execution.WholeStageCodegenExec =>
      physProducer(n.child)
    case n: org.apache.spark.sql.execution.InputAdapter => physProducer(n.child)
    case n: org.apache.spark.sql.execution.ColumnarToRowExec =>
      physProducer(n.child)
    case other => other
  }

  private def physBounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec |
          _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _ => false
    }

  /** Physical inspection: shuffle exchanges whose output schema carries a
    * float-vector attribute, and the multi-distinct ExpandExec shape.
    * Broadcast exchanges are exempt by construction (broadcasting a small
    * vector table is the deliberate pattern); only rows crossing the wire
    * partition-to-partition count. The Expand check lives HERE (not only
    * in the logical findings) because RewriteDistinctAggregates plants
    * its Expand AFTER the injected optimizer-rule batch runs — the
    * physical hooks see the final plan, so fail mode actually trips at
    * execution (the logical findings() still catches it when run over a
    * fully-optimized plan, e.g. the registry lint sweep).
    */
  def shuffleFindings(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
    plan.flatMap {
      case e: org.apache.spark.sql.execution.ExpandExec
          if e.projections.length >= 4 &&
            distinctGroupTag(e.output, e.projections) &&
            !physBounded(physProducer(e.child)) &&
            !e.child.output.exists(_.metadata.contains(ExpandExemptKey)) =>
        Seq(expandFinding(e.child.output.length, e.projections.length))
      case s: ShuffleExchangeLike =>
        val vecs = s.output.filter(_.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
        // packVec-marked BINARY columns are the same 4·dim bytes/row a
        // raw float vector is — flagged unless the call site carried the
        // explicit packVecExempt justification (bounded-row re-attach)
        val packed = s.output.filter(a => a.dataType == BinaryType &&
          a.metadata.contains(PackedVectorKey) &&
          !a.metadata.contains(PackedVectorExemptKey))
        val f1 =
          if (vecs.isEmpty) Nil
          else Seq("shuffle exchange carries float-vector payload " +
            s"(${vecs.map(_.name).mkString(", ")}): select ids+scores before " +
            "the exchange and re-attach vectors via a broadcast join after " +
            "candidate selection")
        val f2 =
          if (packed.isEmpty) Nil
          else Seq("shuffle exchange carries PACKED float-vector payload " +
            s"(${packed.map(_.name).mkString(", ")}): packing to binary is " +
            "the same bytes per row — use packVecExempt(col, name, reason) " +
            "if this exchange's row count is bounded by construction")
        f1 ++ f2
      case _ => Nil
    }
  }
}
