package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Cast, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.TimestampType

import graft.MetaCache
import graft.sources.VersionedRelation

/** Metadata-only aggregates for SQL — the `OptimizeMetadataOnlyQuery`
  * shape, answered from graft stats manifests (VERDICT r16 missing #1):
  *
  * {{{
  *   SELECT count(*), min(k), max(k) FROM graft.`/data/t`
  * }}}
  *
  * is the single most common query against a big table, and a plain
  * scan pays the full 100 TB to answer three numbers the commit
  * protocol already wrote down. This optimizer rule (injected via
  * `injectOptimizerRule`, the documented extension seam Delta's
  * equivalent rule uses) matches an UNGROUPED, UNFILTERED aggregate of
  * only `count(*)` / `min(col)` / `max(col)` directly over a graft
  * relation, answers it driver-side through the existing verified verbs
  * — [[graft.ops.Versioned.rowCount]] (manifest Σ n_rows − live dv
  * rows) and [[graft.ops.Versioned.statsAgg]] (per-file [min,max] with
  * dv-touched files rescanned, and ONLY those) — and substitutes a
  * one-row [[LocalRelation]] carrying the aggregate's own output
  * attributes. EXPLAIN shows no table scan at all.
  *
  * Honesty rules, all inherited from the verbs:
  *  - any referenced dir missing a stats manifest → the verb returns
  *    None → the rule falls through to the normal scan (a wrong fast
  *    answer is worse than a slow exact one);
  *  - dv-touched files' stats are stale → `statsAgg` rescans exactly
  *    those files with the dv subtracted (bounded rescan, still never
  *    the clean files);
  *  - column-mapped / feature-bearing tables → the verbs refuse →
  *    fall through;
  *  - a `timestamp` (UTC-adjusted) stat column falls through: the stat
  *    strings are UTC wall clocks and a session-zone cast could shift
  *    the instant (the Layout.statSide frame discipline) — only
  *    frame-free types substitute.
  *
  * Anything else — grouping keys, a WHERE clause, other aggregate
  * functions, DISTINCT, FILTER clauses, expressions over the inputs —
  * falls through untouched. Kill switch:
  * `spark.graft.statsAgg.enabled=false`.
  *
  * Scale: the substitution costs one tiny-parquet manifest read per
  * referenced dir (driver-coordinated Spark jobs over KB files) — zero
  * data IO on a million-file table; the 100 TB scan it replaces is the
  * point.
  */
final class GraftStatsAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** count(*) / count(1) — any non-null foldable literal counts rows. */
  private object CountStar {
    def unapply(e: NamedExpression): Option[Alias] = e match {
      case a @ Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), _, false, None, _), _) if v != null =>
        Some(a)
      case _ => None
    }
  }

  private object MinMaxCol {
    /** (alias, column name, isMin) for min/max over a BARE relation
      * attribute (no expression — stats speak column extremes only).
      */
    def unapply(e: NamedExpression): Option[(Alias, String, Boolean)] = e match {
      case a @ Alias(AggregateExpression(
          Min(ar: AttributeReference), _, false, None, _), _) =>
        Some((a, ar.name, true))
      case a @ Alias(AggregateExpression(
          Max(ar: AttributeReference), _, false, None, _), _) =>
        Some((a, ar.name, false))
      case _ => None
    }
  }

  /** The graft relation under the aggregate: bare, or under the pure
    * column-pruning Project the optimizer inserts (attributes only — a
    * Filter anywhere disqualifies, by construction of the match).
    */
  private object GraftChild {
    def unapply(p: LogicalPlan): Option[VersionedRelation] = p match {
      case LogicalRelation(vr: VersionedRelation, _, _, _, _) => Some(vr)
      case Project(pl, LogicalRelation(vr: VersionedRelation, _, _, _, _))
          if pl.forall(_.isInstanceOf[AttributeReference]) => Some(vr)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, GraftChild(vr), _)
          if spark.conf.get("spark.graft.statsAgg.enabled", "true") != "false" &&
            aggExprs.nonEmpty && aggExprs.exists {
              case CountStar(_) => true
              case MinMaxCol(_, _, _) => true
              case _ => false
            } && aggExprs.forall {
              case CountStar(_) => true
              case MinMaxCol(_, _, _) => true
              // CollapseProject merges a parent Project's constant tags
              // (`lit("meta").as("phase")`) into the aggregate list —
              // foldables ride along, evaluated driver-side
              case a: Alias if a.child.foldable => true
              case _ => false
            } =>
        answer(agg, aggExprs, vr).getOrElse(agg)
    }

  private def answer(agg: Aggregate, aggExprs: Seq[NamedExpression],
      vr: VersionedRelation): Option[LogicalPlan] =
    try {
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val cols = aggExprs.collect { case MinMaxCol(_, c, _) => c }.distinct
      // cache keys carry the version's manifest FILE identity: a table
      // dir deleted and rebuilt at the same path REUSES version numbers,
      // and a bare (table, version) key would serve the dead table's
      // answers
      val stampPath = new org.apache.hadoop.fs.Path(
        f"${vr.table}%s/_commits/${vr.version}%06d.manifest")
      val stampSt = stampPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(stampPath)
      val stamp = s"${stampSt.getLen}:${stampSt.getModificationTime}"
      // per-column one-row frames from the stats verbs; evaluated
      // EAGERLY at optimization time (driver-coordinated metadata jobs,
      // the OptimizeMetadataOnlyQuery contract). Any None → no rewrite.
      // Cached per (table, version, column): a commit's answer is
      // immutable by the CAS protocol (dv changes land as NEW versions),
      // and the same query's plan tree is re-optimized more than once
      // (the require-then-union entry shape) — without the cache every
      // re-optimization re-pays the manifest jobs. Only successes
      // cache: an ANALYZE that backfills stats must be seen.
      var scanned = 0; var referenced = 0
      val frames: Map[String, org.apache.spark.sql.Row] = cols.map { c =>
        val (row, sc, tot) =
          MetaCache(("statsFrame", vr.table, vr.version, stamp, c)) {
            val (frame, s, t) =
              graft.ops.Versioned.statsAgg(spark, vr.table, c, Some(vr.version))
                .getOrElse(return None)
            // UTC-adjusted timestamp stats carry a frame subtlety the
            // LocalRelation substitution must not inherit — fall through
            if (frame.schema("min_v").dataType.isInstanceOf[TimestampType.type])
              return None
            (frame.first(), s, t)
          }
        scanned += sc; referenced = math.max(referenced, tot)
        c -> row
      }.toMap
      val n: Long =
        if (aggExprs.exists { case CountStar(_) => true; case _ => false })
          MetaCache(("statsCount", vr.table, vr.version, stamp)) {
            graft.ops.Versioned.rowCount(spark, vr.table, Some(vr.version))
              .getOrElse(return None)
          }
        else 0L
      val values: Seq[Any] = aggExprs.map {
        case CountStar(_) => java.lang.Long.valueOf(n)
        case MinMaxCol(a, c, isMin) =>
          val row = frames(c)
          val src = row.schema(if (isMin) "min_v" else "max_v").dataType
          val v = row.get(if (isMin) 0 else 1)
          // stat types are width-canonical (int pages record "long") —
          // cast the evaluated extreme back into the column's own type
          Cast(Literal.create(v, src), a.dataType, tz).eval(InternalRow.empty)
        case a: Alias if a.child.foldable => a.child.eval(InternalRow.empty)
        case _ => return None // unreachable — the match above filtered
      }
      GraftStatsAggRule.record(vr.table,
        GraftStatsAggRule.Answer(vr.version, scanned, referenced, cols))
      Some(LocalRelation(agg.output, Seq(InternalRow.fromSeq(values))))
    } catch { case NonFatal(_) => None } // feature refusals etc. → scan
}

object GraftStatsAggRule {

  /** What the last substitution on a table answered: files scanned
    * (dv-touched rescans only — 0 on a clean table) vs referenced, and
    * which columns' stats served. In-query instrumentation, the
    * [[VersionedRelation.lastScan]] discipline: oracle entries require
    * `scanned == 0` to prove the answer really cost zero data IO.
    */
  final case class Answer(version: Long, scanned: Int, referenced: Int,
      columns: Seq[String])

  private val lastAnswers =
    new java.util.concurrent.ConcurrentHashMap[String, Answer]()

  private[plans] def record(table: String, a: Answer): Unit =
    lastAnswers.put(table, a)

  def lastAnswer(table: String): Option[Answer] = Option(lastAnswers.get(table))
}
