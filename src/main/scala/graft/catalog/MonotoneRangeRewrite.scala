package graft.catalog

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._

/** MONOTONE range rewrite (r15): the standing dashboard predicates on a
  * time-chunked ingest are `WHERE date_trunc('day', ts) = X`,
  * `WHERE year(ts) = N`, `WHERE CAST(ts AS DATE) = D` — and an expression
  * over the column defeats EVERY stats path: V1 filter pushdown cannot
  * express it (no file pruning), `mightMatch`/`mustMatch` see no bare
  * column (no metadata serve), and the straddle-tolerant hybrid declines.
  *
  * Truncations are monotone with a computable inverse, so each such
  * conjunct is EQUIVALENT (in Filter context, where NULL filters like
  * FALSE) to a half-open range on the bare column:
  *
  *   trunc(ts) =  D  ⟺  aligned(D) ∧ D ≤ ts < D+1unit   (else no row)
  *   trunc(ts) ≥  D  ⟺  ts ≥ ceilAligned(D)
  *   trunc(ts) >  D  ⟺  ts ≥ floorAligned(D) + 1unit
  *   trunc(ts) <  D  ⟺  ts < ceilAligned(D)
  *   trunc(ts) ≤  D  ⟺  ts < floorAligned(D) + 1unit
  *
  * (`floorAligned` = trunc(D); `ceilAligned` = D when aligned, else
  * trunc(D)+1unit; `year(x) = N` inverts through `[N-01-01, N+1-01-01)`;
  * `CAST(ts AS DATE)` is day truncation with date literals.) Boundaries
  * are computed ONCE at plan time by evaluating the engine's own
  * expressions on the literal (`TruncTimestamp`/`TimestampAdd`/
  * `MakeDate`/`Cast`), so the rewrite is exactly Spark's semantics by
  * construction — any eval failure (invalid format, year overflow)
  * leaves the conjunct untouched.
  *
  * The rewritten Filter then feeds every existing stats consumer: the
  * hybrid metadata-aggregate rule proves all-match/no-match per file,
  * and — because V2 filter pushdown ran BEFORE this batch — the rule
  * re-prunes the already-built scan directly through the runtime-filter
  * replan hook ([[RuntimePrunableScan.pruneWith]]), so a plain SELECT
  * under a truncation predicate plans only the admissible files. NULL
  * semantics are preserved: the conjuncts rewritten are top-level (under
  * AND only), where the original NULL result and the range's NULL/FALSE
  * both reject the row. Kill switch:
  * `spark.graft.filter.monotoneRewrite=false`. */
class MonotoneRangeRewriteRule extends ServeRule(
    "spark.graft.filter.monotoneRewrite", "monotone range rewrite") {

  protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
    case f @ Filter(cond, child) =>
      val conjuncts = splitAnd(cond)
      val rewritten = conjuncts.map(c => rewriteConjunct(c) match {
        case Some(r) => (r, true)
        case None => (c, false)
      })
      // PERIODIC chain conjuncts (r16): `month(ts) = 5` has no
      // invertible range form, but the file-bound proofs in
      // [[graft.store.ExprBounds]] can still prune its file list —
      // hand the raw conjunct to the replan hook (sound: it is
      // implied by this very Filter, which stays row-exact above)
      val periodic = rewritten.collect {
        case (c, false) if graft.store.ExprBounds.prunable(c) => c
      }
      if (!rewritten.exists(_._2)) {
        if (periodic.nonEmpty) child match {
          case rel: DataSourceV2ScanRelation => rel.scan match {
            case rp: RuntimePrunableScan => rp.pruneWith(periodic)
            case _ => ()
          }
          case _ => ()
        }
        f
      }
      // a provably-empty conjunct (unaligned equality literal): the
      // main optimizer's PruneFilters ran before this batch, so fold
      // the Filter to the empty relation here
      else if (rewritten.exists(_._1 == Literal.FalseLiteral))
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          f.output, data = Seq.empty)
      else {
        val derived = (rewritten.collect { case (r, true) => r }
          .flatMap(splitAnd).filterNot(_.isInstanceOf[Literal])) ++
          periodic
        // pushdown already ran: hand the derived bare-column ranges
        // (and raw periodic conjuncts) to the scan's replan hook so
        // the FILE LIST shrinks too
        child match {
          case rel: DataSourceV2ScanRelation => rel.scan match {
            case rp: RuntimePrunableScan if derived.nonEmpty =>
              rp.pruneWith(derived)
            case _ => ()
          }
          case _ => ()
        }
        Filter(rewritten.map(_._1).reduce(And), child)
      }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** The supported monotone expression shapes over one bare column:
    * (base column, floorAligned(lit), boundary+1unit from a floor). */
  private sealed trait Inv {
    def col: Expression
    /** trunc(D) in the LITERAL's domain; None = eval failed. */
    def floor(d: Any): Option[Any]
    /** aligned boundary + 1 unit, in the COLUMN's domain. */
    def next(b: Any): Option[Any]
    /** an aligned literal value mapped into the COLUMN's domain. */
    def toCol(b: Any): Option[Any]
    def litType: DataType
  }

  private def evalQuiet(e: Expression): Option[Any] =
    try Option(e.eval(null)) catch { case _: Exception => None }

  /** Classify `e` as an invertible truncation chain; `litType` is the
    * comparison literal's type (== e.dataType). */
  private def invert(e: Expression): Option[Inv] = e match {
    // date_trunc(fmt, ts) over a bare timestamp column — or over
    // Cast(ntz_col AS TIMESTAMP), the shape the analyzer inserts for an
    // NTZ-stored column (UTC sessions only for the NTZ↔LTZ crossing:
    // under a DST zone the wall-clock mapping is not injective, so the
    // boundary translation would not be an equivalence)
    case t @ TruncTimestamp(fl @ Literal(_, _), inner, tz) =>
      def isTs(dt: DataType) =
        dt == TimestampType || dt == TimestampNTZType
      val (ar, colTz): (AttributeReference, Option[String]) = inner match {
        case a: AttributeReference if isTs(a.dataType) => (a, tz)
        case Cast(a: AttributeReference, dt, ctz, _)
            if isTs(dt) && isTs(a.dataType) &&
              conf.sessionLocalTimeZone == "UTC" =>
          (a, ctz.orElse(tz))
        case _ => return None
      }
      val unit = unitOf(fl) match { case Some(u) => u; case None => return None }
      Some(new Inv {
        val col: Expression = ar
        val litType: DataType = t.dataType
        def floor(d: Any): Option[Any] =
          evalQuiet(TruncTimestamp(fl, Literal(d, litType), tz))
        def next(b: Any): Option[Any] = evalQuiet(Cast(
          TimestampAdd(unit, Literal(1L), Literal(b, litType), tz),
          ar.dataType, colTz))
        def toCol(b: Any): Option[Any] =
          evalQuiet(Cast(Literal(b, litType), ar.dataType, colTz))
      })
    // trunc(date, fmt) over a bare date column
    case t @ TruncDate(ar: AttributeReference, fl @ Literal(_, _))
        if ar.dataType == DateType =>
      val unit = unitOf(fl) match { case Some(u) => u; case None => return None }
      Some(new Inv {
        val col: Expression = ar
        val litType: DataType = DateType
        def floor(d: Any): Option[Any] =
          evalQuiet(TruncDate(Literal(d, DateType), fl))
        def next(b: Any): Option[Any] = evalQuiet(Cast(
          TimestampAdd(unit, Literal(1L),
            Cast(Literal(b, DateType), TimestampType,
              Some(conf.sessionLocalTimeZone)),
            Some(conf.sessionLocalTimeZone)),
          DateType, Some(conf.sessionLocalTimeZone)))
        def toCol(b: Any): Option[Any] = Some(b)
      })
    // year(date) / year(CAST(ts AS DATE)) — every int is "aligned", the
    // boundaries are Jan 1 of N and N+1 in the column's domain
    case Year(inner) =>
      val (ar, asCol): (AttributeReference, Any => Option[Any]) = inner match {
        case a: AttributeReference if a.dataType == DateType =>
          (a, (d: Any) => Some(d))
        case Cast(a: AttributeReference, DateType, tz, _)
            if a.dataType == TimestampType || a.dataType == TimestampNTZType =>
          (a, (d: Any) => evalQuiet(
            Cast(Literal(d, DateType), a.dataType, tz)))
        case _ => return None
      }
      Some(new Inv {
        val col: Expression = ar
        val litType: DataType = IntegerType
        // "floor" of N is N itself (aligned by construction); the range
        // boundaries come from toCol/next on the year number
        def floor(d: Any): Option[Any] = Some(d)
        def next(b: Any): Option[Any] =
          evalQuiet(MakeDate(Literal(b.asInstanceOf[Int] + 1),
            Literal(1), Literal(1))).flatMap(asCol)
        def toCol(b: Any): Option[Any] =
          evalQuiet(MakeDate(Literal(b.asInstanceOf[Int]),
            Literal(1), Literal(1))).flatMap(asCol)
      })
    // CAST(ts AS DATE) — day truncation with DATE literals
    case Cast(ar: AttributeReference, DateType, tz, _)
        if ar.dataType == TimestampType || ar.dataType == TimestampNTZType =>
      Some(new Inv {
        val col: Expression = ar
        val litType: DataType = DateType
        def floor(d: Any): Option[Any] = Some(d) // any date is aligned
        def next(b: Any): Option[Any] = evalQuiet(
          Cast(Literal(b.asInstanceOf[Int] + 1, DateType), ar.dataType, tz))
        def toCol(b: Any): Option[Any] =
          evalQuiet(Cast(Literal(b, DateType), ar.dataType, tz))
      })
    case _ => None
  }

  private def unitOf(fmt: Literal): Option[String] = {
    val s = Option(fmt.value).map(_.toString.toUpperCase).getOrElse(return None)
    // the units timestampadd steps exactly; MM/MON/... normalize
    s match {
      case "YEAR" | "YYYY" | "YY" => Some("YEAR")
      case "QUARTER" => Some("QUARTER")
      case "MONTH" | "MM" | "MON" => Some("MONTH")
      case "WEEK" => Some("WEEK")
      case "DAY" | "DD" => Some("DAY")
      case "HOUR" => Some("HOUR")
      case "MINUTE" => Some("MINUTE")
      case "SECOND" => Some("SECOND")
      case _ => None
    }
  }

  /** Rewrite one top-level conjunct `E(col) cmp lit` (either side) into
    * the equivalent bare-column range, or None to leave it untouched. */
  private def rewriteConjunct(c: Expression): Option[Expression] = {
    def build(inv: Inv, op: String, d: Any): Option[Expression] = {
      val ct = inv.col.dataType
      def ge(v: Any) = GreaterThanOrEqual(inv.col, Literal(v, ct))
      def lt(v: Any) = LessThan(inv.col, Literal(v, ct))
      val b = inv.floor(d).getOrElse(return None)       // floorAligned
      val nextB = inv.next(b).getOrElse(return None)    // floor + 1 unit
      val aligned = b == d
      lazy val ceilCol: Option[Any] =
        if (aligned) inv.toCol(d) else Some(nextB)      // ceilAligned
      op match {
        case "=" =>
          if (!aligned) Some(Literal.FalseLiteral)
          else inv.toCol(d).map(lo => And(ge(lo), lt(nextB)))
        case ">=" => ceilCol.map(ge)
        case ">" => Some(ge(nextB))
        case "<" => ceilCol.map(lt)
        case "<=" => Some(lt(nextB))
        case _ => None
      }
    }
    def flip(op: String): String = op match {
      case ">=" => "<="; case ">" => "<"; case "<" => ">"; case "<=" => ">="
      case o => o
    }
    def tryMatch(l: Expression, r: Expression, op: String): Option[Expression] =
      (l, r) match {
        case (e, Literal(d, _)) if d != null =>
          invert(e).flatMap(inv => build(inv, op, d))
        case (Literal(d, _), e) if d != null =>
          invert(e).flatMap(inv => build(inv, flip(op), d))
        case _ => None
      }
    c match {
      case EqualTo(l, r) => tryMatch(l, r, "=")
      case GreaterThanOrEqual(l, r) => tryMatch(l, r, ">=")
      case GreaterThan(l, r) => tryMatch(l, r, ">")
      case LessThan(l, r) => tryMatch(l, r, "<")
      case LessThanOrEqual(l, r) => tryMatch(l, r, "<=")
      case In(e, vs) if vs.nonEmpty && vs.forall {
          case Literal(v, _) => v != null
          case _ => false
        } =>
        val ranges = vs.map { case Literal(d, _) =>
          invert(e).flatMap(inv => build(inv, "=", d)) match {
            case Some(r) => r
            case None => return None
          }
        }
        Some(ranges.reduce(Or))
      case _ => None
    }
  }
}
