package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, ExprId, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions.{count => fcount, lit, max => fmax, min => fmin, sum => fsum}
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.store.FileStats

/** HYBRID metadata-served aggregates (VERDICT r13 next #2; GROUP BY r14).
  *
  * `SELECT COUNT(*)/COUNT(c)/MIN(c)/MAX(c)/SUM(c) FROM t WHERE <pred>`
  * answers with ZERO data-file I/O when every candidate file is provably
  * all-match (the scan builder's exact pushdown + [[graft.catalog
  * .GraftCatalog]] `pushAggregation`). That serve was ALL-OR-NOTHING: one
  * file straddling the predicate dropped the whole query to a full
  * residual scan — and an arbitrary range on a real data layout almost
  * always straddles one file.
  *
  * This rule is the standard engine hybrid: footer stats answer the
  * all-match files, a scan reads ONLY the straddlers (with the predicate
  * re-applied exactly, row by row), and a two-level merge combines them —
  * COUNT/SUM as sums of partial counts/sums, MIN/MAX over partial extrema.
  * At 100 TB a range predicate straddles O(1) boundary files per sorted
  * run, so the scan side is a handful of files where the all-or-nothing
  * path read millions.
  *
  * GROUP BY (r14): grouping by bare columns serves too, when a file's
  * stats PROVE its group key — every grouping column per-file CONSTANT
  * (min == max, null-free; or provably all-NULL → the SQL NULL group).
  * That is the date/tenant-chunked ingest layout, where `SELECT day,
  * COUNT(*), SUM(x) … GROUP BY day` is the standing dashboard query: each
  * proven file contributes one (group key, partials) row from metadata,
  * group-straddling files scan, and the final re-aggregation merges both
  * sides at O(#files + #groups) rows — never the table. Unfiltered
  * GROUP BY qualifies (the global unfiltered case stays with
  * `pushAggregation`, which serves it without this rule's re-aggregation).
  *
  * Soundness gates (all must hold, else the plan is untouched):
  *  - every aggregate one of COUNT(*)/COUNT(col) (non-DISTINCT, no FILTER
  *    clause)/MIN/MAX over a bare column whose type orders exactly in
  *    footer bounds ([[FileStats.minMaxExact]] — strings/floats refuse),
  *    or SUM over a [[FileStats.sumExact]] column whose stats-served
  *    files all carry ANALYZED sums ([[graft.store.TableStore.analyze]]);
  *  - grouping expressions (if any) are bare [[FileStats.minMaxExact]]
  *    base columns, or (r15) whitelisted deterministic unary chains over
  *    one — truncations (`date_trunc`, `trunc`), `year`, widening/
  *    date↔timestamp casts, and floor-division by a positive literal are
  *    additionally MONOTONE, so E(min) == E(max) proves E constant across
  *    the file (the day-chunked ingest: ts spans the day inside a file,
  *    `date_trunc('day', ts)` does not); non-monotone extractions
  *    (`month`, `day`, `hour`, `pmod`) prove only on a per-file-constant
  *    input;
  *  - the child peels to a main-store DSv2 graft snapshot scan through
  *    deterministic subquery-free Filters/Projects only
  *    ([[AggViewRewrite.peelScan]], which also screens out scans whose
  *    WHERE was consumed by exact pushdown — those are already fully
  *    metadata-served);
  *  - no delete vectors (footer stats count masked rows);
  *  - file classification is CONSERVATIVE: a file whose stats cannot
  *    prove all-match ([[FileStats.mustMatch]] refuses strings, floats,
  *    null-tainted predicates, …), whose group key is unproven, or that
  *    lacks a needed bound/sum is simply scanned — never served.
  *
  * The classification is driver-side free on the inline tier and ONE
  * distributed metadata sweep on the sharded tier
  * ([[graft.store.TableStore.hybridMatchMeta]] — the same sweep the scan
  * builder runs for exact pushdown, whose per-file verdicts a straddler
  * used to discard); the stats side materializes O(proven files) tiny
  * rows on the driver, bounded by [[graft.store.TableStore.ExactMaxFiles]].
  * All-match empty (nothing provable) declines — the ordinary scan is
  * already the right plan. Kill switch:
  * `spark.graft.agg.metadata.hybrid=false`. */
class HybridMetaAggRule extends ServeRule(
    "spark.graft.agg.metadata.hybrid", "hybrid metadata aggregate") {

  /** One validated grouping expression: `raw` as the Aggregate wrote it
    * (what the select list references — a hoisted `_groupingexpression`
    * alias attribute for compound keys), `expanded` the same expression
    * inlined to scan attributes, and `chain` the classified unary chain
    * ([[graft.store.ExprBounds.Chain]] — base column, monotonicity, and
    * the periodic granularity proof). */
  private case class GroupKey(raw: Expression, expanded: Expression,
      chain: graft.store.ExprBounds.Chain) {
    def base: AttributeReference = chain.base
    def monotone: Boolean = chain.monotone
  }

  /** Classify a scan-level grouping expression as a whitelisted pure
    * unary chain E(col) — shared with the WHERE-side proofs
    * ([[graft.store.ExprBounds]], r16): truncations/`year`/widening
    * casts/positive floor-div are MONOTONE (E(min) == E(max) proves
    * constancy over the file range); periodic extractions (`month`,
    * `day`, `hour`, …) carry a calendar granularity proof (bounds inside
    * one period pin E constant); `pmod` proves only on a per-file
    * constant input. Anything outside the whitelist (string ops, UDFs,
    * multi-column exprs) declines the rewrite. */
  private def classifyGroupExpr(e: Expression)
      : Option[graft.store.ExprBounds.Chain] =
    graft.store.ExprBounds.classify(e)

  protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // accept exact-pushed scans: their CONSUMED predicate (no residual
    // Filter survives) comes back from the registry and joins the
    // classification below, so `WHERE <decidable> GROUP BY <chunk col>`
    // keeps its metadata serve instead of scanning the kept subset
    val (rel, residual, subst) =
      AggViewRewrite.peelScan(agg.child, acceptExactPushed = true) match {
        case Some(x) => x
        case None => return None
      }
    val consumed: Seq[Expression] =
      ExactPushedScans.consumedOf(rel.scan).getOrElse(Nil)
    val conds = residual ++ consumed
    // grouping: bare exact-typed base columns, or (r15) a whitelisted
    // deterministic unary CHAIN over one — PullOutGroupingExpressions has
    // hoisted compound group exprs into `_groupingexpression` aliases by
    // the time this rule runs, so expand through peelScan's substitution
    // first, then classify the scan-level expression
    val groupKeys: Seq[GroupKey] = agg.groupingExpressions.map { raw =>
      val expanded = raw.transformUp {
        case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
      }
      classifyGroupExpr(expanded) match {
        case Some(chain) => GroupKey(raw, expanded, chain)
        case None => return None
      }
    }
    // a global unfiltered (or exactly-consumed-and-already-served)
    // aggregate is pushAggregation's zero-I/O serve — nothing to
    // hybridize; an unfiltered GROUP BY is ours (pushAggregation
    // declines GROUP BY)
    if (conds.isEmpty && groupKeys.isEmpty) return None
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    if (store.branch.nonEmpty) return None
    val m = table.graftManifest
    if (m.hasDeletes) return None
    val baseCols = m.schema.fieldNames.toSet
    if (!rel.scan.readSchema().fieldNames.forall(baseCols)) return None
    // residual conditions and grouping refs must re-anchor by NAME onto
    // the straddler read (their refs resolve through the peeled plan);
    // CONSUMED conditions came from the pushdown translation — their refs
    // are name-anchored against the base schema by construction
    if (!(residual ++ groupKeys.map(_.expanded)).forall(_.references.forall(r =>
      rel.output.exists(_.exprId == r.exprId)))) return None
    if (!consumed.forall(_.references.forall(r =>
      baseCols.contains(r.name)))) return None
    if (!groupKeys.forall(g => baseCols.contains(g.base.name))) return None

    // ---- AVG derivation (r15) ------------------------------------------
    // AVG(col) = SUM(col)/COUNT(col) from the partials this rule already
    // computes. INTEGRAL inputs only: Spark's Average accumulates an
    // integral column in a double buffer, which is exact while every
    // accumulated prefix fits 2^53, so `CAST(SUM AS DOUBLE) /
    // CAST(COUNT AS DOUBLE)` matches the scan's own result bit-for-bit in
    // that regime. Past 2^53 Average's per-element rounding and this
    // rule's single end rounding can differ in the last ulp, so any
    // stats-served file whose |sum| exceeds 2^53 declines the rewrite
    // when an AVG rides it (r15 advisor; `avgSumCols` below) — plain SUM
    // keeps its full exact-long range. The residual window (per-group
    // merged sums crossing 2^53 only through straddler contributions) is
    // accepted as a documented ≤1-ulp divergence. Decimal/float AVG keeps
    // the scan (decimal AVG carries its own rounding; float sums are
    // order-dependent). COUNT is per-column (AVG skips NULLs) and the
    // empty/all-NULL group guards to NULL exactly as Average does.
    val avgSumCols = scala.collection.mutable.Set.empty[String]
    val aggES: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, NamedExpression}
      import org.apache.spark.sql.catalyst.expressions.aggregate.Average
      import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, ShortType}
      agg.aggregateExpressions.map(_.transformDown {
        case ae @ AggregateExpression(Average(ar: AttributeReference, _), _,
            false, None, _)
            if baseCols.contains(ar.name) && (ar.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }) =>
          avgSumCols += ar.name
          val sumE = AggregateExpression(Sum(ar), ae.mode, isDistinct = false,
            None, NamedExpression.newExprId)
          val cntE = AggregateExpression(Count(Seq(ar)), ae.mode,
            isDistinct = false, None, NamedExpression.newExprId)
          If(EqualTo(cntE, Literal(0L)), Literal(null, DoubleType),
            Divide(Cast(sumE, DoubleType), Cast(cntE, DoubleType)))
      }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression])
    }

    // ---- aggregate coverage --------------------------------------------
    val aggExprs = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
    aggES.foreach(_.foreach {
      case ae: AggregateExpression
          if !aggExprs.exists(_.semanticEquals(ae)) => aggExprs += ae
      case _ => ()
    })
    if (aggExprs.isEmpty) return None
    // ('count | 'min | 'max | 'sum, column name or "" for COUNT(*))
    val kinds: Seq[(Char, String)] = aggExprs.toSeq.map { ae =>
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Count(Seq(Literal(_, _))) => ('c', "")
        case Count(Seq(ar: AttributeReference))
            if baseCols.contains(ar.name) => ('c', ar.name)
        case Min(ar: AttributeReference)
            if baseCols.contains(ar.name) &&
              (FileStats.minMaxExact(ar.dataType) ||
                ar.dataType == StringType) => ('n', ar.name)
        case Max(ar: AttributeReference)
            if baseCols.contains(ar.name) &&
              (FileStats.minMaxExact(ar.dataType) ||
                ar.dataType == StringType) => ('x', ar.name)
        // SUM (r14): served from per-file ANALYZED sums for the stats-
        // served files ([[graft.store.TableStore.analyze]]); any evalMode
        // is sound — an unfitting stats-side partial declines below, so
        // overflow semantics stay the scan's own
        case s: Sum if s.child.isInstanceOf[AttributeReference] && {
          val ar = s.child.asInstanceOf[AttributeReference]
          baseCols.contains(ar.name) && FileStats.sumExact(ar.dataType)
        } => ('s', s.child.asInstanceOf[AttributeReference].name)
        case _ => return None
      }
    }
    // outputs must hang entirely off the covered aggregates and grouping
    // columns (subqueries decline)
    if (aggES.exists(_.find(e =>
      e.isInstanceOf[PlanExpression[_]]).isDefined)) return None

    // cheap shape gate: a predicate [[FileStats.mustMatch]] can never
    // prove (string/float columns, arithmetic like `k % 10 = 3`, UDFs)
    // makes EVERY file straddle — decline before paying the sharded
    // classification sweep. Sound either way: the sweep would just come
    // back all-straddle.
    def provable(e: Expression): Boolean = {
      import org.apache.spark.sql.catalyst.expressions._
      def sideOk(x: Expression): Boolean = x match {
        case ar: AttributeReference =>
          FileStats.minMaxExact(ar.dataType) || ar.dataType == StringType
        // whitelisted chain over one column (r16): `month(ts) = 5` — the
        // per-file proofs run in [[graft.store.ExprBounds]]
        case other => graft.store.ExprBounds.classify(other).isDefined
      }
      e match {
        case And(l, r) => provable(l) && provable(r)
        case Or(l, r) => provable(l) && provable(r)
        case b: BinaryComparison => (b.left, b.right) match {
          case (x, v) if v.foldable => sideOk(x)
          case (v, x) if v.foldable => sideOk(x)
          case _ => false
        }
        case In(x, vs) if vs.forall(_.foldable) => sideOk(x)
        case IsNull(_: AttributeReference) => true
        case IsNotNull(_: AttributeReference) => true
        case _ => false
      }
    }
    if (!conds.forall(provable)) return None

    // ---- three-way file classification ---------------------------------
    val (allMatch0, straddle0):
        (Seq[(String, Long, Map[String, FileStats.ColStat])], Seq[String]) =
      if (!m.isSharded) {
        val am = Seq.newBuilder[(String, Long, Map[String, FileStats.ColStat])]
        val st = Seq.newBuilder[String]
        m.inlineFiles.foreach { f =>
          m.inlineStats.get(f).map(m.usableStat) match {
            case Some(s) if !FileStats.mightMatch(s, m.schema, conds) => ()
            case Some(s) if FileStats.mustMatch(s, m.schema, conds) =>
              am += ((f, s.rows, s.cols))
            case _ => st += f
          }
        }
        (am.result(), st.result())
      } else {
        if (m.nFiles > graft.store.TableStore.ExactMaxFiles) return None
        store.hybridMatchMeta(m, conds)
      }
    if (allMatch0.isEmpty) return None // nothing provable: scan is right

    // a kept file missing a needed bound/sum — or (GROUP BY) whose group
    // key its stats cannot PROVE — moves to the scan side: stats only
    // ever serve proof. A key E(col) is proven when the file is all-NULL
    // in col (E null-intolerant → the SQL NULL group), when col is
    // per-file CONSTANT (null-free, min == max → evaluate E on the
    // bound), when — MONOTONE chains — E(min) == E(max) != NULL (x ≤ y ⇒
    // E(x) ≤ E(y) pins E constant across the whole [min, max] range: the
    // date-chunked ingest, where ts spans the day inside each file but
    // date_trunc('day', ts) does not), or (r16) when a PERIODIC chain's
    // granularity proof holds — P(min) == P(max) puts the whole file
    // inside one calendar period of the extraction, so `GROUP BY
    // month(ts)` serves on a month-chunked layout where min never equals
    // max
    def evalOn(g: GroupKey, v: Any): Option[Any] =
      if (g.expanded eq g.base) Some(v)
      else graft.store.ExprBounds.evalOn(g.expanded, g.base.dataType, v)
    def groupKeysOf(meta: (String, Long, Map[String, FileStats.ColStat]))
        : Option[Seq[Any]] = Some(groupKeys.map { g =>
      val c = meta._3.getOrElse(g.base.name, return None)
      if (c.nulls == meta._2) null
      else if (c.nulls != 0 || c.min.isEmpty || c.max.isEmpty) return None
      else {
        val lo = FileStats.parseBound(c.min.get, g.base.dataType)
        if (c.min == c.max) evalOn(g, lo).getOrElse(return None)
        else if (g.monotone) {
          val hi = FileStats.parseBound(c.max.get, g.base.dataType)
          val kl = evalOn(g, lo).getOrElse(return None)
          val kh = evalOn(g, hi).getOrElse(return None)
          // a NULL eval output under min < max carries no range proof
          if (kl != null && kl == kh) kl else return None
        } else g.chain.gran match {
          case Some(gr) =>
            val hi = FileStats.parseBound(c.max.get, g.base.dataType)
            val pl = graft.store.ExprBounds
              .evalOn(gr.proof, g.base.dataType, lo).filter(_ != null)
            val ph = graft.store.ExprBounds
              .evalOn(gr.proof, g.base.dataType, hi).filter(_ != null)
            if (pl.isDefined && pl == ph)
              evalOn(g, lo).getOrElse(return None)
            else return None
          case None => return None
        }
      }
    })
    // a served STRING MIN/MAX bound must be EXACT (attained — truncated
    // writer bounds enclose the range but need not be values any row
    // holds); proofs and group keys never need the flag
    def mmOk(n: String, c: FileStats.ColStat): Boolean =
      m.schema(n).dataType != StringType || c.exact
    def statsServable(meta: (String, Long, Map[String, FileStats.ColStat]))
        : Boolean = kinds.forall {
      case ('c', "") => true
      case ('c', n) => meta._3.contains(n)
      case ('n', n) =>
        meta._3.get(n).exists(c =>
          (c.min.isDefined && mmOk(n, c)) || c.nulls == meta._2)
      case ('x', n) =>
        meta._3.get(n).exists(c =>
          (c.max.isDefined && mmOk(n, c)) || c.nulls == meta._2)
      case ('s', n) =>
        meta._3.get(n).exists(c => c.sum.isDefined || c.nulls == meta._2)
      case _ => false
    }
    val classified = allMatch0.map(f => (f, groupKeysOf(f)))
    val (statFiles, moved) = classified.partition { case (f, ks) =>
      ks.isDefined && statsServable(f)
    }
    if (statFiles.isEmpty) return None
    val scanFiles = (straddle0 ++ moved.map(_._1._1)).sorted

    // ---- stats-side partial rows (one per proven file) ------------------
    // partial column type per kind: counts are LONG; sums accumulate in
    // the exact domain (LONG for integrals — an unfitting stats-side
    // partial declines; DECIMAL(38, s) for decimals) and cast to the
    // query's SUM result type at the merge; min/max ride the column type
    def partialType(k: Char, n: String): org.apache.spark.sql.types.DataType =
      k match {
        case 'c' => LongType
        case 's' => m.schema(n).dataType match {
          case d: org.apache.spark.sql.types.DecimalType =>
            org.apache.spark.sql.types.DecimalType(38, d.scale)
          case _ => LongType
        }
        case _ => m.schema(n).dataType
      }
    val groupNames = groupKeys.indices.map(i => s"_g_gk_$i")
    val partialNames = kinds.indices.map(i => s"_g_pc_$i")
    def statRow(fk: ((String, Long, Map[String, FileStats.ColStat]),
        Option[Seq[Any]])): InternalRow = {
      val f = fk._1
      val gks: Seq[Any] = fk._2.get // proven keys, computed once above
      val ps: Seq[Any] = kinds.map {
        case ('c', "") => f._2
        case ('c', n) => f._2 - f._3(n).nulls
        case ('s', n) =>
          f._3(n).sum match {
            case None => null // provably all-NULL: contributes nothing
            case Some(s) =>
              val v = BigDecimal(s)
              // AVG-fed sums additionally stay within double-exact range
              // (see the AVG derivation comment above)
              if (avgSumCols.contains(n) &&
                v.abs > BigDecimal(9007199254740992L)) return null
              partialType('s', n) match {
                case LongType =>
                  if (v.isValidLong) java.lang.Long.valueOf(v.toLong)
                  else return null // caller declines on null marker
                case d: org.apache.spark.sql.types.DecimalType =>
                  val dec = org.apache.spark.sql.types.Decimal(v)
                  if (dec.changePrecision(d.precision, d.scale)) dec
                  else return null
                case _ => return null
              }
          }
        case (k, n) =>
          val dt = m.schema(n).dataType
          (if (k == 'n') f._3(n).min else f._3(n).max) match {
            case Some(b) => FileStats.parseBound(b, dt)
            case None => null // provably all-NULL under statsServable
          }
      }
      InternalRow.fromSeq(gks ++ ps)
    }
    val statRows = statFiles.map(statRow)
    if (statRows.exists(_ == null)) return None // unfittable exact partial
    val partialAttrs =
      groupKeys.zip(groupNames).map { case (g, gn) =>
        AttributeReference(gn, g.expanded.dataType)()
      } ++ kinds.zip(partialNames).map { case ((k, n), pn) =>
        AttributeReference(pn, partialType(k, n))()
      }
    val statsDF = DatasetBridge.ofRows(store.spark,
      LocalRelation(partialAttrs, statRows))

    // ---- scan-side partial rows (straddlers only, predicate exact) -----
    def byName(n: String) =
      ColumnBridge.column(UnresolvedAttribute.quoted(n))
    val merged =
      if (scanFiles.isEmpty) statsDF
      else {
        val partials = kinds.zip(partialNames).map {
          case (('c', ""), pn) => fcount(lit(1)).as(pn)
          case (('c', n), pn) => fcount(byName(n)).as(pn)
          case (('n', n), pn) => fmin(byName(n)).as(pn)
          case (('s', n), pn) =>
            // cast BEFORE summing so the straddler partial lands in the
            // same exact domain as the stats-side partial column
            fsum(byName(n).cast(partialType('s', n))).cast(partialType('s', n))
              .as(pn)
          case ((_, n), pn) => fmax(byName(n)).as(pn)
        }
        val raw0 = store.readFiles(m, scanFiles)
        val raw = if (conds.isEmpty) raw0 else raw0.filter(
          ColumnBridge.column(conds.reduce(
            org.apache.spark.sql.catalyst.expressions.And).transformUp {
              case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
            }))
        val scanAgg =
          if (groupKeys.isEmpty) raw.agg(partials.head, partials.tail: _*)
          else raw
            // straddlers compute the EXPANDED key expression row-exact,
            // name-anchored onto the file read
            .groupBy(groupKeys.zip(groupNames).map { case (g, gn) =>
              ColumnBridge.column(g.expanded.transformUp {
                case ar: AttributeReference =>
                  UnresolvedAttribute.quoted(ar.name)
              }).as(gn) }: _*)
            .agg(partials.head, partials.tail: _*)
        scanAgg.union(statsDF)
      }
    val mergeCols = kinds.zip(partialNames).zipWithIndex.map {
      case ((('c', _), pn), i) =>
        fsum(ColumnBridge.column(UnresolvedAttribute.quoted(pn)))
          .as(s"_g_out_$i")
      case ((('n', _), pn), i) =>
        fmin(ColumnBridge.column(UnresolvedAttribute.quoted(pn)))
          .as(s"_g_out_$i")
      case ((('s', n), pn), i) =>
        // merged exact partials cast to the query's SUM result type —
        // a total that does not fit lands exactly where the scan's own
        // sum would (NULL / ANSI error), never a silently-wrong value
        fsum(ColumnBridge.column(UnresolvedAttribute.quoted(pn)))
          .cast(FileStats.sumResultType(m.schema(n).dataType))
          .as(s"_g_out_$i")
      case (((_, _), pn), i) =>
        fmax(ColumnBridge.column(UnresolvedAttribute.quoted(pn)))
          .as(s"_g_out_$i")
    }
    val mergedAgg =
      if (groupKeys.isEmpty) merged.agg(mergeCols.head, mergeCols.tail: _*)
      else merged.groupBy(groupNames.map(byName): _*)
        .agg(mergeCols.head, mergeCols.tail: _*)

    // ---- splice with the original output exprIds -----------------------
    // outermost-first so a compound group key (its RAW, pre-substitution
    // shape — the select list references the same hoisted alias attribute)
    // is replaced whole before its children are visited
    def groupIdxOf(e: Expression): Int =
      groupKeys.indexWhere(_.raw.semanticEquals(e))
    val outCols = aggES.map { ne =>
      var ok = true
      val t = (ne match {
        case Alias(c, _) => c
        case o => o
      }).transformDown {
        case ae: AggregateExpression =>
          aggExprs.indexWhere(_.semanticEquals(ae)) match {
            case -1 => ok = false; ae
            case i => UnresolvedAttribute.quoted(s"_g_out_$i")
          }
        case e if groupIdxOf(e) >= 0 =>
          UnresolvedAttribute.quoted(s"_g_gk_${groupIdxOf(e)}")
      }
      if (!ok || t.find(e => e.isInstanceOf[AttributeReference] ||
          e.isInstanceOf[AggregateExpression]).isDefined) return None
      ColumnBridge.column(t).as(ne.name)
    }
    val repPlan = mergedAgg.select(outCols: _*).queryExecution.optimizedPlan
    if (repPlan.output.size != agg.output.size ||
      repPlan.output.zip(agg.output).exists {
        case (n, o) => n.dataType != o.dataType
      }) return None
    logInfo(s"hybrid metadata aggregate over ${store.root}: " +
      s"${statFiles.size} files from stats, ${scanFiles.size} scanned" +
      (if (groupKeys.isEmpty) "" else s", ${groupKeys.size} group keys"))
    Some(org.apache.spark.sql.catalyst.plans.logical.Project(
      agg.output.zip(repPlan.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
          explicitMetadata = Some(o.metadata))
      }, repPlan))
  }
}

object HybridMetaAgg {
  /** Test probe: did the plan take the hybrid serve (a stats LocalRelation
    * of per-file partial rows, alone or unioned with a straddler-only
    * scan)? Recognized by the partial relation's column naming. */
  def served(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case l: LocalRelation => l.output.exists(_.name.startsWith("_g_pc_"))
      case _ => false
    }
}
