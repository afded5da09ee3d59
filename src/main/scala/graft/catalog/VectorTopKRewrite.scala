package graft.catalog

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, Descending, Expression, ExprId, Literal, NullsFirst, NullsLast, PlanExpression, Round, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

import graft.functions.CosineSim
import graft.store.{AnnIndex, TableStore}

/** Transparent VECTOR TOP-K rewrite (VERDICT r12 next #3) — the vector-DB
  * analog of [[AggViewRewriteRule]]: a plain-SQL nearest-neighbor query
  *
  * {{{
  *   SELECT vec_id, round(graft_cosine(embedding, CAST(ARRAY(…) AS
  *     ARRAY<FLOAT>)), 6) AS cos_sim
  *   FROM cat.ns.t
  *   ORDER BY cos_sim DESC, vec_id ASC LIMIT k
  * }}}
  *
  * over a graft base table is served from a FRESH persisted
  * [[graft.store.AnnIndex]] when one covers the scanned snapshot — the
  * query text does not change, the plan swaps from an O(corpus) brute
  * scan of the (wide) base table to the index's cell-bucketed (keys, vec)
  * read: with `spark.graft.ann.sql.nProbe` probing p of C cells, a point
  * query touches ~p/C of the corpus, read from the narrow index.
  *
  * Soundness gates (all must hold, else the plan is untouched):
  *  - the scan is a DSv2 graft snapshot scan (main store, no pushed
  *    aggregate), with nothing but column-pruning Projects and Filters
  *    over the INDEX KEY COLUMNS between the Sort and the scan — key
  *    columns ride every index row verbatim, so such predicates apply to
  *    the index-served rows exactly (VERDICT r13 next #1, the common
  *    filtered vector query); any predicate touching a non-key column
  *    declines (index rows can't re-apply it), as does a WHERE consumed
  *    by exact file-decidable pushdown (invisible to this rule —
  *    [[ExactPushedScans]]);
  *  - the primary sort key is exactly `round(graft_cosine(vecCol,
  *    <foldable query vector>), 6) DESC [NULLS LAST]` — the index serves
  *    6-dp-rounded scores, so an unrounded ORDER BY declines rather than
  *    changes results;
  *  - secondary sort keys, if present, are the index key columns ASC in
  *    order (tie-break identical to the index serve); none is also fine
  *    (ties then resolve deterministically, a legal instance of the
  *    query's partial order);
  *  - the index watermark equals the scanned snapshot version (STALE
  *    INDEX DECLINES — freshness-gated exactly like the agg-view rule)
  *    and its vector column matches.
  *
  * By default the rewrite probes EVERY cell (`spark.graft.ann.sql.nProbe`
  * unset/0): an exhaustive search over the compact index — bit-identical
  * to the brute-force scan (the index stores original vectors and scores
  * through the same kernel), so the rewrite is EXACT unless the user
  * explicitly trades recall for speed by lowering nProbe. Kill switch:
  * `spark.graft.ann.rewrite=false`.
  *
  * Over an index held on the driver ([[graft.store.AnnIndex.topk]]) the
  * search runs while this rule rewrites, at optimization: the splice is
  * the folded answer, so `explain()`, or a plan that never executes,
  * pays for the search (and, on a memo miss, the Spark job that reads
  * the index version into the memo). */
class VectorTopKRewriteRule
    extends ServeRule("spark.graft.ann.rewrite", "vector top-k rewrite") {

  protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
    case gl @ GlobalLimit(Literal(k: Int, IntegerType),
        LocalLimit(_, Sort(orders, true, child, _))) if k > 0 =>
      rewrite(k, orders, child).getOrElse(gl)
    // the JOIN-SHAPED BATCH query (r17, VERDICT r16 next #5): per-query
    // rank window over queries × corpus
    case f @ Filter(cond,
        w: org.apache.spark.sql.catalyst.plans.logical.Window) =>
      rewriteBatch(cond, w, f).getOrElse(f)
  }

  /** SQL-TRANSPARENT BATCH vector top-k (r17, VERDICT r16 next #5): the
    * join-shaped batch query — a query-vector COLUMN instead of a literal,
    *
    * {{{
    *   WITH scored AS (
    *     SELECT q.q_id, t.vec_id,
    *       round(graft_cosine(t.embedding, q.qv), 6) AS cos_sim
    *     FROM queries q CROSS JOIN cat.ns.t t)
    *   SELECT … FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
    *     ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM scored)
    *   WHERE rank <= k
    * }}}
    *
    * — served from the fresh ANN index by splicing
    * [[graft.store.AnnIndex.topkBatch]]'s plan: the brute O(batch × corpus)
    * scored cross join becomes the bucket-targeted probe of the batch's
    * cells. Gates mirror the single-query rewrite (fresh index over the
    * scanned snapshot, rounded-cosine DESC leading key, index-key ASC
    * tie-breaks, no predicate between the window and the join, exhaustive
    * probe by default so the serve is EXACT); additionally the window must
    * be a lone `row_number` partitioned by ONE query-side column, the join
    * conditionless (the batch shape), any WHERE between the window and
    * the join must reference ONLY corpus-side index key columns (it then
    * rides [[graft.store.AnnIndex.topkBatch]]'s exact `keyFilter` with
    * the per-query widening guaranteeing k-fill), the batch side must be
    * null-vector-free (one bounded plan-time check — a null query vector
    * would brute-rank null scores where the probe has nothing to probe),
    * and every output column must map to the partition id, an index key,
    * the rounded cosine, or the rank — any other query-side column in
    * the output declines (the serve cannot re-join it without
    * duplicating the query subplan). */
  private def rewriteBatch(cond: Expression,
      w: org.apache.spark.sql.catalyst.plans.logical.Window,
      f: Filter): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{LessThan, LessThanOrEqual, RowNumber, WindowExpression}
    // rank predicate: rank <= k (or rank < k+1) over the window's lone
    // row_number output
    val (rankAttr, k) = cond match {
      case LessThanOrEqual(ar: AttributeReference, Literal(n: Int, IntegerType)) =>
        (ar, n)
      case LessThan(ar: AttributeReference, Literal(n: Int, IntegerType)) =>
        (ar, n - 1)
      case _ => return None
    }
    if (k <= 0) return None
    val rankOk = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) =>
        a.exprId == rankAttr.exprId
      case _ => false
    }
    if (!rankOk) return None
    val qidAttr = w.partitionSpec match {
      case Seq(ar: AttributeReference) => ar
      case _ => return None
    }
    // peel alias Projects (and deterministic subquery-free Filters — the
    // batch analog of the r13 filtered vector query; collected conditions
    // must later reference ONLY corpus-side index key columns) below the
    // window down to a conditionless inner/cross join of (query side,
    // corpus scan)
    val subst = scala.collection.mutable.Map.empty[ExprId, Expression]
    val rawConds = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var cur = w.child
    var peeling = true
    while (peeling) cur match {
      case Project(list, c) =>
        list.foreach {
          case a: Alias =>
            subst(a.exprId) = a.child.transformUp {
              case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
            }
          case _ => ()
        }
        cur = c
      case Filter(c, ch) if c.deterministic &&
          c.find(e => e.isInstanceOf[PlanExpression[_]] ||
            e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .aggregate.AggregateExpression]).isEmpty =>
        rawConds += c
        cur = ch
      // InferWindowGroupLimit's partial limiter is semantics-preserving
      // (it only drops rows that provably can't reach rank ≤ k) — the
      // spliced probe computes the same top-k, so peel through it
      case wgl: org.apache.spark.sql.catalyst.plans.logical
          .WindowGroupLimit =>
        cur = wgl.child
      case _ => peeling = false
    }
    // the corpus side may carry Filters the optimizer pushed below the
    // join (a corpus-only key predicate always lands there) — peel them
    // into the same condition pool
    def scanSide(x: LogicalPlan)
        : Option[(DataSourceV2ScanRelation, Seq[Expression])] = x match {
      case s: DataSourceV2ScanRelation => Some((s, Nil))
      case Filter(c, s: DataSourceV2ScanRelation)
          if c.deterministic &&
            c.find(e => e.isInstanceOf[PlanExpression[_]] ||
              e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression]).isEmpty =>
        Some((s, Seq(c)))
      case _ => None
    }
    val (querySide, rel) = cur match {
      case org.apache.spark.sql.catalyst.plans.logical.Join(l, r,
          org.apache.spark.sql.catalyst.plans.Cross |
          org.apache.spark.sql.catalyst.plans.Inner, None, _) =>
        (scanSide(r), scanSide(l)) match {
          case (Some((s, cs)), _) => rawConds ++= cs; (l, s)
          case (_, Some((s, cs))) => rawConds ++= cs; (r, s)
          case _ => return None
        }
      case _ => return None
    }
    if (ExactPushedScans.contains(rel.scan)) return None
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    if (store.branch.nonEmpty) return None
    val m = table.graftManifest
    val baseCols = m.schema.fieldNames.toSet
    if (!rel.scan.readSchema().fieldNames.forall(baseCols)) return None
    if (!querySide.outputSet.contains(qidAttr)) return None
    def expand(e: Expression): Expression = {
      var cur = e
      var rounds = 0
      var changed = true
      while (changed && rounds < 10) {
        val next = cur.transformUp {
          case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
        }
        changed = !next.fastEquals(cur)
        cur = next
        rounds += 1
      }
      cur
    }
    val orders = w.orderSpec
    if (orders.isEmpty) return None
    // leading key: round(graft_cosine(corpus vec, query-side vec col), 6)
    // DESC — the vector now a COLUMN of the query side, not a literal
    val (vecAttr: AttributeReference, qVecAttr: AttributeReference) =
      expand(orders.head.child) match {
        case Round(CosineSim(v: AttributeReference, q: AttributeReference),
            Literal(6, _), _)
            if orders.head.direction == Descending &&
              orders.head.nullOrdering == NullsLast &&
              rel.output.exists(_.exprId == v.exprId) &&
              querySide.outputSet.exists(_.exprId == q.exprId) => (v, q)
        case _ => return None
      }
    val (name, indexV) = AnnIndex
      .freshIndexFor(store, vecAttr.name, m.version).getOrElse(return None)
    val idCols = AnnIndex.idColsFor(store, name, indexV)
    if (idCols.contains("_gq_id") || idCols.contains("_gq_vec"))
      return None
    // peeled WHERE conditions serve from the index iff they reference
    // ONLY corpus-side index key columns (which ride every index row
    // verbatim — the predicate applies exactly, BEFORE the per-query
    // rank, matching the brute plan's Filter-below-Window placement);
    // anything else — a query-side reference included — declines
    val idColSet = idCols.toSet
    val keyFilter: Option[org.apache.spark.sql.Column] =
      if (rawConds.isEmpty) None
      else {
        val expanded = rawConds.map(expand)
        if (!expanded.forall(_.references.forall(r =>
            rel.output.exists(_.exprId == r.exprId) &&
              idColSet.contains(r.name)))) return None
        Some(ColumnBridge.column(expanded.reduce(
          org.apache.spark.sql.catalyst.expressions.And).transformUp {
            case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
          }))
      }
    val tail = orders.tail.map { o =>
      expand(o.child) match {
        case ar: AttributeReference
            if o.direction == Ascending && o.nullOrdering == NullsFirst &&
              rel.output.exists(_.exprId == ar.exprId) => ar.name
        case _ => return None
      }
    }
    if (tail != idCols.take(tail.length)) return None
    val nProbe = conf.getConfString("spark.graft.ann.sql.nProbe", "0").toInt
    val qDf = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(
      store.spark, Project(Seq(
        Alias(qidAttr, "_gq_id")(), Alias(qVecAttr, "_gq_vec")()),
        querySide))
    // a NULL query vector scores null against every corpus row, and the
    // brute rank window still NUMBERS those rows (row_number over a
    // nulls-last order emits k arbitrary-keyed rows with null cos) — the
    // probe has no cells to probe for it, so the outputs would diverge.
    // One bounded plan-time pass over the batch side declines the splice
    // when any null vector exists (the scan then answers, nulls and all).
    if (qVecAttr.nullable &&
      qDf.filter(col("_gq_vec").isNull).limit(1).count() > 0) return None
    val rep = AnnIndex.topkBatch(store, name, qDf, "_gq_id", "_gq_vec",
      k, nProbe = nProbe, indexVersion = indexV, keyFilter = keyFilter,
      widenToFill = true)
    // align every output column of the matched Filter: the partition id,
    // an index key, the rounded cosine, or the rank — else decline
    val sortKey = expand(orders.head.child)
    val aligned = f.output.map { o =>
      if (o.exprId == rankAttr.exprId) col("rank").as(o.name)
      else {
        val oe = expand(subst.getOrElse(o.exprId, o))
        if (sortKey.semanticEquals(oe)) col("cos_sim").as(o.name)
        else oe match {
          case ar: AttributeReference if ar.exprId == qidAttr.exprId =>
            col("_gq_id").as(o.name)
          case ar: AttributeReference
              if rel.output.exists(_.exprId == ar.exprId) &&
                idCols.contains(ar.name) => col(ar.name).as(o.name)
          case _ => return None
        }
      }
    }
    val repPlan = rep.select(aligned: _*).queryExecution.optimizedPlan
    if (repPlan.output.size != f.output.size ||
      repPlan.output.zip(f.output).exists {
        case (n, o) => n.dataType != o.dataType
      }) return None
    logInfo(s"rewrote BATCH vector top-$k over ${store.root} to ANN " +
      s"index '$name' (nProbe=${if (nProbe <= 0) "all" else nProbe.toString})")
    Some(Project(f.output.zip(repPlan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata))
    }, repPlan))
  }

  private def rewrite(k: Int, orders: Seq[SortOrder],
      child: LogicalPlan): Option[LogicalPlan] = {
    // peel column-pruning/aliasing Projects AND deterministic subquery-
    // free Filters down to the scan (VERDICT r13 next #1: the common
    // `WHERE <key pred> ORDER BY cos_sim LIMIT k` shape); the collected
    // conditions must later reference ONLY index key columns — anything
    // else (Join, a non-key predicate, …) declines
    val subst = scala.collection.mutable.Map.empty[ExprId, Expression]
    val rawConds = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var cur = child
    var peeling = true
    while (peeling) cur match {
      case Project(list, c) =>
        list.foreach {
          case a: Alias =>
            subst(a.exprId) = a.child.transformUp {
              case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
            }
          case _ => ()
        }
        cur = c
      case Filter(c, ch) if c.deterministic &&
          c.find(e => e.isInstanceOf[PlanExpression[_]] ||
            e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .aggregate.AggregateExpression]).isEmpty =>
        rawConds += c
        cur = ch
      case _ => peeling = false
    }
    val rel = cur match {
      case r: DataSourceV2ScanRelation => r
      case _ => return None
    }
    // a WHERE folded into the scan's file subset by exact pushdown (no
    // residual Filter node) means the scan is NOT the full corpus — the
    // index would serve unfiltered top-k (r13 advisor, wrong-results)
    if (ExactPushedScans.contains(rel.scan)) return None
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    if (store.branch.nonEmpty) return None
    val m = table.graftManifest
    val baseCols = m.schema.fieldNames.toSet
    if (!rel.scan.readSchema().fieldNames.forall(baseCols)) return None

    // fixpoint, not one pass: aliases are recorded top-down while peeling,
    // so an OUTER Project's alias can reference an inner alias not yet in
    // the map — a single transformUp would stop at the intermediate
    // attribute and silently miss the serve for subquery-shaped plans
    def expand(e: Expression): Expression = {
      var cur = e
      var rounds = 0
      var changed = true
      while (changed && rounds < 10) {
        val next = cur.transformUp {
          case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
        }
        changed = !next.fastEquals(cur)
        cur = next
        rounds += 1
      }
      cur
    }
    if (orders.isEmpty) return None
    // primary key: round(graft_cosine(vec, queryLit), 6) DESC
    val (vecAttr: AttributeReference, qLit: Expression) =
      expand(orders.head.child) match {
        case Round(CosineSim(v: AttributeReference, q), Literal(6, _), _)
            if orders.head.direction == Descending &&
              orders.head.nullOrdering == NullsLast && q.foldable &&
              rel.output.exists(_.exprId == v.exprId) => (v, q)
        case _ => return None
      }
    // the returned index VERSION pins the validated snapshot: the serve
    // below reads exactly it, so a cadence refresh racing between this
    // gate and the read cannot slide the plan onto rows the scanned base
    // snapshot does not have
    val (name, indexV) = AnnIndex
      .freshIndexFor(store, vecAttr.name, m.version).getOrElse(return None)
    val idCols = AnnIndex.idColsFor(store, name, indexV)
    // peeled WHERE conditions serve from the index iff they reference
    // ONLY the index key columns (which ride every index row verbatim —
    // the predicate applies exactly); any other reference declines. The
    // expression is re-anchored by NAME onto the index frame.
    val idColSet = idCols.toSet
    val keyFilter: Option[org.apache.spark.sql.Column] =
      if (rawConds.isEmpty) None
      else {
        val expanded = rawConds.map(expand)
        if (!expanded.forall(_.references.forall(r =>
            rel.output.exists(_.exprId == r.exprId) &&
              idColSet.contains(r.name)))) return None
        Some(ColumnBridge.column(expanded.reduce(
          org.apache.spark.sql.catalyst.expressions.And).transformUp {
            case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
          }))
      }
    // secondary keys (optional): the index key columns, ASC, in order
    val tail = orders.tail.map { o =>
      expand(o.child) match {
        case ar: AttributeReference
            if o.direction == Ascending && o.nullOrdering == NullsFirst &&
              rel.output.exists(_.exprId == ar.exprId) => ar.name
        case _ => return None
      }
    }
    if (tail != idCols.take(tail.length)) return None

    val qVec = qLit.eval() match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        ad.toFloatArray()
      case _ => return None
    }
    val nProbe = conf.getConfString("spark.graft.ann.sql.nProbe", "0").toInt
    // widenToFill (r15): at explicit nProbe a selective key predicate can
    // under-fill k — the serve doubles the probe set (bounded counts over
    // the bucket-targeted pool, ≤ log2(cells) rounds) until k survivors
    // or the probe is exhaustive, instead of returning < k rows
    val rep = AnnIndex.topk(store, name, qVec, k, nProbe = nProbe,
      indexVersion = indexV, keyFilter = keyFilter, widenToFill = true)
    // align the serve to the query's output: index key columns pass
    // through by name; the cosine output must BE the primary sort
    // expression (semantically) — anything else declines
    val sortKey = expand(orders.head.child)
    val aligned = child.output.map { o =>
      val oe = subst.getOrElse(o.exprId, o)
      if (sortKey.semanticEquals(oe)) col("cos_sim").as(o.name)
      else oe match {
        case ar: AttributeReference if idCols.contains(ar.name) =>
          col(ar.name).as(o.name)
        case _ => return None
      }
    }
    // a search over held index rows splices the analyzed plan, for the
    // splice to fold it: Spark's nested optimizer would fold the Project
    // into an untagged relation
    val aln = rep.select(aligned: _*).queryExecution
    val repPlan =
      if (rep.queryExecution.analyzed.getTagValue(HeldViews.RootTag).isDefined)
        aln.analyzed
      else aln.optimizedPlan
    if (repPlan.output.size != child.output.size ||
      repPlan.output.zip(child.output).exists {
        case (n, o) => n.dataType != o.dataType
      }) return None
    logInfo(s"rewrote vector top-$k over ${store.root} to ANN index '$name'" +
      s" (nProbe=${if (nProbe <= 0) "all" else nProbe.toString})")
    Some(HeldViews.splice(child.output, repPlan))
  }
}

object VectorTopKRewrite {
  /** Did this DataFrame's plan serve from a persisted ANN index? */
  def served(df: org.apache.spark.sql.DataFrame): Boolean =
    AggViewRewrite.served(df, "/index/")
}
