package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression, GenericInternalRow, InterpretedMutableProjection, InterpretedProjection, InterpretedUnsafeProjection, JoinedRow, NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.graftbridge.{AggregateBridge, DatasetBridge}

import graft.store.TableStore

/** Small view snapshots served from rows held on the driver.
  *
  * A view rewrite that answers from a view's stored snapshot reads it
  * through [[read]]: when the snapshot passes the gate of
  * [[TableStore#heldSnapshot]] (the shared small-row-set memo,
  * [[TableStore.rowMemo]]), its rows come from the driver as a
  * `LocalRelation` tagged with the view store's root. [[fold]] then
  * evaluates the rewritten Filter/Project (Spark's own
  * `ConvertToLocalRelation`) and Aggregate nodes over those rows at plan
  * time, so the query plans to one `LocalRelation` and `collect()` runs no
  * Spark job. Only relations carrying [[RootTag]] fold — a user's VALUES
  * list never does — and the tag rides every folded result, so
  * [[AggViewRewrite.served]] still names the view that answered. */
private[catalog] object HeldViews {

  /** The view store root a held (or folded) relation answers from. */
  val RootTag = new TreeNodeTag[String]("graftHeldView")

  /** Snapshot `version` of view store `st` as a DataFrame over held rows
    * (fresh attribute ids per use: one plan may read a view twice), or
    * None when the snapshot is not held. */
  def read(st: TableStore, version: Long): Option[DataFrame] =
    st.heldSnapshot(version).map { rel =>
      DatasetBridge.ofRows(st.spark, tagged(rel.newInstance(), st.root))
    }

  private def tagged(l: LocalRelation, root: String): LocalRelation = {
    l.setTagValue(RootTag, root)
    l
  }

  /** `p` folded into one tagged `LocalRelation`, if every node of it is a
    * Project, Filter or Aggregate over a held relation; None otherwise
    * (the caller keeps its Spark plan). An expression that fails while
    * folding (an ANSI overflow, say) throws here exactly as the Spark
    * plan would at execution; a rule's decline leaves that plan to raise
    * it. */
  def fold(p: LogicalPlan): Option[LocalRelation] = p match {
    case l: LocalRelation => l.getTagValue(RootTag).map(_ => l)
    case _: Project | _: Filter => fold(p.children.head).flatMap { in =>
      ConvertToLocalRelation(p.withNewChildren(Seq(in))) match {
        case out: LocalRelation => Some(tagged(out, rootOf(in)))
        case _ => None // an unevaluable expression
      }
    }
    case a: Aggregate => fold(a.child).flatMap(in =>
      aggregate(a, in).map(tagged(_, rootOf(in))))
    case _ => None
  }

  private def rootOf(l: LocalRelation): String = l.getTagValue(RootTag).get

  /** `a` evaluated over `in` on the driver, with each function's own
    * initial, update and evaluate expressions in interpreted projections
    * (one complete-mode pass; grouping keys normalized as the physical
    * aggregate does). Declines on DISTINCT, a FILTER clause, a
    * non-declarative or non-deterministic function, or an unevaluable
    * expression. */
  private def aggregate(a: Aggregate, in: LocalRelation)
      : Option[LocalRelation] = a match {
    case PhysicalAggregation(groups, aggs, results, _)
        if a.expressions.forall(_.deterministic) &&
          aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
            ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]) &&
          !(groups ++ results)
            .exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
      val fns =
        aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
      val buf = fns.flatMap(_.aggBufferAttributes)
      val keys = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(
          groups.map(AggregateBridge.normalizeKey), in.output))
      val init =
        new InterpretedMutableProjection(fns.flatMap(_.initialValues))
      val update = new InterpretedMutableProjection(
        fns.flatMap(_.updateExpressions), buf ++ in.output)
      val eval = new InterpretedProjection(BindReferences.bindReferences(
        fns.map(_.evaluateExpression), buf))
      val result = new InterpretedProjection(BindReferences.bindReferences(
        results: Seq[Expression],
        groups.map(_.toAttribute) ++ aggs.map(_.resultAttribute)))
      Seq(keys, init, update, eval, result).foreach(_.initialize(0))
      val bufs = new java.util.LinkedHashMap[UnsafeRow, InternalRow]
      def fresh(): InternalRow = {
        val b = new GenericInternalRow(buf.size)
        init.target(b)(InternalRow.empty)
        b
      }
      val joined = new JoinedRow
      in.data.foreach { row =>
        val k = keys(row)
        var b = bufs.get(k)
        if (b == null) { b = fresh(); bufs.put(k.copy(), b) }
        update.target(b)(joined(b, row))
      }
      // a global aggregate answers one row even over no input
      if (groups.isEmpty && bufs.isEmpty)
        bufs.put(keys(InternalRow.empty).copy(), fresh())
      import scala.jdk.CollectionConverters._
      val out = bufs.asScala.toSeq.map { case (k, b) =>
        result(new JoinedRow(k, eval(b))).copy()
      }
      Some(LocalRelation(a.output, out))
    case _ => None
  }

  /** A rule's splice: `plan` under the names and exprIds of `outputs` (an
    * alias per column), folded to one relation when `plan` is Filter,
    * Project and Aggregate nodes over held rows. */
  def splice(outputs: Seq[Attribute], plan: LogicalPlan): LogicalPlan = {
    val p = Project(outputs.zip(plan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata)): NamedExpression
    }, plan)
    fold(p).getOrElse(p)
  }
}
