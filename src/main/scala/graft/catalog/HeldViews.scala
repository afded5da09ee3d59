package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression, GenericInternalRow, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedProjection, InterpretedUnsafeProjection, JoinedRow, NamedExpression, Predicate, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.graftbridge.{AggregateBridge, DatasetBridge}

import graft.store.TableStore

/** Small view and ANN index snapshots served from rows held on the
  * driver.
  *
  * A view rewrite that answers from a view's stored snapshot reads it
  * through [[read]], an ANN top-k search ([[graft.store.AnnIndex.topk]])
  * its index snapshot through [[relation]]: when the snapshot passes the
  * gate of [[graft.store.HeldRows.snapshot]] (held rows, kind `view` or
  * `index`), its rows come from the driver as a
  * `LocalRelation` tagged with the store's root. [[fold]] then evaluates
  * the Project, Filter, Aggregate, Sort and Limit nodes over those rows at
  * plan time, so the query plans to one `LocalRelation` and `collect()`
  * runs no Spark job. Only relations carrying [[RootTag]] fold
  * — a user's VALUES list never does — and the tag rides every folded
  * result, so [[AggViewRewrite.served]] still names the view or index that
  * answered. */
private[graft] object HeldViews {

  /** The view or index store root a held (or folded) relation answers
    * from. */
  val RootTag = new TreeNodeTag[String]("graftHeldView")

  /** Snapshot `version` of view store `st` as a DataFrame over held rows
    * (fresh attribute ids per use: one plan may read a view twice), or
    * None when the snapshot is not held. */
  def read(st: TableStore, version: Long): Option[DataFrame] =
    relation(st, version, "view").map(DatasetBridge.ofRows(st.spark, _))

  /** Snapshot `version` of store `st` as a tagged relation over held rows
    * of memo kind `kind`, for a caller that builds its plan over it. */
  def relation(st: TableStore, version: Long,
      kind: String): Option[LocalRelation] =
    graft.store.HeldRows.snapshot(st, version, kind).map(rel =>
      tagged(rel.newInstance(), st.root))

  private def tagged(l: LocalRelation, root: String): LocalRelation = {
    l.setTagValue(RootTag, root)
    l
  }

  /** `p` folded into one tagged `LocalRelation`, if every node of it is a
    * Project, Filter, Aggregate, Sort or Limit over a held relation; None
    * otherwise (the caller keeps its Spark plan). Every node evaluates
    * interpreted, as Spark's `ConvertToLocalRelation` evaluates a Project
    * (a generated Filter class would be compiled anew for each distinct
    * literal, which costs more than filtering a held set): a Filter with
    * Spark's interpreted predicate, a Sort with its interpreted ordering
    * over the same `SortOrder`s, stably, and a sorted LIMIT as a bounded
    * top-n; a Limit keeps the first rows. An expression that fails while
    * folding (an ANSI overflow, say) throws here exactly as the Spark plan
    * would at execution; a rule's decline leaves that plan to raise it. */
  def fold(p: LogicalPlan): Option[LocalRelation] = p match {
    case l: LocalRelation => l.getTagValue(RootTag).map(_ => l)
    case _: Project => fold(p.children.head).flatMap { in =>
      ConvertToLocalRelation(p.withNewChildren(Seq(in))) match {
        case out: LocalRelation => Some(tagged(out, rootOf(in)))
        case _ => None // an unevaluable expression
      }
    }
    case f: Filter
        if !ConvertToLocalRelation.hasUnevaluableExpr(f.condition) =>
      fold(f.child).map { in =>
        val keep = Predicate.createInterpreted(
          BindReferences.bindReference(f.condition, in.output))
        keep.initialize(0)
        tagged(in.copy(data = in.data.filter(keep.eval)), rootOf(in))
      }
    case a: Aggregate => fold(a.child).flatMap(in =>
      aggregate(a, in).map(tagged(_, rootOf(in))))
    case s: Sort if sortable(s) => ordered(s, Int.MaxValue)
    case GlobalLimit(IntegerLiteral(n), LocalLimit(IntegerLiteral(m), s: Sort))
        if n <= m && sortable(s) => ordered(s, n)
    case GlobalLimit(IntegerLiteral(n), c) => limit(n, c)
    case LocalLimit(IntegerLiteral(n), c) => limit(n, c)
    case _ => None
  }

  private def limit(n: Int, child: LogicalPlan): Option[LocalRelation] =
    fold(child).map(in => tagged(in.copy(data = in.data.take(n)), rootOf(in)))

  private def sortable(s: Sort): Boolean = s.order.forall(o =>
    o.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(o.child))

  /** The first `n` rows of `s` folded: a stable sort when `n` covers the
    * input, else one pass through a bounded heap of `n` rows (a sorted
    * LIMIT keeps `n` rows, not the whole input, as Spark's TakeOrdered
    * does), ties kept in input order. */
  private def ordered(s: Sort, n: Int): Option[LocalRelation] =
    fold(s.child).map { in =>
      val ord = new InterpretedOrdering(s.order, in.output)
      val rows =
        if (n >= in.data.size) in.data.sorted(ord)
        else if (n <= 0) Nil
        else {
          val byPos = new Ordering[(InternalRow, Int)] {
            def compare(a: (InternalRow, Int), b: (InternalRow, Int)): Int = {
              val c = ord.compare(a._1, b._1)
              if (c != 0) c else Integer.compare(a._2, b._2)
            }
          }
          // a max-heap of the n least rows seen so far
          val heap = scala.collection.mutable.PriorityQueue.empty(byPos)
          in.data.iterator.zipWithIndex.foreach { r =>
            if (heap.size < n) heap.enqueue(r)
            else if (byPos.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
          }
          heap.toSeq.sorted(byPos).map(_._1)
        }
      tagged(in.copy(data = rows), rootOf(in))
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
