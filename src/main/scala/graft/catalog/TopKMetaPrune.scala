package graft.catalog

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{DataType, StringType}

/** The pushTopN bound walk over per-file stats, shared by the scan
  * builder's `pushTopN` and the logical top-k × decidable-WHERE
  * composition rule (r17, VERDICT r16 next #7). Entries are (path, rows,
  * stat-of-leading-sort-column); every entry's rows must all be CANDIDATE
  * rows — all-match under any WHERE in play (the callers' contract) —
  * because the walk counts them as top-n guarantees. Returns the kept
  * paths when the walk PROVES the global top-`limit` rows live in a
  * STRICT subset; None when nothing is provable or nothing is pruned. */
private[catalog] object TopKFileWalk {

  /** One candidate file: `rows`/`cs` from its stats; `allMatch` = every
    * row is a CANDIDATE row (all-match under the WHERE in play, or no
    * WHERE). A non-all-match entry (a straddler under a partially
    * decidable WHERE, r17) contributes NOTHING to the top-n guarantee —
    * its matching row count is unknown — but is still PRUNABLE by its
    * key bounds and still forces a keep when its rows could rank (nulls
    * under NULLS FIRST, unusable bounds, best ≤ t). */
  final case class Entry(path: String, rows: Long,
      cs: Option[graft.store.FileStats.ColStat], allMatch: Boolean = true)

  def keep(entries: Seq[(String, Long, Option[graft.store.FileStats.ColStat])],
      dt: DataType, desc: Boolean, nullsTop: Boolean, limit: Int)
      : Option[Seq[String]] =
    keepEntries(entries.map { case (p, r, cs) => Entry(p, r, cs) },
      dt, desc, nullsTop, limit)

  def keepEntries(entries: Seq[Entry], dt: DataType, desc: Boolean,
      nullsTop: Boolean, limit: Int): Option[Seq[String]] = {
    // key ordering oriented so SMALLER = closer to the top whatever the
    // direction: numerics through BigDecimal, strings bytewise
    val ord: Ordering[Any] = {
      val base: Ordering[Any] = dt match {
        case StringType => new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
              .compareTo(
                b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        }
        case _ => Ordering.by((v: Any) => v.asInstanceOf[BigDecimal])
      }
      if (desc) base.reverse else base
    }
    // (path, guarRows/guarNulls: counted toward the top-n guarantee —
    // zero for non-all-match entries; hasNulls/allNull: from the REAL
    // stat, for keep decisions; bestKey/worstKey: undefined = unusable
    // bounds, file always kept and contributing no guarantee)
    final case class FB(path: String, guarRows: Long, guarNulls: Long,
      hasNulls: Boolean, best: Option[Any], worst: Option[Any],
      allNull: Boolean)
    def fb(e: Entry): FB = e.cs match {
      case Some(c) =>
        def key(s: String): Any = dt match {
          case StringType =>
            graft.store.FileStats.parseBound(s, dt) // UTF8String
          case _ => BigDecimal(
            graft.store.FileStats.parseBound(s, dt).toString)
        }
        val gr = if (e.allMatch) e.rows else 0L
        val gn = if (e.allMatch) c.nulls else 0L
        (c.min.map(key), c.max.map(key)) match {
          case (Some(a), Some(b)) =>
            FB(e.path, gr, gn, c.nulls > 0,
              Some(ord.min(a, b)), Some(ord.max(a, b)), allNull = false)
          case _ => FB(e.path, gr, gn, c.nulls > 0, None, None,
            allNull = c.nulls == e.rows && e.rows > 0)
        }
      case None => FB(e.path, if (e.allMatch) e.rows else 0L, 0L,
        hasNulls = true, None, None, allNull = false)
    }
    val fbs = entries.map(fb)
    // rows guaranteed at-or-above the top: guaranteed nulls (when they
    // sort first) plus guaranteed non-null rows of files wholly ≤ t
    val nullGuarantee = if (nullsTop) fbs.map(_.guarNulls).sum else 0L
    var acc = nullGuarantee
    var t: Option[Any] = None
    if (acc < limit) {
      val it = fbs.filter(_.worst.isDefined).sortBy(_.worst.get)(ord).iterator
      while (t.isEmpty && it.hasNext) {
        val f = it.next()
        acc += f.guarRows - f.guarNulls
        if (acc >= limit) t = Some(f.worst.get)
      }
      if (t.isEmpty) return None // table can't guarantee n rows: no win
    }
    val kept = fbs.filter(f =>
      (nullsTop && f.hasNulls) ||
      // a provably ALL-NULL file matters only when nulls sort first
      (f.best.isEmpty && !(f.allNull && !nullsTop)) ||
      f.best.exists(b => t.exists(ord.lteq(b, _)))).map(_.path)
    if (kept.size >= fbs.size) None // nothing pruned
    else Some(kept)
  }
}

/** Top-k × decidable-WHERE composition (r17, VERDICT r16 next #7):
  * `SELECT … WHERE E(col) = lit ORDER BY k LIMIT n` on a period-chunked
  * layout should plan the ONE chunk that can hold the top rows — but the
  * WHERE is an expression V1 filter pushdown cannot carry, so a residual
  * Filter sits between the Sort and the scan and Spark never calls the
  * builder's `pushTopN`. This rule closes the gap at the logical layer:
  * when EVERY file is decidable under the Filter (all-match or no-match —
  * the same per-file `mightMatch`/`mustMatch` verdicts the exact filter
  * pushdown uses, periodic chains included via
  * [[graft.store.ExprBounds]]), the Filter is row-redundant over the kept
  * subset, so the rule
  *
  *  1. runs the [[TopKFileWalk]] over the kept files' leading-sort-key
  *     bounds (exactly the builder's pushTopN walk),
  *  2. re-plans the scan to the walked subset through the same replan
  *     hook the runtime-filter path uses, and
  *  3. REMOVES the Filter node (sound: every surviving row provably
  *     matches), leaving `Limit(Sort(scan))` for Spark's TakeOrdered.
  *
  * Declines (plan untouched, ordinary scan): masked snapshots, a
  * non-attribute leading sort key, a partition-column sort key, files
  * above the exact cap, any undecidable file, bucket-key equality
  * conjuncts (hash-bucketed bounds never all-match — the bucket-pruned
  * path serves those), or a walk that prunes nothing. Sharded tiers run
  * the decidability sweep as the ONE distributed `exactMatchMeta` job.
  * Kill switch: `spark.graft.topk.metadata=false`. */
class TopKMetaPruneRule
    extends ServeRule("spark.graft.topk.metadata", "topk metadata prune") {

  protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
    case l @ Limit(le @ IntegerLiteral(n),
        sort @ Sort(orders, true, child, _)) if n > 0 && orders.nonEmpty =>
      rewrite(n, orders, child) match {
        case Some(newChild) =>
          GlobalLimit(le, LocalLimit(le, sort.copy(child = newChild)))
        case None => l
      }
  }

  /** The Filter-dropped child when the composition applies. */
  private def rewrite(n: Int, orders: Seq[SortOrder], child: LogicalPlan)
      : Option[LogicalPlan] = {
    // peel an optional pure-column Project between Sort and Filter (the
    // usual shape: the WHERE column is pruned away above the Filter)
    val (rebuildChild, cond, rel)
        : (LogicalPlan => LogicalPlan, Expression, DataSourceV2ScanRelation) =
      child match {
        case f @ Filter(c, r: DataSourceV2ScanRelation) =>
          (nc => nc, c, r)
        case p @ Project(pl, f @ Filter(c, r: DataSourceV2ScanRelation))
            if pl.forall(_.isInstanceOf[AttributeReference]) =>
          (nc => p.copy(child = nc), c, r)
        case _ => return None
      }
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    val m = table.graftManifest
    if (m.hasDeletes) return None
    // leading sort key: a bare live column of an exactly-ordered (or
    // string) type, not a partition column — pushTopN's own gates
    val sortAttr = orders.head.child match {
      case ar: AttributeReference => ar
      case _ => return None
    }
    val colName = rel.output.find(_.exprId == sortAttr.exprId)
      .map(_.name).getOrElse(return None)
    if (m.partitionBy.contains(colName)) return None
    val dt = m.schema.fields.find(_.name == colName)
      .map(_.dataType).getOrElse(return None)
    if (!graft.store.FileStats.minMaxExact(dt) && dt != StringType)
      return None
    val desc = orders.head.direction == Descending
    val nullsTop = orders.head.nullOrdering == NullsFirst
    // anchor the condition's attributes by NAME against the base schema
    // (the verdicts key on names); any non-relation reference declines
    val conjuncts = splitAnd(cond).map { c =>
      var ok = true
      val t = c.transformUp {
        case ar: AttributeReference =>
          rel.output.find(_.exprId == ar.exprId) match {
            case Some(o) if m.schema.fieldNames.contains(o.name) =>
              AttributeReference(o.name, m.schema(o.name).dataType,
                m.schema(o.name).nullable)()
            case _ => ok = false; ar
          }
      }
      if (!ok || t.exists(_.isInstanceOf[PlanExpression[_]])) return None
      t
    }
    // per-file verdicts → the might-match candidates with the sort
    // column's stats: all-match files carry their row counts into the
    // walk's top-n guarantee; STRADDLERS (might but not must) contribute
    // no guarantee yet stay prunable by bounds (r17 extension — a
    // day-chunked layout's month-boundary files must not void the whole
    // composition). The Filter survives whenever a straddler is kept.
    val entries: Seq[TopKFileWalk.Entry] =
      if (!m.isSharded) {
        if (!m.inlineFiles.forall(m.inlineStats.contains)) return None
        val out = Seq.newBuilder[TopKFileWalk.Entry]
        m.inlineFiles.foreach { f =>
          val st = m.usableStat(m.inlineStats(f))
          if (graft.store.FileStats.mightMatch(st, m.schema, conjuncts))
            out += TopKFileWalk.Entry(f, st.rows, st.cols.get(colName),
              allMatch = graft.store.FileStats.mustMatch(st, m.schema,
                conjuncts))
        }
        out.result()
      } else {
        if (m.nFiles > graft.store.TableStore.ExactMaxFiles) return None
        if (graft.store.TableStore.keyEqualityBuckets(conjuncts, m)
            .nonEmpty) return None
        store.exactMatchMeta(m, conjuncts) match {
          case scala.Right(metas) =>
            metas.map { case (p, r, cols) =>
              TopKFileWalk.Entry(p, r, cols.get(colName)) }
          case _ =>
            // straddlers present: the exact sweep declines, so pull every
            // file's stats through the memoized unfiltered sweep (the
            // pushTopN fallback's bound: ≤ ExactMaxFiles driver residue) and
            // classify might/must per file here — straddlers enter the
            // walk with their real bounds but ZERO guarantee
            val (all, unknown) = store.hybridMatchMeta(m, Nil)
            if (unknown.nonEmpty) return None
            all.flatMap { case (p, r, cols) =>
              val st = graft.store.FileStats.FileStat(0L, 0L, r, cols)
              if (!graft.store.FileStats.mightMatch(st, m.schema, conjuncts))
                None
              else Some(TopKFileWalk.Entry(p, r, cols.get(colName),
                allMatch = graft.store.FileStats.mustMatch(st, m.schema,
                  conjuncts)))
            }
        }
      }
    val kept = TopKFileWalk.keepEntries(entries, dt, desc, nullsTop, n)
      .getOrElse(return None)
    val keptSet = kept.toSet
    val allMatchPaths = entries.filter(_.allMatch).map(_.path).toSet
    val dropFilter = keptSet.forall(allMatchPaths)
    // re-plan the scan to exactly the walked subset (the runtime-filter
    // replan machinery, file-list-targeted); drop the Filter ONLY when
    // every kept file is provably all-match (else it stays, row-exact,
    // over the pruned scan)
    rel.scan match {
      case rp: RuntimePrunableScan if rp.pruneToFiles(kept) =>
        logInfo(s"top-$n under a decidable WHERE planned ${kept.size} of " +
          s"${entries.size} candidate files over ${store.root} " +
          s"(filter ${if (dropFilter) "dropped" else "kept"})")
        // the scan object mutated in place; with the Filter kept the
        // logical child is returned unchanged (row-exact above the
        // pruned scan)
        Some(if (dropFilter) rebuildChild(rel) else child)
      case _ => None
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }
}
