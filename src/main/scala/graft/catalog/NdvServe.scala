package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.LongType

/** `approx_count_distinct` served from the analyze NDV sidecar (r16,
  * VERDICT r15 next #2): [[graft.store.TableStore.analyze]] already
  * maintains one global HLL sketch per column incrementally — the
  * sketch's whole reason to exist is answering the cardinality dashboard,
  * yet plain SQL `approx_count_distinct(col)` full-scanned. This rule
  * serves the estimate with ZERO data-file I/O, the Trino/Iceberg-stats
  * precedent: an approximate aggregate answered from approximate
  * statistics of the SAME family (both sides are HLL; the sidecar is
  * datasketches, exact below its set-mode threshold and within ~1.6%
  * rsd at the default lgK=12 above it).
  *
  * Soundness gates (all must hold, else the plan is untouched):
  *  - UNFILTERED, ungrouped aggregate whose every aggregate function is
  *    a non-DISTINCT, FILTER-free `approx_count_distinct(col, rsd)` over
  *    a bare column, a `COUNT(*)`, or a `COUNT(col)` over a bare live
  *    column (the mixed cardinality dashboard — the row total and the
  *    per-column non-null totals are exact from manifest metadata on
  *    both tiers, summed in the same pass that checks coverage); at
  *    least one HLL must be present, and any other aggregate declines
  *    (those serves belong to pushAggregation/HybridMetaAgg);
  *  - the requested rsd is NO TIGHTER than the sketch's own
  *    (1.04 / √2^lgK, read off the deserialized sketch itself) — a user
  *    who asked for better accuracy than the sidecar carries gets the
  *    scan they asked for;
  *  - the sidecar COVERS the scanned snapshot exactly: every live
  *    non-empty file carries the sidecar's generation marker and the
  *    marked count equals the sidecar's file count (files added since
  *    analyze are unmarked → decline; compaction rewrites change the
  *    count → decline) — the same coverage contract the analyze
  *    incremental merge enforces, checked here per query;
  *  - no delete vectors / equality masks (sketches describe RAW rows),
  *    no branch, no time travel (the sidecar reflects ONE snapshot).
  *
  * The serve is approximate-for-approximate: the result can differ from
  * Spark's own HLL++ estimate (different sketch family) but carries the
  * same accuracy contract the query's rsd declared. Kill switch:
  * `spark.graft.agg.metadata.ndv=false`. */
class NdvServeRule
    extends ServeRule("spark.graft.agg.metadata.ndv", "NDV metadata serve") {

  protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return rewriteGrouped(agg)
    val (rel, residual, _) =
      AggViewRewrite.peelScan(agg.child) match {
        case Some(x) => x
        case None => return None
      }
    // strictly unfiltered: no residual predicate, no exact-pushed WHERE
    // (the sketch is global — any row pruning invalidates it)
    if (residual.nonEmpty) return None
    if (ExactPushedScans.contains(rel.scan)) return None
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    if (store.branch.nonEmpty) return None
    val m = table.graftManifest
    if (m.hasDeletes) return None
    if (m.version != store.currentVersion()) return None // time travel
    val baseCols = m.schema.fieldNames.toSet

    // every aggregate: approx_count_distinct over a bare live column,
    // COUNT(*) (r16: the row total is exact from manifest metadata on
    // both tiers), or COUNT(col) over a bare live column (r17, VERDICT
    // r16 next #2: the cardinality dashboard's most natural companion
    // line — exact Σ(rows − nulls) from the same manifest pass that
    // checks coverage); at least one HLL must be present (a pure-count
    // aggregate belongs to pushAggregation, which serves more shapes).
    // COUNT(NULL) — a null literal counts non-null evaluations, i.e. 0 —
    // declines to the scan rather than being mistaken for COUNT(*)
    // (ADVICE r16).
    val aggExprs = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression
          if !aggExprs.exists(_.semanticEquals(ae)) => aggExprs += ae
      case _ => ()
    })
    if (aggExprs.isEmpty) return None
    val liveCol: PartialFunction[Expression, String] = {
      case ar: AttributeReference
          if baseCols.contains(ar.name) &&
            !m.droppedCols.contains(ar.name) => ar.name
    }
    val targets: Seq[Tgt] = aggExprs.toSeq.map { ae =>
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case hll: HyperLogLogPlusPlus => hll.child match {
          case c if liveCol.isDefinedAt(c) => Hll(liveCol(c), hll.relativeSD)
          case _ => return None
        }
        case org.apache.spark.sql.catalyst.expressions.aggregate
            .Count(Seq(org.apache.spark.sql.catalyst.expressions
            .Literal(v, _))) if v != null => Star
        case org.apache.spark.sql.catalyst.expressions.aggregate
            .Count(Seq(c)) if liveCol.isDefinedAt(c) => Cnt(liveCol(c))
        case _ => return None
      }
    }
    if (!targets.exists(_.isInstanceOf[Hll])) return None
    if (agg.aggregateExpressions.exists(_.find(e =>
      e.isInstanceOf[PlanExpression[_]]).isDefined)) return None

    // sidecar present, carries every target column's sketch
    val ndv = store.readNdvState().getOrElse(return None)
    val sketches: Map[String, org.apache.datasketches.hll.HllSketch] =
      targets.collect { case Hll(n, _) => n }.distinct.map { n =>
        val b64 = ndv.cols.getOrElse(n, return None)
        n -> org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64))
      }.toMap
    // rsd compatibility: the sketch's relative standard error is
    // 1.04 / sqrt(2^lgK) — serve only when the query accepted at least
    // that much error
    if (targets.exists {
      case Hll(n, rsd) =>
        rsd < 1.04 / math.sqrt(math.pow(2, sketches(n).getLgConfigK))
      case _ => false
    }) return None
    // coverage: every live non-empty file is marked with the sidecar's
    // generation and the marked count equals its file count — one
    // metadata pass (driver-side inline; distributed on the sharded
    // tier). The SAME pass sums exact row totals and per-column non-null
    // counts for the COUNT targets (no second sweep).
    val cntCols = targets.collect { case Cnt(n) => n }.distinct
    val (totalRows, nonNull) =
      coverageCounts(store, m, ndv, cntCols).getOrElse(return None)

    val estimates: Map[String, Long] =
      sketches.map { case (n, sk) => n -> math.round(sk.getEstimate) }
    val outNames = targets.indices.map(i => s"_g_ndv_$i")
    val outAttrs = outNames.map(n => AttributeReference(n, LongType,
      nullable = false)())
    val row = InternalRow.fromSeq(targets.map {
      case Hll(n, _) => estimates(n)
      case Star => totalRows
      case Cnt(n) => nonNull(n)
    })
    val local = LocalRelation(outAttrs, Seq(row))
    // splice with the original output exprIds
    val outCols = agg.aggregateExpressions.map { ne =>
      var ok = true
      val t = ne.transformDown {
        case ae: AggregateExpression =>
          aggExprs.indexWhere(_.semanticEquals(ae)) match {
            case -1 => ok = false; ae
            case i => outAttrs(i)
          }
      }
      if (!ok || t.find(e => e.isInstanceOf[AttributeReference] &&
          !outAttrs.contains(e)).isDefined) return None
      t
    }
    logInfo(s"approx_count_distinct served from the NDV sidecar over " +
      s"${store.root}: " +
      targets.collect { case Hll(n, _) => n }.distinct.mkString(","))
    Some(org.apache.spark.sql.catalyst.plans.logical.Project(
      agg.output.zip(outCols).map { case (o, n) =>
        Alias(n.asInstanceOf[Expression], o.name)(exprId = o.exprId,
          qualifier = o.qualifier, explicitMetadata = Some(o.metadata))
      }, local))
  }

  /** The serve's target shapes: an HLL sketch column, the exact row
    * total, or an exact per-column non-null count. */
  private sealed trait Tgt
  private final case class Hll(name: String, rsd: Double) extends Tgt
  private case object Star extends Tgt
  private final case class Cnt(name: String) extends Tgt

  /** PER-GROUP NDV serve (r17, VERDICT r16 next #4): `GROUP BY g` +
    * `approx_count_distinct(x)` — the tenant-cardinality dashboard —
    * answers from the per-FILE sketch sidecar analyze maintains for the
    * DECLARED columns (`spark.graft.analyze.ndvGroupCols`,
    * [[graft.store.TableStore.NdvGroupState]]). Soundness rests on the
    * group-constancy proof the hybrid rule established: a file whose `g`
    * bounds collapse to a point (min == max, null-free — sound even on
    * truncated string bounds, which ENCLOSE) holds rows of exactly ONE
    * group, so its per-file sketch of `x` is a per-group partial and the
    * group's estimate is the union of its files' sketches — merged
    * DISTRIBUTED (`hll_union_agg` groupBy over the sidecar parquet joined
    * to the proof sweep), never a driver group loop. All-NULL `g` files
    * form the NULL group. A file-DECIDABLE WHERE is admissible (r17:
    * the filtered tenant dashboard) — conjuncts, residual or consumed
    * by the exact pushdown, join the sweep as per-file might/must
    * verdicts: no-match files are EXCLUDED from every group, all-match
    * files keep their whole-file sketches valid as per-group partials,
    * and any straddler declines.
    * DECLINES (ordinary scan): any group- or WHERE-straddling or
    * unproven file, an HLL column outside the declared set, sidecar
    * coverage/generation mismatch, rsd tighter than the sketches', masks,
    * branch, time travel — the same contract as the global serve. The
    * sidecar parquet is metadata-tier I/O: zero DATA files scan. */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col => fcol, element_at, lit, sum => fsum, when, hll_union_agg, hll_sketch_estimate, date_from_unix_date, timestamp_micros}
    import org.apache.spark.sql.types._
    val gRaw = agg.groupingExpressions match {
      case Seq(e) => e
      case _ => return None
    }
    // acceptExactPushed: unlike the view serves, this arm re-reads the
    // CONSUMED predicate from the registry below and re-classifies files
    // with it (the HybridMetaAgg pattern), so the restricted file subset
    // stays sound
    val (rel, residual, subst) =
      AggViewRewrite.peelScan(agg.child, acceptExactPushed = true) match {
        case Some(x) => x
        case None => return None
      }
    val table = rel.relation.table match {
      case t: SnapshotTable => t
      case _ => return None
    }
    val store = table.graftStore
    if (store.branch.nonEmpty) return None
    val m = table.graftManifest
    if (m.hasDeletes) return None
    if (m.version != store.currentVersion()) return None
    val baseCols = m.schema.fieldNames.toSet
    // a WHERE is admissible when it is file-DECIDABLE (r17 extension —
    // the filtered tenant dashboard): whole-file sketches stay valid
    // per-group partials exactly when every included file is all-match,
    // so each conjunct (residual, or consumed by the exact pushdown)
    // joins the proof sweep as a per-file might/must verdict; any
    // straddler declines the serve. Conjuncts anchor onto the base
    // schema by the scan output's exprIds (consumed exprs arrive
    // name-anchored already).
    val rawConds = residual ++
      ExactPushedScans.consumedOf(rel.scan).getOrElse(Nil)
    def splitAnd(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        splitAnd(l) ++ splitAnd(r)
      case other => Seq(other)
    }
    val conjuncts: Seq[Expression] = rawConds.flatMap(splitAnd).map { c =>
      if (!c.deterministic) return None
      var okc = true
      val t = c.transformUp {
        case ar: AttributeReference =>
          rel.output.find(_.exprId == ar.exprId) match {
            case Some(o) if baseCols.contains(o.name) =>
              AttributeReference(o.name, m.schema(o.name).dataType,
                m.schema(o.name).nullable)()
            case Some(_) => okc = false; ar
            case None =>
              if (baseCols.contains(ar.name) &&
                m.schema(ar.name).dataType == ar.dataType) ar
              else { okc = false; ar }
          }
      }
      if (!okc || t.exists(_.isInstanceOf[PlanExpression[_]])) return None
      t
    }
    // the grouping may be a bare column OR a whitelisted expression
    // chain over one (r17 session 2: `GROUP BY month(ts)` — the
    // time-cardinality dashboard): classify it through the shared
    // [[graft.store.ExprBounds]] classifier; per-file constancy proofs
    // below mirror the hybrid rule's (constant input / monotone
    // E(min)==E(max) / granularity P(min)==P(max))
    val gExpanded = gRaw.transformUp {
      case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
    }
    val gChain = graft.store.ExprBounds.classify(gExpanded)
      .getOrElse(return None)
    val gBase = gChain.base
    // the chain's base must BE a scan output column (exprId-anchored): a
    // Project alias that merely shares a base column's NAME must not
    // masquerade as it
    if (!rel.output.exists(o => o.exprId == gBase.exprId &&
      o.name == gBase.name)) return None
    if (!baseCols.contains(gBase.name) ||
      m.droppedCols.contains(gBase.name) ||
      m.schema(gBase.name).dataType != gBase.dataType) return None
    val gdt = gExpanded.dataType
    // the group key must round-trip through a string encoding back to
    // the exact value (TimestampNTZ declines: micros → NTZ has no
    // session-independent SQL constructor; float/bool never classify)
    val decodable = gdt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | StringType => true
      case _: DecimalType => true
      case _ => false
    }
    if (!decodable) return None

    val gstate = store.readNdvGroupState().getOrElse(return None)
    val liveCol: PartialFunction[Expression, String] = {
      case ar: AttributeReference
          if baseCols.contains(ar.name) &&
            !m.droppedCols.contains(ar.name) => ar.name
    }
    val aggExprs = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression
          if !aggExprs.exists(_.semanticEquals(ae)) => aggExprs += ae
      case _ => ()
    })
    if (aggExprs.isEmpty) return None
    val targets: Seq[Tgt] = aggExprs.toSeq.map { ae =>
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case hll: HyperLogLogPlusPlus => hll.child match {
          case c if liveCol.isDefinedAt(c) &&
              gstate.cols.contains(liveCol(c)) =>
            Hll(liveCol(c), hll.relativeSD)
          case _ => return None
        }
        case org.apache.spark.sql.catalyst.expressions.aggregate
            .Count(Seq(org.apache.spark.sql.catalyst.expressions
            .Literal(v, _))) if v != null => Star
        case org.apache.spark.sql.catalyst.expressions.aggregate
            .Count(Seq(c)) if liveCol.isDefinedAt(c) => Cnt(liveCol(c))
        case _ => return None
      }
    }
    if (!targets.exists { case _: Hll => true; case _ => false })
      return None
    if (agg.aggregateExpressions.exists(_.find(e =>
      e.isInstanceOf[PlanExpression[_]]).isDefined)) return None
    if (targets.exists { case Hll(_, rsd) =>
      rsd < 1.04 / math.sqrt(math.pow(2, gstate.lgk))
      case _ => false
    }) return None
    val hllCols = targets.collect { case Hll(n, _) => n }.distinct
    val cntCols = targets.collect { case Cnt(n) => n }.distinct

    val sp = store.spark
    // proof sweep: one row per live NON-EMPTY file — (marked-at-gen,
    // group-provable, group KEY's string encoding or null, rows,
    // non-null counts per COUNT column; ok=false on anything
    // unprovable). Driver rows on the inline tier (bounded by the
    // inline threshold), one distributed map over the shard rows
    // otherwise.
    val gname = gBase.name
    val gBaseDt = gBase.dataType
    val gExprRef = gExpanded
    val gMonotone = gChain.monotone
    val gGran = gChain.gran
    val cnts = cntCols.toArray
    val gen = gstate.gen
    val marker = graft.store.TableStore.NdvMarker
    val dropped = m.droppedCols.toSet
    val schemaRef = m.schema
    val condsRef = conjuncts
    // one proven key, ENCODED canonically (ints/micros/days via
    // toString, strings verbatim, decimals via Decimal.toString — equal
    // values encode equally, so string groupBy == value groupBy)
    def encodeKey(v: Any): String = v match {
      case null => null
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case d: org.apache.spark.sql.types.Decimal => d.toString
      case other => other.toString
    }
    // Some(encoded-or-null) when the file's key is PROVEN (the hybrid
    // rule's three proofs); None = unprovable
    def keyOf(rows: Long, cs: Map[String, graft.store.FileStats.ColStat])
        : Option[String] = {
      val c = cs.getOrElse(gname, return None)
      if (c.nulls >= rows && rows > 0) return Some(null) // NULL group
      if (c.nulls != 0 || c.min.isEmpty || c.max.isEmpty) return None
      val lo = graft.store.FileStats.parseBound(c.min.get, gBaseDt)
      def ev(v: Any): Option[Any] =
        graft.store.ExprBounds.evalOn(gExprRef, gBaseDt, v)
      if (c.min == c.max) ev(lo).map(encodeKey)
      else if (gMonotone) {
        val hi = graft.store.FileStats.parseBound(c.max.get, gBaseDt)
        (ev(lo), ev(hi)) match {
          case (Some(kl), Some(kh)) if kl != null && kl == kh =>
            Some(encodeKey(kl))
          case _ => None
        }
      } else gGran match {
        case Some(gr) =>
          val hi = graft.store.FileStats.parseBound(c.max.get, gBaseDt)
          val pl = graft.store.ExprBounds
            .evalOn(gr.proof, gBaseDt, lo).filter(_ != null)
          val ph = graft.store.ExprBounds
            .evalOn(gr.proof, gBaseDt, hi).filter(_ != null)
          if (pl.isDefined && pl == ph) ev(lo).map(encodeKey) else None
        case None => None
      }
    }
    def proofOf(rows: Long, raw: Map[String, graft.store.FileStats.ColStat])
        : (Boolean, Boolean, Boolean, String, Seq[Long]) = {
      val marked = raw.get(marker).exists(_.nulls == gen)
      val cs = raw -- dropped
      // WHERE verdicts first: a provably no-match file is EXCLUDED (its
      // rows never reach any group); a might-but-not-must straddler
      // poisons the serve (its whole-file sketch over-counts)
      if (condsRef.nonEmpty) {
        val st = graft.store.FileStats.FileStat(0L, 0L, rows, cs)
        if (!graft.store.FileStats.mightMatch(st, schemaRef, condsRef))
          return (marked, true, true, null, Seq.fill(cnts.length)(0L))
        if (!graft.store.FileStats.mustMatch(st, schemaRef, condsRef))
          return (marked, false, false, null, Seq.fill(cnts.length)(0L))
      }
      val nn = new Array[Long](cnts.length)
      var ok = true
      var i = 0
      while (i < cnts.length) {
        cs.get(cnts(i)) match {
          case Some(c) => nn(i) = rows - c.nulls
          case None => ok = false
        }
        i += 1
      }
      val gk: String = keyOf(rows, cs) match {
        case Some(k) => k
        case None => ok = false; null
      }
      (marked, ok, false, gk, nn.toSeq)
    }
    import sp.implicits._
    val proof: org.apache.spark.sql.DataFrame =
      if (!m.isSharded) {
        if (!m.inlineFiles.forall(m.inlineStats.contains)) return None
        val rows = m.inlineFiles.flatMap { f =>
          val st = m.inlineStats(f)
          if (st.rows == 0L) None
          else {
            val (mk, ok, exc, gk, nn) = proofOf(st.rows, st.cols)
            Some((new org.apache.hadoop.fs.Path(f).toString, mk, ok, exc,
              gk, st.rows, nn))
          }
        }
        rows.toDF("path", "marked", "ok", "exc", "gk", "rows", "nn")
      } else {
        if (m.nFiles > graft.store.TableStore.ExactMaxFiles) return None
        graft.store.ManifestShards.read(sp, m.shards.map(_.path))
          .flatMap { fm =>
            if (fm.rows == 0L) None
            else {
              val (mk, ok, exc, gk, nn) = proofOf(fm.rows,
                graft.store.FileStats.colsFromJson(fm.stats))
              Some((fm.path, mk, ok, exc, gk, fm.rows, nn))
            }
          }.toDF("path", "marked", "ok", "exc", "gk", "rows", "nn")
      }
    val checked = proof.persist()
    try {
      // coverage over ALL live non-empty files (markers + straddler-free)
      // and the INCLUDED count (the WHERE's must-match subset) in one agg
      val v = checked.agg(
        fsum(when(!fcol("marked") || !fcol("ok"), 1L).otherwise(0L)).as("bad"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        fsum(when(!fcol("exc"), 1L).otherwise(0L)).as("kept")).head()
      val bad = if (v.isNullAt(0)) 0L else v.getLong(0)
      if (bad > 0L || v.getLong(1) != gstate.files) return None
      val kept = if (v.isNullAt(2)) 0L else v.getLong(2)
      val sidecar = sp.read.parquet(gstate.dir)
        .filter(fcol("col").isin(hllCols: _*))
        .select(fcol("path").as("_s_path"), fcol("col"), fcol("sketch"))
      val joined = checked.filter(!fcol("exc"))
        .join(sidecar, fcol("path") === fcol("_s_path"))
      if (joined.count() != kept * hllCols.size) return None
      val needStar = targets.contains(Star)
      val first = hllCols.head
      val aggCols: Seq[org.apache.spark.sql.Column] =
        hllCols.zipWithIndex.map { case (n, i) =>
          hll_sketch_estimate(hll_union_agg(
            when(fcol("col") === n, fcol("sketch")))).as(s"_g_est_$i")
        } ++
        (if (needStar)
          Seq(fsum(when(fcol("col") === first, fcol("rows")))
            .cast("long").as("_g_rows"))
         else Nil) ++
        cntCols.indices.map(i =>
          fsum(when(fcol("col") === first, element_at(fcol("nn"), i + 1)))
            .cast("long").as(s"_g_cnt_$i"))
      val keyCol: org.apache.spark.sql.Column = (gdt match {
        case StringType => fcol("gk")
        case ByteType | ShortType | IntegerType | LongType =>
          fcol("gk").cast(gdt)
        case DateType => date_from_unix_date(fcol("gk").cast("int"))
        case TimestampType => timestamp_micros(fcol("gk").cast("long"))
        case d: DecimalType => fcol("gk").cast(d)
        case _ => return None
      }).as("_g_key")
      val rep0 = joined.groupBy(fcol("gk"))
        .agg(aggCols.head, aggCols.tail: _*)
        .select(keyCol +: (hllCols.indices.map(i => fcol(s"_g_est_$i")) ++
          (if (needStar) Seq(fcol("_g_rows")) else Nil) ++
          cntCols.indices.map(i => fcol(s"_g_cnt_$i"))): _*)
      // splice: replace each matched AggregateExpression with its rep
      // column and the group attr with the decoded key, by NAME
      def targetCol(t: Tgt): String = t match {
        case Hll(n, _) => s"_g_est_${hllCols.indexOf(n)}"
        case Star => "_g_rows"
        case Cnt(n) => s"_g_cnt_${cntCols.indexOf(n)}"
      }
      val aligned: Seq[org.apache.spark.sql.Column] =
        agg.aggregateExpressions.map { ne =>
          var ok = true
          val inner = ne match {
            case a: Alias => a.child
            case other => other
          }
          val t = inner.transformDown {
            case ae: AggregateExpression =>
              aggExprs.indexWhere(_.semanticEquals(ae)) match {
                case -1 => ok = false; ae
                case i => org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute(targetCol(targets(i)))
              }
            case e if e.semanticEquals(gRaw) =>
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute("_g_key")
          }
          if (!ok || t.exists(_.isInstanceOf[AttributeReference]))
            return None
          org.apache.spark.sql.graftbridge.ColumnBridge.column(t)
            .as(ne.name)
        }
      val repPlan = rep0.select(aligned: _*).queryExecution.optimizedPlan
      if (repPlan.output.size != agg.output.size ||
        repPlan.output.zip(agg.output).exists {
          case (n, o) => n.dataType != o.dataType
        }) return None
      logInfo(s"per-group approx_count_distinct served from the per-file " +
        s"NDV sidecar over ${store.root}: GROUP BY $gname, " +
        s"cols ${hllCols.mkString(",")}")
      Some(org.apache.spark.sql.catalyst.plans.logical.Project(
        agg.output.zip(repPlan.output).map { case (o, n) =>
          Alias(n.asInstanceOf[Expression], o.name)(exprId = o.exprId,
            qualifier = o.qualifier, explicitMetadata = Some(o.metadata))
        }, repPlan))
    } finally { checked.unpersist(); () }
  }

  /** Coverage + counts in ONE metadata pass: checks the sidecar's
    * coverage contract for manifest `m` (every non-empty live file marked
    * with generation `st.gen`, exactly `st.files` of them —
    * unmarked/foreign-generation files mean rows the sketch never saw or
    * double-counts) and, over the same files, sums exact row totals and
    * `rows − nulls` for each of `cntCols` (r17: COUNT(col) rides the
    * sweep for free). None when coverage fails or any non-empty file
    * lacks a usable null count for a requested column (stale stats on a
    * re-added name are filtered by the manifest's dropped-column rule,
    * same as pushAggregation). Driver-side inline; one distributed sweep
    * on the sharded tier. */
  private def coverageCounts(store: graft.store.TableStore,
      m: graft.store.TableStore.Manifest,
      st: graft.store.TableStore.NdvState, cntCols: Seq[String])
      : Option[(Long, Map[String, Long])] = {
    val marker = graft.store.TableStore.NdvMarker
    if (!m.isSharded) {
      var marked = 0L
      var rows = 0L
      val nonNull = scala.collection.mutable.Map(cntCols.map(_ -> 0L): _*)
      m.inlineFiles.foreach { f =>
        val raw = m.inlineStats.getOrElse(f, return None)
        if (raw.rows > 0L) {
          if (!raw.cols.get(marker).exists(_.nulls == st.gen)) return None
          marked += 1
          rows += raw.rows
          val cs = m.usableStat(raw).cols
          cntCols.foreach { n =>
            val c = cs.getOrElse(n, return None)
            nonNull(n) += raw.rows - c.nulls
          }
        }
      }
      if (marked == st.files) Some((rows, nonNull.toMap)) else None
    } else {
      val sp = store.spark
      import sp.implicits._
      val g = st.gen
      val mk = marker
      val cnts = cntCols.toArray
      val dropped = m.droppedCols.toSet
      // per-partition (marked, uncovered, rows, missing-stat count,
      // per-column null sums) — O(partitions) driver residue
      val parts = graft.store.ManifestShards
        .read(sp, m.shards.map(_.path)).mapPartitions { it =>
          var marked = 0L; var uncovered = 0L; var rows = 0L
          var missing = 0L
          val nulls = new Array[Long](cnts.length)
          it.foreach { fm =>
            if (fm.rows > 0L) {
              val cs = graft.store.FileStats.colsFromJson(fm.stats)
              if (cs.get(mk).exists(_.nulls == g)) marked += 1
              else uncovered += 1
              rows += fm.rows
              val usable = cs -- dropped
              var i = 0
              while (i < cnts.length) {
                usable.get(cnts(i)) match {
                  case Some(c) => nulls(i) += c.nulls
                  case None => missing += 1
                }
                i += 1
              }
            }
          }
          Iterator.single((marked, uncovered, rows, missing, nulls.toSeq))
        }.collect()
      val covered = parts.map(_._2).sum == 0L &&
        parts.map(_._1).sum == st.files && parts.map(_._4).sum == 0L
      if (!covered) None
      else {
        val rows = parts.map(_._3).sum
        val nonNull = cnts.indices.map(i =>
          cnts(i) -> (rows - parts.map(_._5(i)).sum)).toMap
        Some((rows, nonNull))
      }
    }
  }
}

object NdvServe {
  /** Test probe: did the plan take the sidecar serve? */
  def served(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case l: LocalRelation => l.output.exists(_.name.startsWith("_g_ndv_"))
      case _ => false
    }

  /** Test probe: did the plan take the PER-GROUP sidecar serve? The
    * spliced plan reads ONLY the per-file sketch parquet (metadata-tier
    * I/O under `analyze/ndv_group/`) — zero data files. */
  def servedGroup(df: org.apache.spark.sql.DataFrame): Boolean =
    df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("/analyze/ndv_group/"))
}
