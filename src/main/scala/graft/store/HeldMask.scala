package graft.store

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftbridge.AggregateBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** In-scan probes over delete sets held on the driver
  * ([[TableStore#maskProbe]]). A held set is turned once into a lookup
  * structure and shipped as a Spark `Broadcast` (creating one runs no
  * job), and [[HeldMaskKeep]] applies it row by row inside the scan, so
  * planning a masked read runs no Spark job where a broadcast anti-join
  * collected its build side on every plan. Key semantics are those of the
  * hash join it replaces: keys are unsafe rows compared by bytes (binary
  * by content), floating point normalized as Spark normalizes join keys,
  * and a NULL key never masks. */
private[graft] object HeldMask {

  /** Delete-vector probe: data file path → its deleted row positions,
    * sorted. */
  final class DvProbe(val byFile: java.util.HashMap[UTF8String, Array[Long]])
      extends Serializable

  /** Equality-delete probe of one key shape: deleted key → the newest
    * `since` among its deletes. Keys are unsafe rows built by
    * [[keyProjection]]; NULL-bearing keys are left out. */
  final class EqProbe(val since: java.util.HashMap[UnsafeRow, java.lang.Long])
      extends Serializable

  /** Held `(file_path, pos)` rows as a [[DvProbe]]. */
  def dvProbe(rel: LocalRelation): DvProbe = {
    val names = rel.output.map(_.name)
    val (fi, pi) = (names.indexOf("file_path"), names.indexOf("pos"))
    val acc = new java.util.HashMap[UTF8String,
      scala.collection.mutable.ArrayBuilder.ofLong]
    rel.data.foreach { r =>
      if (!r.isNullAt(fi) && !r.isNullAt(pi))
        acc.computeIfAbsent(r.getUTF8String(fi).clone(),
          _ => new scala.collection.mutable.ArrayBuilder.ofLong) +=
          r.getLong(pi)
    }
    val byFile = new java.util.HashMap[UTF8String, Array[Long]](acc.size * 2)
    acc.forEach { (f, b) =>
      val ps = b.result()
      java.util.Arrays.sort(ps)
      byFile.put(f, ps)
    }
    new DvProbe(byFile)
  }

  /** Held `(key columns…, _eq_since)` rows as an [[EqProbe]]. */
  def eqProbe(rel: LocalRelation): EqProbe = {
    val si = rel.output.indexWhere(_.name == "_eq_since")
    val proj = keyProjection(rel.output.take(si).zipWithIndex.map {
      case (a, i) => BoundReference(i, a.dataType, nullable = true)
    })
    val since = new java.util.HashMap[UnsafeRow, java.lang.Long](
      rel.data.size * 2)
    rel.data.foreach { r =>
      val k = proj(r)
      if (!k.anyNull) {
        val s = r.getLong(si)
        val prev = since.get(k)
        if (prev == null || prev < s) since.put(k.copy(), s)
      }
    }
    new EqProbe(since)
  }

  /** Key columns as one unsafe row, floating point normalized. */
  def keyProjection(keys: Seq[Expression]): UnsafeProjection =
    UnsafeProjection.create(keys.map(AggregateBridge.normalizeKey))

  private val SnapSegment = "/snap-(\\d+)-".r

  /** Commit version of a data file: the rebase override, else the
    * `snap-<v>-` path segment; None when neither names one. */
  def fileVersion(path: String, overrides: Map[String, Long]): Option[Long] =
    overrides.get(path).orElse(SnapSegment.findFirstMatchIn(path)
      .flatMap(m => m.group(1).toLongOption))
}

/** Per-task cache of the row's data file: its version, looked up once per
  * run of consecutive rows from one file. */
private[store] trait FileVersionCache {
  def overrides: Option[Broadcast[Map[String, Long]]]

  @transient private[this] var file: UTF8String = _
  @transient protected var version: Long = _
  @transient protected var versioned: Boolean = _

  /** Point the cache at `f`; true when it names a different file. */
  protected def moveTo(f: UTF8String): Boolean =
    if (file == f) false
    else {
      file = f.clone()
      val v = HeldMask.fileVersion(file.toString,
        overrides.map(_.value).getOrElse(Map.empty))
      versioned = v.isDefined
      version = v.getOrElse(0L)
      true
    }

  protected def currentFile: UTF8String = file
}

/** Commit version of the row's data file (`child` is its path), NULL when
  * the path names none: the file side of the equality-delete test on the
  * anti-join route. */
private[graft] case class FileVersion(child: Expression,
    overrides: Option[Broadcast[Map[String, Long]]])
    extends UnaryExpression with FileVersionCache {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  /** Version of `f`, or null. */
  def of(f: UTF8String): java.lang.Long = {
    moveTo(f)
    if (versioned) version else null
  }

  override def eval(input: InternalRow): Any = {
    val f = child.eval(input)
    if (f == null) null else of(f.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fileVersion", this, getClass.getName)
    val f = child.genCode(ctx)
    val boxed = ctx.freshName("v")
    ev.copy(code = code"""
      |${f.code}
      |java.lang.Long $boxed = ${f.isNull} ? null : $self.of(${f.value});
      |boolean ${ev.isNull} = $boxed == null;
      |long ${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
      |""".stripMargin)
  }

  override def toString: String = s"file_version($child)"

  override protected def withNewChildInternal(c: Expression): FileVersion =
    copy(child = c)
}

/** Keep-row predicate of the held delete masks of one read. `children`
  * are the row's data file path, then its position when `dv` is set, then
  * the key columns of each probe in `eqs` (`eqArity` of them each). A row
  * is dropped when its `(file, pos)` is in the DV set, or when a probe
  * maps its key to a `since` newer than its file's version (rebase
  * overrides first, then the `snap-<v>-` path segment). Never NULL. The
  * file's positions and version are looked up once per run of rows from
  * one file. */
private[graft] case class HeldMaskKeep(children: Seq[Expression],
    dv: Option[Broadcast[HeldMask.DvProbe]],
    eqs: Seq[Broadcast[HeldMask.EqProbe]], eqArity: Seq[Int],
    overrides: Option[Broadcast[Map[String, Long]]])
    extends Expression with FileVersionCache {

  require(eqs.size == eqArity.size && children.size ==
    1 + dv.size + eqArity.sum, "held mask: children do not match the probes")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  private def keyGroups: Seq[Seq[Expression]] = {
    val keys = children.drop(1 + dv.size)
    eqArity.scanLeft(0)(_ + _).zip(eqArity)
      .map { case (from, n) => keys.slice(from, from + n) }
  }

  @transient private[this] lazy val positions =
    dv.map(_.value.byFile).orNull
  @transient private[this] lazy val since = eqs.map(_.value.since).toArray
  @transient private[this] lazy val keyProjections =
    keyGroups.map(HeldMask.keyProjection).toArray
  @transient private[this] var filePositions: Array[Long] = _

  /** Point the probes at the row's data file `f`. */
  def seeFile(f: UTF8String): Unit =
    if (moveTo(f) && positions != null)
      filePositions = positions.get(currentFile)

  /** Is position `pos` of the current file deleted? */
  def dvMasked(pos: Long): Boolean =
    filePositions != null &&
      java.util.Arrays.binarySearch(filePositions, pos) >= 0

  /** Does probe `g` delete `key` from the current file? */
  def eqMasked(g: Int, key: UnsafeRow): Boolean =
    versioned && !key.anyNull && {
      val s = since(g).get(key)
      s != null && version < s
    }

  override def eval(input: InternalRow): Any = {
    val f = children.head.eval(input)
    if (f == null) true
    else {
      seeFile(f.asInstanceOf[UTF8String])
      val pos = if (dv.isEmpty) null else children(1).eval(input)
      if (pos != null && dvMasked(pos.asInstanceOf[Long])) false
      else !keyProjections.indices.exists(g =>
        eqMasked(g, keyProjections(g)(input)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("heldMask", this, getClass.getName)
    val f = children.head.genCode(ctx)
    val dvCode =
      if (dv.isEmpty) ""
      else {
        val pos = children(1).genCode(ctx)
        s"""
           |${pos.code}
           |${ev.value} = ${pos.isNull} || !$self.dvMasked(${pos.value});
           |""".stripMargin
      }
    val eqCode = keyGroups.zipWithIndex.map { case (keys, g) =>
      val key = GenerateUnsafeProjection.createCode(ctx,
        keys.map(AggregateBridge.normalizeKey))
      s"""
         |if (${ev.value}) {
         |  ${key.code}
         |  ${ev.value} = !$self.eqMasked($g, ${key.value});
         |}
         |""".stripMargin
    }.mkString
    ev.copy(code = code"""
      |${f.code}
      |boolean ${ev.value} = true;
      |if (!${f.isNull}) {
      |  $self.seeFile(${f.value});
      |  $dvCode
      |  $eqCode
      |}
      |""".stripMargin, isNull = FalseLiteral)
  }

  override def toString: String =
    s"held_mask(${children.mkString(", ")}; dv=${dv.size}, eq=${eqs.size})"

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HeldMaskKeep = copy(children = c)
}
