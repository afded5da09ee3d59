package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.ParquetWriteBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.TableStore

/** MERGE-ON-READ SQL row-level DML — `DELETE`/`UPDATE`/`MERGE INTO` through
  * Spark's DELTA-BASED row-level-operation protocol (`SupportsDelta`, the
  * position-delta model Iceberg v2 uses for its MOR Spark writes).
  *
  * Selected by `spark.graft.delete.mode=mor` on non-hive layouts
  * ([[SnapshotTable.newRowLevelOperationBuilder]]); the default stays the
  * group-based COW operation in [[GraftRowLevelOperation]]. Division of
  * labor with Spark:
  *   - Spark's analyzer rewrites (RewriteMergeIntoTable and friends) plan
  *     the FULL semantics — the source join, matched/not-matched clause
  *     dispatch, the MERGE cardinality check — over a scan that carries
  *     each row's address in the `_g_file`/`_g_pos` metadata columns (the
  *     operation's `rowId`; served by the positional V1 fallback scan).
  *   - The write receives per-row deltas: DELETE = a row address, INSERT =
  *     a data row (updates arrive split, `representUpdateAsDeleteAndInsert`).
  *     Addresses and rows stage through ONE distributed parquet write; the
  *     driver then folds the staged delta into a single delete-vector +
  *     append commit via [[TableStore.applyDelta]].
  *
  * Scale: write volume is O(changed rows) — the COW MERGE rewrites every
  * bucket a match lands in, so on a 100 TB continuously-merged table this
  * is the difference between a KB-scale mask+append per batch and multi-GB
  * bucket rewrites (the same trade [[TableStore.upsertMor]] measures at
  * 438×/385×, recorded in NOTES.md "Merge-on-read deletes" and "Merge-on-
  * read CDC loop"). The staged delta is written twice (staging then final
  * layout) — 2× the CHANGED rows, never table volume, the same
  * discipline the COW path applies to its replacement groups. The read tax
  * until [[TableStore.purgeDeletes]] is the standard MOR anti-join. */
final class GraftDeltaOperationBuilder(store: TableStore, version: Long,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftDeltaOperation(store, version, info.command())
}

final class GraftDeltaOperation(store: TableStore, version: Long,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftRowLevel($cmd, v$version, merge-on-read)"

  /** The table's own stats-pruning builder: pushed command conditions prune
    * files/buckets exactly as a normal read (delta scans may drop
    * non-matching rows — no carry-over contract here), and the requested
    * `_g_file`/`_g_pos` columns route it onto the positional V1 fallback. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StatsPruningScanBuilder(s"graft-mor-delta-v$version", store,
      store.manifest(version), options)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(SnapshotTable.FileCol),
      Expressions.column(SnapshotTable.PosCol))

  /** Updated rows re-bucket through the fresh-file append anyway — splitting
    * keeps the writer two-channel (an address stream and a row stream). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(store, version, info)
    }
}

/** Stages the delta through one distributed parquet write of combined rows
  * `(_del_file, _del_pos, <data cols, all nullable>)` — a delete carries
  * its address with null data, an insert the reverse — then commits the
  * split halves atomically via [[TableStore.applyDelta]] (CAS on the
  * version observed at analysis, like the COW write). */
private[catalog] final class GraftDeltaWrite(store: TableStore, version: Long,
    info: LogicalWriteInfo) extends DeltaWrite {

  private val pm = store.manifest(version)
  private val staging = new Path(
    new Path(store.root), s"staging-delta-${java.util.UUID.randomUUID()}")
  private val stagedSchema = StructType(
    StructField("_del_file", StringType) +: StructField("_del_pos", LongType) +:
      pm.schema.fields.map(_.copy(nullable = true)))
  private val delegateWrite = ParquetWriteBridge.stagingWrite(staging.toString,
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = info.options()
      override def queryId(): String = info.queryId()
      override def schema(): StructType = stagedSchema
    })

  override def description(): String = s"graft-mor-delta-write(v$version)"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private lazy val inner = delegateWrite.toBatch

    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DeltaWriterFactory =
      new GraftDeltaWriterFactory(
        inner.createBatchWriterFactory(pinfo), stagedSchema)

    override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      inner.commit(messages)
      val spark = store.spark
      val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        import org.apache.spark.sql.functions.col
        val staged = spark.read.schema(stagedSchema).parquet(staging.toString)
        val deletes = staged.filter(col("_del_file").isNotNull)
          .select(col("_del_file").as("file_path"), col("_del_pos").as("pos"))
        val inserts = staged.filter(col("_del_file").isNull)
          .select(pm.schema.fieldNames.map(col): _*)
        store.applyDelta(deletes, inserts, expectedParent = Some(version))
      } finally fs.delete(staging, true)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = staging.getFileSystem(
        store.spark.sparkContext.hadoopConfiguration)
      try inner.abort(messages) finally fs.delete(staging, true)
    }
  }
}

/** Executor-side delta writer: folds the per-row operation stream into the
  * combined staging schema and hands each row straight to the inner parquet
  * writer (values are consumed on write — no buffering, no copies). */
private[catalog] final class GraftDeltaWriterFactory(
    inner: DataWriterFactory, stagedSchema: StructType)
    extends DeltaWriterFactory {

  private val dataTypes = stagedSchema.fields.drop(2).map(_.dataType)

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val w: DataWriter[InternalRow] = inner.createWriter(partitionId, taskId)
    new DeltaWriter[InternalRow] {
      private val width = stagedSchema.length

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        val a = new Array[Any](width)
        a(0) = id.getUTF8String(0)
        a(1) = id.getLong(1)
        w.write(new GenericInternalRow(a))
      }

      override def insert(row: InternalRow): Unit = {
        val a = new Array[Any](width)
        var i = 0
        while (i < dataTypes.length) {
          a(i + 2) = row.get(i, dataTypes(i))
          i += 1
        }
        w.write(new GenericInternalRow(a))
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new UnsupportedOperationException(
          "updates arrive split (representUpdateAsDeleteAndInsert)")

      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
