package graft.catalog

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.connector.read.V1Scan
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

import graft.store.TableStore

/** SQL read path for snapshots carrying positional delete vectors.
  *
  * A DSv2 parquet scan has no row-position hook, so a DV'd snapshot is
  * served through Spark's V1Scan fallback (the JDBC-source pattern): the
  * relation builds the effective-rows DataFrame via
  * [[TableStore#readFiles]] — stats/bucket file pruning plus the delete
  * masks — and hands Spark its internal-row RDD. `buildScan` runs during
  * physical planning and calls `toRdd`, so whatever the mask plan
  * materializes runs at PLAN time, on every plan of every query. Small
  * masks (under the held gate) are therefore held on the driver per
  * delete-file set ([[graft.store.HeldRows]], kind `mask`), and
  * applied inside the scan as one per-row probe shipped as a Spark
  * broadcast ([[graft.store.HeldMaskKeep]]): the first plan over a delete
  * set reads its files, later plans run no Spark job at all. Masks past
  * the gate keep the anti-join over their files, unhinted: Spark's join
  * selection broadcasts or shuffles it. The scan also loses
  * whole-stage fusion with the parent plan (one extra exchange-free
  * pipeline break) until
  * [[TableStore#purgeDeletes]]/[[TableStore#compact]] folds the deletes in
  * and the table returns to the byte-stock DSv2 path — the deliberate MOR
  * trade. Filters all stay post-scan (same conservative contract as the
  * stats-pruning builder); `rowFilter` only pre-drops rows the post-scan
  * Filter would drop anyway, cutting the fallback's conversion volume. */
private[catalog] final class DvV1Scan(store: TableStore,
    m: TableStore.Manifest, name: String, prunedSchema: StructType,
    files: () => Seq[String],
    rowFilter: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    withPos: Boolean = false)
    extends V1Scan {

  override def readSchema(): StructType = prunedSchema

  override def description(): String = s"graft-dv-scan($name)"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = prunedSchema
      override def toString: String = s"graft-dv-scan($name)"
      // report the manifest's real byte size: the default (session
      // defaultSizeInBytes = huge) would stop a small DV'd dim table from
      // ever broadcasting
      override def sizeInBytes: Long = m.totalBytes
      // the produced RDD already carries InternalRows (a planned subquery)
      override def needConversion: Boolean = false
      override def buildScan()
          : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        import org.apache.spark.sql.functions.col
        // `withPos` serves the `_g_file`/`_g_pos` address columns (delta
        // DML rowId; provenance reads) alongside the data columns
        val base =
          if (withPos) store.readFilesWithPos(m, files())
          else store.readFiles(m, files())
        val filtered =
          if (rowFilter.isEmpty) base
          else base.filter(org.apache.spark.sql.graftbridge.ColumnBridge
            .column(rowFilter
              .reduceLeft(org.apache.spark.sql.catalyst.expressions.And)
              .transform {
                case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                  org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute(Seq(a.name))
              }))
        filtered.select(prunedSchema.fieldNames.map(col).toSeq: _*)
          .queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }.asInstanceOf[T]
}
