package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers

/** Bridge to the `private[sql]` key normalization the physical aggregate
  * and the hash joins apply (NaN and -0.0 group with NaN and 0.0), for the
  * driver-side aggregate fold over held view rows and the in-scan probes
  * of held delete masks. No logic. */
object AggregateBridge {
  def normalizeKey(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}
