package graft.arrow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The rows of a DataFrame on the driver, for specs that build the
  * reference streams they compare against with [[ArrowBridge.write]]. */
object DriverRows {

  /** Driver-side InternalRow iterator over a DataFrame, partition at a
    * time. The `.copy()` is load-bearing: whole-stage codegen reuses one
    * UnsafeRow buffer, and local-mode collection skips the serialization
    * that would otherwise snapshot it. */
  def internalRows(df: DataFrame): Iterator[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).toLocalIterator
}
