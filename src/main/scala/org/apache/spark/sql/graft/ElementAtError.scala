package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors

/** The error `element_at(arr, index)` raises under ANSI (Spark 4's
  * default) when `index` is past the end of an array of `size` elements.
  * `QueryExecutionErrors` is `private[sql]`, hence this subpackage — the
  * same bridge pattern as `SessionBridge`. */
object ElementAtError {
  def outOfBounds(index: Int, size: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, size, null)
}
