package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` schema merge, the one
  * `spark.read.option("mergeSchema", "true")` applies to part-file
  * footers, so schemas read on the driver merge by the same rules. */
object GraftSchemaShim {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
