package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType

/** Schema operations the parquet source uses internally but Spark 4
  * keeps package-private: the `mergeSchema` field merge and the
  * all-nullable relaxation every file-source read applies. Same access
  * rationale as [[ColumnShim]].
  */
object SchemaShim {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
  def asNullable(s: StructType): StructType = s.asNullable
}
