// Lives under org.apache.spark.sql because Column.internalFn, the
// resolver of Spark's internal (unregistered) functions, is private[sql].
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** `bloom_filter_agg(c, expectedItems, numBits)`: the aggregate behind
  * `DataFrameStatFunctions.bloomFilter`, as a column that can share one
  * aggregation with other aggregates. Its value is the serialized
  * `org.apache.spark.util.sketch.BloomFilter` (read it back with
  * `BloomFilter.readFrom`), or null over zero rows.
  */
object BloomAgg {
  def column(c: Column, expectedItems: Long, numBits: Long): Column =
    Column.internalFn("bloom_filter_agg", c, lit(expectedItems), lit(numBits))
}
