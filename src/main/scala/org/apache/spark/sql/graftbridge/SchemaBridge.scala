package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** Schema-merge bridge. Lives under `org.apache.spark.sql` solely to
  * reach the `private[sql]` `StructType.merge` — the fold Spark's
  * parquet footer-merge inference applies — so a snapshot read can
  * merge the schemas its commit marker records with the same rule.
  */
object SchemaBridge {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
