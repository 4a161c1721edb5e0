package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's handle on the engine's connected-component clustering,
  * which is package-private to `graft.queries`.
  */
object PerfbenchAccess {
  def clusterLabels(spark: SparkSession, pairs: DataFrame): DataFrame =
    DedupOps.clusterLabels(spark, pairs)
}
