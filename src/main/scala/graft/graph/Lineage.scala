package graft.graph

import org.apache.spark.sql.DataFrame

/** Lineage hygiene for iterative DataFrame loops.
  *
  * `Dataset.localCheckpoint` carries the origin plan's STATISTICS into its
  * LogicalRDD; a loop that joins the checkpointed frame back to itself squares
  * sizeInBytes every iteration until Catalyst multiplies million-digit
  * BigIntegers. Cutting through an RDD boundary truncates lineage AND resets
  * statistics to defaults.
  */
object Lineage {

  /** Materialize `df` behind an RDD boundary: truncated lineage, default
    * stats. Returns (pinned frame, unpersist handle).
    */
  def pin(df: DataFrame): (DataFrame, () => Unit) = {
    val rdd = df.rdd.localCheckpoint()
    rdd.count()
    val out = df.sparkSession.createDataFrame(rdd, df.schema)
    (out, () => { rdd.unpersist(false); () })
  }
}
