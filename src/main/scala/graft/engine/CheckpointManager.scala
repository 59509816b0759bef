package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{RankChunk, SuperstepMetrics}
import graft.graph.LinkGraph
import graft.sources.IcebergLite

/** Durable superstep checkpoints AS IcebergLite snapshots: each checkpoint is
  * one committed snapshot of the checkpoint-dir table (rank vector as
  * (vid, value) parquet) whose snapshot-summary properties carry the
  * superstep number, the residual, and the recent per-superstep metrics
  * (rows, bytes shuffled, wall time). One storage format and one atomic
  * commit path shared with every other table in the engine — a superstep is
  * visible iff its manifest exists, so a crash mid-write leaves the previous
  * superstep as the resume point (north rule: mid-iteration resume with
  * per-partition lineage + metrics checkpointed to Iceberg).
  */
object CheckpointManager {

  /** Commit superstep k: rank snapshot + summary properties. */
  def write(
      graph: LinkGraph,
      dir: String,
      superstep: Int,
      residual: Double,
      recent: Seq[SuperstepMetrics],
      chunks: Dataset[RankChunk]
  ): Unit = {
    val metricsJson = recent
      .map(m =>
        s"""{"superstep":${m.superstep},"residual":${m.residual},""" +
          s""""shuffleRows":${m.shuffleRows},"shuffleBytes":${m.shuffleBytes},""" +
          s""""wallMs":${m.wallMs}}""")
      .mkString("[", ",", "]")
    IcebergLite.commit(
      graph.chunksToVertexDf(chunks),
      dir,
      properties = Map(
        "superstep" -> superstep.toString,
        "residual" -> residual.toString,
        "metrics" -> metricsJson))
    ()
  }

  /** Newest committed checkpoint: (snapshot, superstep, residual). */
  def latest(dir: String): Option[(Long, Int, Double)] =
    IcebergLite.snapshots(dir).lastOption.map { snap =>
      val p = IcebergLite.properties(dir, snap)
      (snap, p("superstep").toInt, p("residual").toDouble)
    }

  /** Manifest-resolved read of one committed checkpoint's ranks. */
  def readRanks(spark: SparkSession, dir: String, snapshot: Long): DataFrame =
    IcebergLite.read(spark, dir, Some(snapshot))

  /** All committed supersteps in order (for resume tests / metrics queries). */
  def committedSupersteps(dir: String): Seq[Int] =
    IcebergLite.snapshots(dir).map(s => IcebergLite.properties(dir, s)("superstep").toInt)
}
