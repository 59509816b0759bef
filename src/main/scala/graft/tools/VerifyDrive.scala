package graft.tools

import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.algo.{ConnectedComponents, PageRank}
import graft.model.{PageRankConfig, PageRankMode}
import graft.engine.PageRankEngine

/** Sample user program: drive the library end-to-end over real testdata. */
object VerifyDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(8, "graft-verify-drive")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
    val rawEdges = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"), $"l_suppkey".as("dst"))
    val g = LinkGraph.fromEdgeList(spark, rawEdges)
    println(s"[drive] n=${g.numVertices} foldedEdges=${g.numEdges}")

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = PageRank.run(g, damping = 0.85, tolerance = 1e-8,
      checkpointDir = Some(ckpt), maxIterations = 1000)
    println(s"[drive] pagerank iters=${out.run.iterations} converged=${out.run.converged} err=${out.run.finalError}")
    val top = out.toVertexDf(g).join(g.vertexDict, Seq("vid"))
      .orderBy(desc("value"), $"vid").limit(5)
      .select($"extId", round($"value", 8).as("rank")).collect()
    top.foreach(r => println(s"[drive] top extId=${r.get(0)} rank=${r.get(1)}"))
    val total = out.toVertexDf(g).agg(sum($"value")).first().getDouble(0)
    println(f"[drive] rank mass=$total%.12f")
    println(s"[drive] checkpoints committed=${graft.engine.CheckpointManager.committedSupersteps(ckpt).mkString(",")}")

    // PROBE 1: resume from the durable checkpoint — must agree with the finished run
    val resumed = PageRank.resume(g, PageRankConfig(0.85, 1e-8, 1000,
      PageRankMode.ReferenceRenorm, checkpointDir = Some(ckpt)))
    println(s"[drive] resume iters=${resumed.run.iterations} converged=${resumed.run.converged}")

    // PROBE 2: risk propagation without prior → should fail with a clear message
    try {
      PageRank.propagateRisk(g, null)
      println("[drive] PROBE2 UNEXPECTED: no error")
    } catch { case e: Exception => println(s"[drive] PROBE2 error ok: ${e.getMessage}") }

    // PROBE 3: 1000x duplicate edges fold to weights, not row explosion
    val dup = rawEdges.union(rawEdges).union(rawEdges)
    val g3 = LinkGraph.fromEdgeList(spark, dup)
    println(s"[drive] PROBE3 foldedEdges=${g3.numEdges} (same as ${g.numEdges}), maxW x3: " +
      s"${g3.edges.agg(max($"weight")).first().getDouble(0)} vs ${g.edges.agg(max($"weight")).first().getDouble(0)}")

    // Connected components over the same graph
    val cc = ConnectedComponents.run(g)
    val nComp = cc.select("label").distinct().count()
    println(s"[drive] components=$nComp")
    spark.stop()
  }
}
