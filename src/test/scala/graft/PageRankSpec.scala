package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.model._
import graft.graph.LinkGraph
import graft.algo.{DirectSolve, PageRank}
import graft.engine.PageRankEngine

class PageRankSpec extends GraftSuite {
  import spark.implicits._

  private def graphOf(edges: Seq[(Int, Int, Double)], numBlocks: Int = 3): LinkGraph = {
    // expand multiplicity so the builder's duplicate-folding is exercised
    val raw = edges.flatMap { case (s, t, w) => Seq.fill(w.toInt)((s.toLong, t.toLong)) }
    LinkGraph.fromEdgeList(spark, raw.toDF("src", "dst"), numBlocks = numBlocks)
  }

  private def ranksArray(g: LinkGraph, out: graft.engine.PageRankOutcome): Array[Double] = {
    val n = g.numVertices.toInt
    val arr = new Array[Double](n)
    out.ranks.collect().foreach(c => System.arraycopy(c.values, 0, arr, c.loVid.toInt, c.values.length))
    arr
  }

  private val twoCycle = Seq((0, 1, 1.0), (1, 0, 1.0))
  private val chain3 = Seq((0, 1, 1.0), (1, 2, 1.0))
  private val dupes = Seq((0, 1, 3.0), (1, 2, 1.0), (2, 0, 1.0))
  private val hub = (1 to 12).map(i => (i, 0, 1.0)) ++ Seq((0, 3, 1.0), (0, 5, 1.0))
  private val rand50 = DenseReference.randomEdges(50, 0.08, seed = 42)

  private val allGraphs = Seq(
    "twoCycle" -> twoCycle,
    "chain3" -> chain3,
    "dupes" -> dupes,
    "hub" -> hub,
    "rand50" -> rand50)

  test("reference-mode ranks match the dense numpy-faithful kernel at convergence") {
    for ((name, edges) <- allGraphs) {
      val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
      val g = graphOf(edges)
      assert(g.numVertices == edges.flatMap(e => Seq(e._1, e._2)).distinct.size, name)
      val out = PageRank.run(g, damping = 0.85, tolerance = 1e-10, maxIterations = 200)
      // vertex ids are contiguous in these fixtures, so vid == original id
      val (want, wantIters, wantConv, _) = DenseReference.pagerank(n, edges, 0.85, 1e-10, 200)
      val got = ranksArray(g, out)
      assertAllClose(got, want, 1e-9)
      assert(out.run.iterations == wantIters, s"$name iterations")
      assert(out.run.converged == wantConv, name)
      g.unpersistAll()
    }
  }

  test("fixed-iteration ranks match the dense kernel exactly at k=1 and k=7") {
    for ((name, edges) <- Seq("dupes" -> dupes, "rand50" -> rand50); k <- Seq(1, 7)) {
      val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
      val g = graphOf(edges)
      val out = PageRank.run(g, damping = 0.85, tolerance = 0.0, maxIterations = k)
      val (want, _, _, _) = DenseReference.pagerank(n, edges, 0.85, 0.0, k)
      assertAllClose(ranksArray(g, out), want, 1e-12)
      assert(out.run.iterations == k, s"$name k=$k")
      g.unpersistAll()
    }
  }

  /** PageRank, dangling and risk ranks on rand50, run on `view` of its graph. */
  private def allModes(view: LinkGraph => LinkGraph): (Array[Double], Array[Double], Array[Double]) = {
    val n = 50
    val rawPrior = Array.tabulate(n)(i => 0.001 + (i % 7) * 0.01)
    def priorDf = rawPrior.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vid", "value")
    val g = view(graphOf(rand50))
    val a = ranksArray(g, PageRank.run(g, tolerance = 1e-10, maxIterations = 100))
    val b = ranksArray(g, PageRank.runDangling(g, tolerance = 1e-10, maxIterations = 100))
    val c = ranksArray(g, PageRank.propagateRisk(g, priorDf, tolerance = 1e-10, maxIterations = 100))
    g.unpersistAll()
    (a, b, c)
  }

  test("distributed (chunk-shuffle) regime matches the resident regime in all three modes") {
    val (r1, d1, k1) = allModes(identity) // resident (n tiny)
    val (r2, d2, k2) = allModes(under(_, distributedOnly))
    assertAllClose(r2, r1, 1e-12)
    assertAllClose(d2, d1, 1e-12)
    assertAllClose(k2, k1, 1e-12)
  }

  test("driver-local gather matches the job-based resident kernel bit-for-bit") {
    val (r1, d1, k1) = allModes(identity) // driver-local gather (edges tiny)
    val (r2, d2, k2) = allModes(residentJob) // the broadcast+job+collect path
    // EXACT equality, not allClose: the local gather replays the identical
    // slice arithmetic and accumulation order, so every superstep — and
    // hence every rank — must be bit-for-bit the job path's
    assert(r1.toSeq == r2.toSeq)
    assert(d1.toSeq == d2.toSeq)
    assert(k1.toSeq == k2.toSeq)
  }

  test("distributed regime repeats itself exactly: same ranks and residuals on every run, in every mode") {
    // 8 blocks: the per-block residual and normalizer partials come back in
    // task-completion order, and must still add up in block order
    val n = 200
    val g = under(graphOf(DenseReference.randomEdges(n, 0.05, seed = 11), numBlocks = 8), distributedOnly)
    val priorDf = (0 until n).map(i => (i.toLong, 0.001 + (i % 7) * 0.01)).toDF("vid", "value")
    for (mode <- Seq(PageRankMode.ReferenceRenorm, PageRankMode.MolerDangling, PageRankMode.RiskPropagation)) {
      val cfg = PageRankConfig(tolerance = 0.0, maxIterations = 12, mode = mode,
        prior = if (mode == PageRankMode.RiskPropagation) Some(priorDf) else None)
      val runs = Seq.fill(4) {
        val o = new PageRankEngine(g, cfg).run()
        val r = (ranksArray(g, o).toSeq, o.metrics.map(_.residual))
        o.free()
        r
      }
      val distinct = runs.distinct.size
      assert(distinct == 1, s"$mode: distinct (ranks, residuals) in 4 runs")
    }
    g.unpersistAll()
  }

  test("distributed superstep never moves the adjacency: shuffle volume is rank-sized") {
    // Dense-ish graph: avg degree 50, so edge volume >> vertex volume. If a
    // superstep re-shuffled (or sort-merge-joined) the adjacency, per-superstep
    // shuffle rows would be O(edges); the co-partitioned zipPartitions design
    // bounds them by numBlocks·n pre-combined contribution rows.
    val n = 400
    val edges = DenseReference.randomEdges(n, 0.125, seed = 7)
    val g = under(graphOf(edges, numBlocks = 8), distributedOnly)
    val numEdges = g.numEdges
    assert(numEdges > 10000L, s"fixture should be dense, got $numEdges edges")

    // layout invariant: partition b of the cached adjacency holds ONLY block b
    val misplaced = g.adjPartsByBlock
      .mapPartitionsWithIndex { (pid, it) => it.filter(_._2.blockId != pid).map(_ => 1) }
      .count()
    assert(misplaced == 0L, "adjPartsByBlock must be identity-partitioned by blockId")

    val out = PageRank.run(g, damping = 0.85, tolerance = 0.0, maxIterations = 5)
    val steady = out.metrics.drop(1) // first superstep includes layout builds
    steady.foreach { m =>
      val bound = g.numBlocks.toLong * n
      assert(m.shuffleWriteRows <= bound,
        s"superstep ${m.superstep}: ${m.shuffleWriteRows} shuffle rows > contribution bound $bound")
      assert(m.shuffleWriteRows < numEdges / 2,
        s"superstep ${m.superstep}: shuffle rows ${m.shuffleWriteRows} scale with edges ($numEdges) — adjacency moved")
    }
    // and it is still exactly the reference kernel
    val (want, _, _, _) = DenseReference.pagerank(n, edges, 0.85, 0.0, 5)
    assertAllClose(ranksArray(g, out), want, 1e-12)
    out.free()
    g.unpersistAll()
  }

  test("a checkpointed run leaves the session conf alone: no job sees adaptive execution off") {
    // SQL jobs (the checkpoint commits) carry the session's set confs as job
    // properties; a marker job after the run flushes the in-order listener queue
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.test.marker") != null) flushed.countDown()
        else seen.add((e.properties.getProperty("spark.sql.session.timeZone"),
          e.properties.getProperty("spark.sql.adaptive.enabled")))
    }
    val g = graphOf(rand50)
    val dir = java.nio.file.Files.createTempDirectory("graft-conf").toString
    sc.addSparkListener(listener)
    try {
      PageRank.resume(g, PageRankConfig(tolerance = 0.0, maxIterations = 4, checkpointDir = Some(dir),
        checkpointEvery = 2)).free()
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    assert(jobs.exists(_._1 == "UTC"), "no job of the run carried the session's confs")
    assert(!jobs.exists(_._2 == "false"), s"${jobs.count(_._2 == "false")} jobs ran with AQE off")
    g.unpersistAll()
  }

  test("engine is single-shot: a second run fails fast with a clear message") {
    val g = graphOf(dupes)
    val engine = new PageRankEngine(g, PageRankConfig(0.85, 0.0, 3, PageRankMode.ReferenceRenorm))
    engine.run().free()
    val e = intercept[IllegalStateException](engine.run())
    assert(e.getMessage.contains("single-shot"), e.getMessage)
    g.unpersistAll()
  }

  test("slab budget flush: partial contribution slabs still sum to the exact kernel") {
    val n = 120
    val edges = DenseReference.randomEdges(n, 0.15, seed = 23)
    // distributed regime; flush after EVERY adjacency part
    val g = under(graphOf(edges, numBlocks = 6), ExecutionPolicy(driverBytes = 0L, taskBytes = 1L))
    val out = PageRank.run(g, damping = 0.85, tolerance = 0.0, maxIterations = 6)
    val (want, _, _, _) = DenseReference.pagerank(n, edges, 0.85, 0.0, 6)
    assertAllClose(ranksArray(g, out), want, 1e-12)
    out.free()
    g.unpersistAll()
  }

  test("dense-by-max id mode sizes the graph as max(id)+1 (original solver semantics)") {
    import graft.graph.LinkGraph.IdMode
    // contiguous ids: both modes must agree exactly
    val contiguous = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 0L))
    val gc = LinkGraph.fromEdgeList(spark, contiguous.toDF("src", "dst"), numBlocks = 2)
    val gd = LinkGraph.fromEdgeList(spark, contiguous.toDF("src", "dst"), numBlocks = 2,
      idMode = IdMode.DenseByMax)
    assert(gc.numVertices == 4 && gd.numVertices == 4)
    val rc = ranksArray(gc, PageRank.run(gc, tolerance = 0.0, maxIterations = 8))
    val rd = ranksArray(gd, PageRank.run(gd, tolerance = 0.0, maxIterations = 8))
    assertAllClose(rd, rc, 1e-12)
    gc.unpersistAll(); gd.unpersistAll()

    // sparse ids: dense-by-max keeps unreferenced ids as isolated vertices —
    // exactly original_pagerank/pagerank.py:161's n = max(id)+1 sizing
    val sparse = Seq((0L, 2L), (2L, 5L), (5L, 0L))
    val gs = LinkGraph.fromEdgeList(spark, sparse.toDF("src", "dst"), numBlocks = 2,
      idMode = IdMode.DenseByMax)
    assert(gs.numVertices == 6)
    val got = ranksArray(gs, PageRank.run(gs, tolerance = 0.0, maxIterations = 8))
    val (want, _, _, _) = DenseReference.pagerank(
      6, sparse.map { case (s, t) => (s.toInt, t.toInt, 1.0) }, 0.85, 0.0, 8)
    assertAllClose(got, want, 1e-12)
    // compacted relabels the same structure to 3 vertices; the linked
    // vertices' relative order is preserved under relabeling
    val gcs = LinkGraph.fromEdgeList(spark, sparse.toDF("src", "dst"), numBlocks = 2)
    assert(gcs.numVertices == 3)
    gs.unpersistAll(); gcs.unpersistAll()
  }

  test("cross-algorithm agreement: power iteration vs dense direct solve (reference §3.4)") {
    // strongly-connected fixtures (no dangling) — all three formulations agree
    for ((name, edges) <- Seq("twoCycle" -> twoCycle, "dupes" -> dupes)) {
      val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
      val g = graphOf(edges)
      val power = ranksArray(g, PageRank.run(g, tolerance = 1e-12, maxIterations = 500))
      val direct = DirectSolve.solve(n, edges)
      assertAllClose(power, direct, 1e-8)
      g.unpersistAll()
    }
  }

  test("Moler-dangling mode matches its dense kernel") {
    for ((name, edges) <- Seq("chain3" -> chain3, "hub" -> hub, "rand50" -> rand50)) {
      val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
      val g = graphOf(edges)
      val out = PageRank.runDangling(g, damping = 0.85, tolerance = 1e-10, maxIterations = 100)
      val want = DenseReference.pagerankDangling(n, edges, 0.85, 1e-10, 100)
      assertAllClose(ranksArray(g, out), want, 1e-9)
      g.unpersistAll()
    }
  }

  test("risk propagation matches its dense kernel (d=0.95, no renorm)") {
    for ((name, edges) <- Seq("dupes" -> dupes, "rand50" -> rand50)) {
      val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
      val g = graphOf(edges)
      val rawPrior = Array.tabulate(n)(i => 0.001 + (i % 7) * 0.01)
      val priorDf: DataFrame =
        rawPrior.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vid", "value")
      val out = PageRank.propagateRisk(g, priorDf, damping = 0.95, tolerance = 1e-10)
      val (want, _) = DenseReference.propagateRisk(n, edges, rawPrior, 0.95, 1e-10, 1000)
      assertAllClose(ranksArray(g, out), want, 1e-9)
      g.unpersistAll()
    }
  }

  test("ranks form a probability simplex and d=0 gives uniform ranks") {
    val g = graphOf(rand50)
    val x = ranksArray(g, PageRank.run(g, tolerance = 1e-10))
    assert(math.abs(x.sum - 1.0) < 1e-12)
    assert(x.forall(_ >= 0))
    val uniform = ranksArray(g, PageRank.run(g, damping = 0.0, tolerance = 1e-12, maxIterations = 10))
    uniform.foreach(v => assert(math.abs(v - 1.0 / 50) < 1e-12))
    g.unpersistAll()
  }

  test("duplicate edges act as integer weights (csc duplicate-summing semantics)") {
    // 0->1 listed 3x must equal weight-3 edge, not a deduped weight-1 edge
    val tripled = graphOf(Seq((0, 1, 3.0), (1, 2, 1.0), (2, 0, 1.0), (2, 1, 1.0)))
    val w = tripled.edges.collect().map(e => (e.src, e.dst) -> e.weight).toMap
    assert(w((0L, 1L)) == 3.0)
    tripled.unpersistAll()
  }

  test("vertex dictionary compacts non-contiguous ids deterministically (sorted order)") {
    val raw = Seq((100L, 7L), (7L, 4200L), (4200L, 100L)).toDF("src", "dst")
    val g = LinkGraph.fromEdgeList(spark, raw, numBlocks = 2)
    val dict = g.vertexDict.collect().map(m => m.extId -> m.vid).toMap
    assert(dict == Map(7L -> 0L, 100L -> 1L, 4200L -> 2L))
    g.unpersistAll()
  }

  test("permutation equivariance: relabeling vertices permutes ranks") {
    val edges = rand50
    val perm = new scala.util.Random(7).shuffle((0 until 50).toList).toArray
    val permuted = edges.map { case (s, t, w) => (perm(s), perm(t), w) }
    val g1 = graphOf(edges)
    val g2 = graphOf(permuted)
    val x1 = ranksArray(g1, PageRank.run(g1, tolerance = 1e-11, maxIterations = 300))
    val x2 = ranksArray(g2, PageRank.run(g2, tolerance = 1e-11, maxIterations = 300))
    for (v <- 0 until 50) assert(math.abs(x1(v) - x2(perm(v))) < 1e-9)
    g1.unpersistAll(); g2.unpersistAll()
  }
}
