package graft

import org.apache.spark.storage.StorageLevel

import graft.analytics.NetworkAnalytics
import graft.graph.{AdjacencySource, LinkGraph}
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, PrefixStudy, TriangleCount}
import graft.model.ExecutionPolicy
import graft.sources.RepoFiles

class GraphAlgoSpec extends GraftSuite {
  import spark.implicits._

  private def graphOf(
      edges: Seq[(Long, Long)], numBlocks: Int = 3, policy: ExecutionPolicy = ExecutionPolicy()): LinkGraph =
    LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = numBlocks, policy = policy)

  // 3 disjoint triangles + a 2-chain + 1 isolate-ish pair (FIXTURES.md g_islands)
  private val islands: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L))

  test("connected components: exact min-extId labels on disjoint islands") {
    val g = graphOf(islands)
    val got = ConnectedComponents.run(g)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .join(g.vertexDict.toDF("comp", "v2"), $"label" === $"v2")
      .select($"id", $"comp")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val want = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == want)
    g.unpersistAll()
  }

  test("connected components: direction is ignored (undirected semantics)") {
    // chain only in one direction: 5 -> 6 -> 7; all one component
    val g = graphOf(Seq((5L, 6L), (6L, 7L)))
    val labels = ConnectedComponents.run(g).select("label").distinct().count()
    assert(labels == 1)
    g.unpersistAll()
  }

  test("connected components: 3000-vertex chain converges in O(log n) star rounds") {
    // diameter 2999 — the naive min-label loop needs ~3000 supersteps here;
    // star contraction must finish in a handful of rounds or this throws.
    val g = graphOf((0 until 2999).map(i => (i.toLong, (i + 1).toLong)))
    val labels = ConnectedComponents.run(g, maxIterations = 25)
    assert(labels.select("label").distinct().count() == 1L)
    assert(labels.agg(org.apache.spark.sql.functions.max("label")).first().getLong(0) == 0L)
    g.unpersistAll()
  }

  test("connected components match brute-force union-find on a seeded random graph") {
    val rng = new scala.util.Random(11)
    val n = 300
    val edges = Seq.fill(260)((rng.nextInt(n).toLong, rng.nextInt(n).toLong)).distinct
    // driver-side union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var x = a; while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }; x }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a.toInt), find(b.toInt)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val wantRoot = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    // canonical = min member per root
    val minOfRoot = wantRoot.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    val want = wantRoot.map { case (v, r) => v -> minOfRoot(r) }

    val g = graphOf(edges)
    val dict = g.vertexDict.collect().map(m => m.vid -> m.extId).toMap
    val got = ConnectedComponents.run(g)
      .collect()
      .map(r => dict(r.getLong(0)) -> dict(r.getLong(1)))
      .toMap
    // compare only vertices that appear in the edge list (graph drops isolates)
    got.foreach { case (v, lbl) => assert(lbl == want(v), s"vertex $v") }
    g.unpersistAll()
  }

  test("induced prefix subgraph slices G[:k,:k]; prefix study cross-runs the solvers") {
    // prefix 0..19 is a directed 20-cycle; vertices 20..59 hang off it
    val cyc = (0 until 20).map(i => (i.toLong, ((i + 1) % 20).toLong))
    val tail = (20 until 60).map(i => (i.toLong, (i - 20).toLong))
    val g = graphOf(cyc ++ tail)
    assert(g.numVertices == 60)

    val sub = g.inducedPrefix(20)
    assert(sub.numVertices == 20)
    assert(sub.numEdges == 20, "induced prefix must keep exactly the in-prefix edges")
    // the 20-cycle is regular: every formulation gives uniform ranks
    val out = PageRank.run(sub, tolerance = 1e-12, maxIterations = 500)
    out.ranks.collect().flatMap(_.values).foreach(v => assert(math.abs(v - 1.0 / 20) < 1e-9))
    out.free()
    val direct = graft.algo.DirectSolve.solve(
      20, sub.edges.collect().map(e => (e.src.toInt, e.dst.toInt, e.weight)).toSeq)
    direct.foreach(v => assert(math.abs(v - 1.0 / 20) < 1e-9))
    sub.unpersistAll()

    val study = PrefixStudy.run(g, Seq(20L, Long.MaxValue), tolerance = 1e-8)
    assert(study.map(_.prefix).distinct.sorted == Seq(20L, 60L))
    assert(study.count(_.prefix == 20L) == 3, "pr1/pr2/pr3 on the small prefix")
    assert(study.forall(_.converged), study.mkString("; "))
    val full = study.filter(_.prefix == 60L)
    assert(full.forall(_.nodes == 60L) && full.forall(_.edges == g.numEdges))
    g.unpersistAll()
  }

  test("triangle counting: 3 islands of 1 triangle each; chain has none") {
    val g = graphOf(islands)
    assert(TriangleCount.totalTriangles(g) == 3)
    val per = TriangleCount.perVertexTriangles(g)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .select($"id", $"triangles")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per(0L) == 1 && per(11L) == 1 && per(22L) == 1)
    assert(per(30L) == 0 && per(31L) == 0)
    g.unpersistAll()
  }

  test("triangle counting matches brute force on a seeded random graph") {
    val edges = DenseReference.randomEdges(30, 0.15, seed = 7).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    // brute force over the undirected simple graph
    val und = edges.flatMap { case (a, b) => Seq((a min b, a max b)) }.filter(e => e._1 != e._2).distinct.toSet
    var brute = 0
    for (a <- 0L until 30L; b <- a + 1 until 30L; c <- b + 1 until 30L)
      if (und(( a, b)) && und((b, c)) && und((a, c))) brute += 1
    assert(TriangleCount.totalTriangles(g) == brute)
    g.unpersistAll()
  }

  test("clustering coefficient: full triangle vertices have coeff 1") {
    val g = graphOf(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    val cc = TriangleCount.clusteringCoefficients(g).collect()
    assert(cc.forall(_.getAs[Double]("clustering_coeff") == 1.0))
    g.unpersistAll()
  }

  test("LPA: two dense cliques joined by one weak edge separate into two communities") {
    val cliqueA = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- 10L to 14L if i < j) yield (i, j)
    val g = graphOf(cliqueA ++ cliqueB ++ Seq((4L, 10L)))
    val labels = LabelPropagation.run(g, iterations = 10)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .select($"id", $"label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aLabels = (0L to 4L).map(labels).toSet
    val bLabels = (10L to 14L).map(labels).toSet
    assert(aLabels.size == 1 && bLabels.size == 1 && aLabels != bLabels)
    g.unpersistAll()
  }

  test("LPA: zero-weight edges are absent — they cannot tie the w=0 self-vote") {
    // triangle 0-1-2 = stable community (label 0 by round 2); 3's ONLY edge
    // has weight 0 (fromDenseWeighted can carry such weights) — 3 must keep
    // its own label, not adopt 0 via the min-label tie-break against a
    // zero-weight neighbor vote tying the w=0 self-vote
    import graft.model.Edge
    val g = LinkGraph.fromDenseWeighted(
      spark,
      Seq(Edge(0L, 1L, 1.0), Edge(1L, 2L, 1.0), Edge(2L, 0L, 1.0), Edge(0L, 3L, 0.0)).toDS(),
      numVertices = 4L,
      numBlocks = 2)
    val labels = LabelPropagation.run(g, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(2L) == 0L)
    assert(labels(3L) == 3L, s"zero-weight neighbor must not relabel an isolated vertex: $labels")
    g.unpersistAll()
  }

  test("LPA is deterministic: same labels on repeated runs") {
    val edges = DenseReference.randomEdges(40, 0.1, seed = 11).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def run() = LabelPropagation.run(g, 5).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(run() == run())
    g.unpersistAll()
  }

  test("LPA takes its label broadcast from the policy: none under distributedOnly") {
    // a session of its own with the planner's size-based broadcasts off, so
    // the only broadcast left is LPA's own hint; the shared session is untouched
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val edges = DenseReference.randomEdges(40, 0.1, seed = 11).map(e => (e._1.toLong, e._2.toLong))
    val g = LinkGraph.fromEdgeList(s, s.createDataFrame(edges).toDF("src", "dst"), numBlocks = 3)
    def broadcastJobs(policy: ExecutionPolicy): Int = {
      val (_, ran) = recorded(LabelPropagation.run(under(g, policy), 3).collect())
      val tags = ran.jobs.map(p => String.valueOf(p.getProperty("spark.job.tags")))
      tags.count(_.contains("broadcast exchange")) // the tag Spark gives that job
    }
    // distributed supersteps with the n-row label frame under the budget: hinted
    assert(broadcastJobs(ExecutionPolicy(driverBytes = g.numVertices * 16 + 1)) > 0)
    assert(broadcastJobs(distributedOnly) == 0)
    g.unpersistAll()
  }

  test("CC driver-resident regime matches the star-contraction labels exactly") {
    val edges = DenseReference.randomEdges(120, 0.02, seed = 23).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf(g: LinkGraph) =
      ConnectedComponents.run(g).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf(g) // default policy: resident at this size
    val distributed = labelsOf(under(g, distributedOnly))
    assert(resident == distributed)
    g.unpersistAll()
  }

  test("triangle driver-resident regime matches the distributed self-join exactly") {
    val edges = DenseReference.randomEdges(120, 0.06, seed = 41).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def triOf(g: LinkGraph) = TriangleCount.perVertexTriangles(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    def ccOf(g: LinkGraph) = TriangleCount.clusteringCoefficients(g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val (triRes, ccRes) = (triOf(g), ccOf(g)) // default policy: resident at this size
    val d = under(g, distributedOnly)
    assert(triRes == triOf(d))
    assert(ccRes == ccOf(d)) // exact incl. the double coeff: identical op sequence
    val total = TriangleCount.totalTriangles(g)
    assert(total > 0 && total == TriangleCount.totalTriangles(d) && total * 3 == triRes.map(_._2).sum)
    d.unpersistAll()
    g.unpersistAll()
  }

  /** Per-vertex (triangles, simple degree) of the undirected simple graph of
    * `edges` over vids 0 until n: self-loops dropped, weights ignored.
    */
  private def bruteTriangles(n: Int, edges: Seq[graft.model.Edge]): (Seq[Long], Seq[Long]) = {
    val adj = Array.fill(n)(Set.empty[Int])
    edges.filter(e => e.src != e.dst).foreach { e =>
      adj(e.src.toInt) += e.dst.toInt; adj(e.dst.toInt) += e.src.toInt
    }
    val tri = adj.map(nb => nb.toSeq.map(a => (nb & adj(a)).size.toLong).sum / 2)
    (tri.toSeq, adj.map(_.size.toLong).toSeq)
  }

  test("resident triangle kernels equal brute force and the distributed twins: bitset around word edges, sparse compact-forward") {
    import graft.model.{Edge, VertexMapping}
    val rng = new scala.util.Random(97)
    // dense graphs whose row length straddles one and two words: self-loops,
    // duplicate rows and both orientations; 0-2 is only a zero-weight edge and
    // closes the triangle 0-1-2, and 3-4 only a −1/+1 pair
    def dense(n: Int): Seq[Edge] = {
      val random = for {
        s <- 0 until n; d <- 0 until n
        if rng.nextDouble() < 0.3 && !Set(Set(0, 2), Set(3, 4))(Set(s, d))
      } yield Edge(s, d, 1)
      val dups = random.take(n) ++ Seq.tabulate(5)(i => Edge(10 + i, 10 + i, 2))
      random ++ dups ++ Seq(Edge(0, 1, 1), Edge(1, 2, 1), Edge(0, 2, 0), Edge(3, 4, -1), Edge(4, 3, 1))
    }
    // a band of width 40 over 192 vertices: most rows span one or two of
    // their three words
    val band = for (s <- 0 until 192; d <- s + 1 to (s + 40 min 191) if rng.nextDouble() < 0.5) yield Edge(s, d, 1)
    // 2,000 vertices and 3,000 edges: n² bits cost more than the CSR
    val sparse = Seq.fill(3000)(Edge(rng.nextInt(2000), rng.nextInt(2000), 1)) ++
      Seq(Edge(5, 5, 1), Edge(6, 7, 1), Edge(6, 7, 1), Edge(7, 6, 1))
    val graphs = Seq(63, 64, 65, 128, 129).map(n => (n, dense(n), true)) ++
      Seq((192, band, true), (2000, sparse, false))
    for ((n, edges, bitset) <- graphs) {
      val dict = spark.range(0, n, 1, 2).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
      val g = new LinkGraph(spark, dict, edges.toDS(), n, 3, (n + 2) / 3)
      val d = under(g, distributedOnly)
      assert(g.residentOperators && TriangleCount.bitsetKernel(g) == bitset, s"n=$n")
      val (tri, deg) = bruteTriangles(n, edges)
      def byVid(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      val per = byVid(TriangleCount.perVertexTriangles(g))
      val clustering = byVid(TriangleCount.clusteringCoefficients(g))
      assert(per.map(_(1)) == tri, s"n=$n")
      assert(clustering.map(r => (r(1), r(2))) == tri.zip(deg), s"n=$n")
      assert(clustering.map(_(3)) == tri.zip(deg).map { case (t, k) => if (k >= 2) 2.0 * t / (k * (k - 1)) else 0.0 })
      assert(TriangleCount.totalTriangles(g) == tri.sum / 3)
      assert(per == byVid(TriangleCount.perVertexTriangles(d)), s"n=$n")
      assert(clustering == byVid(TriangleCount.clusteringCoefficients(d)), s"n=$n")
      assert(TriangleCount.totalTriangles(d) == tri.sum / 3)
      g.unpersistAll()
    }
  }

  /** Sparse signed 64-bit ids (negatives, values past 2³², both extremes) over
    * 4 blocks of 10 vids. The 10 smallest ids are only ever sources, so
    * block 0 has no in-edges; duplicate pairs fold into weights.
    */
  private val signedIds: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(83)
    val ids = (Seq(Long.MinValue + 5, -(1L << 40), -1L, 0L, (1L << 32) + 7, Long.MaxValue - 3) ++
      Seq.fill(60)(rng.nextLong() >> rng.nextInt(40))).distinct.take(40).sorted
    val (srcOnly, rest) = ids.splitAt(10)
    val ring = rest.zip(rest.tail :+ rest.head)
    val fromSrcOnly = srcOnly.flatMap(s => Seq.fill(3)((s, rest(rng.nextInt(rest.length)))))
    val random = Seq.fill(120)((ids(rng.nextInt(ids.length)), rest(rng.nextInt(rest.length))))
    ring ++ fromSrcOnly ++ random
  }

  /** The distributed fold and dictionary (block-laid edges from the routed
    * remap) of `build`, viewed under the default policy: layouts, ranks and
    * operators as for a resident build.
    */
  private def routedBuild(build: ExecutionPolicy => LinkGraph): LinkGraph = {
    val b = under(build(distributedOnly), ExecutionPolicy())
    assert(b.source.isInstanceOf[AdjacencySource.BlockLaid])
    b
  }

  private def partsOf(ps: Array[graft.model.AdjPart]) = ps
    .map(p => (p.blockId, p.partId, p.keys.toSeq, p.offsets.toSeq, p.adj.toSeq, p.wNorm.toSeq))
    .sortBy(t => (t._1, t._2)).toSeq

  /** Dst-major and gather parts, both compared bit-for-bit (incl. wNorm). */
  private def layoutsOf(g: LinkGraph) =
    (partsOf(g.adjParts.collect()), partsOf(g.gatherPartsRdd.collect()))

  private def dictOf(g: LinkGraph) =
    g.vertexDict.collect().map(m => (m.extId, m.vid)).sortBy(_._1).toSeq

  private def edgesOf(g: LinkGraph) =
    g.edges.collect().map(e => (e.src, e.dst, e.weight)).sorted.toSeq

  private def ranksOf(g: LinkGraph) = {
    val out = PageRank.run(g, tolerance = 0.0, maxIterations = 6)
    val v = out.toVertexDf(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    out.free(); v
  }

  test("driver-resident build finish produces the identical graph") {
    val rng = new scala.util.Random(47)
    // sparse external ids (gaps + duplicates) exercise dictionary compaction
    val sparse = Seq.fill(400)((rng.nextInt(5000).toLong * 7, rng.nextInt(5000).toLong * 7))
    for ((edges, blocks) <- Seq((sparse, 0), (signedIds, 4))) {
      val a = graphOf(edges, numBlocks = blocks) // default policy: the whole build on the driver
      val b = routedBuild(graphOf(edges, blocks, _))
      assert(a.numVertices == b.numVertices && a.numBlocks == b.numBlocks)
      assert(dictOf(a) == dictOf(b))
      assert(edgesOf(a) == edgesOf(b))
      assert(layoutsOf(a) == layoutsOf(b))
      // ranks bit-identical through the whole downstream pipeline
      assert(ranksOf(a) == ranksOf(b))
      a.unpersistAll(); b.unpersistAll()
    }
  }

  test("driver-assembled adjacency parts match the cluster build bit-for-bit") {
    val random = DenseReference.randomEdges(150, 0.05, seed = 53).map(e => (e._1.toLong, e._2.toLong))
    for ((edges, blocks) <- Seq((random, 3), (signedIds, 4))) {
      val a = graphOf(edges, blocks) // default policy: driver-assembled
      val want = (layoutsOf(a), ranksOf(a))
      // cluster kernel over edges routed by dst block (resident fold), then
      // over the routed remap's block-laid edge cache
      for (fold <- Seq(false, true)) {
        val base = if (fold) graphOf(edges, blocks, distributedOnly) else a
        val b = residentJob(base)
        assert(b.source.isInstanceOf[AdjacencySource.BlockLaid] == fold)
        val got = (layoutsOf(b), ranksOf(b))
        b.unpersistAll()
        assert(got == want) // identical keys/offsets/adjacency AND wNorm doubles
      }
      if (edges == signedIds) {
        val (dst, gather) = want._1
        assert(!dst.exists(_._1 == 0), "block 0 has no in-edges")
        assert(gather.exists(_._1 == 0))
      }
      a.unpersistAll()
    }
  }

  test("routed fold is exact across map tasks: a pair in every partition, empty partitions, an empty run") {
    val p = spark.sparkContext.defaultParallelism
    val hot = (-3L, 1L << 40)
    val rng = new scala.util.Random(37)
    val random = Seq.fill(300)((rng.nextInt(400).toLong * 11 - 900, rng.nextInt(400).toLong * 11 - 900))
    // round-robin spreads the p consecutive copies of `hot` (and of two more
    // pairs of its src, which keep its copies apart in every task's rows) over
    // all p partitions of the repartition; the union adds 3 empty partitions
    val hotSrc = Seq(hot, (hot._1, 5L), (hot._1, 1L << 41))
    val spread = hotSrc.flatMap(Seq.fill(p)(_)).toDF("src", "dst").coalesce(1)
      .union(random.toDF("src", "dst")).repartition(p)
      .union(spark.sparkContext.parallelize(Seq.empty[(Long, Long)], 3).toDF("src", "dst"))
    val hotPerPartition =
      spread.rdd.mapPartitions(it => Iterator.single(it.count(r => (r.getLong(0), r.getLong(1)) == hot)))
    assert(hotPerPartition.collect().toSeq == Seq.fill(p)(1) ++ Seq.fill(3)(0))
    // two ids: p − 1 > 2 splitters drawn from two sampled values repeat, so a
    // dictionary run is empty
    assert(p >= 4)
    val twoIds =
      Seq((7L, -7L), (-7L, 7L), (7L, -7L), (7L, 7L), (-7L, 7L), (7L, -7L)).toDF("src", "dst").repartition(p)
    for ((raw, blocks) <- Seq((spread, 3), (twoIds, 2))) {
      val a = LinkGraph.fromEdgeList(spark, raw, numBlocks = blocks) // the resident fold
      val b = routedBuild(p => LinkGraph.fromEdgeList(spark, raw, numBlocks = blocks, policy = p))
      assert(a.source.isInstanceOf[AdjacencySource.Resident]) // one resident, one routed build
      assert(a.numVertices == b.numVertices && a.numEdges == b.numEdges)
      assert(dictOf(a) == dictOf(b))
      assert(edgesOf(a) == edgesOf(b))
      assert(layoutsOf(a) == layoutsOf(b))
      assert(ranksOf(a) == ranksOf(b))
      if (raw eq spread) { // `random` never draws these ids
        val vid = dictOf(b).toMap
        val hotEdges = edgesOf(b).filter(_._1 == vid(hot._1))
        assert(hotEdges.map(e => (e._2, e._3)) == hotSrc.map(e => (vid(e._2), p.toDouble)).sorted)
      } else assert(edgesOf(b).map(_._3).sorted == Seq(1.0, 2.0, 3.0))
      a.unpersistAll(); b.unpersistAll()
    }
    // pre-folded, fractional weights: the resident fold summing weights
    // against the same scan, dictionary and route 1 (no copies to sum)
    val folded = signedIds.distinct.zipWithIndex.map { case ((s, d), i) => (s, d, 0.25 + i % 7) }
      .toDF("src", "dst", "weight").repartition(p)
    val a = LinkGraph.fromFoldedEdgeList(spark, folded, numBlocks = 4)
    val b = routedBuild(p => LinkGraph.fromFoldedEdgeList(spark, folded, numBlocks = 4, policy = p))
    assert(a.source.isInstanceOf[AdjacencySource.Resident])
    assert(dictOf(a) == dictOf(b))
    assert(edgesOf(a) == edgesOf(b))
    assert(layoutsOf(a) == layoutsOf(b))
    assert(ranksOf(a) == ranksOf(b))
    a.unpersistAll(); b.unpersistAll()
  }

  /** A repo-file row whose content imports `libNNN` for each of `tokens`, in `lang`'s syntax. */
  private def repoFile(repo: String, path: String, lang: String, tokens: Int*) = {
    def line(t: Int) = {
      val lib = f"lib$t%03d"
      lang match {
        case "scala" => s"import $lib._"
        case "python" => s"import $lib"
        case "java" => s"import $lib.*;"
        case "go" => s"import \"$lib\""
      }
    }
    (repo, path, "c0", lang, ("// fixture" +: tokens.map(line)).mkString("\n"))
  }

  /** [[RepoFiles.linkGraph]] built under `policy`. */
  private def repoGraph(files: org.apache.spark.sql.DataFrame, cap: Int, policy: ExecutionPolicy): LinkGraph =
    LinkGraph.fromScan(spark, RepoFiles.halfPairs(files, cap), numBlocks = 0, policy, mirror = true)

  test("repo graph equals the fold of the shared-pattern self-join: cap edges, lone repos, duplicate imports") {
    // cap 3: lib001 is in exactly 3 repos (kept), lib002 in 4 (dropped);
    // rE's only token is its own and rF's only token is lib002, so neither
    // becomes a vertex; rA imports lib003 twice in one file and again in another
    val fixture = Seq(
      repoFile("rA", "f0.scala", "scala", 1, 2, 3, 3),
      repoFile("rA", "f1.java", "java", 3, 4),
      repoFile("rB", "f0.py", "python", 1, 2, 3),
      repoFile("rC", "f0.go", "go", 1),
      repoFile("rD", "f0.java", "java", 2, 4),
      repoFile("rE", "f0.scala", "scala", 9),
      repoFile("rF", "f0.go", "go", 2)
    ).toDF("repo", "path", "commit", "lang", "content").repartition(3)
    val generated = RepoFiles.table(spark, numRepos = 60, filesPerRepo = 3, vocab = 40)
    for ((files, cap) <- Seq((fixture, 3), (generated, 12))) {
      val want = LinkGraph.fromEdgeList(spark, SharedPatterns.sharedPatternEdges(files, cap))
      val a = RepoFiles.linkGraph(spark, files, cap) // the driver fold and mirror
      val b = routedBuild(repoGraph(files, cap, _))
      assert(a.source.isInstanceOf[AdjacencySource.Resident])
      for (g <- Seq(a, b)) {
        assert(g.numVertices == want.numVertices && g.numEdges == want.numEdges && g.numBlocks == want.numBlocks)
        assert(dictOf(g) == dictOf(want))
        assert(edgesOf(g) == edgesOf(want))
      }
      assert(layoutsOf(a) == layoutsOf(b))
      assert(ranksOf(a) == ranksOf(b))
      if (files eq fixture) {
        val id = SharedPatterns.repoIdMap(files).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val vid = dictOf(a).toMap
        assert(vid.keySet == Set("rA", "rB", "rC", "rD").map(id))
        val half = Seq(("rA", "rB", 2.0), ("rA", "rC", 1.0), ("rB", "rC", 1.0), ("rA", "rD", 1.0))
          .map { case (x, y, w) => (vid(id(x)), vid(id(y)), w) }
        assert(edgesOf(a) == (half ++ half.map(e => (e._2, e._1, e._3))).sorted)
      }
      want.unpersistAll(); a.unpersistAll(); b.unpersistAll()
    }
  }

  test("repo graph computes each file partition once and leaves no cache behind") {
    val table = RepoFiles.table(spark, numRepos = 40, filesPerRepo = 3, vocab = 30)
    val rows = table.collect().toSeq
    val parts = 5
    for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
      val (_, left) = persistedBy {
        val scanned = spark.sparkContext.collectionAccumulator[Int]("scanned partitions")
        val files = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, parts).mapPartitionsWithIndex { (k, it) => scanned.add(k); it },
          table.schema)
        val g =
          if (policy == ExecutionPolicy()) RepoFiles.linkGraph(spark, files, maxReposPerToken = 20)
          else repoGraph(files, 20, policy)
        g.adjParts.count(); g.gatherPartsRdd.count(); g.degreeTable.count(); g.numEdges
        import scala.jdk.CollectionConverters._
        assert(scanned.value.asScala.toSeq.map(_.intValue).sorted == (0 until parts))
        assert(g.source.isInstanceOf[AdjacencySource.Resident] == (policy == ExecutionPolicy()))
        g.unpersistAll()
      }
      assert(left.isEmpty, s"left cached ($policy): ${left.values.mkString(", ")}")
    }
  }

  test("the build runs no job after its collect, or one store job after route 2, and caches no frame") {
    val rng = new scala.util.Random(91)
    val raw = spark.sparkContext.parallelize(Seq.fill(600)((rng.nextInt(300).toLong * 5, rng.nextInt(300) - 150L)), 4)
      .toDF("src", "dst")
    val table = RepoFiles.table(spark, numRepos = 40, filesPerRepo = 3, vocab = 30)
    val files = spark.createDataFrame(spark.sparkContext.parallelize(table.collect().toSeq, 3), table.schema)
    // resident: the scan's count and its collect; routed: the scan's count,
    // the splitter samples, the run lengths, the folded count, the block
    // boundaries and the one job that materializes route 2's store
    val builds = Seq(
      ("resident edge list", () => LinkGraph.fromEdgeList(spark, raw), 2),
      ("resident repo graph", () => RepoFiles.linkGraph(spark, files, maxReposPerToken = 20), 2),
      ("routed edge list", () => LinkGraph.fromEdgeList(spark, raw, policy = distributedOnly), 6),
      ("routed repo graph", () => repoGraph(files, 20, distributedOnly), 6))
    for ((tag, build, want) <- builds) {
      val (g, ran) = recorded(build())
      assert(ran.jobs.length == want, s"$tag: ${ran.jobs.length} jobs")
      assert(g.source.isInstanceOf[AdjacencySource.BlockLaid] == (want == 6), tag)
      // the session's cache manager holds no entry for either view
      assert(g.vertexDict.storageLevel == StorageLevel.NONE && g.edges.storageLevel == StorageLevel.NONE, tag)
      g.unpersistAll()
    }
  }

  test("dense-by-max build: one job packs the store and bounds every row's ids, weight <= 0 rows included") {
    val rows = Seq((0L, 1L, 2.0), (1L, 3L, 1.0), (3L, 7L, 0.0), (5L, 2L, -1.0), (2L, 0L, 0.5))
    val folded = spark.sparkContext.parallelize(rows, 3).toDF("src", "dst", "weight")
    val ((g, ran), stored) = persistedBy(recorded(
      LinkGraph.fromFoldedEdgeList(spark, folded, numBlocks = 2, idMode = LinkGraph.IdMode.DenseByMax)))
    // n = max(id) + 1 over every row: id 7 comes from a weight-0 row
    assert(g.numVertices == 8 && g.numEdges == 3)
    assert(g.edges.collect().map(e => (e.src, e.dst, e.weight)).sorted.toSeq ==
      Seq((0L, 1L, 2.0), (1L, 3L, 1.0), (2L, 0L, 0.5)))
    // one job and no SQL execution: no cached frame, no bounds aggregate
    assert(ran.jobs.length == 1 && ran.plans.isEmpty, s"${ran.jobs.length} jobs, ${ran.plans}")
    assert(stored.keySet == Set(g.source.asInstanceOf[AdjacencySource.Keyed].store.edges.id), s"$stored")
    g.unpersistAll()
    for ((input, message) <- Seq(
        Seq.empty[(Long, Long, Double)] -> "dense-by-max graph needs at least one edge",
        Seq((0L, 1L, 1.0), (-2L, 1L, 0.0)) -> "dense-by-max ids must be non-negative")) {
      val (e, left) = persistedBy(intercept[IllegalArgumentException](LinkGraph.fromFoldedEdgeList(
        spark, input.toDF("src", "dst", "weight"), idMode = LinkGraph.IdMode.DenseByMax)))
      assert(e.getMessage.contains(message), e.getMessage)
      assert(left.isEmpty, s"a refused build left $left persisted")
    }
  }

  test("above the fold cap the build scans its input once and collects no raw pairs") {
    val rng = new scala.util.Random(29)
    val pairs = Seq.fill(500)((rng.nextInt(200).toLong * 3, rng.nextInt(200).toLong * 3))
    val parts = 5
    // 32 B per raw pair: exactly |pairs| pairs fill the budget, one byte more fits them
    for (driverBytes <- Seq(pairs.length * 32L, pairs.length * 32L + 1)) {
      val scanned = spark.sparkContext.collectionAccumulator[Int]("scanned partitions")
      val input = spark.sparkContext.parallelize(pairs, parts)
        .mapPartitionsWithIndex { (k, it) => scanned.add(k); it }
        .toDF("src", "dst")
      val g = LinkGraph.fromEdgeList(spark, input, numBlocks = 3, policy = ExecutionPolicy(driverBytes))
      g.adjParts.count(); g.degreeTable.count(); g.numEdges // later reads hit the graph's own caches
      import scala.jdk.CollectionConverters._
      assert(scanned.value.asScala.toSeq.map(_.intValue).sorted == (0 until parts))
      // over the budget the routed build, with no driver copy of the pairs;
      // under it the resident fold of the collected scan
      val routed = driverBytes == pairs.length * 32L
      assert(g.source.isInstanceOf[AdjacencySource.BlockLaid] == routed)
      assert(g.source.isInstanceOf[AdjacencySource.Resident] == !routed)
      g.unpersistAll()
    }
  }

  test("per-block kernel sorts, normalizes per destination and splits at the part cap") {
    // block 1 of a blockSize-10 graph: slot 3 (vid 13) has 5 in-edges, slot 7 has 2
    val rows = new LinkGraph.Rows(packed = true)
    Seq((3, 9L, 1.0), (7, 2L, 2.0), (3, 5L, 1.0), (3, 7L, 2.0), (7, 1L, 2.0), (3, 6L, 1.0), (3, 8L, 3.0))
      .foreach { case (slot, src, w) => rows.add((slot.toLong << 32) | src, w) }
    val parts = LinkGraph.blockParts(1, rows, normalize = true, cap = 3)
    // slot 3's run (in-degree 8) continues in the second part
    assert(partsOf(parts) == Seq(
      (1, 0, Seq(3), Seq(0, 3), Seq(5L, 6L, 7L), Seq(1.0 / 8, 1.0 / 8, 2.0 / 8)),
      (1, 1, Seq(3, 7), Seq(0, 2, 3), Seq(8L, 9L, 1L), Seq(3.0 / 8, 1.0 / 8, 2.0 / 4)),
      (1, 2, Seq(7), Seq(0, 1), Seq(2L), Seq(2.0 / 4))))
    // uncapped (and already sorted now): one part, the concatenation; no
    // normalizing keeps the values as they are
    val whole = LinkGraph.blockParts(1, rows, normalize = false, cap = 100)
    assert(partsOf(whole) == Seq((1, 0, Seq(3, 7), Seq(0, 5, 7),
      Seq(5L, 6L, 7L, 8L, 9L, 1L, 2L), parts.flatMap(_.wNorm).toSeq)))
  }

  test("dualSort keeps a shallow stack on an adversarial key order") {
    // McIlroy's adversary ("A killer adversary for quicksort", 1999) answers
    // the comparisons of the sort's own pivot and partition steps, fixing
    // values so that every pivot lands at the low end of its range: the keys
    // it leaves drive the median-of-three quicksort to n/4-deep recursion
    // when both sides recurse.
    val n = 20000
    val gas = n.toLong
    val value = Array.fill(n)(gas)
    var solid = 0L
    var candidate = 0
    def cmp(x: Int, y: Int): Int = {
      if (value(x) == gas && value(y) == gas) {
        if (x == candidate) value(x) = solid else value(y) = solid
        solid += 1
      }
      if (value(x) == gas) candidate = x else if (value(y) == gas) candidate = y
      java.lang.Long.compare(value(x), value(y))
    }
    val a = Array.range(0, n) // position → item
    def swap(i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
    val todo = scala.collection.mutable.Stack((0, n - 1))
    while (todo.nonEmpty) {
      val (lo, hi) = todo.pop()
      if (hi - lo < 32) {
        var i = lo + 1
        while (i <= hi) {
          val k = a(i); var j = i - 1
          while (j >= lo && cmp(a(j), k) > 0) { a(j + 1) = a(j); j -= 1 }
          a(j + 1) = k; i += 1
        }
      } else {
        val mid = (lo + hi) >>> 1
        if (cmp(a(mid), a(lo)) < 0) swap(mid, lo)
        if (cmp(a(hi), a(lo)) < 0) swap(hi, lo)
        if (cmp(a(hi), a(mid)) < 0) swap(hi, mid)
        val pivot = a(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (cmp(a(i), pivot) < 0) i += 1
          while (cmp(a(j), pivot) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) todo.push((lo, j))
        if (i < hi) todo.push((i, hi))
      }
    }
    val keys = value.clone() // item i starts at position i
    val vals = keys.map(_.toDouble)
    var failure: Throwable = null
    // a 256 KB stack holds a few thousand sort frames, far below n/4
    val t = new Thread(null, () =>
      try LinkGraph.dualSort(keys, vals, 0, n - 1) catch { case e: Throwable => failure = e },
      "dualSort", 256L * 1024)
    t.start(); t.join()
    assert(failure == null, s"dualSort failed: $failure")
    assert(keys.toSeq == value.sorted.toSeq)
    assert(vals.toSeq == keys.map(_.toDouble).toSeq)
  }

  test("unpersistAll leaves no cached RDD of the graph behind") {
    val edges = DenseReference.randomEdges(120, 0.05, seed = 71).map(e => (e._1.toLong, e._2.toLong))
    val builds = Seq[(String, () => LinkGraph)](
      "resident" -> (() => graphOf(edges)),
      "routed" -> (() => graphOf(edges, policy = distributedOnly)),
      "dense-by-max" -> (() => LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = 3,
        idMode = LinkGraph.IdMode.DenseByMax)))
    for ((tag, build) <- builds) {
      val (outputs, left) = persistedBy {
        // the build persists its store and nothing else: the routed build's
        // dictionary runs and edge batches, dense-by-max its edge batches (its
        // identity runs are computed when read); the resident fold's are driver slices
        val (g, stored) = persistedBy(build())
        val store = g.source match {
          case AdjacencySource.BlockLaid(s) => Set(s.runs.id, s.edges.id)
          case AdjacencySource.Keyed(s) => Set(s.edges.id)
          case _ => Set.empty[Int]
        }
        assert(stored.keySet == store && store.nonEmpty == (tag != "resident"), s"$tag: $stored")
        g.adjParts.count(); g.adjPartsByBlock.count(); g.gatherPartsRdd.count(); g.gatherPartsLocal
        val degrees = degreeRows(g)
        val ranks = PageRank.run(g, tolerance = 0.0, maxIterations = 2)
        def values(o: graft.engine.PageRankOutcome) = o.ranks.collect().sortBy(_.blockId).flatMap(_.values).toSeq
        val rankValues = values(ranks)
        // a view over g's own frames borrows g's store: releasing the view
        // leaves the store, g's degree table and g's layouts as they were
        val view = new LinkGraph(spark, g.vertexDict, g.edges, g.numVertices, g.numBlocks, g.blockSize)
        view.degreeTable.count(); view.adjParts.count()
        view.unpersistAll()
        assert(store.subsetOf(spark.sparkContext.getPersistentRDDs.keySet), s"$tag: the view released g's store")
        assert(degreeRows(g) == degrees, tag)
        val again = PageRank.run(g, tolerance = 0.0, maxIterations = 2)
        assert(values(again) == rankValues, tag)
        again.free()
        // resident outputs hold nothing; distributed ones are released with the
        // graph while the caller still holds them (the context tracks persisted
        // RDDs weakly, so a dropped output would hide its pin)
        val outputs = Seq(ConnectedComponents.run(g), LabelPropagation.run(g, 4), TriangleCount.perVertexTriangles(g),
          TriangleCount.clusteringCoefficients(g), NetworkAnalytics.compositeRisk(g),
          NetworkAnalytics.keyProviders(g, ranks.toVertexDf(g)))
        outputs.foreach(_.collect())
        ranks.free()
        g.unpersistAll()
        outputs
      }
      assert(left.isEmpty, s"left cached ($tag): ${left.values.mkString(", ")}")
      assert(outputs.length == 6) // the outputs stay reachable until the check
    }
  }

  test("degree table equals driver sums of the edges exactly, fractional weights too") {
    val ints = graphOf(DenseReference.randomEdges(140, 0.05, seed = 61).map(e => (e._1.toLong, e._2.toLong)))
    val rng = new scala.util.Random(62)
    val n = 90L
    // fractional weights over 5 input slices: many vertices get partial sums
    // from several map tasks, so the order of the additions shows in the bits
    val weighted = spark.createDataset(spark.sparkContext.parallelize(
      Seq.fill(700)(graft.model.Edge(rng.nextInt(90).toLong, rng.nextInt(90).toLong, rng.nextDouble() * 3)), 5))
    val fractional = LinkGraph.fromDenseWeighted(spark, weighted, n, numBlocks = 4)
    for (g <- Seq(ints, fractional)) {
      val want = degreeReference(g)
      for (view <- Seq(g, under(g, distributedOnly))) {
        // rows come out vid-ascending in the dictionary's own partitions
        assert(degreeRows(view) == want)
        assert(view.degreeTable.rdd.getNumPartitions == g.vertexDict.rdd.getNumPartitions)
        view.degreeTable.unpersist()
      }
    }
    assert(degreeReference(fractional).exists(r => r._3 != math.rint(r._3)), "the weights must be fractional")
    // a 1-byte task budget flushes a task's slabs at every slab it starts:
    // integer sums stay exact in any grouping
    val flushing = under(ints, ExecutionPolicy(taskBytes = 1L))
    assert(degreeRows(flushing) == degreeReference(ints))
    flushing.degreeTable.unpersist()
    ints.unpersistAll(); fractional.unpersistAll()
  }

  test("degree table rejects a dictionary that is not laid out in contiguous vid runs") {
    val g = graphOf(DenseReference.randomEdges(60, 0.08, seed = 63).map(e => (e._1.toLong, e._2.toLong)))
    import org.apache.spark.sql.functions.desc
    for (dict <- Seq(g.vertexDict.repartition(3), g.vertexDict.orderBy(desc("vid")), g.vertexDict.filter($"vid" =!= 7L))) {
      val view = new LinkGraph(spark, dict, g.edges, g.numVertices, g.numBlocks, g.blockSize)
      val e = intercept[IllegalArgumentException](view.degreeTable)
      assert(e.getMessage.contains("contiguous ascending vid runs"), e.getMessage)
    }
    g.unpersistAll()
  }

  test("resident operators equal their distributed twins on public-constructor weights") {
    import graft.model.{Edge, VertexMapping}
    // a triangle 0-1-2; a self-loop on 3; both orientations of 3-4 (2 and 3);
    // a duplicate row 4→5; a zero-weight 5-6 and a 4-6 closing the triangle
    // 4-5-6; a pair 6-7 whose orientations carry −1 and +1; 8 isolated
    val edges = Seq(Edge(0, 1, 1), Edge(1, 2, 1), Edge(2, 0, 1), Edge(3, 3, 2), Edge(3, 4, 2), Edge(4, 3, 3),
      Edge(4, 5, 1), Edge(4, 5, 1), Edge(5, 6, 0), Edge(4, 6, 1), Edge(6, 7, -1), Edge(7, 6, 1))
    val dict = spark.range(0, 9, 1, 2).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
    val g = new LinkGraph(spark, dict, edges.toDS(), 9, 3, 3)
    val d = under(g, distributedOnly)
    assert(g.residentOperators && !d.residentOperators)
    def byVid(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    def outputs(v: LinkGraph) = Seq(
      byVid(ConnectedComponents.run(v)),
      byVid(LabelPropagation.run(v, 4)),
      byVid(TriangleCount.perVertexTriangles(v)),
      byVid(TriangleCount.clusteringCoefficients(v)),
      Seq(Seq(TriangleCount.totalTriangles(v))))
    val (want, got) = (outputs(d), outputs(g))
    want.zip(got).zipWithIndex.foreach { case ((w, r), i) => assert(r == w, s"output $i") }
    val lpa = got(1).map(r => r(1)).toIndexedSeq
    assert(lpa(7) == 7L, s"a pair whose weights sum to 0 is absent: $lpa")
    assert(got(2).map(r => r(1)) == Seq(1L, 1L, 1L, 0L, 1L, 1L, 1L, 0L, 0L), "self-loops never close a triangle")
    assert(got(4) == Seq(Seq(2L)))
    g.unpersistAll()
  }

  test("the resident operators charge vertices: a dense-by-max graph with a large max id runs distributed") {
    val tiny = ExecutionPolicy(driverBytes = 256L * 1024) // 3 edges, 50,001 vertices
    val g = LinkGraph.fromEdgeList(spark, Seq((0L, 50000L), (50000L, 7L), (7L, 0L)).toDF("src", "dst"),
      idMode = LinkGraph.IdMode.DenseByMax, policy = tiny)
    assert(g.numVertices == 50001L && g.numEdges == 3L)
    def byVid(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val operators = Seq[LinkGraph => org.apache.spark.sql.DataFrame](
      ConnectedComponents.run(_), LabelPropagation.run(_, 4), TriangleCount.perVertexTriangles)
    for (op <- operators) {
      val (distributed, ran) = recorded(byVid(op(g)))
      assert(ran.shuffles > 0, "over the budget the operator runs distributed")
      val (resident, residentRan) = recorded(byVid(op(under(g, ExecutionPolicy()))))
      assert((resident, residentRan.shuffles) == ((distributed, 0)))
    }
    g.unpersistAll()
  }

  test("LPA driver-resident regime matches the distributed supersteps exactly") {
    val edges = DenseReference.randomEdges(60, 0.08, seed = 31).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf(g: LinkGraph) =
      LabelPropagation.run(g, 4).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf(g)
    val distributed = labelsOf(under(g, distributedOnly))
    assert(resident == distributed)
    g.unpersistAll()
  }
}
