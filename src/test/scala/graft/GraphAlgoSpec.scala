package graft

import graft.graph.LinkGraph
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, PrefixStudy, TriangleCount}

class GraphAlgoSpec extends GraftSuite {
  import spark.implicits._

  private def graphOf(edges: Seq[(Long, Long)], numBlocks: Int = 3): LinkGraph =
    LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = numBlocks)

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

  test("CC driver-resident regime matches the star-contraction labels exactly") {
    val edges = DenseReference.randomEdges(120, 0.02, seed = 23).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf() =
      ConnectedComponents.run(g).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf() // default gate: resident at this size
    val was = ConnectedComponents.ResidentEdgeBytes
    ConnectedComponents.ResidentEdgeBytes = 0L
    try {
      val distributed = labelsOf()
      assert(resident == distributed)
    } finally ConnectedComponents.ResidentEdgeBytes = was
    g.unpersistAll()
  }

  test("triangle driver-resident regime matches the distributed self-join exactly") {
    val edges = DenseReference.randomEdges(120, 0.06, seed = 41).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def triOf() = TriangleCount.perVertexTriangles(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    def ccOf() = TriangleCount.clusteringCoefficients(g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val (triRes, ccRes) = (triOf(), ccOf()) // default gate: resident at this size
    val was = TriangleCount.ResidentEdgeBytes
    TriangleCount.ResidentEdgeBytes = 0L
    try {
      assert(triRes == triOf())
      assert(ccRes == ccOf()) // exact incl. the double coeff: identical op sequence
    } finally TriangleCount.ResidentEdgeBytes = was
    g.unpersistAll()
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

  /** Runs `f` with the build's resident gates at 0: `fold` forces the
    * distributed fold and dictionary (block-laid edges from the routed remap),
    * `assemble` the cluster adjacency kernel.
    */
  private def forced[T](fold: Boolean, assemble: Boolean)(f: => T): T = {
    val (wasB, wasF, wasA) =
      (LinkGraph.ResidentBuildBytes, LinkGraph.ResidentFoldRows, LinkGraph.ResidentAssembleBytes)
    if (fold) { LinkGraph.ResidentBuildBytes = 0L; LinkGraph.ResidentFoldRows = 0L }
    if (assemble) LinkGraph.ResidentAssembleBytes = 0L // read at lazy-layout build time
    try f
    finally {
      LinkGraph.ResidentBuildBytes = wasB
      LinkGraph.ResidentFoldRows = wasF
      LinkGraph.ResidentAssembleBytes = wasA
    }
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
      def build() = graphOf(edges, numBlocks = blocks)
      val a = build() // default gates: resident fold (the whole build on the driver)
      val b = forced(fold = true, assemble = false)(build()) // the full cluster build
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
      val a = graphOf(edges, blocks) // default gates: driver-assembled
      val want = (layoutsOf(a), ranksOf(a))
      // cluster kernel over edges routed by dst block (resident fold), then
      // over the routed remap's block-laid edge cache
      for (fold <- Seq(false, true)) {
        val got = forced(fold, assemble = true) {
          val b = graphOf(edges, blocks)
          assert(b.edgesByDstBlock == fold)
          val r = (layoutsOf(b), ranksOf(b))
          b.unpersistAll()
          r
        }
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
      val b = forced(fold = true, assemble = false)(LinkGraph.fromEdgeList(spark, raw, numBlocks = blocks))
      assert(!a.edgesByDstBlock && b.edgesByDstBlock) // one resident, one routed build
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
    // pre-folded, fractional weights: the resident dictionary against the
    // same scan, dictionary and route 1 (which has no copies to sum)
    val folded = signedIds.distinct.zipWithIndex.map { case ((s, d), i) => (s, d, 0.25 + i % 7) }
      .toDF("src", "dst", "weight").repartition(p)
    val a = LinkGraph.fromFoldedEdgeList(spark, folded, numBlocks = 4)
    val b = forced(fold = true, assemble = false)(LinkGraph.fromFoldedEdgeList(spark, folded, numBlocks = 4))
    assert(dictOf(a) == dictOf(b))
    assert(edgesOf(a) == edgesOf(b))
    assert(layoutsOf(a) == layoutsOf(b))
    assert(ranksOf(a) == ranksOf(b))
    a.unpersistAll(); b.unpersistAll()
  }

  test("above the fold cap the build scans its input once and collects no raw pairs") {
    val rng = new scala.util.Random(29)
    val pairs = Seq.fill(500)((rng.nextInt(200).toLong * 3, rng.nextInt(200).toLong * 3))
    val parts = 5
    for (cap <- Seq(pairs.length - 1, pairs.length)) {
      val scanned = spark.sparkContext.collectionAccumulator[Int]("scanned partitions")
      val input = spark.sparkContext.parallelize(pairs, parts)
        .mapPartitionsWithIndex { (k, it) => scanned.add(k); it }
        .toDF("src", "dst")
      val was = LinkGraph.ResidentFoldRows
      LinkGraph.ResidentFoldRows = cap.toLong
      val g = try LinkGraph.fromEdgeList(spark, input, numBlocks = 3) finally LinkGraph.ResidentFoldRows = was
      g.adjParts.count(); g.degreeTable.count(); g.numEdges // later reads hit the graph's own caches
      import scala.jdk.CollectionConverters._
      assert(scanned.value.asScala.toSeq.map(_.intValue).sorted == (0 until parts))
      // above the cap the routed build, with no driver copy of the pairs; at
      // the cap the resident fold of the collected scan
      val routed = cap < pairs.length
      assert(g.edgesByDstBlock == routed && g.edgesLocalPre.isEmpty == routed)
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
    for ((fold, assemble) <- Seq((false, false), (true, true))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      forced(fold, assemble) {
        val g = graphOf(edges)
        g.adjParts.count(); g.adjPartsByBlock.count(); g.gatherPartsRdd.count(); g.gatherPartsLocal
        g.degreeTable.count(); g.inDegrees.count()
        PageRank.run(g, tolerance = 0.0, maxIterations = 2).free()
        g.unpersistAll()
      }
      val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      assert(left.isEmpty, s"left cached (fold=$fold, assemble=$assemble): ${left.values.mkString(", ")}")
    }
  }

  test("driver-resident degree table matches the join build exactly") {
    val edges = DenseReference.randomEdges(140, 0.05, seed = 61).map(e => (e._1.toLong, e._2.toLong))
    def rowsAndAgg(g: LinkGraph) = {
      val t = g.degreeTable
      val rows = t.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      // a DOUBLE aggregation (order-sensitive): identical partition layout ⇒
      // identical partial sums ⇒ exact equality, not just closeness
      val agg = t.agg(
        org.apache.spark.sql.functions.avg(
          t("outDeg") / (t("inDeg") + org.apache.spark.sql.functions.lit(1e-10))))
        .first().getDouble(0)
      (rows, agg)
    }
    val a = graphOf(edges)
    val (ra, aa) = rowsAndAgg(a) // default gate: resident
    a.unpersistAll()
    val was = LinkGraph.ResidentAssembleBytes
    LinkGraph.ResidentAssembleBytes = 0L
    val (rb, ab) =
      try { val b = graphOf(edges); val r = rowsAndAgg(b); b.unpersistAll(); r }
      finally LinkGraph.ResidentAssembleBytes = was
    assert(ra == rb)
    assert(aa == ab)
  }

  test("LPA driver-resident regime matches the distributed supersteps exactly") {
    val edges = DenseReference.randomEdges(60, 0.08, seed = 31).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf() =
      LabelPropagation.run(g, 4).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf()
    val was = LabelPropagation.ResidentEdgeBytes
    LabelPropagation.ResidentEdgeBytes = 0L
    try {
      val distributed = labelsOf()
      assert(resident == distributed)
    } finally LabelPropagation.ResidentEdgeBytes = was
    g.unpersistAll()
  }
}
