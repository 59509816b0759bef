package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.analytics.NetworkAnalytics
import graft.engine.PageRankEngine
import graft.graph.LinkGraph
import graft.model.{AdjPart, ExecutionPolicy}
import graft.sources.{IcebergLite, RepoFiles}

class PropertyAndPlanSpec extends GraftSuite {
  import spark.implicits._

  private val smallDigraph: Gen[Seq[(Long, Long)]] =
    for {
      n <- Gen.choose(3, 14)
      m <- Gen.choose(n, 4 * n)
      edges <- Gen.listOfN(m, for {
        s <- Gen.choose(0, n - 1)
        t <- Gen.choose(0, n - 1)
      } yield (s.toLong, t.toLong))
    } yield edges

  /** ScalaCheck generator driven by fixed seeds (no scalatestplus bridge in
    * the offline cache) — deterministic property-style sweep.
    */
  private def forAllSeeded[T](gen: Gen[T], cases: Int)(body: T => Unit): Unit =
    (1 to cases).foreach { i =>
      gen(org.scalacheck.Gen.Parameters.default, Seed(1000L + i)).foreach(body)
    }

  test("property: ranks form a probability simplex on random digraphs") {
    forAllSeeded(smallDigraph, 8) { edges =>
      if (edges.nonEmpty) {
        val g = LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = 2)
        val x = PageRank.run(g, tolerance = 1e-8, maxIterations = 60)
          .toVertexDf(g).agg(sum($"value")).first().getDouble(0)
        g.unpersistAll()
        assert(math.abs(x - 1.0) < 1e-9)
      }
    }
  }

  test("property: CC labels equal the min external id of each component") {
    forAllSeeded(smallDigraph, 8) { edges =>
      if (edges.nonEmpty) {
        val g = LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = 2)
        val got = ConnectedComponents.run(g)
          .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
          .join(g.vertexDict.toDF("comp", "v2"), $"label" === $"v2")
          .select($"id", $"comp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        g.unpersistAll()
        // union-find ground truth
        val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
        val want = ids.map(i => i -> ids.filter(j => find(j) == find(i)).min).toMap
        assert(got == want)
      }
    }
  }

  /** Sparse signed 64-bit ids (both extremes possible) with duplicate pairs
    * and a block count from 1 to 4 (0 = auto).
    */
  private val signedMultigraph: Gen[(Seq[(Long, Long)], Int)] =
    for {
      n <- Gen.choose(2, 12)
      ids <- Gen.listOfN(n, Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(-40L, 40L)))
      m <- Gen.choose(1, 4 * n)
      pairs <- Gen.listOfN(m, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
      copies <- Gen.choose(0, m)
      blocks <- Gen.choose(0, 4)
    } yield (pairs ++ pairs.take(copies), blocks)

  private def parts(ps: Array[AdjPart]) = ps
    .map(p => (p.blockId, p.partId, p.keys.toSeq, p.offsets.toSeq, p.adj.toSeq, p.wNorm.toSeq))
    .sortBy(t => (t._1, t._2)).toSeq

  test("property: the views keep the store's layout, and a public-constructor view reads the same graph") {
    val p = spark.sparkContext.defaultParallelism
    def cuts(len: Long) = (0 until p).map(s => ((s + 1) * len / p) - (s * len / p))
    def check(g: LinkGraph, tag: String): Unit = {
      // the dictionary: contiguous ascending vid runs tiling 0..n−1, external ids ascending
      val dict = g.vertexDict.rdd.glom().collect().map(_.toSeq).toSeq
      assert(dict.flatten.map(_.vid) == (0L until g.numVertices), tag)
      assert(dict.flatten.map(_.extId).sliding(2).forall(w => w.length < 2 || w(0) < w(1)), tag)
      val edges = g.edges.rdd.glom().collect().map(_.map(e => (e.src, e.dst, e.weight)).toSeq).toSeq
      assert(edges.map(_.length).sum == g.numEdges, tag)
      g.source match {
        case graft.graph.AdjacencySource.BlockLaid(_) =>
          // one dictionary partition per run; edge partition b = block b's in-edges, sorted (dst, src)
          assert(dict.length == p && edges.length == g.numBlocks, tag)
          edges.zipWithIndex.foreach { case (es, b) =>
            assert(es.forall(_._2 / g.blockSize == b) && es.map(e => (e._2, e._1)) == es.map(e => (e._2, e._1)).sorted,
              s"$tag: block $b")
          }
        case _ =>
          // the resident fold's arrays, one slice per task: edges sorted (src, dst)
          assert(dict.map(_.length) == cuts(g.numVertices) && edges.map(_.length) == cuts(g.numEdges), tag)
          assert(edges.flatten.map(e => (e._1, e._2)) == edges.flatten.map(e => (e._1, e._2)).sorted, tag)
      }
      // the bench's analytics pattern: a public-constructor view over the built graph
      for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
        val view = new LinkGraph(spark, g.vertexDict, g.edges, g.numVertices, g.numBlocks, g.blockSize, policy = policy)
        assert(degreeRows(view) == degreeRows(g), s"$tag: degree table, view under $policy")
        assert(parts(view.adjParts.collect()) == parts(g.adjParts.collect()), s"$tag: dst-major parts, view under $policy")
        view.unpersistAll()
      }
    }
    forAllSeeded(signedMultigraph, 4) { case (pairs, blocks) =>
      for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
        val g = LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), numBlocks = blocks, policy = policy)
        check(g, s"$pairs under $policy")
        g.unpersistAll()
      }
    }
    val files = RepoFiles.table(spark, numRepos = 40, filesPerRepo = 3, vocab = 30)
    for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
      val g = LinkGraph.fromScan(spark, RepoFiles.halfPairs(files, 20), numBlocks = 0, policy, mirror = true)
      check(g, s"repo graph under $policy")
      g.unpersistAll()
    }
  }

  test("a public-constructor view of a build's own frames reads its store; other frames decode as before") {
    val rng = new scala.util.Random(53)
    val pairs = Seq.fill(300)((rng.nextInt(90).toLong * 7, rng.nextInt(90).toLong * 7))
    val files = RepoFiles.table(spark, numRepos = 40, filesPerRepo = 3, vocab = 30)
    val builds = Seq[(String, () => LinkGraph)](
      "resident fold" -> (() => LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"))),
      "routed build" -> (() => LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), policy = distributedOnly)),
      "repo graph" -> (() => LinkGraph.fromScan(spark, RepoFiles.halfPairs(files, 20), 0, ExecutionPolicy(), mirror = true)),
      "dense-by-max" -> (() => LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), idMode = LinkGraph.IdMode.DenseByMax)))
    def view(g: LinkGraph, edges: org.apache.spark.sql.Dataset[graft.model.Edge], n: Long) =
      new LinkGraph(spark, g.vertexDict, edges, n, g.numBlocks, g.blockSize)
    for ((tag, build) <- builds) {
      val g = build()
      val (_, built) = recorded(g.degreeTable.count())
      val v = view(g, g.edges, g.numVertices)
      val (m, counted) = recorded(v.numEdges)
      assert(m == g.numEdges && counted.jobs.isEmpty, s"$tag: ${counted.jobs.length} jobs for numEdges")
      val (_, viewed) = recorded(v.degreeTable.count())
      assert(viewed.jobs.length == built.jobs.length, s"$tag: ${viewed.jobs.length} vs ${built.jobs.length} jobs")
      assert(degreeRows(v) == degreeRows(g), tag)
      v.unpersistAll()
      // not the two views of one store: decoded and checked as before
      decoded(g, view(g, g.edges.filter(lit(true)), g.numVertices), s"$tag, filtered")
      val e = intercept[IllegalArgumentException](view(g, g.edges, g.numVertices + 1).degreeTable)
      assert(e.getMessage.contains("contiguous ascending vid runs"), s"$tag: ${e.getMessage}")
      g.unpersistAll()
    }
    // the same vids from two graphs' stores
    val (g, other) = (builds.head._2(), builds(1)._2())
    decoded(g, view(g, other.edges, g.numVertices), "frames of two graphs")
    g.unpersistAll(); other.unpersistAll()
  }

  /** `u`, a view of `g`'s graph that reads no store: it counts its edges in a job and gives `g`'s degree table. */
  private def decoded(g: LinkGraph, u: LinkGraph, tag: String): Unit = {
    val (m, counted) = recorded(u.numEdges)
    assert(m == g.numEdges && counted.jobs.nonEmpty, tag)
    assert(degreeRows(u) == degreeRows(g), tag)
    u.unpersistAll()
  }

  test("property: networkMetrics equals the Catalyst aggregate, both ValueDist regimes") {
    def check(g: LinkGraph, tag: String): Unit = for (v <- Seq(g, under(g, distributedOnly))) {
      val (got, want) = (NetworkAnalytics.networkMetrics(v), MetricsPlan.networkMetrics(v))
      assert(got.schema == want.schema, s"$tag: ${got.schema} != ${want.schema}")
      val (r, w) = (got.collect().head, want.collect().head)
      got.schema.fieldNames.indices.foreach { i =>
        val name = s"$tag under ${v.policy}: ${got.schema.fieldNames(i)}"
        (r.get(i), w.get(i)) match {
          case (a: Double, b: Double) => assert(math.abs(a - b) <= 1e-12 * math.abs(b), s"$name: $a != $b")
          case (a, b) => assert(a == b, s"$name: $a != $b")
        }
      }
      v.degreeTable.unpersist()
    }
    forAllSeeded(signedMultigraph, 4) { case (pairs, blocks) =>
      for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
        val g = LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), numBlocks = blocks, policy = policy)
        check(g, s"$pairs under $policy")
        g.unpersistAll()
      }
    }
    // n = 1 with no edge, a lone self-loop, and a planted star hub among sparse edges
    val rng = new scala.util.Random(59)
    val star = (1L to 80L).map(i => (0L, i)) ++ (1L to 40L).map(i => (i, 0L)) ++
      Seq.fill(60)((1L + rng.nextInt(80), 1L + rng.nextInt(80)))
    val graphs = Seq(
      "n = 1" -> LinkGraph.fromDenseWeighted(spark, Seq(graft.model.Edge(0, 0, 0.0)).toDS(), 1),
      "lone self-loop" -> LinkGraph.fromEdgeList(spark, Seq((9L, 9L)).toDF("src", "dst")),
      "star hub" -> LinkGraph.fromEdgeList(spark, star.toDF("src", "dst"), numBlocks = 3))
    for ((tag, g) <- graphs) {
      check(g, tag)
      g.unpersistAll()
    }
  }

  test("property: every resident regime equals its distributed twin on random signed multigraphs") {
    def byVid(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    /** Everything whose regimes must agree exactly, and the ranks. */
    def outputs(g: LinkGraph) = {
      val exact = Seq(
        g.vertexDict.collect().map(m => (m.extId, m.vid)).sortBy(_._1).toSeq,
        g.edges.collect().map(e => (e.src, e.dst, e.weight)).sorted.toSeq,
        parts(g.adjParts.collect()),
        parts(g.gatherPartsRdd.collect()),
        g.degreeTable.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
          .sortBy(_._1).toSeq,
        byVid(ConnectedComponents.run(g)),
        byVid(LabelPropagation.run(g, 4)),
        byVid(TriangleCount.perVertexTriangles(g)))
      val out = PageRank.run(g, tolerance = 0.0, maxIterations = 6)
      val ranks = new Array[Double](g.numVertices.toInt)
      out.ranks.collect().foreach(c => System.arraycopy(c.values, 0, ranks, c.loVid.toInt, c.values.length))
      out.free()
      g.unpersistAll()
      (exact, ranks)
    }
    forAllSeeded(signedMultigraph, 4) { case (pairs, blocks) =>
      def build(policy: ExecutionPolicy) =
        LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), numBlocks = blocks, policy = policy)
      val (want, wantRanks) = outputs(build(ExecutionPolicy()))
      val (got, gotRanks) = outputs(build(distributedOnly))
      want.zip(got).zipWithIndex.foreach { case ((w, g), i) => assert(g == w, s"output $i of $pairs") }
      assertAllClose(gotRanks, wantRanks, 1e-12)
      // the degree-table row with fractional weights: the same pairs in dense
      // ordinals over 3 slices, each pair weighted 0.1 + i/7
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val ordinal = ids.zipWithIndex.map { case (id, v) => id -> v.toLong }.toMap
      val weighted = spark.createDataset(spark.sparkContext.parallelize(pairs.zipWithIndex.map { case ((s, d), i) =>
        graft.model.Edge(ordinal(s), ordinal(d), 0.1 + i / 7.0) }, 3))
      val frac = LinkGraph.fromDenseWeighted(spark, weighted, ids.length.toLong, numBlocks = blocks)
      val fracWant = degreeReference(frac)
      assert(degreeRows(frac) == fracWant, s"fractional degree table of $pairs")
      val fracView = under(frac, distributedOnly)
      assert(degreeRows(fracView) == fracWant, s"fractional degree table of $pairs")
      fracView.unpersistAll(); frac.unpersistAll()
    }
  }

  test("configuration is immutable: no public setter on the graph or its operators") {
    val classes = Seq(LinkGraph, PageRankEngine, ConnectedComponents, LabelPropagation, TriangleCount)
      .map(_.getClass) :+ classOf[LinkGraph]
    val setters = classes.flatMap(c => c.getMethods.filter(_.getName.endsWith("_$eq")).map(c.getName + "." + _.getName))
    assert(setters.isEmpty, setters.mkString(", "))
  }

  test("fromDenseWeighted auto block count scales with edges, not just vertices") {
    // small-but-dense: n = 2048 but > 1M edges. The vertex-only n/1024 fallback
    // sized this at 2 blocks (near-serial supersteps); the edge-aware autoBlocks
    // must hit the parallelism cap instead (round-4 verdict task #2 — the same
    // fix fromEdgeList got, routed through fromDenseWeighted / inducedPrefix).
    val n = 2048L
    val edges = spark.range(1100000L)
      .select(($"id" % n).as("src"), (($"id" / n).cast("long") % n).as("dst"), lit(1.0).as("weight"))
      .as[graft.model.Edge]
    val g = LinkGraph.fromDenseWeighted(spark, edges, n)
    try {
      assert(g.numEdges > 1000000L)
      assert(g.numBlocks > 2, s"dense graph still vertex-sized: ${g.numBlocks} blocks")
      assert(g.numBlocks == spark.sparkContext.defaultParallelism * 2)
    } finally g.unpersistAll()
  }

  test("property: duplicate-edge multiplicity equals integer edge weights") {
    forAllSeeded(Gen.choose(1, 5), 5) { k =>
      val raw = Seq.fill(k)((1L, 2L)) ++ Seq((2L, 3L))
      val g = LinkGraph.fromEdgeList(spark, raw.toDF("src", "dst"), numBlocks = 1)
      val w = g.edges.collect().map(e => (e.src, e.dst) -> e.weight).toMap
      g.unpersistAll()
      assert(w((0L, 1L)) == k.toDouble) // vids: 1->0, 2->1, 3->2
    }
  }

  test("IcebergLite: atomic snapshots, manifest-resolved reads, time travel") {
    val dir = Files.createTempDirectory("graft-ice").toString
    val t0 = RepoFiles.table(spark, numRepos = 5, filesPerRepo = 2, vocab = 20)
    val s0 = IcebergLite.commit(t0, dir, partitionBy = Seq("lang"))
    val t1 = RepoFiles.table(spark, numRepos = 9, filesPerRepo = 2, vocab = 20)
    val s1 = IcebergLite.commit(t1, dir, partitionBy = Seq("lang"))
    assert(IcebergLite.snapshots(dir) == Seq(0L, 1L) && s0 == 0 && s1 == 1)
    assert(IcebergLite.read(spark, dir).count() == t1.count()) // latest
    assert(IcebergLite.read(spark, dir, Some(0L)).count() == t0.count()) // pinned
    // a torn commit (data written, no manifest) is invisible
    t0.write.parquet(s"$dir/snap-99")
    assert(IcebergLite.snapshots(dir) == Seq(0L, 1L))
    assert(IcebergLite.read(spark, dir).count() == t1.count())
    // sha256 per-row invariant column exists and is stable (input_hint check)
    val h = RepoFiles.withContentHash(IcebergLite.read(spark, dir, Some(0L)))
    assert(h.select("content_sha256").distinct().count() == t0.count())
  }

  test("IcebergLite: a commit evaluates its frame once and records the written row count") {
    val dir = Files.createTempDirectory("graft-ice-once").toString
    val evaluated = spark.sparkContext.longAccumulator("evaluated rows")
    val df = spark.range(1000).map { i => evaluated.add(1); i.longValue }.toDF("id")
    val snap = IcebergLite.commit(df, dir)
    assert(evaluated.value == 1000L)
    assert(Files.readString(java.nio.file.Paths.get(dir, "_manifests", s"$snap.json")).contains("\"rowCount\":1000,"))
    assert(IcebergLite.read(spark, dir).count() == 1000L)
  }

  test("plans: the degree table is one edge scan and one exchange, with no join") {
    val rng = new scala.util.Random(43)
    val pairs = Seq.fill(400)((rng.nextInt(120).toLong * 5, rng.nextInt(120).toLong * 5))
    val g = LinkGraph.fromEdgeList(spark, pairs.toDF("src", "dst"), numBlocks = 3, policy = distributedOnly)
    val (_, ran) = recorded(g.degreeTable.collect())
    assert(ran.shuffles == 1, s"${ran.shuffles} shuffle dependencies in ${ran.jobs.length} jobs")
    assert(ran.jobs.length <= 3, s"${ran.jobs.length} jobs")
    assert(ran.plans.nonEmpty && ran.plans.forall(!_.contains("Join")), ran.plans.mkString("\n"))
    g.unpersistAll()
  }

  test("plans: over a built degree table the risk path writes no shuffle stage") {
    val edges = DenseReference.randomEdges(200, 0.03, seed = 47).map(e => (e._1.toLong, e._2.toLong))
    val g = LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = 3)
    g.degreeTable.count()
    val ((prior, risk, high), ran) = recorded {
      val prior = NetworkAnalytics.compositeRisk(g)
      val risk = PageRank.propagateRisk(g, prior, tolerance = 0.0, maxIterations = 6).toVertexDf(g)
      (prior, risk, NetworkAnalytics.highRiskProviders(risk, prior).collect().toSeq)
    }
    assert(ran.shuffles == 0, "composite prior, risk propagation and high-risk selection stay on the driver")
    assert(high.nonEmpty && high == NetworkAnalytics.highRiskPlan(risk, prior).collect().toSeq)
    // the prior is one implementation at every size: over a distributedOnly
    // view's built degree table it exchanges nothing and persists nothing
    val d = under(g, distributedOnly)
    d.degreeTable.count()
    val ((dPrior, dRan), added) = persistedBy(recorded(NetworkAnalytics.compositeRisk(d).collect().toSeq))
    assert(dRan.shuffles == 0, "the prior over a distributed view writes no shuffle")
    assert(added.isEmpty, "the prior persists nothing")
    assert(dPrior == prior.collect().toSeq)
    d.unpersistAll()
    g.unpersistAll()
  }

  test("plans: ValueDist's local regime reads a cached column in one job") {
    val df = spark.range(20000).selectExpr("cast(id % 97 as double) as v").cache()
    df.count()
    val (Seq(dist), ran) = recorded(graft.analytics.ValueDist.of(df, Seq("v")))
    assert(dist.isLocal && dist.n == 20000 && ran.jobs.length == 1, s"${ran.jobs.length} jobs")
    df.unpersist()
  }

  test("plans: filters and projections push down to the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter($"l_suppkey" === 3L)
      .select($"l_orderkey", $"l_suppkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_suppkey"), plan.take(500))
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"))
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("l_orderkey") && !scanLine.contains("l_quantity"),
      s"column pruning failed: $scanLine")
  }

  test("plans: testdata edge derivation broadcasts no side unnecessarily and prunes columns") {
    val plan = graft.sources.TestdataGraph
      .rawEdges(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // only the join keys + projected columns are read
    assert(!plan.contains("o_comment") && !plan.contains("l_quantity"))
  }

  test("plans: LSH pair search is bucket-join shaped — no cartesian product") {
    val rng = new scala.util.Random(41)
    val vecs = (0L until 64L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val pairs = graft.sim.Ann.cosinePairsLsh(vecs, threshold = 0.8, dim = 16)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    val topk = graft.sim.Ann.lshTopK(
      vecs, vecs.limit(3).select($"id".as("qid"), $"vec".as("qvec")), k = 2, dim = 16)
    val planK = topk.queryExecution.executedPlan.toString
    assert(!planK.contains("CartesianProduct"), planK.take(800))
  }
}
