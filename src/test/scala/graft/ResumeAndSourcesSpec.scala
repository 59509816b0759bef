package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.algo.PageRank
import graft.engine.{CheckpointManager, PageRankEngine}
import graft.graph.LinkGraph
import graft.model.{PageRankConfig, PageRankMode}
import graft.sources.{EdgeListSource, RepoFiles, SkewedEdges}

class ResumeAndSourcesSpec extends GraftSuite {
  import spark.implicits._

  private val rand = DenseReference.randomEdges(40, 0.1, seed = 5).map(e => (e._1.toLong, e._2.toLong))

  test("resume from a mid-run checkpoint reproduces the uninterrupted final ranks") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3)

    // uninterrupted run
    val full = PageRank.run(g, tolerance = 1e-10, maxIterations = 200)
    val wantRanks = full.toVertexDf(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // interrupted run: stop after 10 supersteps (checkpoint every 5)
    val cfg = PageRankConfig(0.85, 1e-10, 200, PageRankMode.ReferenceRenorm,
      checkpointDir = Some(dir), checkpointEvery = 5)
    new PageRankEngine(g, cfg.copy(maxIterations = 10)).run()
    val committed = CheckpointManager.committedSupersteps(dir)
    assert(committed == Seq(5, 10), s"committed=$committed")

    // resume to convergence; supersteps <= 10 must not be recomputed
    val resumed = PageRank.resume(g, cfg)
    assert(resumed.run.converged)
    assert(resumed.run.iterations == full.run.iterations, "same total iteration count")
    assert(resumed.metrics.forall(_.superstep > 10), "no superstep <= 10 recomputed")
    val gotRanks = resumed.toVertexDf(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    wantRanks.foreach { case (vid, w) => assert(math.abs(gotRanks(vid) - w) < 1e-9, s"vid $vid") }
    g.unpersistAll()
  }

  test("checkpoint manifest records per-superstep metrics (rows/bytes/residual)") {
    val dir = Files.createTempDirectory("graft-metrics").toString
    val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3)
    val out = new PageRankEngine(
      g,
      PageRankConfig(0.85, 0.0, 4, PageRankMode.ReferenceRenorm,
        checkpointDir = Some(dir), checkpointEvery = 2)).run()
    assert(out.metrics.size == 4)
    assert(out.metrics.forall(_.residual > 0))
    assert(out.metrics.forall(_.wallMs >= 0))
    // checkpoints ARE IcebergLite snapshots: summary properties carry the
    // superstep, residual, and per-superstep metrics
    val snaps = graft.sources.IcebergLite.snapshots(dir)
    assert(snaps == Seq(0L, 1L), s"snapshots=$snaps") // supersteps 2 and 4
    val props = graft.sources.IcebergLite.properties(dir, snaps.last)
    assert(props("superstep") == "4")
    assert(props("residual").toDouble > 0)
    assert(props("metrics").contains("shuffleReadBytes"))
    assert(CheckpointManager.committedSupersteps(dir) == Seq(2, 4))
    g.unpersistAll()
  }

  test("torn checkpoint commit is invisible; a retried commit recovers the orphan dir") {
    val dir = Files.createTempDirectory("graft-torn").toString
    val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3)
    new PageRankEngine(
      g,
      PageRankConfig(0.85, 0.0, 2, PageRankMode.ReferenceRenorm,
        checkpointDir = Some(dir), checkpointEvery = 2)).run()
    assert(CheckpointManager.latest(dir).map(_._2) == Some(2))

    // simulate a crash mid-commit: data dir written, manifest never renamed
    val orphan = java.nio.file.Paths.get(dir, "snap-1")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-torn.parquet"), "garbage")
    assert(CheckpointManager.latest(dir).map(_._2) == Some(2), "torn commit must stay invisible")
    assert(CheckpointManager.readRanks(spark, dir, 0L).count() == g.numVertices)

    // resuming + checkpointing again must reuse snapshot id 1 cleanly
    val resumed = PageRank.resume(g, PageRankConfig(0.85, 0.0, 4, PageRankMode.ReferenceRenorm,
      checkpointDir = Some(dir), checkpointEvery = 2))
    assert(resumed.run.iterations == 4)
    assert(CheckpointManager.committedSupersteps(dir) == Seq(2, 4))
    assert(CheckpointManager.readRanks(spark, dir, 1L).count() == g.numVertices)
    g.unpersistAll()
  }

  test("csv reader drops the weight column; tsv reader skips # comments") {
    val csvDir = Files.createTempDirectory("graft-csv")
    Files.writeString(csvDir.resolve("e.csv"), "1,2,99\n2,3,99\n2,3,7\n")
    val csv = EdgeListSource.csv(spark, csvDir.toString + "/e.csv")
    assert(csv.columns.toSeq == Seq("src", "dst"))
    assert(csv.count() == 3) // duplicates preserved for the fold

    val tsvDir = Files.createTempDirectory("graft-tsv")
    Files.writeString(tsvDir.resolve("e.tsv"), "# header\n# another\n1\t2\n2\t3\n")
    val tsv = EdgeListSource.tsv(spark, tsvDir.toString + "/e.tsv")
    assert(tsv.count() == 2)
    assert(tsv.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (2L, 3L)))
  }

  test("repo-file table is deterministic, hint-shaped, and pattern-extractable") {
    val t1 = RepoFiles.table(spark, numRepos = 20, filesPerRepo = 4, vocab = 50)
    val t2 = RepoFiles.table(spark, numRepos = 20, filesPerRepo = 4, vocab = 50)
    assert(t1.columns.toSeq == Seq("repo", "path", "commit", "lang", "content"))
    // determinism: identical content hashes across regenerations
    val h1 = RepoFiles.withContentHash(t1).agg(sum(crc32($"content_sha256"))).first().getLong(0)
    val h2 = RepoFiles.withContentHash(t2).agg(sum(crc32($"content_sha256"))).first().getLong(0)
    assert(h1 == h2)
    // every file yields at least one import token; tokens look like libNNN
    val toks = RepoFiles.repoTokens(t1)
    assert(toks.count() >= t1.count())
    assert(toks.filter(!$"token".rlike("^lib\\d{3}$")).count() == 0)
    // shared-pattern edges are symmetric (both orientations present)
    val e = RepoFiles.sharedPatternEdges(t1, maxReposPerToken = 50)
    val asym = e.select($"src", $"dst")
      .except(e.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.count() == 0)
  }

  test("skewed synthetic edges are deterministic and skewed") {
    val e1 = SkewedEdges.edges(spark, 1000, 5000).agg(sum($"src" + $"dst")).first().getLong(0)
    val e2 = SkewedEdges.edges(spark, 1000, 5000).agg(sum($"src" + $"dst")).first().getLong(0)
    assert(e1 == e2)
    val topShare = SkewedEdges.edges(spark, 1000, 5000)
      .filter($"dst" < 100).count().toDouble / 5000
    assert(topShare > 0.2, s"bottom-decile ids should be hot, got $topShare")
  }

  test("prebuilt-adjacency roundtrip reproduces the directly-built ranks") {
    // the bench legs' KB_ADJ_BASE path: write both AdjPart orientations to
    // parquet, reload into a fresh LinkGraph via fromPrebuiltParts, and the
    // PageRank result must match the directly-built graph in both regimes.
    // Resident regime: BIT-identical (driver-side sums run in a fixed order).
    // Distributed regime: the per-superstep renorm scalar is a Spark
    // DoubleAccumulator whose merge order follows task COMPLETION order, so
    // even two runs on the SAME graph differ in the last ulp (measured
    // maxRel ≈ 5e-16 over 8 supersteps); the roundtrip is held to 1e-12,
    // four orders tighter than any consumer and far tighter than a layout
    // bug would produce.
    import graft.graph.LinkGraph
    val dir = Files.createTempDirectory("graft-prebuilt").toString
    val edges = rand.toDF("src", "dst")
    val g = LinkGraph.fromEdgeList(spark, edges, numBlocks = 3)
    g.adjParts.write.mode("overwrite").parquet(s"$dir/adj-dst")
    g.gatherPartsRdd.toDS().write.mode("overwrite").parquet(s"$dir/adj-src")

    for (distributed <- Seq(true, false)) {
      val saved = graft.engine.PageRankEngine.BroadcastThresholdBytes
      if (distributed) graft.engine.PageRankEngine.BroadcastThresholdBytes = 0L
      try {
        // reference computed under the SAME regime — resident and distributed
        // kernels have different (both deterministic) summation orders
        val want = PageRank.run(g, tolerance = 0.0, maxIterations = 8)
          .toVertexDf(g).orderBy("vid").collect().map(_.getDouble(1))
        val p = LinkGraph.fromPrebuiltParts(
          spark, g.numVertices, g.numBlocks, g.numEdges,
          dstParts =
            if (distributed) Some(spark.read.parquet(s"$dir/adj-dst").as[graft.model.AdjPart])
            else None,
          gatherParts =
            if (distributed) None
            else Some(spark.read.parquet(s"$dir/adj-src").as[graft.model.AdjPart]))
        assert(p.numEdges == g.numEdges)
        val got = PageRank.run(p, tolerance = 0.0, maxIterations = 8)
          .toVertexDf(p).orderBy("vid").collect().map(_.getDouble(1))
        p.unpersistAll()
        if (distributed) {
          val maxRel = got.zip(want)
            .map { case (x, y) => math.abs(x - y) / math.max(math.abs(y), 1e-300) }.max
          assert(maxRel < 1e-12, s"prebuilt distributed diverged: maxRel=$maxRel")
        } else {
          assert(got.sameElements(want), "prebuilt resident diverged bitwise")
        }
      } finally graft.engine.PageRankEngine.BroadcastThresholdBytes = saved
    }
    g.unpersistAll()
  }

  test("laid-out binary part files reproduce the directly-built ranks") {
    // the round-6 zero-shuffle restore (PartIO block files + the LaidOut
    // hooks): partition layout and in-partition order are the build's own, so
    // the resident regime must be BIT-identical and the distributed regime
    // within the accumulator-merge ulp (same bound as the parquet roundtrip)
    import graft.graph.LinkGraph
    val dir = Files.createTempDirectory("graft-prebuilt-bin").toString
    val edges = rand.toDF("src", "dst")
    val g = LinkGraph.fromEdgeList(spark, edges, numBlocks = 3)
    graft.tools.PartIO.writeBlockFiles(g.adjPartsByBlock.values, s"$dir/dst-bin")
    graft.tools.PartIO.writeBlockFiles(g.gatherPartsRdd, s"$dir/src-bin")

    for (distributed <- Seq(true, false)) {
      val saved = graft.engine.PageRankEngine.BroadcastThresholdBytes
      if (distributed) graft.engine.PageRankEngine.BroadcastThresholdBytes = 0L
      try {
        val want = PageRank.run(g, tolerance = 0.0, maxIterations = 8)
          .toVertexDf(g).orderBy("vid").collect().map(_.getDouble(1))
        val p = LinkGraph.fromPrebuiltParts(spark, g.numVertices, g.numBlocks, g.numEdges)
        if (distributed)
          p.prebuiltDstPartsLaidOut =
            Some(graft.tools.PartIO.readLaidOut(spark.sparkContext, s"$dir/dst-bin", g.numBlocks))
        else
          p.prebuiltGatherPartsLaidOut =
            Some(graft.tools.PartIO.readLaidOut(spark.sparkContext, s"$dir/src-bin", g.numBlocks).values)
        val got = PageRank.run(p, tolerance = 0.0, maxIterations = 8)
          .toVertexDf(p).orderBy("vid").collect().map(_.getDouble(1))
        p.unpersistAll()
        if (distributed) {
          val maxRel = got.zip(want)
            .map { case (x, y) => math.abs(x - y) / math.max(math.abs(y), 1e-300) }.max
          assert(maxRel < 1e-12, s"bin distributed diverged: maxRel=$maxRel")
        } else {
          assert(got.sameElements(want), "bin resident diverged bitwise")
        }
      } finally graft.engine.PageRankEngine.BroadcastThresholdBytes = saved
    }
    g.unpersistAll()
  }

  test("part files raise on a missing, truncated, stale or misplaced block file") {
    import graft.tools.PartIO
    val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3)
    val root = Files.createTempDirectory("graft-partio").toString
    def written(name: String): java.io.File = {
      PartIO.writeBlockFiles(g.adjPartsByBlock.values, s"$root/$name")
      new java.io.File(s"$root/$name")
    }
    def block(dir: java.io.File, b: Int) = new java.io.File(dir, f"block-$b%05d")
    def read(dir: java.io.File) =
      PartIO.readLaidOut(spark.sparkContext, dir.getPath, g.numBlocks).values.collect()
    def rejected(dir: java.io.File, why: String): Unit = {
      val e = intercept[org.apache.spark.SparkException](read(dir))
      assert(e.getMessage.contains(why), e.getMessage)
    }
    assert(read(written("intact")).length == g.adjParts.count())

    val missing = written("missing")
    assert(block(missing, 1).delete())
    rejected(missing, "is missing")

    val short = written("short")
    val f = new java.io.RandomAccessFile(block(short, 1), "rw")
    try f.setLength(f.length() - 1) finally f.close()
    rejected(short, "truncated")

    val stale = written("stale") // the version field of a format this reader does not know
    val v = new java.io.RandomAccessFile(block(stale, 2), "rw")
    try { v.seek(4); v.writeInt(1) } finally v.close()
    rejected(stale, "format version 1")

    val moved = written("moved")
    Files.copy(block(moved, 0).toPath, block(moved, 1).toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    rejected(moved, "holds a part of block 0")

    // one wNorm per adj entry, or the reader would desync: refused at write time
    val bad = spark.sparkContext.parallelize(
      Seq(graft.model.AdjPart(0, 0, Array(0), Array(0, 2), Array(1L, 2L), Array(0.5))), 1)
    intercept[org.apache.spark.SparkException](PartIO.writeBlockFiles(bad, s"$root/bad"))
    g.unpersistAll()
  }

  test("bench fork helpers survive a failing leg instead of killing the run") {
    // round-5 hardening (verdict task #5): a crashed leg JVM must surface as
    // a recorded failure, not an exception that loses the whole bench JSON
    assert(Bench.forkJvm("graft.tools.NoSuchMain", Nil, Nil, heap = "64m").isLeft)
    assert(Bench.forkKernelLeg(1, 10, 10, 1, "resident",
      env = Seq("KB_EDGES_PATH" -> "/no/such/path"), heap = "512m").isEmpty)
    assert(Bench.load1 > 0.0 || Bench.load1 == -1.0)
  }

  test("end-to-end: repo files → shared-pattern graph → pagerank probability simplex") {
    val files = RepoFiles.table(spark, numRepos = 30, filesPerRepo = 3, vocab = 40)
    val g = RepoFiles.linkGraph(spark, files, maxReposPerToken = 25)
    assert(g.numVertices > 0 && g.numEdges > 0)
    val out = PageRank.run(g, tolerance = 1e-8, maxIterations = 100)
    val mass = out.toVertexDf(g).agg(sum($"value")).first().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9)
    g.unpersistAll()
  }
}
