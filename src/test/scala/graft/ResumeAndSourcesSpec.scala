package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.algo.PageRank
import graft.engine.{CheckpointManager, PageRankEngine}
import graft.graph.LinkGraph
import graft.model.{ExecutionPolicy, PageRankConfig, PageRankMode}
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

  test("resume parity: every mode and regime resumes mid-run or converged to the uninterrupted ranks exactly") {
    for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
      val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3, policy = policy)
      val priorDf = (0 until g.numVertices.toInt).map(i => (i.toLong, 0.001 + (i % 7) * 0.01)).toDF("vid", "value")
      def ranks(o: graft.engine.PageRankOutcome): Seq[Double] = {
        val r = o.toVertexDf(g).orderBy("vid").collect().map(_.getDouble(1)).toSeq
        o.free()
        r
      }
      for (mode <- Seq(PageRankMode.ReferenceRenorm, PageRankMode.MolerDangling, PageRankMode.RiskPropagation)) {
        val tag = s"$mode, driverBytes=${policy.driverBytes}"
        val cfg = PageRankConfig(tolerance = 1e-7, maxIterations = 200, mode = mode,
          prior = if (mode == PageRankMode.RiskPropagation) Some(priorDf) else None)
        val full = new PageRankEngine(g, cfg).run()
        val (fullRun, fullResiduals) = (full.run, full.metrics.map(_.residual))
        val want = ranks(full)
        assert(fullRun.converged && fullRun.iterations > 6, tag)

        // stopped after 6 supersteps (commits at 3 and 6), resumed to convergence
        val ck = cfg.copy(checkpointDir = Some(Files.createTempDirectory("graft-parity").toString), checkpointEvery = 3)
        new PageRankEngine(g, ck.copy(maxIterations = 6)).run().free()
        val mid = PageRank.resume(g, ck)
        assert(mid.run.converged && mid.run.iterations == fullRun.iterations, tag)
        assert(mid.metrics.map(_.residual) == fullResiduals.drop(6), s"$tag: residuals after the mid-run resume")
        val midSame = ranks(mid) == want
        assert(midSame, s"$tag: ranks after the mid-run resume")

        // the resumed run committed its converged superstep: zero supersteps more
        val done = PageRank.resume(g, ck)
        assert(done.metrics.isEmpty && done.run.converged && done.run.iterations == fullRun.iterations, tag)
        assert(done.run.finalError == fullRun.finalError, tag)
        val doneSame = ranks(done) == want
        assert(doneSame, s"$tag: ranks after resuming the converged checkpoint")
      }
      g.unpersistAll()
    }
  }

  test("resume rejects a snapshot with a row dropped, a vid duplicated or another graph's vids, naming it") {
    for (policy <- Seq(ExecutionPolicy(), distributedOnly)) {
      val g = LinkGraph.fromEdgeList(spark, rand.toDF("src", "dst"), numBlocks = 3, policy = policy)
      val larger = LinkGraph.fromEdgeList(spark,
        DenseReference.randomEdges(60, 0.1, seed = 6).map(e => (e._1.toLong, e._2.toLong)).toDF("src", "dst"),
        numBlocks = 3, policy = policy)
      val cfg = PageRankConfig(0.85, 1e-10, 200, PageRankMode.ReferenceRenorm, checkpointEvery = 2)
      /** A checkpoint dir of `from` whose newest snapshot is the last commit edited by `edit`. */
      def checkpoint(from: LinkGraph)(edit: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
        val dir = Files.createTempDirectory("graft-corrupt").toString
        new PageRankEngine(from, cfg.copy(maxIterations = 2, checkpointDir = Some(dir))).run().free()
        val (snap, _, _) = CheckpointManager.latest(dir).get
        graft.sources.IcebergLite.commit(edit(CheckpointManager.readRanks(spark, dir, snap)), dir,
          properties = graft.sources.IcebergLite.properties(dir, snap))
        dir
      }
      val dirs = Seq(
        "dropped" -> checkpoint(g)(_.filter($"vid" =!= 5L)),
        "duplicated" -> checkpoint(g)(df => df.union(df.filter($"vid" === 5L))),
        "other n" -> checkpoint(larger)(identity))
      for ((tag, dir) <- dirs) {
        val e = intercept[Exception](PageRank.resume(g, cfg.copy(checkpointDir = Some(dir))))
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
        val snap = CheckpointManager.latest(dir).get._1
        assert(messages.contains(s"checkpoint snapshot $snap of $dir"), s"$tag under $policy: $messages")
      }
      g.unpersistAll(); larger.unpersistAll()
    }
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
    for (key <- Seq("superstep", "residual", "shuffleRows", "shuffleBytes", "wallMs"))
      assert(("\"" + key + "\":").r.findAllMatchIn(props("metrics")).size == 2, s"$key: ${props("metrics")}")
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
    val e = SharedPatterns.sharedPatternEdges(t1, maxReposPerToken = 50)
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

  test("laid-out binary part files reproduce the directly-built ranks") {
    // the zero-shuffle restore (PartIO block files as the graph's restored
    // adjacency source): partition layout and in-partition order are the
    // build's own, and both regimes add their partial sums in a fixed order,
    // so either regime must be BIT-identical to the directly-built graph.
    import graft.graph.LinkGraph
    val dir = Files.createTempDirectory("graft-prebuilt-bin").toString
    val edges = rand.toDF("src", "dst")
    val g = LinkGraph.fromEdgeList(spark, edges, numBlocks = 3)
    graft.tools.PartIO.writeBlockFiles(g.adjPartsByBlock.values, s"$dir/dst-bin")
    graft.tools.PartIO.writeBlockFiles(g.gatherPartsRdd, s"$dir/src-bin")

    for (distributed <- Seq(true, false)) {
      val policy = if (distributed) distributedOnly else ExecutionPolicy()
      // reference computed under the SAME regime — resident and distributed
      // kernels have different (both deterministic) summation orders
      val ref = under(g, policy)
      val want = PageRank.run(ref, tolerance = 0.0, maxIterations = 8)
        .toVertexDf(ref).orderBy("vid").collect().map(_.getDouble(1))
      ref.unpersistAll()
      val parts = Some(graft.tools.PartIO.readLaidOut(
        spark.sparkContext, s"$dir/${if (distributed) "dst" else "src"}-bin", g.numBlocks))
      val (dst, gather) = if (distributed) (parts, None) else (None, parts)
      val p = LinkGraph.fromPrebuiltParts(spark, g.numVertices, g.numBlocks, g.numEdges, dst, gather, policy)
      assert(p.numEdges == g.numEdges)
      val got = PageRank.run(p, tolerance = 0.0, maxIterations = 8)
        .toVertexDf(p).orderBy("vid").collect().map(_.getDouble(1))
      p.unpersistAll()
      assert(got.sameElements(want), s"bin ${if (distributed) "distributed" else "resident"} diverged bitwise")
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
      PartIO.readLaidOut(spark.sparkContext, dir.getPath, g.numBlocks).collect()
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

  test("a kernel leg's JSON line parses into a LegRun") {
    // the leg prints its line for graft.Bench to parse; scratch stays in a temp dir
    val scratch = Files.createTempDirectory("graft-leg")
    try {
      val leg = Bench.forkKernelLeg(1, 200, 1000, 3, "resident",
        env = Seq("SPARK_GRAFT_LOCAL_DIR" -> scratch.toString), heap = "512m")
      assert(leg.isDefined, "the leg failed or printed no superstep_sec/folded_edges")
      // a superstep this small rounds to 0 ms
      assert(leg.get.superstepSec >= 0.0 && leg.get.foldedEdges > 0L, s"$leg")
    } finally Files.walk(scratch).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
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
