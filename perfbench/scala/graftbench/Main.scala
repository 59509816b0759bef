package graftbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.analytics.NetworkAnalytics
import graft.engine.{CheckpointManager, PageRankOutcome}
import graft.graph.LinkGraph
import graft.model.{PageRankConfig, PageRankMode, RankChunk}
import graft.sources.RepoFiles
import graft.util.HostProbe

/** One benchmark run in this JVM: set up the session and the seeded inputs
  * (several times, for a median set-up time), run the workload's timed
  * section once through the engine's public API, then dump every result for
  * the engine-independent checker (check.py) and a summary JSON.
  *
  * Usage: Main --workload W --seed S --trace 0|1 --out DIR [--trace-file F]
  */
object Main {
  val Cores = 4
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, traced: Boolean, out: String, traceFile: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m.getOrElse("trace", "0") == "1", m("out"),
      m.getOrElse("trace-file", ""))
  }

  def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl: Workload = args.workload match {
      case "contract_sf01" => ContractSf01
      case "powerlaw_1m" => Powerlaw1m
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val host0 = host()
    val out = args.out
    Files.createDirectories(Paths.get(out, "res"))

    // ---- set-up: session + seeded inputs written once, SetupRounds times
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sums = mutable.ArrayBuffer.empty[Map[String, String]]
    var spark: SparkSession = null
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    for (r <- 0 until SetupRounds) {
      val t0 = System.nanoTime() - (if (r == 0) (jvmStartS * 1e9).toLong else 0L)
      spark = session(out)
      val dir = s"$out/input-$r"
      sums += wl.generate(spark, args.seed, dir)
      setupS += (System.nanoTime() - t0) / 1e9
      if (r < SetupRounds - 1) { spark.stop(); deleteTree(new File(dir)) }
    }
    val input = s"$out/input-${SetupRounds - 1}"

    // ---- timed section
    System.gc()
    OldGenPeak.install()
    val tracer = new Tracer(spark.sparkContext, args.traced, s"run.${args.workload}")
    val res = new Results(s"$out/res")
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    wl.timed(spark, input, out, tracer, res)
    val totalS = (System.nanoTime() - t0) / 1e9 - tracer.samplingS
    val endMs = System.currentTimeMillis()
    val heapMb = OldGenPeak.peakMb()

    // ---- untimed: results the checker needs beyond what the calls returned
    val t1 = System.nanoTime()
    wl.dumpAfter(res)
    val host1 = host()
    val afterS = (System.nanoTime() - t1) / 1e9

    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "seed" -> args.seed,
      "setup_s" -> setupS.toSeq,
      "input_checksums" -> sums.last,
      "input_checksums_repeat" -> sums.forall(_ == sums.head),
      "total_s" -> totalS,
      "untimed_s" -> Map("jvm_start" -> jvmStartS, "heap_sampling" -> tracer.samplingS, "after" -> afterS),
      "heap_peak_mb" -> heapMb,
      "span_wall_s" -> tracer.wall.toMap,
      "counts" -> res.counts.toMap,
      "s_per_superstep" -> res.kernel.toMap,
      "metrics" -> res.metrics.toMap,
      "pagerank_walls_s" -> res.pagerankWalls.toSeq,
      "host_start" -> host0,
      "host_end" -> host1)
    if (args.traced) {
      val root = Span(tracer.root, null, startMs, endMs, totalS, 0, 0, 0, 0, 0, 0, 0)
      val lines = (root +: tracer.spans.toSeq).map { s =>
        Json(mutable.LinkedHashMap[String, Any]("run_id" -> new File(out).getName, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
          "driver_s" -> s.driverS, "task_s" -> s.taskS, "stages" -> s.stages, "shuffle_mb" -> s.shuffleMb,
          "spill_mb" -> s.spillMb, "gc_s" -> s.gcS, "skew" -> s.skew))
      }
      if (args.traceFile.nonEmpty) Files.write(Paths.get(args.traceFile), (lines.mkString("\n") + "\n").getBytes)
      // repeated calls of one span add up; skew is the worst call's
      summary("spans") = tracer.spans.groupBy(_.name).map { case (name, ss) =>
        name -> Map("wall_s" -> ss.map(_.wallS).sum, "driver_s" -> ss.map(_.driverS).sum,
          "task_s" -> ss.map(_.taskS).sum, "stages" -> ss.map(_.stages).sum,
          "shuffle_mb" -> ss.map(_.shuffleMb).sum, "spill_mb" -> ss.map(_.spillMb).sum,
          "gc_s" -> ss.map(_.gcS).sum, "skew" -> ss.map(_.skew).max)
      }
    }
    Files.write(Paths.get(out, "summary.json"), Json(summary).getBytes)
    spark.stop()
  }

  private def host(): Map[String, Any] = {
    val load = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case _: Exception => Seq.empty[Double] }
    Map("loadavg" -> load, "steal_s" -> HostProbe.stealSec())
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Rank chunks → dense vector by vid (a full read of the result). */
  def vector(ds: Dataset[RankChunk], n: Long): Array[Double] = {
    val v = new Array[Double](n.toInt)
    ds.collect().foreach(c => System.arraycopy(c.values, 0, v, c.loVid.toInt, c.values.length))
    v
  }

  /** (vid, value) frame → dense Long vector by vid (a full read of the result). */
  def longsByVid(df: DataFrame, col: String, n: Long): Array[Long] = {
    val v = Array.fill(n.toInt)(Long.MinValue)
    df.select(df("vid").cast("long"), df(col).cast("long")).collect().foreach(r => v(r.getLong(0).toInt) = r.getLong(1))
    v
  }

  /** Read every adjacency part: (edges held, Σ wNorm). */
  def readAdjacency(g: LinkGraph): (Long, Double) =
    g.adjParts.rdd.map(p => (p.adj.length.toLong, p.wNorm.sum)).fold((0L, 0.0))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** extId by vid, read from the dictionary. */
  def dictionary(g: LinkGraph): Array[Long] = {
    val ext = new Array[Long](g.numVertices.toInt)
    g.vertexDict.collect().foreach(m => ext(m.vid.toInt) = m.extId)
    ext
  }

  /** Order-free fingerprint of the folded edge set (count, Σsrc, Σdst, Σw, Σ src·dst·w). */
  def edgeFingerprint(g: LinkGraph): String = {
    val d = (c: String) => col(c).cast("decimal(38,0)")
    g.edges.agg(count(lit(1)).cast("string"), sum(d("src")).cast("string"), sum(d("dst")).cast("string"),
      sum(d("weight")).cast("string"), sum(d("src") * d("dst") * d("weight")).cast("string"))
      .collect()(0).toSeq.mkString(":")
  }
}

/** Results handed to the checker: binary little-endian vectors plus counts. */
final class Results(dir: String) {
  /** Exact counts: for one seed they must repeat run to run. */
  val counts = mutable.LinkedHashMap.empty[String, Any]
  /** Engine per-superstep timings, keyed by span. */
  val kernel = mutable.LinkedHashMap.empty[String, Double]
  /** End-to-end metrics a workload defines itself. */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Wall seconds of every PageRank call (contract) or resumable job (powerlaw). */
  val pagerankWalls = mutable.ArrayBuffer.empty[Double]
  /** PageRank result of every repeated call, with the supersteps it took. */
  private val rankCalls = mutable.ArrayBuffer.empty[(Array[Double], Int)]

  def apply(k: String, v: Any): Unit = counts(k) = v

  def metric(k: String, v: Double): Unit = metrics(k) = v

  /** Supersteps one engine call ran and their mean kernel seconds (commits excluded). */
  def engine(span: String, o: PageRankOutcome): Unit = {
    counts(s"$span.supersteps") = o.metrics.size
    if (o.metrics.nonEmpty) kernel(span) = o.metrics.map(_.wallMs).sum / 1000.0 / o.metrics.size
  }

  def rankCall(v: Array[Double], supersteps: Int): Unit = rankCalls += ((v, supersteps))

  /** The last call's ranks as `pagerank`, the earlier calls' concatenated as
    * `pagerank.repeats`; the checker holds every one to the reference.
    */
  def writeRankCalls(): Unit = {
    doubles("pagerank", rankCalls.last._1)
    doubles("pagerank.repeats", rankCalls.init.flatMap(_._1).toArray)
    counts("pagerank_call_supersteps") = rankCalls.map(_._2).toSeq
  }

  def doubles(name: String, v: Array[Double]): Unit = {
    val b = ByteBuffer.allocate(v.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.asDoubleBuffer().put(v)
    Files.write(Paths.get(dir, s"$name.f64"), b.array())
  }

  def longs(name: String, v: Array[Long]): Unit = {
    val b = ByteBuffer.allocate(v.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.asLongBuffer().put(v)
    Files.write(Paths.get(dir, s"$name.i64"), b.array())
  }
}

/** Minimal JSON rendering for the summary and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => apply(o.toString)
  }
}

trait Workload {
  /** Writes the seeded inputs under `dir`; returns their checksums. */
  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, String]

  /** The timed section: every public call inside a span, every result fully read. */
  def timed(spark: SparkSession, input: String, out: String, span: Tracer, res: Results): Unit

  /** Untimed extras for the checker, after the timed section. */
  def dumpAfter(res: Results): Unit
}

/** Everything under every size gate: the sf0.1-shaped TPC-H customer→supplier
  * graph through the contract leaves, and the repo catalog through the
  * shared-pattern pipeline and clustering coefficients.
  */
object ContractSf01 extends Workload {
  val Orders = 150000L
  val Customers = 15000L
  val Suppliers = 1000L
  val Repos = 1000L
  val FilesPerRepo = 10
  val Vocab = 1000
  val HotTokenCap = 200
  val WarmupCalls = 3
  val TimedCalls = 11

  private var g: LinkGraph = null
  private var rg: LinkGraph = null

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, String] = {
    Inputs.orders(spark, Orders, Customers, seed).write.parquet(s"$dir/orders")
    Inputs.lineitem(spark, Orders, Suppliers, seed).write.parquet(s"$dir/lineitem")
    Inputs.repoFiles(spark, Repos, FilesPerRepo, Vocab, seed).write.parquet(s"$dir/repo_files")
    Inputs.repoIds(spark.read.parquet(s"$dir/repo_files")).write.parquet(s"$dir/repo_ids")
    val rf = spark.read.parquet(s"$dir/repo_files")
      .select(xxhash64(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("h"))
    Map(
      "orders" -> Inputs.checksum(spark.read.parquet(s"$dir/orders"), Seq("o_orderkey", "o_custkey")),
      "lineitem" -> Inputs.checksum(spark.read.parquet(s"$dir/lineitem"), Seq("l_orderkey", "l_suppkey")),
      "repo_files" -> Inputs.checksum(rf, Seq("h")),
      "repo_ids" -> Inputs.checksum(spark.read.parquet(s"$dir/repo_ids"), Seq("ext_id")))
  }

  def timed(spark: SparkSession, input: String, out: String, span: Tracer, res: Results): Unit = {
    import spark.implicits._
    g = span("graph.fold_dict") {
      val orders = spark.read.parquet(s"$input/orders")
      val lineitem = spark.read.parquet(s"$input/lineitem")
      val raw = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"), $"l_suppkey".as("dst"))
      val gg = LinkGraph.fromEdgeList(spark, raw)
      res.longs("dict", Main.dictionary(gg))
      gg
    }
    val n = g.numVertices
    val adj = span("graph.adjacency")(Main.readAdjacency(g))
    // the first call pays the JIT and builds the graph's cached gather parts,
    // and the calls after it still speed up as the JIT warms: the first
    // WarmupCalls are not counted, and pagerank_s is the median of the
    // TimedCalls after them, the cost of one call on a prepared graph
    val calls = WarmupCalls + TimedCalls
    val pr = (1 to calls).map { i =>
      val run = span("engine.pagerank", sampleHeap = i == calls) {
        val o = PageRank.run(g, tolerance = 1e-6)
        res.rankCall(Main.vector(o.ranks, n), o.metrics.size)
        res.engine("engine.pagerank", o)
        o.free()
        o.run
      }
      res.pagerankWalls += span.lastWallS
      run
    }.last
    res.writeRankCalls()
    res.metric("pagerank_s", Main.median(res.pagerankWalls.drop(WarmupCalls).toSeq))
    val (prior, risk) = span("engine.risk") {
      val p = NetworkAnalytics.compositeRisk(g)
      val o = PageRank.propagateRisk(g, p, tolerance = 0.0, maxIterations = 6)
      res.doubles("risk", Main.vector(o.ranks, n))
      res.engine("engine.risk", o)
      (p, o)
    }
    span("algo.cc")(res.longs("cc", Main.longsByVid(ConnectedComponents.run(g), "label", n)))
    span("algo.lpa")(res.longs("lpa", Main.longsByVid(LabelPropagation.run(g, 4), "label", n)))
    span("algo.triangles")(res.longs("triangles", Main.longsByVid(TriangleCount.perVertexTriangles(g), "triangles", n)))
    val metrics = span("analytics.metrics")(NetworkAnalytics.networkMetrics(g).collect()(0))
    val high = span("analytics.high_risk") {
      NetworkAnalytics.highRiskProviders(risk.toVertexDf(g), prior)
        .select($"vid".cast("long"), $"risk_score").as[(Long, Double)].collect()
    }
    risk.free()
    rg = span("sources.repo_graph") {
      val files = spark.read.parquet(s"$input/repo_files")
      val r = RepoFiles.linkGraph(spark, files, maxReposPerToken = HotTokenCap)
      res.longs("repo_dict", Main.dictionary(r))
      res("repo_adjacency_edges", Main.readAdjacency(r)._1)
      r
    }
    span("algo.clustering") {
      val cc = TriangleCount.clusteringCoefficients(rg)
        .select($"vid".cast("long"), $"triangles".cast("long"), $"deg".cast("long"), $"clustering_coeff".cast("double"))
        .as[(Long, Long, Long, Double)].collect()
      val rn = rg.numVertices.toInt
      val (t, d, c) = (new Array[Long](rn), new Array[Long](rn), new Array[Double](rn))
      cc.foreach { case (v, a, b, x) => t(v.toInt) = a; d(v.toInt) = b; c(v.toInt) = x }
      res.longs("repo_triangles", t); res.longs("repo_deg", d); res.doubles("repo_clustering", c)
    }

    res("n", n); res("m", g.numEdges); res("blocks", g.numBlocks)
    res("adjacency_edges", adj._1); res("adjacency_wnorm_sum", adj._2)
    res("pagerank_supersteps", pr.iterations); res("pagerank_converged", pr.converged)
    res("repo_n", rg.numVertices); res("repo_m", rg.numEdges); res("repo_blocks", rg.numBlocks)
    res("network_metrics", metrics.getValuesMap[Any](metrics.schema.fieldNames))
    res.longs("high_risk", high.map(_._1))
    res.metric("analytics_s", Seq("engine.risk", "algo.cc", "algo.lpa", "algo.triangles", "algo.clustering",
      "analytics.metrics", "analytics.high_risk").map(span.wall).sum)
  }

  def dumpAfter(res: Results): Unit = {
    res("edge_fingerprint", Main.edgeFingerprint(g))
    res("repo_edge_fingerprint", Main.edgeFingerprint(rg))
    res("checkpoint_supersteps", Seq.empty[Int])
    g.unpersistAll(); rg.unpersistAll()
  }
}

/** Above the 2M-pair fold probe and the 4.2M-edge adjacency gate, below the
  * 8.39M-vertex rank-vector gate: distributed fold, dictionary and adjacency
  * under hub skew, resident-job PageRank launched resumable (commit every 5
  * supersteps, stopped at 5) and finished by `PageRank.resume` in a fresh
  * engine, and network metrics.
  */
object Powerlaw1m extends Workload {
  val Slots = 1000000L
  val RawPairs = 4250000L
  val FirstLeg = 5
  val CommitEvery = 5
  val Tolerance = 1e-5
  val Jobs = 2
  val MetricsCalls = 3

  private var g: LinkGraph = null
  private val ckpts = mutable.ArrayBuffer.empty[String]

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, String] = {
    Inputs.skewedEdges(spark, Slots, RawPairs, seed).write.parquet(s"$dir/edges")
    Map("edges" -> Inputs.checksum(spark.read.parquet(s"$dir/edges"), Seq("src", "dst")))
  }

  def timed(spark: SparkSession, input: String, out: String, span: Tracer, res: Results): Unit = {
    g = span("graph.fold_dict") {
      val gg = LinkGraph.fromEdgeList(spark, spark.read.parquet(s"$input/edges"))
      res.longs("dict", Main.dictionary(gg))
      gg
    }
    val n = g.numVertices
    val adj = span("graph.adjacency")(Main.readAdjacency(g))
    // the first resumable job on a graph pays 5-8 s of one-time costs (JIT,
    // building the graph's cached gather parts, the first commit and snapshot
    // read), several times its 15 supersteps: the job runs Jobs times, and
    // pagerank_s is the median of the runs after the first
    val resumed = (1 to Jobs).map { j =>
      ckpts += s"$out/checkpoints-$j"
      val cfg = PageRankConfig(tolerance = Tolerance, maxIterations = FirstLeg, mode = PageRankMode.ReferenceRenorm,
        checkpointDir = Some(ckpts.last), checkpointEvery = CommitEvery)
      // resume() on an empty checkpoint directory starts at superstep 0: the
      // way a resumable job is launched through the public API
      val leg = span("engine.pagerank", sampleHeap = false) {
        val o = PageRank.resume(g, cfg)
        o.ranks.rdd.map(_.values.sum).sum() // read the whole leg's result
        res.engine("engine.pagerank", o)
        o.free()
        o.metrics.size
      }
      val legS = span.lastWallS
      val run = span("engine.resume", sampleHeap = j == Jobs) {
        val o = PageRank.resume(g, cfg.copy(maxIterations = 1000))
        res.rankCall(Main.vector(o.ranks, n), leg + o.metrics.size)
        res.engine("engine.resume", o)
        o.free()
        o.run
      }
      res.pagerankWalls += legS + span.lastWallS
      run
    }.last
    res.writeRankCalls()
    // the graph caches the degree table the call builds, so a repeated call
    // on it does almost nothing: each of the MetricsCalls runs on a fresh
    // LinkGraph over the same cached edges and builds its own. The first call
    // also pays the JIT, so analytics_s is the median of the calls after it;
    // every call's result is checked
    val metricsWalls = mutable.ArrayBuffer.empty[Double]
    val metrics = (1 to MetricsCalls).map { i =>
      val view = new LinkGraph(spark, g.vertexDict, g.edges, g.numVertices, g.numBlocks, g.blockSize)
      val row = span("analytics.metrics", sampleHeap = i == MetricsCalls)(NetworkAnalytics.networkMetrics(view).collect()(0))
      metricsWalls += span.lastWallS
      view.degreeTable.unpersist()
      row.getValuesMap[Any](row.schema.fieldNames)
    }
    res.metric("analytics_s", Main.median(metricsWalls.drop(1).toSeq))

    res("n", n); res("m", g.numEdges); res("blocks", g.numBlocks)
    res("adjacency_edges", adj._1); res("adjacency_wnorm_sum", adj._2)
    res("pagerank_supersteps", resumed.iterations); res("pagerank_converged", resumed.converged)
    res.metric("pagerank_s", Main.median(res.pagerankWalls.drop(1).toSeq))
    res("network_metrics", metrics.last)
    res("network_metrics_repeats", metrics.init)
  }

  def dumpAfter(res: Results): Unit = {
    res("edge_fingerprint", Main.edgeFingerprint(g))
    val committed = ckpts.toSeq.map(CheckpointManager.committedSupersteps)
    res("checkpoint_supersteps", committed.last)
    res("checkpoint_supersteps_per_job", committed)
    g.unpersistAll()
  }
}
