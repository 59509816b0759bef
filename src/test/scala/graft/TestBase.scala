package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.ValueDist
import graft.graph.LinkGraph
import graft.model.ExecutionPolicy
import graft.sources.RepoFiles

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.local(4, "graft-test")
}

/** What one body ran, as the listener bus saw it: the properties of each
  * job it started, its stages, how many of them wrote shuffle output (a
  * driver-resident operator writes none), the shuffle records they wrote in
  * all and the physical plan of each SQL execution.
  */
final case class Ran(
    jobs: Seq[java.util.Properties], stages: Int, shuffles: Int, shuffleRows: Long, plans: Seq[String])

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every operator down its distributed path. */
  val distributedOnly: ExecutionPolicy = ExecutionPolicy(driverBytes = 0L)

  /** The same graph under another policy: it shares `g`'s dictionary and edge
    * views and the build's store behind them (its `unpersistAll` releases the
    * store too) and builds its own layouts.
    */
  def under(g: LinkGraph, policy: ExecutionPolicy): LinkGraph =
    new LinkGraph(g.spark, g.vertexDict, g.edges, g.numVertices, g.numBlocks, g.blockSize, g.numEdges, g.source,
      policy)

  /** `g` with its edge-sized structures (16 B/edge) off the driver and its
    * rank vector (8 B/vertex) on it: cluster-built parts under the
    * vector-resident PageRank regime, gathering through one job per superstep.
    */
  def residentJob(g: LinkGraph): LinkGraph = {
    val v = under(g, ExecutionPolicy(driverBytes = g.numEdges * 16))
    assert(g.numVertices * 8 < v.policy.driverBytes, "the rank vector must stay on the driver")
    v
  }

  /** The degree table summed on the driver from the collected edges, one edge
    * partition at a time and the partitions' sums added in partition order:
    * the order the kernel adds in, so fractional weights compare exactly too.
    */
  def degreeReference(g: LinkGraph): Seq[(Long, Long, Double, Double)] = {
    val n = g.numVertices.toInt
    val (in, out) = (new Array[Double](n), new Array[Double](n))
    g.edges.rdd.glom().collect().foreach { part =>
      val (pIn, pOut) = (new Array[Double](n), new Array[Double](n))
      part.foreach { e => pIn(e.dst.toInt) += e.weight; pOut(e.src.toInt) += e.weight }
      (0 until n).foreach { v => in(v) += pIn(v); out(v) += pOut(v) }
    }
    g.vertexDict.collect().sortBy(_.vid).map(m => (m.vid, m.extId, in(m.vid.toInt), out(m.vid.toInt))).toSeq
  }

  /** The degree table's rows in the order it emits them. */
  def degreeRows(g: LinkGraph): Seq[(Long, Long, Double, Double)] =
    g.degreeTable.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq

  /** `body`'s result and the persisted RDDs it added to the context (a set
    * difference, so RDDs that the cleaner reaps meanwhile do not count).
    */
  def persistedBy[T](body: => T): (T, Map[Int, org.apache.spark.rdd.RDD[_]]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    (r, spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.toMap)
  }

  /** `body`'s result and what it ran: every job, stage and SQL execution of
    * its job group, flushed by a marker job after it.
    */
  def recorded[T](body: => T): (T, Ran) = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "graft.test.recorded"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val shuffles = new java.util.concurrent.atomic.AtomicInteger
    val shuffleRows = new java.util.concurrent.atomic.AtomicLong
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      private def groupOf(p: java.util.Properties) = Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.add(e.properties)
        case "graft.test.marker" => flushed.countDown()
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.add(e.stageInfo.stageId)
      // a stage that ran and wrote shuffle output (stages behind a cached
      // RDD are skipped; adaptive execution runs each exchange as its own job)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val written = e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (stages.contains(e.stageInfo.stageId) && written > 0) {
          shuffles.incrementAndGet()
          shuffleRows.addAndGet(written)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val result = try {
      sc.setJobGroup(group, "recorded body")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft.test.marker", "flush the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally sc.removeSparkListener(listener)
    (result, Ran(jobs.asScala.toSeq, stages.size, shuffles.get, shuffleRows.get, plans.asScala.toSeq))
  }

  def assertAllClose(got: Array[Double], want: Array[Double], tol: Double = 1e-9): Unit = {
    assert(got.length == want.length, s"length ${got.length} != ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= tol + tol * math.abs(w), s"at $i: got $g want $w")
    }
  }
}

/** The shared-pattern graph as a Catalyst self-join: the parity reference for
  * [[graft.sources.RepoFiles.linkGraph]].
  */
object SharedPatterns {
  /** Shared-pattern edges: distinct (repo, token) incidences self-joined on
    * token → directed edges both ways between distinct repos sharing a token;
    * duplicate pairs (many shared tokens) fold to weights downstream. The
    * Catalyst statement of what [[graft.sources.RepoFiles.linkGraph]] builds.
    *
    * Skew guard (north rule): tokens shared by more than `maxReposPerToken`
    * repos are dropped before the self-join — a hot token over T repos emits
    * T² pairs, so ubiquitous "stop tokens" would quadratically dominate while
    * carrying no linkage signal (the same reasoning as stopword removal). The
    * cutoff is an explicit knob.
    */
  def sharedPatternEdges(files: DataFrame, maxReposPerToken: Int = 1000): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val rt = RepoFiles.repoTokens(files).distinct()
    val kept = rt.join(
      rt.groupBy($"token").agg(count(lit(1)).as("nRepos")).filter($"nRepos" <= maxReposPerToken).select($"token"),
      Seq("token"))
    val a = kept.select($"token", $"repo".as("repoA"))
    val b = kept.select($"token", $"repo".as("repoB"))
    a.join(b, Seq("token"))
      .filter($"repoA" =!= $"repoB") // both orientations emerge from the join
      .select(
        xxhash64($"repoA").as("src"), // stable 64-bit external vertex ids
        xxhash64($"repoB").as("dst"))
  }

  /** repo → stable external vertex id used by [[sharedPatternEdges]]. */
  def repoIdMap(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select($"repo").distinct().select($"repo", xxhash64($"repo").as("extId"))
  }
}

/** `NetworkAnalytics.networkMetrics` as the Catalyst aggregate it was: the
  * parity reference for its primitive pass.
  */
object MetricsPlan {
  def networkMetrics(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val deg = graph.degreeTable.withColumn("totalDeg", $"inDeg" + $"outDeg")
    val nnz = graph.numEdges // distinct (src,dst) pairs = G.nnz
    val n = graph.numVertices

    // thresholds + medians: ONE distribution job over the CACHED degree table
    // serves all three columns, each dist then serving both of its probes
    val Seq(distOut, distIn, distTot) = ValueDist.of(deg, Seq("outDeg", "inDeg", "totalDeg"), graph.policy)
    val Seq(p90out, medOut) = distOut.percentiles(Seq(0.9, 0.5))
    val Seq(p90in, medIn) = distIn.percentiles(Seq(0.9, 0.5))
    val p95tot = distTot.percentile(0.95)

    deg.agg(
      lit(n).as("total_providers"),
      lit(nnz).as("total_referrals"),
      lit(if (n > 1) nnz.toDouble / (n.toDouble * (n - 1)) else 0.0).as("network_density"),
      avg($"outDeg").as("average_referrals_out"),
      lit(medOut).as("median_referrals_out"),
      stddev_pop($"outDeg").as("std_referrals_out"),
      max($"outDeg").cast("long").as("max_referrals_out"),
      (sum(when($"outDeg" > lit(p90out), 1L).otherwise(0L)).cast("double") / lit(n.toDouble))
        .as("referral_concentration_out"),
      avg($"inDeg").as("average_referrals_in"),
      lit(medIn).as("median_referrals_in"),
      stddev_pop($"inDeg").as("std_referrals_in"),
      max($"inDeg").cast("long").as("max_referrals_in"),
      (sum(when($"inDeg" > lit(p90in), 1L).otherwise(0L)).cast("double") / lit(n.toDouble))
        .as("referral_concentration_in"),
      sum(when($"totalDeg" === 0.0, 1L).otherwise(0L)).as("isolated_providers"),
      sum(when($"totalDeg" > lit(p95tot), 1L).otherwise(0L)).as("hub_providers"),
      avg(when($"inDeg" > 0, $"outDeg" / ($"inDeg" + lit(1e-10))).otherwise($"outDeg"))
        .as("referral_imbalance_ratio"))
  }
}

/** Reference-faithful dense re-implementations of the three kernels — the
  * golden oracle. Each mirrors the cited numpy code line by line (array-order
  * summation, update/renormalize/residual ordering, iteration counting).
  */
object DenseReference {

  /** Build dense G[src][dst] += w from an edge list (duplicate-summing, as
    * scipy.sparse.csc_matrix does at /root/reference/pagerank.py:638-640),
    * then c = column sums (pagerank.py:170).
    */
  private def buildGD(n: Int, edges: Seq[(Int, Int, Double)]): (Array[Array[Double]], Array[Double]) = {
    val g = Array.fill(n, n)(0.0)
    edges.foreach { case (s, t, w) => g(s)(t) += w }
    val c = new Array[Double](n)
    var j = 0
    while (j < n) { var i = 0; while (i < n) { c(j) += g(i)(j); i += 1 }; j += 1 }
    (g, c)
  }

  /** y = G @ D @ x with D = diag(1/where(c!=0,c,1)) (pagerank.py:173-174, :194). */
  private def matvec(g: Array[Array[Double]], c: Array[Double], x: Array[Double]): Array[Double] = {
    val n = x.length
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = 0
      var s = 0.0
      while (j < n) {
        if (g(i)(j) != 0.0) {
          val cj = if (c(j) != 0.0) c(j) else 1.0
          s += g(i)(j) * x(j) / cj
        }
        j += 1
      }
      y(i) = s
      i += 1
    }
    y
  }

  /** Reference main kernel, pagerank.py:129-219. Returns (x, iterations, converged, err). */
  def pagerank(
      n: Int,
      edges: Seq[(Int, Int, Double)],
      damping: Double = 0.85,
      tol: Double = 1e-8,
      maxIter: Int = 1000
  ): (Array[Double], Int, Boolean, Double) = {
    val (g, c) = buildGD(n, edges)
    var x = Array.fill(n)(1.0 / n)
    var converged = false
    var error = 0.0
    var iteration = 0
    var k = 0
    while (k < maxIter && !converged) {
      val xOld = x.clone()
      val gx = matvec(g, c, x)
      val sumX = x.sum
      val delta = (1.0 - damping) / n
      x = gx.map(v => damping * v + delta * sumX)
      val sumNew = x.sum
      x = x.map(_ / sumNew)
      error = x.zip(xOld).map { case (a, b) => math.abs(a - b) }.sum
      iteration = k
      if (error < tol) converged = true
      k += 1
    }
    (x, iteration + 1, converged, error)
  }

  /** Risk propagation, pagerank.py:285-305: teleport=(1-d)*r0 (normalized), no renorm. */
  def propagateRisk(
      n: Int,
      edges: Seq[(Int, Int, Double)],
      rawPrior: Array[Double],
      damping: Double = 0.95,
      tol: Double = 1e-8,
      maxIter: Int = 1000
  ): (Array[Double], Array[Double]) = {
    val (g, c) = buildGD(n, edges)
    val ps = rawPrior.sum
    val r0 = rawPrior.map(_ / ps)
    var x = r0.clone()
    val delta = r0.map(_ * (1.0 - damping))
    var k = 0
    var done = false
    while (k < maxIter && !done) {
      val xOld = x.clone()
      val gx = matvec(g, c, x)
      x = gx.zip(delta).map { case (v, dl) => damping * v + dl }
      if (x.zip(xOld).map { case (a, b) => math.abs(a - b) }.sum < tol) done = true
      k += 1
    }
    (x, r0)
  }

  /** Moler-dangling power method, original_pagerank/pagerank.py:105-144. */
  def pagerankDangling(
      n: Int,
      edges: Seq[(Int, Int, Double)],
      damping: Double = 0.85,
      tol: Double = 1e-8,
      maxIter: Int = 100
  ): Array[Double] = {
    val (g, c) = buildGD(n, edges)
    var x = Array.fill(n)(1.0 / n)
    val z = Array.tabulate(n)(i => if (c(i) != 0.0) 1.0 / n - damping / n else 1.0 / n)
    var k = 0
    var done = false
    while (k < maxIter && !done) {
      val xOld = x.clone()
      val gx = matvec(g, c, x)
      val zx = z.zip(x).map { case (a, b) => a * b }.sum
      x = gx.zipWithIndex.map { case (v, _) => damping * v }.map(_ + zx / n)
      if (x.zip(xOld).map { case (a, b) => math.abs(a - b) }.sum < tol) done = true
      k += 1
    }
    val s = x.sum
    x.map(_ / s)
  }

  /** Seeded pseudo-random digraph (deterministic, no wall clock). */
  def randomEdges(n: Int, p: Double, seed: Long): Seq[(Int, Int, Double)] = {
    val rng = new scala.util.Random(seed)
    val b = Seq.newBuilder[(Int, Int, Double)]
    for (i <- 0 until n; j <- 0 until n if i != j)
      if (rng.nextDouble() < p) b += ((i, j, 1.0))
    b.result()
  }
}
