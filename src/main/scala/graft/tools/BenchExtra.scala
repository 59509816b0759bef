package graft.tools

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.analytics.NetworkAnalytics
import graft.sources.{RepoFiles, TestdataGraph}

/** Builder-side measurement harness for the optimization rounds (guide §1).
  * Times the SAME workload entries as [[graft.Bench]] phase 2/3 — same session
  * config, same actions, same scale factor — but with per-query isolation,
  * optional repeats, and per-superstep breakdowns, WITHOUT touching the frozen
  * Bench.scala. Prints one JSON line per pass plus sub-phase lines to stderr.
  *
  * Usage: sbt "runMain graft.tools.BenchExtra [passes]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object BenchExtra {

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val passes = if (args.nonEmpty) args(0).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.util.Sessions.local(cpus, "graft-bench-extra")

    // per-query job/stage/task counters: at contract scale the wall is mostly
    // fixed per-stage overhead, so the count of scheduled stages is the thing
    // to minimize (guide §1.2 step 1)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })

    for (pass <- 1 to passes) {
      val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var (j0, s0, t0) = (0L, 0L, 0L)
      def mark(): Unit = { j0 = jobs.get; s0 = stages.get; t0 = tasks.get }
      def sub(name: String, sec: Double): Unit =
        System.err.println(f"[extra] pass=$pass $name%-28s $sec%8.3f s")
      var gc0 = graft.util.HostProbe.gcSec()
      def counters(name: String): Unit = {
        val gc1 = graft.util.HostProbe.gcSec()
        System.err.println(
          s"[extra] pass=$pass counters $name jobs=${jobs.get - j0} " +
            s"stages=${stages.get - s0} tasks=${tasks.get - t0} " +
            f"gc=${gc1 - gc0}%.2f")
        gc0 = gc1
        mark()
      }
      mark()

      val sc = spark.sparkContext
      sc.setJobDescription("graph_build")
      val (g, buildSec) = time {
        val gg = TestdataGraph.graph(spark, sfDir)
        gg.adjParts.count()
        gg
      }
      results += "graph_build" -> buildSec
      counters("graph_build")

      sc.setJobDescription("pagerank_tol1e6")
      val (prOut, prSec) = time(PageRank.run(g, tolerance = 1e-6))
      sub("pagerank iters", prOut.run.iterations.toDouble)
      sub("pagerank first-step ms", prOut.metrics.headOption.map(_.wallMs / 1000.0).getOrElse(-1))
      sub("pagerank median-step ms", {
        val s = prOut.metrics.map(_.wallMs).sorted; if (s.isEmpty) -1 else s(s.size / 2) / 1000.0
      })
      prOut.free()
      results += "pagerank_tol1e6" -> prSec
      counters("pagerank_tol1e6")

      sc.setJobDescription("risk_k6")
      results += "risk_k6" -> time {
        val (prior, cSec) = time(NetworkAnalytics.compositeRisk(g))
        sub("compositeRisk plan-only", cSec)
        val (out, pSec) = time(PageRank.propagateRisk(g, prior, tolerance = 0.0, maxIterations = 6))
        sub("propagateRisk 6 iters", pSec)
        sub("risk setup (pre-first-iter)",
          pSec - out.metrics.map(_.wallMs).sum / 1000.0)
        out.free()
      }._2
      counters("risk_k6")

      sc.setJobDescription("connected_components")
      results += "connected_components" -> time(ConnectedComponents.run(g).count())._2
      counters("connected_components")
      sc.setJobDescription("lpa_k4")
      results += "lpa_k4" -> time(LabelPropagation.run(g, 4).count())._2
      counters("lpa_k4")
      sc.setJobDescription("triangles")
      results += "triangles" -> time(TriangleCount.perVertexTriangles(g).count())._2
      counters("triangles")
      sc.setJobDescription("network_metrics")
      results += "network_metrics" -> time(NetworkAnalytics.networkMetrics(g).collect())._2
      counters("network_metrics")
      sc.setJobDescription("high_risk_providers")
      results += "high_risk_providers" -> time {
        val prior = NetworkAnalytics.compositeRisk(g)
        val out = PageRank.propagateRisk(g, prior, tolerance = 0.0, maxIterations = 6)
        NetworkAnalytics.highRiskProviders(out.toVertexDf(g), prior).count()
        out.free()
      }._2
      counters("high_risk_providers")

      sc.setJobDescription("repo_pipeline")
      results += "repo_pipeline" -> time {
        val files = RepoFiles.table(spark, numRepos = 2000, filesPerRepo = 10, vocab = 2000)
        val (rg, gSec) = time(RepoFiles.linkGraph(spark, files, maxReposPerToken = 200))
        val (_, aSec) = time(rg.adjParts.count())
        sub("repo linkGraph build", gSec)
        sub("repo adjParts", aSec)
        val out = PageRank.run(rg, tolerance = 0.0, maxIterations = 5)
        out.free(); rg.unpersistAll()
      }._2
      counters("repo_pipeline")
      sc.setJobDescription(null)

      if (pass == passes) { g.unpersistAll(); TestdataGraph.clearCache() }
      else { g.unpersistAll(); TestdataGraph.clearCache() }

      val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      println(s"""{"pass":$pass,"queries":$qs,"total":${f"${results.values.sum}%.3f"}}""")
    }
    spark.stop()
  }
}
