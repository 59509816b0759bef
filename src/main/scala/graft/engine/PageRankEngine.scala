package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.storage.StorageLevel

import graft.model._
import graft.graph.LinkGraph

/** Result bundle of an engine run. */
final case class PageRankOutcome(
    ranks: Dataset[RankChunk],
    run: PageRankRun,
    metrics: Seq[SuperstepMetrics],
    private val cleanup: () => Unit = () => ()
) {
  /** Ranks as a (vid, value) DataFrame. */
  def toVertexDf(graph: LinkGraph): DataFrame = graph.chunksToVertexDf(ranks)

  /** Release the pinned rank storage. `ranks.unpersist()` is NOT equivalent:
    * the dataset wraps an ExternalRDD, and unpersisting the wrapper Dataset is
    * a no-op for the persisted RDD underneath — repeated runs would accumulate
    * one n-double block of storage each.
    */
  def free(): Unit = cleanup()
}

/** Distributed power-iteration engine over destination-blocked adjacency.
  *
  * Exact math of the reference kernels (SURVEY.md §1.3): for every folded edge
  * (src, dst, w) the superstep sends `x[dst] * w / c[dst]` to `src`, where
  * c = weighted in-degree (column sums — /root/reference/pagerank.py:170,:194).
  * Three teleport/normalization policies selected by [[PageRankMode]].
  *
  * Physical strategy (SURVEY.md §4.2), two regimes chosen by rank-vector size:
  *
  *  - '''Vector-resident regime''' (n·8 B below the graph policy's `driverBytes`):
  *    the rank vector lives in a driver array, broadcast each superstep; the
  *    kernel scans the cached adjacency with ZERO shuffle in, pre-combines
  *    scatter-adds per part in an open-address map, and one narrow shuffle
  *    assembles per-block contribution sums, collected back (n doubles). The
  *    teleport/renormalize/residual arithmetic runs on the driver in exactly
  *    the reference's operation order. One Spark job per superstep.
  *
  *  - '''Distributed regime''' (large n): the adjacency lives in
  *    [[LinkGraph.adjPartsByBlock]] — an RDD co-partitioned so partition b
  *    holds exactly block b's parts — and the rank vector is an
  *    [[LinkGraph.toBlockLayout identically-laid-out]] RDD of chunks. Each
  *    superstep zipPartitions the two (NO join, NO exchange of adjacency:
  *    round 1 joined the cached Dataset per superstep and the planner
  *    broadcast / sort-merge-exchanged all ~16 B/edge of adjacency every
  *    iteration), pre-combines scatter-adds into per-src-block slabs, and
  *    shuffles ONLY those ≤ numBlocks [[BlockContrib]] primitive-array
  *    values per task back to the owning blocks (≤ 8 B per vertex slot —
  *    never per-vertex row objects, whose serialization dominated wall time
  *    and grew with parallelism). Residual / normalizer come from
  *    DoubleAccumulators updated in the
  *    result stage (exactly-once per partition — Spark dedups result-stage
  *    accumulator updates on retry). Lineage is cut per superstep behind an
  *    RDD localCheckpoint (see [[pinRdd]]).
  *
  * Optional durable parquet checkpoints + a JSON manifest give mid-iteration
  * resume (north rule). Per-superstep shuffle rows/bytes are captured by a
  * SparkListener.
  */
final class PageRankEngine(graph: LinkGraph, cfg: PageRankConfig) extends Serializable {
  import graph.spark
  import spark.implicits._

  private val n: Long = graph.numVertices
  private val d: Double = cfg.damping
  private def driverResident: Boolean = n * 8L < graph.policy.driverBytes

  /** Resident regime, collected src-major parts (16 B/edge) under the driver
    * budget: the gather runs as a DRIVER loop over them instead of a
    * per-superstep broadcast + job + collect — at contract scale a
    * superstep's wall was ≥ 90% fixed job dispatch. Values are bit-identical
    * (same parts, same slice order).
    */
  private def localGather: Boolean = graph.numEdges * 16 < graph.policy.driverBytes

  /** Counter delta in ms for the per-superstep attribution columns; -1
    * propagates "counter unavailable" without poisoning the row.
    */
  private def deltaMs(before: Double, after: Double): Long =
    if (before < 0 || after < 0) -1L else math.max(0L, ((after - before) * 1000).toLong)

  /** Pinned helper RDDs (z / delta vectors) released when the run finishes. */
  @transient private val auxPins = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** Engines are SINGLE-SHOT: runFrom's finally releases the lazily-built
    * zRdd/deltaRdd localCheckpoint pins, and an unpersisted localCheckpointed
    * RDD cannot be recomputed — a second run would die with an opaque
    * "checkpoint block not found". Guarded here with a clear error instead;
    * build a fresh engine per run (all public entry points do).
    */
  @volatile private var ran = false

  /** The resident regime builds its initial vector as a driver array (null
    * start marker) — the uniform / normalized-prior values are per-element
    * identical to collecting the chunked dataset, without the chunking
    * shuffle + pin + collect jobs that dominated sub-second runs.
    */
  def run(): PageRankOutcome =
    if (driverResident) runFrom(null, 0) else runFrom(initialVector(), 0)

  /** Resume from the newest durable checkpoint under cfg.checkpointDir. */
  def resume(): PageRankOutcome = {
    val dir = cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume() requires checkpointDir"))
    CheckpointManager.latest(dir) match {
      case Some((snap, k, residual)) =>
        val df = CheckpointManager.readRanks(spark, dir, snap)
        val chunks = graph.chunksOf(df)
        if (residual < cfg.tolerance)
          PageRankOutcome(chunks, PageRankRun(k, converged = true, residual, 0.0, n, graph.numEdges), Nil)
        else runFrom(chunks, k)
      case None => run()
    }
  }

  // ---------------------------------------------------------------- initial state

  private def initialVector(): Dataset[RankChunk] = cfg.mode match {
    case PageRankMode.RiskPropagation =>
      // x starts at the normalized prior (pagerank.py:285, :292)
      priorChunksPinned
    case _ =>
      graph.uniformChunks() // x = ones(n)/n (pagerank.py:180)
  }

  /** Materialize a chunk dataset behind an ExternalRDD boundary.
    *
    * NOT Dataset.localCheckpoint: its LogicalRDD carries the origin plan's
    * statistics forward, so an iterative self-referencing loop squares
    * sizeInBytes every superstep — by ~20 supersteps Catalyst's join-size
    * product is a million-digit BigInteger and planning time explodes.
    * ExternalRDD reports constant default stats, keeping planning O(1) per
    * superstep while still truncating lineage (the RDD is persisted and
    * counted here). Returns the dataset plus the RDD handle for unpersist.
    */
  private def pin[T: Encoder](ds: Dataset[T]): (Dataset[T], RDD[T]) = {
    // RDD-level localCheckpoint: truncates dependencies after materialization
    // (plain persist() keeps the parent chain and task deserialization
    // eventually stack-overflows on 70+ superstep loops).
    val rdd = ds.rdd.localCheckpoint()
    rdd.count()
    (spark.createDataset(rdd), rdd)
  }

  /** RDD-level pin: persist + truncate lineage, preserving partition layout
    * (localCheckpoint mutates this RDD's dependencies in place — the partition
    * array, and hence the block→partition layout, is untouched).
    */
  private def pinRdd[T](rdd: RDD[T]): RDD[T] = {
    val r = rdd.localCheckpoint()
    r.count()
    r
  }

  private def normalizedPriorChunks(): Dataset[RankChunk] = {
    val prior = cfg.prior.filter(_ != null).getOrElse(
      throw new IllegalArgumentException("RiskPropagation requires cfg.prior (vid, value)"))
    val total = prior.agg(sum($"value")).first().getDouble(0)
    graph.chunksOf(prior.select($"vid", ($"value" / lit(total)).as("value")))
  }

  /** Normalized prior, chunked and PINNED once — both consumers (the initial
    * vector x₀ = r₀ and the teleport delta = (1−d)·r₀) read this one
    * materialization; evaluating the (potentially expensive) prior plan and
    * its chunking shuffle twice doubled the risk-mode setup cost.
    */
  @transient private lazy val priorChunksPinned: Dataset[RankChunk] = {
    val (pinned, rdd) = pin(normalizedPriorChunks())
    auxPins += rdd
    pinned
  }

  /** z = 1/n - (p/n)·[c != 0]  (original_pagerank/pagerank.py:130-134),
    * block-laid-out: partition b = block b's chunk.
    */
  private lazy val zRdd: RDD[RankChunk] = {
    val zBase = 1.0 / n
    val zLinked = zBase - d / n
    val df = graph.vertexDict
      .join(graph.inDegrees, Seq("vid"), "left")
      .select($"vid",
        when($"deg".isNotNull && $"deg" =!= 0.0, lit(zLinked)).otherwise(lit(zBase)).as("value"))
    val r = pinRdd(graph.toBlockLayout(graph.chunksOf(df)))
    auxPins += r
    r
  }

  /** delta = (1-d) * normalizedPrior (pagerank.py:295), block-laid-out —
    * derived from the pinned prior chunks, not a second prior evaluation.
    */
  private lazy val deltaRdd: RDD[RankChunk] = {
    val scale = 1.0 - d
    val ds = priorChunksPinned
      .map { c =>
        val v = new Array[Double](c.values.length)
        var i = 0; while (i < v.length) { v(i) = c.values(i) * scale; i += 1 }
        RankChunk(c.blockId, c.loVid, v)
      }
    val r = pinRdd(graph.toBlockLayout(ds))
    auxPins += r
    r
  }

  // ---------------------------------------------------------------- main loop

  private def runFrom(start: Dataset[RankChunk], startIter: Int): PageRankOutcome = {
    if (ran)
      throw new IllegalStateException(
        "PageRankEngine is single-shot: its pinned aux vectors were released when the " +
          "first run finished. Construct a fresh engine for every run()/resume().")
    ran = true
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val listener = new ShuffleMetricsListener
    sc.addSparkListener(listener)
    // force build+cache of the regime's adjacency layout before timing; the
    // driver-local kernel only ever touches the local array — building the
    // RDD too would pay a broadcast + persist it never reads
    if (driverResident) {
      if (localGather) graph.gatherPartsLocal else graph.gatherPartsRdd
    } else graph.adjPartsByBlock
    try {
      if (driverResident) runResident(start, startIter, t0, listener)
      else runDistributed(start, startIter, t0, listener)
    } finally {
      sc.removeSparkListener(listener)
      auxPins.foreach(_.unpersist(false))
      auxPins.clear()
    }
  }

  /** Chunked dataset of a driver rank array, pinned; the array travels as a
    * broadcast, not inside the task closure (an n-double closure is an
    * O(n·numBlocks)-byte task-binary ship at materialization).
    */
  private def finishChunksHandle(x: Array[Double]): (Dataset[RankChunk], RDD[RankChunk]) = {
    val bs = graph.blockSize
    val nb = graph.numBlocks
    val bx = spark.sparkContext.broadcast(x)
    val ds = spark.range(nb).as[Long].map { b =>
      val xs = bx.value
      val lo = b * bs
      val len = math.min(bs, xs.length - lo).toInt
      RankChunk(b.toInt, lo, java.util.Arrays.copyOfRange(xs, lo.toInt, lo.toInt + len))
    }
    val out = pin(ds)
    bx.destroy() // pinned chunks are materialized; the broadcast is done
    out
  }

  /** Vector-resident regime: rank vector on the driver, kernel on the cluster. */
  private def runResident(
      start: Dataset[RankChunk],
      startIter: Int,
      t0: Long,
      listener: ShuffleMetricsListener
  ): PageRankOutcome = {
    val sc = spark.sparkContext
    val bs = graph.blockSize
    val nv = n
    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]

    // Normalized prior as a driver array (risk mode, fresh runs): the Spark
    // aggregation computing `total` is the SAME plan normalizedPriorChunks
    // runs (identical partition-merge order → identical total), and the
    // per-element division is the identical IEEE op — so x₀ and delta match
    // the chunked path bit-for-bit while skipping its chunking shuffle + pin.
    lazy val priorArr: Array[Double] = {
      val prior = cfg.prior.filter(_ != null).getOrElse(
        throw new IllegalArgumentException("RiskPropagation requires cfg.prior (vid, value)"))
      val total = prior.agg(sum($"value")).first().getDouble(0)
      val arr = new Array[Double](n.toInt)
      prior
        .select($"vid".cast("long"), ($"value" / lit(total)).as("v"))
        .as[(Long, Double)]
        .collect()
        .foreach { case (vid, v) => arr(vid.toInt) = v }
      arr
    }

    var x =
      if (start != null) {
        val arr = new Array[Double](n.toInt)
        start.collect().foreach(c => System.arraycopy(c.values, 0, arr, c.loVid.toInt, c.values.length))
        start.unpersist()
        arr
      } else cfg.mode match {
        case PageRankMode.RiskPropagation => priorArr
        case _ => Array.fill(n.toInt)(1.0 / n) // x = ones(n)/n (pagerank.py:180)
      }

    // mode-constant driver vectors
    val deltaVec: Array[Double] = cfg.mode match {
      case PageRankMode.RiskPropagation if start == null =>
        // delta = (1−d)·normalizedPrior, derived element-wise from the local
        // prior (identical arithmetic to deltaRdd's map)
        val scale = 1.0 - d
        val dv = new Array[Double](n.toInt)
        var i = 0
        while (i < dv.length) { dv(i) = priorArr(i) * scale; i += 1 }
        dv
      case PageRankMode.RiskPropagation =>
        val dv = new Array[Double](n.toInt)
        deltaRdd.collect().foreach(c => System.arraycopy(c.values, 0, dv, c.loVid.toInt, c.values.length))
        dv
      case _ => null
    }
    val zVec: Array[Double] = cfg.mode match {
      case PageRankMode.MolerDangling =>
        val zv = new Array[Double](n.toInt)
        zRdd.collect().foreach(c => System.arraycopy(c.values, 0, zv, c.loVid.toInt, c.values.length))
        zv
      case _ => null
    }

    // Driver-local kernel (guide §1.2: the cheapest superstep for a graph this
    // size is NO job at all): below the gate the src-major parts are collected
    // once and every gather runs as a driver loop — same parts, same slice
    // arithmetic, same slice-accumulation order as the cluster path, so gx is
    // bit-identical. Above the gate (e.g. the 4M×80M kernel bench) the
    // broadcast+map+collect job amortizes its dispatch over real work.
    val localParts: Array[AdjPart] = if (localGather) graph.gatherPartsLocal else null

    var iteration = startIter
    var converged = false
    var error = Double.MaxValue
    var done = false

    while (iteration < cfg.maxIterations && !done) {
      val iterT0 = System.nanoTime()
      val iterCpu0 = graft.util.HostProbe.procCpuSec()
      val iterSteal0 = graft.util.HostProbe.stealSec()
      val iterGc0 = graft.util.HostProbe.gcSec()
      val iterJit0 = graft.util.HostProbe.jitSec()
      listener.snapshot()

      val gx =
        if (localParts != null) PageRankEngine.localGather(localParts, x, n.toInt, bs, nv)
        else {
          // one shuffle-free job: broadcast x; each src-major part GATHERS its
          // own output slice (gx[i] = Σ wNorm · x[dst]) — tasks never share
          // output, so there is no cross-task combine stage at all; the driver
          // adds the (block-aligned, possibly split) slices into gx. Collect
          // volume = n doubles total, independent of parallelism.
          val phaseT0 = System.nanoTime()
          val bcast: Broadcast[Array[Double]] = sc.broadcast(x)
          val phaseT1 = System.nanoTime()
          val slices = graph.gatherPartsRdd
            .map { part =>
              val xs = bcast.value
              val lo = part.blockId.toLong * bs
              val len = math.min(bs, nv - lo).toInt
              val out = new Array[Double](len)
              PageRankEngine.gatherSlice(part, xs, out)
              RankChunk(part.blockId, lo, out)
            }
            .collect()
          val phaseT2 = System.nanoTime()
          bcast.destroy()
          val g = new Array[Double](n.toInt)
          slices.foreach { s =>
            var i = 0
            val base = s.loVid.toInt
            while (i < s.values.length) { g(base + i) += s.values(i); i += 1 }
          }
          if (PageRankEngine.debug)
            System.err.println(
              f"[graft] resident phases: bcast ${(phaseT1 - phaseT0) / 1e6}%.1f ms, " +
                f"job+collect ${(phaseT2 - phaseT1) / 1e6}%.1f ms, " +
                f"combine ${(System.nanoTime() - phaseT2) / 1e6}%.1f ms")
          g
        }
      val phaseT3 = System.nanoTime()

      // Driver-side update in the reference's exact operation order — in
      // SMALL static methods, not inline: runResident exceeds HotSpot's
      // 8000-bytecode DontCompileHugeMethods limit, so loops written inline
      // here run INTERPRETED for the whole job (measured ~320 ms/superstep at
      // n = 4M vs ~30 ms for the identical loops in a compiled method).
      val xOld = x
      val (xNew, err) = cfg.mode match {
        case PageRankMode.ReferenceRenorm =>
          PageRankEngine.residentRenormUpdate(gx, xOld, d, n)
        case PageRankMode.RiskPropagation =>
          PageRankEngine.residentRiskUpdate(gx, xOld, deltaVec, d)
        case PageRankMode.MolerDangling =>
          PageRankEngine.residentMolerUpdate(gx, xOld, zVec, d, n)
      }
      x = xNew
      error = err
      if (PageRankEngine.debug)
        System.err.println(
          f"[graft] resident update: ${(System.nanoTime() - phaseT3) / 1e6}%.1f ms")
      iteration += 1

      val sh = listener.delta()
      metrics += SuperstepMetrics(iteration, error, sh.readBytes, sh.writeBytes,
        sh.readRows, sh.writeRows, (System.nanoTime() - iterT0) / 1000000L,
        procCpuMs = deltaMs(iterCpu0, graft.util.HostProbe.procCpuSec()),
        stealMs = deltaMs(iterSteal0, graft.util.HostProbe.stealSec()),
        gcMs = deltaMs(iterGc0, graft.util.HostProbe.gcSec()),
        jitMs = deltaMs(iterJit0, graft.util.HostProbe.jitSec()))
      if (error < cfg.tolerance) { converged = true; done = true }

      cfg.checkpointDir.foreach { dir =>
        if (done || iteration % cfg.checkpointEvery == 0) {
          val (chunks, rdd) = finishChunksHandle(x)
          CheckpointManager.write(graph, dir, iteration, error,
            metrics.takeRight(cfg.checkpointEvery).toSeq, chunks)
          rdd.unpersist(false) // the actual pinned storage, not the wrapper
        }
      }
    }

    val finalX = cfg.mode match {
      case PageRankMode.MolerDangling =>
        // final renorm only (original_pagerank/pagerank.py:144); while loops
        // for the same boxing reason as the superstep update
        val s = PageRankEngine.sumSeq(x)
        val out = new Array[Double](x.length)
        var i = 0; while (i < out.length) { out(i) = x(i) / s; i += 1 }
        out
      case _ => x
    }
    val (chunks, rdd) = finishChunksHandle(finalX)
    PageRankOutcome(
      chunks,
      PageRankRun(iteration, converged, error, (System.nanoTime() - t0) / 1e9, n, graph.numEdges),
      metrics.toSeq,
      () => { rdd.unpersist(false); () })
  }

  /** Distributed regime: block-laid-out chunk RDDs, zero adjacency movement. */
  private def runDistributed(
      start: Dataset[RankChunk],
      startIter: Int,
      t0: Long,
      listener: ShuffleMetricsListener
  ): PageRankOutcome = {
    val sc = spark.sparkContext
    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]
    val bs = graph.blockSize
    val nv = n
    val d0 = d
    val hp = graph.blockPartitioner
    val adj = graph.adjPartsByBlock

    var xRdd: RDD[RankChunk] = pinRdd(graph.toBlockLayout(start))
    start.unpersist()

    // np.sum(x) carried across supersteps (renorm mode teleport term)
    var sumX = cfg.mode match {
      case PageRankMode.ReferenceRenorm => xRdd.map(c => PageRankEngine.sumSeq(c.values)).sum()
      case _ => 0.0
    }
    // z·x carried across supersteps (Moler mode)
    var zx = cfg.mode match {
      case PageRankMode.MolerDangling => dotRdd(xRdd, zRdd)
      case _ => 0.0
    }

    val nb = graph.numBlocks

    /** The gather-scatter matvec: zipPartitions the CACHED co-partitioned
      * adjacency with the identically-laid-out rank chunks (adjacency never
      * moves), pre-combine scatter-adds across the block's parts into
      * lazily-allocated per-src-block dense slabs, then shuffle the slabs
      * back to the owning blocks as [[BlockContrib]] primitive-array values
      * (dense when fill > 1/2, compacted sparse otherwise) — never
      * per-vertex row objects, whose serialization dominated the superstep
      * and made shuffle volume grow with parallelism.
      *
      * Per-task scratch is HARD-BOUNDED by the policy's `taskBytes`:
      * when allocated slab bytes exceed the budget mid-block, the current
      * slabs are FLUSHED to the shuffle (the downstream gather sums multiple
      * contribs per block, so partial slabs are correct) and scratch restarts
      * empty. Without the flush, peak superstep memory is
      * concurrentTasks × touched-slots × 8 B — at hub-heavy 100×-scale blocks
      * that is the executor-memory ceiling; with it, the peak is
      * concurrentTasks × budget, at the cost of a slightly larger shuffle in
      * exactly the (rare) tasks that overflow.
      */
    // observability for the budget-flush path: counts mid-block drains so a
    // probe run can prove the bounded-scratch code actually fired
    val accFlush = sc.longAccumulator("graft.slabFlushes")
    val budget = graph.policy.taskBytes

    def contribsOf(x: RDD[RankChunk]): RDD[(Int, BlockContrib)] =
      adj.zipPartitions(x) { (adjIt, xIt) =>
        if (!xIt.hasNext) Iterator.empty
        else {
          val chunk = xIt.next()
          new Iterator[(Int, BlockContrib)] {
            private var slabs = new Array[Array[Double]](nb)
            private var touched = new Array[Int](nb)
            private var allocBytes = 0L
            private var anySlab = false
            private var pending: Iterator[(Int, BlockContrib)] = Iterator.empty
            private var nextElem: (Int, BlockContrib) = _
            advance()

            private def drain(): Iterator[(Int, BlockContrib)] = {
              val out = Iterator.range(0, nb).filter(slabs(_) != null).map { b =>
                val slab = slabs(b)
                if (touched(b).toLong * 2 >= slab.length) (b, BlockContrib(b, slab, null, null))
                else {
                  val idx = new Array[Int](touched(b))
                  val vs = new Array[Double](touched(b))
                  var c = 0
                  var i = 0
                  while (i < slab.length) {
                    if (slab(i) != 0.0) { idx(c) = i; vs(c) = slab(i); c += 1 }
                    i += 1
                  }
                  val fi = if (c == idx.length) idx else java.util.Arrays.copyOf(idx, c)
                  val fv = if (c == vs.length) vs else java.util.Arrays.copyOf(vs, c)
                  (b, BlockContrib(b, null, fi, fv))
                }
              }.toArray // snapshot refs so scratch arrays can be replaced
              slabs = new Array[Array[Double]](nb)
              touched = new Array[Int](nb)
              allocBytes = 0L
              anySlab = false
              out.iterator
            }

            private def processPart(part: graft.model.AdjPart): Unit = {
              var i = 0
              while (i < part.keys.length) {
                val xv = chunk.values(part.keys(i))
                if (xv != 0.0) {
                  var j = part.offsets(i)
                  val end = part.offsets(i + 1)
                  while (j < end) {
                    val src = part.adj(j)
                    val b = (src / bs).toInt
                    var slab = slabs(b)
                    if (slab == null) {
                      slab = new Array[Double](math.min(bs, nv - b.toLong * bs).toInt)
                      slabs(b) = slab
                      allocBytes += slab.length.toLong * 8
                      anySlab = true
                    }
                    val local = (src - b.toLong * bs).toInt
                    if (slab(local) == 0.0) touched(b) += 1
                    slab(local) += part.wNorm(j) * xv
                    j += 1
                  }
                }
                i += 1
              }
            }

            private def advance(): Unit = {
              nextElem = null
              while (nextElem == null) {
                if (pending.hasNext) nextElem = pending.next()
                else if (adjIt.hasNext) {
                  processPart(adjIt.next()._2)
                  if (allocBytes > budget) { accFlush.add(1); pending = drain() }
                } else if (anySlab) pending = drain()
                else return
              }
            }

            override def hasNext: Boolean = nextElem != null
            override def next(): (Int, BlockContrib) = {
              val e = nextElem
              advance()
              e
            }
          }
        }
      }.partitionBy(hp)

    var iteration = startIter
    var converged = false
    var error = Double.MaxValue
    var done = false

    while (iteration < cfg.maxIterations && !done) {
      val iterT0 = System.nanoTime()
      val iterCpu0 = graft.util.HostProbe.procCpuSec()
      val iterSteal0 = graft.util.HostProbe.stealSec()
      val iterGc0 = graft.util.HostProbe.gcSec()
      val iterJit0 = graft.util.HostProbe.jitSec()
      listener.snapshot()

      val contribs = contribsOf(xRdd)

      cfg.mode match {
        case PageRankMode.ReferenceRenorm =>
          // job 1: y = d*Gx + delta*sum(x); accumulate sum(y)
          val accSumY = sc.doubleAccumulator("graft.sumY")
          val teleport = (1.0 - d0) / nv * sumX
          val raw = contribs.zipPartitions(xRdd) { (cit, xit) =>
            if (!xit.hasNext) Iterator.empty
            else {
              val old = xit.next()
              val gx = new Array[Double](old.values.length)
              PageRankEngine.gatherContribs(cit, gx)
              val y = new Array[Double](gx.length)
              var s = 0.0
              var i = 0
              while (i < y.length) { y(i) = d0 * gx(i) + teleport; s += y(i); i += 1 }
              accSumY.add(s)
              Iterator.single((old.blockId, old.loVid, y, old.values))
            }
          }
          val rawP = pinRdd(raw)
          val sumY = accSumY.value
          // job 2: normalize (pagerank.py:197), residual + next sum via accumulators
          val accErr = sc.doubleAccumulator("graft.residual")
          val accSum = sc.doubleAccumulator("graft.sumX")
          val next = rawP.map { case (blockId, lo, y, old) =>
            val v = new Array[Double](y.length)
            var diff = 0.0
            var s = 0.0
            var i = 0
            while (i < v.length) {
              v(i) = y(i) / sumY
              diff += math.abs(v(i) - old(i))
              s += v(i)
              i += 1
            }
            accErr.add(diff); accSum.add(s)
            RankChunk(blockId, lo, v)
          }
          val nextP = pinRdd(next)
          rawP.unpersist(false)
          xRdd.unpersist(false)
          xRdd = nextP
          error = accErr.value
          sumX = accSum.value

        case PageRankMode.RiskPropagation =>
          val accErr = sc.doubleAccumulator("graft.residual")
          val next = contribs.zipPartitions(xRdd, deltaRdd) { (cit, xit, dit) =>
            if (!xit.hasNext) Iterator.empty
            else {
              val old = xit.next()
              val del = dit.next()
              val gx = new Array[Double](old.values.length)
              PageRankEngine.gatherContribs(cit, gx)
              val y = new Array[Double](gx.length)
              var diff = 0.0
              var i = 0
              while (i < y.length) {
                y(i) = d0 * gx(i) + del.values(i) // pagerank.py:301
                diff += math.abs(y(i) - old.values(i))
                i += 1
              }
              accErr.add(diff)
              Iterator.single(RankChunk(old.blockId, old.loVid, y))
            }
          }
          val nextP = pinRdd(next)
          xRdd.unpersist(false)
          xRdd = nextP
          error = accErr.value

        case PageRankMode.MolerDangling =>
          val teleport = zx / nv
          val accErr = sc.doubleAccumulator("graft.residual")
          val accZx = sc.doubleAccumulator("graft.zx")
          val next = contribs.zipPartitions(xRdd, zRdd) { (cit, xit, zit) =>
            if (!xit.hasNext) Iterator.empty
            else {
              val old = xit.next()
              val zc = zit.next()
              val gx = new Array[Double](old.values.length)
              PageRankEngine.gatherContribs(cit, gx)
              val y = new Array[Double](gx.length)
              var diff = 0.0
              var zdot = 0.0
              var i = 0
              while (i < y.length) {
                y(i) = d0 * gx(i) + teleport
                diff += math.abs(y(i) - old.values(i))
                zdot += zc.values(i) * y(i)
                i += 1
              }
              accErr.add(diff); accZx.add(zdot)
              Iterator.single(RankChunk(old.blockId, old.loVid, y))
            }
          }
          val nextP = pinRdd(next)
          xRdd.unpersist(false)
          xRdd = nextP
          error = accErr.value
          zx = accZx.value
      }

      iteration += 1
      val sh = listener.delta()
      metrics += SuperstepMetrics(iteration, error, sh.readBytes, sh.writeBytes,
        sh.readRows, sh.writeRows, (System.nanoTime() - iterT0) / 1000000L,
        procCpuMs = deltaMs(iterCpu0, graft.util.HostProbe.procCpuSec()),
        stealMs = deltaMs(iterSteal0, graft.util.HostProbe.stealSec()),
        gcMs = deltaMs(iterGc0, graft.util.HostProbe.gcSec()),
        jitMs = deltaMs(iterJit0, graft.util.HostProbe.jitSec()))
      if (PageRankEngine.debug)
        println(s"[graft] superstep=$iteration ms=${metrics.last.wallMs} residual=$error")
      if (error < cfg.tolerance) { converged = true; done = true }

      cfg.checkpointDir.foreach { dir =>
        if (done || iteration % cfg.checkpointEvery == 0)
          CheckpointManager.write(graph, dir, iteration, error,
            metrics.takeRight(cfg.checkpointEvery).toSeq, spark.createDataset(xRdd))
      }
    }

    val finalRdd = cfg.mode match {
      case PageRankMode.MolerDangling =>
        val s = xRdd.map(c => PageRankEngine.sumSeq(c.values)).sum()
        val out = pinRdd(xRdd.map { c =>
          val v = new Array[Double](c.values.length)
          var i = 0; while (i < v.length) { v(i) = c.values(i) / s; i += 1 }
          RankChunk(c.blockId, c.loVid, v)
        })
        xRdd.unpersist(false)
        out
      case _ => xRdd
    }
    if (accFlush.value > 0)
      System.err.println(
        s"[graft] slab budget flushes: ${accFlush.value} mid-block drains " +
          s"(budget $budget B) across $iteration supersteps")
    PageRankOutcome(
      spark.createDataset(finalRdd),
      PageRankRun(iteration, converged, error, (System.nanoTime() - t0) / 1e9, n, graph.numEdges),
      metrics.toSeq,
      () => { finalRdd.unpersist(false); () })
  }

  /** Dot product of two identically block-laid-out chunk RDDs (no shuffle). */
  private def dotRdd(a: RDD[RankChunk], b: RDD[RankChunk]): Double =
    a.zipPartitions(b) { (ai, bi) =>
      if (!ai.hasNext || !bi.hasNext) Iterator.empty
      else {
        val ac = ai.next()
        val bc = bi.next()
        var s = 0.0
        var i = 0
        while (i < ac.values.length) { s += ac.values(i) * bc.values(i); i += 1 }
        Iterator.single(s)
      }
    }.sum()
}

object PageRankEngine {
  /** Per-superstep stderr progress (env GRAFT_DEBUG). */
  val debug: Boolean = sys.env.contains("GRAFT_DEBUG")

  /** Driver twin of the resident superstep's map + collect + combine: one
    * zeroed slice per part, [[gatherSlice]] into it, then add into gx in part
    * order — the identical floating-point sequence the cluster path performs.
    */
  private[engine] def localGather(
      parts: Array[AdjPart], xs: Array[Double], n: Int, bs: Long, nv: Long): Array[Double] = {
    val gx = new Array[Double](n)
    var pi = 0
    while (pi < parts.length) {
      val part = parts(pi)
      val lo = part.blockId.toLong * bs
      val len = math.min(bs, nv - lo).toInt
      val out = new Array[Double](len)
      gatherSlice(part, xs, out)
      val base = lo.toInt
      var i = 0
      while (i < len) { gx(base + i) += out(i); i += 1 }
      pi += 1
    }
    gx
  }

  /** Sequential left-to-right sum — the while-loop twin of `Array[Double].sum`
    * (which boxes every element through Numeric); identical fp result.
    */
  private[engine] def sumSeq(xs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s
  }

  /** Resident-regime ReferenceRenorm update (pagerank.py:194-197) + L1
    * residual, exact reference operation order: sumX → y = d·gx + tele·sumX →
    * y /= sum(y) → Σ|y − xOld|. Lives in its own (small, JIT-compilable)
    * method — see the runResident call site for why.
    */
  private[engine] def residentRenormUpdate(
      gx: Array[Double], xOld: Array[Double], d: Double, n: Long): (Array[Double], Double) = {
    val sumX = sumSeq(xOld) // np.sum(x), pagerank.py:194
    val t = (1.0 - d) / n * sumX
    val y = new Array[Double](gx.length)
    var i = 0
    while (i < y.length) { y(i) = d * gx(i) + t; i += 1 }
    val sumY = sumSeq(y)
    i = 0
    while (i < y.length) { y(i) /= sumY; i += 1 } // pagerank.py:197
    var err = 0.0
    i = 0
    while (i < y.length) { err += math.abs(y(i) - xOld(i)); i += 1 }
    (y, err)
  }

  /** Resident-regime risk update y = d·gx + delta (pagerank.py:301) + L1 residual. */
  private[engine] def residentRiskUpdate(
      gx: Array[Double], xOld: Array[Double], deltaVec: Array[Double], d: Double)
      : (Array[Double], Double) = {
    val y = new Array[Double](gx.length)
    var i = 0
    while (i < y.length) { y(i) = d * gx(i) + deltaVec(i); i += 1 }
    var err = 0.0
    i = 0
    while (i < y.length) { err += math.abs(y(i) - xOld(i)); i += 1 }
    (y, err)
  }

  /** Resident-regime Moler update y = d·gx + (z·xOld)/n (original:138) + L1 residual. */
  private[engine] def residentMolerUpdate(
      gx: Array[Double], xOld: Array[Double], zVec: Array[Double], d: Double, n: Long)
      : (Array[Double], Double) = {
    var zx = 0.0
    var i = 0
    while (i < xOld.length) { zx += zVec(i) * xOld(i); i += 1 } // z@x, original:138
    val t = zx / n
    val y = new Array[Double](gx.length)
    i = 0
    while (i < y.length) { y(i) = d * gx(i) + t; i += 1 }
    var err = 0.0
    i = 0
    while (i < y.length) { err += math.abs(y(i) - xOld(i)); i += 1 }
    (y, err)
  }

  /** Sum incoming contribution slabs (dense or compacted sparse) into gx. */
  private[engine] def gatherContribs(
      cit: Iterator[(Int, BlockContrib)],
      gx: Array[Double]
  ): Unit =
    cit.foreach { case (_, bc) =>
      if (bc.dense != null) {
        val d = bc.dense
        var i = 0
        while (i < d.length) { gx(i) += d(i); i += 1 }
      } else {
        val idx = bc.idx
        val vs = bc.vals
        var i = 0
        while (i < idx.length) { gx(idx(i)) += vs(i); i += 1 }
      }
    }

  /** Gather one src-major part (resident regime): out[srcLocal] = Σ over its
    * edges of wNorm · x[dst] — sequential writes, the JVM twin of SciPy's C
    * matvec inner loop (pagerank.py:194).
    */
  private[engine] def gatherSlice(part: AdjPart, xs: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < part.keys.length) {
      var s = 0.0
      var j = part.offsets(i)
      val end = part.offsets(i + 1)
      while (j < end) {
        s += part.wNorm(j) * xs(part.adj(j).toInt)
        j += 1
      }
      out(part.keys(i)) += s // += — a key's edges may straddle split parts
      i += 1
    }
  }
}
