package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.model._
import graft.graph.LinkGraph
import graft.util.HostProbe

/** Result bundle of an engine run. */
final case class PageRankOutcome(
    ranks: Dataset[RankChunk],
    run: PageRankRun,
    metrics: Seq[SuperstepMetrics],
    private val cleanup: () => Unit = () => ()
) {
  /** Ranks as a (vid, value) DataFrame. */
  def toVertexDf(graph: LinkGraph): DataFrame = graph.chunksToVertexDf(ranks)

  /** Release the pinned rank storage of a distributed run (a no-op when the
    * ranks came from the driver). `ranks.unpersist()` is NOT equivalent: the
    * dataset wraps an ExternalRDD, and unpersisting the wrapper Dataset is a
    * no-op for the persisted RDD underneath — repeated runs would accumulate
    * one n-double block of storage each.
    */
  def free(): Unit = cleanup()
}

/** Power-iteration engine over block-laid adjacency.
  *
  * Exact math of the reference kernels (SURVEY.md §1.3): for every folded edge
  * (src, dst, w) a superstep sends `x[dst] * w / c[dst]` to `src`, where
  * c = weighted in-degree (column sums — /root/reference/pagerank.py:170,:194).
  * [[PageRankMode]] selects one of three teleport/normalization policies.
  *
  * ONE loop ([[runFrom]]) runs every superstep of every run, fresh or
  * resumed: it owns the iteration count, the convergence test, the
  * per-superstep metrics, the checkpoint commits and the result, Moler's final
  * renormalization included. Every superstep applies the same per-chunk
  * kernels in the reference's operation order — [[PageRankEngine.teleport]]
  * (y = d·gx + t, with t from the carried Σx or z·x, or + delta), then
  * [[PageRankEngine.settle]] (y /= Σy in renorm mode, Σ|y − x|, the next
  * carry). Where the rank vector lives ([[RankVector]]) and how gx is
  * gathered is one of three gathers, gated on the graph policy's `driverBytes`:
  *
  *  - '''Driver-local gather''' (n·8 B and edges·16 B both under it): x is a
  *    driver array, the whole vector one chunk, and gx is a driver loop over
  *    the collected src-major parts — no Spark job per superstep (at contract
  *    scale a superstep's wall was ≥ 90% fixed job dispatch).
  *  - '''Job gather''' (n·8 B under it, edges·16 B not): x is a driver array,
  *    broadcast each superstep; one shuffle-free job over the cached src-major
  *    parts gathers gx slices, collected back (n doubles). Bit-identical to
  *    the driver-local gather: same parts, same slice-accumulation order.
  *  - '''Distributed scatter''' (n·8 B at or over it: n ≥ 8,388,608 at the
  *    default 64 MiB): x is an RDD of chunks laid out like
  *    [[LinkGraph.adjPartsByBlock]] (partition b = block b), zipped each
  *    superstep against the cached dst-major adjacency, which never moves.
  *    Scatter-adds pre-combine into per-src-block slabs (bounded by the
  *    policy's `taskBytes`), and only those ≤ numBlocks [[BlockContrib]]
  *    primitive arrays per task are shuffled back to the owning blocks.
  *    Per-block residual and normalizer partials are added in block order, so
  *    a run repeats exactly; lineage is cut per superstep ([[pinRdd]]).
  *
  * Optional durable checkpoints (IcebergLite snapshots) give mid-iteration
  * resume through the same loop. Per-superstep shuffle rows/bytes are
  * captured by a SparkListener.
  */
final class PageRankEngine(graph: LinkGraph, cfg: PageRankConfig) extends Serializable {
  import graph.spark
  import spark.implicits._

  private val n: Long = graph.numVertices
  private val d: Double = cfg.damping
  private val mode: PageRankMode = cfg.mode

  /** Counter delta in ms for the per-superstep attribution columns; -1
    * propagates "counter unavailable" without poisoning the row.
    */
  private def deltaMs(before: Double, after: Double): Long =
    if (before < 0 || after < 0) -1L else math.max(0L, ((after - before) * 1000).toLong)

  /** Pinned helper RDDs (z / delta / prior chunks) released when the run finishes. */
  @transient private val auxPins = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** Engines are SINGLE-SHOT: runFrom's finally releases the z/delta
    * localCheckpoint pins, and an unpersisted localCheckpointed RDD cannot be
    * recomputed — a second run would die with an opaque "checkpoint block not
    * found". Guarded here with a clear error instead; build a fresh engine per
    * run (all public entry points do).
    */
  @volatile private var ran = false

  def run(): PageRankOutcome = runFrom(None, 0, Double.MaxValue)

  /** Resume from the newest durable checkpoint under cfg.checkpointDir. A
    * converged checkpoint runs zero supersteps.
    */
  def resume(): PageRankOutcome = {
    val dir = cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume() requires checkpointDir"))
    CheckpointManager.latest(dir) match {
      case Some((snap, k, residual)) =>
        runFrom(Some((CheckpointManager.readRanks(spark, dir, snap), s"checkpoint snapshot $snap of $dir")), k, residual)
      case None => run()
    }
  }

  // ---------------------------------------------------------------- the loop

  /** Iterate from `start` ((vid, value) ranks holding every vid once, and
    * their name; None = x₀ of the mode) after `startIter` supersteps whose
    * last residual was `startResidual`.
    */
  private def runFrom(start: Option[(DataFrame, String)], startIter: Int, startResidual: Double): PageRankOutcome = {
    if (ran)
      throw new IllegalStateException(
        "PageRankEngine is single-shot: its pinned aux vectors were released when the " +
          "first run finished. Construct a fresh engine for every run()/resume().")
    ran = true
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val listener = new ShuffleMetricsListener
    sc.addSparkListener(listener)
    try {
      // building the regime builds and caches its adjacency layout
      val x: RankVector = if (n * 8L < graph.policy.driverBytes) new OnDriver(start) else new OnCluster(start)
      val m = mode
      val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]
      var iteration = startIter
      var error = startResidual
      def converged: Boolean = error < cfg.tolerance
      // Σx (renorm) or z·x (Moler): one superstep's settle hands it to the next one's teleport
      var carry = x.total(PageRankEngine.carry(m, _, _))

      while (!converged && iteration < cfg.maxIterations) {
        val iterT0 = System.nanoTime()
        val cpu0 = HostProbe.procCpuSec()
        val steal0 = HostProbe.stealSec()
        val gc0 = HostProbe.gcSec()
        val jit0 = HostProbe.jitSec()
        listener.snapshot()

        val (err, next) = x.superstep(PageRankEngine.teleportOf(m, d, n, carry))
        error = err
        carry = next
        iteration += 1

        val sh = listener.delta()
        metrics += SuperstepMetrics(iteration, error, sh.readBytes, sh.writeBytes,
          sh.readRows, sh.writeRows, (System.nanoTime() - iterT0) / 1000000L,
          procCpuMs = deltaMs(cpu0, HostProbe.procCpuSec()),
          stealMs = deltaMs(steal0, HostProbe.stealSec()),
          gcMs = deltaMs(gc0, HostProbe.gcSec()),
          jitMs = deltaMs(jit0, HostProbe.jitSec()))
        if (PageRankEngine.debug)
          System.err.println(s"[graft] superstep=$iteration ms=${metrics.last.wallMs} residual=$error")
        cfg.checkpointDir.foreach { dir =>
          if (converged || iteration % cfg.checkpointEvery == 0)
            CheckpointManager.write(graph, dir, iteration, error,
              metrics.takeRight(cfg.checkpointEvery).toSeq, x.snapshot())
        }
      }

      // final renormalization only (original_pagerank/pagerank.py:144)
      val norm =
        if (m == PageRankMode.MolerDangling) Some(x.total((xs, _) => PageRankEngine.sumSeq(xs))) else None
      val (ranks, free) = x.result(norm)
      PageRankOutcome(
        ranks,
        PageRankRun(iteration, converged, error, (System.nanoTime() - t0) / 1e9, n, graph.numEdges),
        metrics.toSeq,
        free)
    } finally {
      sc.removeSparkListener(listener)
      auxPins.foreach(_.unpersist(false))
      auxPins.clear()
    }
  }

  // ---------------------------------------------------------------- the regimes

  /** Where the rank vector lives. [[runFrom]] does everything else. */
  private abstract class RankVector {
    /** One superstep with teleport scalar `t`: x ← settle(teleport(G·x));
      * returns the (residual, carry) totals, added in block order.
      */
    def superstep(t: Double): (Double, Double)

    /** Σ over chunks, in block order, of f(x chunk, aux chunk — z or delta, else null). */
    def total(f: (Array[Double], Array[Double]) => Double): Double

    /** x as chunks, for a checkpoint commit. */
    def snapshot(): Dataset[RankChunk]

    /** The final x, divided by `norm` when given, and the release of its storage. */
    def result(norm: Option[Double]): (Dataset[RankChunk], () => Unit)
  }

  private def rawPrior: DataFrame = cfg.prior.filter(_ != null).getOrElse(
    throw new IllegalArgumentException("RiskPropagation requires cfg.prior (vid, value)"))

  /** The prior scaled to sum 1 (pagerank.py:285), as (vid, value) rows. */
  private def normalizedPrior: DataFrame = {
    val total = rawPrior.agg(sum($"value")).first().getDouble(0)
    rawPrior.select($"vid".cast("long").as("vid"), ($"value" / lit(total)).as("value"))
  }

  /** z = 1/n − (d/n)·[c ≠ 0] (original_pagerank/pagerank.py:130-134): its
    * entries at vertices with in-degree c ≠ 0; every other entry is `zBase`.
    */
  private def zBase: Double = 1.0 / n
  private def zLinkedRows: DataFrame =
    graph.degreeTable.where($"inDeg" =!= 0.0).select($"vid", lit(zBase - d / n).as("value"))

  /** Vector-resident regime: x is a driver array, the whole vector one chunk. */
  private final class OnDriver(start: Option[(DataFrame, String)]) extends RankVector {
    private val size = n.toInt

    /** (vid, value) rows in collect order, vids in `a` and values in `w`. */
    private def rowsOf(df: DataFrame): LinkGraph.Rows =
      df.select($"vid".cast("long"), $"value".cast("double")).queryExecution.toRdd
        .mapPartitions(it => LinkGraph.vectorBatch(it).orElse(throw new IllegalArgumentException(
          "a (vid, value) row holds a null")).iterator)
        .collect().foldLeft(new LinkGraph.Rows(packed = true))(LinkGraph.append)

    /** `rows` over `fill`, each value divided by `scale`; see [[LinkGraph.Slots]] for `whole`. */
    private def filled(rows: LinkGraph.Rows, fill: Double, whole: Option[String] = None, scale: Double = 1.0) = {
      val slots = new LinkGraph.Slots(0L, size, fill, whole)
      for (i <- 0 until rows.n) slots.set(rows.a(i), rows.w(i) / scale)
      slots.done()
    }

    /** The prior scaled to sum 1 (pagerank.py:285): collected once, its total
      * taken from the collected rows.
      */
    private lazy val prior = {
      val rows = rowsOf(rawPrior)
      filled(rows, 0.0, scale = (0 until rows.n).foldLeft(0.0)((t, i) => t + rows.w(i)))
    }
    private val aux: Array[Double] = mode match {
      case PageRankMode.RiskPropagation => PageRankEngine.times(prior, 1.0 - d) // delta, pagerank.py:295
      case PageRankMode.MolerDangling => filled(rowsOf(zLinkedRows), zBase)
      case PageRankMode.ReferenceRenorm => null
    }
    private var x: Array[Double] = start match {
      case Some((ranks, name)) => filled(rowsOf(ranks), 0.0, Some(name))
      case None if mode == PageRankMode.RiskPropagation => prior // x₀ = r₀ (pagerank.py:292)
      case None => Array.fill(size)(1.0 / n) // x = ones(n)/n (pagerank.py:180)
    }

    /** The driver-local gather's parts; null selects the job gather, whose
      * parts are built and cached on the cluster here, before the first superstep.
      */
    private val localParts: Array[AdjPart] =
      if (graph.numEdges * 16 < graph.policy.driverBytes) graph.gatherPartsLocal
      else { graph.gatherPartsRdd; null }

    def superstep(t: Double): (Double, Double) = {
      val gx =
        if (localParts != null) PageRankEngine.localGather(localParts, x, size, graph.blockSize, n)
        else jobGather()
      val sumY = PageRankEngine.teleport(mode, gx, d, t, aux)
      val totals = PageRankEngine.settle(mode, gx, x, aux, sumY)
      x = gx
      totals
    }

    /** One shuffle-free job: broadcast x; each src-major part GATHERS its own
      * output slice (gx[i] = Σ wNorm · x[dst]) — tasks never share output, so
      * there is no cross-task combine stage at all; the driver adds the
      * (block-aligned, possibly split) slices into gx. Collect volume = n
      * doubles total, independent of parallelism.
      */
    private def jobGather(): Array[Double] = {
      val bs = graph.blockSize
      val nv = n
      val bcast = spark.sparkContext.broadcast(x)
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
      bcast.destroy()
      val g = new Array[Double](size)
      slices.foreach { s =>
        var i = 0
        val base = s.loVid.toInt
        while (i < s.values.length) { g(base + i) += s.values(i); i += 1 }
      }
      g
    }

    def total(f: (Array[Double], Array[Double]) => Double): Double = f(x, aux)

    def snapshot(): Dataset[RankChunk] = chunked()

    def result(norm: Option[Double]): (Dataset[RankChunk], () => Unit) = {
      norm.foreach(PageRankEngine.divide(x, _))
      (chunked(), () => ())
    }

    /** x as a chunk dataset, one slice per block: no broadcast, no pin, no job. */
    private def chunked(): Dataset[RankChunk] = {
      val bs = graph.blockSize
      val chunks = (0 until graph.numBlocks).map { b =>
        val lo = b * bs
        RankChunk(b, lo, java.util.Arrays.copyOfRange(x, math.min(lo, n).toInt, math.min(lo + bs, n).toInt))
      }
      spark.createDataset(spark.sparkContext.parallelize(chunks, graph.numBlocks))
    }
  }

  /** RDD-level pin: persist + truncate lineage, preserving partition layout
    * (localCheckpoint mutates this RDD's dependencies in place — the partition
    * array, and hence the block→partition layout, is untouched). Plain
    * persist() keeps the parent chain, and task deserialization eventually
    * stack-overflows on 70+ superstep loops.
    */
  private def pinRdd[T](rdd: RDD[T]): RDD[T] = {
    val r = rdd.localCheckpoint()
    r.count()
    r
  }

  /** Distributed regime: x is block-laid chunk RDDs, zipped each superstep
    * against the co-partitioned adjacency (no join, no exchange of adjacency).
    */
  private final class OnCluster(start: Option[(DataFrame, String)]) extends RankVector {
    private val adj = graph.adjPartsByBlock
    // counts mid-block drains, so a probe run can prove the bounded-scratch path fired
    private val accFlush = spark.sparkContext.longAccumulator("graft.slabFlushes")

    private def laid(ds: Dataset[RankChunk]): RDD[RankChunk] = pinRdd(graph.toBlockLayout(ds))
    private def forRun(r: RDD[RankChunk]): RDD[RankChunk] = { auxPins += r; r }

    // x₀ = r₀ and delta = (1−d)·r₀ read this one materialization of the prior
    private lazy val prior = forRun(laid(graph.chunksOf(normalizedPrior)))
    private val auxRdd: RDD[RankChunk] = mode match {
      case PageRankMode.RiskPropagation =>
        val scale = 1.0 - d
        forRun(pinRdd(prior.map(c => RankChunk(c.blockId, c.loVid, PageRankEngine.times(c.values, scale)))))
      case PageRankMode.MolerDangling => forRun(laid(graph.chunksOf(zLinkedRows, zBase)))
      case PageRankMode.ReferenceRenorm => null
    }
    private var x: RDD[RankChunk] = start match {
      case Some((ranks, name)) => laid(graph.chunksOf(ranks, whole = Some(name)))
      case None if mode == PageRankMode.RiskPropagation => prior
      case None => laid(graph.uniformChunks())
    }

    /** Each chunk of `xs` beside its aux chunk's values (null without one). */
    private def withAux(xs: RDD[RankChunk]): RDD[(RankChunk, Array[Double])] =
      if (auxRdd == null) xs.map(c => (c, null: Array[Double]))
      else xs.zipPartitions(auxRdd)((xi, ai) => xi.zip(ai).map { case (c, a) => (c, a.values) })

    /** Per-block (partial, partial) pairs reported from result-stage tasks —
      * Spark applies each partition's update once, retries included.
      */
    private def blockSums(name: String): CollectionAccumulator[(Int, Double, Double)] =
      spark.sparkContext.collectionAccumulator[(Int, Double, Double)](name)

    /** Totals of the partials added in block order: a sum never depends on
      * which task finished first.
      */
    private def inBlockOrder(acc: CollectionAccumulator[(Int, Double, Double)]): (Double, Double) = {
      val ps = acc.value.asScala.sortBy(_._1)
      (ps.foldLeft(0.0)(_ + _._2), ps.foldLeft(0.0)(_ + _._3))
    }

    def superstep(t: Double): (Double, Double) = {
      val m = mode
      val d0 = d
      val normalizes = m == PageRankMode.ReferenceRenorm
      val sumsY = blockSums("graft.sumY")
      val totals = blockSums("graft.residual")
      val teleported = contribsOf(x).zipPartitions(withAux(x)) { (cit, xit) =>
        xit.map { case (old, a) =>
          val y = new Array[Double](old.values.length)
          PageRankEngine.gatherContribs(cit, y)
          sumsY.add((old.blockId, PageRankEngine.teleport(m, y, d0, t, a), 0.0))
          (old, a, y)
        }
      }
      // renorm settles against Σy over EVERY block: pin between the two passes;
      // the other modes settle in the same job
      val raw = if (normalizes) pinRdd(teleported) else teleported
      val sumY = if (normalizes) inBlockOrder(sumsY)._1 else Double.NaN
      val next = pinRdd(raw.map { case (old, a, y0) =>
        val y = if (normalizes) y0.clone() else y0 // never write into a pinned block
        val (err, carry) = PageRankEngine.settle(m, y, old.values, a, sumY)
        totals.add((old.blockId, err, carry))
        RankChunk(old.blockId, old.loVid, y)
      })
      if (normalizes) raw.unpersist(false)
      x.unpersist(false)
      x = next
      inBlockOrder(totals)
    }

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
    private def contribsOf(x: RDD[RankChunk]): RDD[(Int, BlockContrib)] = {
      val nb = graph.numBlocks
      val bs = graph.blockSize
      val nv = n
      val budget = graph.policy.taskBytes
      val flushes = accFlush
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
                  if (allocBytes > budget) { flushes.add(1); pending = drain() }
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
      }.partitionBy(graph.blockPartitioner)
    }

    def total(f: (Array[Double], Array[Double]) => Double): Double =
      withAux(x).map { case (c, a) => f(c.values, a) }.collect().foldLeft(0.0)(_ + _) // partition b = block b

    def snapshot(): Dataset[RankChunk] = spark.createDataset(x)

    def result(norm: Option[Double]): (Dataset[RankChunk], () => Unit) = {
      val out = norm.fold(x) { s =>
        val r = pinRdd(x.map { c =>
          val v = c.values.clone()
          PageRankEngine.divide(v, s)
          RankChunk(c.blockId, c.loVid, v)
        })
        x.unpersist(false)
        r
      }
      auxPins -= out // the ranks outlive the run, even when they are still x₀ = r₀
      if (accFlush.value > 0)
        System.err.println(
          s"[graft] slab budget flushes: ${accFlush.value} mid-block drains (budget ${graph.policy.taskBytes} B)")
      (spark.createDataset(out), () => { out.unpersist(false); () })
    }
  }
}

object PageRankEngine {
  /** Per-superstep stderr progress (env GRAFT_DEBUG). */
  val debug: Boolean = sys.env.contains("GRAFT_DEBUG")

  // Per-chunk kernels shared by both regimes, each a small while-loop method:
  // HotSpot does not compile methods over 8000 bytecodes, and loops inlined
  // into a huge one run interpreted (measured ~320 ms vs ~30 ms per superstep
  // at n = 4M).

  /** The superstep's teleport scalar from the carried total: (1−d)/n·Σx
    * (pagerank.py:194) or (z·x)/n (original_pagerank/pagerank.py:138); risk
    * mode teleports per vertex instead.
    */
  private[engine] def teleportOf(mode: PageRankMode, d: Double, n: Long, carry: Double): Double = mode match {
    case PageRankMode.ReferenceRenorm => (1.0 - d) / n * carry
    case PageRankMode.MolerDangling => carry / n
    case PageRankMode.RiskPropagation => 0.0
  }

  /** y = d·gx + t, or d·gx + delta in risk mode (pagerank.py:194, :301;
    * original_pagerank/pagerank.py:138), written over gx. Returns Σy.
    */
  private[engine] def teleport(
      mode: PageRankMode, gx: Array[Double], d: Double, t: Double, aux: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    if (mode == PageRankMode.RiskPropagation)
      while (i < gx.length) { gx(i) = d * gx(i) + aux(i); s += gx(i); i += 1 }
    else
      while (i < gx.length) { gx(i) = d * gx(i) + t; s += gx(i); i += 1 }
    s
  }

  /** Finish a teleported chunk y against its old values x: renorm mode
    * divides by the total Σy (pagerank.py:197); then the L1 residual
    * Σ|y − x| and the carry for the next superstep.
    */
  private[engine] def settle(
      mode: PageRankMode, y: Array[Double], x: Array[Double], aux: Array[Double], sumY: Double)
      : (Double, Double) = {
    if (mode == PageRankMode.ReferenceRenorm) divide(y, sumY)
    var err = 0.0
    var i = 0
    while (i < y.length) { err += math.abs(y(i) - x(i)); i += 1 }
    (err, carry(mode, y, aux))
  }

  /** The total a mode carries into the next superstep: Σx (renorm), z·x
    * (Moler, aux = z), nothing (risk).
    */
  private[engine] def carry(mode: PageRankMode, x: Array[Double], aux: Array[Double]): Double = mode match {
    case PageRankMode.ReferenceRenorm => sumSeq(x)
    case PageRankMode.MolerDangling =>
      var s = 0.0
      var i = 0
      while (i < x.length) { s += aux(i) * x(i); i += 1 }
      s
    case PageRankMode.RiskPropagation => 0.0
  }

  /** xs /= s, in place. */
  private[engine] def divide(xs: Array[Double], s: Double): Unit = {
    var i = 0
    while (i < xs.length) { xs(i) /= s; i += 1 }
  }

  /** xs · s, as a new array. */
  private[engine] def times(xs: Array[Double], s: Double): Array[Double] = {
    val out = new Array[Double](xs.length)
    var i = 0
    while (i < out.length) { out(i) = xs(i) * s; i += 1 }
    out
  }

  /** Driver twin of the job gather's map + collect + combine: one zeroed
    * slice per part, [[gatherSlice]] into it, then add into gx in part
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
