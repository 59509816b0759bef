package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.execution.ExternalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.model._

/** A fully prepared link graph: compacted ids, duplicate-folded weighted edges,
  * degree tables, and the partitioned destination-block adjacency used by the
  * superstep kernel.
  *
  * '''The build is one primitive, block-routed pipeline, with no joins.''' Block b owns
  * vids `[b·blockSize, (b+1)·blockSize)`.
  *  1. One scan caches the input pairs as per-task primitive arrays; its count
  *     picks the regime (when the pairs fit the policy's driver budget they are
  *     folded and remapped on the driver). Pre-folded rows
  *     ([[LinkGraph.fromFoldedEdgeList]]) and the repo graph's half stream of
  *     pairs a < b ([[graft.sources.RepoFiles.linkGraph]], mirrored by both
  *     regimes) enter the same two builds.
  *  1. Each task sorts and deduplicates its own endpoint ids; splitters from a
  *     sample of those arrays cut them for one exchange, and each task merges
  *     what it receives into one ascending run of the dictionary.
  *  1. Route 1 sends every pair by its `src` id to the run that holds it, which
  *     remaps `src` and sums the weights of each pair's copies (all of them
  *     land in that task), so the folded edge count is known before the block
  *     geometry.
  *  1. The runs are cut into per-block slices of external ids (narrowly), and
  *     route 2 sends every folded edge by its `dst` id to its block's slice,
  *     which remaps `dst`. Rows cross every exchange as per-(map task, target)
  *     primitive batches.
  *  1. Partition b then holds block b's in-edges, sorted by (dst, src) where
  *     they land: the edge store (one job materializes it), beside the runs
  *     as the dictionary store ([[LinkGraph.Store]]). [[vertexDict]] and
  *     [[edges]] are uncached views over them, in the same layout.
  *  1. The per-block kernel ([[LinkGraph.blockParts]]) turns a copy of store
  *     partition b into the dst-major parts where it lies: each vertex's
  *     in-degree is the sum over its sorted run, `wNorm = w / inDeg`, and the
  *     run is split into parts of at most [[LinkGraph.MaxEdgesPerPart]]
  *     edges. Both [[adjParts]] and [[adjPartsByBlock]] read this one result.
  *  1. The same wNorm rows cross one src-block exchange, and the same kernel
  *     (without normalizing) gives the gather parts [[gatherPartsRdd]].
  * The resident fold's store is slices of its driver arrays. Its edges,
  * [[LinkGraph.fromDenseWeighted]]'s store (the positive edges, one batch per
  * input partition) and any other frames of the public constructor (packed on
  * the fly) are routed by dst block once before the kernel. A graph
  * constructed over the two unmodified views of one store reads that store
  * for its edge count, degree table and driver edge copy, and borrows it:
  * only the graph whose `source` carries a store releases it. When
  * the edges fit the policy's driver budget the same kernel runs on the
  * driver over [[edgesLocal]], the one primitive driver copy of the folded
  * edges (16 B per edge); restored parts replace the kernel altogether.
  *
  * Connected components and dense triangles (bitset rows) read the same copy,
  * LPA and sparse triangles one [[symmetricCsr]] built from it per call; one
  * predicate picks their regime ([[residentOperators]]) and one emitter
  * returns their arrays ([[vertexFrame]]).
  *
  * Per-task memory of the kernel is about 32 B × the edges in one block: a
  * copy of the store's packed (slot, vid) longs and weights, plus the parts
  * it emits. The stores hold 16 B per edge and 8 B per vertex. Route 1's fold
  * holds about 44 B × the raw pairs of one run: the received pairs and the
  * counting sort by `src`.
  * Packing needs vids below 2³² and blocks below 2³¹ slots (required).
  *
  * The [[degreeTable]] is one scan of the edges, whatever their layout, and
  * one exchange keyed by dictionary partition ([[LinkGraph.degreesOf]]).
  *
  * @param vertexDict  (extId, vid) dictionary; vid dense 0..n-1 ascending by extId
  *                    (reference: `enumerate(np.unique(edges))`, pagerank.py:622-627),
  *                    laid out in contiguous ascending vid runs: partition k
  *                    holds the next vids after partition k−1's, in order (every
  *                    builder lays it out so; the degree table rejects any other).
  *                    Passed with `edges` as a build's own two views, both are
  *                    read through the store they view, which this graph
  *                    borrows: its [[unpersistAll]] leaves it
  * @param edges       folded edges in vid space; weight = duplicate multiplicity
  *                    (csc_matrix duplicate-summing, pagerank.py:638-640); a
  *                    build's own view is read through its store, as `vertexDict` is
  * @param source      where the blocked adjacency comes from
  * @param policy      the byte budgets that pick the regime of this graph's
  *                    lazy layouts and of every operator run on it
  */
final class LinkGraph(
    val spark: SparkSession,
    val vertexDict: Dataset[VertexMapping],
    val edges: Dataset[Edge],
    val numVertices: Long,
    val numBlocks: Int,
    val blockSize: Long,
    private[graft] val knownNumEdges: Long = -1L,
    private[graft] val source: AdjacencySource = AdjacencySource.Edges,
    val policy: ExecutionPolicy = ExecutionPolicy()
) extends Serializable {
  import spark.implicits._

  // the kernel packs (slot, vid) into one long; refuse rather than mis-sort
  require(numVertices <= (1L << 32) && blockSize <= Int.MaxValue.toLong,
    s"block adjacency packs (slot, vid) into one long: needs numVertices ≤ 2^32 and " +
      s"blockSize < 2^31, got numVertices=$numVertices blockSize=$blockSize")

  lazy val numEdges: Long = if (knownNumEdges >= 0) knownNumEdges else store.map(_.m).getOrElse(edges.count())

  /** The store this graph owns: the one its `source` carries, released by [[unpersistAll]]. */
  private def ownStore: Option[LinkGraph.Store] = source match {
    case AdjacencySource.BlockLaid(s) => Some(s)
    case AdjacencySource.Resident(s, _) => Some(s)
    case AdjacencySource.Keyed(s) => Some(s)
    case _ => None
  }

  /** The store behind [[vertexDict]] and [[edges]]: the owned one, else the
    * store both frames view unmodified when they are the two views of one
    * store of `numVertices` vertices (borrowed: never released here).
    */
  @transient private lazy val store: Option[LinkGraph.Store] = ownStore.orElse {
    (LinkGraph.viewOf(vertexDict), LinkGraph.viewOf(edges)) match {
      case (Some(d), Some(e)) if (d.store eq e.store) && (d.of eq d.store.runs) && (e.of eq e.store.edges) &&
          d.store.starts.last == numVertices => Some(d.store)
      case _ => None
    }
  }

  /** [[edges]] as one primitive batch per partition, in row order: the
    * store, else the frame's partitions packed on the fly.
    */
  private def edgeBatches: RDD[LinkGraph.EdgeBatch] =
    store.map(_.edges).getOrElse(LinkGraph.batchesOf(edges, numVertices))

  /** The dictionary as the store's runs and their first vids: the build's, or
    * the frame's partitions, which one small job checks are contiguous
    * ascending vid runs tiling 0..n−1 (any other layout is rejected).
    */
  private def dictRuns(): (RDD[Array[Long]], Array[Long]) = store.map(s => (s.runs, s.starts)).getOrElse {
    val rows = vertexDict.select($"extId", $"vid").queryExecution.toRdd
    // (first vid, count, vids contiguous) per partition
    val runs = rows.mapPartitions { it =>
      var first = -1L
      var count = 0L
      var contiguous = true
      it.foreach { r =>
        val v = r.getLong(1)
        if (count == 0) first = v else contiguous &&= v == first + count
        count += 1
      }
      Iterator.single((first, count, contiguous))
    }.collect()
    val starts = runs.map(_._2).scanLeft(0L)(_ + _)
    require(starts.last == numVertices && runs.forall(_._2 <= Int.MaxValue) &&
      runs.indices.forall(k => runs(k)._2 == 0 || (runs(k)._1 == starts(k) && runs(k)._3)),
      s"the degree table needs the dictionary in contiguous ascending vid runs tiling 0..${numVertices - 1}; " +
        s"found (first vid, count, contiguous) per partition: ${runs.mkString(", ")}")
    (rows.mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toArray)), starts)
  }

  /** The folded edges on the driver for every driver-side consumer: packed
    * `(src << 32) | dst` keys in `a`, weights in `w` (16 B per edge). The
    * resident fold hands over its own arrays, sorted by key; other edge
    * batches are collected once, in partition order. Lazy.
    */
  private[graft] lazy val edgesLocal: LinkGraph.Rows = source match {
    case AdjacencySource.Resident(_, local) => local
    case _ =>
      val r = new LinkGraph.Rows(packed = true)
      edgeBatches.collect().foreach(e => for (i <- 0 until e.rows.n) r.add((e.src(i) << 32) | e.dst(i), e.rows.w(i)))
      r.trimmed
  }

  /** True when CC, LPA, triangles and clustering run on the driver: the
    * symmetric CSR (32 B per folded edge; the triangle kernel swaps it for
    * bitset rows only when they cost no more) and their vertex arrays (at
    * most 24 B per vertex: LPA's labels, next labels, vote sums, touched list
    * and CSR offsets) fit the driver budget.
    */
  private[graft] def residentOperators: Boolean =
    numVertices <= Int.MaxValue.toLong && numEdges * 32 + numVertices * 24 < policy.driverBytes

  /** Broadcast hint for an n-row label frame (two longs per row) that the
    * distributed operators join against edge-scale frames: pinned frames report
    * default (huge) statistics. Over the driver budget the shuffle join stays.
    */
  private[graft] def hintSmall(df: DataFrame): DataFrame =
    if (numVertices * 16 < policy.driverBytes) broadcast(df) else df

  /** The undirected view of [[edgesLocal]], built per call: row v is
    * `a(offsets(v) until offsets(v + 1))`, a key `(v << 32) | u` per neighbour
    * u ascending, with the weights of (v, u) and (u, v) summed (a self-loop
    * gets 2w).
    */
  private[graft] def symmetricCsr(): (Array[Int], LinkGraph.Rows) = {
    val rows = LinkGraph.foldRuns(LinkGraph.mirrored(edgesLocal))
    val offsets = new Array[Int](numVertices.toInt + 1)
    var i = 0
    for (v <- offsets.indices) {
      while (i < rows.n && (rows.a(i) >>> 32) < v) i += 1
      offsets(v) = i
    }
    (offsets, rows)
  }

  /** Per-vertex driver arrays (longs or doubles) as a (vid, name…) frame, one
    * slice per task: no broadcast, no pin, no job.
    */
  private[graft] def vertexFrame(cols: (String, Array[_])*): DataFrame =
    LinkGraph.arraysFrame(spark, numVertices.toInt, Some("vid"), cols)

  /** Release handles run by [[unpersistAll]]: the broadcasts this graph's
    * caches read and the pinned outputs of the distributed operators.
    */
  @transient private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  private def track[T](b: Broadcast[T]): Broadcast[T] = { releases += (() => b.destroy()); b }

  private[graft] def releaseOnUnpersist(free: () => Unit): Unit = releases += free

  /** True when the blocked adjacency can be ASSEMBLED on the driver: parts
    * not restored, adjacency bytes under the driver budget, vids in Int range.
    * The driver runs the same per-block kernel as the cluster build, so the
    * parts are bit-identical.
    */
  private def residentAssembleOk: Boolean =
    !source.isInstanceOf[AdjacencySource.Restored] &&
      numVertices <= Int.MaxValue.toLong &&
      numEdges * 16 < policy.driverBytes

  /** Dst-major parts assembled on the driver: [[edgesLocal]] bucketed by dst
    * block, each block through [[LinkGraph.blockParts]]. Block order, partId
    * order within a block — the cluster layout's partition order.
    */
  @transient private lazy val dstAssembled: Option[Array[AdjPart]] =
    if (!residentAssembleOk) None
    else {
      val rows = new Array[LinkGraph.Rows](numBlocks)
      val e = edgesLocal
      var i = 0
      while (i < e.n) { LinkGraph.addByDst(rows, blockSize, e.a(i) >>> 32, e.a(i) & 0xffffffffL, e.w(i)); i += 1 }
      Some(LinkGraph.partsOf(rows, normalize = true))
    }

  /** Src-major parts assembled on the driver from [[dstAssembled]]'s wNorm rows
    * (shared by [[gatherPartsLocal]] and [[gatherPartsRdd]]).
    */
  @transient private lazy val gatherAssembled: Option[Array[AdjPart]] =
    dstAssembled.map { parts =>
      LinkGraph.partsOf(LinkGraph.rowsBySrc(parts.iterator, blockSize, numBlocks), normalize = false)
    }

  /** Distribute driver-assembled parts in the build's exact layout: partition
    * b = block b's parts in assembler order (the data rides a broadcast,
    * destroyed by [[unpersistAll]]; the establishing shuffle moves numBlocks ints).
    */
  private def laidOutRdd(parts: Array[AdjPart]): RDD[AdjPart] = {
    val nb = numBlocks
    val byBlock = Array.fill(nb)(scala.collection.mutable.ArrayBuffer.empty[AdjPart])
    parts.foreach(p => byBlock(p.blockId) += p)
    val grouped: Array[Array[AdjPart]] = byBlock.map(_.toArray)
    val b = track(spark.sparkContext.broadcast(grouped))
    spark.sparkContext
      .parallelize(0 until nb, nb)
      .map(i => (i, i))
      .partitionBy(blockPartitioner)
      .mapPartitions(
        it => it.flatMap { case (i, _) => b.value(i).iterator },
        preservesPartitioning = true)
  }

  /** Full per-vertex degree table, zero-filled: (vid, extId, inDeg, outDeg),
    * the weighted column sums (pagerank.py:170) and row sums (pagerank.py:445)
    * from [[LinkGraph.degreesOf]]'s one edge scan and one exchange, in the
    * dictionary's own partitions. Persisted; built on first use.
    */
  @volatile private var degreeTableBuilt = false
  lazy val degreeTable: DataFrame = {
    val (runs, starts) = dictRuns()
    val t = LinkGraph.degreesOf(spark, runs, starts, edgeBatches, policy.taskBytes)
    t.persist(StorageLevel.MEMORY_AND_DISK)
    degreeTableBuilt = true
    t
  }

  /** The cluster build of the dst-major parts: the block-laid store's batches
    * go through the per-block kernel as copies (it normalizes in place); any
    * other edge batches are routed by dst block once first. Partition b =
    * block b's parts in partId order.
    */
  private def buildDstLayout(): RDD[AdjPart] = {
    val bs = blockSize
    val nb = numBlocks
    val byBlock: RDD[(Int, LinkGraph.Rows)] = source match {
      case AdjacencySource.BlockLaid(s) =>
        s.edges.mapPartitionsWithIndex((b, it) => it.map(e => (b, e.rows.slice(0, e.rows.n))))
      case _ =>
        edgeBatches
          .mapPartitions { it =>
            val out = new Array[LinkGraph.Rows](nb)
            it.foreach { e =>
              var i = 0
              while (i < e.rows.n) { LinkGraph.addByDst(out, bs, e.src(i), e.dst(i), e.rows.w(i)); i += 1 }
            }
            LinkGraph.batches(out)
          }
          .partitionBy(blockPartitioner)
    }
    LinkGraph.kernel(byBlock, normalize = true)
  }

  /** Dst-major parts, one result for every consumer: partition b = block b's
    * parts in partId order, cached deserialized.
    */
  @volatile private var dstLayoutBuilt = false
  private lazy val dstLayout: RDD[AdjPart] = {
    val parts = source match {
      case AdjacencySource.Restored(Some(dst), _) => dst
      case _ => dstAssembled.map(laidOutRdd).getOrElse(buildDstLayout())
    }
    val rdd = parts.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    dstLayoutBuilt = true
    rdd
  }

  /** dst-major (CSC-like) parts: keys = dst slots, adj = srcs. */
  lazy val adjParts: Dataset[AdjPart] = spark.createDataset(dstLayout)

  /** Identity partitioner for vertex blocks: blockId b → partition b.
    * (HashPartitioner on non-negative Int keys is the identity mod numBlocks,
    * and blockIds are 0..numBlocks-1.)
    */
  def blockPartitioner: org.apache.spark.HashPartitioner =
    new org.apache.spark.HashPartitioner(numBlocks)

  /** dst-major parts keyed by blockId: partition b holds exactly the parts of
    * block b. The distributed superstep zipPartitions this against
    * identically-laid-out rank chunks, so the adjacency NEVER moves after the
    * build — only the O(n)-sized rank/contribution chunks cross the wire each
    * superstep.
    */
  lazy val adjPartsByBlock: RDD[(Int, AdjPart)] = dstLayout.map(p => (p.blockId, p))

  /** Lay a chunk RDD out on [[blockPartitioner]]: partition b = block b's
    * single chunk. All per-superstep transforms are partition-local, so the
    * layout survives the whole loop without further shuffles.
    */
  def toBlockLayout(ds: Dataset[RankChunk]): RDD[RankChunk] =
    ds.rdd.map(c => (c.blockId, c)).partitionBy(blockPartitioner).values

  /** src-major (CSR-like) parts: keys = src slots, adj = dsts — the dst-major
    * parts' wNorm rows through one src-block exchange and the per-block
    * kernel. Persisted as a DESERIALIZED object RDD: the resident-regime kernel
    * scans it every superstep, and re-inflating 16B/edge arrays from a columnar
    * cache each iteration costs hundreds of MB of allocation + GC per superstep.
    */
  @volatile private var gatherPartsBuilt = false
  lazy val gatherPartsRdd: RDD[AdjPart] = {
    val base = source match {
      case AdjacencySource.Restored(_, Some(gather)) => gather
      case _ =>
        gatherAssembled.map(laidOutRdd).getOrElse {
          val bs = blockSize
          val nb = numBlocks
          LinkGraph.kernel(
            dstLayout
              .mapPartitions(parts => LinkGraph.batches(LinkGraph.rowsBySrc(parts, bs, nb)))
              .partitionBy(blockPartitioner),
            normalize = false)
        }
    }
    val rdd = base.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    gatherPartsBuilt = true
    rdd
  }

  /** Src-major parts COLLECTED to the driver once (the driver-local kernel's
    * input, gated by the policy's driver budget): collect order equals
    * [[gatherPartsRdd]]'s partition order, so a driver loop that accumulates
    * per-part slices in array order reproduces the cluster path's gx sums
    * bit-for-bit. The parts carry the SAME wNorm values the distributed
    * pipeline computed — only the per-superstep execution moves.
    */
  lazy val gatherPartsLocal: Array[AdjPart] =
    gatherAssembled.getOrElse(gatherPartsRdd.collect())

  /** Uniform initial rank chunks x = 1/n (pagerank.py:180). */
  def uniformChunks(): Dataset[RankChunk] = constantChunks(1.0 / numVertices)

  def constantChunks(v: Double): Dataset[RankChunk] = {
    val n = numVertices
    val bs = blockSize
    spark
      .range(numBlocks)
      .as[Long]
      .map { b =>
        val lo = b * bs
        val len = math.min(bs, n - lo).toInt
        RankChunk(b.toInt, lo, Array.fill(len)(v))
      }
  }

  /** Chunked form of an arbitrary per-vertex vector (vid, value); missing vids
    * get `default`. With `whole` (the vector's name) every vid must appear
    * exactly once, checked while the chunks fill ([[LinkGraph.Slots]]).
    */
  def chunksOf(vec: DataFrame, default: Double = 0.0, whole: Option[String] = None): Dataset[RankChunk] = {
    val n = numVertices
    val bs = blockSize
    val nb = numBlocks
    // ONE shuffle: rows route straight to their block's partition (the
    // HashPartitioner is the identity on blockIds 0..nb-1; a vid outside
    // 0..n−1 lands in a block whose slots reject it) and each partition fills
    // its dense chunk directly — empty partitions still emit a default chunk
    val rdd = vec
      .select($"vid".cast("long"), $"value".cast("double"))
      .as[(Long, Double)]
      .rdd
      .map { case (vid, v) => ((vid / bs).toInt, (vid, v)) }
      .partitionBy(blockPartitioner)
      .mapPartitionsWithIndex { (blockId, it) =>
        val lo = blockId.toLong * bs
        val slots = new LinkGraph.Slots(lo, math.min(bs, n - lo).toInt, default, whole)
        it.foreach { case (_, (vid, v)) => slots.set(vid, v) }
        Iterator.single(RankChunk(blockId, lo, slots.done()))
      }
    spark.createDataset(rdd)
  }

  /** Explode chunks back to a (vid, value) DataFrame. */
  def chunksToVertexDf(chunks: Dataset[RankChunk]): DataFrame =
    chunks
      .flatMap { c => c.values.iterator.zipWithIndex.map { case (v, i) => (c.loVid + i, v) } }
      .toDF("vid", "value")

  /** Induced prefix subgraph G[:k,:k] in dense vid space — all k vertices
    * kept, isolated ones included, exactly the reference's dense slice
    * (original_pagerank/pagerank.py:185). Because vids are assigned ascending
    * by extId, the prefix is equivalently "the k smallest external ids".
    *
    * The prefix's store is [[edgeBatches]] filtered to src < k and dst < k
    * (and positive weights, as [[LinkGraph.fromDenseWeighted]] keeps), one
    * packed batch per edge partition in row order: no edge is decoded.
    */
  def inducedPrefix(k: Long): LinkGraph = {
    val kk = math.min(k, numVertices)
    val batches = edgeBatches.map { e =>
      val r = new LinkGraph.Rows(packed = true)
      for (i <- 0 until e.rows.n if e.src(i) < kk && e.dst(i) < kk && e.rows.weight(i) > 0)
        r.add((e.src(i) << 32) | e.dst(i), e.rows.weight(i))
      LinkGraph.EdgeBatch(-1L, r.trimmed)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    LinkGraph.denseGraph(spark, batches, batches.map(_.rows.n.toLong).fold(0L)(_ + _), kk, 0, policy)
  }

  /** Release the owned store and every cache, broadcast and operator-output
    * pin this graph materialized (a borrowed store stays). Each lazy layout
    * checks its built flag first: touching the lazy val would build a layout
    * the caller never used.
    */
  def unpersistAll(): Unit = {
    if (dstLayoutBuilt) dstLayout.unpersist(false)
    if (gatherPartsBuilt) gatherPartsRdd.unpersist(false)
    if (degreeTableBuilt) degreeTable.unpersist()
    ownStore.foreach { s => s.runs.unpersist(false); s.edges.unpersist(false) }
    edges.unpersist()
    vertexDict.unpersist()
    releases.foreach(_())
    releases.clear()
  }
}

object LinkGraph {
  /** Cap on edges per adjacency part — bounds single-task work under skew. */
  val MaxEdgesPerPart: Int = 2 << 20

  /** Growable primitive edge rows, and the batch one map task ships to one
    * block or dictionary run. Packed rows carry `(local slot << 32) | vid` (or,
    * on the driver, `(src << 32) | dst`) in `a` and leave `b` null; triple rows carry two ids in `a` and `b`. Unweighted
    * rows (raw pairs) leave `w` null: every weight is 1. Shipped trimmed.
    */
  private[graft] final class Rows(packed: Boolean, weighted: Boolean = true) extends Serializable {
    var n = 0
    var a = new Array[Long](16)
    var b: Array[Long] = if (packed) null else new Array[Long](16)
    var w: Array[Double] = if (weighted) new Array[Double](16) else null

    private def grow(): Unit = {
      val c = math.max(16, a.length + (a.length >> 1))
      a = java.util.Arrays.copyOf(a, c)
      if (b != null) b = java.util.Arrays.copyOf(b, c)
      if (w != null) w = java.util.Arrays.copyOf(w, c)
    }
    def add(x: Long, v: Double): Unit = {
      if (n == a.length) grow()
      a(n) = x; w(n) = v; n += 1
    }
    def add(x: Long, y: Long): Unit = {
      if (n == a.length) grow()
      a(n) = x; b(n) = y; n += 1
    }
    def add(x: Long, y: Long, v: Double): Unit = {
      if (n == a.length) grow()
      a(n) = x; b(n) = y; w(n) = v; n += 1
    }
    /** Appends row `i` of `r`, which has this shape. */
    def add(r: Rows, i: Int): Unit = {
      if (n == a.length) grow()
      a(n) = r.a(i)
      if (b != null) b(n) = r.b(i)
      if (w != null) w(n) = r.w(i)
      n += 1
    }
    def weight(i: Int): Double = if (w == null) 1.0 else w(i)
    /** A copy of packed weighted rows `lo until hi`. */
    def slice(lo: Int, hi: Int): Rows = {
      val r = new Rows(packed = true)
      r.a = java.util.Arrays.copyOfRange(a, lo, hi); r.w = java.util.Arrays.copyOfRange(w, lo, hi); r.n = hi - lo
      r
    }
    def trimmed: Rows = {
      if (a.length != n) {
        a = java.util.Arrays.copyOf(a, n)
        if (b != null) b = java.util.Arrays.copyOf(b, n)
        if (w != null) w = java.util.Arrays.copyOf(w, n)
      }
      this
    }
  }

  /** One partition of the folded edges: keys `(src << 32) | dst` when `lo` < 0,
    * else the kernel's `((dst − lo) << 32) | src` of the block at vid `lo`.
    */
  private[graft] final case class EdgeBatch(lo: Long, rows: Rows) {
    def src(i: Int): Long = if (lo < 0) rows.a(i) >>> 32 else rows.a(i) & 0xffffffffL
    def dst(i: Int): Long = if (lo < 0) rows.a(i) & 0xffffffffL else lo + (rows.a(i) >>> 32)
  }

  /** A build's one copy of the graph, which [[LinkGraph.vertexDict]] and
    * [[LinkGraph.edges]] view: ascending external-id runs (run k holds vids
    * `[starts(k), starts(k + 1))`, `starts.last` = n) and one [[EdgeBatch]]
    * per edge partition, `m` edges in all.
    */
  private[graft] final case class Store(runs: RDD[Array[Long]], starts: Array[Long], edges: RDD[EdgeBatch], m: Long)

  /** The store view `ds` is, when its plan is exactly one (unfiltered, unprojected). */
  private def viewOf(ds: Dataset[_]): Option[StoreView[_, _]] = ds.queryExecution.logical match {
    case SerializeFromObject(_, ExternalRDD(_, v: StoreView[_, _])) => Some(v)
    case _ => None
  }

  /** `edges`' partitions packed into one batch each, in row order, rejecting
    * an endpoint outside vids 0..n−1.
    */
  private def batchesOf(edges: Dataset[Edge], n: Long): RDD[EdgeBatch] =
    edges.select(col("src"), col("dst"), col("weight").cast("double")).queryExecution.toRdd.mapPartitions { it =>
      val r = new Rows(packed = true)
      it.foreach { e =>
        val src = e.getLong(0)
        val dst = e.getLong(1)
        if (src < 0 || src >= n || dst < 0 || dst >= n)
          throw new IllegalStateException(s"edge ($src, $dst) has an endpoint vid outside 0..${n - 1}")
        r.add((src << 32) | dst, e.getDouble(2))
      }
      Iterator.single(EdgeBatch(-1L, r.trimmed))
    }

  /** Slots `[lo, lo + len)` of a per-vertex vector, `default` where unset. A
    * vid outside them raises; with `whole` (the vector's name) so does a vid
    * set twice or, at [[done]], one never set.
    */
  private[graft] final class Slots(lo: Long, len: Int, default: Double, whole: Option[String]) {
    private val values = Array.fill(len)(default)
    private val seen = whole.map(_ => new java.util.BitSet(len)).orNull
    private def fail(what: String) =
      throw new IllegalStateException(s"${whole.getOrElse("vector")} over vids $lo..${lo + len - 1}: $what")
    def set(vid: Long, v: Double): Unit = {
      if (vid < lo || vid >= lo + len) fail(s"vid $vid is out of range")
      val i = (vid - lo).toInt
      if (seen != null) { if (seen.get(i)) fail(s"vid $vid appears twice"); seen.set(i) }
      values(i) = v
    }
    def done(): Array[Double] = {
      if (seen != null && seen.cardinality != len) fail(s"${len - seen.cardinality} vids are missing")
      values
    }
  }

  /** One partition of (vid, value) rows as one batch (vids in `a`, values in
    * `w`), or None when a row holds a null.
    */
  private[graft] def vectorBatch(it: Iterator[InternalRow]): Option[Rows] = {
    val r = new Rows(packed = true)
    var nulls = false
    it.foreach { x => nulls ||= x.anyNull; if (!nulls) r.add(x.getLong(0), x.getDouble(1)) }
    if (nulls) None else Some(r.trimmed)
  }

  /** Appends rows `more` to `acc` (null = none yet); returns the accumulator. */
  private[graft] def append(acc: Rows, more: Rows): Rows =
    if (acc == null) more
    else {
      var i = 0
      while (i < more.n) { acc.add(more, i); i += 1 }
      acc
    }

  /** The non-empty per-block rows of one task, as (block, batch) records. */
  private def batches(rows: Array[Rows]): Iterator[(Int, Rows)] =
    rows.iterator.zipWithIndex.collect { case (r, b) if r != null => (b, r.trimmed) }

  private def rowsAt(rows: Array[Rows], b: Int, packed: Boolean): Rows = {
    if (rows(b) == null) rows(b) = new Rows(packed)
    rows(b)
  }

  /** Packs edge (src, dst, w) into its dst block's rows, keyed (dst slot, src). */
  private def addByDst(rows: Array[Rows], bs: Long, src: Long, dst: Long, w: Double): Unit = {
    val b = (dst / bs).toInt
    rowsAt(rows, b, packed = true).add(((dst - b * bs) << 32) | src, w)
  }

  /** The wNorm rows of dst-major parts, packed (src slot, dst) by src block. */
  private def rowsBySrc(parts: Iterator[AdjPart], bs: Long, nb: Int): Array[Rows] = {
    val rows = new Array[Rows](nb)
    parts.foreach { p =>
      val lo = p.blockId.toLong * bs
      var i = 0
      while (i < p.keys.length) {
        val dst = lo + p.keys(i)
        var j = p.offsets(i)
        while (j < p.offsets(i + 1)) {
          val src = p.adj(j)
          val b = (src / bs).toInt
          rowsAt(rows, b, packed = true).add(((src - b * bs) << 32) | dst, p.wNorm(j))
          j += 1
        }
        i += 1
      }
    }
    rows
  }

  /** The kernel over every block of a driver-side bucketing, in block order. */
  private def partsOf(rows: Array[Rows], normalize: Boolean): Array[AdjPart] =
    rows.indices.iterator.filter(rows(_) != null)
      .flatMap(b => blockParts(b, rows(b), normalize, MaxEdgesPerPart)).toArray

  /** The kernel over every partition of a block-partitioned batch RDD. */
  private def kernel(byBlock: RDD[(Int, Rows)], normalize: Boolean): RDD[AdjPart] = {
    val cap = MaxEdgesPerPart
    byBlock.mapPartitionsWithIndex { (b, it) =>
      val rows = merged(it)
      if (rows == null) Iterator.empty else blockParts(b, rows, normalize, cap).iterator
    }
  }

  /** The per-block kernel: sort one block's packed `(slot << 32) | other` rows
    * with their values, optionally normalize each slot's run by its sum
    * (dst-major: the value is the weight and the sum the in-degree, so it
    * yields wNorm = w / c[dst], D hoisted out of the loop exactly like
    * pagerank.py:173-174 — the one-time sparse-build analog of
    * pagerank.py:638-640), and split the sorted rows into parts of at most
    * `cap` edges — a hub's run may continue in the next part. Rows are sorted
    * and normalized in place; an already-sorted block skips the sort.
    */
  private[graft] def blockParts(blockId: Int, rows: Rows, normalize: Boolean, cap: Int): Array[AdjPart] = {
    val ks = rows.a
    val vs = rows.w
    val n = rows.n
    var sorted = true
    var i = 1
    while (sorted && i < n) { sorted = ks(i - 1) <= ks(i); i += 1 }
    if (!sorted) dualSort(ks, vs, 0, n - 1)
    if (normalize) {
      i = 0
      while (i < n) {
        val slot = ks(i) >>> 32
        var j = i
        var deg = 0.0
        while (j < n && (ks(j) >>> 32) == slot) { deg += vs(j); j += 1 }
        while (i < j) { vs(i) = vs(i) / deg; i += 1 }
      }
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[AdjPart]
    var s = 0
    while (s < n) {
      val e = if (n - s > cap) s + cap else n
      var slots = 1
      i = s + 1
      while (i < e) { if ((ks(i) >>> 32) != (ks(i - 1) >>> 32)) slots += 1; i += 1 }
      val keys = new Array[Int](slots)
      val offsets = new Array[Int](slots + 1)
      val adj = new Array[Long](e - s)
      var k = -1
      i = s
      while (i < e) {
        val slot = (ks(i) >>> 32).toInt
        if (k < 0 || keys(k) != slot) { k += 1; keys(k) = slot; offsets(k) = i - s }
        adj(i - s) = ks(i) & 0xffffffffL
        i += 1
      }
      offsets(slots) = e - s
      parts += AdjPart(blockId, parts.length, keys, offsets, adj, java.util.Arrays.copyOfRange(vs, s, e))
      s = e
    }
    parts.toArray
  }

  /** One map task's degree sums for one dictionary partition, in one
    * direction, at partition-local positions: dense over the touched window
    * `[lo, lo + dense.length)` when at least half of it is touched, sparse
    * (`idx`, `vals`) otherwise. The reduce side adds them in (task, seq) order.
    */
  private final case class DegreeSlab(
      task: Int, seq: Int, out: Boolean, lo: Int, dense: Array[Double], idx: Array[Int], vals: Array[Double])

  /** The degree table's kernel, for every graph size: one scan of the edge
    * batches and one exchange keyed by dictionary run, no joins.
    *  1. Each map task sums its edges' weights into in- and out-degree slabs
    *     per dictionary partition (allocated at the partition's length when
    *     first touched, flushed when they pass `taskBytes`) and ships each as a
    *     [[DegreeSlab]].
    *  1. Partition k adds its slabs in (map task, flush) order, so every run
    *     adds the same values in the same order whatever the weights, and zips
    *     with run k for the external ids: rows (vid, extId, inDeg, outDeg),
    *     vid-ascending, in the dictionary's partitions.
    */
  private def degreesOf(
      spark: SparkSession, runs: RDD[Array[Long]], starts: Array[Long], edges: RDD[EdgeBatch], taskBytes: Long
  ): DataFrame = {
    import spark.implicits._
    val n = starts.last
    val p = runs.getNumPartitions
    val slabs = edges
      .mapPartitionsWithIndex { (task, it) =>
        val acc = Array.ofDim[Array[Double]](2, p) // in, out × dictionary partition
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, DegreeSlab)]
        var held = 0L
        var seq = 0
        def flush(): Unit = {
          for (d <- 0 to 1; k <- 0 until p if acc(d)(k) != null) {
            slabOf(task, seq, d == 1, acc(d)(k)).foreach(s => out += ((k, s)))
            acc(d)(k) = null
          }
          held = 0L
          seq += 1
        }
        def add(d: Int, v: Long, w: Double): Unit = {
          val k = partOf(starts, v, n)
          if (acc(d)(k) == null) {
            val len = starts(k + 1) - starts(k)
            if (held > 0 && held + len * 8 > taskBytes) flush()
            acc(d)(k) = new Array[Double](len.toInt)
            held += len * 8
          }
          acc(d)(k)((v - starts(k)).toInt) += w
        }
        it.foreach { e =>
          var i = 0
          while (i < e.rows.n) {
            val w = e.rows.w(i)
            add(0, e.dst(i), w)
            add(1, e.src(i), w)
            i += 1
          }
        }
        flush()
        out.iterator
      }
    val table = slabs
      .partitionBy(new org.apache.spark.HashPartitioner(p)) // identity on partition indices
      .zipPartitions(runs) { (in, runIt) =>
        val k = TaskContext.getPartitionId()
        val lo = starts(k)
        val len = (starts(k + 1) - lo).toInt
        val deg = Array.fill(2)(new Array[Double](len))
        in.map(_._2).toArray.sortBy(s => (s.task, s.seq)).foreach { s =>
          val d = deg(if (s.out) 1 else 0)
          var i = 0
          if (s.dense != null) while (i < s.dense.length) { d(s.lo + i) += s.dense(i); i += 1 }
          else while (i < s.idx.length) { d(s.idx(i)) += s.vals(i); i += 1 }
        }
        val run = runIt.next()
        Iterator.range(0, len).map(i => (lo + i, run(i), deg(0)(i), deg(1)(i)))
      }
    spark.createDataset(table).toDF("vid", "extId", "inDeg", "outDeg")
  }

  /** The dictionary partition that holds vid `v`: the last whose first vid is ≤ `v`. */
  private def partOf(starts: Array[Long], v: Long, n: Long): Int = {
    if (v < 0 || v >= n) throw new IllegalStateException(s"edge endpoint vid $v is outside 0..${n - 1}")
    var lo = 0
    var hi = starts.length - 2
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= v) lo = mid else hi = mid - 1
    }
    lo
  }

  /** A map task's slab for one partition and direction, encoded; None when untouched. */
  private def slabOf(task: Int, seq: Int, out: Boolean, s: Array[Double]): Option[DegreeSlab] = {
    var lo = 0
    while (lo < s.length && s(lo) == 0.0) lo += 1
    if (lo == s.length) return None
    var hi = s.length
    while (s(hi - 1) == 0.0) hi -= 1
    var touched = 0
    var i = lo
    while (i < hi) { if (s(i) != 0.0) touched += 1; i += 1 }
    if (touched * 2L >= hi - lo) Some(DegreeSlab(task, seq, out, lo, java.util.Arrays.copyOfRange(s, lo, hi), null, null))
    else {
      val idx = new Array[Int](touched)
      val vals = new Array[Double](touched)
      var c = 0
      i = lo
      while (i < hi) {
        if (s(i) != 0.0) { idx(c) = i; vals(c) = s(i); c += 1 }
        i += 1
      }
      Some(DegreeSlab(task, seq, out, 0, null, idx, vals))
    }
  }

  /** Quicksort `keys` ascending, permuting `vals` alongside (median-of-three
    * pivot, insertion sort below 32). Recurses only into the smaller side and
    * loops on the larger, so the stack depth stays below log₂(n) for any key
    * order. Deterministic for a given input order; ties (duplicate keys) keep
    * an arbitrary relative order, exactly like the cluster sort they replace.
    */
  private[graft] def dualSort(keys: Array[Long], vals: Array[Double], lo0: Int, hi0: Int): Unit = {
    def swap(a: Int, b: Int): Unit = {
      val k = keys(a); keys(a) = keys(b); keys(b) = k
      val v = vals(a); vals(a) = vals(b); vals(b) = v
    }
    def sort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo >= 32) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < keys(lo)) swap(mid, lo)
        if (keys(hi) < keys(lo)) swap(hi, lo)
        if (keys(hi) < keys(mid)) swap(hi, mid)
        val pivot = keys(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (keys(i) < pivot) i += 1
          while (keys(j) > pivot) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (j - lo < hi - i) { if (lo < j) sort(lo, j); lo = i }
        else { if (i < hi) sort(i, hi); hi = j }
      }
      var i = lo + 1
      while (i <= hi) {
        val k = keys(i); val v = vals(i)
        var j = i - 1
        while (j >= lo && keys(j) > k) { keys(j + 1) = keys(j); vals(j + 1) = vals(j); j -= 1 }
        keys(j + 1) = k; vals(j + 1) = v
        i += 1
      }
    }
    if (lo0 < hi0) sort(lo0, hi0)
  }

  /** Edge-budget target per block for the auto block count. */
  private val TargetEdgesPerBlock: Long = 64L * 1024

  /** Auto block count: superstep work is edge-dominated, so blocks scale with
    * the folded edge count as well as the vertex count, capped at 2×
    * parallelism: per-task gather work stays bounded whatever the vertex/edge
    * ratio (a small but dense graph still gets several blocks).
    */
  private def autoBlocks(spark: SparkSession, n: Long, edges: Long): Int =
    math.max(1, math.min(
      spark.sparkContext.defaultParallelism * 2L,
      math.max(math.max(1L, n / 1024L), edges / TargetEdgesPerBlock)).toInt)

  /** (blocks, blockSize) for n vertices: `numBlocks` when positive, else auto. */
  private def geometry(spark: SparkSession, n: Long, m: Long, numBlocks: Int): (Int, Long) = {
    val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, n, m)
    (blocks, math.max(1L, (n + blocks - 1) / blocks))
  }

  /** Vertex-id sizing policy (SURVEY §1.3): the shared-patterns project
    * compacts ids to 0..n−1 over the OBSERVED vertices (pagerank.py:622-627);
    * the original solver project sizes the graph dense by the MAX id,
    * n = max(id)+1, so unreferenced ids below the max exist as isolated
    * vertices and receive teleport-only mass
    * (original_pagerank/pagerank.py:161).
    */
  sealed trait IdMode
  object IdMode {
    case object Compacted extends IdMode
    case object DenseByMax extends IdMode
  }

  /** Fold duplicates, build the dictionary, remap to dense vids, and block the
    * adjacency. `rawEdges` must have long columns `src`, `dst` (external ids);
    * duplicates are summed, weight columns beyond (src,dst) are ignored —
    * exactly load_graph (pagerank.py:617-640). `idMode` selects compacted
    * (default, reference shared-patterns behavior) or dense-by-max vertex
    * numbering (the original solver's `n = max(id)+1`; ids must be ≥ 0 and
    * vid = extId, no remap at all). The graph carries `policy`.
    */
  def fromEdgeList(
      spark: SparkSession,
      rawEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted,
      policy: ExecutionPolicy = ExecutionPolicy()
  ): LinkGraph = {
    import spark.implicits._
    val pairs = rawEdges.select($"src".cast("long"), $"dst".cast("long"))
    idMode match {
      case IdMode.DenseByMax =>
        fromFoldedEdgeList(spark,
          pairs.groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("weight")), numBlocks, idMode, policy)
      case IdMode.Compacted =>
        // the one pass over the input: every later step reads this cache
        fromScan(spark, scanOf(pairs.queryExecution.toRdd, weighted = false), numBlocks, policy, mirror = false)
    }
  }

  /** One cached batch per task of the (src, dst[, weight]) leading columns of `rows`. */
  private def scanOf(rows: RDD[InternalRow], weighted: Boolean): RDD[Rows] =
    rows.mapPartitions { it =>
      val r = new Rows(packed = false, weighted)
      it.foreach { row =>
        require(!row.isNullAt(0) && !row.isNullAt(1), "edge ids must not be null")
        if (weighted) r.add(row.getLong(0), row.getLong(1), row.getDouble(2)) else r.add(row.getLong(0), row.getLong(1))
      }
      Iterator.single(r.trimmed)
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** The Compacted build over a cached `scan` of (src, dst[, w]) rows in
    * external ids, which it releases. Its count picks the regime: below the
    * driver budget at 32 B per row the collected rows are folded on the
    * driver, otherwise the routed build runs. With `mirror` every row stands
    * for both of its orientations (a symmetric pair stream given once per
    * unordered pair, src ≠ dst): the resident fold mirrors each folded pair,
    * and route 1 sends each row both ways.
    */
  private[graft] def fromScan(
      spark: SparkSession, scan: RDD[Rows], numBlocks: Int, policy: ExecutionPolicy, mirror: Boolean): LinkGraph =
    try {
      val total = scan.map(_.n.toLong).fold(0L)(_ + _)
      if (total * 32 < policy.driverBytes && total <= Int.MaxValue / 2 - 8)
        residentFromPairs(spark, scan.collect(), numBlocks, policy, mirror)
      else routedGraph(spark, scan, numBlocks, policy, mirror)
    } finally scan.unpersist(false)

  /** Driver fold + dictionary + remap of the collected rows —
    * value-identical to the distributed build: vids are the ascending sort
    * rank of the distinct external ids, and a pair's copies fold into the sum
    * of their weights (their count when unweighted). The sorted ids and the
    * remapped edges, in (src, dst) vid order, are the graph's store, one
    * primitive slice per task; no job runs after the collect.
    */
  private def residentFromPairs(
      spark: SparkSession, chunks: Array[Rows], numBlocks: Int, policy: ExecutionPolicy, mirror: Boolean): LinkGraph = {
    import spark.implicits._
    val total = chunks.map(_.n).sum
    val ids = sortedDistinct(Array.concat(chunks.flatMap(c => Seq(c.a, c.b)).toSeq: _*))
    val n = ids.length
    // remapped (src, dst) vid pairs packed into one long (vids dense < 2³¹):
    // sorted, every copy of a pair is adjacent
    val pairs = new Rows(packed = true, weighted = chunks.exists(_.w != null))
    pairs.a = new Array[Long](total)
    pairs.w = if (pairs.w == null) null else new Array[Double](total)
    chunks.foreach { c =>
      var i = 0
      while (i < c.n) {
        pairs.a(pairs.n) = (vidIn(ids, c.a(i), 0L) << 32) | vidIn(ids, c.b(i), 0L)
        if (pairs.w != null) pairs.w(pairs.n) = c.w(i)
        pairs.n += 1; i += 1
      }
    }
    if (pairs.w == null) java.util.Arrays.sort(pairs.a) else dualSort(pairs.a, pairs.w, 0, total - 1)
    // fold each run of copies; with `mirror` each folded pair gains its swap
    val local = if (mirror) mirrored(foldRuns(pairs)) else foldRuns(pairs).trimmed
    val m = local.n
    val store = Store(sliced(spark, n)(java.util.Arrays.copyOfRange(ids, _, _)), slices(spark, n).map(_.toLong),
      sliced(spark, m)((lo, hi) => EdgeBatch(-1L, local.slice(lo, hi))), m)
    val (blocks, bs) = geometry(spark, n, m, numBlocks)
    storedGraph(spark, store, AdjacencySource.Resident(store, local), blocks, bs, policy)
  }

  /** The bounds of `len` positions cut into one slice per task. */
  private def slices(spark: SparkSession, len: Int): Array[Int] = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    Array.tabulate(p + 1)(s => (s.toLong * len / p).toInt)
  }

  /** `len` positions cut into one slice per task (`cut(lo, hi)`), parallelized in slice order. */
  private def sliced[T: scala.reflect.ClassTag](spark: SparkSession, len: Int)(cut: (Int, Int) => T): RDD[T] = {
    val b = slices(spark, len)
    spark.sparkContext.parallelize((0 until b.length - 1).map(s => cut(b(s), b(s + 1))), b.length - 1)
  }

  /** The graph owning a build's `store` (carried by `source`), whose frames are its two views. */
  private def storedGraph(spark: SparkSession, store: Store, source: AdjacencySource, blocks: Int, bs: Long,
      policy: ExecutionPolicy): LinkGraph = {
    import spark.implicits._
    val edges = new StoreView(store, store.edges, (_: Int, it: Iterator[EdgeBatch]) =>
      it.flatMap(e => Iterator.range(0, e.rows.n).map(i => Edge(e.src(i), e.dst(i), e.rows.w(i)))))
    val starts = store.starts
    val dict = new StoreView(store, store.runs, (k: Int, it: Iterator[Array[Long]]) =>
      it.flatMap(run => Iterator.range(0, run.length).map(i => VertexMapping(run(i), starts(k) + i))))
    new LinkGraph(spark, spark.createDataset(dict), spark.createDataset(edges), starts.last, blocks, bs, store.m,
      source, policy)
  }

  /** Driver columns of length `len` (each an `Array[Long]` or an
    * `Array[Double]`) as a frame in array order, one slice per task: no
    * broadcast, no pin, no job. `index` names a leading long column that holds
    * each row's position.
    */
  private[graft] def arraysFrame(
      spark: SparkSession, len: Int, index: Option[String], cols: Seq[(String, Array[_])]): DataFrame = {
    def cut(a: Array[_], lo: Int, hi: Int): Array[_] = a match {
      case d: Array[Double] => java.util.Arrays.copyOfRange(d, lo, hi)
      case l: Array[Long] => java.util.Arrays.copyOfRange(l, lo, hi)
    }
    val indexed = index.isDefined
    val rows = sliced(spark, len)((lo, hi) => (lo, hi - lo, cols.map(c => cut(c._2, lo, hi)))).flatMap {
      case (lo, k, cs) =>
        Iterator.range(0, k).map { i =>
          val vs = cs.map(c => c(i))
          Row.fromSeq(if (indexed) (lo + i).toLong +: vs else vs)
        }
    }
    val fields = index.map(StructField(_, LongType, nullable = false)).toSeq ++ cols.map { case (name, a) =>
      StructField(name, if (a.isInstanceOf[Array[Double]]) DoubleType else LongType, nullable = false)
    }
    spark.createDataFrame(rows, StructType(fields))
  }

  /** Folds sorted packed `rows` in place: each run of equal keys becomes one
    * row with the run's weights summed in order (its length when unweighted).
    */
  private def foldRuns(rows: Rows): Rows = {
    val sums = if (rows.w == null) new Array[Double](rows.n) else rows.w
    var m = 0
    var i = 0
    while (i < rows.n) {
      var j = i
      var sum = 0.0
      while (j < rows.n && rows.a(j) == rows.a(i)) { sum += rows.weight(j); j += 1 }
      rows.a(m) = rows.a(i); sums(m) = sum; m += 1
      i = j
    }
    rows.w = sums
    rows.n = m
    rows
  }

  /** Packed `rows` and each one's swap `(b << 32) | a`, sorted into new arrays. */
  private def mirrored(rows: Rows): Rows = {
    val out = new Rows(packed = true)
    out.a = new Array[Long](2 * rows.n)
    out.w = new Array[Double](2 * rows.n)
    var i = 0
    while (i < rows.n) {
      val k = rows.a(i)
      out.add(k, rows.w(i))
      out.add((k << 32) | (k >>> 32), rows.w(i))
      i += 1
    }
    dualSort(out.a, out.w, 0, out.n - 1)
    out
  }

  /** [[fromEdgeList]] for a caller that already folded duplicates into
    * (src, dst, weight): the same scan and the same two builds, which sum the
    * weights of a pair's rows instead of counting them. The weight column
    * must carry the duplicate multiplicities the internal fold would have
    * produced.
    */
  def fromFoldedEdgeList(
      spark: SparkSession,
      foldedEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted,
      policy: ExecutionPolicy = ExecutionPolicy()
  ): LinkGraph = {
    import spark.implicits._
    val folded = foldedEdges.select($"src".cast("long"), $"dst".cast("long"), $"weight".cast("double"))
    idMode match {
      case IdMode.Compacted =>
        fromScan(spark, scanOf(folded.queryExecution.toRdd, weighted = true), numBlocks, policy, mirror = false)

      case IdMode.DenseByMax =>
        // one job packs the positive edges (the store), counts them and
        // bounds the ids of every row, weight ≤ 0 included: each result task
        // reports its partition's (rows, min id, max id) once
        val bounds = spark.sparkContext.collectionAccumulator[(Long, Long, Long)]("graft.idBounds")
        val batches = folded.queryExecution.toRdd.mapPartitions { it =>
          val r = new Rows(packed = true)
          var rows = 0L
          var lo = Long.MaxValue
          var hi = Long.MinValue
          it.foreach { e =>
            val src = e.getLong(0)
            val dst = e.getLong(1)
            rows += 1
            lo = math.min(lo, math.min(src, dst))
            hi = math.max(hi, math.max(src, dst))
            if (e.getDouble(2) > 0) r.add((src << 32) | dst, e.getDouble(2))
          }
          bounds.add((rows, lo, hi))
          Iterator.single(EdgeBatch(-1L, r.trimmed))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        val m = batches.map(_.rows.n.toLong).fold(0L)(_ + _)
        val parts = bounds.value.asScala.filter(_._1 > 0)
        if (parts.isEmpty || parts.exists(_._2 < 0)) batches.unpersist(false)
        require(parts.nonEmpty, "dense-by-max graph needs at least one edge")
        require(!parts.exists(_._2 < 0), "dense-by-max ids must be non-negative")
        denseGraph(spark, batches, m, parts.map(_._3).max + 1, numBlocks, policy)
    }
  }

  /** Samples per map task for the dictionary's splitters, per run. */
  private val SamplesPerRun = 64

  /** The distributed Compacted build over a cached `scan` of (src, dst[, w])
    * rows in external ids: the dictionary's sorted runs from one exchange of
    * per-task distinct ids, route 1 (remap `src`, fold) to the runs, route 2
    * (remap `dst`, sort) to the block slices cut from them. With `mirror`
    * route 1 sends every row in both orientations. The runs and route 2's
    * batches are the graph's store; one job materializes the batches, and
    * every intermediate cache is released.
    */
  private def routedGraph(
      spark: SparkSession, scan: RDD[Rows], numBlocks: Int, policy: ExecutionPolicy, mirror: Boolean): LinkGraph = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val runPartitioner = new org.apache.spark.HashPartitioner(p) // identity on run indices
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def hold[T](r: RDD[T]): RDD[T] = { held += r; r.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      // every task's distinct endpoint ids, sorted
      val local = hold(scan.map(c => sortedDistinct(Array.concat(c.a, c.b))))
      val splitters = splittersOf(local.map(sampleOf(_, SamplesPerRun * p)).collect(), p)
      // the dictionary: one exchange of the ids cut at the splitters; run k
      // merges what its task receives into the ascending ids in
      // (splitters(k−1), splitters(k)]
      val runs = hold(local
        .flatMap(ids => cuts(ids, splitters))
        .partitionBy(runPartitioner)
        .mapPartitions(it => Iterator.single(sortedDistinct(Array.concat(it.map(_._2).toSeq: _*)))))
      val starts = runs.map(_.length.toLong).collect().scanLeft(0L)(_ + _)
      val n = starts.last
      // route 1: every pair by its src id to the run that holds it, which
      // remaps src and folds the pair's copies
      val bySrc = hold(scan
        .mapPartitions { it =>
          val out = new Array[Rows](p)
          it.foreach { c =>
            def send(src: Long, dst: Long, i: Int): Unit = {
              val k = runOf(splitters, src)
              if (out(k) == null) out(k) = new Rows(packed = false, c.w != null)
              if (c.w == null) out(k).add(src, dst) else out(k).add(src, dst, c.w(i))
            }
            var i = 0
            while (i < c.n) {
              send(c.a(i), c.b(i), i)
              if (mirror) send(c.b(i), c.a(i), i)
              i += 1
            }
          }
          batches(out)
        }
        .partitionBy(runPartitioner)
        .zipPartitions(runs)((it, run) => Iterator.single(foldRun(it.map(_._2).toArray, run.next()))))
      val m = bySrc.map(_.n.toLong).fold(0L)(_ + _)
      val (blocks, bs) = geometry(spark, n, m, numBlocks)
      val hp = new org.apache.spark.HashPartitioner(blocks)
      val slices = new BlockSliceRDD(runs, starts, bs, blocks)
      // first external id of every non-empty block: the routing boundaries
      val firstIds = slices.mapPartitions(_.filter(_.nonEmpty).map(_(0))).collect()
      // route 2: every folded edge by its dst id to its block's slice, which remaps dst
      val byDst = hold(bySrc
        .mapPartitionsWithIndex { (k, it) =>
          val t = it.next()
          val out = new Array[Rows](blocks)
          var i = 0
          while (i < t.n) {
            rowsAt(out, blockOfId(firstIds, t.b(i)), packed = false).add(starts(k) + t.a(i), t.b(i), t.w(i))
            i += 1
          }
          batches(out)
        }
        .partitionBy(hp)
        .zipPartitions(slices) { (it, sl) =>
          val slice = sl.next()
          val lo = TaskContext.getPartitionId() * bs
          val out = new Rows(packed = true)
          it.foreach { case (_, t) =>
            var i = 0
            while (i < t.n) {
              out.add(((vidIn(slice, t.b(i), lo) - lo) << 32) | t.a(i), t.w(i))
              i += 1
            }
          }
          val rows = out.trimmed
          dualSort(rows.a, rows.w, 0, rows.n - 1) // (dst, src): the kernel's order
          Iterator.single(EdgeBatch(lo, rows))
        })
      byDst.count()
      held --= Seq(runs, byDst) // the graph's store
      val store = Store(runs, starts, byDst, m)
      storedGraph(spark, store, AdjacencySource.BlockLaid(store), blocks, bs, policy)
    } finally held.foreach(_.unpersist(false))
  }

  /** The ascending distinct values of `xs`, which it sorts in place. */
  private[graft] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var k = 0
    var i = 0
    while (i < xs.length) {
      if (k == 0 || xs(i) != xs(k - 1)) { xs(k) = xs(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, k)
  }

  /** Up to `k` evenly spaced ids of one task's sorted distinct ids, and how
    * many ids they stand for.
    */
  private def sampleOf(ids: Array[Long], k: Int): (Int, Array[Long]) = {
    val s = math.min(k, ids.length)
    (ids.length, Array.tabulate(s)(i => ids((i.toLong * ids.length / s).toInt)))
  }

  /** `p − 1` ascending splitters from the tasks' samples: run k holds the ids
    * in (splitters(k−1), splitters(k)], each about an equal share of the
    * sampled weight. Splitters may repeat, which leaves a run empty. Vids
    * depend only on the ids' global order, never on the splitters.
    */
  private def splittersOf(samples: Array[(Int, Array[Long])], p: Int): Array[Long] = {
    val weighted = samples.flatMap { case (len, s) => s.map(v => (v, len.toDouble / s.length)) }.sortBy(_._1)
    val total = weighted.map(_._2).sum
    var cum = 0.0
    var i = 0
    Array.tabulate(p - 1) { j =>
      while (i < weighted.length - 1 && cum + weighted(i)._2 < total * (j + 1) / p) { cum += weighted(i)._2; i += 1 }
      if (weighted.isEmpty) 0L else weighted(i)._1
    }
  }

  /** The run that holds external id `id`: the number of splitters below it. */
  private def runOf(splitters: Array[Long], id: Long): Int = {
    var lo = 0
    var hi = splitters.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (splitters(mid) < id) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** One task's sorted ids cut into (run, ids) pieces at the splitters. */
  private def cuts(ids: Array[Long], splitters: Array[Long]): Iterator[(Int, Array[Long])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Long])]
    var from = 0
    while (from < ids.length) {
      val k = runOf(splitters, ids(from))
      var to = from + 1
      while (to < ids.length && (k == splitters.length || ids(to) <= splitters(k))) to += 1
      out += ((k, java.util.Arrays.copyOfRange(ids, from, to)))
      from = to
    }
    out.iterator
  }

  /** Route 1's reduce side for one dictionary run: the pairs whose `src` the
    * run holds, `src` remapped to its index in the run, and the weights of
    * each (src, dst) pair's copies summed — every copy routes to this task, so
    * the fold is exact. Rows come out ordered by (src index, dst).
    */
  private def foldRun(in: Array[Rows], run: Array[Long]): Rows = {
    val n = in.map(_.n).sum
    // counting sort by src index: start(s) = first row of src s
    val idx = new Array[Int](n)
    val start = new Array[Int](run.length + 1)
    var k = 0
    in.foreach { t =>
      var i = 0
      while (i < t.n) { idx(k) = vidIn(run, t.a(i), 0L).toInt; start(idx(k) + 1) += 1; k += 1; i += 1 }
    }
    var s = 0
    while (s < run.length) { start(s + 1) += start(s); s += 1 }
    val next = java.util.Arrays.copyOf(start, run.length)
    val dst = new Array[Long](n)
    val w = new Array[Double](n)
    k = 0
    in.foreach { t =>
      var i = 0
      while (i < t.n) {
        val j = next(idx(k)); next(idx(k)) += 1
        dst(j) = t.b(i); w(j) = t.weight(i); k += 1; i += 1
      }
    }
    // sort each src's dsts, then fold equal neighbours in place
    val out = new Rows(packed = false)
    out.a = new Array[Long](n); out.b = dst; out.w = w
    s = 0
    while (s < run.length) {
      if (start(s + 1) - start(s) > 1) dualSort(dst, w, start(s), start(s + 1) - 1)
      var i = start(s)
      while (i < start(s + 1)) {
        val d = dst(i)
        var sum = 0.0
        while (i < start(s + 1) && dst(i) == d) { sum += w(i); i += 1 }
        out.a(out.n) = s; dst(out.n) = d; w(out.n) = sum; out.n += 1
      }
      s += 1
    }
    out.trimmed
  }

  /** All rows one task received for its block, merged (null when none). */
  private def merged(it: Iterator[(Int, Rows)]): Rows =
    it.foldLeft(null: Rows)((acc, r) => append(acc, r._2))

  /** The vid of external id `id` in the ascending `slice` whose first vid is
    * `lo`; an id missing from its slice means the dictionary and the edges
    * disagree, which is never silently dropped.
    */
  private def vidIn(slice: Array[Long], id: Long, lo: Long): Long = {
    val i = java.util.Arrays.binarySearch(slice, id)
    if (i < 0) throw new IllegalStateException(s"external id $id is missing from its dictionary slice")
    lo + i
  }

  /** The block whose slice can hold external id `id`: the last block whose
    * first id is ≤ `id` (signed comparison, so any 64-bit id routes).
    */
  private def blockOfId(firstIds: Array[Long], id: Long): Int = {
    var lo = 0
    var hi = firstIds.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (firstIds(mid) <= id) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Same, but edges are already (src, dst, weight) in dense vid space 0..n-1.
    * Edges with weight ≤ 0 are dropped — "no edge" is this engine's semantic
    * for them everywhere (the column-normalized adjacency would divide by a
    * zero column sum, and LPA's weight-0 self-vote requires every surviving
    * neighbor vote to be strictly positive). fromEdgeList weights are fold
    * multiplicities ≥ 1, so only this entry point can see them.
    *
    * The graph's store is the positive edges packed one batch per input
    * partition (persisted; one job materializes and counts them) beside the
    * identity dictionary's runs, computed when read.
    */
  def fromDenseWeighted(
      spark: SparkSession,
      edges: Dataset[Edge],
      numVertices: Long,
      numBlocks: Int = 0,
      policy: ExecutionPolicy = ExecutionPolicy()
  ): LinkGraph = {
    val batches = batchesOf(edges.filter(col("weight") > 0), numVertices).persist(StorageLevel.MEMORY_AND_DISK)
    denseGraph(spark, batches, batches.map(_.rows.n.toLong).fold(0L)(_ + _), numVertices, numBlocks, policy)
  }

  /** The graph over vids 0..n−1 whose store is `batches` (persisted, packed
    * `(src << 32) | dst`, `m` edges) beside the identity dictionary's runs.
    */
  private def denseGraph(spark: SparkSession, batches: RDD[EdgeBatch], m: Long, numVertices: Long, numBlocks: Int,
      policy: ExecutionPolicy): LinkGraph = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val starts = Array.tabulate(p + 1)(k => k * numVertices / p)
    val runs = spark.sparkContext.parallelize(0 until p, p)
      .map(k => Array.tabulate((starts(k + 1) - starts(k)).toInt)(starts(k) + _))
    val store = Store(runs, starts, batches, m)
    val (blocks, bs) = geometry(spark, numVertices, m, numBlocks)
    storedGraph(spark, store, AdjacencySource.Keyed(store), blocks, bs, policy)
  }

  /** Graph whose blocked adjacency was PRE-ASSEMBLED by a prior process and
    * persisted (e.g. the bench prep's [[graft.tools.PartIO]] block files):
    * vertex ids dense 0..n-1, geometry (numBlocks / blockSize) must match what
    * produced the parts, and the parts come in the build's layout — partition
    * b = block b's parts in partId order (see [[AdjacencySource.Restored]]).
    * Skips the build entirely. The edge frame is intentionally absent (callers
    * of degree/edge analytics need a fully built graph); the folded edge count
    * is passed in so throughput accounting still works.
    */
  def fromPrebuiltParts(
      spark: SparkSession,
      numVertices: Long,
      numBlocks: Int,
      numEdges: Long,
      dstParts: Option[RDD[AdjPart]] = None,
      gatherParts: Option[RDD[AdjPart]] = None,
      policy: ExecutionPolicy = ExecutionPolicy()
  ): LinkGraph = {
    import spark.implicits._
    require(numBlocks > 0, "fromPrebuiltParts needs the geometry the parts were built with")
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val bs = (numVertices + numBlocks - 1) / numBlocks
    val identity = spark.range(0, numVertices, 1, p).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
    new LinkGraph(spark, identity, spark.emptyDataset[Edge],
      numVertices, numBlocks, math.max(bs, 1), numEdges, AdjacencySource.Restored(dstParts, gatherParts), policy)
  }

}

/** Where a [[LinkGraph]]'s blocked adjacency comes from. */
sealed trait AdjacencySource

object AdjacencySource {
  /** The edge frame in any partitioning: routed by dst block once before the
    * per-block kernel.
    */
  case object Edges extends AdjacencySource

  /** The routed build's store, persisted: edge partition b holds exactly block
    * b's in-edges as block-laid keys sorted by (dst, src), so the kernel runs
    * on a copy of it where it lies.
    */
  final case class BlockLaid(store: LinkGraph.Store) extends AdjacencySource

  /** The resident fold's store (slices of its driver arrays, one per task) and
    * its driver copy of the folded edges (packed keys and weights, sorted by
    * key), which every driver-side consumer reads.
    */
  final case class Resident(store: LinkGraph.Store, edges: LinkGraph.Rows) extends AdjacencySource

  /** A store whose edge batches carry `(src, dst)` keys in the input's
    * partitions ([[LinkGraph.fromDenseWeighted]]): routed by dst block once
    * before the kernel, as [[Edges]] is.
    */
  final case class Keyed(store: LinkGraph.Store) extends AdjacencySource

  /** Parts restored in the build's layout (partition b = block b's parts in
    * partId order), in either orientation; they replace the kernel.
    */
  final case class Restored(dst: Option[RDD[AdjPart]], gather: Option[RDD[AdjPart]]) extends AdjacencySource
}

/** One of a store's two views ([[LinkGraph.vertexDict]] or [[LinkGraph.edges]]):
  * `rows(k, it)` of partition k of the store RDD `of`, through a one-to-one
  * dependency. It carries its store, so a graph constructed over a build's own
  * frames reads the store they view.
  */
private[graph] final class StoreView[P, T: scala.reflect.ClassTag](
    @transient val store: LinkGraph.Store, val of: RDD[P], rows: (Int, Iterator[P]) => Iterator[T])
    extends RDD[T](of) {
  override protected def getPartitions: Array[Partition] = of.partitions
  override def compute(split: Partition, ctx: TaskContext): Iterator[T] = rows(split.index, of.iterator(split, ctx))
}

/** Block b's slice of the sorted dictionary: the ascending external ids of
  * vids `[b·bs, min((b+1)·bs, n))`, cut from the sorted runs (`starts(k)` =
  * first vid of run k, `starts.last` = n) through a narrow dependency on the
  * runs that overlap the block — no exchange.
  */
private[graph] final class BlockSliceRDD(runs: RDD[Array[Long]], starts: Array[Long], bs: Long, nb: Int)
    extends RDD[Array[Long]](runs.context, Nil) {

  private def range(b: Int): (Long, Long) = {
    val lo = math.min(b * bs, starts.last)
    (lo, math.min(lo + bs, starts.last))
  }

  private def runsOf(b: Int): Seq[Int] = {
    val (lo, hi) = range(b)
    (0 until runs.getNumPartitions).filter(k => starts(k) < hi && starts(k + 1) > lo)
  }

  override protected def getDependencies: Seq[org.apache.spark.Dependency[_]] =
    Seq(new NarrowDependency(runs) { override def getParents(b: Int): Seq[Int] = runsOf(b) })

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](nb)(i => new Partition { override def index: Int = i })

  override def compute(split: Partition, ctx: TaskContext): Iterator[Array[Long]] = {
    val (lo, hi) = range(split.index)
    val out = new Array[Long]((hi - lo).toInt)
    runsOf(split.index).foreach { k =>
      val run = runs.iterator(runs.partitions(k), ctx).next()
      val from = math.max(lo, starts(k))
      val to = math.min(hi, starts(k + 1))
      System.arraycopy(run, (from - starts(k)).toInt, out, (from - lo).toInt, (to - from).toInt)
    }
    Iterator.single(out)
  }
}
