package graft.graph

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._

/** A fully prepared link graph: compacted ids, duplicate-folded weighted edges,
  * degree tables, and the partitioned destination-block adjacency used by the
  * superstep kernel.
  *
  * '''The build is one primitive, block-routed pipeline, with no joins.''' Block b owns
  * vids `[b·blockSize, (b+1)·blockSize)`.
  *  1. One scan caches the input pairs as per-task primitive arrays; its count
  *     picks the regime (under [[LinkGraph.ResidentFoldRows]] raw pairs are
  *     folded and remapped on the driver).
  *  1. Each task sorts and deduplicates its own endpoint ids; splitters from a
  *     sample of those arrays cut them for one exchange, and each task merges
  *     what it receives into one ascending run of the dictionary.
  *  1. Route 1 sends every pair by its `src` id to the run that holds it, which
  *     remaps `src` and sums the weights of each pair's copies (all of them
  *     land in that task), so the folded edge count is known before the block
  *     geometry.
  *  1. The runs are cut into per-block slices of external ids (narrowly), and
  *     route 2 sends every folded edge by its `dst` id to its block's slice,
  *     which remaps `dst` (a driver-resident dictionary is broadcast instead,
  *     and both ends are remapped before the one `dst` route). Rows cross every
  *     exchange as per-(map task, target) primitive batches.
  *  1. After the `dst` route, partition b holds exactly block b's in-edges:
  *     that is the [[edges]] cache, sorted by (dst, src).
  *  1. The per-block kernel ([[LinkGraph.blockParts]]) turns partition b into
  *     the dst-major parts where it lies: each vertex's in-degree is the sum
  *     over its sorted run, `wNorm = w / inDeg`, and the run is split into parts
  *     of at most [[LinkGraph.MaxEdgesPerPart]] edges. Both [[adjParts]] and
  *     [[adjPartsByBlock]] read this one result.
  *  1. The same wNorm rows cross one src-block exchange, and the same kernel
  *     (without normalizing) gives the gather parts [[gatherPartsRdd]].
  * Edges that were not laid out by this build (the resident fold, the public
  * constructor, [[LinkGraph.fromDenseWeighted]], dense-by-max) are routed by
  * dst block once before the kernel. Under [[LinkGraph.ResidentAssembleBytes]] the same kernel
  * runs on the driver over [[edgesLocal]].
  *
  * Per-task memory of the kernel is about 32 B × the edges in one block: a
  * packed (slot, vid) long and a weight per edge, plus the parts it emits.
  * Route 1's fold holds about 44 B × the raw pairs of one run: the received
  * pairs and the counting sort by `src`.
  * Packing needs vids below 2³² and blocks below 2³¹ slots (required).
  *
  * @param vertexDict  (extId, vid) dictionary; vid dense 0..n-1 ascending by extId
  *                    (reference: `enumerate(np.unique(edges))`, pagerank.py:622-627)
  * @param edges       folded edges in vid space; weight = duplicate multiplicity
  *                    (csc_matrix duplicate-summing, pagerank.py:638-640)
  * @param inDegrees   (vid, cIn)  weighted in-degree  = column sums, pagerank.py:170
  * @param outDegrees  (vid, cOut) weighted out-degree = row sums,    pagerank.py:445
  */
final class LinkGraph(
    val spark: SparkSession,
    val vertexDict: Dataset[VertexMapping],
    val edges: Dataset[Edge],
    val numVertices: Long,
    val numBlocks: Int,
    val blockSize: Long,
    private[graft] val knownNumEdges: Long = -1L,
    /** partition b of the [[edges]] cache holds exactly block b's in-edges */
    private[graft] val edgesByDstBlock: Boolean = false
) extends Serializable {
  import spark.implicits._

  /** The dictionary's own slice count, fixed when the dictionary was built
    * (every builder sets it explicitly), not the session's parallelism now:
    * the resident degree table lays its rows out in the same slices.
    */
  private lazy val dictSlices: Int = vertexDict.rdd.getNumPartitions

  // the kernel packs (slot, vid) into one long; refuse rather than mis-sort
  require(numVertices <= (1L << 32) && blockSize <= Int.MaxValue.toLong,
    s"block adjacency packs (slot, vid) into one long: needs numVertices ≤ 2^32 and " +
      s"blockSize < 2^31, got numVertices=$numVertices blockSize=$blockSize")

  /** Bench/restore hooks: a pre-assembled blocked adjacency (e.g. read back
    * from parquet written by a prior process) replaces the fold+sort+assemble
    * build inside [[adjPartsByBlock]] / [[gatherPartsRdd]]. The injected rows
    * must be the SAME AdjPart layout this graph's (numBlocks, blockSize)
    * would produce — [[LinkGraph.fromPrebuiltParts]] is the entry point.
    */
  @volatile private[graft] var prebuiltDstParts: Option[RDD[AdjPart]] = None
  @volatile private[graft] var prebuiltGatherParts: Option[RDD[AdjPart]] = None

  /** Stronger prebuilt hooks: parts that are ALREADY in the build's layout —
    * partition b = block b's parts in (blockId, partId) assembler order, with
    * [[blockPartitioner]]-compatible partitioning for the keyed variant.
    * Skips the restore's partitionBy + sort entirely (the parquet path
    * shuffled every adjacency byte once per leg); the supplier guarantees the
    * layout (see graft.tools.PartIO.readLaidOut).
    */
  @volatile private[graft] var prebuiltDstPartsLaidOut: Option[RDD[(Int, AdjPart)]] = None
  @volatile private[graft] var prebuiltGatherPartsLaidOut: Option[RDD[AdjPart]] = None

  lazy val numEdges: Long = if (knownNumEdges >= 0) knownNumEdges else edges.count()

  /** Folded edges collected ONCE for every driver-resident consumer (CC, LPA,
    * triangle counting, the resident parts assembler) — they each used to pay
    * their own collect of the same cached frame. Lazy: only consumers below
    * their own size gates touch it.
    */
  @volatile private[graft] var edgesLocalPre: Option[Array[Edge]] = None
  lazy val edgesLocal: Array[Edge] = edgesLocalPre.getOrElse(edges.collect())

  /** Broadcasts this graph's caches read; destroyed by [[unpersistAll]]. */
  @transient private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]

  private def track[T](b: Broadcast[T]): Broadcast[T] = { broadcasts += b; b }

  /** True when the blocked adjacency can be ASSEMBLED on the driver: no
    * prebuilt injection, adjacency bytes under the gate, vids in Int range.
    * The driver runs the same per-block kernel as the cluster build, so the
    * parts are bit-identical.
    */
  private def residentAssembleOk: Boolean =
    prebuiltDstParts.isEmpty && prebuiltGatherParts.isEmpty &&
      prebuiltDstPartsLaidOut.isEmpty && prebuiltGatherPartsLaidOut.isEmpty &&
      numVertices <= Int.MaxValue.toLong &&
      numEdges * 16 < LinkGraph.ResidentAssembleBytes

  /** Dst-major parts assembled on the driver: [[edgesLocal]] bucketed by dst
    * block, each block through [[LinkGraph.blockParts]]. Block order, partId
    * order within a block — the cluster layout's partition order.
    */
  @transient private lazy val dstAssembled: Option[Array[AdjPart]] =
    if (!residentAssembleOk) None
    else {
      val rows = new Array[LinkGraph.Rows](numBlocks)
      edgesLocal.foreach(e => LinkGraph.addByDst(rows, blockSize, e.src, e.dst, e.weight))
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

  /** Restore the build's layout for parts read back in arbitrary order:
    * partition b = block b's parts in (blockId, partId) order (parquet splits
    * neither partition nor order them). The order fixes the scatter-add
    * summation order, so ranks match a directly-built graph.
    */
  private def restoreLayout(parts: RDD[AdjPart]): RDD[AdjPart] =
    parts
      .map(p => (p.blockId, p))
      .partitionBy(blockPartitioner)
      .mapPartitions(it => it.map(_._2).toArray.sortBy(_.partId).iterator)

  /** Weighted in-degree c[j] (the kernel's normalizer). Vertices absent here have
    * c = 0 and contribute nothing — the reference's zero-guard `where(c!=0,c,1)`
    * (pagerank.py:173-174) exists only to avoid a 0-division on all-zero columns.
    */
  @volatile private var inDegreesBuilt = false
  lazy val inDegrees: DataFrame = {
    val d = edges.groupBy($"dst".as("vid")).agg(sum($"weight").as("deg"))
    d.persist(StorageLevel.MEMORY_AND_DISK); d.count(); inDegreesBuilt = true; d
  }

  lazy val outDegrees: DataFrame =
    edges.groupBy($"src".as("vid")).agg(sum($"weight").as("deg"))

  /** Full per-vertex degree table (zero-filled). Columns: vid, inDeg, outDeg.
    *
    * Driver-resident regime: when the edge set fits the assemble gate AND
    * every weight is a (magnitude-bounded) integer, the degree sums are exact
    * in any order, so one driver pass over [[edgesLocal]] replaces the
    * two-broadcast-join build. Rows are emitted vid-ascending in the SAME
    * even slices the dictionary was built with (captured on the graph) — the
    * identical partition layout the join build produced (broadcast joins
    * preserve the streamed dict's rows) — so even downstream DOUBLE
    * aggregations (e.g. the imbalance-ratio mean) see the identical
    * per-partition sequences. Fractional weights take the join path: their
    * sums are order-sensitive.
    */
  @volatile private var degreeTableBuilt = false
  lazy val degreeTable: DataFrame = {
    val t =
      if (residentDegreesOk) residentDegreeTable()
      else
        vertexDict
          .join(inDegrees.withColumnRenamed("deg", "inDeg"), Seq("vid"), "left")
          .join(
            outDegrees.withColumnRenamed("deg", "outDeg").withColumnRenamed("vid", "vid"),
            Seq("vid"),
            "left")
          .select(
            $"vid",
            $"extId",
            coalesce($"inDeg", lit(0.0)).as("inDeg"),
            coalesce($"outDeg", lit(0.0)).as("outDeg"))
    t.persist(StorageLevel.MEMORY_AND_DISK)
    degreeTableBuilt = true
    t
  }

  private def residentDegreesOk: Boolean =
    numVertices <= Int.MaxValue.toLong &&
      numEdges * 16 < LinkGraph.ResidentAssembleBytes &&
      numEdges <= (1L << 21) && // with |w| ≤ 2³¹: Σ|w| ≤ 2⁵² — exact in double
      edgesLocal.forall(e =>
        e.weight == math.rint(e.weight) && math.abs(e.weight) <= (1L << 31).toDouble)

  private def residentDegreeTable(): DataFrame = {
    val n = numVertices.toInt
    val inD = new Array[Double](n)
    val outD = new Array[Double](n)
    edgesLocal.foreach { e =>
      inD(e.dst.toInt) += e.weight
      outD(e.src.toInt) += e.weight
    }
    val ext = new Array[Long](n)
    vertexDict.collect().foreach(m => ext(m.vid.toInt) = m.extId)
    val rows = new Array[(Long, Long, Double, Double)](n)
    var i = 0
    while (i < n) { rows(i) = (i.toLong, ext(i), inD(i), outD(i)); i += 1 }
    spark
      .createDataset(spark.sparkContext.parallelize(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(rows), dictSlices))
      .toDF("vid", "extId", "inDeg", "outDeg")
  }

  /** The cluster build of the dst-major parts: block-laid edges go straight
    * through the per-block kernel; any other edge frame is routed by dst block
    * once first. Partition b = block b's parts in partId order.
    */
  private def buildDstLayout(): RDD[AdjPart] = {
    val bs = blockSize
    val nb = numBlocks
    val rows = edges.select($"src", $"dst", $"weight".cast("double")).queryExecution.toRdd
    val byBlock: RDD[(Int, LinkGraph.Rows)] =
      if (edgesByDstBlock) {
        require(rows.getNumPartitions == nb,
          s"block-laid edges need $nb partitions, found ${rows.getNumPartitions}")
        rows.mapPartitionsWithIndex { (b, it) =>
          val out = new Array[LinkGraph.Rows](nb)
          it.foreach { r =>
            val dst = r.getLong(1)
            if (dst / bs != b)
              throw new IllegalStateException(s"edge to vid $dst found in partition $b of the block-laid edges")
            LinkGraph.addByDst(out, bs, r.getLong(0), dst, r.getDouble(2))
          }
          Option(out(b)).iterator.map(r => (b, r))
        }
      } else
        rows
          .mapPartitions { it =>
            val out = new Array[LinkGraph.Rows](nb)
            it.foreach(r => LinkGraph.addByDst(out, bs, r.getLong(0), r.getLong(1), r.getDouble(2)))
            LinkGraph.batches(out)
          }
          .partitionBy(blockPartitioner)
    LinkGraph.kernel(byBlock, normalize = true)
  }

  /** Dst-major parts, one result for every consumer: partition b = block b's
    * parts in partId order, cached deserialized.
    */
  @volatile private var dstLayoutBuilt = false
  private lazy val dstLayout: RDD[AdjPart] = {
    val rdd = prebuiltDstPartsLaidOut.map(_.values)
      .orElse(prebuiltDstParts.map(restoreLayout))
      .orElse(dstAssembled.map(laidOutRdd))
      .getOrElse(buildDstLayout())
      .persist(StorageLevel.MEMORY_AND_DISK)
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
    * superstep. (Round-1 regression: joining the cached `adjParts` Dataset per
    * superstep erased its partitioning through MapPartitions and the planner
    * broadcast / sort-merged the whole adjacency every iteration.)
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
    val base = prebuiltGatherPartsLaidOut
      .orElse(prebuiltGatherParts.map(restoreLayout))
      .orElse(gatherAssembled.map(laidOutRdd))
      .getOrElse {
        val bs = blockSize
        val nb = numBlocks
        LinkGraph.kernel(
          dstLayout
            .mapPartitions(parts => LinkGraph.batches(LinkGraph.rowsBySrc(parts, bs, nb)))
            .partitionBy(blockPartitioner),
          normalize = false)
      }
    val rdd = base.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    gatherPartsBuilt = true
    rdd
  }

  /** Src-major parts COLLECTED to the driver once (the driver-local kernel's
    * input, gated by PageRankEngine.LocalGatherBytes): collect order equals
    * [[gatherPartsRdd]]'s partition order, so a driver loop that accumulates
    * per-part slices in array order reproduces the cluster path's gx sums
    * bit-for-bit. The parts carry the SAME wNorm values the distributed
    * pipeline computed — only the per-superstep execution moves.
    */
  lazy val gatherPartsLocal: Array[AdjPart] =
    gatherAssembled.getOrElse(gatherPartsRdd.collect())

  def blockOf(vid: Long): Int = (vid / blockSize).toInt

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
    * get `default`.
    */
  def chunksOf(vec: DataFrame, default: Double = 0.0): Dataset[RankChunk] = {
    val n = numVertices
    val bs = blockSize
    val nb = numBlocks
    // ONE shuffle: rows route straight to their block's partition (the
    // HashPartitioner is the identity on blockIds 0..nb-1) and each partition
    // fills its dense chunk directly — empty partitions still emit a default
    // chunk, so no second union+reduce pass over the chunk arrays is needed
    // (the previous groupByKey → union(defaults) → reduceGroups shape paid a
    // second O(n)-byte shuffle and a merge pass per call; this is the fused
    // outer-join flagged in the round-5 review). Values are identical: a slot
    // is `v` when (vid, v) exists, `default` otherwise — the old merge
    // computed v + default − default.
    val rdd = vec
      .select($"vid".cast("long"), $"value".cast("double"))
      .as[(Long, Double)]
      .rdd
      .map { case (vid, v) => ((vid / bs).toInt, (vid, v)) }
      .partitionBy(blockPartitioner)
      .mapPartitionsWithIndex { (blockId, it) =>
        val lo = blockId.toLong * bs
        val len = math.min(bs, n - lo).toInt
        val arr = Array.fill(len)(default)
        it.foreach { case (_, (vid, v)) => arr((vid - lo).toInt) = v }
        Iterator.single(RankChunk(blockId, lo, arr))
      }
    spark.createDataset(rdd)
  }

  /** Explode chunks back to a (vid, value) DataFrame. */
  def chunksToVertexDf(chunks: Dataset[RankChunk]): DataFrame =
    chunks
      .flatMap { c => c.values.iterator.zipWithIndex.map { case (v, i) => (c.loVid + i, v) } }
      .toDF("vid", "value")

  /** Edges of the induced subgraph on an arbitrary vertex subset — a
    * left-semi join on each endpoint, so the (potentially huge) edge table
    * streams once against the membership set and no edge payload is joined
    * in (reference: boolean row/col masking, visualizations.py:110).
    */
  def inducedSubgraphEdges(vids: DataFrame): Dataset[Edge] = {
    val members = vids.select($"vid".cast("long").as("__m"))
    edges
      .join(members, $"src" === $"__m", "left_semi")
      .join(members, $"dst" === $"__m", "left_semi")
      .as[Edge]
  }

  /** Induced prefix subgraph G[:k,:k] in dense vid space — all k vertices
    * kept, isolated ones included, exactly the reference's dense slice
    * (original_pagerank/pagerank.py:185). Because vids are assigned ascending
    * by extId, the prefix is equivalently "the k smallest external ids".
    */
  def inducedPrefix(k: Long): LinkGraph = {
    val kk = math.min(k, numVertices)
    LinkGraph.fromDenseWeighted(spark, edges.filter($"src" < kk && $"dst" < kk), kk)
  }

  /** Release every cache and broadcast this graph MATERIALIZED. Each lazy
    * layout checks its built flag first — unconditionally touching the lazy
    * vals used to FORCE a full build of layouts the caller never used (e.g. a
    * resident-regime run paid for the dst-major columnar build inside its own
    * teardown).
    */
  def unpersistAll(): Unit = {
    if (dstLayoutBuilt) dstLayout.unpersist(false)
    if (gatherPartsBuilt) gatherPartsRdd.unpersist(false)
    if (inDegreesBuilt) inDegrees.unpersist()
    if (degreeTableBuilt) degreeTable.unpersist()
    edges.unpersist()
    vertexDict.unpersist()
    broadcasts.foreach(_.destroy())
    broadcasts.clear()
  }
}

object LinkGraph {
  /** Cap on edges per adjacency part — bounds single-task work under skew. */
  val MaxEdgesPerPart: Int = 2 << 20

  /** Below this bound on the folded edge frame (~24 B/row) the vertex
    * dictionary of [[fromFoldedEdgeList]] is built DRIVER-RESIDENT from one
    * partial-aggregated distinct job and broadcast for the remap (same
    * two-regime pattern as PageRankEngine.BroadcastThresholdBytes); the
    * 100 TB path keeps the two-phase global-sort dictionary and remaps through
    * its block slices. Mutable test hook — set 0 to force the distributed build.
    */
  var ResidentBuildBytes: Long = 96L * 1024 * 1024

  /** Below this bound on the folded edge set (~16 B/edge) the blocked
    * adjacency is assembled ON THE DRIVER by the same per-block kernel
    * (bit-identical parts) instead of paying the cluster build's jobs.
    * Mutable test hook — 0 forces the cluster build.
    */
  var ResidentAssembleBytes: Long = 64L * 1024 * 1024

  /** Cap on the raw pairs [[fromEdgeList]] folds on the driver: the build's
    * one scan counts the pairs, and at or under the cap its primitive arrays
    * (~16 B/pair, so ~32 MB at the default) are collected and folded there.
    * Above it the same cached scan feeds the distributed build. Mutable test
    * hook — 0 sends every non-empty input to the distributed build.
    */
  var ResidentFoldRows: Long = 2L * 1024 * 1024

  /** Growable primitive edge rows, and the batch one map task ships to one
    * block or dictionary run. Packed rows carry `(local slot << 32) | vid` in
    * `a` and leave `b` null; triple rows carry two ids in `a` and `b`. Unweighted
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
    def trimmed: Rows = {
      if (a.length != n) {
        a = java.util.Arrays.copyOf(a, n)
        if (b != null) b = java.util.Arrays.copyOf(b, n)
        if (w != null) w = java.util.Arrays.copyOf(w, n)
      }
      this
    }
  }

  /** Appends rows `more` to `acc` (null = none yet); returns the accumulator. */
  private def append(acc: Rows, more: Rows): Rows =
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
    * in place; an already-sorted block (the build's own edge cache) skips the
    * sort.
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

  /** Auto block count: superstep work is EDGE-dominated, so sizing blocks by
    * vertex count alone starved small-but-dense graphs (the 2000-repo
    * shared-pattern graph has 2.1M folded edges — n/1024 gave it ONE block,
    * i.e. serial supersteps on 32 cores). Blocks now also scale with the
    * folded edge count (cheap: the build holds the folded frame cached),
    * capped at 2× parallelism; at cluster scale this is the knob that keeps
    * per-task gather work bounded regardless of the vertex/edge ratio.
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
    * vid = extId, no remap at all).
    */
  def fromEdgeList(
      spark: SparkSession,
      rawEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted
  ): LinkGraph = {
    import spark.implicits._
    val pairs = rawEdges.select($"src".cast("long"), $"dst".cast("long"))
    idMode match {
      case IdMode.DenseByMax =>
        fromFoldedEdgeList(spark,
          pairs.groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("weight")), numBlocks, idMode)
      case IdMode.Compacted =>
        // the one pass over the input: every later step reads this cache, and
        // its count picks the regime
        val scan = scanOf(pairs.queryExecution.toRdd, weighted = false)
        try {
          val total = scan.map(_.n.toLong).fold(0L)(_ + _)
          if (total <= math.min(ResidentFoldRows, Int.MaxValue / 2 - 8))
            residentFromPairs(spark, scan.collect(), numBlocks)
          else routedGraph(spark, scan, numBlocks)
        } finally scan.unpersist(false)
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

  /** Driver fold + dictionary + remap of the collected raw pairs —
    * value-identical to the distributed build: vids are the ascending sort
    * rank of the distinct external ids, fold weights are duplicate counts
    * (exact integers, order-insensitive), and the remapped edges are
    * parallelized back in (src, dst) vid order.
    */
  private def residentFromPairs(spark: SparkSession, chunks: Array[Rows], numBlocks: Int): LinkGraph = {
    import spark.implicits._
    val total = chunks.map(_.n).sum
    val ids = sortedDistinct(Array.concat(chunks.flatMap(c => Seq(c.a, c.b)).toSeq: _*))
    val n = ids.length
    // remapped (src, dst) vid pairs packed into one long (vids dense < 2³¹):
    // sorted, every copy of a pair is adjacent, and the run length is its weight
    val packed = new Array[Long](total)
    var k = 0
    chunks.foreach { c =>
      var i = 0
      while (i < c.n) { packed(k) = (vidIn(ids, c.a(i), 0L) << 32) | vidIn(ids, c.b(i), 0L); k += 1; i += 1 }
    }
    java.util.Arrays.sort(packed)
    val folded = scala.collection.mutable.ArrayBuffer.empty[Edge]
    var i = 0
    while (i < total) {
      var j = i + 1
      while (j < total && packed(j) == packed(i)) j += 1
      folded += Edge(packed(i) >>> 32, packed(i) & 0xffffffffL, (j - i).toDouble)
      i = j
    }
    val remapped = folded.toArray
    val m = remapped.length
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val dict = spark.createDataset(spark.sparkContext.parallelize(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(Array.tabulate(n)(v => VertexMapping(ids(v), v.toLong))), p))
    dict.persist(StorageLevel.MEMORY_AND_DISK)
    dict.count()
    val edges = spark.createDataset(spark.sparkContext.parallelize(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(remapped), p))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val (blocks, bs) = geometry(spark, n, m, numBlocks)
    val g = new LinkGraph(spark, dict, edges, n, blocks, bs, m)
    g.edgesLocalPre = Some(remapped) // the resident consumers' copy, no collect
    g
  }

  /** [[fromEdgeList]] for a caller that already folded duplicates into
    * (src, dst, weight) — e.g. a symmetric pair generator that folds each
    * unordered pair once and mirrors it, halving the fold shuffle (see
    * [[graft.sources.RepoFiles.linkGraph]]). The weight column must carry
    * the duplicate multiplicities the internal fold would have produced.
    */
  def fromFoldedEdgeList(
      spark: SparkSession,
      foldedEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted
  ): LinkGraph = {
    import spark.implicits._

    // The folded frame is consumed several times during the build (the
    // dictionary reads src and dst incidence; the remap reads it again) —
    // without this scoped cache, every consumer re-executed the ENTIRE
    // upstream plan (e.g. the orders⋈lineitem fold, or the repo-token
    // self-join) 2-3×. Released in the finally once the graph's own edge
    // cache is materialized.
    val folded = foldedEdges
      .select($"src".cast("long"), $"dst".cast("long"), $"weight".cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try idMode match {
      case IdMode.DenseByMax =>
        val bounds = folded
          .agg(max(greatest($"src", $"dst")).as("mx"), min(least($"src", $"dst")).as("mn"))
          .first()
        require(!bounds.isNullAt(0), "dense-by-max graph needs at least one edge")
        require(bounds.getLong(1) >= 0L, "dense-by-max ids must be non-negative")
        val n = bounds.getLong(0) + 1
        val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, n, folded.count())
        val g = fromDenseWeighted(spark, folded.as[Edge], n, blocks)
        g.numEdges // materialize the graph's edge cache through `folded`
        g

      case IdMode.Compacted =>
        val foldedCount = folded.count() // materializes the scoped cache once
        val sc = spark.sparkContext
        // (src, dst, weight) rows of the cached frame, in the select's column order
        val rows = folded.select($"src", $"dst", $"weight").queryExecution.toRdd
        if (foldedCount * 24 < ResidentBuildBytes) {
          // Driver-resident dictionary (guide §1.2 step 1: remove passes):
          // one partial-aggregated distinct job collects the ≤ 2·|E| ids
          // (the exchange carries only per-partition-distinct rows, never
          // the 2|E| incidence frame), the sort rank is assigned on the
          // driver, and the n-row dictionary is parallelized back. The sorted
          // ids are broadcast, so both ends are remapped map-side and the dst
          // route is the only exchange.
          val ids = folded.select($"src").union(folded.select($"dst")).distinct().as[Long].collect()
          java.util.Arrays.sort(ids)
          val p = math.max(1, sc.defaultParallelism)
          val dict = spark.createDataset(sc.parallelize(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(
              Array.tabulate(ids.length)(i => VertexMapping(ids(i), i.toLong))), p))
          val (blocks, bs) = geometry(spark, ids.length, foldedCount, numBlocks)
          val bIds = sc.broadcast(ids)
          val byDst = rows
            .mapPartitions { it =>
              val sorted = bIds.value
              val out = new Array[Rows](blocks)
              it.foreach { r =>
                addByDst(out, bs, vidIn(sorted, r.getLong(0), 0L), vidIn(sorted, r.getLong(1), 0L), r.getDouble(2))
              }
              batches(out)
            }
            .partitionBy(new org.apache.spark.HashPartitioner(blocks))
            .mapPartitions(it => Iterator.single(merged(it)))
          blockLaidGraph(spark, dict, ids.length, foldedCount, blocks, bs, byDst, Some(bIds))
        } else {
          // the distributed build over a primitive scan of the cached frame
          // (pre-folded rows: route 1's fold finds no copies to sum)
          val scan = scanOf(rows, weighted = true)
          try routedGraph(spark, scan, numBlocks) finally scan.unpersist(false)
        }
    } finally folded.unpersist(false)
  }

  /** Samples per map task for the dictionary's splitters, per run. */
  private val SamplesPerRun = 64

  /** The distributed Compacted build over a cached `scan` of (src, dst[, w])
    * rows in external ids: the dictionary's sorted runs from one exchange of
    * per-task distinct ids, route 1 (remap `src`, fold) to the runs, route 2
    * (remap `dst`) to the block slices cut from them. Every intermediate cache
    * is released once the graph's dictionary and edge cache are built.
    */
  private def routedGraph(spark: SparkSession, scan: RDD[Rows], numBlocks: Int): LinkGraph = {
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
            var i = 0
            while (i < c.n) {
              val k = runOf(splitters, c.a(i))
              if (out(k) == null) out(k) = new Rows(packed = false, c.w != null)
              out(k).add(c, i)
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
      val byDst = bySrc
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
          val out = new Rows(packed = true)
          it.foreach { case (b, t) =>
            val lo = b * bs
            var i = 0
            while (i < t.n) {
              out.add(((vidIn(slice, t.b(i), lo) - lo) << 32) | t.a(i), t.w(i))
              i += 1
            }
          }
          Iterator.single(out)
        }
      blockLaidGraph(spark, dictionaryOf(spark, runs, starts), n, m, blocks, bs, byDst, None)
    } finally held.foreach(_.unpersist(false))
  }

  /** The ascending distinct values of `xs`, which it sorts in place. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
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

  /** Persists the dictionary and the block-laid edge cache `byDst` feeds
    * (partition b: block b's packed (dst slot, src vid) rows, or null), and
    * wraps the graph around them. Materializes both while the caller's scoped
    * caches are still held.
    */
  private def blockLaidGraph(
      spark: SparkSession,
      dict: Dataset[VertexMapping],
      n: Long,
      m: Long,
      blocks: Int,
      bs: Long,
      byDst: RDD[Rows],
      remapIds: Option[Broadcast[Array[Long]]]
  ): LinkGraph = {
    import spark.implicits._
    dict.persist(StorageLevel.MEMORY_AND_DISK)
    dict.count()
    val edges = spark.createDataset(byDst.mapPartitionsWithIndex { (b, it) =>
      val rows = it.next()
      if (rows == null) Iterator.empty
      else {
        val ks = rows.a
        dualSort(ks, rows.w, 0, rows.n - 1) // (dst, src): the kernel's order
        val lo = b * bs
        Iterator.range(0, rows.n).map(i => Edge(ks(i) & 0xffffffffL, lo + (ks(i) >>> 32), rows.w(i)))
      }
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val g = new LinkGraph(spark, dict, edges, n, blocks, bs, m, edgesByDstBlock = true)
    remapIds.foreach(g.track) // the edge cache's lineage reads it
    edges.count()
    g
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
    */
  def fromDenseWeighted(
      spark: SparkSession,
      edges: Dataset[Edge],
      numVertices: Long,
      numBlocks: Int = 0
  ): LinkGraph = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val positive = edges.filter(col("weight") > 0) // column filter: stays codegen'd
      .persist(StorageLevel.MEMORY_AND_DISK)
    // auto path routes through the same edge-aware autoBlocks as fromEdgeList:
    // the old vertex-only n/1024 fallback gave a small-but-dense graph (e.g. a
    // dense induced prefix subgraph) ONE block = serial supersteps. The count
    // materializes the persisted edge cache `numEdges` would count anyway —
    // and is passed through so numEdges never re-counts.
    val cnt = if (numBlocks > 0) -1L else positive.count()
    val (blocks, bs) = geometry(spark, numVertices, cnt, numBlocks)
    new LinkGraph(spark, identityDict(spark, numVertices, p), positive, numVertices, blocks, bs, cnt)
  }

  /** The identity dictionary of a dense vid space, in `p` explicit slices. */
  private def identityDict(spark: SparkSession, n: Long, p: Int): Dataset[VertexMapping] = {
    import spark.implicits._
    spark.range(0, n, 1, p).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
  }

  /** Graph whose blocked adjacency was PRE-ASSEMBLED by a prior process and
    * persisted (e.g. Dataset[AdjPart] parquet written by the bench prep, or a
    * checkpoint restore): vertex ids dense 0..n-1, geometry (numBlocks /
    * blockSize) must match what produced the parts. Skips the build
    * entirely — the injected rows only pay the one co-location shuffle of the
    * layout restore. The edge frame is intentionally absent (callers of
    * degree/edge analytics need a fully built graph); the folded edge count is
    * passed in so throughput accounting still works.
    */
  def fromPrebuiltParts(
      spark: SparkSession,
      numVertices: Long,
      numBlocks: Int,
      numEdges: Long,
      dstParts: Option[Dataset[AdjPart]] = None,
      gatherParts: Option[Dataset[AdjPart]] = None
  ): LinkGraph = {
    import spark.implicits._
    require(numBlocks > 0, "fromPrebuiltParts needs the geometry the parts were built with")
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val bs = (numVertices + numBlocks - 1) / numBlocks
    val g = new LinkGraph(spark, identityDict(spark, numVertices, p), spark.emptyDataset[Edge],
      numVertices, numBlocks, math.max(bs, 1), numEdges)
    g.prebuiltDstParts = dstParts.map(_.rdd)
    g.prebuiltGatherParts = gatherParts.map(_.rdd)
    g
  }

  /** (extId, vid) rows of the sorted runs, in the runs' partitions. */
  private def dictionaryOf(spark: SparkSession, runs: RDD[Array[Long]], starts: Array[Long]): Dataset[VertexMapping] = {
    import spark.implicits._
    spark.createDataset(runs.mapPartitionsWithIndex { (k, it) =>
      it.flatMap(run => Iterator.range(0, run.length).map(i => VertexMapping(run(i), starts(k) + i)))
    })
  }
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
