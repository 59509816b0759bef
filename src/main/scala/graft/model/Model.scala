package graft.model

/** Core data model for the graft link-graph engine.
  *
  * Mirrors the reference's abstractions (see SURVEY.md §1):
  *   - edge list with duplicate-summing weights (/root/reference/pagerank.py:638-640)
  *   - compacted vertex dictionary (/root/reference/pagerank.py:622-627)
  *   - CSC-oriented sparse adjacency (/root/reference/pagerank.py:28) re-expressed as
  *     partitioned adjacency blocks grouped by destination vertex range.
  */

/** A directed edge. `weight` is the duplicate-multiplicity weight after the
  * `groupBy(src,dst).count` fold (scipy csc_matrix sums duplicate COO entries).
  */
final case class Edge(src: Long, dst: Long, weight: Double)

/** External-id ↔ dense-id dictionary row (reference: npi_to_index / index_to_npi,
  * pagerank.py:622-627). Dense vids are 0..n-1, assigned in ascending extId order
  * (matches `enumerate(np.unique(edges))`).
  */
final case class VertexMapping(extId: Long, vid: Long)

/** One part of the blocked sparse adjacency, in either orientation.
  *
  * The reference consumes its matrix column-wise: the PageRank update
  * `x = d*(G @ D @ x) + ...` (pagerank.py:194) sends, for every edge (src, dst),
  * the mass `x[dst] * w / c[dst]` to `src`, where `c[dst]` is the weighted
  * in-degree (column sum, pagerank.py:170); `wNorm = w / c[dst]` is precomputed
  * once at build time (D is iteration-invariant, pagerank.py:173-174).
  *
  * Two block orientations share this layout:
  *  - '''dst-major''' (CSC-like; distributed regime): `keys` are local dst
  *    slots, `adj` holds the srcs receiving mass — scatter form. Each part
  *    only needs the rank chunk of its own block.
  *  - '''src-major''' (CSR-like; vector-resident regime): `keys` are local src
  *    slots, `adj` holds the dsts being pulled from — gather form. With x
  *    broadcast, each task computes exactly its own output slice: no
  *    cross-task combining at all.
  *
  * A block with many edges (skew hubs) is split into multiple parts capped at
  * `maxEdgesPerPart` so no single task owns a hub's whole edge list — the
  * salting strategy required by the north rule.
  *
  * Layout: `keys(i)` is a local slot (vid - loVid) with at least one edge; its
  * edges are `adj(offsets(i) until offsets(i+1))` with matching `wNorm`
  * entries. `keys` is non-decreasing across parts of a block; `adj` sorted
  * within each slot (deterministic iteration order).
  */
final case class AdjPart(
    blockId: Int,
    partId: Int,
    keys: Array[Int],
    offsets: Array[Int],
    adj: Array[Long],
    wNorm: Array[Double]
)

/** Dense rank-vector chunk aligned with a vertex block: values(i) = x[loVid + i]. */
final case class RankChunk(blockId: Int, loVid: Long, values: Array[Double])

/** Pre-combined contribution sums scattered from one dst-block task toward
  * one src block — ONE of these per touched (dstBlockTask, srcBlock) pair
  * shuffles per superstep, never per-edge or per-vertex row objects (row
  * objects made serialization the distributed superstep's dominant cost).
  * Exactly one representation is set:
  *  - dense: full-slab array (fill > 1/2 — 8 B/slot beats 12 B/entry)
  *  - idx/vals: compacted sparse entries (local slot → partial sum)
  */
final case class BlockContrib(
    blockId: Int,
    dense: Array[Double],
    idx: Array[Int],
    vals: Array[Double]
)

/** Which normalization / teleport policy the superstep kernel applies.
  * One kernel, three config-selected policies (SURVEY.md §7.3.2):
  */
sealed trait PageRankMode
object PageRankMode {
  /** Reference main kernel (pagerank.py:189-209): uniform teleport scaled by
    * sum(x_old), renormalize x/sum(x) after each update, residual on the
    * normalized vectors.
    */
  case object ReferenceRenorm extends PageRankMode

  /** Personalized risk propagation (pagerank.py:285-305): teleport = (1-d) * r0
    * (normalized prior), NO per-iteration renormalization, d defaults 0.95.
    */
  case object RiskPropagation extends PageRankMode

  /** Power method with explicit dangling-mass redistribution
    * (original_pagerank/pagerank.py:105-144): x = p*(G@D)x + e*(z·x) with
    * z = 1/n - (p/n)·[c != 0]; renormalize only at the end.
    */
  case object MolerDangling extends PageRankMode
}

/** The byte budgets that pick every operator's regime. A structure held on the
  * driver takes the driver-resident path when its estimated size is below
  * `driverBytes`; otherwise the distributed path runs, unchanged. Each gate
  * is the one comparison `cost < driverBytes`, with these costs:
  *  - the resident fold of [[graft.graph.LinkGraph.fromEdgeList]]: 32 B per
  *    scanned row (the collected pairs and their packed, sorted remap); the
  *    same charge for the pre-folded rows of `fromFoldedEdgeList` and for
  *    each pair a < b of the repo graph's half stream, which the fold mirrors
  *  - the driver-assembled adjacency: 16 B per edge (a packed key and a
  *    weight)
  *  - the driver-local PageRank gather: 16 B per edge (the collected
  *    src-major parts)
  *  - the resident graph operators (connected components, label propagation,
  *    triangles and clustering, one predicate for all): 32 B per folded edge
  *    (the symmetric CSR, two entries of a packed key and a weight; the
  *    triangle kernel's bitset rows are taken only where they cost no more)
  *    plus 24 B per vertex (the operators' vertex arrays)
  *  - the vector-resident PageRank regime: 8 B per vertex (the rank vector)
  *  - a `ValueDist` column's driver-local build: 96 B per distinct (value,
  *    count) pair a task ships (the shipped run, its merged value and
  *    cumulative count, and its row of the CDF relation), each task and
  *    column held to an equal share, `driverBytes / (tasks × columns)`
  *  - the driver-side high-risk selection: 32 B per collected (vid, value)
  *    row over both inputs (the rows, the joined vectors and the risk
  *    distribution built from them), against the default `driverBytes`
  *  - the broadcast hint on the label frames of distributed connected
  *    components and label propagation: 16 B per vertex (two longs per row)
  * `driverBytes = 0` sends every operator down its distributed path.
  *
  * `taskBytes` bounds one task's contribution slabs in the distributed
  * superstep and its degree slabs in the degree table; past it the task
  * flushes its partial slabs to the shuffle.
  */
final case class ExecutionPolicy(
    driverBytes: Long = 64L * 1024 * 1024,
    taskBytes: Long = 256L * 1024 * 1024
)

final case class PageRankConfig(
    damping: Double = 0.85,
    tolerance: Double = 1e-8,
    maxIterations: Int = 1000,
    mode: PageRankMode = PageRankMode.ReferenceRenorm,
    /** Personalized teleport prior, a (vid, value) DataFrame; required for
      * RiskPropagation. Normalized to sum 1 internally (pagerank.py:285).
      */
    prior: Option[org.apache.spark.sql.DataFrame] = None,
    checkpointDir: Option[String] = None,
    checkpointEvery: Int = 10
)

/** Mirrors the reference result contract (pagerank.py:41-62). `iterations`
  * follows the reference's `iteration + 1` convention (pagerank.py:219).
  */
final case class PageRankRun(
    iterations: Int,
    converged: Boolean,
    finalError: Double,
    wallTimeSec: Double,
    numVertices: Long,
    numEdges: Long
)

/** Per-superstep observability row (north rule: rows, bytes shuffled, residual).
  *
  * procCpuMs/stealMs (-1 when unavailable) attribute a slow superstep from
  * inside the metrics: wall >> procCpu/cores with ~0 steal = the process
  * WAITED (scheduler, fetch, lock); wall ≈ stolen share = hypervisor took
  * the cpu; wall ≈ procCpu/cores = the step genuinely computed that long.
  * On the shared-VM bench host these three look identical from wall alone.
  */
final case class SuperstepMetrics(
    superstep: Int,
    residual: Double,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadRows: Long,
    shuffleWriteRows: Long,
    wallMs: Long,
    procCpuMs: Long = -1L,
    stealMs: Long = -1L,
    gcMs: Long = -1L,
    jitMs: Long = -1L
)

final case class ConvergenceRow(
    tolerance: Double,
    iterations: Int,
    converged: Boolean,
    finalError: Double,
    wallTimeSec: Double
)
