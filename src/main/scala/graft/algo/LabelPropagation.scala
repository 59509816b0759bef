package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.LinkGraph

/** Synchronous label propagation for community detection (north rule).
  *
  * Each vertex starts with its own vid as label. Every superstep, ALL vertices
  * simultaneously adopt the weighted mode of their neighbors' previous-step
  * labels (both edge directions, edge weight = duplicate multiplicity); ties
  * break to the smallest label; isolated vertices keep their label. A fixed
  * iteration budget keeps the result deterministic and exact-match testable
  * (synchronous LPA can oscillate; determinism is the contract here).
  *
  * Superstep shape (round-2 bench regression fix): the weighted mode is a
  * `max(struct(weight, −label))` aggregation — no per-vid `row_number` window
  * (which added a full sort per superstep) — and each vertex also casts a
  * weight-0 self-vote, which removes the keep-old-label left join entirely.
  * PRECONDITION of that self-vote: every surviving neighbor vote must carry
  * strictly positive weight, or a zero-weight neighbor group would tie the
  * self-vote at w=0 and the min-label tie-break could flip a vertex that the
  * keep-old-only-when-isolated semantics would have kept. Edge-fold weights
  * (duplicate multiplicities) are always ≥ 1, but `fromDenseWeighted` graphs
  * can carry zero or negative weights — so the undirected fold below drops
  * aggregate weights ≤ 0, treating such edges as absent (ties inside a
  * positive-weight label group are unaffected because the self-vote adds 0
  * to the sum). The
  * undirected edge table is hash-partitioned by `src` ONCE and cached with
  * that layout, so the per-superstep join reshuffles only the n-row label
  * frame, never the 2|E|-row edge table (at contract sizes the planner
  * broadcasts the label side and the edge cache never moves at all).
  *
  * The distributed loop pins `labels` every superstep: `labels` feeds each
  * superstep TWICE (the neighbor join and the self-vote union), so an
  * un-pinned plan tree doubles per superstep (measured 4-superstep sf0.1
  * walls: pin-every-step 6.8 s, every-3rd 11.9 s, never 18.1 s).
  */
object LabelPropagation {

  /** Returns (vid, label) after `iterations` synchronous supersteps.
    *
    * When the graph's resident operators fit its driver budget
    * ([[LinkGraph.residentOperators]]) the supersteps run on the driver over
    * the graph's symmetric CSR — the same labels as the distributed loop (vote
    * sums are exact for fold-multiplicity weights; the argmax tie-break is the
    * identical (w, smallest-label) order) without paying 3 exchanges per
    * superstep for sub-second work. A 100 TB graph takes the distributed loop,
    * whose last pinned labels stay pinned until the graph's `unpersistAll`.
    */
  def run(graph: LinkGraph, iterations: Int = 10): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    import graph.hintSmall

    if (graph.residentOperators) return residentRun(graph, iterations)

    val p = math.max(1, spark.sparkContext.defaultParallelism)
    // ONE exchange builds the undirected fold in join-key layout: the
    // repartition by src comes FIRST and hashpartitioning(src) satisfies the
    // (src, dst) aggregation's clustered-distribution requirement (subset
    // rule), so the groupBy runs in place and its output KEEPS the src layout
    // every superstep join reuses — the previous agg-then-repartition shape
    // paid a second full shuffle of the 2|E| frame (guide §2.4).
    val und = graph.edges
      .select($"src", $"dst", $"weight")
      .union(graph.edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
      .repartition(p, $"src") // join-key layout, reused by every superstep
      .groupBy($"src", $"dst")
      .agg(sum($"weight").as("weight"))
      .filter($"weight" > 0) // self-vote precondition: votes must outweigh w=0
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    // the size-gated hint keeps the planner from sort-merge-joining the n-row
    // label frame against the cached edge table (re-sorting 2|E| rows per
    // superstep)
    var (labels, freeLabels) = graft.graph.Lineage.pin(
      graph.vertexDict.select($"vid", $"vid".as("label")).toDF())

    val debug = sys.env.contains("GRAFT_DEBUG")
    var k = 0
    while (k < iterations) {
      val stepT0 = System.nanoTime()
      val votes = und
        .join(hintSmall(labels), und("src") === labels("vid"))
        .select(und("dst").as("vid"), $"label", $"weight".as("w"))
        .union(labels.select($"vid", $"label", lit(0.0).as("w")))
      val adopted = votes
        .groupBy($"vid", $"label")
        .agg(sum($"w").as("w"))
        .groupBy($"vid")
        .agg(max(struct($"w", (-$"label").as("nl"))).as("m"))
        .select($"vid", (-$"m.nl").as("label"))
      k += 1
      val (newLabels, freeNew) = graft.graph.Lineage.pin(adopted)
      freeLabels()
      labels = newLabels
      freeLabels = freeNew
      if (debug)
        System.err.println(
          f"[graft] lpa superstep=$k ${(System.nanoTime() - stepT0) / 1e9}%.2f s")
    }
    und.unpersist()
    graph.releaseOnUnpersist(freeLabels)
    labels
  }

  /** Driver-resident supersteps. Semantics mirror the distributed loop
    * exactly: the symmetric CSR sums each pair's weights over both
    * orientations, entries whose sum is ≤ 0 are absent, every vertex casts a
    * weight-0 self-vote, and the weighted mode breaks ties to the smallest
    * label. Labels are vids, so the votes add into a dense per-label array and
    * a list of the labels touched.
    */
  private def residentRun(graph: LinkGraph, iterations: Int): DataFrame = {
    val n = graph.numVertices.toInt
    val (off, und) = graph.symmetricCsr()
    var labels = Array.tabulate(n)(identity)
    var next = new Array[Int](n)
    val sums = Array.fill(n)(-1.0) // a label's vote sum; < 0 while it has no vote
    val touched = new Array[Int](n)
    var k = 0
    while (k < iterations) {
      var v = 0
      while (v < n) {
        sums(labels(v)) = 0.0 // self-vote
        touched(0) = labels(v)
        var t = 1
        var j = off(v)
        while (j < off(v + 1)) {
          if (und.w(j) > 0) {
            val l = labels(und.a(j).toInt) // the low 32 bits: the neighbour
            if (sums(l) < 0) { sums(l) = 0.0; touched(t) = l; t += 1 }
            sums(l) += und.w(j)
          }
          j += 1
        }
        var best = -1
        var bestW = -1.0
        while (t > 0) { // the mode, ties to the smallest label; resets the sums
          t -= 1
          val l = touched(t)
          if (sums(l) > bestW || (sums(l) == bestW && l < best)) { best = l; bestW = sums(l) }
          sums(l) = -1.0
        }
        next(v) = best
        v += 1
      }
      val done = labels
      labels = next
      next = done
      k += 1
    }
    graph.vertexFrame("label" -> labels.map(_.toLong))
  }
}
