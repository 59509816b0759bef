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
  * `pinEvery = 1` (measured fastest, default): `labels` feeds each superstep
  * TWICE — the neighbor join and the self-vote union — so an un-pinned plan
  * tree DOUBLES per superstep (2^k leaves by superstep k; measured 4-superstep
  * sf0.1 walls: pin-every-step 6.8 s, every-3rd 11.9 s, never 18.1 s).
  * Pinning each superstep keeps the plan flat for the cost of one
  * materialization that the next superstep needs anyway.
  */
object LabelPropagation {

  /** Returns (vid, label) after `iterations` synchronous supersteps.
    *
    * Under the graph policy's driver budget (≤ 2|E| undirected entries at
    * 24 B each) the supersteps run DRIVER-RESIDENT: one collect of the cached
    * folded edges, a local undirected fold, and k array/hash passes — the
    * same labels as the distributed loop (vote sums are commutative per pair
    * and exact for fold-multiplicity weights; the argmax tie-break is the
    * identical (w, smallest-label) order) without paying 3 exchanges per
    * superstep for sub-second work. A 100 TB graph takes the distributed loop.
    */
  def run(graph: LinkGraph, iterations: Int = 10, pinEvery: Int = 1): DataFrame = {
    val spark = graph.spark
    import spark.implicits._

    if (graph.numEdges * 48 < graph.policy.driverBytes && graph.numVertices <= Int.MaxValue.toLong)
      return residentRun(graph, iterations)

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

    // pinned frames report default (huge) stats, so without the hint the
    // planner sort-merge-joins the n-row label frame against the cached edge
    // table — re-sorting 2|E| rows per superstep. Broadcast only below the
    // graph policy's driver budget; at cluster scale the shuffle join is the
    // right shape.
    val hintSmall: DataFrame => DataFrame =
      if (graph.numVertices * 16 < graph.policy.driverBytes) broadcast(_) else identity

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
      if (k % pinEvery == 0 || k == iterations) {
        val (newLabels, freeNew) = graft.graph.Lineage.pin(adopted)
        freeLabels()
        labels = newLabels
        freeLabels = freeNew
      } else {
        labels = adopted
      }
      if (debug)
        System.err.println(
          f"[graft] lpa superstep=$k ${(System.nanoTime() - stepT0) / 1e9}%.2f s")
    }
    und.unpersist()
    labels
  }

  /** Driver-resident supersteps. Semantics mirror the distributed loop
    * exactly: undirected fold with per-pair weight sums (commutative — at
    * most two directed contributions per pair), aggregate weights ≤ 0
    * dropped, a weight-0 self-vote per vertex, and the weighted mode with
    * ties to the smallest label.
    */
  private def residentRun(graph: LinkGraph, iterations: Int): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val n = graph.numVertices.toInt

    // local undirected fold of the collected folded edges
    val raw = graph.edgesLocal
    val undMap = new java.util.HashMap[Long, java.lang.Double]()
    raw.foreach { e =>
      val k1 = e.src * graph.numVertices + e.dst
      val k2 = e.dst * graph.numVertices + e.src
      undMap.merge(k1, e.weight, (a, b) => a + b)
      undMap.merge(k2, e.weight, (a, b) => a + b)
      ()
    }
    // CSR keyed by the receiving vertex (votes flow src-label -> dst)
    val kept = new Array[Long](undMap.size())
    val keptW = new Array[Double](undMap.size())
    var m = 0
    val entries = undMap.entrySet().iterator()
    while (entries.hasNext) {
      val ent = entries.next()
      val w = ent.getValue.doubleValue()
      if (w > 0) { kept(m) = ent.getKey.longValue(); keptW(m) = w; m += 1 }
    }
    val deg = new Array[Int](n + 1)
    var i = 0
    while (i < m) { deg(((kept(i) / graph.numVertices)).toInt + 1) += 1; i += 1 }
    i = 0
    while (i < n) { deg(i + 1) += deg(i); i += 1 }
    val srcArr = new Array[Int](m)
    val wArr = new Array[Double](m)
    val fill = java.util.Arrays.copyOf(deg, n)
    i = 0
    while (i < m) {
      val dst = (kept(i) / graph.numVertices).toInt
      val src = (kept(i) % graph.numVertices).toInt
      val p = fill(dst)
      srcArr(p) = src
      wArr(p) = keptW(i)
      fill(dst) = p + 1
      i += 1
    }

    var labels = new Array[Long](n)
    i = 0
    while (i < n) { labels(i) = i.toLong; i += 1 }
    val sums = new java.util.HashMap[Long, java.lang.Double]()
    var k = 0
    while (k < iterations) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        sums.clear()
        sums.put(labels(v), 0.0) // self-vote
        var j = deg(v)
        val end = deg(v + 1)
        while (j < end) {
          sums.merge(labels(srcArr(j)), wArr(j), (a, b) => a + b)
          j += 1
        }
        var bestW = Double.NegativeInfinity
        var bestL = Long.MaxValue
        val it = sums.entrySet().iterator()
        while (it.hasNext) {
          val ent = it.next()
          val w = ent.getValue.doubleValue()
          val l = ent.getKey.longValue()
          if (w > bestW || (w == bestW && l < bestL)) { bestW = w; bestL = l }
        }
        next(v) = bestL
        v += 1
      }
      labels = next
      k += 1
    }

    val b = spark.sparkContext.broadcast(labels)
    val out = spark
      .range(n.toLong)
      .as[Long]
      .mapPartitions { it =>
        val l = b.value
        it.map(v => (v, l(v.toInt)))
      }
      .toDF("vid", "label")
    val (pinned, _) = graft.graph.Lineage.pin(out)
    b.destroy()
    pinned
  }
}
