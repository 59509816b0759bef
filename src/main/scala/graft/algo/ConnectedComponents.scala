package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.{LinkGraph, Lineage}

/** Connected components by alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  * over the underlying undirected graph. Final labels are canonical: the min
  * vid of the component — the same fixpoint as naive min-label propagation
  * (north rule), reached in O(log n) rounds instead of O(diameter) supersteps.
  * At web-graph diameters (hundreds) that is the difference between ~5 and
  * ~hundreds of shuffle rounds, which is why the naive hash-min loop this
  * replaces could not carry a 100× scale-up.
  *
  *  - large-star(u): ∀v ∈ Γ(u) with v > u, emit (v, m) where m = min(Γ⁺(u))
  *  - small-star(u): over edges oriented high→low, emit (v, m) for
  *    v ∈ Γ≤(u) ∪ {u} \ {m}, m = min(Γ≤(u) ∪ {u})
  *
  * Both steps are groupBy(min) + equi-join — no neighbor lists are ever
  * collected, so hub vertices cost rows, not memory. Convergence is decided
  * by a DEFINITIVE fixpoint test against the ORIGINAL edges (one join +
  * count per round; skipped on round 0, where real graphs are never already
  * contracted and an extra contraction is a fixpoint no-op anyway — and the
  * candidate-label aggregation it needs is the SAME groupBy-min large-star
  * needs, so one pinned frame serves both): candidate labels
  * l(x) = min(x, Γ(x)) are constant
  * across every original edge iff every component has fully contracted and
  * l is exactly the component minimum (l(m) = m for the component min m
  * because current edges only ever connect vertices of one component).
  * A round that exits the loop without passing the test throws rather than
  * returning silently-wrong labels.
  */
object ConnectedComponents {

  /** Returns (vid, label) for every vertex in the dictionary.
    *
    * When the graph's resident operators fit its driver budget
    * ([[LinkGraph.residentOperators]]) the labels are computed on the driver:
    * union-find with min-representative roots over the graph's driver edge
    * copy, which produces the IDENTICAL canonical labeling (label = min vid of
    * the component — a property of the result, not of the algorithm) in
    * O(E α(E)) driver time instead of 3+ shuffle rounds of 6 exchanges each.
    * A 100 TB graph takes the star-contraction path; the contract-scale graph
    * doesn't pay cluster-coordination prices for sub-second work. Its output
    * is pinned until the graph's `unpersistAll`.
    */
  def run(graph: LinkGraph, maxIterations: Int = 50): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    // Per-vertex frames pinned via Lineage.pin report DEFAULT (huge)
    // statistics, so every label-frame join below takes the graph's
    // size-gated broadcast hint (LinkGraph.hintSmall).
    // (measured: disabling AQE inside this loop cut job count 31→19 but left
    // the wall unchanged at contract scale, while losing AQE's runtime skew
    // handling at cluster scale — so AQE stays ON here, with the join
    // strategy pinned by the explicit size-gated hints)
    import graph.hintSmall

    // union-find is insensitive to duplicates, orientation and self-loops, so
    // the undirected-dedup exchange the distributed path needs is pure setup
    // cost here (guide §2.4)
    if (graph.residentOperators) return graph.vertexFrame("label" -> residentLabels(graph))

    val orig = graph.edges
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val origCount = orig.count()

    var (cur, freeCur) = Lineage.pin(orig.toDF())
    var labels: DataFrame = null
    var freeLabels: () => Unit = () => ()
    var converged = false
    var iteration = 0

    val debug = sys.env.contains("GRAFT_DEBUG")
    while (iteration < maxIterations && !converged) {
      val roundT0 = System.nanoTime()
      // candidate labels from the current edge set: l(x) = min(x, Γ(x)) —
      // ONE pinned aggregation serves BOTH the fixpoint check and large-star
      // (they are the same groupBy-min; round 3 computed it twice per round)
      val bidir = cur.select($"u", $"v").union(cur.select($"v".as("u"), $"u".as("v")))
      val nbrMin = bidir
        .groupBy($"u".as("x"))
        .agg(min($"v").as("lmin"))
        .select($"x", least($"x", $"lmin").as("l"))
      val (lab, freeLab) = Lineage.pin(nbrMin)

      // definitive check: labels constant across every ORIGINAL edge
      // (left joins + coalesce so a vertex absent from the current edge set
      // can never silently pass the test). Cadence: skipped on the first
      // round — contraction from an already-converged state is a fixpoint
      // (star edges stay star edges), so the only cost is one extra cheap
      // round on trivial inputs, and every multi-round graph saves a full
      // original-edge join. maxIterations == 1 keeps the round-0 check so a
      // converged input can still be certified inside the budget.
      val bad =
        if (iteration == 0 && maxIterations > 1) -1L
        else orig
          .join(hintSmall(lab.select($"x".as("u"), $"l".as("lu"))), Seq("u"), "left")
          .join(hintSmall(lab.select($"x".as("v"), $"l".as("lv"))), Seq("v"), "left")
          .filter(coalesce($"lu", $"u") =!= coalesce($"lv", $"v"))
          .count()

      if (bad == 0L) {
        converged = true
        freeLabels = freeLab
        labels = lab
      } else {
        // ---- large-star (reuses the pinned candidate-label aggregation) ----
        // no intermediate distinct: duplicate (v, m) rows are absorbed by
        // small-star's min-aggregation and final distinct anyway, and the
        // dedup exchange here was a full shuffle of an edge-scale frame per
        // round for no change in the round's output set (guide §2.4)
        val large = bidir
          .filter($"v" > $"u")
          .join(hintSmall(lab.select($"x".as("u"), $"l".as("m"))), Seq("u"))
          .select($"v".as("u"), $"m".as("v"))
        // ---- small-star ----
        val le = large.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
          .filter($"u" =!= $"v")
        val mins2 = le.groupBy($"u").agg(min($"v").as("m")) // m = min(Γ≤(u) ∪ {u})
        val small = le
          .join(hintSmall(mins2), Seq("u"))
          .filter($"v" =!= $"m")
          .select($"v".as("u"), $"m".as("v"))
          .union(mins2.select($"u", $"m".as("v")))
          .distinct()
        val (next, freeNext) = Lineage.pin(small)
        freeLab() // candidate labels are consumed once `next` is materialized
        freeCur()
        cur = next
        freeCur = freeNext
        iteration += 1
      }
      if (debug)
        System.err.println(
          f"[graft] cc round=$iteration converged=$converged ${(System.nanoTime() - roundT0) / 1e9}%.2f s")
    }

    if (!converged) {
      freeCur()
      orig.unpersist()
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations star-contraction rounds")
    }

    // zero-fill: isolated vertices (and contracted roots) label themselves
    val out = graph.vertexDict
      .join(hintSmall(labels.select($"x".as("vid"), $"l")), Seq("vid"), "left")
      .select($"vid", coalesce($"l", $"vid").as("label"))
    val (pinned, freePinned) = Lineage.pin(out)
    graph.releaseOnUnpersist(freePinned)
    freeLabels()
    freeCur()
    orig.unpersist()
    pinned
  }

  /** Driver-resident labeling: union-find with path compression, always
    * attaching the LARGER root under the smaller so every final root is the
    * component minimum — the same canonical labels the star-contraction
    * fixpoint certifies. Isolated vertices keep themselves (parent identity).
    * The fixpoint certificate survives as a driver-side pass: every edge's
    * endpoints must share a label, or we throw rather than return.
    */
  private def residentLabels(graph: LinkGraph): Array[Long] = {
    val n = graph.numVertices.toInt
    val edges = graph.edgesLocal
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var e = 0
    while (e < edges.n) {
      val ru = find((edges.a(e) >>> 32).toInt)
      val rv = find(edges.a(e).toInt) // the low 32 bits: dst
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      e += 1
    }
    val labels = new Array[Long](n)
    i = 0
    while (i < n) { labels(i) = find(i).toLong; i += 1 }
    // definitive certificate, same property the distributed path proves
    e = 0
    while (e < edges.n) {
      val (u, v) = (edges.a(e) >>> 32, edges.a(e) & 0xffffffffL)
      if (labels(u.toInt) != labels(v.toInt))
        throw new IllegalStateException(s"cc resident labeling violates edge ($u, $v)")
      e += 1
    }
    labels
  }
}
