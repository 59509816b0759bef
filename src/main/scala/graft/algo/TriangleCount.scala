package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** Triangle counting + clustering coefficient over the undirected simple
  * graph (north rule): self-loops dropped, duplicate rows and both
  * orientations folded, weights ignored.
  *
  * Realizes what the reference *claims* to compute for "isolation risk"
  * (its README.md:161, "Inverse of clustering coefficient") but never
  * implements — its code uses inverse total degree instead (pagerank.py:702);
  * both variants are offered (see [[graft.analytics.RiskScores]] for the
  * reference-faithful one).
  *
  * Distributed (over [[LinkGraph.residentOperators]]): undirected-dedupe the
  * edges and orient each from the endpoint with smaller (degree, vid) to the
  * larger, so every triangle is counted exactly once and each vertex's
  * oriented out-degree is O(sqrt(m)), which bounds the intermediate size of
  * the wedge self-join (hashed on the shared lower endpoint); an inner join
  * against the oriented edge set closes each wedge.
  *
  * Resident, two kernels over the graph's driver edge copy, chosen by bytes
  * ([[bitsetKernel]]), with the same integer counts:
  *  - bitset: one row of ⌈n/64⌉ longs per vertex, built from the edges in
  *    O(m); each undirected edge ANDs its endpoints' rows and popcounts the
  *    common neighbours. Taken when the rows cost no more than the 32 B per
  *    folded edge the resident charge already reserves for the symmetric CSR
  *    they replace, so dense graphs skip the CSR's mirror sort and the
  *    per-entry merges.
  *  - compact-forward: the symmetric CSR's sorted rows, oriented by
  *    (degree, vid) and merge-intersected per oriented edge. Sparse graphs
  *    take it, where n² bits would exceed that charge.
  */
object TriangleCount {

  /** True when the resident kernel is the bitset one: n rows of ⌈n/64⌉ longs
    * (one array) cost at most the 32 B per folded edge that
    * [[LinkGraph.residentOperators]] charges for the symmetric CSR.
    */
  private[graft] def bitsetKernel(graph: LinkGraph): Boolean = {
    val cells = graph.numVertices * ((graph.numVertices + 63) / 64)
    cells <= Int.MaxValue && cells * 8 <= graph.numEdges * 32
  }

  /** (triangles, undirected simple degree) per vertex on the driver — integer
    * counts, so EXACTLY the distributed plan's.
    */
  private def residentData(graph: LinkGraph): (Array[Long], Array[Long]) =
    if (bitsetKernel(graph)) bitsetData(graph) else forwardData(graph)

  /** Row v is the bitset of v's neighbours other than v. Each undirected
    * edge (u, v), u < v, adds the popcount of `row(u) & row(v)` to both
    * endpoints, so every triangle adds 2 at each of its corners.
    */
  private def bitsetData(graph: LinkGraph): (Array[Long], Array[Long]) = {
    val n = graph.numVertices.toInt
    val words = (n + 63) >>> 6
    val rows = new Array[Long](n * words)
    val e = graph.edgesLocal
    var i = 0
    while (i < e.n) {
      val s = (e.a(i) >>> 32).toInt
      val d = e.a(i).toInt // the low 32 bits: dst
      if (s != d) {
        rows(s * words + (d >>> 6)) |= 1L << d
        rows(d * words + (s >>> 6)) |= 1L << s
      }
      i += 1
    }
    val deg = new Array[Long](n)
    val lo = new Array[Int](n) // row v's first and last non-zero words: the AND
    val hi = new Array[Int](n) // of two rows spans only where both have bits
    var u = 0
    while (u < n) {
      val ru = u * words
      lo(u) = words
      hi(u) = -1
      var k = 0
      while (k < words) {
        val x = rows(ru + k)
        if (x != 0) { deg(u) += java.lang.Long.bitCount(x); if (lo(u) == words) lo(u) = k; hi(u) = k }
        k += 1
      }
      u += 1
    }
    val tri = new Array[Long](n)
    u = 0
    while (u < n) {
      val ru = u * words
      var k = u >>> 6
      var bits = rows(ru + k) & (-2L << (u & 63)) // the neighbours above u
      while (k <= hi(u)) {
        while (bits != 0) {
          val v = (k << 6) + java.lang.Long.numberOfTrailingZeros(bits)
          bits &= bits - 1
          val rv = v * words
          var c = 0L
          var j = math.max(lo(u), lo(v))
          val end = math.min(hi(u), hi(v))
          while (j <= end) { c += java.lang.Long.bitCount(rows(ru + j) & rows(rv + j)); j += 1 }
          tri(u) += c
          tri(v) += c
        }
        k += 1
        if (k <= hi(u)) bits = rows(ru + k)
      }
      u += 1
    }
    u = 0
    while (u < n) { tri(u) >>= 1; u += 1 }
    (tri, deg)
  }

  /** Compact-forward over the symmetric CSR. Each row keeps, in place and
    * sorted, the neighbours above it in (degree, vid) order, and every
    * oriented edge (x, y) merge-intersects the rows of x and y: each triangle
    * is found once, from its apex, at O(Σ d⁺(x) + d⁺(y)) probes.
    */
  private def forwardData(graph: LinkGraph): (Array[Long], Array[Long]) = {
    val n = graph.numVertices.toInt
    val (off, und) = graph.symmetricCsr()
    val nbr = und.a // the low 32 bits of an entry: the neighbour
    val deg = new Array[Long](n)
    var x = 0
    while (x < n) {
      var j = off(x)
      while (j < off(x + 1)) { if (nbr(j).toInt != x) deg(x) += 1; j += 1 }
      x += 1
    }
    // orient from the smaller (deg, vid) endpoint: O(sqrt m) out-degrees
    var kept = 0
    var read = 0
    x = 0
    while (x < n) {
      val end = off(x + 1)
      off(x) = kept
      while (read < end) {
        val y = nbr(read).toInt
        if (deg(x) < deg(y) || (deg(x) == deg(y) && x < y)) { nbr(kept) = nbr(read); kept += 1 }
        read += 1
      }
      x += 1
    }
    off(n) = kept
    val tri = new Array[Long](n)
    x = 0
    while (x < n) {
      var a = off(x)
      val endX = off(x + 1)
      while (a < endX) {
        val y = nbr(a).toInt
        var i1 = off(x)
        var i2 = off(y)
        val e2 = off(y + 1)
        while (i1 < endX && i2 < e2) {
          val v1 = nbr(i1).toInt
          val v2 = nbr(i2).toInt
          if (v1 < v2) i1 += 1
          else if (v2 < v1) i2 += 1
          else { tri(x) += 1; tri(y) += 1; tri(v1) += 1; i1 += 1; i2 += 1 }
        }
        a += 1
      }
      x += 1
    }
    (tri, deg)
  }

  /** Undirected simple edges (u < v), one row each. */
  def undirectedEdges(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    graph.edges
      .select(
        least($"src", $"dst").as("u"),
        greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
  }

  /** Total triangle count in the undirected simple graph. */
  def totalTriangles(graph: LinkGraph): Long =
    if (graph.residentOperators) residentData(graph)._1.sum / 3
    else perEdgeTriangles(graph).agg(count(lit(1))).first().getLong(0)

  /** One row per triangle: (a, b, c) with a < b < c under the degree order. */
  private def perEdgeTriangles(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val und = undirectedEdges(graph)
    // undirected degree
    val deg = und
      .select($"u".as("vid"))
      .union(und.select($"v".as("vid")))
      .groupBy($"vid")
      .agg(count(lit(1)).as("deg"))
    // orient: (x, y) where (deg(x), x) < (deg(y), y)
    val withDeg = und
      .join(deg.withColumnRenamed("vid", "u").withColumnRenamed("deg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("vid", "v").withColumnRenamed("deg", "dv"), Seq("v"))
    // NOT persisted: the three consumers (e1, e2, closing) share identical
    // exchange subtrees, which Catalyst deduplicates via ReuseExchange — an
    // explicit persist here leaked (two public entry points, no unpersist
    // hook on the lazily returned frame).
    val oriented = withDeg
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("x"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("y"))
    // wedges centered at the low-order endpoint, then close with an oriented edge
    val e1 = oriented.select($"x", $"y".as("y1"))
    val e2 = oriented.select($"x", $"y".as("y2"))
    val wedges = e1.join(e2, Seq("x")).filter($"y1" < $"y2")
    val closing = oriented.select($"x".as("y1"), $"y".as("y2"))
      .union(oriented.select($"y".as("y1"), $"x".as("y2")))
      .select(least($"y1", $"y2").as("y1"), greatest($"y1", $"y2").as("y2"))
      .distinct()
    wedges.join(closing, Seq("y1", "y2")).select($"x".as("a"), $"y1".as("b"), $"y2".as("c"))
  }

  /** Per-vertex triangle counts, zero-filled over all vertices: (vid, triangles). */
  def perVertexTriangles(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    if (graph.residentOperators) return graph.vertexFrame("triangles" -> residentData(graph)._1)
    val tris = perEdgeTriangles(graph)
    val corners = tris.select($"a".as("vid"))
      .union(tris.select($"b".as("vid")))
      .union(tris.select($"c".as("vid")))
      .groupBy($"vid")
      .agg(count(lit(1)).as("triangles"))
    graph.vertexDict
      .join(corners, Seq("vid"), "left")
      .select($"vid", coalesce($"triangles", lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient 2T(v) / (deg(v)·(deg(v)−1)) over the
    * undirected simple graph; 0 where deg < 2. Columns: vid, triangles, deg,
    * clustering_coeff.
    */
  def clusteringCoefficients(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val withDeg =
      if (graph.residentOperators) {
        val (tri, deg) = residentData(graph)
        graph.vertexFrame("triangles" -> tri, "deg" -> deg)
      } else {
        val und = undirectedEdges(graph)
        val deg = und
          .select($"u".as("vid"))
          .union(und.select($"v".as("vid")))
          .groupBy($"vid")
          .agg(count(lit(1)).as("deg"))
        perVertexTriangles(graph)
          .join(deg, Seq("vid"), "left")
          .select($"vid", $"triangles", coalesce($"deg", lit(0L)).as("deg"))
      }
    withDeg.select(
      $"vid",
      $"triangles",
      $"deg",
      when($"deg" >= 2, lit(2.0) * $"triangles" / ($"deg" * ($"deg" - 1)))
        .otherwise(lit(0.0))
        .as("clustering_coeff"))
  }
}
