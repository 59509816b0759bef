package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.LinkGraph

/** Degree-ordered triangle counting + clustering coefficient (north rule).
  *
  * Realizes what the reference *claims* to compute for "isolation risk"
  * (/root/reference/README.md:161 "Inverse of clustering coefficient") but
  * never implements — its code uses inverse total degree instead
  * (/root/reference/pagerank.py:702); both variants are offered (see
  * [[graft.analytics.RiskScores]] for the reference-faithful one).
  *
  * Algorithm: undirected-dedupe edges, orient each edge from the endpoint with
  * smaller (degree, vid) to the larger — every triangle is then counted exactly
  * once, and each vertex's oriented out-degree is O(sqrt(m)), which bounds the
  * self-join's intermediate size (the standard degree-ordering trick). The
  * wedge self-join hashes on the shared lower endpoint; the closing-edge check
  * is an inner join against the oriented edge set.
  */
object TriangleCount {

  /** (triangles, undirected simple degree) per vertex on the driver, from the
    * symmetric CSR with weights and self-loops ignored — integer counts, so
    * EXACTLY the distributed plan's. Each row keeps, in place and sorted, the
    * neighbours above it in (degree, vid) order, and every oriented edge
    * (x, y) merge-intersects the rows of x and y (compact-forward): each
    * triangle is found once, from its apex, at O(Σ d⁺(x) + d⁺(y)) probes.
    */
  private def residentData(graph: LinkGraph): (Array[Long], Array[Long]) = {
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
