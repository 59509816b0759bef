package graft.tools

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

import graft.model.AdjPart

/** Per-block binary persistence for prebuilt adjacency parts.
  *
  * KernelPrep's parquet Dataset[AdjPart] restore cost the leg a full
  * partitionBy shuffle of every adjacency byte plus nested-array parquet
  * decode — 16 of a 32 s fork at the 80M-edge bench shape (round-6 phase
  * probe). Parts are pure primitive arrays, and the writer already holds them
  * in the exact partition layout the reader needs (partition b = block b's
  * parts in assembler order), so the fix is one flat file per block written
  * at prep time and read back into an RDD whose partitioner is established by
  * shuffling 64 ints instead of 1.3 GB (guide §2.4: remove the shuffle
  * outright). Restore is bit-identical: same parts, same order, same layout.
  *
  * Format per file: [magic][version][numParts][per part: blockId partId
  * lens (keys, offsets, adj, wNorm) + raw arrays]. The writer emits one file
  * per block, so a missing file, a short or over-long one, a foreign or stale
  * format, a part of another block or a wNorm length that is not adj's all
  * raise on read: the restore never comes back with a partial adjacency.
  */
object PartIO {
  private val Magic = 0x47504152 // "GPAR"
  private val Version = 2

  def writeBlockFiles(rdd: RDD[AdjPart], dir: String): Unit = {
    new File(dir).mkdirs()
    rdd
      .mapPartitionsWithIndex { (i, it) =>
        val f = new File(dir, f"block-$i%05d")
        val out = new DataOutputStream(
          new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
        val parts = it.toArray
        try {
          out.writeInt(Magic); out.writeInt(Version)
          out.writeInt(parts.length)
          parts.foreach { p =>
            require(p.blockId == i && p.wNorm.length == p.adj.length,
              s"part ${p.blockId}/${p.partId} in partition $i: needs blockId $i and one wNorm per adj entry")
            out.writeInt(p.blockId); out.writeInt(p.partId)
            out.writeInt(p.keys.length); out.writeInt(p.offsets.length)
            out.writeInt(p.adj.length); out.writeInt(p.wNorm.length)
            var j = 0
            while (j < p.keys.length) { out.writeInt(p.keys(j)); j += 1 }
            j = 0
            while (j < p.offsets.length) { out.writeInt(p.offsets(j)); j += 1 }
            j = 0
            while (j < p.adj.length) { out.writeLong(p.adj(j)); j += 1 }
            j = 0
            while (j < p.wNorm.length) { out.writeDouble(p.wNorm(j)); j += 1 }
          }
        } finally out.close()
        Iterator.single(parts.length)
      }
      .count()
    ()
  }

  private def readBlockFile(dir: String, block: Int): Array[AdjPart] = {
    val f = new File(dir, f"block-$block%05d")
    def corrupt(why: String) = new java.io.IOException(s"block file $f: $why")
    if (!f.isFile) throw new java.io.FileNotFoundException(s"block file $f is missing")
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
    try {
      val magic = in.readInt()
      val version = in.readInt()
      if (magic != Magic) throw corrupt(f"not a part file (magic 0x$magic%08x)")
      if (version != Version) throw corrupt(s"format version $version, expected $Version")
      val nParts = in.readInt()
      val parts = Array.fill(nParts) {
        val blockId = in.readInt()
        val partId = in.readInt()
        val nKeys = in.readInt()
        val nOff = in.readInt()
        val nAdj = in.readInt()
        val nW = in.readInt()
        if (blockId != block) throw corrupt(s"holds a part of block $blockId")
        if (nW != nAdj) throw corrupt(s"part $partId has $nW wNorm values for $nAdj adj entries")
        val keys = new Array[Int](nKeys)
        var j = 0
        while (j < nKeys) { keys(j) = in.readInt(); j += 1 }
        val offsets = new Array[Int](nOff)
        j = 0
        while (j < nOff) { offsets(j) = in.readInt(); j += 1 }
        val adj = new Array[Long](nAdj)
        j = 0
        while (j < nAdj) { adj(j) = in.readLong(); j += 1 }
        val wNorm = new Array[Double](nW)
        j = 0
        while (j < nW) { wNorm(j) = in.readDouble(); j += 1 }
        AdjPart(blockId, partId, keys, offsets, adj, wNorm)
      }
      if (in.read() != -1) throw corrupt("has bytes past its last part")
      parts
    } catch {
      case e: java.io.EOFException => throw corrupt(s"truncated (${e.getMessage})")
    } finally in.close()
  }

  /** RDD with partition b = block b's parts in file (= assembler) order and
    * the graph's identity block partitioner — the layout gatherPartsRdd /
    * adjPartsByBlock would otherwise rebuild with a full shuffle + sort.
    */
  def readLaidOut(sc: SparkContext, dir: String, numBlocks: Int): RDD[(Int, AdjPart)] =
    sc.parallelize(0 until numBlocks, numBlocks)
      .map(b => (b, b))
      .partitionBy(new org.apache.spark.HashPartitioner(numBlocks))
      .mapPartitions(
        it => it.flatMap { case (b, _) => readBlockFile(dir, b).iterator.map(p => (b, p)) },
        preservesPartitioning = true)
}
