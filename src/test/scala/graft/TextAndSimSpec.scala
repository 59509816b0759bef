package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sim.Ann
import graft.text.{Dedup, TextAnalytics}

class TextAndSimSpec extends GraftSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "der schnelle braune fuchs springt und das ist gut"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "completely unrelated words about spark engines here"),
    (5L, "le chat est sur la table et le chien est la")
  ).toDF("doc_id", "text")

  test("exact dedup clusters identical texts under the min doc id") {
    val c = Dedup.exactClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c(0L) == (0L, 2L) && c(3L) == (0L, 2L))
    assert(c(1L) == (1L, 1L))
  }

  test("ngram jaccard finds the planted near-duplicate pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 3 && p._3 == 1.0), "exact dup = jaccard 1")
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 > 0.6), "near dup found")
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L), "unrelated doc has no pair")
  }

  test("shingles of short/empty docs are empty arrays — dedup ops never crash on them") {
    val shortDocs = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((10L, ""), (11L, "one"), (12L, "  "), (13L, "two words")))
      .toDF("doc_id", "text")
    val sh = shortDocs.select($"doc_id", size(Dedup.shingles($"text", 3)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(10L) == 0 && sh(11L) == 0 && sh(12L) == 0 && sh(13L) == 0)
    // all three pipelines run end-to-end over the corpus containing short docs
    val j = Dedup.jaccardPairs(shortDocs, "doc_id", "text", n = 3, threshold = 0.5).collect()
    assert(!j.exists(r => r.getLong(0) >= 10L || r.getLong(1) >= 10L))
    val m = Dedup.minhashLshPairs(shortDocs, "doc_id", "text", n = 3, threshold = 0.5).collect()
    assert(!m.exists(r => r.getLong(0) >= 10L || r.getLong(1) >= 10L),
      "empty docs must not collide into shared LSH buckets")
    Dedup.exactClusters(shortDocs, "doc_id", "text").collect()
  }

  test("minhash-LSH recovers the exact and near duplicates") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)))
  }

  test("minhash signature of identical texts is identical; estimate is 1.0") {
    val sigs = docs.filter($"doc_id".isin(0L, 3L))
      .select(Dedup.minhashSignature($"text", 2, 64)).collect()
    assert(sigs(0).getSeq[Long](0) == sigs(1).getSeq[Long](0))
  }

  test("simhash: identical texts at hamming 0; near-dups closer than unrelated") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(3L)) == 0)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(4L)))
  }

  test("simhash equals a driver-side sign sum over each token hash, in both widths") {
    // whitespace runs at either end give empty tokens: hashed in the 64-bit
    // variant, dropped in the portable one
    val rng = new scala.util.Random(19)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa")
    val seps = Seq(" ", "  ", "\t", " \n ")
    val texts = Seq("", " ", "one", " lead and trail ") ++ Seq.fill(36) {
      val words = Seq.fill(1 + rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
      (if (rng.nextBoolean()) " " else "") + words.mkString(seps(rng.nextInt(seps.length))) +
        (if (rng.nextBoolean()) "\t" else "")
    }
    def xxh(t: String): Long = {
      val b = t.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    def md5h60(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8")).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def reference(text: String, portable: Boolean): Long = {
      val raw = text.split("\\s+", -1).toSeq
      val hashes = if (portable) raw.filter(_.nonEmpty).map(md5h60) else raw.map(xxh)
      (0 until (if (portable) 60 else 64)).foldLeft(0L) { (acc, b) =>
        if (hashes.map(h => if (((h >> b) & 1L) == 1L) 1L else -1L).sum > 0) acc | (1L << b) else acc
      }
    }
    val got = texts.zipWithIndex.toDF("text", "i").repartition(3)
      .select($"i", Dedup.simhash($"text").as("s"), Dedup.simhash($"text", portable = true).as("p"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == (reference(t, portable = false), reference(t, portable = true)), s"doc $i: '$t'")
    }
  }

  test("portableHash60 matches the cross-engine md5 definition") {
    // ('0x' || substr(md5('abc'),1,15))::BIGINT in DuckDB = 648541476951500027
    val got = Seq("abc").toDF("s")
      .select(Dedup.portableHash60($"s").as("h")).first().getLong(0)
    assert(got == 648541476951500027L)
    // portable signature operators stay deterministic and banding-complete
    // for identical texts (bucket collision is certain)
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 2, threshold = 0.9, portable = true)
      .collect()
    assert(mh.length == 1 && mh(0).getDouble(2) == 1.0)
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0, portable = true).collect()
    assert(sh.length == 1)
  }

  test("language id picks the marker language; markerless text is 'und'") {
    val out = TextAnalytics.languageId(docs, "text")
      .select($"doc_id", $"lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(2L) == "de")
    assert(out(5L) == "fr")
    assert(out(4L) == "und") // no stopword markers
  }

  test("quality signals + token counts are sane and deterministic") {
    val q = TextAnalytics.qualitySignals(docs, "text").collect()
    q.foreach { r =>
      assert(r.getAs[Double]("quality_score") >= 0.0 && r.getAs[Double]("quality_score") <= 1.0)
      assert(r.getAs[Long]("n_words") > 0)
    }
    val t = TextAnalytics.tokenCounts(docs, "text")
      .filter($"doc_id" === 0L).first()
    assert(t.getAs[Long]("ws_tokens") == 9)
    assert(t.getAs[Long]("bpeish_tokens") == 9)
    val empty = Seq((9L, "")).toDF("doc_id", "text")
    assert(TextAnalytics.tokenCounts(empty, "text").first().getAs[Long]("ws_tokens") == 0)
  }

  test("fingerprint is whitespace-normalized and case-insensitive") {
    val d2 = Seq(
      (0L, "Hello   World"),
      (1L, "hello world"),
      (2L, "hello worlds")).toDF("doc_id", "text")
    val f = TextAnalytics.fingerprints(d2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(0L) == f(1L))
    assert(f(1L) != f(2L))
  }

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)), // near 0
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(0f, 0f, 1f, 1f)),
    (4L, Array(-1f, 0f, 0f, 0f))
  ).toDF("id", "vec")

  test("brute-force knn ranks the geometrically nearest first") {
    val queries = vecs.filter($"id" === 0L).select($"id".as("qid"), $"vec".as("qvec"))
    val top = Ann.bruteForceTopK(vecs, queries, k = 2)
      .orderBy($"rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(math.abs(top(0).getAs[Double]("cosine") - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("embedding cosine pairs finds the near-dup pair only") {
    val pairs = Dedup.embeddingPairs(vecs, "id", "vec", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("LSH cosine-pairs matches brute force exactly at the contract threshold") {
    // 300 seeded random 64-dim vectors: the ≥0.4 pairs sit in the random tail,
    // the hardest recall regime for sign-LSH — exact agreement required
    val rng = new scala.util.Random(17)
    val vecs = (0L until 300L).map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("id", "vec")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"a", $"b", round($"cosine", 6).as("c"))
      .filter($"c" >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = pairSet(Dedup.embeddingPairs(vecs, "id", "vec", threshold = 0.0))
    val lsh = pairSet(Ann.cosinePairsLsh(vecs, threshold = 0.39, dim = 64))
    assert(brute.nonEmpty, "fixture should contain pairs above the threshold")
    assert(lsh == brute, s"missing=${brute -- lsh} extra=${lsh -- brute}")
  }

  test("LSH top-k recalls most of brute-force top-k on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val brute = Ann.bruteForceTopK(corpus, queries, 5)
      .select($"query_id", $"neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(corpus, queries, 5, dim = 64, planesPerTable = 4, tables = 8)
      .select($"query_id", $"neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // synthetic embeddings are near-uniform (max cosine ~0.5) — the hardest
    // case for sign-LSH; 4 planes x 8 tables should still recover most of top-5
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("auto-sized LSH at a near-dup threshold generates FEWER candidates than brute force") {
    val n = 1000
    val rng = new scala.util.Random(29)
    // background: random gaussian vectors; plus 5 planted near-dup pairs
    val base = (0 until n - 5).map(i => (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
    val planted = (0 until 5).map { i =>
      val src = base(i * 7)._2
      ((n - 5 + i).toLong, src.map(v => v + 0.05f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("id", "vec")
    val (bits, tables) = Ann.lshParams(n, 0.8)
    val candidates = Ann.candidatePairEstimate(df, dim = 64, bits = bits, tables = tables)
    val brutePairs = n.toLong * (n - 1) / 2
    assert(candidates < brutePairs,
      s"bits=$bits tables=$tables candidates=$candidates !< brute=$brutePairs")
    // and the auto-sized pair job still recovers every planted pair
    val got = Ann.cosinePairsLsh(df, threshold = 0.8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.zipWithIndex.foreach { case ((pid, _), i) =>
      val orig = base(i * 7)._1
      assert(got.contains((orig, pid)), s"planted pair ($orig,$pid) missed")
    }
  }

  test("jaccardPairsWithStats surfaces the hot-shingle completeness loss as data") {
    val docs = Seq(
      (0L, "common token alpha beta"),
      (1L, "common token gamma delta"),
      (2L, "common token epsilon zeta"),
      (3L, "common token eta theta"),
      (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    // "common token" appears in 4 docs: with cap 3 it must be dropped and counted
    val (_, dropped) = Dedup.jaccardPairsWithStats(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxDocsPerShingle = 3)
    assert(dropped >= 1L, s"expected >=1 dropped hot shingle, got $dropped")
    val (_, none) = Dedup.jaccardPairsWithStats(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxDocsPerShingle = 100)
    assert(none == 0L)
  }

  test("real image headers decode to exact dimensions (PNG IHDR, JPEG SOF, GIF LSD)") {
    import scala.collection.mutable.ArrayBuffer
    def png(w: Int, h: Int): Array[Byte] = {
      val b = ArrayBuffer[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13,
        'I', 'H', 'D', 'R')
      b ++= Seq(w >>> 24, (w >>> 16) & 0xff, (w >>> 8) & 0xff, w & 0xff)
      b ++= Seq(h >>> 24, (h >>> 16) & 0xff, (h >>> 8) & 0xff, h & 0xff)
      b ++= Seq(8, 6, 0, 0, 0) // bit depth, color type, ...
      b.map(_.toByte).toArray
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = ArrayBuffer[Int](0xff, 0xd8) // SOI
      b ++= Seq(0xff, 0xe0, 0x00, 0x10) // APP0, len 16
      b ++= Seq.fill(14)(0x4a) // APP0 payload
      b ++= Seq(0xff, 0xc2, 0x00, 0x11, 0x08) // SOF2 (progressive), len 17, precision
      b ++= Seq(h >>> 8, h & 0xff, w >>> 8, w & 0xff)
      b ++= Seq.fill(10)(0x00) // components
      b.map(_.toByte).toArray
    }
    def gif(w: Int, h: Int): Array[Byte] =
      (Seq[Int]('G', 'I', 'F', '8', '9', 'a') ++
        Seq(w & 0xff, w >>> 8, h & 0xff, h >>> 8) ++ Seq(0, 0, 0)).map(_.toByte).toArray

    assert(Multimodal.HeaderDecoder.dimensions(png(640, 480)).contains((640, 480)))
    assert(Multimodal.HeaderDecoder.dimensions(jpeg(1920, 1080)).contains((1920, 1080)))
    assert(Multimodal.HeaderDecoder.dimensions(gif(320, 200)).contains((320, 200)))
    assert(Multimodal.HeaderDecoder.dimensions("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.HeaderDecoder.dimensions(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)

    // and through the batched pipeline: real headers win, everything else
    // falls back to the declared stub
    val media = Seq(
      (1L, "image", png(640, 480)),
      (2L, "image", jpeg(1920, 1080)),
      (3L, "image", gif(320, 200)),
      (4L, "audio", "just bytes".getBytes("UTF-8"))).toDF("media_id", "media_type", "payload")
    val feats = Multimodal.decodeFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 640 && feats(1L).height == 480)
    assert(feats(2L).width == 1920 && feats(2L).height == 1080)
    assert(feats(3L).width == 320 && feats(3L).height == 200)
    assert(feats(4L).byte_len == 10L)
  }

  test("multimodal pipeline: schema, determinism, frame sampling plan") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.syntheticMedia(d, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val f1 = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.width).toSeq == f2.map(_.width).toSeq)
    assert(f1.forall(_.feature.length == 8))
    val plan = Multimodal.frameSamplePlan(Multimodal.decodeFeatures(media), stride = 10, maxFrames = 5)
    plan.collect().foreach { r =>
      val ids = r.getSeq[Int](2)
      assert(ids.length <= 5 && ids.zip(ids.drop(1)).forall { case (a, b) => b - a == 10 })
    }
  }

  test("syntheticMedia plants real headers; stub features follow the portable hash") {
    // id 21: image (21%3=0) + PNG header (21%7=0); id 15: image + GIF (15%7=1);
    // id 3: image, no header (3%7=3); ids 1/2: audio/video
    val d = Seq((21L, "png doc"), (15L, "gif doc"), (3L, "plain image"),
      (1L, "audio doc"), (2L, "video doc")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(d, "doc_id", "text")
    val f = Multimodal.decodeFeatures(media).collect().map(x => x.media_id -> x).toMap
    // header rows: REAL header parsing yields the planted 1 + id mod 640/480 dims
    assert(f(21L).media_type == "image" && f(21L).width == 22 && f(21L).height == 22)
    assert(f(21L).byte_len == "png doc".length + 24L)
    assert(f(15L).width == 16 && f(15L).height == 16)
    assert(f(15L).byte_len == "gif doc".length + 10L)
    // non-header rows: portable rolling hash (same math the DuckDB oracle runs)
    def rh(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val h3 = rh("plain image")
    assert(f(3L).width == 64 + (h3 % 512).toInt && f(3L).height == 64 + ((h3 / 512) % 512).toInt)
    val h2 = rh("video doc")
    assert(f(2L).media_type == "video" && f(2L).n_frames == 1 + ((h2 / 262144) % 120).toInt)
    assert(f(1L).media_type == "audio" && f(1L).n_frames == 1)
  }
}
