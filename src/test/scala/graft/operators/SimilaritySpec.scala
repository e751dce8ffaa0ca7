package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8
  // deterministic corpus
  private lazy val corpus = (0 until 100).map { i =>
    (i.toLong, Array.tabulate(dim)(j =>
      (graft.functions.Mix64.mix(i.toLong * 31 + j).toDouble / Long.MaxValue).toFloat))
  }.toDF("vec_id", "embedding")

  test("bruteForceTopK: a planted identical vector ranks first with cosine 1") {
    val q = corpus.filter($"vec_id" === 7)
      .select(lit(1000L).as("query_id"), $"embedding")
    val top = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding",
      "query_id", "embedding", k = 3)
    val first = top.filter($"rank" === 1).select("vec_id", "cosine")
      .as[(Long, Double)].head()
    assert(first._1 === 7L)
    assert(math.abs(first._2 - 1.0) < 1e-9)
  }

  test("lshTopK: planted identical vector is found (same bucket by construction)") {
    val q = corpus.filter($"vec_id" === 13)
      .select(lit(1000L).as("query_id"), $"embedding")
    val top = Similarity.lshTopK(corpus, q, "vec_id", "embedding",
      "query_id", "embedding", k = 3, dim = dim, numPlanes = 8)
    val first = top.filter($"rank" === 1).select("vec_id").as[Long].head()
    assert(first === 13L)
  }

  test("lshTopK recall vs brute force is reasonable on this corpus") {
    val q = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val c = corpus.filter($"vec_id" >= 5)
    val exact = Similarity.bruteForceTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, dim = dim, numPlanes = 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low — LSH bucketing broken?")
  }

  test("ivfTopK: planted identical vector is found via its centroid list") {
    val q = corpus.filter($"vec_id" === 21)
      .select(lit(1000L).as("query_id"), $"embedding")
    val top = Similarity.ivfTopK(corpus, q, "vec_id", "embedding",
      "query_id", "embedding", k = 3, numCentroids = 8, nprobe = 3)
    val first = top.filter($"rank" === 1).select("vec_id", "cosine")
      .as[(Long, Double)].head()
    assert(first._1 === 21L)
    assert(math.abs(first._2 - 1.0) < 1e-9)
  }

  test("ivfTopK recall vs brute force") {
    val q = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val c = corpus.filter($"vec_id" >= 5)
    val exact = Similarity.bruteForceTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, numCentroids = 8, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("filteredBruteForceTopK: pre-filter semantics — top-k of the " +
      "FILTERED corpus, never a post-filtered starved shortlist") {
    val c = corpus.withColumn("category", $"vec_id" % 4)
    val q = c.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding",
        $"category".as("q_category"))
    val got = Similarity.filteredBruteForceTopK(
      c.filter($"vec_id" >= 4), q, "vec_id", "embedding",
      "query_id", "embedding", k = 5,
      pairFilter = col("category") === col("q_category"))
    val rows = got.select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect()
    // every returned neighbor matches the query's category, and every
    // query still gets its FULL k (24 eligible per category >> 5) —
    // post-filtering an unfiltered top-5 would return ~1.25 per query
    assert(rows.forall { case (qid, vid, _) => vid % 4 == qid % 4 }, rows.toSeq)
    assert(rows.groupBy(_._1).forall(_._2.length == 5), rows.toSeq)
    // equals the brute-force truth over the pre-filtered corpus
    for (cat <- 0L until 4L) {
      val truth = Similarity.bruteForceTopK(
        c.filter($"vec_id" >= 4 && $"category" === cat),
        q.filter($"q_category" === cat), "vec_id", "embedding",
        "query_id", "embedding", k = 5)
        .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
        .collect().toSet
      assert(rows.filter(_._1 % 4 == cat).toSet == truth)
    }
  }

  test("filteredIvfTopK: full probe equals the filtered exact truth; " +
      "partial probe keeps usable recall; filter applies before the heap") {
    val c = corpus.withColumn("category", $"vec_id" % 2)
    val q = c.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding",
        $"category".as("q_category"))
    val cc = c.filter($"vec_id" >= 5)
    val flt = col("category") === col("q_category")
    val exact = Similarity.filteredBruteForceTopK(cc, q, "vec_id",
      "embedding", "query_id", "embedding", k = 5, flt)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val full = Similarity.filteredIvfTopK(cc, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, flt, numCentroids = 8, nprobe = 8)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(full == exact, "full-probe filtered IVF must be exact")
    val partial = Similarity.filteredIvfTopK(cc, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, flt, numCentroids = 8, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(partial.forall { case (qid, vid) => vid % 2 == qid % 2 })
    val recall = (exact.map(r => (r._1, r._2)) intersect partial).size
      .toDouble / exact.size
    assert(recall >= 0.3, s"filtered IVF recall $recall too low")
  }

  test("mmrTopK: near-duplicate candidates are deferred in favor of " +
      "diverse ones, rounds are the selection order, dry pools stop early") {
    // corpus: 3 exact copies of vector A (ids 10,11,12), one copy of a
    // different vector B (20), one of C (30); query = A itself
    val vA = Array.tabulate(dim)(j => (j + 1).toFloat)
    val vB = Array.tabulate(dim)(j => if (j % 2 == 0) 1f else -1f)
    val vC = Array.tabulate(dim)(j => if (j < dim / 2) 1f else 0f)
    val c = Seq((10L, vA), (11L, vA), (12L, vA), (20L, vB), (30L, vC))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, vA)).toDF("query_id", "embedding")
    // λ < 0.5: when the query has exact copies in the corpus, every
    // candidate's redundancy-to-the-selected-copy equals its relevance,
    // so mmr = (2λ−1)·rel — only λ < 0.5 penalizes duplicates harder
    // than it rewards their relevance (λ > 0.5 deliberately keeps them)
    val got = Similarity.mmrTopK(c, q, "vec_id", "embedding",
        "query_id", "embedding", k = 3, lambda = 0.3, poolSize = 5)
      .orderBy("round").select("vec_id").as[Long].collect().toSeq
    // round 1: most relevant (a copy of A, smallest id = 10). Rounds 2-3:
    // plain top-k would take the other A copies (cosine 1); MMR penalizes
    // them (similarity 1 to the selected copy) and takes B and C first
    assert(got.head === 10L, got)
    assert(got.tail.toSet == Set(20L, 30L),
      s"MMR kept near-duplicates over diverse candidates: $got")
    // a pool smaller than k stops early instead of padding
    val small = Similarity.mmrTopK(c.filter($"vec_id" <= 11), q, "vec_id",
      "embedding", "query_id", "embedding", k = 5, lambda = 0.5,
      poolSize = 5)
    assert(small.count() === 2L)
  }

  test("ivfPqTopK: planted identical vector survives ADC into exact rank 1") {
    val q = corpus.filter($"vec_id" === 21)
      .select(lit(1000L).as("query_id"), $"embedding")
    val top = Similarity.ivfPqTopK(corpus, q, "vec_id", "embedding",
      "query_id", "embedding", k = 3, dim = dim, numCentroids = 8,
      nprobe = 3, m = 4, codesPerSub = 8, rerank = 16)
    val first = top.filter($"rank" === 1).select("vec_id", "cosine")
      .as[(Long, Double)].head()
    assert(first._1 === 21L)
    // the final ranking is exact cosine (re-rank), not the ADC estimate
    assert(math.abs(first._2 - 1.0) < 1e-9)
  }

  test("persisted IVF-PQ index: loaded search equals the in-query build " +
      "row-for-row; incremental encode matches the one-shot code table") {
    val dir = tempDir("ivfpq_idx")
    val q = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    // same corpus, same params: the persisted model is the in-query model
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", s"$dir/a",
      dim = dim, numCentroids = 8, m = 4, codesPerSub = 8)
    val inQuery = Similarity.ivfPqTopK(corpus, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, dim = dim, numCentroids = 8,
      nprobe = 3, m = 4, codesPerSub = 8, rerank = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    val loaded = Similarity.ivfPqTopKFromIndex(s"$dir/a", corpus, q,
      "vec_id", "embedding", "query_id", "embedding",
      k = 5, nprobe = 3, rerank = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(loaded === inQuery, "persist/load changed the search results")
    // incremental growth contract: build on base + encode the rest under
    // the persisted model == one-shot encode of everything under a model
    // trained on the same base (trainOn)
    val base = corpus.filter($"vec_id" < 60)
    val rest = corpus.filter($"vec_id" >= 60)
    Similarity.buildIvfPqIndex(base, "vec_id", "embedding", s"$dir/b",
      dim = dim, numCentroids = 8, m = 4, codesPerSub = 8)
    Similarity.encodeIntoIvfPqIndex(rest, "vec_id", "embedding", s"$dir/b")
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", s"$dir/c",
      dim = dim, numCentroids = 8, m = 4, codesPerSub = 8,
      trainOn = Some(base))
    def codes(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"__list", $"__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(codes(s"$dir/b/codes") === codes(s"$dir/c/codes"),
      "incremental encode diverged from the one-shot code table")
  }

  test("legacy FLAT code table: search still answers identically and " +
      "incremental encode appends flat (never mixes layouts)") {
    val dir = tempDir("ivfpq_flat")
    val base = corpus.filter($"vec_id" < 60)
    val rest = corpus.filter($"vec_id" >= 60)
    val q = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    Similarity.buildIvfPqIndex(base, "vec_id", "embedding", s"$dir/idx",
      dim = dim, numCentroids = 8, m = 4, codesPerSub = 8)
    // rewrite the codes flat, simulating a pre-partitioning index
    val flat = spark.read.parquet(s"$dir/idx/codes")
      .select($"vec_id", $"__list".cast("int").as("__list"), $"__codes")
      .localCheckpoint(true)
    val codesPath = new org.apache.hadoop.fs.Path(s"$dir/idx/codes")
    codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(codesPath, true)
    flat.write.parquet(s"$dir/idx/codes")
    // growth must match the stored layout — a partitioned append into a
    // flat directory would break partition discovery for every later read
    Similarity.encodeIntoIvfPqIndex(rest, "vec_id", "embedding", s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/codes").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("__list=")),
      "incremental encode mixed a partitioned append into a flat code table")
    val legacy = Similarity.ivfPqTopKFromIndex(s"$dir/idx", corpus, q,
      "vec_id", "embedding", "query_id", "embedding",
      k = 5, nprobe = 3, rerank = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    // the partitioned twin of the same index answers identically
    Similarity.buildIvfPqIndex(base, "vec_id", "embedding", s"$dir/part",
      dim = dim, numCentroids = 8, m = 4, codesPerSub = 8)
    Similarity.encodeIntoIvfPqIndex(rest, "vec_id", "embedding", s"$dir/part")
    val part = Similarity.ivfPqTopKFromIndex(s"$dir/part", corpus, q,
      "vec_id", "embedding", "query_id", "embedding",
      k = 5, nprobe = 3, rerank = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(legacy === part, "flat and partitioned code tables diverged")
  }

  test("ivfPqTopK recall vs brute force") {
    val q = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val c = corpus.filter($"vec_id" >= 5)
    val exact = Similarity.bruteForceTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfPqTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, dim = dim, numCentroids = 8,
      nprobe = 4, m = 4, codesPerSub = 8, rerank = 16)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall $recall too low")
  }

  test("ivfPqTopK reported cosines equal the exact cosine for returned pairs") {
    val q = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val c = corpus.filter($"vec_id" >= 5)
    val approx = Similarity.ivfPqTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 5, dim = dim, numCentroids = 8,
      nprobe = 4, m = 4, codesPerSub = 8, rerank = 16)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect()
    val exactAll = Similarity.bruteForceTopK(c, q, "vec_id", "embedding",
      "query_id", "embedding", k = 95)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().map { case (qi, vi, s) => (qi, vi) -> s }.toMap
    approx.foreach { case (qi, vi, s) =>
      assert(math.abs(s - exactAll((qi, vi))) < 1e-12,
        s"pair ($qi,$vi): reported $s is not the exact cosine — " +
          "re-rank must score true distances, never the ADC estimate")
    }
  }

  test("cosineNearDupPairs finds planted duplicates within buckets") {
    val planted = corpus.unionByName(
      corpus.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000).as("vec_id"), $"embedding"))
    val pairs = Similarity.cosineNearDupPairs(planted, "vec_id", "embedding",
      dim = dim, threshold = 0.9999)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // all 10 planted copies must be found: identical vector => identical
    // signature => same bucket, cosine 1
    (0 until 100 by 10).foreach { i =>
      assert(pairs.contains((i.toLong, i.toLong + 1000)), s"missing planted pair $i")
    }
  }

  test("rankTopK heap aggregate is row-for-row equal to a row_number window") {
    import org.apache.spark.sql.expressions.Window
    // adversarial scores: duplicates (tie-break on id), negatives, many
    // queries — the heap must reproduce (score DESC, id ASC) exactly
    val scored = (0 until 2000).map { i =>
      (i % 7L, i.toLong, ((i * 37) % 100).toDouble / 10.0)
    }.toDF("query_id", "vec_id", "cosine")
      .repartition(8) // force multi-partition partial aggregation + merge
    val viaHeap = Similarity.rankTopK(scored, "query_id", "vec_id", k = 9)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id".asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 9)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaHeap === viaWindow)
    assert(viaHeap.size === 7 * 9)
  }

  test("rankTopK with string ids orders ties lexicographically like SQL") {
    val scored = Seq(
      ("q", "bb", 1.0), ("q", "aa", 1.0), ("q", "cc", 1.0), ("q", "ab", 0.5))
      .toDF("query_id", "doc_id", "cosine").repartition(3)
    val got = Similarity.rankTopK(scored, "query_id", "doc_id", k = 3)
      .orderBy("rank").select("doc_id", "rank")
      .as[(String, Int)].collect().toSeq
    assert(got === Seq(("aa", 1), ("bb", 2), ("cc", 3)))
  }

  test("rankTopK orders -0.0 and 0.0 as equal scores, exactly like the window") {
    import org.apache.spark.sql.expressions.Window
    // SQL ordering treats -0.0 == 0.0 (SQLOrderingUtil), so ±0.0 scores are
    // ties broken by id ASC; java.lang.Double.compare would put -0.0 below
    // 0.0 and diverge from the window (ADVICE r4)
    val scored = Seq(
      ("q", 4L, -0.0), ("q", 1L, 0.0), ("q", 3L, -0.0), ("q", 2L, 0.0),
      ("q", 5L, -1.0))
      .toDF("query_id", "vec_id", "cosine").repartition(3)
    val viaHeap = Similarity.rankTopK(scored, "query_id", "vec_id", k = 3)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSet
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id".asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSet
    assert(viaHeap === viaWindow)
    assert(viaHeap === Set((1L, 1), (2L, 2), (3L, 3)))
  }

  test("top_k_by rejects unsupported id types at analysis time") {
    // an array id would ClassCastException in the heap ordering and throw
    // UnsupportedOperationException at serialize time — must fail analysis
    val df = Seq((1L, Array(1, 2), 0.5)).toDF("q", "arr_id", "score")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy("q")
        .agg(graft.functions.GraftFunctions.top_k_by($"score", $"arr_id", 3).as("t"))
        .collect()
    }
    assert(e.getMessage.contains("unsupported id type"))
  }

  test("TopKByScore eval is non-destructive (same buffer evaluates twice)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.functions.TopKByScore(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), k = 2)
    val buf = agg.createAggregationBuffer()
    Seq((0.3, 7L), (0.9, 1L), (0.5, 4L)).foreach { case (s, i) =>
      agg.update(buf, InternalRow(s, i))
    }
    val first = agg.eval(buf)
    val second = agg.eval(buf)
    assert(first.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() === 2)
    assert(first.toString === second.toString)
    assert(buf.size === 2, "buffer must survive eval")
  }

  test("dimension-mismatched vectors never poison results (null cosine)") {
    val bad = Seq((999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0)
      .select(lit(1L).as("query_id"), $"embedding")
    val top = Similarity.bruteForceTopK(corpus.unionByName(bad), q,
      "vec_id", "embedding", "query_id", "embedding", k = 200)
    assert(!top.select("vec_id").as[Long].collect().contains(999L))
  }

  test("int8 quantize/dequantize round trip bounds the error by scale/2") {
    val q = Similarity.quantizeInt8(corpus, "embedding")
    val d = Similarity.dequantizeInt8(q, "embedding_q8", "embedding_scale", "recon")
    val rows = d.select($"vec_id", $"embedding", $"recon", $"embedding_scale")
      .as[(Long, Array[Float], Array[Float], Float)].collect()
    assert(rows.length === 100)
    rows.foreach { case (id, orig, recon, scale) =>
      assert(orig.length === recon.length)
      orig.zip(recon).foreach { case (o, r) =>
        assert(math.abs(o - r) <= scale * 0.51f, s"vec $id error exceeds scale/2")
      }
    }
    // quantized values stay in the int8 symmetric range
    val qs = q.select($"embedding_q8").as[Seq[Byte]].collect()
    assert(qs.forall(_.forall(b => b >= -127 && b <= 127)))
  }

  test("quantizeInt8 handles the all-zero vector (scale 0, zero codes)") {
    val z = Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(z, "embedding")
    val (scale, codes) = q.select($"embedding_scale", $"embedding_q8")
      .as[(Float, Seq[Byte])].collect().head
    assert(scale === 0.0f)
    assert(codes.forall(_ === 0))
  }

  test("labelCentroids: per-(label, position) exact means") {
    val df = Seq(
      (1L, 0, Array(1.0f, 2.0f)),
      (2L, 0, Array(3.0f, 6.0f)),
      (3L, 1, Array(10.0f, 20.0f))).toDF("vec_id", "label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got((0, 0)) === ((2L, 2.0)))
    assert(got((0, 1)) === ((2L, 4.0)))
    assert(got((1, 0)) === ((1L, 10.0)))
    assert(got((1, 1)) === ((1L, 20.0)))
  }

  test("knnClassify: majority label wins; vote ties break to smallest label") {
    // axis-aligned clusters: label 5 along e0, label 9 along e1; the query
    // sits on e0 so its 3 nearest are the label-5 vectors
    val corpus = Seq(
      (1L, 5, Array(1.0f, 0.0f, 0.0f)),
      (2L, 5, Array(0.9f, 0.1f, 0.0f)),
      (3L, 5, Array(0.95f, 0.05f, 0.0f)),
      (4L, 9, Array(0.0f, 1.0f, 0.0f)),
      (5L, 9, Array(0.0f, 0.9f, 0.1f))).toDF("vec_id", "label", "embedding")
    val q = Seq((100L, Array(1.0f, 0.01f, 0.0f))).toDF("query_id", "embedding")
    val got = Similarity.knnClassify(corpus, q, "vec_id", "embedding",
        "query_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long)].collect().head
    assert(got === ((100L, 5, 3L)))

    // 1-1 vote split between labels 5 and 9 → smaller label wins: the
    // symmetric query is equidistant from the two axis vectors
    val q2 = Seq((200L, Array(0.7f, 0.7f, 0.0f))).toDF("query_id", "embedding")
    val tied = Similarity.knnClassify(
        corpus.filter($"vec_id".isin(1L, 4L)), q2, "vec_id", "embedding",
        "query_id", "embedding", "label", k = 2)
      .as[(Long, Int, Long)].collect().head
    assert(tied === ((200L, 5, 1L)))
  }

  test("semanticDedup: scaled copies collapse onto the smallest id; distinct vectors survive") {
    // two well-separated directions: e0-ish ids {1,2,3}, e1-ish ids {4,5}.
    // 2 and 3 are exact scalings of 1 (cosine exactly 1.0); 5 is a scaling
    // of 4. Centroids (2 smallest ids: 1, 2) both point e0-ward, but the
    // e1 vectors still pair with each other wherever they land together.
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f)),
      (4L, Array(0.0f, 1.0f)),
      (5L, Array(0.0f, 4.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding",
        numClusters = 2, threshold = 0.999)
      .select("vec_id", "dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((None, true)))
    assert(got(2L) === ((Some(1L), false)))
    assert(got(3L) === ((Some(1L), false)))
    assert(got(4L) === ((None, true)))
    assert(got(5L) === ((Some(4L), false)))
  }

  test("farthestPointSample equals the brute-force greedy walk; seed is min id") {
    val pool = corpus.filter($"vec_id" < 40)
    val got = Similarity.farthestPointSample(pool, "vec_id", "embedding", k = 6)
      .select("sel_rank", "vec_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(got.head === ((0, 0L)), "seed must be the smallest id")
    // brute-force greedy reimplementation
    val vecs = pool.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (i, v) => i -> v.toArray }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var sel = Vector(vecs.keys.min)
    while (sel.size < 6) {
      val next = vecs.keys.filterNot(sel.contains).toSeq
        .map(c => (sel.map(s => 1.0 - cos(vecs(c), vecs(s))).min, c))
        .maxBy { case (sc, id) => (sc, -id) }._2
      sel = sel :+ next
    }
    assert(got.map(_._2).toSeq === sel,
      s"greedy walks diverge: got ${got.map(_._2).toSeq} want $sel")
    // diversity property: the FPS set's min pairwise dissimilarity beats
    // the first-k prefix's
    def minPairDis(ids: Seq[Long]) =
      (for (a <- ids; b <- ids if a < b) yield 1.0 - cos(vecs(a), vecs(b))).min
    assert(minPairDis(got.map(_._2).toSeq) >= minPairDis((0L until 6L).toSeq))
  }

  test("farthestPointSample at k >= 64: balanced reduction and anti-join " +
      "cutover match the brute-force walk; pool-exhaustion and empty-pool guards") {
    val pool = corpus.filter($"vec_id" < 80)
    // antiJoinFrom = 4 forces the broadcast left-anti posture for nearly
    // the whole walk; k = 66 exercises the 32-ary least tree past two
    // levels. Order must equal the default-posture walk exactly.
    val got = Similarity.farthestPointSample(pool, "vec_id", "embedding",
        k = 66, antiJoinFrom = 4)
      .select("sel_rank", "vec_id").as[(Int, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    val vecs = pool.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (i, v) => i -> v.toArray }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var sel = Vector(vecs.keys.min)
    while (sel.size < 66) {
      val next = vecs.keys.filterNot(sel.contains).toSeq
        .map(c => (sel.map(s => 1.0 - cos(vecs(c), vecs(s))).min, c))
        .maxBy { case (sc, id) => (sc, -id) }._2
      sel = sel :+ next
    }
    assert(got === sel, s"greedy walks diverge at k=66")
    // k past the pool size stops at the pool, one row per vector
    val tiny = corpus.filter($"vec_id" < 5)
    val all = Similarity.farthestPointSample(tiny, "vec_id", "embedding", k = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(all === (0L until 5L).toSet)
    // an empty pool fails with a diagnosis, not a NoSuchElementException
    val err = intercept[IllegalArgumentException] {
      Similarity.farthestPointSample(corpus.filter($"vec_id" < 0),
        "vec_id", "embedding", k = 3)
    }
    assert(err.getMessage.contains("empty pool"))
  }

  test("farthestPointSample at k = 256: full walk matches brute force " +
      "through both postures; plan is join-free below the anti-join " +
      "cutover; maxK is a hard bound") {
    // deterministic in-memory pool (280 x dim-8) — the walk runs 256
    // driver-paced rounds, so keep each round a LocalRelation scan
    val rnd = new scala.util.Random(42)
    val data = (0L until 280L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
    val pool = data.toDF("vec_id", "embedding")
    val got = Similarity.farthestPointSample(pool, "vec_id", "embedding",
        k = 256)
      .select("sel_rank", "vec_id").as[(Int, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    assert(got.size === 256 && got.distinct.size === 256)
    val vecs = data.map { case (i, v) => i -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var sel = Vector(0L)
    while (sel.size < 256) {
      val next = vecs.keys.filterNot(sel.contains).toSeq
        .map(c => (sel.map(s => 1.0 - cos(vecs(c), vecs(s))).min, c))
        .maxBy { case (sc, id) => (sc, -id) }._2
      sel = sel :+ next
    }
    assert(got === sel, "greedy walks diverge at k=256")
    // plan pins on the production round frame: below the cutover the
    // remainder is an isin FILTER (no join anywhere in the plan); at the
    // cutover it is a broadcast left-anti against the selected-ids frame
    val few = data.take(3).map { case (i, v) =>
      (i, v.map(_.toFloat).toArray)
    }
    val below = Similarity.fpsRound(pool, "vec_id", "embedding", few,
      antiJoinFrom = 100).queryExecution.optimizedPlan.toString
    assert(!below.contains("Join"),
      s"sub-cutover FPS round must be join-free:\n$below")
    val many = (0L until 120L).map(i => (i, vecs(i).map(_.toFloat)))
    val above = Similarity.fpsRound(pool, "vec_id", "embedding", many,
      antiJoinFrom = 100).queryExecution.optimizedPlan.toString
    assert(above.contains("LeftAnti"),
      s"past-cutover FPS round must anti-join:\n$above")
    // the hard bound refuses instead of shipping megabytes of literals
    val err = intercept[IllegalArgumentException] {
      Similarity.farthestPointSample(pool, "vec_id", "embedding", k = 2049)
    }
    assert(err.getMessage.contains("exceeds maxK"))
    // and is caller-raisable when they mean it
    val ok = Similarity.farthestPointSample(pool, "vec_id", "embedding",
      k = 2, maxK = 3000)
    assert(ok.count() === 2L)
  }

  test("kmeansRefine: converges to the planted partition, matches a " +
      "driver-side replay of the quantized arithmetic, and empty " +
      "clusters keep their previous centroid") {
    // three well-separated planted groups in 4-D
    def jig(i: Long): Float = (i % 7).toFloat / 100f
    val pts = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val base = Array(0f, 0f, 0f, 0f); base(c) = 10f
      (i, base.zipWithIndex.map { case (v, d) => v + jig(i * 4 + d) }.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.kmeansRefine(df, "vec_id", "embedding", k = 3, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    // planted structure: ids 0,1,2 seed the three groups; every member of
    // group g must land with its seed
    assert((0L until 30L).forall(i => got(i) === got(i % 3)),
      s"planted groups split: $got")
    assert(got.values.toSet.size === 3)
    // driver-side replay: same init, same 1e-9-grid distances, same
    // decimal means — assignments must agree exactly
    def decMean(vs: Seq[Double]): Double =
      vs.map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / vs.size
    def qdist(v: Seq[Float], c: Seq[Double]): Long =
      v.zip(c).map { case (a, b) =>
        val d = a.toDouble - b; math.round(d * d * 1e9)
      }.sum
    var cents: Seq[Seq[Double]] =
      pts.sortBy(_._1).take(3).map(_._2.map(_.toDouble))
    def assignAll(): Map[Long, Int] = pts.map { case (i, v) =>
      i -> cents.zipWithIndex.map { case (c, ci) => (qdist(v, c), ci) }.min._2
    }.toMap
    for (_ <- 0 until 3) {
      val a = assignAll()
      cents = cents.indices.map { ci =>
        val members = pts.filter { case (i, _) => a(i) == ci }
        if (members.isEmpty) cents(ci)
        else (0 until 4).map(d => decMean(members.map(_._2(d).toDouble)))
      }
    }
    assert(assignAll() === got, "engine diverged from the replay")
    // degenerate pool: every vector identical -> all mass in cluster 0
    // (tie to the lower index), empty clusters keep previous centroids
    val flat = (0L until 9L).map((_, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val deg = Similarity.kmeansRefine(flat, "vec_id", "embedding", k = 3, iters = 2)
      .select("vec_id", "cluster", "dist").as[(Long, Int, Double)].collect()
    assert(deg.forall(r => r._2 === 0 && r._3 === 0.0), deg.mkString(","))
  }

  test("kmeansPlusPlusSeed: deterministic, never re-picks a center or a " +
      "duplicate of one, prefers far-out mass, and bounds k") {
    val pool = corpus.limit(50)
    val s1 = Similarity.kmeansPlusPlusSeed(pool, "vec_id", "embedding", 5)
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    val s2 = Similarity.kmeansPlusPlusSeed(pool, "vec_id", "embedding", 5)
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    assert(s1.toSeq == s2.toSeq, "seeding not deterministic")
    assert(s1.map(_._2).distinct.length === 5)
    assert(s1.head._2 === 0L && s1.head._3.isEmpty, "seed must be min id")
    // a pool that is 20 copies of one vector + ONE distant outlier: the
    // second center MUST be the outlier (every duplicate has weight 0)
    val flat = (0L until 20L).map((_, Seq(1f, 0f, 0f, 0f))) :+
      ((99L, Seq(0f, 50f, 0f, 0f)))
    val got = Similarity.kmeansPlusPlusSeed(flat.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    assert(got.map(_._2).take(2).toSeq === Seq(0L, 99L))
    // third round: every remaining vector duplicates a center -> the walk
    // stops at 2 instead of inventing a zero-weight pick
    assert(got.length === 2)
    val err = intercept[IllegalArgumentException] {
      Similarity.kmeansPlusPlusSeed(pool, "vec_id", "embedding", k = 257)
    }
    assert(err.getMessage.contains("maxK"))
  }

  test("assignToCentroids under the seed codebook equals kmeansRefine at " +
      "iters = 0 row-for-row (the refactor-consistency pin)") {
    val pool = corpus.limit(40)
    val cents = Similarity.seedCentroids(pool, "vec_id", "embedding", 4)
    assert(cents.length === 4 && cents.head.nonEmpty)
    val viaAssign = Similarity.assignToCentroids(pool, "vec_id", "embedding",
        cents)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val viaRefine = Similarity.kmeansRefine(pool, "vec_id", "embedding",
        k = 4, iters = 0)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(viaAssign === viaRefine)
  }

  test("signRandomProjection: deterministic, seed-sensitive, and " +
      "distance-preserving in the JL sense on the fixture") {
    val emb = corpus.limit(60)
    val p1 = Similarity.signRandomProjection(emb, "vec_id", "embedding", 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    val p2 = Similarity.signRandomProjection(emb, "vec_id", "embedding", 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(p1.toSeq == p2.toSeq, "projection not deterministic")
    val p3 = Similarity.signRandomProjection(emb, "vec_id", "embedding", 16,
        seed = 7L)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(p1.toSeq != p3.toSeq, "seed has no effect")
    // JL property: projected pairwise distances concentrate around the
    // originals — mean ratio near 1, no catastrophic collapse
    val orig = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val proj = p1.groupBy(_._1).map { case (id, rows) =>
      id -> rows.sortBy(_._2).map(_._3)
    }
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val ratios = for {
      i <- ids.indices; jj <- (i + 1) until ids.size
      a = ids(i); b = ids(jj)
      od = d2(orig(a).map(_.toDouble), orig(b).map(_.toDouble))
      if od > 1e-9
    } yield d2(proj(a), proj(b)) / od
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean distance ratio off: $mean")
    assert(ratios.count(r => r > 0.2 && r < 5.0).toDouble / ratios.size > 0.95,
      "too many pairs badly distorted")
  }

  test("robustScaleDims: median maps to 0, IQR to unit scale; constant dims to 0") {
    // dim 0: values 0..4 per row (median 2, IQR 2); dim 1: constant
    val df = (0 until 5).map(i => (i.toLong, Array(i.toFloat, 7f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.robustScaleDims(df, "vec_id", "embedding")
      .select($"vec_id", $"embedding_r").as[(Long, Seq[Double])]
      .collect().toMap
    // (x - 2) / 2 exactly; constant dim -> 0 (not NaN/Inf)
    (0 until 5).foreach { i =>
      assert(math.abs(out(i.toLong)(0) - (i - 2.0) / 2.0) < 1e-12)
      assert(out(i.toLong)(1) === 0.0)
    }
    // robustness: one wild outlier must NOT move the scale of the others
    // the way it moves a z-score (median/IQR of 0..4,1000 ~ unchanged)
    val heavy = ((0 until 5).map(i => (i.toLong, Array(i.toFloat))) :+
      (99L, Array(1000f))).toDF("vec_id", "embedding")
    val r = Similarity.robustScaleDims(heavy, "vec_id", "embedding")
      .select($"vec_id", $"embedding_r").as[(Long, Seq[Double])].collect().toMap
    val z = Similarity.standardizeDims(heavy, "vec_id", "embedding")
      .select($"vec_id", $"embedding_z").as[(Long, Seq[Double])].collect().toMap
    // spread of the five inliers under each scaling
    def spread(m: Map[Long, Seq[Double]]) =
      (0 until 5).map(i => m(i.toLong).head).max - (0 until 5).map(i => m(i.toLong).head).min
    assert(spread(r) > 5 * spread(z),
      s"robust spread ${spread(r)} should dwarf z-score spread ${spread(z)} under an outlier")
  }

  test("standardizeDims: exact per-dimension z-scores; constant dims map to 0") {
    val df = Seq((1L, Array(0f, 2f)), (2L, Array(2f, 2f)), (3L, Array(4f, 2f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.standardizeDims(df, "vec_id", "embedding")
      .select($"vec_id", $"embedding_z").as[(Long, Seq[Double])].collect().toMap
    // dim 0: mean 2, var ((−2)²+0+2²)/3 = 8/3
    val std = math.sqrt(8.0 / 3.0)
    assert(math.abs(got(1L)(0) - (-2.0 / std)) < 1e-12)
    assert(got(2L)(0) === 0.0)
    assert(math.abs(got(3L)(0) - (2.0 / std)) < 1e-12)
    // dim 1 is constant → z = 0 everywhere, never NaN
    assert(got.values.forall(_(1) === 0.0))
  }

  test("topPrincipalComponent: planted dominant axis is recovered exactly") {
    // variance lives entirely on dim 0 (values −2, 0, 2 — binary-exact, so
    // DECIMAL moment routing is lossless); dim 1 constant, dim 2 zero.
    // cov = diag(8/3, 0, 0) → one power round lands exactly on (1, 0, 0)
    val df = Seq((1L, Array(-2f, 5f, 0f)), (2L, Array(0f, 5f, 0f)),
      (3L, Array(2f, 5f, 0f))).toDF("vec_id", "embedding")
    val (n, means, pc) = Similarity.topPrincipalComponent(df, "embedding")
    assert(n === 3L)
    assert(means.toSeq === Seq(0.0, 5.0, 0.0))
    assert(pc.toSeq === Seq(1.0, 0.0, 0.0))
    // projection is then exactly the centered dim-0 coordinate
    val proj = Similarity.pcaProject(df, "vec_id", "embedding")
      .select($"vec_id", $"pc1_proj").as[(Long, Double)].collect().toMap
    assert(proj === Map(1L -> -2.0, 2L -> 0.0, 3L -> 2.0))
  }

  test("knnGraph: planted duplicate is its source's rank-1 neighbor at cosine 1") {
    // identical vectors share every sign bit, so co-bucketing is
    // guaranteed — the planted edge MUST appear regardless of plane count
    val planted = corpus.filter($"vec_id" === 42)
      .select(lit(5042L).as("vec_id"), $"embedding")
    val g = Similarity.knnGraph(corpus.unionByName(planted),
      "vec_id", "embedding", dim = dim, k = 3, numPlanes = 4)
    val top = g.filter($"vec_id" === 42 && $"rank" === 1)
      .select($"neighbor_id", $"cosine").as[(Long, Double)].head()
    assert(top._1 === 5042L)
    assert(math.abs(top._2 - 1.0) < 1e-12)
    // degree bound holds and no self-edges leak
    val byNode = g.groupBy("vec_id").count().agg(max("count")).as[Long].head()
    assert(byNode <= 3L)
    assert(g.filter($"vec_id" === $"neighbor_id").count() === 0L)
    // reruns reproduce the graph exactly (deterministic planes, no RNG)
    val again = Similarity.knnGraph(corpus.unionByName(planted),
      "vec_id", "embedding", dim = dim, k = 3, numPlanes = 4)
      .select("vec_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(again === g.select("vec_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet)
  }

  test("covarianceModel rejects ragged vectors instead of silently mis-dividing") {
    // every dimension's sum divides by ONE row count — ragged input would
    // make dim-1's mean wrong by the missing-cell fraction with no error
    val ragged = Seq((1L, Array(1f, 2f)), (2L, Array(3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.topPrincipalComponent(ragged, "embedding")
    }
    assert(e.getMessage.contains("ragged"), e.getMessage)
  }

  test("pcaProject: distributed projection replays the model bit-for-bit") {
    val (_, means, pc) = Similarity.topPrincipalComponent(corpus, "embedding")
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-12, "unit norm")
    val got = Similarity.pcaProject(corpus, "vec_id", "embedding")
      .select($"vec_id", $"pc1_proj").as[(Long, Double)].collect().toMap
    // driver replay with the SAME left-to-right fold order the engine's
    // `aggregate` uses — equality is exact, not approximate
    val raw = corpus.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    raw.foreach { case (id, v) =>
      var acc = 0.0
      v.indices.foreach(j => acc += (v(j).toDouble - means(j)) * pc(j))
      assert(got(id) === acc, s"projection mismatch for $id")
    }
  }

  test("semanticDedup: over-cap clusters are exempted from pairing, members kept") {
    // all five vectors are mutual duplicates in one cluster; with the skew
    // guard capping clusters at 3 the pairing is skipped and every row is
    // conservatively kept (never silently dropped)
    val df = (1L to 5L).map(i => (i, Array(i.toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding",
        numClusters = 1, threshold = 0.999, maxClusterSize = 3)
    assert(got.count() === 5L)
    assert(got.filter($"keep").count() === 5L)
  }

  test("annJoin: full probe equals the exact per-left top-k for EVERY " +
      "salt count, partial probe is a subset, plan has no cartesian") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val leftV = (0 until 20).map(i => (i.toLong, vec()))
      .toDF("query_id", "embedding")
    val rightV = (100 until 160).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(rightV, leftV,
        "vec_id", "embedding", "query_id", "embedding", k = 3)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    Seq(1, 3).foreach { s =>
      val full = Similarity.annJoin(leftV, rightV, "query_id", "embedding",
          "vec_id", "embedding", k = 3, numCentroids = 4, nprobe = 4,
          salts = s)
        .select("query_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(full === exact, s"salts=$s")
    }
    // partial probe: an approximation can lose neighbors but can never
    // FIND a better one than the exact top-1
    val exactBest = Similarity.bruteForceTopK(rightV, leftV,
        "vec_id", "embedding", "query_id", "embedding", k = 1)
      .select("query_id", "cosine").as[(Long, Double)].collect().toMap
    val partialBest = Similarity.annJoin(leftV, rightV, "query_id", "embedding",
        "vec_id", "embedding", k = 1, numCentroids = 4, nprobe = 1, salts = 2)
      .select("query_id", "cosine").as[(Long, Double)].collect().toMap
    partialBest.foreach { case (q, c) =>
      assert(c <= exactBest(q) + 1e-12, s"query $q beat the exact best")
    }
    val plan = Similarity.annJoin(leftV, rightV, "query_id", "embedding",
        "vec_id", "embedding", k = 3, numCentroids = 4, nprobe = 4, salts = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("linearMmd: identical corpora score 0, hand-computed mean gap, " +
      "mismatched dimensionality fails fast") {
    import spark.implicits._
    val a = Seq(Array(0f, 0f), Array(2f, 2f)).toDF("embedding")
    val b = Seq(Array(3f, 5f)).toDF("embedding")
    val same = Similarity.linearMmd(a, a, "embedding").head()
    assert(same.getDouble(3) === 0.0)
    val r = Similarity.linearMmd(a, b, "embedding").head()
    // means [1,1] vs [3,5] -> 4 + 16
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      === ((2L, 1L, 2L, 20.0)))
    val bad = Seq(Array(1f, 2f, 3f)).toDF("embedding")
    val err = intercept[Exception] {
      Similarity.linearMmd(a, bad, "embedding").collect()
    }
    assert(err.getMessage.contains("dimension"), err.getMessage)
  }

  test("ivfProbeCurve: recall and cost are monotone in nprobe, the full " +
      "probe level is exact (recall 1.0), and probe levels validate") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val corpus = (0L until 60L).map(i => (i + 100L, vec())).toDF(
      "vec_id", "embedding")
    val queries = (0L until 5L).map(i => (i, vec())).toDF(
      "query_id", "embedding")
    val cents = Array.fill(4)(vec())
    val curve = Similarity.ivfProbeCurve(corpus, queries, "vec_id",
        "embedding", "query_id", "embedding", k = 5, cents, Seq(1, 2, 4))
      .as[(Int, Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq === Seq(1, 2, 4))
    assert(curve.forall(_._2 === 5L))
    // monotone: more probes never lose recall or scan fewer candidates
    assert(curve.map(_._3).toSeq === curve.map(_._3).toSeq.sorted, curve.toSeq)
    assert(curve.map(_._5).toSeq === curve.map(_._5).toSeq.sorted, curve.toSeq)
    // probing EVERY list degenerates to exact: 25 hits out of 25
    assert(curve.last._3 === 25L && curve.last._4 === 1.0, curve.toSeq)
    // at full probe every corpus vector is a candidate for every query
    assert(curve.last._5 === 300L)
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfProbeCurve(corpus, queries, "vec_id", "embedding",
        "query_id", "embedding", 5, cents, Seq(0, 2))
    }
    assert(err.getMessage.contains("probe levels"), err.getMessage)
  }

  test("silhouetteScore: hand-computed symmetric clusters, coincident-" +
      "centroid zero, k=1 NULL") {
    import spark.implicits._
    // A: (0,0),(0,2) centroid (0,1); B: (10,0),(10,2) centroid (10,1).
    // every point: a = 1, b = sqrt(101), s = 1 - 1/sqrt(101)
    val pts = Seq(
      (1L, "A", 0.0, 0.0), (2L, "A", 0.0, 2.0),
      (3L, "B", 10.0, 0.0), (4L, "B", 10.0, 2.0))
      .toDF("id", "cl", "x", "y")
    val got = Similarity.silhouetteScore(pts, "id", "cl", Seq("x", "y"))
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3.get))).toMap
    val want = BigDecimal(1.0 - 1.0 / math.sqrt(101.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("A") === ((2L, want)))
    assert(got("B") === ((2L, want)))
    // a singleton sitting ON another cluster's centroid: a = b = 0 -> s = 0
    val withC = pts.union(Seq((5L, "C", 0.0, 1.0)).toDF("id", "cl", "x", "y"))
    val c = Similarity.silhouetteScore(withC, "id", "cl", Seq("x", "y"))
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(c("C") === Some(0.0))
    // k = 1: b undefined everywhere, silhouette NULL
    val solo = Similarity.silhouetteScore(
      pts.filter($"cl" === "A"), "id", "cl", Seq("x", "y"))
      .as[(String, Long, Option[Double])].head()
    assert(solo._1 === "A" && solo._2 === 2L && solo._3 === None)
  }

  test("hardNegativesIvf: full probe equals brute-force hardNegatives; " +
      "partial probe keeps reasonable recall and never returns same-label rows") {
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = labeled.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding", $"label")
    val c = labeled.filter($"vec_id" >= 5)
    val exact = Similarity.hardNegatives(c, q, "vec_id", "embedding",
        "label", "query_id", "embedding", "label", k = 5)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    val full = Similarity.hardNegativesIvf(c, q, "vec_id", "embedding",
        "label", "query_id", "embedding", "label", k = 5,
        numCentroids = 4, nprobe = 4)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(full === exact, "full probe must reproduce brute force exactly")
    val partial = Similarity.hardNegativesIvf(c, q, "vec_id", "embedding",
        "label", "query_id", "embedding", "label", k = 5,
        numCentroids = 4, nprobe = 2)
    val labels = labeled.select($"vec_id", $"label".as("clabel"))
    assert(partial.join(q.select($"query_id", $"label"), "query_id")
      .join(labels, "vec_id").filter($"label" === $"clabel").count() === 0L,
      "a same-label row leaked through the mismatch filter")
    val pset = partial.select($"query_id", $"vec_id").as[(Long, Long)]
      .collect().toSet
    val eset = exact.map(r => (r._1, r._2))
    val recall = (eset intersect pset).size.toDouble / eset.size
    assert(recall >= 0.3, s"partial-probe recall $recall too low")
  }

  test("rrfFuse: hand-computed fusion, single-leg items, tie-break, k bound") {
    // leg A ranks docs (1,2,3); leg B ranks (3,2,4) — doc 5 only exists
    // for query 2 in leg B
    val legA = Seq((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3), (2L, 9L, 1))
      .toDF("query_id", "doc_id", "rank")
    val legB = Seq((1L, 3L, 1), (1L, 2L, 2), (1L, 4L, 3), (2L, 5L, 1))
      .toDF("query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(legA, legB), "query_id", "doc_id",
        "rank", k = 3)
      .select($"query_id", $"doc_id", $"rank", round($"rrf", 9).as("rrf"))
      .as[(Long, Long, Int, Double)].collect().toSet
    def r(n: Int) = BigDecimal(1.0 / (60.0 + n))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // q1: doc2 = r(2)+r(2), doc3 = r(3)+r(1), doc1 = r(1), doc4 = r(3);
    // doc3 (1/63 + 1/61 ≈ .0322665) > doc2 (2/62 ≈ .0322581) > doc1
    // (1/61) — doc4 misses k=3
    assert(got.filter(_._1 == 1L) === Set(
      (1L, 3L, 1, (r(3) + r(1)).toDouble),
      (1L, 2L, 2, (r(2) + r(2)).toDouble),
      (1L, 1L, 3, r(1).toDouble)))
    // q2: two single-leg docs tie at r(1) — tie breaks to the smaller id
    assert(got.filter(_._1 == 2L) === Set(
      (2L, 5L, 1, r(1).toDouble), (2L, 9L, 2, r(1).toDouble)))
  }

  test("rrfFuse: one leg is the identity fusion; k0 shifts scores monotonically") {
    val leg = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val alone = Similarity.rrfFuse(Seq(leg), "query_id", "doc_id", "rank",
        k = 3)
      .select($"doc_id", $"rank").as[(Long, Int)].collect().toSet
    assert(alone === Set((10L, 1), (20L, 2), (30L, 3)))
    val k0Zero = Similarity.rrfFuse(Seq(leg), "query_id", "doc_id", "rank",
        k = 1, k0 = 0)
      .select($"doc_id", $"rrf").as[(Long, Double)].head()
    assert(k0Zero === ((10L, 1.0)))
  }
}
