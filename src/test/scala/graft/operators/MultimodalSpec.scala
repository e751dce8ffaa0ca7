package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val media = Multimodal.fromText(
    Seq((1L, "hello world this is payload"), (2L, "short")).toDF("doc_id", "text"),
    "doc_id", "text", "txt")

  test("fromText produces the canonical (media_id, content, meta) layout") {
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "content", "meta"))
    val meta = media.filter($"media_id" === 1).select("meta.n_bytes").as[Long].head()
    assert(meta === "hello world this is payload".getBytes("UTF-8").length.toLong)
  }

  test("decodeStub is deterministic and adds width/height") {
    val a = Multimodal.decodeStub(media).select("media_id", "width", "height")
      .as[(Long, Int, Int)].collect().toSet
    val b = Multimodal.decodeStub(media).select("media_id", "width", "height")
      .as[(Long, Int, Int)].collect().toSet
    assert(a === b)
    assert(a.forall { case (_, w, h) => w >= 16 && h >= 16 })
  }

  test("featureStub emits fixed-dim float vectors usable by Similarity") {
    val feats = Multimodal.featureStub(media, dim = 8)
    val v = feats.filter($"media_id" === 1).select("features")
      .as[Seq[Float]].head()
    assert(v.length === 8)
    // identical content => identical features (deterministic)
    val v2 = Multimodal.featureStub(media, dim = 8)
      .filter($"media_id" === 1).select("features").as[Seq[Float]].head()
    assert(v === v2)
  }

  test("frameSample splits payload bytes into n chunks covering the payload") {
    val frames = Multimodal.frameSample(media, n = 4)
      .select($"media_id", $"frame_no", length($"frame_bytes").as("len"))
      .as[(Long, Int, Int)].collect()
    val byMedia = frames.groupBy(_._1)
    assert(byMedia(1L).length === 4)
    val total = byMedia(1L).map(_._3).sum
    assert(total === "hello world this is payload".getBytes("UTF-8").length)
  }

  test("audioEnergyStub: window sums partition the payload byte sum exactly") {
    val docs = Seq((1L, "abcd" * 5), (2L, "xy")).toDF("doc_id", "text") // 20 and 2 bytes
    val media = Multimodal.fromText(docs, "doc_id", "text", "wav")
    val got = Multimodal.audioEnergyStub(media, windowBytes = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    def s(cs: String) = cs.map(_.toLong).sum
    // 20 bytes at w=8 -> windows of 8, 8, 4
    assert(got(1L) === Seq(s("abcdabcd"), s("abcdabcd"), s("abcd")))
    assert(got(2L) === Seq(s("xy")))
    // exact partition of the total
    assert(got(1L).sum === s("abcd") * 5)
  }

  test("frameNearDupPairs: trailing edit keeps 3 of 4 frames shared; disjoint payloads never pair") {
    // 40-byte payloads → four DISTINCT 10-byte frames; doc 2 differs from
    // doc 1 only in the last byte, doc 3 is unrelated
    val base = "abcdefghijklmnopqrstuvwxyz0123456789!@#$"
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(1) + "X"),
      (3L, "ABCDEFGHIJKLMNOPQRSTUVWXYZ9876543210%^&*")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    val got = Multimodal.frameNearDupPairs(media, n = 4, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 3L)))
  }

  test("frameJaccardPairs: 3-of-5-union edit scores 0.6; the threshold cuts clips") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789!@#$"
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(1) + "X"),
      (3L, "ABCDEFGHIJKLMNOPQRSTUVWXYZ9876543210%^&*")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    val got = Multimodal.frameJaccardPairs(media, n = 4, threshold = 0.5)
      .select($"idA", $"idB", $"n_shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect()
    // docs 1/2: 3 shared of union 5 (4 + 4 − 3) → 0.6; doc 3 never pairs
    assert(got.toSeq === Seq((1L, 2L, 3L, 0.6)))
    // a higher threshold drops the pair
    assert(Multimodal.frameJaccardPairs(media, n = 4, threshold = 0.7).count() === 0L)
  }

  test("frameJaccardPairs: a tripped skew guard caps numerator AND denominator together") {
    // docs 1/2 share three private 10-char frames (P1 P2 P3); doc 1's
    // fourth frame Q is also every hot doc's only distinct frame, so
    // digest(Q)'s group (20 hot + doc 1 = 21) blows a cap of 10 and is
    // dropped. Consistent accounting must then also drop Q from doc 1's
    // set size: jaccard = 3 / (3 + 4 - 3) = 0.75. The pre-fix bug kept
    // uncapped counts (doc 1 size 4) and deflated it to 3/5 = 0.6.
    val p1 = "aaaaaaaaa1"; val p2 = "bbbbbbbbb2"; val p3 = "ccccccccc3"
    val q = "ddddddddd4"; val qAlt = "eeeeeeeee5"
    val docs = (Seq(
      (1L, p1 + p2 + p3 + q),
      (2L, p1 + p2 + p3 + qAlt)) ++
      (10L to 29L).map(i => (i, q * 4))).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    val got = Multimodal.frameJaccardPairs(media, n = 4, threshold = 0.5,
      maxDigestGroup = 10)
      .select($"idA", $"idB", $"n_shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 3L, 0.75)))
  }

  test("frameNearDupPairs: skew guard exempts over-cap digest groups instead of exploding") {
    // 20 identical payloads share every frame digest: group size 20 over
    // the cap → pairing skipped, zero pairs (conservative, observe-reported)
    val docs = (1L to 20L).map(i => (i, "same payload text here")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    val capped = Multimodal.frameNearDupPairs(media, n = 4, minShared = 1,
      maxDigestGroup = 10)
    assert(capped.count() === 0L)
    val uncapped = Multimodal.frameNearDupPairs(media, n = 4, minShared = 1,
      maxDigestGroup = 100)
    assert(uncapped.count() === 190L) // all 20·19/2 pairs
  }

  test("integrityAudit: truncation, mislabel, undersize and empty " +
      "payloads each trip exactly their own flag") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = "x".repeat(100)
    val rows = Seq(
      (1L, base, base, "txt"),              // clean
      (2L, base, base.take(10), "txt"),     // truncated content
      (3L, base, base, "png"),              // mislabeled
      (4L, "tiny", "tiny", "txt"),          // under the size band
      (5L, "", "", "txt"))                  // empty
      .toDF("media_id", "declared", "actual", "fmt")
    val media = rows.select(col("media_id"),
      encode(col("actual"), "UTF-8").as("content"),
      struct(col("fmt").as("format"),
        length(encode(col("declared"), "UTF-8")).cast("long").as("n_bytes"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height")).as("meta"))
    val got = Multimodal.integrityAudit(media, "txt", 50L, 1000L)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, true, true, true, true, true)))
    assert(got(2L) === ((2L, true, true, true, false, false)))
    assert(got(3L) === ((3L, false, true, true, true, false)))
    assert(got(4L) === ((4L, true, false, true, true, false)))
    assert(got(5L) === ((5L, true, false, false, true, false)))
  }

  test("cdcChunks kernel: lengths partition the payload, bounds hold, " +
      "and boundaries re-synchronize after a prepended byte") {
    val rnd = new scala.util.Random(42)
    val base = Array.fill[Byte](4096)((rnd.nextInt(256) - 128).toByte)
    def chunks(b: Array[Byte]): Seq[(Long, Long)] = {
      val a = graft.functions.HashKernels.cdcChunks(b, 32, 6, 256)
        .toLongArray()
      a.grouped(2).map(p => (p(0), p(1))).toSeq
    }
    val cs = chunks(base)
    assert(cs.map(_._1).sum === 4096L, "chunk lengths must partition")
    assert(cs.forall(_._1 <= 256L), "maxSize bound")
    assert(cs.dropRight(1).forall(_._1 >= 32L),
      "every non-trailing chunk respects minSize")
    assert(cs.size > 4, s"expected several chunks, got ${cs.size}")
    // shift-resistance: prepend one byte — after the first boundary the
    // walk re-synchronizes, so most chunk hashes are SHARED
    val shifted = chunks(0x7.toByte +: base)
    val shared = cs.map(_._2).toSet.intersect(shifted.map(_._2).toSet)
    assert(shared.size >= cs.size - 2,
      s"shifted copy must re-share almost all chunks: ${shared.size}/${cs.size}")
    assert(chunks(Array.emptyByteArray).isEmpty)
  }

  test("cdc_chunks fails loudly at plan time on invalid parameters from " +
      "ANY entry point — the kernel's output buffer assumes " +
      "minSize >= 1 and maxSize >= minSize") {
    import org.apache.spark.sql.functions.col
    def expr(min: Int, bits: Int, max: Int) =
      graft.functions.GraftFunctions.cdc_chunks(col("c"), min, bits, max)
    val e1 = intercept[IllegalArgumentException](expr(0, 6, 256))
    assert(e1.getMessage.contains("minSize"))
    val e2 = intercept[IllegalArgumentException](expr(32, 6, 16))
    assert(e2.getMessage.contains("maxSize"))
    val e3 = intercept[IllegalArgumentException](expr(32, 0, 256))
    assert(e3.getMessage.contains("maskBits"))
    val e4 = intercept[IllegalArgumentException](expr(32, 63, 256))
    assert(e4.getMessage.contains("maskBits"))
  }

  test("crossModalPairs: planted aligned pairs surface at rank 1 / cosine " +
      "1.0 under full probe, the threshold drops junk, and the result is " +
      "salt-invariant (the s32 skew recipe)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val textRows = (0L until 12L).map(i => (i, vec()))
    val text = textRows.toDF("text_id", "embedding")
    // media = each text vector re-embedded (exact 0.5x scaling: cosine-
    // preserving) + unaligned noise assets
    val media = textRows.map { case (i, v) => (i + 1000L, v.map(_ * 0.5f)) }
      .++((50L until 56L).map(j => (j + 1000L, vec())))
      .toDF("media_id", "embedding")
    def run(salts: Int) = graft.operators.Multimodal.crossModalPairs(
        text, media, "text_id", "embedding", "media_id", "embedding",
        k = 2, minCosine = 0.999, numCentroids = 4, nprobe = 4,
        salts = salts)
      .select(col("text_id"), col("media_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .as[(Long, Long, Int, Double)].collect().toSet
    val got = run(4)
    val rank1 = got.filter(_._3 == 1)
    assert(rank1 === textRows.map { case (i, _) =>
      (i, i + 1000L, 1, 1.0) }.toSet,
      "every text's best partner must be its planted media twin at 1.0")
    // threshold semantics: rank assigned BEFORE the cut, so surviving
    // rows keep their true rank and junk below the bar is simply absent
    assert(got.forall(_._4 >= 0.999))
    assert(run(1) === got, "salt count must not change the result")
  }

  test("payloadChunkDedup: identical payloads dedup fully, disjoint ones " +
      "not at all, empty corpus pins ratio 1.0") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val a = Array.fill[Byte](2048)((rnd.nextInt(256) - 128).toByte)
    val b = Array.fill[Byte](2048)((rnd.nextInt(256) - 128).toByte)
    val media = Seq((1L, a), (2L, a), (3L, b)).toDF("media_id", "content")
    val got = Multimodal.payloadChunkDedup(media, "media_id", "content")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(got._1 === 3L && got._2 === 6144L)
    // doc 2 repeats doc 1 exactly: its chunks all dedup away
    assert(got._5 === got._2 - 2048L,
      s"unique bytes must drop by exactly one copy of a: $got")
    assert(got._6 === BigDecimal(got._5.toDouble / got._2.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val empty = Multimodal.payloadChunkDedup(
      media.filter($"media_id" > 99), "media_id", "content")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(empty === ((0L, 0L, 0L, 0L, 0L, 1.0)))
  }

  test("pixelGridStub: 1024 samples in [0,255], stretch-sampled (constant " +
      "text maps to a constant grid at any length), empty/null drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("a" * 100)), (2L, Some("a" * 999)),
      (3L, Some("")), (4L, None: Option[String]),
      (5L, Some("ab"))).toDF("doc_id", "text")
    val got = Multimodal.pixelGridStub(docs, "doc_id", "text")
      .as[(Long, Seq[Int])].collect().toMap
    assert(got.keySet === Set(1L, 2L, 5L), "empty/null payloads drop")
    assert(got.values.forall(p => p.length === 1024 &&
      p.forall(v => v >= 0 && v <= 255)))
    // stretch invariance: 'aaaa…' reads 'a' at every sample whatever len
    assert(got(1L) === got(2L))
    // len=2: samples 0..511 read 'a', 512..1023 read 'b'
    assert(got(5L).take(512).forall(_ === 'a'.toInt) &&
      got(5L).drop(512).forall(_ === 'b'.toInt))
  }

  test("pHash64: deterministic, brightness-shift lands within a small " +
      "Hamming radius (the DC term is excluded), unrelated content lands " +
      "far, flat grids hash to 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(1024)(rnd.nextInt(256))
    val bright = base.map(p => math.min(p + 3, 255))
    val other = Seq.fill(1024)(rnd.nextInt(256))
    val flat = Seq.fill(1024)(77)
    val px = Seq((1L, base), (2L, bright), (3L, other), (4L, flat))
      .toDF("id", "pixels")
    val h = Multimodal.pHash64(px, "id", "pixels")
      .as[(Long, Long)].collect().toMap
    assert(h === Multimodal.pHash64(px, "id", "pixels")
      .as[(Long, Long)].collect().toMap)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // brightness rides the excluded DC term; only quantization leaks bits
    assert(ham(h(1L), h(2L)) <= 8,
      s"brightness shift must stay near: ${ham(h(1L), h(2L))}")
    // independent random grids: 63 fair coin flips — far apart
    assert(ham(h(1L), h(3L)) >= 15,
      s"unrelated content must land far: ${ham(h(1L), h(3L))}")
    // every non-DC coefficient of a flat grid is the same tiny residue
    // class around 0; none exceeds the median strictly on all-equal ties
    assert(h(4L) === 0L)
    // bit 63 clear by construction (63-bit hash)
    assert(h.values.forall(_ >= 0L))
  }

  test("audioFingerprintPairs: a window-aligned time-shifted copy matches " +
      "at exactly the shift offset with most landmarks aligned, unrelated " +
      "payloads stay unmatched, and the kernel's landmark arithmetic is " +
      "hand-checkable") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val base = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val pad = Array.fill[Byte](32)('P'.toByte) // exactly 2 16-byte windows
    val other = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val media = Seq(
      (1L, base), (2L, pad ++ base), (3L, other)).toDF("media_id", "content")
    val got = Multimodal.audioFingerprintPairs(media, "media_id",
        "content", windowBytes = 16, fanout = 3, zone = 16,
        minAligned = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.contains((1L, 2L)),
      s"the shifted copy must match its original: $got")
    val (off, n) = got((1L, 2L))
    assert(off === 2L, s"alignment must sit at the 2-window shift: $off")
    assert(n >= 5, s"most landmarks must align: $n")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)),
      s"unrelated payloads must not reach minAligned: $got")
    // kernel hand-check: one interior peak pair on a tiny signal —
    // windows [16x'a'=1552, 16x'z'=1952, 16x'a'=1552, 16x'y'=1936,
    // 16x'a'=1552]: peaks at windows 1 and 3, one landmark
    // h = 1952*2^28 + 1936*2^14 + 2, anchor 1
    val tiny = ("a" * 16 + "z" * 16 + "a" * 16 + "y" * 16 + "a" * 16)
      .getBytes("UTF-8")
    val fp = Seq((9L, tiny)).toDF("media_id", "content")
      .select(graft.functions.GraftFunctions.constellation_hashes(
        col("content"), 16, 3, 16).as("c"))
      .as[Seq[Long]].head()
    assert(fp === Seq(1952L * (1L << 28) + 1936L * (1L << 14) + 2L, 1L),
      s"hand-computed landmark mismatch: $fp")
  }

  test("videoClipAlign: a frame-aligned clip is found at exactly the " +
      "shift, frame-set jaccard misses it, boilerplate frames drop " +
      "under the skew guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // 40 frames of 16 random bytes; the clip drops the first 10 frames
    val base = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val clip = base.drop(160)
    val other = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val media = Seq((1L, base), (2L, clip), (3L, other))
      .toDF("media_id", "content")
    val got = Multimodal.videoClipAlign(media, "media_id", "content",
        frameBytes = 16, minAligned = 3)
      .as[(Long, Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.contains((1L, 2L)), s"clip must align with its source: $got")
    // source frame k+10 == clip frame k → f_offset = fB - fA = -10,
    // every one of the clip's 30 frames aligned
    assert(got((1L, 2L)) === ((-10, 30L)),
      s"alignment must sit at exactly the cut: ${got((1L, 2L))}")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)),
      s"unrelated payloads must not align: $got")
    // the frame-SET verdict on the same pair: the n-chunk grid rescales
    // with the clip's length, so m06-style jaccard sees (almost) nothing
    // — the gap m12 exists to close
    val jac = Multimodal.frameJaccardPairs(
      Seq((1L, base), (2L, clip)).toDF("media_id", "content")
        .select(col("media_id"), col("content"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.lit("video").as("format"),
            org.apache.spark.sql.functions.length(col("content"))
              .cast("long").as("n_bytes"),
            org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
            org.apache.spark.sql.functions.lit(null).cast("int").as("height"))
            .as("meta")),
      n = 4, threshold = 0.5)
    assert(jac.count() === 0L, "frame-set jaccard should miss the clip")
    // boilerplate frames (an identical intro on every asset) explode the
    // digest join quadratically: the guard drops the hot digests and the
    // residual unique content decides — here nothing else is shared
    val intro = Array.fill[Byte](48)('I'.toByte) // 3 shared intro frames
    val many = (1L to 30L).map(i =>
      (i, intro ++ Array.fill[Byte](64)((rnd.nextInt(96) + 32).toByte)))
      .toDF("media_id", "content")
    val guarded = Multimodal.videoClipAlign(many, "media_id", "content",
      frameBytes = 16, minAligned = 1, maxDigestGroup = 10)
    assert(guarded.count() === 0L,
      "intro-frame digests over the cap must drop, not pair every asset")
    val unguarded = Multimodal.videoClipAlign(many, "media_id", "content",
      frameBytes = 16, minAligned = 3, maxDigestGroup = 1000)
    assert(unguarded.count() === (30L * 29L) / 2,
      "under the cap the 3 shared intro frames align every pair at 0")
  }

  test("sceneSegments: cuts land exactly at over-threshold energy jumps, " +
      "scene 0 opens at window 0, the keyframe is the peak window with " +
      "ties to the earlier one") {
    import spark.implicits._
    // 16-byte windows: 'a'*16 = 1552, 'z'*16 = 1952, 'b'*16 = 1568.
    // Payload windows: a a z z a b  → |Δ| = 0, 400, 0, 400, 16
    // threshold 120 → cuts open at windows 2 and 4: scenes
    // [0,1], [2,3], [4,5]; scene 2's energies (1552, 1568) peak at 5;
    // scene 1's tie (1952, 1952) must pick the EARLIER window 2
    val payload = ("a" * 32 + "z" * 32 + "a" * 16 + "b" * 16).getBytes("UTF-8")
    val got = Multimodal.sceneSegments(
        Seq((1L, payload)).toDF("media_id", "content"),
        "media_id", "content", windowBytes = 16, cutThreshold = 120)
      .as[(Long, Long, Int, Long, Int, Long)].collect().sortBy(_._2).toSeq
    assert(got === Seq(
      (1L, 0L, 0, 2L, 0, 1552L),
      (1L, 1L, 2, 2L, 2, 1952L),
      (1L, 2L, 4, 2L, 5, 1568L)), s"scene layout off: $got")
    // a threshold above every jump yields ONE scene per asset
    val one = Multimodal.sceneSegments(
        Seq((1L, payload)).toDF("media_id", "content"),
        "media_id", "content", windowBytes = 16, cutThreshold = 10000)
      .as[(Long, Long, Int, Long, Int, Long)].collect().toSeq
    assert(one === Seq((1L, 0L, 0, 6L, 2, 1952L)), s"one-scene case off: $one")
  }

  test("MediaDecoder seam: the fused byte kernel IS the split " +
      "energies->landmarks composition, and a custom decoder binding " +
      "swaps the decode without touching the pair algebra") {
    import spark.implicits._
    // bit-identical split: constellation_hashes(bytes, w, f, z) ==
    // constellation_from_energies(byte_window_energies(bytes, w), f, z)
    // on random payloads (the refactor contract behind m11/e34)
    val rnd = new scala.util.Random(7)
    val payloads = (1L to 50L)
      .map(i => (i, Array.fill[Byte](rnd.nextInt(400))(
        (rnd.nextInt(96) + 32).toByte)))
      .toDF("media_id", "content")
    val both = payloads.select(
      graft.functions.GraftFunctions.constellation_hashes(
        col("content"), 16, 3, 16).as("fused"),
      graft.functions.GraftFunctions.constellation_from_energies(
        graft.functions.GraftFunctions.byte_window_energies(
          col("content"), 16), 3, 16).as("split"))
    assert(both.filter(not(col("fused") === col("split"))).count() === 0L,
      "fused and split constellation kernels diverged")
    // an out-of-contract energy envelope (>= 2^14) fails loudly at the
    // landmark, never as silently colliding hashes
    val bad = Seq(Seq(1L, 99999L, 1L, 88888L, 1L)).toDF("e")
      .select(graft.functions.GraftFunctions.constellation_from_energies(
        col("e"), 3, 16).as("c"))
    val err = intercept[Exception] { bad.collect() }
    assert(err.getMessage.contains("14 bits") ||
      err.getCause != null && err.getCause.getMessage.contains("14 bits"))
    // a custom binding: decode = constant-pixel grid / flat envelope /
    // one-frame grid. The operators run unchanged over it — the trait is
    // the ONLY thing a real codec implements
    object FlatDecoder extends MediaDecoder {
      def pixelGrid(payload: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), lit(1023)), _ => lit(7))
      def energyEnvelope(payload: org.apache.spark.sql.Column) =
        graft.functions.GraftFunctions.byte_window_energies(payload, 32)
      def sampleFrames(payload: org.apache.spark.sql.Column, n: Int) =
        transform(sequence(lit(0), lit(n - 1)),
          i => payload.substr(i + 1, lit(1)))
      def frameGrid(payload: org.apache.spark.sql.Column) = sampleFrames(payload, 4)
    }
    val media = payloads.filter(length(col("content")) >= 64)
    val px = Multimodal.pixelGrid(media, "media_id", "content", FlatDecoder)
    assert(px.count() === media.count() &&
      Multimodal.pHash64(px, "media_id", "pixels")
        .select("phash").distinct().count() === 1L,
      "constant pixels must hash identically through the unchanged DCT")
    assert(Multimodal.audioFingerprintPairs(media, "media_id", "content",
      minAligned = 1, decoder = Some(FlatDecoder)).columns.toSeq ===
      Seq("idA", "idB", "t_offset", "n_aligned"))
    assert(Multimodal.videoClipAlign(media, "media_id", "content",
      minAligned = 1, decoder = Some(FlatDecoder)).columns.toSeq ===
      Seq("idA", "idB", "f_offset", "n_aligned"))
  }

  test("pHashPairs: banded candidate generation finds EVERY pair within " +
      "maxHamming (pigeonhole recall 1.0) and nothing beyond") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val sigs = (0 until 60).map { i =>
      val base = rnd.nextLong() & ((1L << 63) - 1)
      (i.toLong, if (i % 3 == 0) base
      else {
        // flip i%13 bits of the previous base-ish signature
        var s = base
        (0 until i % 13).foreach(b => s ^= 1L << ((b * 7 + i) % 63))
        s
      })
    }.toDF("id", "phash")
    val got = Multimodal.pHashPairs(sigs, "id", "phash", maxHamming = 6,
        maxBucketSize = 1000)
      .as[(Long, Long, Int)].collect().toSet
    val rows = sigs.as[(Long, Long)].collect()
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) if h <= 6
    } yield (a._1, b._1, h)).toSet
    assert(got === want, s"banded pairs must equal brute force " +
      s"(${got.size} vs ${want.size})")
  }

  private def guardMetric(name: String)(run: => Unit): Option[(Long, Long)] =
    observedMetrics(name)(run)._2.get(name).map(r =>
      (r.getAs[Long]("dropped_buckets"), r.getAs[Long]("max_bucket_size")))

  test("audio_fp_skew_guard under fire: a jingle landmark shared by every " +
      "asset drops at the cap (observe-counted) and creates NO pairs; the " +
      "genuine duplicate pair survives on its own landmarks") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val jingle = Array.fill[Byte](160)((rnd.nextInt(96) + 32).toByte)
    def tail(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill[Byte](160)((r.nextInt(96) + 32).toByte)
    }
    // 30 assets share the jingle prefix; assets 1 and 2 are FULL dups
    val media = (1L to 30L).map(i =>
      (i, jingle ++ tail(if (i == 2L) 1001 else 1000 + i.toInt)))
      .toDF("media_id", "content")
    var pairs: Seq[(Long, Long, Long, Long)] = Nil
    val metric = guardMetric("audio_fp_skew_guard") {
      pairs = Multimodal.audioFingerprintPairs(media, "media_id", "content",
          windowBytes = 16, minAligned = 2, maxHashGroup = 10)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)),
      s"only the genuine dup pair may survive the jingle, got $pairs")
    assert(pairs.head._3 === 0L, "full dups align at offset 0")
    val (dropped, maxSize) = metric.getOrElse(fail("guard metric never fired"))
    assert(dropped >= 1L, s"jingle landmark groups must drop, got $dropped")
    assert(maxSize === 30L, s"hottest group is the 30-asset jingle, got $maxSize")
  }

  test("clip_frame_skew_guard under fire: a boilerplate frame digest in " +
      "every reel drops at the cap (observe-counted); the genuine clip " +
      "pair aligns on its unique frames alone") {
    import spark.implicits._
    val black = Array.fill[Byte](16)(0x11.toByte)
    def frame(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill[Byte](16)((r.nextInt(250) + 1).toByte)
    }
    // every reel opens with the boilerplate frame; reels 1 and 2 share
    // their four content frames too (the true clip pair)
    val media = (1L to 30L).map { i =>
      val base = if (i == 2L) 1L else i
      (i, black ++ (1 to 4).flatMap(f => frame(5000 + base.toInt * 10 + f)).toArray)
    }.toDF("media_id", "content")
    var pairs: Seq[(Long, Long, Long, Long)] = Nil
    val metric = guardMetric("clip_frame_skew_guard") {
      pairs = Multimodal.videoClipAlign(media, "media_id", "content",
          frameBytes = 16, minAligned = 3, maxDigestGroup = 10)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)),
      s"only the genuine clip pair may survive the boilerplate frame, got $pairs")
    assert(pairs.head._3 === 0L && pairs.head._4 === 4L,
      s"the pair aligns on its 4 unique frames at offset 0, got $pairs")
    val (dropped, maxSize) = metric.getOrElse(fail("guard metric never fired"))
    assert(dropped === 1L, s"exactly the boilerplate digest drops, got $dropped")
    assert(maxSize === 30L, s"hottest group is the 30-reel frame, got $maxSize")
  }
}
