package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale text corpora — the LLM-pipeline
 * extension family (SURVEY §7.2 step 9; patterns per PAPERS.md: Broder's
 * MinHash resemblance + banded LSH as in MMDS ch.3, Charikar's SimHash).
 *
 * Scale posture (the whole point): NOTHING here does an all-pairs
 * comparison. Near-dup candidates are generated by banded LSH — explode to
 * (band, key) buckets, self-join within buckets — so the shuffle is keyed on
 * band signatures and the join degree is bounded by bucket size, not n².
 * Signature math runs in codegen'd kernel expressions
 * ([[graft.functions.HashKernels]]) — one virtual call per row, primitive
 * loops, no UDFs; candidate verification is a linear merge over sorted
 * hash sets.
 */
object Dedup {

  /** Whitespace-normalized, lowercased text — the canonical form every
    * text-dedup operator hashes.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** O(n) exact dedup: keep the first row (lowest `idCol`) per distinct
    * value of `keyCols`. Implemented as min_by over a hash aggregate —
    * partial aggregation combines duplicates map-side, so the shuffle
    * carries one candidate row per (partition × key) instead of every
    * duplicate (a sort-window would shuffle and sort them all).
    */
  def exactKeepFirst(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    keepMinBy(df, idCol, keyCols.map(col))

  /** Exact dedup on md5 of normalized text: catches
    * whitespace/case-variant duplicates. The fingerprint (16 bytes) is the
    * aggregation key — at 100 TB that is the difference between shuffling
    * hashes and shuffling the corpus.
    */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keepMinBy(df, idCol, Seq(md5(normalized(col(textCol)))))

  private def keepMinBy(df: DataFrame, idCol: String, keys: Seq[Column]): DataFrame = {
    val payload = df.columns.filterNot(_ == idCol)
    df.groupBy(keys: _*)
      .agg(min(col(idCol)).as(idCol),
        min_by(struct(payload.map(col).toIndexedSeq: _*), col(idCol)).as("__r"))
      .select(df.columns.map { c =>
        if (c == idCol) col(c) else col(s"__r.$c").as(c)
      }.toIndexedSeq: _*)
  }

  /** Banded-LSH candidate pairs: documents sharing any band of their MinHash
    * signature. Returns (band, bandKey, id) exploded rows ready for a
    * within-bucket self-join — the caller joins on (band, bandKey).
    *
    * numHashes = bands × rowsPerBand; P(candidate | Jaccard s) =
    * 1-(1-s^rows)^bands (MMDS §3.4.2 S-curve).
    */
  def lshBuckets(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    lshBucketsFromSets(
      df.select(col(idCol),
        GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK).as("__sh")),
      idCol, bands, rowsPerBand)

  /** [[lshBuckets]] from a precomputed `(idCol, __sh)` shingle-set frame —
    * the banding stage alone, so a caller that materializes the shingle
    * sets once (the §8 fingerprints-once posture) can derive the index
    * without re-running the kernel.
    */
  private[graft] def lshBucketsFromSets(sets: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    sets.filter(size(col("__sh")) > 0)
      .withColumn("__sig", GraftFunctions.minhash_sig(col("__sh"), numHashes))
      .select(col(idCol),
        posexplode(GraftFunctions.band_keys(col("__sig"), bands, rowsPerBand))
          .as(Seq("__band", "__bandkey")))
  }

  /** Skew guard for LSH-family bucket self-joins: drops buckets larger
    * than `maxBucketSize` before the join goes quadratic in them. A
    * degenerate bucket — thousands of byte-identical web documents is the
    * NORM for crawl data, not the exception — otherwise turns one hot key
    * into an O(n²) straggler task at 100 TB. Run exact dedup first so
    * identical docs never reach the LSH stage; the drop count is published
    * as an `observe` metric (`<metricName>.dropped_buckets`) so guarded
    * runs are visible without an extra job. `maxBucketSize <= 0` disables.
    */
  private[graft] def capBuckets(
      buckets: DataFrame, keys: Seq[String],
      maxBucketSize: Int, metricName: String): DataFrame = {
    if (maxBucketSize <= 0) buckets
    else {
      val sizes = buckets.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .observe(metricName,
          sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L))
            .as("dropped_buckets"),
          max(col("__n")).as("max_bucket_size"))
      // join the FULL sizes frame and filter AFTER: if the size filter sat
      // on the join input, a run where every bucket is over-cap would make
      // that side runtime-empty and AQE's empty-relation propagation would
      // prune the CollectMetrics node — the metric most needed (everything
      // dropped) would be the one that never fires
      buckets.join(sizes, keys.toIndexedSeq)
        .filter(col("__n") <= maxBucketSize)
        .drop("__n")
    }
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    * Plan: shingle-hash → sign → band → SKINNY bucket self-join (only
    * (id, band, key) rows shuffle — never the shingle arrays, never
    * all-pairs) → distinct candidate pairs → join the shingle-hash sets
    * back BY ID for the exact `|∩|/|∪|` check (identical to string-shingle
    * Jaccard modulo 64-bit collisions).
    * Output: (idA, idB, jaccard) with idA < idB.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000,
      materializeIntermediates: Boolean = true): DataFrame = {
    def mat(d: DataFrame): DataFrame =
      if (materializeIntermediates) d.localCheckpoint(eager = true) else d
    // fingerprints computed ONCE (guide §8: decide with small rows, keep
    // the heavy pass single): left lazy, the shingle kernel fed three
    // sinks (the bucket chain + both verification join sides) and the
    // sig+band chain four (capBuckets' size agg + join, then the
    // self-join's a/b sides) — measured SIX kernel + FOUR signature
    // evaluations in d03's executed plan, zero exchange reuse. Two
    // eager snapshots (hash sets, banded buckets) make each pass run
    // exactly once; everything downstream is skinny (ids, band keys,
    // hash arrays — the text itself never shuffles, as before).
    // `materializeIntermediates = false` keeps the plan lazy and
    // inspectable for the plan audit; blocks free via the ContextCleaner
    // once the returned frame is consumed (per-batch frames in a stream
    // are garbage right after their batch — the d08 contract).
    val sets = mat(df.select(col(idCol),
      GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK).as("__sh")))
    val buckets0 = mat(lshBucketsFromSets(sets, idCol, bands, rowsPerBand))
    val buckets = capBuckets(buckets0, Seq("__band", "__bandkey"),
      maxBucketSize, "minhash_skew_guard")
    val a = buckets.select(col("__band"), col("__bandkey"), col(idCol).as("idA"))
    val b = buckets.select(col("__band"), col("__bandkey"), col(idCol).as("idB"))
    val candidates = a.join(b, Seq("__band", "__bandkey"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    candidates
      .join(sets.select(col(idCol).as("idA"), col("__sh").as("__shA")), "idA")
      .join(sets.select(col(idCol).as("idB"), col("__sh").as("__shB")), "idB")
      .select(col("idA"), col("idB"),
        GraftFunctions.jaccard_sorted(col("__shA"), col("__shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Weighted-Jaccard (multiset) near-duplicate pairs — the tf-aware
    * variant of [[minhashNearDupPairs]]: similarity is
    * Σ_g min(tf_a, tf_b) / Σ_g max(tf_a, tf_b) over `shingleK`-word
    * shingle COUNTS, so a document padded with repetitions of its own
    * content scores ~0.5 against the original (set Jaccard would call
    * them near-identical — the boilerplate/spam shape tf-blind dedup
    * can't see).
    *
    * Mechanism: integer-weight replication CWS (see PAPERS.md) — the
    * k-th occurrence of a shingle rehashes as a distinct element
    * ([[graft.functions.HashKernels.occurrenceExpand]] over POSITIONAL
    * shingle hashes; two codegen kernel calls, one pass), and plain SET
    * machinery downstream computes the weighted measure exactly:
    * MinHash banding over the expansion is an unbiased weighted-Jaccard
    * LSH, and the [[GraftFunctions.jaccard_sorted]] merge over two
    * expansions IS Σmin/Σmax. Word SHINGLES (not single tokens) keep
    * the oracle's exact all-pairs verification join low-degree — a
    * single-token formulation makes every stopword a hot join key, with
    * Σ df² blowup in any engine. Plan shape, skew guard, and
    * verification are [[minhashNearDupPairs]]'s verbatim: skinny
    * (band, key, id) bucket self-join for candidates, exact verify by
    * id-joined hash sets — never all-pairs, payload text never
    * shuffles.
    * Output: (idA, idB, wjaccard) with idA < idB.
    */
  def weightedNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleK: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 2,
      maxBucketSize: Int = 1000,
      materializeIntermediates: Boolean = true): DataFrame = {
    def mat(d: DataFrame): DataFrame =
      if (materializeIntermediates) d.localCheckpoint(eager = true) else d
    val numHashes = bands * rowsPerBand
    // same fingerprints-once snapshots as [[minhashNearDupPairs]] — the
    // expansion kernel fed three sinks and the sig+band chain four
    val sets = mat(df.select(col(idCol),
      GraftFunctions.occurrence_expand(
        GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK,
          word = true, distinct = false)).as("__wh")))
    val buckets0 = mat(sets.filter(size(col("__wh")) > 0)
      .withColumn("__sig", GraftFunctions.minhash_sig(col("__wh"), numHashes))
      .select(col(idCol),
        posexplode(GraftFunctions.band_keys(col("__sig"), bands, rowsPerBand))
          .as(Seq("__band", "__bandkey"))))
    val buckets = capBuckets(buckets0, Seq("__band", "__bandkey"),
      maxBucketSize, "weighted_minhash_skew_guard")
    val a = buckets.select(col("__band"), col("__bandkey"), col(idCol).as("idA"))
    val b = buckets.select(col("__band"), col("__bandkey"), col(idCol).as("idB"))
    val candidates = a.join(b, Seq("__band", "__bandkey"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    candidates
      .join(sets.select(col(idCol).as("idA"), col("__wh").as("__whA")), "idA")
      .join(sets.select(col(idCol).as("idB"), col("__wh").as("__whB")), "idB")
      .select(col("idA"), col("idB"),
        GraftFunctions.jaccard_sorted(col("__whA"), col("__whB")).as("wjaccard"))
      .filter(col("wjaccard") >= threshold)
  }

  /** Cross-corpus MinHash-LSH near-duplicate pairs: candidate pairs form
    * ONLY across the two frames (`left` × `right` — never within either
    * side), the fuzzy analogue of the exact n-gram decontamination join.
    * Ids need not be unique across the two frames (the sides never mix).
    *
    * Plan shape: both sides band into the same LSH key space; the skew
    * guard measures COMBINED bucket size over the tagged union (a bucket
    * hot on either side explodes the cross join, so capping one side
    * alone would not protect); the candidate join is skinny
    * `(band, key, id)` rows; verification is exact Jaccard over
    * shingle-hash sets joined back BY ID — the [[minhashNearDupPairs]]
    * semantics restricted to cross pairs.
    * Output: (idA from `left`, idB from `right`, jaccard).
    */
  def crossNearDupPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    val rb = lshBuckets(right, idCol, textCol, shingleK, bands, rowsPerBand)
      .select(col("__band"), col("__bandkey"), col(idCol).as("__id"))
    val rSets = shingleSetsOf(right, idCol, textCol, shingleK, "idB", "__shB")
    crossPairsAgainst(left, rb, rSets, idCol, textCol, threshold, shingleK,
      bands, rowsPerBand, maxBucketSize)
  }

  /** `(id, shingle-hash set)` projection shared by the cross-pair
    * verification joins.
    */
  private[graft] def shingleSetsOf(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, as: String, sh: String): DataFrame =
    df.select(col(idCol).as(as),
      GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK).as(sh))

  /** [[crossNearDupPairs]] against a PRECOMPUTED right side: `rightBuckets`
    * is `(__band, __bandkey, __id)` ([[lshBuckets]] output with the id
    * renamed), `rightSets` is `(idB, __shB)` ([[shingleSetsOf]]). The
    * streaming screen persists both once for a static benchmark and calls
    * this per micro-batch, so the bench side is never re-shingled.
    */
  private[graft] def crossPairsAgainst(left: DataFrame,
      rightBuckets: DataFrame, rightSets: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleK: Int,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      materializeIntermediates: Boolean = true): DataFrame = {
    def mat(d: DataFrame): DataFrame =
      if (materializeIntermediates) d.localCheckpoint(eager = true) else d
    // the minhashNearDupPairs fingerprints-once snapshots, cross-corpus
    // shape: the left kernel fed the bucket union (referenced four times
    // through capBuckets + the a/b sides) and the verification join; the
    // TAGGED UNION is snapped rather than `lb` alone so a lazy right side
    // (the batch d16 path — streaming callers pass persisted state) is
    // covered by the same single materialization
    val lSets = mat(left.select(col(idCol),
      GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK).as("__sh")))
    val lb = lshBucketsFromSets(lSets, idCol, bands, rowsPerBand)
      .select(col("__band"), col("__bandkey"), col(idCol).as("__id"),
        lit(true).as("__left"))
    val rb = rightBuckets.select(col("__band"), col("__bandkey"),
      col("__id"), lit(false).as("__left"))
    val tagged = mat(lb.unionByName(rb))
    val capped = capBuckets(tagged, Seq("__band", "__bandkey"),
      maxBucketSize, "cross_neardup_skew_guard")
    val a = capped.filter(col("__left"))
      .select(col("__band"), col("__bandkey"), col("__id").as("idA"))
    val b = capped.filter(!col("__left"))
      .select(col("__band"), col("__bandkey"), col("__id").as("idB"))
    val candidates = a.join(b, Seq("__band", "__bandkey"))
      .select("idA", "idB").distinct()
    candidates
      .join(lSets.select(col(idCol).as("idA"), col("__sh").as("__shA")), "idA")
      .join(rightSets, "idB")
      .select(col("idA"), col("idB"),
        GraftFunctions.jaccard_sorted(col("__shA"), col("__shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy decontamination: drop from `train` every document that is a
    * NEAR-duplicate (cross-corpus Jaccard >= `threshold`,
    * [[crossNearDupPairs]]) of any `bench` document — the
    * benchmark-leakage screen for paraphrased/lightly-edited
    * contamination that exact n-gram matching ([[TextAnalysis
    * .decontaminate]]) cannot see. One distinct over hit ids plus one
    * left-anti join; `train` passes through otherwise untouched.
    */
  def fuzzyDecontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    val hits = crossNearDupPairs(train, bench, idCol, textCol, threshold,
        shingleK, bands, rowsPerBand, maxBucketSize)
      .select(col("idA").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  /** Incremental MinHash near-dup: pairs between a NEW document delta and
    * an already-indexed corpus (plus delta-internal pairs) — the daily
    * production shape: a crawl increment dedups against a 100 TB corpus
    * WITHOUT recomputing or re-shuffling the corpus. `corpusIndex` is the
    * persisted [[lshBuckets]] output (skinny `(id, band, key)` rows, the
    * only state the corpus contributes to candidate generation);
    * `corpusDocs` supplies text ONLY for verification and only candidate
    * ids are read from it (left-semi pruned before shingling, so the scan
    * skips everything the index join didn't surface). Ids must be unique
    * across corpus ∪ delta.
    *
    * Shuffle accounting (the 100 TB property): the corpus index is NEVER
    * exchanged. Every candidate pair needs a delta partner in its bucket,
    * so buckets the delta does not touch can contribute neither candidates
    * nor meaningful skew caps — the index is restricted to the delta's
    * bucket-key set with a BROADCAST left-semi join (map-only over the
    * index scan; the touched-key set is micro-batch-sized by contract
    * while the index is corpus-sized). Everything downstream — the skew
    * guard's group-by, the size join, the candidate join — shuffles only
    * touched-bucket rows, O(|delta| × avg bucket size), not O(|corpus|).
    * Pinned in [[graft.PlanAuditSpec]]: no ShuffleExchange with the index
    * scan in its subtree.
    *
    * Skew guard: bucket sizes are measured over the UNION index within
    * touched buckets — a bucket hot in the corpus stays guarded when the
    * delta lands in it (untouched hot buckets produce no pairs, so not
    * counting them changes no output and no protection).
    * Output: (idA, idB, jaccard) with idA < idB, at least one side a
    * delta id; same verification and threshold semantics as the batch
    * [[minhashNearDupPairs]] (restricted to delta-involving pairs, the
    * two agree exactly).
    */
  def minhashNearDupPairsIncremental(
      corpusIndex: DataFrame, corpusDocs: DataFrame, delta: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000, restrictToTouched: Boolean = true,
      materializeIntermediates: Boolean = true): DataFrame =
    minhashNearDupPairsIncremental(corpusIndex, corpusDocs, delta,
      lshBuckets(delta, idCol, textCol, shingleK, bands, rowsPerBand),
      idCol, textCol, threshold, shingleK, maxBucketSize, restrictToTouched,
      materializeIntermediates)

  /** Variant taking the delta's PRE-COMPUTED [[lshBuckets]] output (same
    * shingleK/bands/rowsPerBand as the corpus index) — for callers that
    * need the delta index anyway, like the streaming screen which appends
    * it to the persistent state: computing it once saves a full
    * shingle+minhash kernel pass over the delta per micro-batch.
    *
    * `restrictToTouched` picks the candidate-generation posture by delta
    * scale. `true` (streaming/small-delta default): the delta's bucket
    * keys broadcast, and a left-semi join restricts the corpus index scan
    * BEFORE anything shuffles — downstream exchanges move touched-bucket
    * rows only, O(delta) not O(corpus) (plan-pinned). `false` (batch
    * re-dedup where the delta is corpus-scale): every bucket is touched
    * anyway, so the restriction is pure overhead — and broadcasting a
    * corpus-sized key set stalls the driver (measured 3× at sf0.1);
    * the index joins by shuffle, which is the right plan at that shape.
    * The pair set is identical either way (untouched buckets can produce
    * neither candidates nor meaningful caps).
    *
    * `materializeIntermediates` (default true): the capped bucket frame
    * feeds three plan references and the candidate pair set another three
    * (id extraction + both verification join sides) — left lazy, Spark
    * re-executes those skinny subtrees per reference past what exchange
    * reuse can collapse (measured 7.4 s → 2.3 s per delta at sf0.1).
    * Both are localCheckpoint'ed eagerly: capped's blocks are freed as
    * soon as the candidate set materializes; the candidate blocks free
    * via the ContextCleaner once the returned frame is consumed and
    * dropped (per-micro-batch frames in a long stream are garbage right
    * after their batch). Same executor-loss caveat as every
    * localCheckpoint — for cluster runs that must survive one, disable
    * and accept the recompute. `false` keeps the whole plan lazy and
    * inspectable (the plan audit uses it).
    */
  def minhashNearDupPairsIncremental(
      corpusIndex: DataFrame, corpusDocs: DataFrame, delta: DataFrame,
      deltaIdx: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int, maxBucketSize: Int,
      restrictToTouched: Boolean,
      materializeIntermediates: Boolean): DataFrame =
    minhashNearDupPairsIncremental(corpusIndex, (_: DataFrame) => corpusDocs,
      delta, deltaIdx, idCol, textCol, threshold, shingleK, maxBucketSize,
      restrictToTouched, materializeIntermediates)

  /** Variant taking the corpus DOC store as a FUNCTION of the candidate
    * id set instead of a frame: `corpusDocsFor(candIds)` receives the
    * distinct candidate ids (both sides of every candidate pair — the
    * only corpus rows verification will ever read) and returns the
    * `(idCol, textCol)` corpus frame, restricted however the caller's
    * storage can. A flat store returns itself unchanged (the row-level
    * semi join below restricts it anyway); a store partitioned by an id
    * prefix collects the candidates' bounded prefix set and reads
    * through a PARTITION filter, turning per-batch verification scan
    * I/O from O(corpus text) into O(touched partitions) — the streaming
    * screen's posture ([[graft.streaming.StreamingNearDup]]). The
    * callback may run jobs over `candIds` (it is handed the
    * materialized candidate frame when `materializeIntermediates`).
    */
  def minhashNearDupPairsIncremental(
      corpusIndex: DataFrame, corpusDocsFor: DataFrame => DataFrame,
      delta: DataFrame,
      deltaIdx: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int, maxBucketSize: Int,
      restrictToTouched: Boolean,
      materializeIntermediates: Boolean): DataFrame = {
    def mat(df: DataFrame): DataFrame =
      if (materializeIntermediates) df.localCheckpoint(eager = true) else df
    val corpusCols = corpusIndex.select(col(idCol), col("__band"), col("__bandkey"))
    val corpusTouched =
      if (restrictToTouched) {
        val touched = deltaIdx.select(col("__band"), col("__bandkey")).distinct()
        corpusCols.join(broadcast(touched), Seq("__band", "__bandkey"), "left_semi")
      } else corpusCols
    val union = corpusTouched.unionByName(deltaIdx)
    val capped = mat(capBuckets(union, Seq("__band", "__bandkey"),
      maxBucketSize, "minhash_incremental_skew_guard"))
    val cappedDelta = capped.join(
      delta.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    val candidates = mat(capped
      .select(col("__band"), col("__bandkey"), col(idCol).as("__u"))
      .join(cappedDelta.select(col("__band"), col("__bandkey"), col(idCol).as("__d")),
        Seq("__band", "__bandkey"))
      .filter(col("__u") =!= col("__d"))
      .select(least(col("__u"), col("__d")).as("idA"),
        greatest(col("__u"), col("__d")).as("idB"))
      .distinct())
    // capped only feeds the (now-materialized) candidate set — free its
    // blocks immediately instead of waiting for the ContextCleaner
    if (materializeIntermediates)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(capped)
    val candIds = candidates
      .select(explode(array(col("idA"), col("idB"))).as(idCol)).distinct()
    val allDocs = corpusDocsFor(candIds).select(col(idCol), col(textCol))
      .unionByName(delta.select(col(idCol), col(textCol)))
    val shingleSets = allDocs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol),
        GraftFunctions.shingle_hashes(normalized(col(textCol)), shingleK).as("__sh"))
    candidates
      .join(shingleSets.select(col(idCol).as("idA"), col("__sh").as("__shA")), "idA")
      .join(shingleSets.select(col(idCol).as("idB"), col("__sh").as("__shB")), "idB")
      .select(col("idA"), col("idB"),
        GraftFunctions.jaccard_sorted(col("__shA"), col("__shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The keep step after incremental screening: the delta rows that
    * matched NOTHING — neither the corpus nor another delta doc — i.e.
    * what actually gets appended to the corpus. One left-anti join
    * against the union of both pair sides; corpus ids in the pair set
    * are harmless (they are not in the delta).
    */
  def filterNearDupFree(delta: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    delta.join(
      pairs.select(col("idA").as(idCol))
        .unionByName(pairs.select(col("idB").as(idCol))),
      Seq(idCol), "left_anti")

  /** SimHash near-dup pairs: bucket by `maxHamming + 1` disjoint bit-bands
    * of the simhash — by pigeonhole, any pair within Hamming distance
    * `maxHamming` shares at least one band verbatim, so candidate recall is
    * GUARANTEED, not probabilistic. Verification = exact Hamming distance.
    * Never all-pairs.
    *
    * Hot buckets are REFINED, not dropped (VERDICT r4 #1): with only
    * `maxHamming+1` bands of ~16 bits, over-cap buckets are structurally
    * common at corpus scale, and deleting one forfeits the pigeonhole
    * guarantee for every pair inside it. Over-cap buckets instead go
    * through a second banding stage on the signature bits OUTSIDE the hot
    * band (see [[simhashPairsFromSignatures]]) — same guarantee, one level
    * down. Only sub-buckets still over the cap after refinement are dropped
    * (observed as `simhash_subband_guard.dropped_buckets`); those are
    * near-identical-signature crowds whose pair set is inherently
    * quadratic.
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = df.select(col(idCol), GraftFunctions.simhash64(
      GraftFunctions.shingle_hashes(normalized(col(textCol)), 1, word = true,
        distinct = false)) // SimHash weights the token MULTISET
      .as("__simhash"))
    simhashPairsFromSignatures(sigs, idCol, "__simhash", maxHamming, maxBucketSize)
  }

  /** The banding + join stage of [[simhashNearDupPairs]], over a
    * pre-computed `(id, simhash)` frame — split out so recall can be tested
    * with adversarial synthetic signatures.
    *
    * Metrics: unlike the capBuckets-based guards (which report
    * `dropped_buckets`), the first-level `simhash_skew_guard` reports
    * `refined_buckets` — over-cap buckets are routed into secondary
    * banding, not dropped, so "dropped" would be a lie. Actual drops only
    * happen one level down, as `simhash_subband_guard.dropped_buckets`.
    *
    * Plan: explode to `maxHamming+1` (band, bandKey) buckets; buckets at or
    * under `maxBucketSize` self-join directly; over-cap buckets are
    * re-banded on the 64-width REMAINING bits (the bits outside the hot
    * band) into another `maxHamming+1` sub-bands and self-joined on
    * (band, bandKey, subBand, subKey). Pigeonhole both times: a pair in a
    * hot bucket agrees on the hot band, so its ≤ maxHamming differing bits
    * all lie in the remaining bits, and at least one sub-band is diff-free.
    * Candidate recall stays exact through one refinement level; only
    * sub-buckets STILL over the cap are dropped (observed metric).
    */
  /** The (id, signature, __band, __bandkey) band-row explode behind
    * every 64-bit-signature Hamming-band join — extracted so the batch
    * pairer below and the streaming pHash index
    * ([[graft.streaming.StreamingPHashDedup]]) share the EXACT bounds
    * arithmetic (the pigeonhole recall guarantee is only as good as both
    * sides banding identically): maxHamming+1 bands (≤ 32) of
    * contiguous bit ranges, keys by unsigned shift + mask.
    */
  private def simhashBandCount(maxHamming: Int): Int =
    math.min(maxHamming + 1, 32)

  private def simhashKeyBits(src: Column, start: Int, width: Int): Column = {
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    shiftrightunsigned(src, start).bitwiseAND(lit(mask))
  }

  /** The (id, signature, __band, __bandkey) band-row explode behind
    * every 64-bit-signature Hamming-band join — shared by the batch
    * pairer below and the streaming pHash index
    * ([[graft.streaming.StreamingPHashDedup]]), because the pigeonhole
    * recall guarantee is only as good as both sides banding IDENTICALLY:
    * maxHamming+1 bands (≤ 32) of contiguous bit ranges.
    */
  private[graft] def simhashBandRows(sigs: DataFrame, idCol: String,
      simhashCol: String, maxHamming: Int): DataFrame = {
    val bands = simhashBandCount(maxHamming)
    val bounds = (0 to bands).map(b => b * 64 / bands)
    sigs
      .select(col(idCol), col(simhashCol).as("__simhash"))
      .select(col(idCol), col("__simhash"),
        posexplode(array((0 until bands).map(b =>
          simhashKeyBits(col("__simhash"), bounds(b),
            bounds(b + 1) - bounds(b))): _*))
          .as(Seq("__band", "__bandkey")))
  }

  private[graft] def simhashPairsFromSignatures(
      sigs: DataFrame, idCol: String, simhashCol: String, maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val bands = simhashBandCount(maxHamming)
    val bounds = (0 to bands).map(b => b * 64 / bands)
    def keyBits(src: Column, start: Int, width: Int): Column =
      simhashKeyBits(src, start, width)
    val sh = simhashBandRows(sigs, idCol, simhashCol, maxHamming)

    def pairs(bucketed: DataFrame, keys: Seq[String]): DataFrame = {
      val keyCols = keys.map(col)
      val a = bucketed.select(keyCols :+ col(idCol).as("idA") :+
        col("__simhash").as("__shA"): _*)
      val b = bucketed.select(keyCols :+ col(idCol).as("idB") :+
        col("__simhash").as("__shB"): _*)
      a.join(b, keys)
        .filter(col("idA") < col("idB"))
        .select(col("idA"), col("idB"),
          bit_count(col("__shA").bitwiseXOR(col("__shB"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }

    val candidatePairs = if (maxBucketSize <= 0) pairs(sh, Seq("__band", "__bandkey"))
    else {
      val keys = Seq("__band", "__bandkey")
      val sizes = sh.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .observe("simhash_skew_guard",
          sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L))
            .as("refined_buckets"),
          max(col("__n")).as("max_bucket_size"))
      // one join against the FULL sizes frame, split by filter afterwards —
      // a filtered-before-join sizes side can be runtime-empty (all-small or
      // all-hot inputs), and AQE empty-relation propagation would then prune
      // the observed CollectMetrics node; the single join also lets AQE
      // reuse one exchange for both branches
      val sized = sh.join(sizes, keys)
      val small = sized.filter(col("__n") <= maxBucketSize).drop("__n")
      val hot = sized.filter(col("__n") > maxBucketSize).drop("__n")

      // secondary banding of a hot bucket: sub-band keys over the bits
      // OUTSIDE band b, packed contiguously ((high << start) | low). The
      // per-band extraction is a small CASE chain — bands is maxHamming+1,
      // structurally tiny.
      def subKeys(b: Int): Column = {
        val start = bounds(b)
        val width = bounds(b + 1) - start
        val lowMask = if (start == 0) 0L else (1L << start) - 1L
        val high = if (start + width >= 64) lit(0L) // Java shifts are mod 64
          else shiftrightunsigned(col("__simhash"), start + width)
        val rem = shiftleft(high, start).bitwiseOR(
          col("__simhash").bitwiseAND(lit(lowMask)))
        val remWidth = 64 - width
        val sb = (0 to bands).map(j => j * remWidth / bands)
        array((0 until bands).map(j =>
          keyBits(rem, sb(j), sb(j + 1) - sb(j))): _*)
      }
      val subArr = (1 until bands).foldLeft(
        when(col("__band") === 0, subKeys(0)))(
        (acc, b) => acc.when(col("__band") === b, subKeys(b)))
      val hotExploded = hot.select(col(idCol), col("__simhash"),
        col("__band"), col("__bandkey"),
        posexplode(subArr).as(Seq("__sub", "__subkey")))
      // recurse exactly once: sub-buckets still over the cap are dropped
      // (near-identical signature crowds — quadratic pair sets by nature)
      val subCapped = capBuckets(hotExploded,
        Seq("__band", "__bandkey", "__sub", "__subkey"),
        maxBucketSize, "simhash_subband_guard")
      pairs(small, keys).unionByName(
        pairs(subCapped, Seq("__band", "__bandkey", "__sub", "__subkey")))
    }
    candidatePairs.groupBy("idA", "idB").agg(first("hamming").as("hamming"))
  }

  /** Word n-gram Jaccard similarity for a candidate pair set — the
    * verification kernel usable on its own for small candidate lists.
    * `pairs` must have columns (idA, idB); `docs` provides (id, text).
    */
  def ngramJaccard(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // hashed distinct word n-grams (kernel, one pass) — set identical to
    // string n-grams modulo 64-bit collisions
    val grams = docs.select(col(idCol),
      GraftFunctions.shingle_hashes(normalized(col(textCol)), n, word = true).as("__g"))
    pairs
      .join(grams.select(col(idCol).as("idA"), col("__g").as("__gA")), "idA")
      .join(grams.select(col(idCol).as("idB"), col("__g").as("__gB")), "idB")
      .select(col("idA"), col("idB"),
        GraftFunctions.jaccard_sorted(col("__gA"), col("__gB")).as("jaccard"))
  }

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair list, labeling every vertex with the minimum id reachable from
    * it — the step between "pairs found" and "keep one document per
    * duplicate group" in a dedup pipeline. Pairs are edges; docs absent
    * from every pair form singleton clusters (cluster_id = own id).
    *
    * Distributed min-label propagation with POINTER JUMPING: each round
    * takes the min over (own label, neighbors' labels, label's label). The
    * label-of-label hop halves chain depth every round, so convergence is
    * O(log diameter) joins, not O(diameter) — the difference between ~8
    * and ~hundreds of shuffles on a crawl-scale dup graph (same recursion
    * structure as the MapReduce CC algorithms in PAPERS.md). Each round
    * localCheckpoints: the label frame is one (id, lbl) pair per vertex —
    * skinny — and an unbroken lineage of N self-joins would otherwise
    * re-execute from the scan every round and overwhelm the planner.
    * Checkpoint mode: by default each round `localCheckpoint`s — fastest,
    * but an executor loss mid-iteration fails the job (blocks have no
    * lineage to recompute from). Pass `checkpointDir` to write each round
    * as PARQUET under that directory (HDFS/S3/local) and read it back:
    * rounds survive executor loss at the cost of a filesystem write per
    * round — the right trade on a 1000-executor cluster where losing one
    * executor over an 8-round run is routine. Superseded round files are
    * DELETED as the loop advances (`Dataset.checkpoint` would leak every
    * round until context stop and mutate the session-global checkpoint
    * dir — parquet round-tripping leaks nothing and touches no global
    * state). The FINAL assignment frame stays backed by its round file:
    * consume it, then remove the directory. The algorithm is indifferent;
    * both modes produce identical clusters.
    * Convergence = the sum of labels stops decreasing (labels only ever
    * decrease, so equal sums mean a fixpoint, checked with one aggregate
    * per round instead of an old-vs-new join).
    */
  def clusterAssignments(
      pairs: DataFrame, vertices: DataFrame, idCol: String,
      maxIters: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    // the snap/free discipline lives in the shared RoundSnapshots — the
    // pattern proven here first, now reused by every iterative operator
    val snaps = new graft.pipeline.RoundSnapshots(checkpointDir)
    // materialize the edge list up front: every propagation round joins
    // against it, and an unmaterialized lineage would re-execute the whole
    // upstream pair pipeline (LSH + verification) once per direction per
    // round — measured 3× the operator's entire runtime at sf0.01
    val edgesSnap = snaps.snap(
      pairs.select(col("idA").as("u"), col("idB").as("v"))
        .unionByName(pairs.select(col("idB").as("u"), col("idA").as("v"))))
    val edges = edgesSnap.df
    // convergence probe by id type: integral labels sum exactly into
    // decimal(38,0), one cheap aggregate per round; any other id type
    // (string/uuid corpora, floats) counts changed labels with a self-join
    // instead — a decimal cast would throw under ANSI for strings and
    // round away sub-integer changes for doubles
    val integralIds = vertices.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // every probe (emptiness, the initial sum, each round's sum) rides
    // its frame's materialization job as an observed aggregate — the
    // former separate probe jobs halved nothing but added a
    // driver-sequenced barrier per round (guide §1.2/§2.6: the loop's
    // wall time at bench scale is job count, not bytes)
    val probeCols = Seq(count(lit(1)).as("__n")) ++
      (if (integralIds) Seq(sum(col("lbl").cast("decimal(38,0)")).as("__s"))
       else Nil)
    def probeSum(m: Map[String, Any]): java.math.BigDecimal =
      m.get("__s").map(_.asInstanceOf[java.math.BigDecimal]).orNull
    val (labelsSnap0, m0) = snaps.snapObserved(
      vertices.select(col(idCol).as("id"), col(idCol).as("lbl")), probeCols)
    var labelsSnap = labelsSnap0
    var labels = labelsSnap.df
    if (m0("__n").asInstanceOf[Long] == 0L) {
      // same contract as the converged exit: only the FINAL frame's
      // backing file survives — the edge snapshot must be freed here too
      // or an empty-delta call against a shared checkpoint prefix leaks
      // an O(|E|) round file per invocation
      snaps.free(edgesSnap)
      return labels.select(col("id").as(idCol), col("lbl").as("cluster_id"))
    }
    def changedCount(next: DataFrame, cur: DataFrame): Long = next
      .join(cur.select(col("id"), col("lbl").as("__old")), "id")
      .filter(col("lbl") =!= col("__old")).count()
    var prevSum: java.math.BigDecimal = probeSum(m0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val (nextSnap, m) =
        snaps.snapObserved(propagationRound(labels, edges), probeCols)
      val next = nextSnap.df
      converged =
        if (integralIds) {
          val nextSum = probeSum(m)
          val same = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
          same
        } else changedCount(next, labels) == 0L
      // `next` is materialized and the probe has read the old frame; the
      // superseded round's blocks/files can go now rather than waiting
      // for the ContextCleaner (or leaking until context stop)
      snaps.free(labelsSnap)
      labelsSnap = nextSnap
      labels = next
      iter += 1
    }
    snaps.free(edgesSnap)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds")
    labels.select(col("id").as(idCol), col("lbl").as("cluster_id"))
  }

  /** One min-label propagation round over `(id, lbl)` labels and `(u, v)`
    * edges: min of (own label, neighbors' labels, label's label). Split
    * out so the plan audit can pin the round's join shapes — the loop
    * checkpoints each round, so the final frame's plan no longer contains
    * them.
    */
  private[graft] def propagationRound(labels: DataFrame, edges: DataFrame): DataFrame = {
    val viaNeighbor = edges
      .join(labels.select(col("id").as("v"), col("lbl")), "v")
      .select(col("u").as("id"), col("lbl"))
    val viaJump = labels
      .join(labels.select(col("id").as("lbl"), col("lbl").as("lbl2")), "lbl")
      .select(col("id"), col("lbl2").as("lbl"))
    labels.unionByName(viaNeighbor).unionByName(viaJump)
      .groupBy("id").agg(min("lbl").as("lbl"))
  }

  /** The "keep one per duplicate group" step: given [[clusterAssignments]]
    * output, keep each cluster's representative (the min-id doc — exactly
    * the label, so this is a filter, not another join or aggregate).
    */
  def keepRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame =
    docs.join(clusters.filter(col("cluster_id") === col(idCol))
      .select(col(idCol)), Seq(idCol), "left_semi")

  /** Quality-aware canonical pick per duplicate cluster: instead of
    * keep-smallest-id, keep the member with the HIGHEST score (ties →
    * smallest id) — what curation at scale actually wants: the cluster
    * survivor should be the best copy (longest, cleanest, least
    * boilerplate), not an arbitrary one. `scored` carries
    * (idCol, scoreCol); output is one row per cluster:
    * (clusterCol, cluster_size, rep_<id>, rep_score).
    *
    * Scale shape: one equi-join (cluster labels are skinny — id + label)
    * and ONE hash aggregate whose state is a bounded 1-element heap
    * ([[graft.functions.TopKByScore]]): partial aggregation ships one
    * candidate per (partition × cluster), never a per-cluster sort
    * window over all members.
    */
  /** Cluster-cohesion diagnostic — the audit that catches CHAINED
    * transitive merges before they eat a corpus: connected components
    * promise only reachability, so an aggressive LSH threshold can fuse
    * unrelated documents through a chain of borderline pairs. Per
    * cluster: member count, verified-pair edge count, triangle count and
    * edge density — a tight duplicate cluster is near-complete
    * (density → 1, triangles abundant), a risky chain is sparse
    * (density → 2/n, zero triangles). Downstream policy can then demote
    * low-cohesion clusters to per-pair review instead of dropping whole
    * components.
    *
    * Plan shape: edges and members are two skinny hash aggregates;
    * triangles are the classic sorted-edge wedge join — `(a<b) ⋈ (b<c)`
    * on the shared middle vertex, closed by one more equi-join on the
    * `(a, c)` edge — all on (long, long) pairs, payloads never involved.
    * At 100 TB-scale graphs the wedge join is bounded by the near-dup
    * pair volume (already capped by the LSH guards upstream), not the
    * corpus.
    *
    * `pairs`: (idA, idB) with idA < idB (the d03 contract);
    * `clusters`: (idCol, cluster_id). Output: one row per cluster —
    * (cluster_id, n_members, n_edges, n_triangles, edge_density).
    */
  def clusterCohesion(pairs: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame = {
    val p = pairs.select(col("idA"), col("idB"))
    val cl = clusters.select(col(idCol), col("cluster_id"))
    val members = cl.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val edges = p
      .join(cl.select(col(idCol).as("idA"), col("cluster_id")), "idA")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    val wedges = p.select(col("idA").as("__a"), col("idB").as("__b"))
      .join(p.select(col("idA").as("__b"), col("idB").as("__c")), "__b")
    val triangles = wedges
      .join(p.select(col("idA").as("__a"), col("idB").as("__c")),
        Seq("__a", "__c"))
      .join(cl.select(col(idCol).as("__a"), col("cluster_id")), "__a")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_triangles"))
    members
      .join(edges, Seq("cluster_id"), "left")
      .join(triangles, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("n_members") >= 2,
          round(coalesce(col("n_edges"), lit(0L)).cast("double") /
            (col("n_members") * (col("n_members") - lit(1L)) / lit(2)), 6))
          .otherwise(lit(0.0)).as("edge_density"))
  }

  def clusterRepresentatives(
      clusters: DataFrame, scored: DataFrame,
      idCol: String, clusterCol: String, scoreCol: String): DataFrame =
    clusters.join(scored, Seq(idCol))
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"),
        GraftFunctions.top_k_by(col(scoreCol), col(idCol), 1).as("__top"))
      .select(col(clusterCol), col("cluster_size"),
        element_at(col("__top"), 1).getField("id").as(s"rep_$idCol"),
        element_at(col("__top"), 1).getField("score").as("rep_score"))

  /** Span-level exact-substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): every occurrence of a word
    * `n`-gram that appears at least `minCount` times corpus-wide is
    * removed — EXCEPT the canonical first occurrence (lexicographically
    * smallest `(id, position)`), so each duplicated span survives exactly
    * once instead of vanishing from the corpus. Whole-document and
    * near-dup removal keep/drop entire rows; this trims the shared
    * boilerplate (headers, license blocks, templated paragraphs) out of
    * otherwise-distinct documents.
    *
    * Returns one row per input row: `(id, text_kept, n_tokens,
    * n_removed)` where `text_kept` is the whitespace-normalized text with
    * covered tokens removed (empty string when everything was covered;
    * null text stays null).
    *
    * Scale shape: the corpus is hashed once into skinny
    * `(id, pos, gramHash)` rows (16-byte hash, no text) by the codegen'd
    * shingle kernel; duplicate detection is one partial-aggregable
    * hash agg on the gram hash (count + min-struct both combine
    * map-side); covered positions explode only from *duplicated*
    * occurrences — rare by definition — and collapse to one int-set row
    * per affected document. The full text shuffles exactly once, for the
    * final id-join; token filtering is a map-side `filter` by index, not
    * an explode/regroup of the corpus. A 64-bit hash collision can only
    * merge two distinct grams into one dup group (recall stays perfect;
    * precision loss is ~n_grams²/2^64 — at 10^12 grams, still <<1 span).
    *
    * Documents shorter than `n` words hash as a single whole-text gram
    * (the kernel's short-string contract), so an exactly-duplicated short
    * document is itself a removable span.
    *
    * Not idempotent by design: removing a span splices its neighbors
    * together, and the new boundary n-grams can themselves duplicate
    * (the same is true of token-stream ExactSubstr dedup). Iterate to a
    * fixpoint if downstream requires zero duplicated grams; one pass is
    * the standard pipeline treatment.
    */
  /** Winnowing overlap detection (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003 — the MOSS scheme): each document is reduced to its winnowing
    * fingerprint SET (sliding-window minima of k-gram hashes, window
    * `window` — [[graft.functions.HashKernels.winnowHashes]]), and pairs
    * sharing at least `minShared` fingerprints are reported with their
    * shared count. The winnowing guarantee makes this a DETECTION floor:
    * any verbatim overlap of ≥ window+k−1 characters between two docs is
    * certain to share a fingerprint, at an expected index size of only
    * 2/(window+1) of an every-gram index — the cheap first pass before
    * span-level dedup ([[removeDuplicatedSpans]]) pinpoints what to cut.
    *
    * Plan shape (100 TB posture): fingerprints explode to SKINNY
    * (id, fp) rows — text never shuffles; the pair generation is a
    * fingerprint-keyed self-join guarded by [[capBuckets]] (boilerplate
    * fingerprints shared by thousands of docs would otherwise go
    * quadratic in one hot key — dropped buckets are published on the
    * `metricName` observe channel); the shared-count is one hash
    * aggregate on the (idA, idB) pair key. No window, no cartesian.
    *
    * The cap default matches the LSH family (minhash/containment = 1000):
    * a fingerprint shared by >1000 documents is boilerplate by
    * construction — it contributes nothing to `minShared`-level real
    * overlap but costs O(bucket²) pair rows. For PAIRWISE copies in a
    * mostly-unique corpus, detection is unaffected: their shared runs
    * include document-specific grams whose buckets stay tiny. The caveat
    * is MASS duplication — a document replicated more than
    * `maxBucketSize` times has EVERY fingerprint in an over-cap bucket
    * and yields zero pairs here; the guard is observe-reported on
    * `metricName`, so callers seeing non-zero drops on the
    * `winnow_buckets` channel should raise the cap (or route mass
    * duplicates through exact dedup first, which catches verbatim
    * replicas at hash-groupBy cost).
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4, minShared: Long = 2,
      maxBucketSize: Int = 1000,
      metricName: String = "winnow_buckets"): DataFrame = {
    require(k >= 2, "gram width must be at least 2")
    require(window >= 2, "winnowing window must be at least 2")
    require(minShared >= 1, "minShared must be positive")
    val fps = df.select(col(idCol),
        explode(GraftFunctions.winnow_hashes(normalized(col(textCol)), k, window))
          .as("__fp"))
    val guarded = capBuckets(fps, Seq("__fp"), maxBucketSize, metricName)
    val a = guarded.select(col(idCol).as("idA"), col("__fp"))
    val b = guarded.select(col(idCol).as("idB"), col("__fp"))
    a.join(b, Seq("__fp"))
      .filter(col("idA") < col("idB"))
      .groupBy("idA", "idB")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Dedup-threshold sensitivity curve: for each candidate Jaccard
    * threshold, how many near-duplicate pairs and how many involved
    * documents the corpus holds — the tuning report run BEFORE fixing a
    * production dedup threshold (too low eats unique data, too high
    * leaves duplicates in; the curve's knee is the decision input).
    *
    * ONE pair-generation pass at the LOOSEST threshold (the expensive
    * LSH + exact-verify pipeline runs once — NOT once per threshold);
    * each verified pair then replicates into the ≤ |thresholds| rows of
    * thresholds it clears (a bounded explode over a literal array) and
    * two skinny aggregates produce the curve. Thresholds with zero pairs
    * still emit a row. Candidate recall at every swept threshold is
    * governed by the banding configuration at the loosest one (the
    * 1−(1−j^r)^b curve) — sweep within the regime the banding was tuned
    * for, exactly as a single-threshold run would.
    *
    * Output: (threshold, n_pairs, n_dup_docs) ascending.
    */
  def dedupSensitivity(df: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double], shingleK: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds.distinct.size == thresholds.size,
      s"thresholds must be distinct, got $thresholds")
    require(thresholds.forall(t => t > 0.0 && t <= 1.0),
      s"thresholds must lie in (0, 1], got $thresholds")
    val ts = thresholds.sorted
    // materialized: both aggregates below reference the pair frame, and
    // an unmaterialized lineage would run the LSH + verify pipeline twice
    val pairs = minhashNearDupPairs(df, idCol, textCol, ts.head, shingleK,
      bands, rowsPerBand, maxBucketSize).localCheckpoint(true)
    val hit = pairs.select(
      explode(filter(typedLit(ts), t => col("jaccard") >= t)).as("threshold"),
      col("idA"), col("idB"))
    val pc = hit.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val dc = hit
      .select(col("threshold"), explode(array(col("idA"), col("idB"))).as("__id"))
      .groupBy("threshold").agg(count_distinct(col("__id")).as("n_dup_docs"))
    val spark = df.sparkSession
    import spark.implicits._
    ts.toDF("threshold")
      .join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
  }

  /** The published two-stage overlap pipeline (Schleimer–Wilkerson–Aiken
    * winnowing → span-level dedup, the MOSS→ExactSubstr composition):
    * [[winnowingPairs]] SHORTLISTS document pairs sharing ≥ `minShared`
    * fingerprints at ~2/(window+1) of full gram-index cost, then
    * [[removeDuplicatedSpans]] runs RESTRICTED to the shortlisted
    * documents (a key-only left-semi join — non-shortlisted text never
    * enters the expensive per-gram explode) and pinpoints exactly which
    * token spans to cut. Output: the span-dedup schema over shortlisted
    * docs only.
    *
    * 100 TB posture: stage 1 moves skinny (id, fp) rows; stage 2's
    * gram explode — the expensive part — touches only the shortlist,
    * typically a tiny corpus fraction. Restriction changes occurrence
    * counts only for grams duplicated exclusively between a shortlisted
    * and an UNshortlisted doc — such docs share a ≥ window+k−1 char run
    * and land on the shortlist themselves whenever the run clears
    * `minShared`, so at matched thresholds the restricted pass equals
    * the full pass (spec-pinned on the planted fixture).
    */
  def winnowedSpanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, window: Int = 16, minShared: Long = 2,
      n: Int = 8, minCount: Long = 2,
      maxBucketSize: Int = 1000,
      metricName: String = "winnow_buckets"): DataFrame = {
    val pairs = winnowingPairs(df, idCol, textCol, k, window, minShared,
      maxBucketSize, metricName)
    // materialize the key-only shortlist: the span stage references its
    // input three times (gram counts, coverage join, final reassembly),
    // and without the lineage cut the whole stage-1 winnowing DAG would
    // re-execute per reference. The checkpoint holds ONE long column —
    // bounded by the flagged-doc count, not the corpus
    val ids = pairs.select(col("idA").as(idCol))
      .unionByName(pairs.select(col("idB").as(idCol)))
      .distinct()
      .localCheckpoint(true)
    removeDuplicatedSpans(df.join(ids, Seq(idCol), "left_semi"),
      idCol, textCol, n, minCount)
  }

  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    require(n >= 1, "gram width must be positive")
    require(minCount >= 2, "a span occurring once is not a duplicate")
    val grams = df.select(col(idCol),
        GraftFunctions.shingle_hashes(normalized(col(textCol)), n,
          word = true, distinct = false).as("__gs"))
      .select(col(idCol), posexplode(col("__gs")).as(Seq("__pos", "__g")))
    val dups = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol).as("__cid"), col("__pos").as("__cpos"))).as("__canon"))
      .filter(col("__cnt") >= minCount)
      .select(col("__g"), col("__canon"))
    val covered = grams.join(dups, "__g")
      .filter(!(col(idCol) === col("__canon.__cid") &&
        col("__pos") === col("__canon.__cpos")))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1))).as("__cov"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__cov")).as("__covs"))
    rebuildExcludingCovered(df, idCol, textCol, covered)
  }

  /** Shared rebuild tail of the span-dedup family: given per-doc covered
    * token positions (`idCol`, `__covs: array<int>` — one row per doc
    * that has any), re-emit every input doc with its covered tokens
    * dropped. Kept indices via array_except (hash-set, O(n+m), order of
    * the first argument preserved) — a per-token array_contains scan is
    * O(n_tokens · n_covered) and straggles on exactly the heavily
    * duplicated documents these operators target.
    */
  private def rebuildExcludingCovered(df: DataFrame, idCol: String,
      textCol: String, covered: DataFrame): DataFrame = {
    val toks = split(normalized(col(textCol)), " ")
    df.join(covered, Seq(idCol), "left")
      .withColumn("__toks", toks)
      .withColumn("__covs",
        coalesce(col("__covs"), array().cast("array<int>")))
      .withColumn("__kept",
        transform(
          array_except(sequence(lit(0), size(col("__toks")) - 1), col("__covs")),
          i => element_at(col("__toks"), i + 1)))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_kept"),
        size(col("__toks")).as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).as("n_removed"))
  }

  /** EXACT-substring dedup at an arbitrary length threshold — the real
    * Lee et al. 2022 ExactSubstr ("Deduplicating Training Data Makes
    * Language Models Better"), with ZERO hash-collision risk (unlike
    * [[removeDuplicatedSpans]]'s 64-bit gram hashes): every token span of
    * length ≥ `minLen` that occurs more than once in the corpus (within
    * or across documents) is trimmed everywhere but its canonical first
    * occurrence (smallest (doc, position)) — equality is witnessed by the
    * window CONTENT itself, so engine and oracle cannot disagree even at
    * 10^12 grams (d07's admitted ~n²/2^64 false-merge rate is gone).
    *
    * Algorithm: a position starts a duplicated `minLen`-span iff its
    * `minLen`-token window occurs at least twice corpus-wide, and after
    * whitespace normalization tokens contain no spaces, so the
    * space-joined window string over fixed-length windows is an
    * INJECTIVE exact class key. That collapses the suffix-array prefix-
    * doubling formulation this operator previously carried —
    * ⌊log₂ minLen⌋ rounds of (position equi-join + class aggregate +
    * class join), each checkpointed, plus a sparse-table shift join —
    * into ONE map-side pass (slice every full window out of the per-doc
    * token array) followed by ONE map-side-combined class aggregate and
    * ONE equi-join, with the keyed frame's exchange reused between the
    * two. Positions whose window would cross the document end cannot
    * start a full-length span and are simply not keyed (the doubling
    * formulation gave them per-row sentinel singleton classes — same
    * effect, no rows). Any duplicated span of length M ≥ minLen is the
    * union of its M − minLen + 1 duplicated minLen-windows, so trimming
    * all non-canonical duplicated window starts removes exactly the
    * maximal duplicated spans (the paper's construction). Same
    * non-idempotency caveat as d07: splicing can create new boundary
    * spans; one pass is the standard treatment.
    *
    * Output: (id, text_kept, n_tokens, n_removed, n_spans) where
    * n_spans counts the doc's MAXIMAL removed runs (island count of the
    * covered-position set). Docs shorter than `minLen` tokens pass
    * through untouched (exact dedup d01/d02 owns whole-short-doc
    * duplicates; d07's whole-doc-gram fallback is deliberately not
    * carried).
    *
    * Plan shape (100 TB posture): the corpus crosses the wire ONCE as
    * (window key, occurrence) rows — each window class aggregates its
    * occurrence LIST (bounded by that class's duplication count, the
    * same per-key volume the former class join shipped to one reducer
    * anyway) and the non-minimal members fall out map-side, so there is
    * no join-back, no second keyed shuffle and no intermediate
    * checkpoint; the covered-position set and the maximal-island count
    * both come off one per-doc `collect_set` (islands = sorted-gap scan
    * over the set, linear and map-side — the former per-position
    * anti-join is gone). Text shuffles exactly once, for the final
    * rebuild join. The whole operator is ONE lazy plan — two skinny
    * exchanges + the rebuild join — window-free, sort-free and
    * cartesian-free (plan-pinned). `checkpointDir` is accepted for API
    * stability but unused: the single-pass formulation has no iterative
    * rounds to make durable (shuffle-level recovery covers it), and the
    * iterated wrapper materializes per-pass frames itself.
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    require(minLen >= 2, "span threshold must be at least 2 tokens")
    // one map-side pass: every full-length window, keyed by its own
    // content
    val keyed = df
      .select(col(idCol), split(normalized(col(textCol)), " ").as("__toks"))
      .filter(size(col("__toks")) >= minLen)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $minLen), " +
          s"i -> array_join(slice(__toks, i + 1, $minLen), ' '))"))
        .as(Seq("__pos", "__k")))
    // (d, p) longs order the canonical pick exactly as before; oid/opos
    // carry the original-typed id and position back out of the aggregate
    val occ = struct(col(idCol).cast("long").as("d"),
      col("__pos").cast("long").as("p"),
      col(idCol).as("oid"), col("__pos").as("opos"))
    val dupStarts = keyed.groupBy(col("__k"))
      .agg(collect_list(occ).as("__occs"))
      .filter(size(col("__occs")) >= 2)
      .select(explode(filter(col("__occs"),
        o => o =!= array_min(col("__occs")))).as("__o"))
      .select(col("__o.oid").as(idCol), col("__o.opos").as("__pos"))
    val covered = dupStarts
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(minLen - 1)))
          .as("__cov"))
      .groupBy(col(idCol)).agg(collect_set(col("__cov")).as("__covs"))
    // maximal-span islands, linearly off the sorted covered set: gaps
    // greater than 1 between consecutive covered positions + 1
    val sorted = sort_array(col("__covs"))
    val gaps = zip_with(
      slice(sorted, lit(2), size(sorted) - 1),
      slice(sorted, lit(1), size(sorted) - 1),
      (a, b) => a - b)
    val covsWithSpans = covered.select(col(idCol), col("__covs"),
      (size(filter(gaps, d => d > lit(1))) + 1).cast("long").as("__nspans"))
    // the d07 rebuild, inlined to carry the span count through
    val toks = split(normalized(col(textCol)), " ")
    df.join(covsWithSpans, Seq(idCol), "left")
      .withColumn("__toks", toks)
      .withColumn("__covs",
        coalesce(col("__covs"), array().cast("array<int>")))
      .withColumn("__kept",
        transform(
          array_except(sequence(lit(0), size(col("__toks")) - 1), col("__covs")),
          i => element_at(col("__toks"), i + 1)))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_kept"),
        size(col("__toks")).as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).as("n_removed"),
        coalesce(col("__nspans"), lit(0L)).as("n_spans"))
  }

  /** Multi-pass [[exactSubstrDedup]] — the fixpoint treatment of the
    * documented non-idempotency: removing a span splices its neighbors
    * together, and the new junction can itself duplicate a span
    * elsewhere in the corpus (spec plants exactly this: a doc whose
    * pass-1 residue equals another doc). Each pass re-runs the full
    * exact-substring dedup over the previous pass's rebuilt text; the
    * emitted `n_residual` (the FINAL pass's removals) is the convergence
    * certificate — 0 means a fixpoint, the corpus holds no duplicated
    * span ≥ `minLen` at all. One pass is the published standard
    * treatment; `passes = 2` already clears the splice-junction class.
    *
    * Output: (id, text_kept, n_tokens [original], n_removed [total
    * across passes], n_residual [final pass]).
    *
    * 100 TB posture: exactly `passes` × the d20 cost — pass i's input is
    * pass i−1's checkpointed rebuild, so lineage stays flat and no pass
    * recomputes another.
    */
  def exactSubstrDedupIterated(df: DataFrame, idCol: String,
      textCol: String, minLen: Int = 8, passes: Int = 2,
      checkpointDir: Option[String] = None): DataFrame = {
    require(passes >= 1, "need at least one pass")
    val snaps = new graft.pipeline.RoundSnapshots(checkpointDir)
    // keep = 1: pass i's p frame feeds BOTH pass i+1's input text and the
    // lazily-chained totals join, so it must outlive one more advance
    val passRoll = snaps.roll("pass", keep = 1)
    val totalsRoll = snaps.roll("totals")
    var cur = df.select(col(idCol), col(textCol).as("__txt"))
    var totals: DataFrame = null
    var last: DataFrame = null
    for (i <- 1 to passes) {
      // each pass's internal rounds get their own subdirectory; once the
      // pass result is snapshotted here, everything under it is dead
      val passDir = checkpointDir.map(d => s"${d.stripSuffix("/")}/sub_$i")
      val p = passRoll.advance(
        exactSubstrDedup(cur, idCol, "__txt", minLen, passDir))
      passDir.foreach { d =>
        val path = new org.apache.hadoop.fs.Path(d)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
      totals = totalsRoll.advance(
        if (i == 1) p.select(col(idCol), col("n_tokens"),
          col("n_removed").as("__racc"))
        else totals
          .join(p.select(col(idCol), col("n_removed")), Seq(idCol))
          .select(col(idCol), col("n_tokens"),
            (col("__racc") + col("n_removed")).as("__racc")))
      last = p
      cur = p.select(col(idCol), col("text_kept").as("__txt"))
    }
    // only the FINAL pass frame backs the result — drop the superseded one
    passRoll.trim(1)
    totals
      .join(last.select(col(idCol), col("text_kept"),
        col("n_removed").as("n_residual")), Seq(idCol))
      .select(col(idCol), col("text_kept"), col("n_tokens"),
        col("__racc").as("n_removed"), col("n_residual"))
  }

  /** Asymmetric near-duplicate pairs by OVERLAP COEFFICIENT —
    * `|S(A) ∩ S(B)| / min(|S(A)|, |S(B)|)` over distinct WORD
    * `n`-gram hash sets (`word = false` switches to character grams) —
    * the quote/subset detector Jaccard-based dedup
    * structurally misses: a document CONTAINED in a longer one (a quoted
    * article, a re-post with commentary, a truncated crawl of the same
    * page) shares nearly all of the shorter side's grams but few of the
    * union, so its Jaccard is low while its overlap coefficient is ~1.
    * Word grams are the default: they match the decontamination
    * convention AND keep the gram space high-entropy — prefix
    * filtering's effectiveness is proportional to posting-list sparsity,
    * and character grams over template-heavy corpora collapse into a
    * tiny vocabulary whose postings make near-all-pairs candidates
    * (measured: the sf0.1 fixture has 2k distinct char-5-grams vs 240k
    * word-5-grams over the same 10k docs — 18.5M candidates vs tens of
    * thousands).
    *
    * Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin
    * principle — Bayardo et al., WWW 2007; Xiao et al., VLDB 2008): order
    * every doc's gram set globally by ascending document frequency
    * (rarest first, ties by gram value), and index only each doc's first
    * `|S| − ⌈τ·|S|⌉ + 1` grams. Pigeonhole guarantee: for any pair with
    * overlap ≥ τ·min(na, nb), the smaller side's prefix must hit the
    * intersection, so joining PREFIX grams against the full inverted
    * index loses no qualifying pair. Because the prefix keeps each doc's
    * RAREST grams, hot boilerplate grams almost never enter the join's
    * probe side — the frequency ordering is itself the skew defense; the
    * residual hot-gram cap on the indexed side is the standard
    * observe-reported guard (`containment_skew_guard`).
    *
    * Scale shape: the gram frequency join and the candidate join shuffle
    * skinny `(gram, id)` longs; gram ARRAYS move only for verification
    * candidates (joined back by id, the d03 convention); the exact
    * intersection is a map-side `array_intersect` per candidate pair.
    * Output: (idA, idB, n_shared, overlap) with idA < idB, overlap ≥
    * `threshold`, exact (not estimated) modulo 64-bit gram-hash
    * collisions.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, threshold: Double = 0.9,
      maxGramGroup: Int = 10000, word: Boolean = true,
      materializeIntermediates: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    def mat(frame: DataFrame): DataFrame =
      if (materializeIntermediates) frame.localCheckpoint(eager = true)
      else frame
    // shingle ONCE: the gram sets feed the frequency count, the inverted
    // index AND (sorted) the verification arrays — left lazy, the
    // shingling kernel re-runs per reference
    val sets0 = mat(docs.select(col(idCol),
      GraftFunctions.shingle_hashes(
        normalized(col(textCol)), shingleK, word).as("__g0")))
    val ex = sets0.select(col(idCol), explode(col("__g0")).as("__g"))
    val df = ex.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    // per-doc gram list in global (df, gram) order + set size; the
    // collect_list is bounded by the doc's own gram count. Materialized:
    // it feeds the prefix AND both verification sides
    val perDoc = mat(ex.join(df, "__g")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("__g"))))
          .as("__sorted"),
        count(lit(1)).as("__n"))
      .select(col(idCol),
        col("__sorted.__g").as("__grams"), col("__n")))
    // the 1e-9 guards the ⌈τ·n⌉ against upward float error shortening the
    // prefix below the pigeonhole bound — at worst it lengthens a prefix
    // by one gram (recall-safe; verification applies the exact threshold)
    val prefix = perDoc.select(col(idCol),
      explode(slice(col("__grams"), lit(1),
        (col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1)
          .cast("int")))
        .as("__g"))
    val indexed = capBuckets(ex, Seq("__g"), maxGramGroup,
      "containment_skew_guard")
    val cands = prefix
      .join(indexed.select(col("__g"), col(idCol).as("__other")), "__g")
      .filter(col(idCol) =!= col("__other"))
      .select(least(col(idCol), col("__other")).as("idA"),
        greatest(col(idCol), col("__other")).as("idB"))
      .distinct()
    val sets = perDoc.select(col(idCol), col("__grams"), col("__n"))
    cands
      .join(sets.select(col(idCol).as("idA"), col("__grams").as("__ga"),
        col("__n").as("__na")), "idA")
      .join(sets.select(col(idCol).as("idB"), col("__grams").as("__gb"),
        col("__n").as("__nb")), "idB")
      .select(col("idA"), col("idB"),
        size(array_intersect(col("__ga"), col("__gb"))).as("n_shared"),
        col("__na"), col("__nb"))
      .filter(col("n_shared").cast("double") >=
        lit(threshold) * least(col("__na"), col("__nb")).cast("double"))
      .select(col("idA"), col("idB"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("__na"), col("__nb")).cast("double"), 4).as("overlap"))
  }

  /** Incremental connected components — fold a delta's near-dup pairs
    * into a PERSISTED cluster map without re-running the corpus-scale
    * closure. The daily maintenance shape: clusters are computed once
    * ([[clusterAssignments]], persisted as `(id, cluster_id)`), then each
    * crawl increment merges in via a CONTRACTED graph:
    *
    *   - every pair endpoint maps to its super-node — the base cluster id
    *     for an already-clustered doc (cluster ids are the component's
    *     MINIMUM member id, so a cluster's id is a faithful proxy for the
    *     whole component), the doc id itself for a new doc;
    *   - label propagation runs over super-nodes only: O(touched clusters
    *     + delta) vertices, never O(corpus) — a delta doc bridging two
    *     existing clusters merges them through their super-edges;
    *   - the corpus-scale assignment table is NEVER exchanged: it is read
    *     twice — once through a broadcast left-semi restriction to the
    *     bounded endpoint set (O(delta) matched rows), once by the
    *     map-side relabel join keyed on `cluster_id` against the (small)
    *     super-label frame — and shuffled zero times; untouched clusters
    *     keep their labels without moving.
    *
    * `deltaPairs` must involve at least one delta doc per pair (the
    * [[minhashNearDupPairsIncremental]] contract); corpus-internal pairs
    * are already folded into `base`. Delta ids must be DISJOINT from the
    * corpus ids in `base` — the same uniqueness precondition every
    * incremental operator here carries; a colliding id would emit two
    * contradictory assignment rows (one per path), and a delta id equal
    * to an existing cluster label would relabel that unrelated cluster
    * through the relabel join. Result is row-identical to a full
    * [[clusterAssignments]] over (corpus ∪ delta) with the union pair
    * set — labels are component minima in both paths (driver-gated as
    * c13 against the batch closure oracle).
    */
  def clusterAssignmentsIncremental(
      base: DataFrame, deltaVertices: DataFrame, deltaPairs: DataFrame,
      idCol: String, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val relabel = incrementalRelabel(base, deltaVertices, deltaPairs, idCol,
      maxIters, checkpointDir)
    // one pass over the persisted map: relabel touched clusters, keep the
    // rest; no hint — the relabel frame is O(touched + delta) and AQE
    // picks broadcast when it is actually small
    val rebased = base.select(col(idCol), col("cluster_id").as("__old"))
      .join(relabel, col("__old") === col("__super"), "left")
      .select(col(idCol), coalesce(col("__new"), col("__old")).as("cluster_id"))
    rebased.unionByName(deltaAssignments(relabel, deltaVertices, idCol))
  }

  /** The CHANGED rows only of [[clusterAssignmentsIncremental]]: the
    * delta vertices' assignments plus the base rows whose cluster was
    * relabeled by a merge — O(delta + touched cluster members), never
    * O(corpus). The streaming entity-resolution state writes exactly
    * this per micro-batch (latest-wins tail overrides); applying it over
    * `base` (changed rows replace, others keep) reproduces the full
    * incremental result row-for-row. Same disjoint-ids contract.
    */
  def clusterAssignmentsIncrementalDelta(
      base: DataFrame, deltaVertices: DataFrame, deltaPairs: DataFrame,
      idCol: String, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val relabel = incrementalRelabel(base, deltaVertices, deltaPairs, idCol,
      maxIters, checkpointDir)
    // touched-cluster members with an actually-different label: inner
    // join against the O(touched + delta) relabel frame (AQE broadcast),
    // map-side over the corpus-scale base — no base shuffle
    val changed = base.select(col(idCol), col("cluster_id").as("__old"))
      .join(relabel, col("__old") === col("__super"))
      .filter(col("__new") =!= col("__old"))
      .select(col(idCol), col("__new").as("cluster_id"))
    changed.unionByName(deltaAssignments(relabel, deltaVertices, idCol))
  }

  /** Contracted-graph relabel frame `(__super, __new)` shared by the
    * full and delta-only incremental folds — see
    * [[clusterAssignmentsIncremental]] for the plan-shape contract.
    */
  private def incrementalRelabel(
      base: DataFrame, deltaVertices: DataFrame, deltaPairs: DataFrame,
      idCol: String, maxIters: Int,
      checkpointDir: Option[String]): DataFrame = {
    val snaps = new graft.pipeline.RoundSnapshots(checkpointDir)
    // deltaPairs is typically the LAZY tail of the incremental LSH +
    // verification pipeline, and this fold references it three times
    // (both endpoint projections + the super-edge joins) — materialize
    // once (the t73 pattern; measured: the verify joins re-ran 3× per
    // c13/e11 fold). Same for the endpoint→super map: O(delta)-bounded
    // by contract but referenced by both super-edge sides AND the vertex
    // union, each reference re-running its corpus-restriction semi-join.
    // Both are dead once the contracted closure below has materialized
    // its own label rounds — freed before returning.
    val pairsSnap = snaps.snap(
      deltaPairs.select(col("idA"), col("idB")), "delta_pairs")
    val dp = pairsSnap.df
    val baseMap = base.select(col(idCol).as("__id"), col("cluster_id"))
    // endpoints of the delta pair set (O(delta)), each mapped to its
    // super-node. A naive endpoints-LEFT-join-baseMap would shuffle the
    // corpus-scale base on every fold: Spark can only broadcast the RIGHT
    // side of a LeftOuter join, and the right side there is the base. So
    // restrict the base map-side FIRST — a broadcast left-semi with the
    // bounded endpoint set (O(delta) by the incremental contract, so the
    // hint is safe) — then left-join the endpoints against that O(delta)
    // matched frame, whose broadcast AQE picks for free.
    val endpoints = dp.select(col("idA").as("__id"))
      .unionByName(dp.select(col("idB").as("__id"))).distinct()
    val epSuperSnap = snaps.snap(endpointSupers(baseMap, endpoints), "ep_super")
    val epSuper = epSuperSnap.df
    val superEdges = dp
      .join(epSuper.select(col("__id").as("idA"), col("__super").as("__sa")), "idA")
      .join(epSuper.select(col("__id").as("idB"), col("__super").as("__sb")), "idB")
      .select(col("__sa").as("idA"), col("__sb").as("idB"))
      .filter(col("idA") =!= col("idB"))
    val superVertices = epSuper.select(col("__super").as(idCol))
      .unionByName(deltaVertices.select(col(idCol))).distinct()
    // label propagation over the CONTRACTED graph only
    val superLabels = clusterAssignments(superEdges, superVertices, idCol,
      maxIters, checkpointDir)
    // the closure's returned frame reads only its final label snapshot —
    // the pair and endpoint snaps are dead now
    snaps.free(pairsSnap)
    snaps.free(epSuperSnap)
    superLabels.select(col(idCol).as("__super"), col("cluster_id").as("__new"))
  }

  /** Delta vertices' final labels under `relabel` (their own id when the
    * closure never touched them).
    */
  private def deltaAssignments(relabel: DataFrame, deltaVertices: DataFrame,
      idCol: String): DataFrame =
    deltaVertices.select(col(idCol))
      .join(relabel, col(idCol) === col("__super"), "left")
      .select(col(idCol), coalesce(col("__new"), col(idCol)).as("cluster_id"))

  /** Corpus-wide line/paragraph-level exact dedup with document
    * reconstruction (the RefinedWeb / CCNet boilerplate-removal shape:
    * repeated lines — headers, footers, cookie banners — are removed
    * from every document EXCEPT the first place they occur, and each
    * document is rebuilt from its surviving lines in original order).
    * `sep` splits `textCol` into lines; the dedup key is
    * [[normalized]] line text, hashed to 64 bits. A line survives only
    * at its globally-first occurrence (lowest (`idCol`, position));
    * within-document repeats keep the first too. Documents whose every
    * line is a repeat are ABSENT from the output (nothing survives to
    * rebuild). Output: (`idCol`, n_lines, n_kept, text_kept).
    *
    * Plan shape (100 TB posture): line TEXT never shuffles — the explode
    * emits skinny (id, pos, xxhash64) rows; the global first-occurrence
    * winner is ONE hash aggregate (min over a (id, pos) struct,
    * map-side combined); winners fold to a per-document kept-position
    * array (bounded by lines-per-document, the operator's one documented
    * capacity assumption); reconstruction joins that skinny frame back
    * to the ORIGINAL docs on the document key — the only move of
    * payload text, one doc-keyed shuffle (free when the corpus is
    * bucketed by id) — and filters the re-split array locally with a
    * positional lambda. No window, no self-join, no cartesian. 64-bit
    * key collisions are the standard xxhash64 corpus-dedup tradeoff
    * (~n²/2⁶⁵; at 10¹⁰ distinct lines ≈ 0.003 expected false merges).
    */
  def dedupLinesRebuild(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val parts = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val lines = df.select(col(idCol), posexplode(parts).as(Seq("__pos", "__line")))
    val winners = lines
      .select(xxhash64(normalized(col("__line"))).as("__h"),
        struct(col(idCol).as("id"), col("__pos").as("pos")).as("__w"))
      .groupBy("__h").agg(min(col("__w")).as("__w"))
      .select(col("__w.id").as(idCol), col("__w.pos").as("__pos"))
    val keptPos = winners.groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__kept"))
    df.join(keptPos, Seq(idCol))
      .select(col(idCol),
        size(parts).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(
          filter(parts, (x, i) => array_contains(col("__kept"), i)),
          sep).as("text_kept"))
  }

  /** TF-IDF weighted all-pairs similarity search — the AllPairs prefix-
    * filtering algorithm (Bayardo, Ma & Srikant, WWW 2007, "Scaling Up
    * All Pairs Similarity Search"; see PAPERS.md): every document pair
    * whose COSINE over unit-normalized tf-idf vectors reaches
    * `threshold`, without an all-pairs comparison. The sparse-vector
    * complement of the dense-embedding s03: same question, answered from
    * the text itself.
    *
    * The filter: features order globally by DESCENDING document
    * frequency (ties by token) — frequent low-idf terms first — and each
    * document only INDEXES the suffix of its vector beyond the maximal
    * prefix that SOME sound bound keeps under `threshold`. Two bounds
    * run together, a row staying unindexed while EITHER is below θ:
    *
    *  - AllPairs (Bayardo et al. 2007): Σ_prefix w·mw(t), mw = the
    *    corpus-max normalized weight of t — cosine over shared features
    *    confined to the prefix cannot exceed it;
    *  - L2AP (Anastasiu & Karypis, WWW 2014): ‖w_prefix‖₂ — by
    *    Cauchy–Schwarz, cos ≤ ‖x_prefix‖·‖y‖ = ‖x_prefix‖ on unit
    *    vectors. On near-uniform weight profiles this keeps √-fold more
    *    prefix unindexed than the mw sum (Σ w·mw grows linearly,
    *    ‖·‖₂ as the square root), and because the order is df-desc the
    *    surviving indexed suffix concentrates on the RAREST tokens —
    *    exactly the short posting lists.
    *
    * A pair sharing ONLY unindexed prefix features of either side has
    * cosine < threshold by that side's bound, so probing the full
    * postings against the indexed suffix lists loses nothing. The
    * pruning power lives in the high-df terms everyone shares sitting
    * in the prefix: their corpus-sized posting lists never enter the
    * candidate join.
    *
    * Exactness (the b02 scoring convention): per-document norms sum
    * round-9 w² terms as DECIMAL(28,9); candidate cosines sum round-9
    * weight products the same way; the threshold compares on the RAW
    * decimal-sum double and the emission rounds to 6. idf is the t07
    * convention ln((N+1)/(df+1)).
    *
    * Plan shape (100 TB posture): tf-idf postings build from ONE corpus
    * tokenize (df/mw/order frames are vocabulary-bounded and BROADCAST
    * back); the per-document running bound is a doc-keyed window over
    * the document's own tokens (never corpus-global); the candidate
    * join is full-postings ⋈ indexed-suffix on the token with
    * [[capBuckets]] on the indexed side (`allpairs_skew_guard`,
    * observe-reported drops); verification joins the unit vectors back
    * BY ID restricted to the candidate pairs (the d05 posture — skinny
    * id pairs shuffle, never vectors × vectors).
    *
    * Output: (idA, idB, cosine) with idA < idB, cosine ≥ threshold.
    */
  def tfidfAllPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 5,
      maxBucketSize: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must lie in (0, 1], got $threshold")
    require(shingleWidth >= 1, s"shingleWidth must be >= 1")
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    // feature space: word `shingleWidth`-grams of the normalized text
    // (width 1 = plain tokens). The gram width is what makes the filter
    // BITE: a unigram vocabulary is small and universally shared, so
    // every pair would share an indexed feature and candidate
    // generation degenerates to all-pairs; 5-gram features are
    // discriminative (the d05/d11 convention) and rare-gram posting
    // lists are short
    val feats =
      if (shingleWidth == 1)
        df.select(col(idCol).as("__id"),
            explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
          .filter(length(col("__tok")) > 0)
      else {
        val words = split(normalized(col(textCol)), " ")
        df.select(col(idCol).as("__id"),
          TextAnalysis.explodeWhen(size(words) >= shingleWidth,
            transform(
              sequence(lit(1), size(words) - shingleWidth + 1),
              i => array_join(slice(words, i, lit(shingleWidth)), " ")),
            "string").as("__tok"))
      }
    val tf = feats.groupBy("__id", "__tok").agg(count(lit(1)).as("__tf"))
    val dfq = tf.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__N"))
    val w = tf.join(broadcast(dfq), "__tok")
      .crossJoin(broadcast(nDocs))
      .select(col("__id"), col("__tok"), col("__df"),
        (col("__tf").cast("double") *
          log((col("__N").cast("double") + lit(1.0)) /
            (col("__df").cast("double") + lit(1.0)))).as("__w"))
    // the norm rides a doc-keyed window over the document's own posting
    // rows (one exchange by id; an aggregate would need the same
    // exchange PLUS a join back)
    val wn = w
      .withColumn("__n2",
        sum(round(col("__w") * col("__w"), 9).cast(dec9)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))))
      .filter(col("__n2").cast("double") > 0.0)
      .select(col("__id"), col("__tok"), col("__df"),
        (col("__w") / sqrt(col("__n2").cast("double"))).as("__wn"))
    // one materialization: the max-weight frame, the running bound AND
    // both verification sides all consume the normalized postings
    val posts = wn.localCheckpoint(eager = true)
    val mw = posts.groupBy("__tok").agg(max(col("__wn")).as("__mw"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__df").desc, col("__tok").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val bounded = posts.join(broadcast(mw), "__tok")
      .withColumn("__cum", sum(col("__wn") * col("__mw")).over(win))
      .withColumn("__l2", sqrt(sum(col("__wn") * col("__wn")).over(win)))
    val indexed = capBuckets(
      bounded
        .filter(col("__cum") >= threshold && col("__l2") >= threshold)
        .select(col("__id"), col("__tok")),
      Seq("__tok"), maxBucketSize, "allpairs_skew_guard")
    val candidates = posts.select(col("__id").as("__pid"), col("__tok"))
      .join(indexed.select(col("__id").as("__iid"), col("__tok")), "__tok")
      .filter(col("__pid") =!= col("__iid"))
      .select(least(col("__pid"), col("__iid")).as("idA"),
        greatest(col("__pid"), col("__iid")).as("idB"))
      .distinct()
    val pa = posts.select(col("__id").as("idA"), col("__tok"),
      col("__wn").as("__wa"))
    val pb = posts.select(col("__id").as("idB"), col("__tok"),
      col("__wn").as("__wb"))
    candidates
      .join(pa, "idA")
      .join(pb, Seq("idB", "__tok"))
      .groupBy(col("idA"), col("idB"))
      .agg(sum(round(col("__wa") * col("__wb"), 9).cast(dec9)).as("__c"))
      .filter(col("__c").cast("double") >= threshold)
      .select(col("idA"), col("idB"),
        (round(col("__c").cast("double"), 6) + lit(0.0)).as("cosine"))
  }

  /** Endpoint → super-node lookup for the incremental fold. Split out so
    * the plan audit can pin its shape: `baseMap` is corpus-scale, so the
    * lookup must restrict it MAP-SIDE (broadcast left-semi with the
    * bounded endpoint set) before any outer join — the outer join then
    * runs against the O(delta) matched frame, never the base. `endpoints`
    * must be distinct on `__id` (the caller's `.distinct()` contract);
    * a duplicate endpoint would fan out the matched frame.
    */
  private[graft] def endpointSupers(
      baseMap: DataFrame, endpoints: DataFrame): DataFrame = {
    val matchedBase = baseMap.join(broadcast(endpoints), Seq("__id"), "left_semi")
    endpoints.join(matchedBase, Seq("__id"), "left")
      .select(col("__id"), coalesce(col("cluster_id"), col("__id")).as("__super"))
  }
}
