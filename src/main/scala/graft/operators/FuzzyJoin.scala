package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Edit-distance similarity join (record linkage): all row pairs whose
 * string values are within a Levenshtein distance bound — the Ed-Join
 * shape (Xiao, Wang, Lin, "Ed-Join: An Efficient Algorithm for
 * Similarity Joins with Edit Distance Constraints", VLDB 2008; see
 * PAPERS.md): POSITIONAL q-gram prefix filtering under a global
 * rarest-first gram order + position/length filters + exact
 * verification. The reference engine has no fuzzy matching at all (its
 * filters are MVEL row predicates, `implementation/RowFilter.java`);
 * this is the linkage operator a training-data pipeline needs for
 * entity resolution across noisy catalog/author/title fields.
 *
 * Plan shape (100 TB posture):
 *   1. Positional q-grams per row — map-only (`transform`/`substr` +
 *      posexplode, codegen).
 *   2. ONE gram document-frequency aggregate (skinny `(gram)` shuffle) —
 *      the global order that makes prefixes RARE.
 *   3. Per-row signature: the `q·d + 1` positional grams whose CONTENT
 *      is globally rarest (ties by gram, then position). Pigeonhole
 *      (Ed-Join Lemma; Gravano et al.'s count filter): `d` edits
 *      destroy at most `q·d` positional grams under position-tolerance
 *      `d` matching (an edit shifts later gram positions by at most 1
 *      each, at most `d` total), so two rows within distance `d` whose
 *      gram counts exceed `q·d` must share a signature gram at
 *      positions differing by at most `d`.
 *   4. Candidate join on `(gram, banded position)`: each signature gram
 *      probes positions `[p − d, p + d]` (bounded `2d+1` fan-out), so
 *      the position tolerance is IN the join key — on low-entropy gram
 *      populations (ids, serials: few distinct grams over millions of
 *      rows) this slices each gram bucket by position instead of going
 *      quadratic in it. Buckets are additionally skew-capped
 *      ([[Dedup.capBuckets]], observed metric `edjoin_skew_guard`).
 *   5. SHORT branch: a row with `count <= q·d` positional grams
 *      (length < `q·(d+1)`) gets NO pigeonhole guarantee — such a pair
 *      can be within distance `d` sharing zero grams (e.g. "ab"/"ac"
 *      at q=3). Those rows join by a LENGTH BAND instead
 *      (`|len(a) − len(b)| <= d` always holds at distance `d`) against
 *      the pool of rows short enough to be within `d` of a short row;
 *      per-length buckets carry the same observed cap
 *      (`edjoin_short_guard`). In a real corpus this branch holds the
 *      tiny sub-`q(d+1)`-char tail.
 *   6. Candidates dedup as SKINNY `(id_a, id_b)` pairs — strings are
 *      re-attached BY ID for the exact `levenshtein` verify (the d03
 *      verification posture: candidate-restricted joins move ids, not
 *      payloads).
 * No window, no cartesian, no driver-side state. Null strings never
 * pair (`levenshtein(null, _)` is null, filtered).
 */
object FuzzyJoin {

  /** All pairs `(id_a, id_b, dist)` with `id_a < id_b` drawn from `df`
    * where `levenshtein(str_a, str_b) <= maxDist`. Exact modulo the skew
    * guard (`maxBucketSize`, observed as `edjoin_skew_guard` /
    * `edjoin_short_guard`): rows whose signature grams (or, short
    * branch, length buckets) ALL sit in over-cap buckets can lose
    * candidates — with rarest-first position-banded signatures that
    * takes an adversarial distribution, and the metrics make it
    * visible. `maxBucketSize <= 0` disables both guards.
    */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val rows = gramRows(base, maxDist, q)
    val sigs = signatures(rows, maxDist, q, maxBucketSize)
    val long = sigs.select(col("__g"), explode(col("__band")).as("__p"),
        col("__id").as("id_a"))
      .join(sigs.select(col("__g"), col("__p"), col("__id").as("id_b")),
        Seq("__g", "__p"))
    // the short probe is one-directional (only the short row probes), so
    // normalize the pair order here; the long branch is symmetric (both
    // members probe each other's band) and the `<` filter keeps one copy
    val short = shortBand(rows, maxDist, q, maxBucketSize)
      .select(col("__lb"), col("__id").as("__x"))
      .join(shortPool(rows, maxDist, q)
        .select(col("__len").as("__lb"), col("__id").as("__y")), "__lb")
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"))
    val cands = long.select("id_a", "id_b")
      .filter(col("id_a") < col("id_b"))
      .unionByName(short.filter(col("id_a") < col("id_b")))
      .distinct()
    verify(cands, base, base, maxDist)
  }

  /** Two-table variant: all `(left, right)` row pairs within `maxDist`,
    * emitted as `(id_a = left id, id_b = right id, dist)`. The
    * gram-frequency order is computed over BOTH sides (a shared order is
    * what the prefix pigeonhole needs); the short branch takes
    * guarantee-less rows from EITHER side against the other side's
    * length-band pool.
    */
  def editDistanceJoin(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int, q: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val l = left.select(col(leftId).as("__id"), col(leftStr).as("__s"))
    val r = right.select(col(rightId).as("__id"), col(rightStr).as("__s"))
    val both = l.withColumn("__side", lit(0))
      .unionByName(r.withColumn("__side", lit(1)))
    val rows = gramRows(both, maxDist, q)
    val sigs = signatures(rows, maxDist, q, maxBucketSize)
    val long = sigs.filter(col("__side") === 0)
      .select(col("__g"), explode(col("__band")).as("__p"),
        col("__id").as("id_a"))
      .join(sigs.filter(col("__side") === 1)
        .select(col("__g"), col("__p"), col("__id").as("id_b")),
        Seq("__g", "__p"))
    // short branch both ways: a pigeonhole-less LEFT row against the
    // right length pool, and a pigeonhole-less RIGHT row against the left
    val short = shortBand(rows, maxDist, q, maxBucketSize)
    val pool = shortPool(rows, maxDist, q)
    val s0 = short.filter(col("__side") === 0)
      .select(col("__lb"), col("__id").as("id_a"))
      .join(pool.filter(col("__side") === 1)
        .select(col("__len").as("__lb"), col("__id").as("id_b")), "__lb")
    val s1 = short.filter(col("__side") === 1)
      .select(col("__lb"), col("__id").as("id_b"))
      .join(pool.filter(col("__side") === 0)
        .select(col("__len").as("__lb"), col("__id").as("id_a")), "__lb")
    val cands = long.select("id_a", "id_b")
      .unionByName(s0.select("id_a", "id_b"))
      .unionByName(s1.select("id_a", "id_b"))
      .distinct()
    verify(cands, l, r, maxDist)
  }

  /** Deletion-neighborhood self-join (FastSS / SymSpell; Bocek et al.
    * 2007, see PAPERS.md) — the small-`d` fast path for SHORT KEY fields
    * (names, ids, titles): if `ed(s, t) <= d`, the optimal alignment's
    * edit positions can be deleted from each side to leave a COMMON
    * string, so two strings within distance `d` share a member of their
    * `<= d`-deletion neighborhoods. Blocking on the (hashed) variants is
    * therefore recall-complete; precision is restored by the exact
    * verify. Each row emits `O(len^d)` variants — right for fields up to
    * ~dozens of chars, which is why this is a separate strategy and not
    * the [[editDistanceSelfJoin]] default (a 2 KB document field would
    * ship megabytes of variants per row; the q-gram path ships
    * `q·d + 1` signature grams regardless of length).
    *
    * Why it beats q-gram filtering on LOW-ENTROPY keys (serials,
    * zero-padded ids): there the rarest grams still repeat across
    * thousands of rows, but a full-string variant pins every OTHER
    * character, so a bucket holds only strings genuinely one edit apart
    * modulo the deleted position — measured 36× fewer candidates on the
    * customer-name fixture. Variants travel as 8-byte content hashes
    * emitted DIRECTLY by the
    * [[graft.functions.HashKernels.deletionVariantHashes]] codegen
    * kernel — O(len·d) positional-polynomial combines per row, no
    * variant string ever materializes; a hash collision can only add a
    * false CANDIDATE (removed by the verify), never lose a pair. Buckets
    * carry the standard observed cap (`symdel_skew_guard`).
    */
  def deletionNeighborhoodSelfJoin(df: DataFrame, idCol: String,
      strCol: String, maxDist: Int, maxBucketSize: Int = 10000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletion neighborhoods are practical for maxDist 1..2, got $maxDist" +
        " — use editDistanceSelfJoin (q-gram prefix filtering) for larger d")
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val vx = Dedup.capBuckets(
      base.select(col("__id"),
        explode(graft.functions.GraftFunctions.deletion_variant_hashes(
          col("__s"), maxDist)).as("__v")),
      Seq("__v"), maxBucketSize, "symdel_skew_guard")
    val cands = vx.select(col("__v"), col("__id").as("id_a"))
      .join(vx.select(col("__v"), col("__id").as("id_b")), "__v")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verify(cands, base, base, maxDist)
  }

  /** Two-table deletion-neighborhood join: all `(left, right)` pairs
    * within `maxDist`, emitted as `(id_a = left id, id_b = right id,
    * dist)`. Same contract and guard as
    * [[deletionNeighborhoodSelfJoin]]; the asymmetric form is what
    * incremental pipelines need (delta names vs the stored vocabulary).
    */
  def deletionNeighborhoodJoin(left: DataFrame, leftId: String,
      leftStr: String, right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int, maxBucketSize: Int = 10000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletion neighborhoods are practical for maxDist 1..2, got $maxDist" +
        " — use editDistanceJoin (q-gram prefix filtering) for larger d")
    val l = left.select(col(leftId).as("__id"), col(leftStr).as("__s"))
    val r = right.select(col(rightId).as("__id"), col(rightStr).as("__s"))
    // observe metric names must be query-unique, hence the per-side suffix
    def vx(base: DataFrame, idAs: String, side: String): DataFrame =
      Dedup.capBuckets(
        base.select(col("__id").as(idAs),
          explode(graft.functions.GraftFunctions.deletion_variant_hashes(
            col("__s"), maxDist)).as("__v")),
        Seq("__v"), maxBucketSize, s"symdel_skew_guard_$side")
    val cands = vx(l, "id_a", "left").join(vx(r, "id_b", "right"), "__v")
      .select("id_a", "id_b")
      .distinct()
    verify(cands, l, r, maxDist)
  }

  /** The positional q-gram array of `s` (order = position); a string
    * shorter than `q` contributes itself as its only gram (it still
    * lands in the SHORT branch — the array only feeds the frequency
    * order).
    */
  private[graft] def gramsOf(s: Column, q: Int): Column =
    when(length(s) >= q,
      transform(sequence(lit(1), length(s) - (q - 1)),
        i => s.substr(i, lit(q))))
      .otherwise(array(s))

  /** Input rows annotated with their positional gram array and count:
    * `(__id, __s, [__side], __grams, __n)`.
    */
  private def gramRows(df: DataFrame, maxDist: Int, q: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(q >= 2, s"q must be >= 2: $q")
    df.withColumn("__grams", gramsOf(col("__s"), q))
      .withColumn("__n", size(col("__grams")))
  }

  /** LONG-branch signature rows `(__id, [__side], __g, __p, __band)`:
    * for rows with `__n > q·d`, the `q·d + 1` positional grams whose
    * content is globally rarest — `__p` the gram's position, `__band`
    * the probe positions `[p − d, p + d]` (so one side of the candidate
    * join explodes the band while the other matches on `__p` exactly).
    * Skew-capped per gram.
    */
  private def signatures(rows: DataFrame, maxDist: Int, q: Int,
      maxBucketSize: Int): DataFrame = {
    val carry = rows.columns.filterNot(
      Seq("__s", "__grams", "__n", "__g0", "__p0", "__df").contains).toSeq
    val long = rows.filter(col("__n") > q * maxDist)
    val grams = long.select(carry.map(col) :+
      posexplode(col("__grams")).as(Seq("__p0", "__g0")): _*)
    val gramDf = grams.groupBy(col("__g0")).agg(count(lit(1)).as("__df"))
    val ranked = grams.join(gramDf, "__g0")
      .groupBy(carry.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col("__df"), col("__g0"), col("__p0")))).as("__sorted"))
      .select(carry.map(col) :+
        explode(slice(col("__sorted"), 1, q * maxDist + 1)).as("__sig"): _*)
      .select(carry.map(col) :+ col("__sig.__g0").as("__g") :+
        col("__sig.__p0").as("__p") :+
        sequence(col("__sig.__p0") - maxDist, col("__sig.__p0") + maxDist)
          .as("__band"): _*)
    // cap on the JOIN bucket key (gram, position) — the quadratic risk is
    // per (g, p) bucket, and capping on gram content alone would trip on
    // populations the position banding already slices fine
    Dedup.capBuckets(ranked, Seq("__g", "__p"), maxBucketSize,
      "edjoin_skew_guard")
  }

  /** SHORT-branch left side: rows with no pigeonhole guarantee
    * (`__n <= q·d`), fanned out to every partner length in
    * `[len − d, len + d]` as `__lb`, per-length buckets skew-capped.
    */
  private def shortBand(rows: DataFrame, maxDist: Int, q: Int,
      maxBucketSize: Int): DataFrame = {
    val carry = rows.columns.filterNot(
      Seq("__s", "__grams", "__n", "__lb").contains).toSeq
    val banded = rows.filter(col("__n") <= q * maxDist)
      .select(carry.map(col) :+
        explode(sequence(length(col("__s")) - maxDist,
          length(col("__s")) + maxDist)).as("__lb"): _*)
      .filter(col("__lb") >= 0)
    Dedup.capBuckets(banded, Seq("__lb"), maxBucketSize, "edjoin_short_guard")
  }

  /** SHORT-branch partner pool: every row a guarantee-less row could be
    * within `maxDist` of. Short rows have `__n <= q·d` grams, i.e.
    * length `< q·(d+1)`; partners at distance `d` are at most `d`
    * longer. Carries `__len` to meet the band key.
    */
  private def shortPool(rows: DataFrame, maxDist: Int, q: Int): DataFrame =
    rows.filter(col("__n") <= q * maxDist + maxDist)
      .withColumn("__len", length(col("__s")))

  /** Re-attach strings BY ID to the skinny deduped candidate pairs, then
    * length filter + exact Levenshtein; emits `(id_a, id_b, dist)`.
    */
  private def verify(cands: DataFrame, left: DataFrame, right: DataFrame,
      maxDist: Int): DataFrame =
    cands
      .join(left.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(right.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .filter(abs(length(col("__sa")) - length(col("__sb"))) <= maxDist &&
        levenshtein(col("__sa"), col("__sb")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
}
