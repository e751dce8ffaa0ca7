package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Text-analysis operators for training-data pipelines: language ID (stopword
 * n-gram heuristic), quality scoring (length/punctuation/stopword ratios),
 * token counting (whitespace + BPE-ish sub-word estimate), and document
 * fingerprinting (rolling hash).
 *
 * Everything is built-in `functions` — pure column expressions, fully
 * codegen'd, zero UDFs, zero shuffles: these are map-only operators that
 * scale linearly with the corpus.
 */
object TextAnalysis {

  /** Per-language stopword marker lists for the heuristic language
    * identifier. Tiny on purpose: the operator's shape (argmax of per-class
    * token-overlap scores) is what matters; vocabularies are pluggable.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "有", "我", "他", "这", "就"))

  private[operators] def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** The elements of `values` as rows where `cond` holds and no rows where
    * it does not: `explode(when(cond, values).otherwise(empty))`, `empty`
    * an `array<elemType>`. Dropping rows through this Generate instead of a
    * Filter is a plan barrier: predicate pushdown substitutes a computed
    * column's defining expression into a pushed Filter's condition
    * (measured: seven ~10k-node Filters in c37's optimized plan), and no
    * Filter is pushed across a Generate.
    */
  def explodeWhen(cond: Column, values: Column, elemType: String): Column =
    explode(when(cond, values).otherwise(array().cast(s"array<$elemType>")))

  /** Heuristic language ID: argmax over languages of stopword hit counts;
    * 'und' (undetermined) when nothing matched. Deterministic tie-break by
    * language code. All per-language hit counts come from ONE codegen'd
    * kernel pass over the document
    * ([[graft.functions.HashKernels.tokenSetHits]]) — the higher-order
    * filter-per-language formulation re-tokenized the text five times
    * outside whole-stage codegen; semantics are identical (same
    * trim/lower/split chain, same membership counting).
    */
  def langId(text: Column): Column = {
    val langs = stopwords.toSeq.sortBy(_._1)
    val hits = graft.functions.GraftFunctions.token_set_hits(
      coalesce(text, lit("")), langs.map(_._2))
    val scored = langs.zipWithIndex.map { case ((lang, _), i) =>
      struct(element_at(hits, i + 1).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: words + extra sub-word splits every 4 chars of
    * long words (a public rule-of-thumb approximation — ~4 chars/token).
    */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0),
      (acc, t) => acc + greatest(ceil(length(t) / 4.0).cast("int"), lit(1)))

  /** Quality score in [0,1]: blend of length band, alphabetic ratio,
    * mean-word-length band and whitespace sanity — the classic cheap
    * pre-filter for web-scale corpora (C4/Gopher-style rules).
    */
  def qualityScore(text: Column): Column = {
    val n = length(text)
    // kernel count of [a-zA-Z ] chars == length(regexp_replace(text,
    // "[^a-zA-Z ]", "")) without materializing the filtered string
    val alpha = graft.functions.GraftFunctions.alpha_space_count(text)
    val alphaRatio = when(n > 0, alpha.cast("double") / n).otherwise(lit(0.0))
    val nTok = tokenCount(text)
    val meanWordLen = when(nTok > 0, n.cast("double") / nTok).otherwise(lit(0.0))
    val lengthOk = when(n.between(50, 100000), lit(1.0)).otherwise(lit(0.0))
    val wordLenOk = when(meanWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    round((lit(0.3) * lengthOk + lit(0.4) * alphaRatio + lit(0.3) * wordLenOk), 6)
  }

  /** Linear quality-classifier INFERENCE — the corpus-scale half of the
    * fastText-style quality filter used on web-scale corpora (train a tiny
    * linear model offline on labeled docs; score 100 TB with it). The
    * model ships as literal weights; scoring is one map-only pass:
    *
    *   features (each in [0,1], all from existing kernel arithmetic):
    *     f_len   = min(length/1000, 1)         — enough-content signal
    *     f_alpha = [a-zA-Z ] char ratio        — markup/binary screen
    *     f_mwl   = min(meanWordLen/12, 1)      — tokenizability band
    *     f_stop  = en-stopword hits / tokens   — natural-language prior
    *   z     = w0 + w·f          (fixed left-to-right double fold)
    *   score = sigmoid(z)
    *
    * `keep` decides on the LINEAR margin (z >= 0 ⇔ sigmoid >= 0.5): the
    * decision is exact double arithmetic with no transcendental at the
    * boundary, so engines can't disagree on membership, only on trailing
    * sigmoid digits (handled by rounding at emission like every double
    * here). Adds (`score` double, `keep` boolean).
    */
  def linearQualityClassify(df: DataFrame, textCol: String,
      weights: Seq[Double]): DataFrame = {
    require(weights.length == 5, "weights = (bias, w_len, w_alpha, w_mwl, w_stop)")
    val text = col(textCol)
    val n = length(text)
    val alpha = graft.functions.GraftFunctions.alpha_space_count(text)
    val nTok = tokenCount(text)
    val fLen = least(n.cast("double") / lit(1000.0), lit(1.0))
    val fAlpha = when(n > 0, alpha.cast("double") / n).otherwise(lit(0.0))
    val meanWordLen = when(nTok > 0, n.cast("double") / nTok).otherwise(lit(0.0))
    val fMwl = least(meanWordLen / lit(12.0), lit(1.0))
    val stopHits = element_at(graft.functions.GraftFunctions.token_set_hits(
      coalesce(text, lit("")), Seq(stopwords("en"))), 1)
    val fStop = when(nTok > 0, stopHits.cast("double") / nTok).otherwise(lit(0.0))
    val z = lit(weights(0)) + lit(weights(1)) * fLen + lit(weights(2)) * fAlpha +
      lit(weights(3)) * fMwl + lit(weights(4)) * fStop
    df.withColumn("score", lit(1.0) / (lit(1.0) + exp(-z)))
      .withColumn("keep", z >= 0.0)
  }

  /** Deterministic weighted sample WITHOUT replacement — the
    * exponential-race / A-ES scheme (Efraimidis & Spirakis 2006): row i
    * draws key_i = ln(u_i) / w_i with u_i a pseudo-uniform in (0,1), and
    * the k LARGEST keys are the sample; inclusion probability is then
    * proportional-to-weight without replacement, with NO sequential scan
    * or RNG state. u_i comes from the [[graft.functions.Mix64]] avalanche
    * of the id (top 53 bits → mantissa), so the sample is reproducible
    * across runs/engines and stable per id; keys are rounded before
    * ranking (the t21 convention for transcendental outputs — libm ULP
    * noise can't flip an order the oracle disagrees with) with ties to
    * the smaller id. One map-only pass + the bounded top-k heap: shuffle
    * is k rows per partition, never the corpus. Zero/negative weights
    * are excluded (they cannot be drawn).
    * Output: (idCol, rank 1..k, key).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    val h = graft.functions.GraftFunctions.mix64(col(idCol).cast("long"), seed)
    // logical shift keeps the top 53 bits: u in (0, 1) with a half-ulp
    // offset so ln never sees 0
    val u = (shiftrightunsigned(h, 11).cast("double") + lit(0.5)) /
      lit(9007199254740992.0d) // 2^53
    val key = round(log(u) / col(weightCol).cast("double"), 9)
    df.filter(col(weightCol) > 0)
      .select(col(idCol), key.as("__key"))
      .agg(graft.functions.GraftFunctions.top_k_by(col("__key"), col(idCol), k)
        .as("__topk"))
      .select(posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col("__e.id").as(idCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.score").as("key"))
  }

  /** Rolling-hash document fingerprint (base-31 polynomial over the
    * normalized text) via the codegen'd [[graft.functions.PolyHash64]].
    */
  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.poly_hash64(Dedup.normalized(text))

  /** Substring (grep-style `contains`) search accelerated by a
    * character-`q`-gram inverted index — the Google-Code-Search trigram
    * recipe (Cox, "Regular Expression Matching with a Trigram Index",
    * 2012; see PAPERS.md): a document can contain a pattern of length
    * >= `q` only if it contains EVERY `q`-gram of the pattern, so
    * candidates are the posting-list intersection and only they pay the
    * exact `contains` verify. LOSSLESS by construction: gram-hash
    * collisions and the pigeonhole direction can only ADD candidates,
    * and verification removes them — output is exactly the full-scan
    * truth.
    *
    * Plan shape (100 TB posture): the posting build is ONE map pass
    * (codegen shingle kernel) + a skinny distinct `(gram_hash, id)`
    * shuffle — at corpus scale you persist it once as a table and
    * amortize across queries (it IS an index build); the per-pattern
    * probe is an equi-join on the hash restricted to the pattern's own
    * grams, the AND is one count aggregate against the pattern's gram
    * count, and the verify joins text back for CANDIDATES only — the
    * selective-search point: a rare pattern touches a vanishing
    * fraction of the corpus text. Patterns SHORTER than `q` get no
    * pigeonhole guarantee and take the documented broadcast full-scan
    * fallback. Output: (pattern, id) for every document whose raw text
    * contains the pattern.
    */
  def substringSearch(docs: DataFrame, idCol: String, textCol: String,
      patterns: DataFrame, patternCol: String, q: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions
    val pats = patterns.select(col(patternCol).as("__pat"))
      .filter(length(col("__pat")) > 0).distinct()
    val longPats = pats.filter(length(col("__pat")) >= q)
    val shortPats = pats.filter(length(col("__pat")) < q)
    val posting = docs.select(col(idCol),
      explode(GraftFunctions.shingle_hashes(col(textCol), q)).as("__g"))
    val pgrams = longPats.select(col("__pat"),
      explode(GraftFunctions.shingle_hashes(col("__pat"), q)).as("__g"))
    val pcounts = pgrams.groupBy("__pat").agg(count(lit(1)).as("__m"))
    val cand = posting.join(broadcast(pgrams), "__g")
      .groupBy(col("__pat"), col(idCol))
      .agg(count(lit(1)).as("__hit"))
      .join(broadcast(pcounts), "__pat")
      .filter(col("__hit") === col("__m"))
      .select(col("__pat"), col(idCol))
    val verified = cand
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      .filter(instr(col(textCol), col("__pat")) > 0)
      .select(col("__pat").as("pattern"), col(idCol))
    val shortHits = docs.select(col(idCol), col(textCol))
      .crossJoin(broadcast(shortPats))
      .filter(instr(col(textCol), col("__pat")) > 0)
      .select(col("__pat").as("pattern"), col(idCol))
    verified.unionByName(shortHits)
  }

  /** Split documents into fixed-size character chunks with overlap — the
    * standard context-window preparation step for training pipelines.
    * Map-only (one posexplode); output (id, chunk_no, chunk_text).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val stride = size - overlap
    df.select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, int(greatest(ceil((length($textCol) - $overlap) / $stride.0D), 1)) - 1), " +
            s"i -> substring($textCol, i * $stride + 1, $size))"))
          .as(Seq("chunk_no", "chunk_text")))
      .filter(length(col("chunk_text")) > 0)
  }

  /** One BPE merge-scan round at corpus scale: counts of adjacent symbol
    * pairs — the statistic a byte-pair-encoding tokenizer trainer
    * maximizes per merge (Sennrich et al. 2016) — over the whitespace
    * vocabulary, weighted by word frequency. Symbols are the initial
    * single characters (round one of training; later rounds re-run over
    * merged sequences). The shuffle is domain-bounded twice over: one row
    * per DISTINCT word after the first aggregate (map-side combined),
    * then one row per distinct pair — never per token occurrence.
    * Output: (pair, pair_count), integer-exact.
    */
  def bpePairCounts(df: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("word"))
      // single-char words yield no pairs; dropping them BEFORE the word
      // aggregate also dodges sequence(1, 0) = [1, 0] (it descends)
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .filter(col("pair_count") >= minCount)
  }

  /** PMI collocation mining (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography"; see PAPERS.md) — the
    * classic corpus-linguistics signal for multiword expressions and the
    * standard phrase detector of the word2vec era: for each adjacent
    * token bigram, `pmi = ln( P(w1,w2) / (P(w1)·P(w2)) )` with
    * probabilities from corpus counts (`P(w1,w2) = n_pair / N_bigrams`,
    * `P(w) = n_w / N_tokens`). Positive PMI = the pair co-occurs more
    * than its parts predict (a collocation); `minPairCount` drops the
    * unstable rare tail, the standard practice.
    *
    * Scale shape: TWO vocabulary-bounded aggregates (bigram counts ≤
    * vocab², unigram counts ≤ vocab, both map-side combined — documents
    * never shuffle), two joins against the vocabulary-bounded count
    * frames, and 1-row scalar attaches for the corpus totals. The double
    * arithmetic is one fixed-shape expression both engines evaluate
    * identically; rounded at emission.
    *
    * Output: one row per surviving bigram:
    * `(w1, w2, n_pair, pmi)`.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minPairCount: Long = 5L): DataFrame = {
    val toks = df
      .select(filter(tokens(col(textCol)), t => length(t) > 0).as("__t"))
    val bigrams = toks.filter(size(col("__t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col("__b.w1"), col("__b.w2"))
    val uni = toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__nw"))
    val pairAll = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val totals = pairAll.agg(sum(col("n_pair")).as("__NB"))
      .crossJoin(broadcast(uni.agg(sum(col("__nw")).as("__NU"))))
    pairAll.filter(col("n_pair") >= minPairCount)
      .join(uni.select(col("w").as("w1"), col("__nw").as("__n1")), "w1")
      .join(uni.select(col("w").as("w2"), col("__nw").as("__n2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          (col("n_pair").cast("double") * col("__NU") * col("__NU")) /
            (col("__NB").cast("double") * col("__n1") * col("__n2"))), 6)
          .as("pmi"))
  }

  /** URL canonicalization (the RFC 3986 §6 normalization subset every
    * crawl pipeline applies before using a URL as a dedup/dedup-join
    * key — two fetches of the same page must collapse to one key):
    *
    *  - scheme and host lowercase (case-insensitive by spec);
    *  - fragment stripped (never sent to the server);
    *  - default ports dropped (:80 for http, :443 for https);
    *  - tracking parameters removed (`utm_*`, `fbclid`, `gclid`,
    *    `msclkid` — client-side analytics noise that multiplies crawl
    *    duplicates);
    *  - remaining query parameters SORTED (binary order) and rejoined,
    *    an empty result dropping the `?`;
    *  - an empty path canonicalized to `/`.
    *
    * Pure fixed-shape string expressions (regexp extracts + one
    * higher-order filter + sort_array) — map-only, codegen-friendly,
    * replayable in DuckDB. Non-URL input (no `scheme://`) returns NULL
    * rather than a half-normalized string.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // userinfo (user:pass@) is case-SENSITIVE (RFC 3986 §6.2.2.1 only
    // case-normalizes scheme and host) — split the authority at the
    // last '@' and lowercase the host side alone
    val authority = regexp_extract(url, "^[^:/?#]+://([^/?#]*)", 1)
    val userinfo = regexp_extract(authority, "^(.*@)", 1)
    val hostport = lower(regexp_replace(authority, "^.*@", ""))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val host = regexp_replace(hostport, ":[0-9]+$", "")
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"))
    val path0 = regexp_extract(url, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", "/").otherwise(path0)
    // query anchors AFTER the fragment strip — a '?' inside the
    // fragment (http://h/p#a?b) is fragment text, not a query
    val query = regexp_extract(regexp_replace(url, "#.*$", ""),
      "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid)="))
    val sortedQ = array_join(sort_array(params), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), userinfo, host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(sortedQ =!= "", concat(lit("?"), sortedQ)).otherwise(lit(""))))
  }

  /** Any path segment EXCEPT exactly `.` or `..` — the guard that keeps
    * the `/seg/../` pop rewrite from cancelling two `..`s against each
    * other. RE2-safe (pure alternation, no lookaround).
    */
  private val nonDotSegRe = "(?:[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"

  /** RFC 3986 §5.2.4 remove_dot_segments as a BOUNDED fold of RE2-safe
    * rewrites over an absolute path: per pass, collapse `/./` (and a
    * trailing `/.`), pop one `/seg/../` level (leftmost-first, like the
    * spec's left-to-right walk), and drop excess leading `/../`. Each
    * pass resolves at least one remaining dot segment, so `passes`
    * bounds the NESTING depth handled (8 covers any real crawl URL;
    * deeper chains keep their residual dots — and since the oracle
    * replays the identical bounded unroll, the two engines agree even
    * past the bound). Input must be an absolute (`/`-leading) path.
    */
  def removeDotSegments(p: Column, passes: Int = 8): Column = {
    require(passes >= 1, "need at least one rewrite pass")
    val folded = (1 to passes).foldLeft(p) { (acc, _) =>
      val a1 = regexp_replace(acc, "/\\./", "/")
      val a2 = regexp_replace(a1, "/\\.$", "/")
      val a3 = regexp_replace(a2, s"/$nonDotSegRe/\\.\\./", "/")
      val a4 = regexp_replace(a3, s"/$nonDotSegRe/\\.\\.$$", "/")
      val a5 = regexp_replace(a4, "^/\\.\\./", "/")
      regexp_replace(a5, "^/\\.\\.$", "/")
    }
    // dot-segment presence guard: every rewrite above needs a `/.` or
    // `/..` SEGMENT boundary (dots inside names — page.html, .hidden —
    // don't count), so the fold is the identity on dot-free paths, and
    // most crawl URLs are dot-free: the lazy CASE skips the ~6·passes
    // regex calls per row (measured 2-4x on the resolve-heavy queries).
    // The oracle mirrors the same guard.
    when(p.rlike("/\\.\\.?(/|$)"), folded).otherwise(p)
  }

  /** RFC 3986 §5.2 reference resolution — the step between outlink
    * extraction and URL canonicalization that a REAL crawl cannot skip:
    * most in-page links are relative (`img/x.png`, `../doc/7`,
    * `/rooted`, `?page=2`, `#sec`), and without resolution they never
    * become graph edges. Implements the spec's transform-references
    * branch table over `base` (which must be an absolute hierarchical
    * URL — `scheme://…` — or the result is NULL):
    *
    *  - ref has a scheme → ref itself (path dot-normalized);
    *  - network-path `//host/p` → base's scheme + ref's authority/path;
    *  - absolute path `/p` → base's scheme+authority + dot-normalized p;
    *  - relative path → merged with the base path (strip after the last
    *    `/`; `/`+ref when the base path is empty) then dot-normalized;
    *  - empty path → base's path verbatim, query from ref IF PRESENT
    *    else from base (so `?page=2`, `#sec` and `` behave per spec);
    *  - the ref's fragment always carries (strip it downstream via
    *    [[canonicalUrl]]).
    *
    * Everything is fixed-shape regexp extracts/rewrites plus the
    * [[removeDotSegments]] bounded fold — map-only, codegen-friendly,
    * and replayed operation-for-operation by the DuckDB oracle (t65).
    */
  def resolveUrl(base: Column, ref: Column, passes: Int = 8): Column = {
    val rScheme = regexp_extract(ref, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val hasScheme = rScheme =!= ""
    val noFrag = regexp_replace(ref, "(?s)#.*$", "")
    val hasFrag = ref.rlike("#")
    val frag = regexp_extract(ref, "(?s)#(.*)$", 1)
    val afterScheme = when(hasScheme,
      regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*:", ""))
      .otherwise(noFrag)
    val hasAuth = afterScheme.startsWith("//")
    val rAuth = regexp_extract(afterScheme, "^//([^/?#]*)", 1)
    val rPath = when(hasAuth,
      regexp_extract(afterScheme, "^//[^/?#]*([^?#]*)", 1))
      .otherwise(regexp_extract(afterScheme, "^([^?#]*)", 1))
    val hasQuery = noFrag.rlike("\\?")
    val rQuery = regexp_extract(noFrag, "(?s)\\?(.*)$", 1)
    val bScheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val bAuth = regexp_extract(base, "^[^:/?#]+://([^/?#]*)", 1)
    val bPath = regexp_extract(base, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val bNoFrag = regexp_replace(base, "(?s)#.*$", "")
    val bHasQuery = bNoFrag.rlike("\\?")
    val bQuery = regexp_extract(bNoFrag, "(?s)\\?(.*)$", 1)
    // §5.2.3 merge: base path up to its last '/', or '/'+ref when the
    // base (an authority-bearing URL) has an empty path
    val merged = when(bAuth =!= "" && bPath === "", concat(lit("/"), rPath))
      .otherwise(concat(regexp_replace(bPath, "[^/]*$", ""), rPath))
    // the path the dot-removal fold runs over; NULL marks the
    // empty-ref-path branch where the base path carries VERBATIM
    val tIn = when(hasScheme || hasAuth, rPath)
      .otherwise(when(rPath === "", lit(null).cast("string"))
        .otherwise(when(rPath.startsWith("/"), rPath).otherwise(merged)))
    val tPath = when(tIn.isNull, bPath)
      .otherwise(removeDotSegments(tIn, passes))
    val tScheme = when(hasScheme, rScheme).otherwise(bScheme)
    val tAuth = when(hasScheme || hasAuth, rAuth).otherwise(bAuth)
    val refOwnsQuery = hasScheme || hasAuth || rPath =!= "" || hasQuery
    val tHasQ = when(refOwnsQuery, hasQuery).otherwise(bHasQuery)
    val tQuery = when(refOwnsQuery, rQuery).otherwise(bQuery)
    // §5.3 recomposition: '//' + authority only when the WINNING
    // component set has an authority — a scheme-bearing ref without
    // '//' (mailto:x, javascript:void(0), tel:…) has none, and gluing
    // '://' on would corrupt it to 'mailto://x'. Authority is defined
    // iff the ref carries one (hasAuth) or the base's wins (!hasScheme;
    // the base is required to be scheme://-absolute, else NULL below).
    val tAuthDefined = hasAuth || !hasScheme
    when(bScheme === "", lit(null).cast("string"))
      .otherwise(concat(tScheme, lit(":"),
        when(tAuthDefined, concat(lit("//"), tAuth)).otherwise(lit("")),
        tPath,
        when(tHasQ, concat(lit("?"), tQuery)).otherwise(lit("")),
        when(hasFrag, concat(lit("#"), frag)).otherwise(lit(""))))
  }

  /** [[resolveUrl]] as a STAGED DataFrame transform — the corpus-scale
    * surface. A Scala `val` inside a Column expression DUPLICATES its
    * subtree at every reference (the single-Column form above embeds
    * `afterScheme` ~20×), which is fine for a handful of rows but is a
    * measured ~10× per-row tax on a crawl-sized outlink frame. Here
    * every RFC component materializes ONCE per row as a scratch column
    * (each stage one projection — the exact shape of the oracle's
    * rr0…rrq CTE chain), `outCol` assembles from attributes, scratch
    * drops. Same branch table, same bounded [[removeDotSegments]] fold,
    * bit-identical output (t65 gates this surface).
    */
  def withResolvedUrl(df: DataFrame, baseCol: String, urlCol: String,
      outCol: String, passes: Int = 8): DataFrame = {
    val u = col(urlCol)
    val b = col(baseCol)
    val s1 = df.withColumns(Map(
      "__rsch" -> regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*):", 1),
      "__nofrag" -> regexp_replace(u, "(?s)#.*$", ""),
      "__hasfrag" -> u.rlike("#"),
      "__frag" -> regexp_extract(u, "(?s)#(.*)$", 1),
      "__bsch" -> regexp_extract(b, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1),
      "__bauth" -> regexp_extract(b, "^[^:/?#]+://([^/?#]*)", 1),
      "__bpath" -> regexp_extract(b, "^[^:/?#]+://[^/?#]*([^?#]*)", 1),
      "__bnofrag" -> regexp_replace(b, "(?s)#.*$", "")))
    val s2 = s1.withColumns(Map(
      "__asch" -> when(col("__rsch") =!= "",
        regexp_replace(col("__nofrag"), "^[A-Za-z][A-Za-z0-9+.-]*:", ""))
        .otherwise(col("__nofrag")),
      "__hasq" -> col("__nofrag").rlike("\\?"),
      "__rq" -> regexp_extract(col("__nofrag"), "(?s)\\?(.*)$", 1),
      "__bhasq" -> col("__bnofrag").rlike("\\?"),
      "__bq" -> regexp_extract(col("__bnofrag"), "(?s)\\?(.*)$", 1)))
    val s3 = s2.withColumns(Map(
      "__hasauth" -> col("__asch").startsWith("//"),
      "__rauth" -> regexp_extract(col("__asch"), "^//([^/?#]*)", 1),
      "__rpath" -> when(col("__asch").startsWith("//"),
        regexp_extract(col("__asch"), "^//[^/?#]*([^?#]*)", 1))
        .otherwise(regexp_extract(col("__asch"), "^([^?#]*)", 1))))
    val s4 = s3.withColumn("__tin",
      when(col("__rsch") =!= "" || col("__hasauth"), col("__rpath"))
        .otherwise(when(col("__rpath") === "", lit(null).cast("string"))
          .otherwise(when(col("__rpath").startsWith("/"), col("__rpath"))
            .otherwise(
              when(col("__bauth") =!= "" && col("__bpath") === "",
                concat(lit("/"), col("__rpath")))
                .otherwise(concat(
                  regexp_replace(col("__bpath"), "[^/]*$", ""),
                  col("__rpath")))))))
    val s5 = s4.withColumns(Map(
      "__tpath" -> when(col("__tin").isNull, col("__bpath"))
        .otherwise(removeDotSegments(col("__tin"), passes)),
      "__ownq" -> (col("__rsch") =!= "" || col("__hasauth") ||
        col("__rpath") =!= "" || col("__hasq"))))
    val scratch = Seq("__rsch", "__nofrag", "__hasfrag", "__frag",
      "__bsch", "__bauth", "__bpath", "__bnofrag", "__asch", "__hasq",
      "__rq", "__bhasq", "__bq", "__hasauth", "__rauth", "__rpath",
      "__tin", "__tpath", "__ownq")
    s5.withColumn(outCol,
        when(col("__bsch") === "", lit(null).cast("string"))
          .otherwise(concat(
            when(col("__rsch") =!= "", col("__rsch"))
              .otherwise(col("__bsch")),
            lit(":"),
            // §5.3: '//' + authority only when the winning component
            // set HAS one (see [[resolveUrl]]'s recomposition note)
            when(col("__hasauth") || col("__rsch") === "",
              concat(lit("//"),
                when(col("__rsch") =!= "" || col("__hasauth"),
                  col("__rauth")).otherwise(col("__bauth"))))
              .otherwise(lit("")),
            col("__tpath"),
            when(when(col("__ownq"), col("__hasq")).otherwise(col("__bhasq")),
              concat(lit("?"),
                when(col("__ownq"), col("__rq")).otherwise(col("__bq"))))
              .otherwise(lit("")),
            when(col("__hasfrag"), concat(lit("#"), col("__frag")))
              .otherwise(lit("")))))
      .drop(scratch: _*)
  }

  /** Log-likelihood-ratio distinctive terms (Dunning 1993, "Accurate
    * Methods for the Statistics of Surprise and Coincidence"; see
    * PAPERS.md) — for every (slice, token) pair, the G² statistic of
    * the 2×2 contingency "token occurrences in the slice vs the rest of
    * the corpus": `G² = 2·Σ O·ln(O/E)` over the four cells. The
    * corpus-comparison workhorse keyness measure — which terms make
    * THIS source/language/time-slice read differently from everything
    * else — and, unlike PMI, safe on low counts by construction.
    * `overused` tells the direction (the slice's rate exceeds the
    * rest's), compared on EXACT integer cross-products.
    *
    * Determinism (the t21 libm contract): each O·ln(O/E) term computes
    * as O·ln((O·N)/(rowTot·colTot)) with the products in DECIMAL(38,0)
    * (no wrap at corpus scale), rounds to 8 and sums as DECIMAL(28,8)
    * before the final ×2 and round-6 — a fixed-shape expression both
    * engines evaluate identically. Zero cells contribute zero.
    *
    * Plan shape (100 TB posture): ONE corpus tokenize feeding a
    * (slice, token) hash aggregate (map-side combined); token totals
    * and slice totals re-aggregate THAT bounded frame (≤ slices·vocab
    * rows), and everything joins back small-side-broadcast. Documents
    * never shuffle; the math is map-only over the bounded frame.
    *
    * Output: one row per (slice, token) with count ≥ `minCount`:
    * (sliceCol, token, n_slice, n_rest, g2, overused).
    */
  def distinctiveTerms(df: DataFrame, sliceCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .select(col(sliceCol).as("__slice"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("__slice", "token").agg(count(lit(1)).as("__a"))
    val tokTot = cells.groupBy("token").agg(sum(col("__a")).as("__ct"))
    val sliceTot = cells.groupBy("__slice").agg(sum(col("__a")).as("__rt"))
    val grand = cells.agg(sum(col("__a")).as("__N"))
    val b = col("__ct") - col("__a")
    cells.filter(col("__a") >= minCount)
      .join(broadcast(tokTot), "token")
      .join(broadcast(sliceTot), "__slice")
      .crossJoin(broadcast(grand))
      .select(col("__slice").as(sliceCol), col("token"),
        col("__a").as("n_slice"), b.as("n_rest"),
        g2Expr(col("__a"), b, col("__rt"), col("__N") - col("__rt"))
          .as("g2"),
        (col("__a").cast(dec0) * (col("__N") - col("__rt")).cast(dec0) >
          b.cast(dec0) * col("__rt").cast(dec0)).as("overused"))
  }

  /** The 2×2 Dunning G² scalar over counts (a in slice A of total na,
    * b in slice B of total nb) — the [[distinctiveTerms]] arithmetic
    * split out so the streaming batch-vs-history drift monitor computes
    * the IDENTICAL quantized statistic: each O·ln(O/E) term takes its
    * integer products through DECIMAL(38,0), rounds to 8 and sums as
    * DECIMAL(28,8) before the exact ×2.0 and round-6.
    */
  private[graft] def g2Expr(a: Column, b: Column, na: Column,
      nb: Column): Column = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(28, 8)
    val n = na + nb
    val colT = a + b
    def term(o: Column, rowT: Column, cT: Column): Column =
      when(o > 0,
        round(o.cast("double") *
          log((o.cast(dec0) * n.cast(dec0)).cast("double") /
            (rowT.cast(dec0) * cT.cast(dec0)).cast("double")), 8)
          .cast(dec8))
        .otherwise(lit(0).cast(dec8))
    round(lit(2.0) *
      (term(a, na, colT) + term(b, nb, colT) +
       term(na - a, na, n - colT) + term(nb - b, nb, n - colT))
        .cast("double"), 6) + lit(0.0)
  }

  /** Heaps'-law vocabulary-growth curve (Heaps 1978; see PAPERS.md): for
    * each document in id order, the cumulative token count and the
    * cumulative DISTINCT-vocabulary size after ingesting it — the curve
    * whose flattening tells a corpus build when additional crawl stops
    * buying new vocabulary (and whose deviation from the V = K·nᵝ
    * power law flags templated/duplicated content).
    *
    * Scale shape: a token's contribution to vocabulary growth is its
    * FIRST-occurrence document — one vocabulary-bounded `min` aggregate —
    * so the curve reduces to two per-doc counts ("tokens in this doc",
    * "tokens first seen in this doc") run through the range-partitioned
    * parallel prefix sum ([[CorpusStats.globalRunningTotal]], the c-
    * family machinery: per-partition window + collected partition
    * offsets, never a one-task global window).
    *
    * Output: one row per doc — (idCol, n_tokens, new_tokens, cum_tokens,
    * cum_vocab).
    */
  def heapsGrowth(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val perDoc = toks.groupBy(idCol).agg(count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy("token").agg(min(col(idCol)).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("new_tokens"))
    val joined = df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(firstSeen, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
    val cumTok = CorpusStats.globalRunningTotal(joined, idCol, "n_tokens",
      "cum_tokens")
    CorpusStats.globalRunningTotal(cumTok, idCol, "new_tokens", "cum_vocab")
      .select(col(idCol), col("n_tokens"), col("new_tokens"),
        col("cum_tokens"), col("cum_vocab"))
  }

  /** Corpus vocabulary statistics: token -> document frequency + total
    * occurrences. One explode + one aggregation keyed on the token.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col(idCol)).as("doc_freq"))

  /** TF-IDF per (document, token): term frequency joined with document
    * frequency from [[vocabulary]] and the (broadcast) corpus size.
    * idf = ln((N+1)/(df+1)) — smoothed; two aggregations + one broadcast
    * join, no driver-side collection.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val docFreq = toks.groupBy("token")
      .agg(countDistinct(col(idCol)).as("doc_freq"))
    val n = df.agg(countDistinct(col(idCol)).as("__n"))
    tf.join(docFreq, "token")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("token"), col("tf"), col("doc_freq"),
        round(col("tf") * log((col("__n") + 1).cast("double") /
          (col("doc_freq") + 1)), 4).as("tfidf"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences, greedily in id order. Docs are first split into
    * `numGroups` deterministic groups (id mod numGroups) and packed WITHIN
    * each group — the 100 TB posture: a window per group is a shuffle +
    * per-group sort running in parallel across groups, never one global
    * sort. A document's sequence is decided by its starting token offset
    * (`floor(start / budget)`), so assignment is a pure window expression.
    * Output: (id, pack_group, n_tokens, cum_tokens, seq_no).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, numGroups: Int = 64): DataFrame = {
    require(tokenBudget > 0 && numGroups > 0, "budget and groups must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pack_group")).orderBy(col(idCol))
    df.select(col(idCol),
        pmod(col(idCol).cast("long"), lit(numGroups.toLong)).as("pack_group"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("seq_no",
        floor((col("cum_tokens") - col("n_tokens")) / lit(tokenBudget)).cast("int"))
  }

  /** Packing-efficiency report over [[packSequences]]' layout: one row
    * per (pack_group, seq_no) bin with its document count, token total
    * and fill fraction against the budget — the number a training
    * pipeline watches to decide whether its packing (and therefore its
    * compute utilization) is acceptable, since every unfilled token slot
    * is wasted accelerator time. Straddling documents make a bin's fill
    * exceed 1.0 by design (the packer splits at sequence boundaries
    * downstream); chronically low fill means the budget or grouping is
    * wrong. One hash aggregate over the packed frame — bin-domain-
    * bounded, map-side combined.
    */
  def packingEfficiency(df: DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, numGroups: Int = 64): DataFrame =
    packSequences(df, idCol, textCol, tokenBudget, numGroups)
      .groupBy("pack_group", "seq_no")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("bin_tokens"))
      .select(col("pack_group"), col("seq_no"), col("n_docs"),
        col("bin_tokens"),
        (round(col("bin_tokens") / lit(tokenBudget.toDouble), 6) + lit(0.0))
          .as("fill_frac"))

  /** Corpus-wide boilerplate-line removal — the CCNet/RefinedWeb cleaning
    * step that intra-document signals (t12) and span dedup (d07) don't
    * cover: a LINE is boilerplate when it appears in at least `minDocs`
    * DISTINCT documents (cookie banners, newsletter footers, nav chrome),
    * and every occurrence is dropped. Empty/whitespace lines are
    * discarded up front; documents with no surviving non-empty lines drop
    * out entirely (nothing to clean).
    *
    * Scale shape: documents explode to skinny (id, line_no, line) rows;
    * document frequency is ONE line-keyed hash aggregate over per-doc
    * -distinct lines (map-side combined, bounded by distinct lines); the
    * verdict joins back line-keyed; reassembly is a per-document
    * `sort_array(collect_list(struct))` — bounded by DOCUMENT size, never
    * a window over the corpus.
    *
    * Output: (idCol, n_lines, n_boiler, boiler_frac, text_clean).
    */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would flag every line as boilerplate")
    val flat = df.select(col(idCol),
      posexplode(filter(split(col(textCol), "\n"),
        l => length(trim(l)) > 0)).as(Seq("__no", "__line")))
    val docFreq = flat.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
    val flagged = flat.join(docFreq, Seq("__line"))
      .select(col(idCol), col("__no"), col("__line"),
        (col("__df") >= minDocs).as("__b"))
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_boiler"),
        sort_array(collect_list(struct(col("__no"), col("__line"), col("__b"))))
          .as("__ordered"))
      .select(col(idCol), col("n_lines"), col("n_boiler"),
        (round(col("n_boiler").cast("double") / col("n_lines"), 6) + lit(0.0))
          .as("boiler_frac"),
        array_join(
          transform(
            filter(col("__ordered"), s => !s.getField("__b")),
            s => s.getField("__line")),
          "\n").as("text_clean"))
  }

  /** Deterministic (reproducible) sampling: keep documents whose content
    * fingerprint lands in the first `keepPct` of 100 hash buckets. Unlike
    * `rand()`-based sampling this is stable across runs, retries and
    * cluster layouts — the property training-data pipelines need so a
    * sampled corpus can be reproduced exactly. Content-keyed, so exact
    * duplicates sample identically (dedup first if that matters).
    * Output adds the `sample_bucket` column.
    */
  def deterministicSample(df: DataFrame, textCol: String, keepPct: Int): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, "keepPct in [0,100]")
    df.withColumn("sample_bucket", pmod(fingerprint(col(textCol)), lit(100L)))
      .filter(col("sample_bucket") < keepPct)
  }

  /** Gopher-style repetition scores: the fraction of duplicated word
    * bigrams and duplicated lines inside a document — the standard cheap
    * signal for boilerplate/spam (high repetition => low quality).
    * Map-only; one codegen'd kernel call per row
    * ([[graft.functions.HashKernels.dupFractions]]) — the original
    * higher-order zip_with/array_distinct formulation fell out of
    * whole-stage codegen and cost 5× on the sf0.1 hot path; the kernel
    * reproduces its semantics bit-for-bit (same trim/lower/split/round
    * chain, null text scores (0, 0) via the empty-string coalesce).
    * Output: (dup_bigram_frac, dup_line_frac), both in [0,1], 0 for
    * degenerate inputs.
    */
  def repetitionScores(text: Column): (Column, Column) = {
    val fr = graft.functions.GraftFunctions.dup_fractions(
      coalesce(text, lit("")))
    (element_at(fr, 1), element_at(fr, 2))
  }

  /** C4-style boilerplate cleaning for web text: strip HTML tags, unescape
    * the common entities, drop URLs, collapse whitespace. Pure column
    * expressions (codegen'd regex/replace chain), map-only. Patterns are
    * deliberately restricted to the regex subset Java and RE2 share, so
    * the same cleaning is reproducible outside the JVM.
    */
  def cleanText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val noUrls = regexp_replace(noTags, "https?://[^ \\t\\n]+", " ")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&") // &amp; LAST: && escapes stay escaped until the end
      .foldLeft(noUrls) { case (c, (k, v)) => regexp_replace(c, k, v) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Stratified deterministic sampling — domain mixing: each stratum
    * (language, source domain, …) keeps its own percentage of documents,
    * selected by the same content-fingerprint buckets as
    * [[deterministicSample]] (reproducible across runs and cluster
    * layouts). Rates ship as a broadcast-joined table, so a rates map with
    * thousands of domains costs one small-dim join, not a giant CASE
    * expression. Strata absent from `rates` keep `defaultPct`.
    */
  def stratifiedSample(
      df: DataFrame, textCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "percentages in [0,100]")
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.toDF(stratumCol, "__keep_pct")
    df.join(broadcast(rateDf), Seq(stratumCol), "left")
      .withColumn("__keep_pct", coalesce(col("__keep_pct"), lit(defaultPct)))
      .withColumn("sample_bucket", pmod(fingerprint(col(textCol)), lit(100L)))
      .filter(col("sample_bucket") < col("__keep_pct"))
      .drop("__keep_pct")
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * one word n-gram with any document of an evaluation set — the overlap
    * check run before training so test material is removed from the
    * corpus. Returns (idCol, n_shared_grams) for contaminated training
    * docs only.
    *
    * Scale shape: both sides explode to skinny (gram_hash, id) pairs, but
    * the EVAL side is small by nature (benchmarks are thousands of docs,
    * the corpus is billions) — its distinct gram set is broadcast, so the
    * 100 TB training side is a map-side hash semi-join + partial-agg count
    * with NO shuffle of the corpus grams; only the per-doc counts shuffle.
    * Gram hashing is the same 64-bit kernel as the dedup family
    * ([[graft.functions.HashKernels]]), collision-free in practice at
    * benchmark scale.
    */
  def decontaminate(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.shingle_hashes(
          Dedup.normalized(col(textCol)), n, word = true)).as("__g"))
    val evalGrams = grams(evalDocs).select("__g").distinct()
    grams(training)
      .join(broadcast(evalGrams), "__g")
      // shingle_hashes emits each doc's grams pre-distinct, so a plain
      // count is the distinct-gram count without a distinct-agg expand
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Graded decontamination: per-doc FRACTION of distinct word n-grams
    * shared with the evaluation set, plus the keep/drop verdict at
    * `threshold`. [[decontaminate]]'s any-shared-gram boolean is the
    * strict screen; curation at scale wants the graded score so
    * near-total overlap (real contamination) is distinguishable from one
    * incidental shared phrase. Docs whose normalized text produces no
    * grams are absent (no denominator).
    *
    * Same scale shape as [[decontaminate]]: the eval gram set broadcasts,
    * the corpus probes it map-side via a broadcast LEFT join that counts
    * total AND shared grams in the SAME aggregate — one pass, one per-doc
    * count shuffle, the corpus grams never shuffle. The verdict compares
    * the unrounded double on both engines (identical division of
    * identical longs), so the boolean is exact.
    */
  def contaminationOverlap(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.8): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(graft.functions.GraftFunctions.shingle_hashes(
        Dedup.normalized(col(textCol)), n, word = true)).as("__g"))
    val evalGrams = grams(evalDocs).select("__g").distinct()
      .withColumn("__hit", lit(1L))
    grams(training)
      .join(broadcast(evalGrams), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** Corpus heavy hitters: the `k` most frequent normalized tokens with
    * deterministic ranking (count DESC, token ASC). The count is one hash
    * aggregate (map-side combined); the ranking rides the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate, so the final stage
    * receives k entries per map partition — never a global sort of the
    * whole vocabulary, which at web-corpus scale is billions of distinct
    * tokens for a result of twenty.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    topTokensFromCounts(tokenCounts(df, textCol), k)

  /** Corpus token counts: (token, n), one vocab-bounded hash aggregate
    * (map-side combined — the shuffle carries distinct tokens, not
    * occurrences). The delta unit of the streaming heavy-hitters monitor
    * ([[graft.streaming.StreamingHeavyHitters]]).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(split(Dedup.normalized(col(textCol)), " ")).as("token"))
    .filter(length(col("token")) > 0)
    .groupBy("token").agg(count(lit(1)).as("n"))

  /** The [[topTokens]] ranking over pre-aggregated (token, n) counts —
    * bounded top-k heap, never a global sort; ordering matches
    * `row_number() OVER (ORDER BY n DESC, token ASC)`.
    */
  def topTokensFromCounts(counts: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions
    counts
      .agg(GraftFunctions.top_k_by(
        col("n").cast("double"), col("token"), k).as("__top"))
      .select(posexplode(col("__top")))
      .select((col("pos") + 1).as("rank"), col("col.id").as("token"),
        col("col.score").cast("long").as("n"))
  }

  /** Distributed BPE (byte-pair-encoding) tokenizer TRAINING (Sennrich et
    * al. 2016, see PAPERS.md) — the merge-learning loop itself, not the
    * t25 single-round pair census: starting from the word-count
    * vocabulary with words as character sequences, each round (a) counts
    * adjacent symbol pairs weighted by word frequency, (b) picks the most
    * frequent pair (ties by (left, right) string order — deterministic,
    * engine-replayable), (c) rewrites every word's symbol sequence with
    * the merge applied LEFT-TO-RIGHT NON-OVERLAPPING (a stack fold:
    * push a symbol, collapse when the top two equal the pair — "aaaa"
    * under (a,a) becomes [aa, aa]).
    *
    * Scale posture — why this trains on 100 TB: every round operates on
    * the VOCABULARY frame (distinct words × counts — the t20 contract:
    * vocab-bounded no matter the corpus size), never re-touching the
    * corpus; pair counting is one hash aggregate; the argmax is a 1-row
    * bounded collect (the sanctioned model-fit collect — the merge table
    * IS the model); the rewrite is one map-only higher-order fold over
    * symbol arrays bounded by word length. The vocabulary frame is
    * checkpointed per round (flat lineage, the d06 lesson).
    *
    * Output: the learned merge table, `(merge_rank, left_sym, right_sym,
    * pair_count)` — rounds after pair exhaustion (no adjacent pairs
    * left) are absent.
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, "need at least one merge")
    val spark = df.sparkSession
    var words = tokenCounts(df, textCol)
      .select(col("n"),
        expr("transform(sequence(1, length(token)), i -> substring(token, i, 1))")
          .as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to numMerges if !exhausted) {
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("n"), posexplode(expr(
          "transform(sequence(1, size(syms) - 1), j -> struct(syms[j - 1] AS a, syms[j] AS b))")))
        .groupBy(col("col.a").as("a"), col("col.b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, a, b, c))
        val prev = words
        words = words.withColumn("syms",
            aggregate(col("syms"), array().cast("array<string>"),
              (acc, x) => when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x)))))
          .localCheckpoint(true)
        org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prev)
      }
    }
    import spark.implicits._
    merges.result()
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** BPE ENCODING under a trained merge list ([[bpeTrain]]'s output
    * collected as plan-time literals — the merge table is the bounded
    * model): every document's tokens are split to characters and the
    * merges apply IN RANK ORDER, each as the same left-to-right
    * non-overlapping stack fold the trainer used — so encode(train
    * corpus) reflects exactly the state the trainer saw. One map-only
    * pass over the corpus: the fold chain is a fixed-depth nested
    * higher-order expression, no joins, no shuffle, no state.
    *
    * Output: (idCol, n_syms, head_syms) — the post-merge symbol count
    * and the first 8 symbols space-joined (the inspection prefix).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
        graft.functions.GraftFunctions.bpe_encode_syms(
          Dedup.normalized(coalesce(col(textCol), lit(""))), merges)
          .as("__syms"))
      .select(col(idCol),
        size(col("__syms")).cast("long").as("n_syms"),
        array_join(slice(col("__syms"), 1, 8), " ").as("head_syms"))

  /** The pre-kernel higher-order formulation of [[bpeEncode]]'s symbol
    * pipeline, kept as the spec's bit-equivalence reference (the
    * hot-path-kernel convention): per word a fixed-depth chain of
    * collapse-top-two folds — semantically identical, measured 43 s vs
    * the kernel's ~2 s at sf0.1.
    */
  private[graft] def bpeEncodeReference(df: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): DataFrame = {
    def charsOf(w: Column): Column =
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    def applyMerge(arr: Column, a: String, b: String): Column =
      when(size(arr) < 2, arr).otherwise(
        aggregate(arr, array().cast("array<string>"),
          (acc, x) => when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))
    val encodeWord = (w: Column) =>
      merges.foldLeft(charsOf(w)) { case (arr, (a, b)) => applyMerge(arr, a, b) }
    val words = filter(tokens(col(textCol)), w => length(w) > 0)
    df.select(col(idCol),
        flatten(transform(words, encodeWord)).as("__syms"))
      .select(col(idCol),
        size(col("__syms")).cast("long").as("n_syms"),
        array_join(slice(col("__syms"), 1, 8), " ").as("head_syms"))
  }

  /** Unigram-LM tokenizer TRAINING (Kudo 2018, "Subword Regularization"
    * — the SentencePiece unigram model; see PAPERS.md), completing the
    * tokenizer family next to BPE ([[bpeTrain]]/[[bpeEncode]]). Two
    * published-variant choices buy exact cross-engine replay:
    *
    *  - FIXED-ROUND hard EM (Viterbi-EM) instead of run-to-convergence
    *    soft EM: each round segments every vocabulary word by Viterbi
    *    under the current piece probabilities, re-estimates each piece's
    *    probability from its count along those best paths, and PRUNES
    *    pieces no path used (the g20 fixed-round convention — engines
    *    agree without a convergence test; hard EM is the standard
    *    decode-time approximation of the same objective).
    *  - QUANTIZED log-probs: q(piece) = round(ln(count/total)·10⁶) as a
    *    LONG, so Viterbi argmaxes compare exact integers and the two
    *    engines cannot disagree on a path (the zipfFit integer-grid
    *    convention; the one ln per piece follows the t21 libm contract).
    *
    * Seeding: ALL single characters (coverage — every word stays
    * segmentable: any piece on a best path earns count ≥ 1 and
    * survives pruning, inductively) plus the `vocabSize` most frequent
    * multi-character substrings of length ≤ `maxPieceLen` (occurrences
    * weighted by word frequency; ties by piece string — deterministic).
    * Words longer than `maxWordLen` code points are excluded from
    * training (the SentencePiece max-length contract).
    *
    * Scale posture: everything after tokenization operates on the
    * VOCABULARY frame (distinct words × counts — the t20 contract), not
    * the corpus; each EM round is ONE codegen Viterbi kernel pass
    * ([[graft.functions.HashKernels.unigramViterbi]] — the bpeEncodeSyms
    * bounded-model pattern, the trained table shipped as a plan-time
    * reference object) + ONE vocab-bounded hash aggregate; the per-round
    * model collect is ≤ chars + vocabSize rows (the sanctioned
    * model-fit collect — the piece table IS the model).
    *
    * Output: the trained model — (piece, n_piece, q_logp): each
    * surviving piece, its final-round path count, and its quantized
    * log-probability.
    */
  def unigramLmTrain(df: DataFrame, textCol: String, vocabSize: Int,
      numRounds: Int, maxPieceLen: Int = 4,
      maxWordLen: Int = 20): DataFrame = {
    require(vocabSize >= 1, "need at least one multi-char piece slot")
    require(numRounds >= 1, "need at least one EM round")
    require(maxPieceLen >= 2, "pieces beyond single chars need length >= 2")
    require(maxWordLen >= 1, "need a positive word-length cap")
    val spark = df.sparkSession
    import spark.implicits._
    def qlog(c: Long, total: Long): Long =
      BigDecimal(math.log(c.toDouble / total.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def toModel(rows: Array[(String, Long)]): Seq[(String, Long, Long)] = {
      val total = rows.map(_._2).sum
      rows.toSeq.map { case (p, c) => (p, c, qlog(c, total)) }.sortBy(_._1)
    }
    val words = tokenCounts(df, textCol)
      .filter(length(col("token")) <= maxWordLen)
      .localCheckpoint(true)
    try {
      // seed counts: every substring occurrence up to maxPieceLen, weighted
      // by word frequency (one vocab-bounded explode + hash aggregate)
      val subs = words.select(col("n"), explode(expr(
          s"""flatten(transform(sequence(1, length(token)), i ->
             |  transform(sequence(i, least(i + ${maxPieceLen - 1},
             |      length(token))), j ->
             |    substring(token, i, j - i + 1))))""".stripMargin))
          .as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("c"))
      val seed = subs.filter(length(col("piece")) === 1)
        .unionByName(subs.filter(length(col("piece")) >= 2)
          .orderBy(col("c").desc, col("piece").asc).limit(vocabSize))
      var model = toModel(seed.as[(String, Long)].collect())
      for (_ <- 1 to numRounds) {
        val vocabLit = model.map(m => (m._1, m._3))
        val counts = words.select(col("n"),
            explode(graft.functions.GraftFunctions.unigram_viterbi(
              col("token"), vocabLit, maxPieceLen)).as("piece"))
          .groupBy("piece").agg(sum(col("n")).as("c"))
          .as[(String, Long)].collect()
        model = toModel(counts) // unused pieces are absent — pruned
      }
      model.toDF("piece", "n_piece", "q_logp")
    } finally
      // the snapshot's blocks would otherwise stay pinned for the
      // driver's lifetime — the RoundSnapshots free discipline
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(words)
  }

  /** Unigram-LM ENCODING under a trained model ([[unigramLmTrain]]'s
    * (piece, q_logp) pairs collected as plan-time literals — the
    * [[bpeEncode]] bounded-model convention): every document's
    * normalized words segment through the SAME Viterbi kernel the
    * trainer ran, concatenated in document order — so encode(train
    * corpus) reproduces exactly the segmentations the final EM round
    * counted. ONE map-only corpus pass
    * ([[graft.functions.HashKernels.unigramEncodeSyms]]), no joins, no
    * shuffle, no state. Words beyond `maxWordLen` code points sit
    * outside the trained coverage contract and emit no pieces (the
    * trainer's exclusion, mirrored).
    *
    * Output: (idCol, n_pieces, head_pieces) — the piece count and the
    * first 8 pieces space-joined (the inspection prefix, the t38 shape).
    */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Long)], maxPieceLen: Int = 4,
      maxWordLen: Int = 20): DataFrame =
    df.select(col(idCol),
        graft.functions.GraftFunctions.unigram_encode_syms(
          Dedup.normalized(coalesce(col(textCol), lit(""))), model,
          maxPieceLen, maxWordLen).as("__syms"))
      .select(col(idCol),
        size(col("__syms")).cast("long").as("n_pieces"),
        array_join(slice(col("__syms"), 1, 8), " ").as("head_pieces"))

  /** Zipf rank–frequency fit: ordinary-least-squares slope/intercept of
    * `ln(count)` on `ln(rank)` over the corpus's top `topN` vocabulary
    * ranks — the standard corpus-health diagnostic (natural language sits
    * near slope −1; generated/templated text and boilerplate-heavy crawls
    * bend away from it). Rank ordering is the [[topTokensFromCounts]]
    * contract (`count DESC, token ASC`).
    *
    * Determinism contract: the log coordinates are scaled to integers
    * (`round(ln(v)·10^6)` as long) so every sum and cross-product is
    * EXACT integer arithmetic — libm ulp drift cannot move the fit; the
    * closed-form slope is assembled from the exact sums in DECIMAL(38,0)
    * and only the final division happens in IEEE doubles (both engines
    * cast the same exact integers, so they divide the same doubles).
    *
    * Plan shape: one vocab-bounded hash aggregate (token counts), one
    * bounded top-`topN` heap, ONE 5-sum aggregate over `topN` rows, one
    * map-only arithmetic row. Output: a single row `(n_ranks, slope,
    * intercept)`, both doubles rounded to 6.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, "need at least 2 ranks to fit a line")
    val ranked = topTokensFromCounts(tokenCounts(df, textCol), topN)
    val xi = round(log(col("rank").cast("double")) * 1e6, 0).cast("long")
    val yi = round(log(col("n").cast("double")) * 1e6, 0).cast("long")
    val sums = ranked.select(xi.as("__x"), yi.as("__y"))
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    def d(c: String): Column = col(c).cast("decimal(38,0)")
    val num = (d("n_ranks") * d("__sxy") - d("__sx") * d("__sy")).cast("double")
    val den = (d("n_ranks") * d("__sxx") - d("__sx") * d("__sx")).cast("double")
    val slope = num / den
    val intercept = (col("__sy").cast("double") - slope * col("__sx").cast("double")) /
      (col("n_ranks").cast("double") * lit(1e6))
    sums.select(col("n_ranks"),
      (round(slope, 6) + lit(0.0)).as("slope"),
      (round(intercept, 6) + lit(0.0)).as("intercept"))
  }

  /** PII patterns shared by [[redactPii]] and its oracle: RE2-compatible
    * (no backtracking constructs), so the same pattern runs identically on
    * Spark's Java regex and RE2-based engines. Redaction order is part of
    * the contract — emails first (their local part can look like a phone),
    * then IPv4, then phone-like digit runs.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "phone" -> "[+]?[0-9][0-9 ()-]{7,}[0-9]")

  /** Redact personally-identifiable substrings (emails, IPv4 addresses,
    * phone-like digit runs), replacing each match with `<CATEGORY>`, and
    * count matches per category from the pre-redaction text. Map-only
    * column expressions — linear scans, no shuffle, stays inside
    * whole-stage codegen.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) { case (acc, (name, re)) =>
      regexp_replace(acc, re, s"<${name.toUpperCase}>")
    }
    piiPatterns.foldLeft(df.withColumn(s"${textCol}_redacted", redacted)) {
      case (d, (name, re)) =>
        d.withColumn(s"n_$name", regexp_count(col(textCol), lit(re)).cast("long"))
    }
  }

  /** Apply a mixture-rebalancing plan as a deterministic per-document
    * repetition factor: each document of a stratum with weight `w`
    * (target share / actual share, as [[mixtureWeights]]) receives
    * `n_copies = floor(w)` plus one more for the content-keyed bucket
    * fraction `frac(w)` — downsampling strata with w < 1, upsampling
    * (repeating) strata with w > 1. Documents with `n_copies = 0` are
    * dropped; zero-token strata are dropped entirely (they have no
    * share to rebalance). A NULL stratum value is treated as its own
    * stratum (with `defaultPermille`), not silently discarded.
    *
    * Targets are INTEGER permille and every keep decision is integer
    * arithmetic (`bucket · den < rem · buckets`, 128-bit-safe via
    * DECIMAL(38)): a float weight here would make the keep boundary an
    * engine-specific ulp coin-flip, the exact failure mode the t15
    * integer-counting rule exists for. Deterministic across runs,
    * cluster layouts, and engines; content-keyed buckets mean duplicate
    * texts stand or fall together. Scale shape: one token-count hash
    * aggregate, then broadcast joins of the tiny per-stratum frames —
    * the corpus never shuffles.
    */
  def applyMixture(
      df: DataFrame, stratumCol: String, textCol: String,
      targetsPermille: Map[String, Int], defaultPermille: Int,
      buckets: Long = 1000000L): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require((targetsPermille.values ++ Seq(defaultPermille)).forall(_ >= 0),
      "permille targets must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // a NULL stratum is a real stratum (dirty metadata must not silently
    // shrink the corpus): group/join on a sentinel-coalesced string key
    // so null-stratum docs flow through with the default target instead
    // of being dropped by the null-key join
    val skey = coalesce(col(stratumCol).cast("string"), lit("\u0000__null__"))
    val perStratum = df.groupBy(skey.as("__stratum")).agg(
      sum(tokenCount(col(textCol)).cast("long")).as("__n_tokens"))
    val total = perStratum.agg(sum("__n_tokens").as("__total_tokens"))
    val targetDf = targetsPermille.toSeq.toDF("__stratum", "__t_permille")
    df.withColumn("__stratum", skey)
      .join(broadcast(perStratum), Seq("__stratum"))
      .crossJoin(broadcast(total))
      .join(broadcast(targetDf), Seq("__stratum"), "left")
      .withColumn("__t_permille",
        coalesce(col("__t_permille"), lit(defaultPermille)))
      .filter(col("__n_tokens") > 0)
      .withColumn("__wnum", col("__t_permille").cast("long") * col("__total_tokens"))
      .withColumn("__wden", lit(1000L) * col("__n_tokens"))
      .withColumn("__bucket", pmod(fingerprint(col(textCol)), lit(buckets)))
      .withColumn("n_copies",
        (expr("__wnum div __wden") +
          when(col("__bucket").cast(dec) * col("__wden").cast(dec) <
            (col("__wnum") % col("__wden")).cast(dec) * lit(buckets).cast(dec),
            1L).otherwise(0L)).cast("long"))
      .filter(col("n_copies") >= 1)
      .drop("__stratum", "__n_tokens", "__total_tokens", "__t_permille",
        "__wnum", "__wden", "__bucket")
  }

  /** Build the eval-set gram Bloom filter: distributed `bloom_agg` over
    * the normalized word-`n`-gram hashes, then ONE driver-side collect of
    * the single constant-size sketch row (same sanction as the bounded
    * IVF centroid sample). The sketch is meant to be embedded as a
    * `lit(...)` — codegen references the byte array object once per
    * query. Carrying it as a data column through a join instead memcpys
    * the whole bit array out of EVERY probe row (measured: 20 s vs 0.5 s
    * for a 500k-gram scan at a 360 KB sketch).
    */
  def buildGramBloom(
      evalDocs: DataFrame, textCol: String, n: Int,
      expectedGrams: Long, fpp: Double): Array[Byte] = {
    import graft.functions.{BloomFilterKernel, GraftFunctions}
    val numBits = BloomFilterKernel.optimalBits(expectedGrams, fpp)
    val numHashes = BloomFilterKernel.optimalHashes(numBits.toLong, expectedGrams)
    evalDocs
      .select(explode(GraftFunctions.shingle_hashes(
        Dedup.normalized(col(textCol)), n, word = true)).as("__g"))
      .agg(GraftFunctions.bloom_agg(col("__g"), numBits, numHashes).as("__bloom"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Bloom-filter decontamination screen: flags every training document
    * sharing at least one word-`n`-gram with the eval set, using a
    * constant-size membership sketch instead of [[decontaminate]]'s exact
    * broadcast gram set — at a 10^9-gram eval corpus that is the
    * difference between broadcasting gigabytes of exact hashes and
    * ~200 MB of bits. The probe is MAP-ONLY: one codegen'd
    * `bloom_count_contained` kernel call per document over its gram
    * array, no explode, no shuffle, no join. No false negatives by
    * construction (a contaminated doc is always flagged); false positives
    * at rate `fpp` only admit extra docs, so the intended composition is
    * screen-here → exact [[decontaminate]] recheck on the survivors,
    * which touches |flagged| docs instead of the whole corpus.
    *
    * Returns one row per training row: (idCol, n_maybe_shared, flagged).
    * `expectedGrams` sizes the filter (overestimating is cheap: bits are
    * linear in it; underestimating inflates the false-positive rate,
    * never drops a true positive).
    */
  def decontaminateBloom(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, expectedGrams: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import graft.functions.GraftFunctions
    val bloomBytes = buildGramBloom(evalDocs, textCol, n, expectedGrams, fpp)
    training.select(col(idCol),
        GraftFunctions.bloom_count_contained(lit(bloomBytes),
          GraftFunctions.shingle_hashes(
            Dedup.normalized(col(textCol)), n, word = true))
          .cast("long").as("n_maybe_shared"))
      .withColumn("flagged", col("n_maybe_shared") > 0)
  }

  /** Training-mix rebalancing weights: per-stratum (domain/language) token
    * shares vs a target distribution. Returns one row per stratum with
    * document/token counts, the corpus share actually observed, the target
    * share, and `weight` = target/actual — the per-stratum sampling (or
    * repetition) factor that makes the mixture hit the target. Strata
    * absent from `targets` get `defaultTarget`.
    *
    * Scale shape: one hash aggregate over the corpus (map-side combined),
    * then the tiny per-stratum frame joins the broadcast targets and a
    * single global total — nothing corpus-sized shuffles twice.
    */
  def mixtureWeights(
      df: DataFrame, stratumCol: String, textCol: String,
      targets: Map[String, Double], defaultTarget: Double): DataFrame = {
    require(defaultTarget >= 0 && targets.values.forall(_ >= 0),
      "target fractions must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val targetDf = targets.toSeq.toDF(stratumCol, "__target")
    val perStratum = df.groupBy(col(stratumCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val total = perStratum.agg(sum("n_tokens").as("__total_tokens"))
    perStratum
      .crossJoin(broadcast(total))
      .join(broadcast(targetDf), Seq(stratumCol), "left")
      .withColumn("__target", coalesce(col("__target"), lit(defaultTarget)))
      .select(
        col(stratumCol), col("n_docs"), col("n_tokens"),
        // a stratum with no tokens (all-empty or all-null text) has no
        // meaningful share or weight — emit NULL, never Infinity/NaN,
        // so downstream sampling that multiplies by weight skips it
        // instead of being silently poisoned
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          col("n_tokens").cast("double") / col("__total_tokens"))
          .as("actual_frac"),
        col("__target").as("target_frac"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          col("__target") / (col("n_tokens").cast("double") / col("__total_tokens")))
          .as("weight"))
  }

  /** Corpus-statistics quality signal: the fraction of each document's
    * char bigrams whose CORPUS-WIDE frequency is below `minCount` —
    * gibberish, encoding damage, and wrong-language text light up with
    * rare bigrams while ordinary prose stays near zero. Integer counting
    * plus one final division keeps the result exactly reproducible (no
    * float accumulation ordering).
    *
    * Scale shape: bigrams ride as 64-bit kernel hashes
    * ([[graft.functions.HashKernels]], multiset — no per-position strings
    * shuffle). The corpus count aggregate map-side combines into a key
    * space bounded by the bigram vocabulary (≈ alphabet², tiny), and the
    * per-doc aggregate is keyed by the id the caller needs anyway. Two
    * passes over the text, both narrow until their aggregates.
    */
  /** Temperature-based mixture reweighting — the multilingual-LM alpha
    * sampling rule (XLM: Lample & Conneau 2019 §3.1; mT5: Xue et al.
    * 2021 §3.2): sample stratum i with probability q_i ∝ p_i^alpha,
    * where p_i is its observed token share — alpha < 1 flattens the
    * distribution so low-resource strata are upsampled without
    * hand-picking targets (the automatic counterpart of
    * [[mixtureWeights]]' explicit target map). Emits per stratum the
    * observed share `p`, the temperature target `q = p^alpha / Σ p^alpha`,
    * and the sampling `weight = q/p` to hand to [[applyMixture]] /
    * [[weightedSample]].
    *
    * Determinism contract: p is an exact integer ratio evaluated in
    * double (identical IEEE on both engines); p^alpha is rounded to 12
    * before the DECIMAL(38,18) normalization sum, so libm `pow` ulp
    * drift never reaches the comparison (the t21 ln-rounding pattern);
    * emitted fractions round to 6 with signed-zero canonicalization.
    * Zero-token strata emit NULL shares/weights (the [[mixtureWeights]]
    * guard — never Inf/NaN).
    *
    * Scale shape: ONE stratum-keyed aggregate (map-side combined into a
    * stratum-bounded key space) + two 1-row broadcast scalars (total
    * tokens, normalizer); everything downstream is arithmetic over K
    * stratum rows.
    */
  /** Shared c17/c27 core: per-stratum token stats with the observed
    * share `__p`, the DECIMAL-pinned flattened share `__pa = p^alpha`
    * (rounded at 12 before the cast so both engines sum identical
    * decimals) and the normalizer `__z`.
    */
  private def temperatureCore(df: DataFrame, stratumCol: String,
      textCol: String, alpha: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val perStratum = df.groupBy(col(stratumCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val total = perStratum.agg(sum("n_tokens").as("__total"))
    val withP = perStratum.crossJoin(broadcast(total))
      .withColumn("__p", when(coalesce(col("n_tokens"), lit(0L)) > 0,
        col("n_tokens").cast("double") / col("__total")))
      .withColumn("__pa", round(pow(col("__p"), lit(alpha)), 12).cast(dec))
    val z = withP.agg(sum("__pa").as("__z"))
    withP.crossJoin(broadcast(z))
  }

  def temperatureMixture(df: DataFrame, stratumCol: String, textCol: String,
      alpha: Double): DataFrame =
    temperatureCore(df, stratumCol, textCol, alpha)
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        (round(col("__p"), 6) + lit(0.0)).as("p"),
        (round(col("__pa").cast("double") / col("__z").cast("double"), 6)
          + lit(0.0)).as("q"),
        (round(col("__pa").cast("double") / col("__z").cast("double")
          / col("__p"), 6) + lit(0.0)).as("weight"))

  /** Token-budget plan (the data-scaling planner): given a target
    * training token count and a temperature-`alpha` mixture over
    * strata (the c17 flattening; `alpha = 1` keeps natural proportions),
    * report per stratum how many tokens the mixture demands and how many
    * EPOCHS of the stratum that is — `epochs > 1` flags the sources the
    * run would repeat (the data-constrained-scaling diagnostic: small
    * high-weight sources are the first to multi-epoch).
    *
    * `tokens_needed = q·T` and `epochs = q·T / n_tokens` are IEEE-double
    * expressions over the DECIMAL-pinned `q` route shared with
    * [[temperatureMixture]], rounded at emission — engines replay them
    * bit-for-bit.
    *
    * Plan shape: identical to c17 — ONE map-side-combined aggregate over
    * the corpus, everything downstream on the stratum-bounded frame.
    */
  def tokenBudgetPlan(df: DataFrame, stratumCol: String, textCol: String,
      targetTokens: Long, alpha: Double = 1.0): DataFrame = {
    require(targetTokens > 0, "target token budget must be positive")
    val q = col("__pa").cast("double") / col("__z").cast("double")
    temperatureCore(df, stratumCol, textCol, alpha)
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        (round(q, 6) + lit(0.0)).as("q"),
        (round(q * lit(targetTokens.toDouble), 2) + lit(0.0))
          .as("tokens_needed"),
        (round(q * lit(targetTokens.toDouble) /
          col("n_tokens").cast("double"), 6) + lit(0.0)).as("epochs"))
  }

  /** Temperature-sensitivity curve — the d19-style tuning report for the
    * mixture temperature BEFORE a training run fixes α: for every swept
    * α, each stratum's mixture share q ∝ p^α, the tokens a target budget
    * demands of it, and the implied epochs over its available tokens
    * (epochs > 1 flags the repetition a run would pay at that α). The
    * knee between "natural distribution" (α = 1) and "flat" (α → 0) is
    * the decision input.
    *
    * Plan shape (100 TB posture): the corpus is scanned ONCE (the same
    * stratum-bounded count aggregate as [[temperatureMixture]] /
    * [[tokenBudgetPlan]]); each α level is then pure arithmetic over the
    * replicated stratum frame (a bounded explode over the literal α
    * array — strata × |alphas| rows, the d19 recipe) with a per-α
    * normalizer aggregate. Identical per-α arithmetic to the single-α
    * operators (round-12 DECIMAL(38,18) p^α, one IEEE division), so the
    * curve at α equals the single-α report at α by construction.
    *
    * Output: (alpha, stratum, n_docs, n_tokens, q, tokens_needed,
    * epochs), ascending α.
    */
  def temperatureSensitivity(df: DataFrame, stratumCol: String,
      textCol: String, targetTokens: Long,
      alphas: Seq[Double]): DataFrame = {
    require(targetTokens > 0, "target token budget must be positive")
    require(alphas.nonEmpty && alphas.distinct.size == alphas.size,
      s"alpha levels must be non-empty and distinct, got $alphas")
    require(alphas.forall(_ > 0), s"alpha levels must be positive, got $alphas")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val perStratum = df.groupBy(col(stratumCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val total = perStratum.agg(sum("n_tokens").as("__total"))
    // replicated stratum frame: strata × |alphas| rows, materialized —
    // the normalizer aggregate and the final join both consume it, and
    // an unmaterialized lineage would re-run the corpus pass per use
    val rep = perStratum.crossJoin(broadcast(total))
      .withColumn("__p", when(coalesce(col("n_tokens"), lit(0L)) > 0,
        col("n_tokens").cast("double") / col("__total")))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"), col("__p"),
        explode(typedLit(alphas.sorted)).as("alpha"))
      .withColumn("__pa", round(pow(col("__p"), col("alpha")), 12).cast(dec))
      .localCheckpoint(true)
    val z = rep.groupBy("alpha").agg(sum("__pa").as("__z"))
    val q = col("__pa").cast("double") / col("__z").cast("double")
    rep.join(z, "alpha")
      .select(col("alpha"), col(stratumCol), col("n_docs"), col("n_tokens"),
        (round(q, 6) + lit(0.0)).as("q"),
        (round(q * lit(targetTokens.toDouble), 2) + lit(0.0))
          .as("tokens_needed"),
        (round(q * lit(targetTokens.toDouble) /
          col("n_tokens").cast("double"), 6) + lit(0.0)).as("epochs"))
  }

  /** Good–Turing unseen-mass estimate (Good 1953) — the corpus-coverage
    * diagnostic: the probability that the NEXT token drawn is a type
    * never seen in this corpus is estimated by n₁/N (hapax count over
    * token occurrences), the leave-one-out argument behind Good–Turing
    * smoothing. High unseen mass = the corpus under-covers its domain's
    * vocabulary (crawl more / widen sources before scaling training);
    * n₂ rides along for the Simple-GT singleton discount (n₁ → 2n₂/n₁).
    * Output one row: (n_tokens, vocab, n_hapax, n_dis, unseen_mass).
    *
    * Plan shape (100 TB posture): ONE map-side-combined hash aggregate
    * to vocabulary-bounded (token, count) rows, ONE scalar aggregate
    * over that frame — integers until the final division.
    */
  def goodTuringMass(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    counts.agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("n_tokens"), col("vocab"), col("n_hapax"), col("n_dis"),
        (round(col("n_hapax").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0)).as("unseen_mass"))
  }

  /** Chao1 species-richness estimate (Chao 1984) — the Good–Turing
    * companion asking the dual question: not "how likely is the next
    * token unseen" but "how many token TYPES exist that this corpus has
    * not yet seen". The bias-corrected estimator
    * `S = S_obs + n₁(n₁−1) / (2(n₂+1))` extrapolates total vocabulary
    * from the hapax/dis-legomena ratio (rare types are evidence for
    * unseen types); `coverage = S_obs / S` is the fraction of the
    * domain's vocabulary already captured — the "is crawling more worth
    * it" scalar a data-acquisition plan starts from. The +1 correction
    * keeps the estimate finite when no type occurs exactly twice.
    * Output one row: (vocab, n_hapax, n_dis, chao1, coverage).
    *
    * Plan shape (100 TB posture): identical to [[goodTuringMass]] — ONE
    * map-side-combined hash aggregate to vocabulary-bounded
    * (token, count) rows, ONE scalar aggregate; integers until the two
    * final divisions.
    */
  def chao1Richness(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    // hapax product in DECIMAL(38,0): a LongType multiply would silently
    // wrap past ~3e9 hapaxes under non-ANSI Spark while the BIGINT oracle
    // raises — the same divergence class neymanAllocation was hardened
    // against (the concentrationReport sum-of-squares route)
    val chao1 = col("vocab").cast("double") +
      (col("n_hapax").cast("decimal(38,0)") *
        (col("n_hapax") - lit(1L)).cast("decimal(38,0)")).cast("double") /
        ((col("n_dis") + lit(1L)) * lit(2L)).cast("double")
    counts.agg(
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("vocab"), col("n_hapax"), col("n_dis"),
        (round(chao1, 2) + lit(0.0)).as("chao1"),
        (round(col("vocab").cast("double") / chao1, 6) + lit(0.0))
          .as("coverage"))
  }

  /** Distinct-n lexical diversity (Li et al. 2016's distinct-1/2/3) —
    * the generation-diversity metric turned corpus-health check: per
    * document, the fraction of its word n-grams (n = 1, 2, 3) that are
    * DISTINCT. Templated/boilerplate text scores low on distinct-2/3
    * while passing length and language filters; near-1.0 everywhere is
    * what organic prose looks like. Degenerate documents (fewer than n
    * tokens) pin ratio 0 rather than 0/0.
    *
    * Output: (idCol, n_tokens, uni_distinct, uni_ratio, bi_distinct,
    * bi_ratio, tri_distinct, tri_ratio).
    *
    * Plan shape (100 TB posture): MAP-ONLY — every n-gram set is built
    * and counted inside its own row (string n-grams, not hashes, so no
    * collision caveat); nothing shuffles, nothing explodes, the scan's
    * only read columns are (id, text). Ratios are the sole IEEE step.
    */
  def distinctNgramDiversity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    def grams(n: Int): Column =
      if (n == 1) col("__ts")
      else when(size(col("__ts")) >= n,
        expr(s"transform(sequence(1, size(__ts) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(__ts, i, $n)))"))
        .otherwise(array())
    def stats(n: Int, name: String) = {
      val total = greatest(size(col("__ts")) - lit(n - 1), lit(0))
      val dist = size(array_distinct(grams(n)))
      Seq(dist.cast("long").as(s"${name}_distinct"),
        when(total === 0, lit(0.0))
          .otherwise(round(dist.cast("double") / total.cast("double"), 6) +
            lit(0.0)).as(s"${name}_ratio"))
    }
    df.select(col(idCol), ts.as("__ts"))
      .select(col(idCol) +: size(col("__ts")).cast("long").as("n_tokens") +:
        (stats(1, "uni") ++ stats(2, "bi") ++ stats(3, "tri")): _*)
  }

  /** Flesch reading ease + Flesch–Kincaid grade (Flesch 1948; Kincaid
    * et al. 1975) under a DETERMINISTIC syllable heuristic — syllables
    * ≈ maximal `[aeiouy]+` vowel-group runs, the standard cheap stand-in
    * (exact hyphenation needs a dictionary; a corpus filter needs a
    * reproducible rank, not linguistic truth). Sentences = maximal
    * `[.!?]+` runs, clamped to ≥ 1 so punctuation-free text (common in
    * scraped corpora) degrades to one-sentence scoring instead of
    * dividing by zero; empty documents pin both scores to 0.
    *
    * Output: (idCol, n_words, n_sentences, n_syllables, flesch,
    * fk_grade) — n_sentences is the RAW run count (the clamp is only
    * inside the formulas).
    *
    * Plan shape (100 TB posture): MAP-ONLY — three codegen'd regex
    * counts per row, no shuffle; the scan reads (id, text) only. The
    * two scores are the sole IEEE arithmetic, evaluated left-to-right
    * identically in the oracle.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = size(filter(tokens(col(textCol)), t => length(t) > 0))
      .cast("long")
    val syl = regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
    val sRaw = regexp_count(col(textCol), lit("[.!?]+")).cast("long")
    val sClamped = greatest(sRaw, lit(1L)).cast("double")
    val wd = w.cast("double")
    val flesch = lit(206.835) - lit(1.015) * (wd / sClamped) -
      lit(84.6) * (syl.cast("double") / wd)
    val fk = lit(0.39) * (wd / sClamped) +
      lit(11.8) * (syl.cast("double") / wd) - lit(15.59)
    df.select(col(idCol), w.as("n_words"), sRaw.as("n_sentences"),
        syl.as("n_syllables"),
        when(w === 0, lit(0.0))
          .otherwise(round(flesch, 4) + lit(0.0)).as("flesch"),
        when(w === 0, lit(0.0))
          .otherwise(round(fk, 4) + lit(0.0)).as("fk_grade"))
  }

  /** Encoding-corruption audit — the crawl-hygiene check that catches
    * what language-ID and quality scores miss: replacement characters
    * (U+FFFD, a decoder already gave up), stray C0/C1 control characters
    * (binary mixed into text; tab/newline/CR excused), and the classic
    * UTF-8-read-as-Latin-1 mojibake artifacts (`Ã`, `Â`, `â€` — the
    * lead bytes of multi-byte sequences decoded singly). Feeding a
    * tokenizer mojibake silently fragments its vocabulary; this is the
    * filter that keeps it out.
    *
    * Output: (idCol, n_chars, n_replacement, n_control, n_mojibake,
    * clean).
    *
    * Plan shape (100 TB posture): MAP-ONLY — three codegen regex counts
    * per row, no shuffle, scan reads (id, text) only. Integer end to
    * end.
    */
  def encodingAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val repl = regexp_count(col(textCol),
      lit("\\x{FFFD}")).cast("long")
    val ctrl = regexp_count(col(textCol),
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]")).cast("long")
    val moji = regexp_count(col(textCol),
      lit("\\x{00C3}|\\x{00C2}|\\x{00E2}\\x{20AC}")).cast("long")
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        repl.as("n_replacement"), ctrl.as("n_control"),
        moji.as("n_mojibake"))
      .withColumn("clean",
        col("n_replacement") === 0 && col("n_control") === 0 &&
          col("n_mojibake") === 0)
  }

  def rareBigramFraction(
      df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    def bigrams(c: Column): Column =
      graft.functions.GraftFunctions.shingle_hashes(
        Dedup.normalized(c), 2, word = false, distinct = false)
    val exploded = df.select(col(idCol), explode(bigrams(col(textCol))).as("__bg"))
    val corpusCounts = exploded.groupBy("__bg")
      .agg(count(lit(1)).as("__n"))
    exploded
      .join(corpusCounts, "__bg")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__n") < minCount, 1L).otherwise(0L)).as("n_rare"))
      .select(col(idCol), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"))
  }

  /** DSIR-style importance scores (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): rank every document by
    * how much more its hashed-token-bucket profile looks like a target
    * subset than like the whole pool. The classic weight is
    * `Σ_b c_b · log(p_target(b)/p_source(b))`; to keep the score exact
    * (and therefore oracle-gateable — libm `log` ulp drift flips rounded
    * sums across engines), this uses the linearized divergence
    * `Σ_tokens (t_b·S − s_b·T)` over the doc's token buckets, where
    * `t_b/T` and `s_b/S` are target/source bucket counts and totals.
    * Positive = closer to target, same sign structure as the log form at
    * first order, monotone per token in the probability gap.
    *
    * Scale shape: bucket statistics are ONE partial-aggregable count over
    * exploded token buckets (the shuffle unit is `buckets` rows); the
    * resulting weight table — `buckets` longs, bounded at plan time like
    * the IVF centroid sample — is embedded as a literal array, so scoring
    * is a map-only codegen'd fold over each row's token hashes: no join,
    * no second shuffle, nothing per-token leaves the executor.
    *
    * Weights are computed exactly in BigInt driver-side and must fit a
    * signed 64-bit long; per-doc summation runs in DECIMAL(38,0) and the
    * final cast to long throws (ANSI) rather than wrapping.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      targetFilter: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, "need at least two hash buckets")
    val hashes = graft.functions.GraftFunctions.shingle_hashes(
      Dedup.normalized(col(textCol)), k = 1, word = true, distinct = false)
    val bucketOf: Column => Column = h => pmod(h, lit(buckets.toLong)).cast("int")
    val stats = df.select(targetFilter.as("__t"), explode(hashes).as("__h"))
      .groupBy(bucketOf(col("__h")).as("__b"))
      .agg(count(lit(1)).as("__s"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"))
      .collect()
    val s = new Array[Long](buckets)
    val t = new Array[Long](buckets)
    stats.foreach { r => s(r.getInt(0)) = r.getLong(1); t(r.getInt(0)) = r.getLong(2) }
    val bigS = BigInt(s.sum)
    val bigT = BigInt(t.sum)
    val weights: Seq[Long] = (0 until buckets).map { b =>
      val w = BigInt(t(b)) * bigS - BigInt(s(b)) * bigT
      require(w.isValidLong,
        s"bucket $b weight $w overflows long — corpus too large for exact " +
          "scoring at this bucket count; reduce buckets or pre-sample")
      w.toLong
    }
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wArr = typedLit(weights)
    df.withColumn("score",
      aggregate(hashes, lit(0L).cast(dec),
        (acc, h) => acc + element_at(wArr, bucketOf(h) + 1).cast(dec))
        .cast("long"))
  }

  /** The DSIR apply step: importance-weighted Bernoulli resampling.
    * Each doc keeps with probability proportional to its min-max-scaled
    * [[importanceWeights]] score, and the coin is the doc's own content
    * fingerprint — deterministic, reproducible, re-runnable (the t09
    * philosophy: no RNG state, sampling decisions are pure functions of
    * content). `kept = fingerprint mod resolution < floor(p · resolution)`
    * compares INTEGERS, so the decision is exact on both engines — no
    * float-boundary flakes.
    *
    * Scale shape: scoring is [[importanceWeights]]'s map-only literal
    * fold; the min/max scale is one 2-long aggregate collected as
    * plan-time state; the apply pass stays map-only (no join — the
    * fingerprint derives from the same text column in the same pass).
    * Degenerate corpora (all scores equal, including token-less) keep
    * everything: p = 1.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
      targetFilter: Column, buckets: Int = 1024,
      resolution: Int = 1 << 20): DataFrame = {
    require(resolution >= 2, "resolution must give the coin some room")
    val scored = importanceWeights(df, idCol, textCol, targetFilter, buckets)
    val mm = scored.agg(min(col("score")), max(col("score"))).head()
    val p =
      if (mm.isNullAt(0) || mm.getLong(0) == mm.getLong(1)) lit(1.0)
      else {
        // the scores span both signs (bucket weights sum to zero over the
        // corpus), so max - min can exceed Long range even when each score
        // individually fits: the spread folds in BigInt on the driver and
        // the per-row offset in DECIMAL(38,0), both overflow-free — the
        // same widening the HUGEINT oracle applies
        val lo = mm.getLong(0)
        val span = (BigInt(mm.getLong(1)) - BigInt(lo)).toDouble
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        (col("score").cast(dec38) - lit(lo).cast(dec38)).cast("double") /
          lit(span)
      }
    scored
      .withColumn("keep_prob", p)
      .withColumn("kept",
        pmod(fingerprint(col(textCol)), lit(resolution.toLong)) <
          floor(col("keep_prob") * lit(resolution)))
  }

  /** Vocabulary-id encoding: build a frequency-ranked vocabulary of the
    * top `vocabSize` tokens (count DESC, token ASC — same deterministic
    * order as [[topTokens]]) and encode every document as a space-joined
    * sequence of ids; out-of-vocabulary tokens get `oovId` (0, below all
    * real ids which are 1-based ranks). The word-level analogue of
    * tokenizer encoding, plus the per-doc OOV count quality signal.
    *
    * Shape: the vocabulary never sorts globally — ranking is the bounded
    * top-k heap aggregate; encoding explodes the corpus once, joins the
    * broadcast vocabulary, and regroups per document (the tfIdf shuffle
    * shape). Documents with no tokens are absent from the output.
    */
  def encodeTokens(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, oovId: Int = 0): DataFrame = {
    require(vocabSize >= 1, "vocabulary must be non-empty")
    val vocab = topTokens(df, textCol, vocabSize).select(
      col("token").as("__tok"), col("rank").as("__rank"))
    df.select(col(idCol),
        posexplode(split(Dedup.normalized(col(textCol)), " "))
          .as(Seq("__p", "__t")))
      .filter(length(col("__t")) > 0)
      .join(broadcast(vocab), col("__t") === col("__tok"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__p"),
              coalesce(col("__rank"), lit(oovId)).as("__id")))),
            s => s.getField("__id").cast("string")),
          " ").as("ids"),
        sum(when(col("__rank").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Bigram language-model quality score — the classic perplexity-proxy
    * pre-training filter (KenLM-style scoring, here an add-one-smoothed
    * bigram model fit on the corpus itself): each document's score is the
    * mean log-probability of its word bigrams,
    * `avg over (w1,w2) of ln((c(w1,w2)+1) / (c(w1·)+V))`,
    * where `c(w1,w2)` is the corpus bigram count, `c(w1·)` the count of
    * `w1` as a context, and `V` the corpus vocabulary size. Fluent,
    * corpus-typical text scores high; gibberish and wrong-language text
    * score low. Output: (idCol, n_bigrams, avg_logp); documents with
    * fewer than two tokens have no bigrams and are absent.
    *
    * Determinism contract: each bigram's log-prob is rounded to 4 places
    * and summed in DECIMAL — a raw double sum would make the score depend
    * on partition order, and libm `ln` ulp drift across engines dies in
    * the rounding (the t07 tfidf precedent). The final mean divides the
    * exact decimal sum in double (exact: the sum fits 2^53 at this
    * scale) and rounds to 6.
    *
    * Scale shape: the model IS two hash aggregates (bigram counts keyed
    * on the gram, context counts keyed on the first word — both map-side
    * combined into vocabulary-bounded key spaces, the tfIdf shuffle
    * shape); scoring re-joins each doc's grams to the model on those
    * same keys, and only the per-doc (id, logp) rows shuffle into the
    * final aggregate. No driver-side model, no broadcast of anything
    * corpus-sized (V rides along as a one-row broadcast).
    */
  private def lmWords(c: Column): Column =
    filter(split(Dedup.normalized(c), " "), w => length(w) > 0)

  /** Per-doc exploded (id, first-word, bigram) rows of the bigram-LM
    * pipeline — shared between [[bigramLmScore]] (model == scored corpus)
    * and [[perplexityBuckets]] (model trained on a reference slice only).
    */
  private def lmDocBigrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ws = lmWords(col(textCol))
    val n = size(ws)
    val bigrams = explodeWhen(n >= 2,
      zip_with(slice(ws, lit(1), greatest(n - 1, lit(1))),
        slice(ws, lit(2), greatest(n - 1, lit(1))),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("bg"))),
      "struct<w1:string,bg:string>")
    df.select(col(idCol), bigrams.as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.bg").as("__bg"))
  }

  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBigrams = lmDocBigrams(df, idCol, textCol)
    val bigramCounts = docBigrams.groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val contextCounts = docBigrams.groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = df.select(explode(lmWords(col(textCol))).as("__w"))
      .agg(countDistinct(col("__w")).as("__v"))
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    docBigrams
      .join(bigramCounts, "__bg")
      .join(contextCounts, "__w1")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        round(log((col("__cb") + 1).cast("double") /
          (col("__cu") + col("__v")).cast("double")), 4).cast(dec).as("__logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__logp")).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum").cast("double") / col("n_bigrams"), 6).as("avg_logp"))
  }

  /** The Gopher quality-rule battery (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", Appendix A — the published web-text filter
    * most later corpora derive from), as per-rule flags plus the
    * conjunctive keep:
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio ('#' or '…'/'...') <= 0.1
    *   - >= 80% of words contain an alphabetic character
    *   - >= 2 distinct members of the stop-word probe set
    *     {the, be, to, of, and, that, have, with}
    *   - <= 90% of lines start with a bullet, <= 30% end with an
    *     ellipsis
    *
    * Determinism: every ratio threshold evaluates as a CROSS-MULTIPLIED
    * INTEGER comparison (e.g. mean-word-length ∈ [3,10] is
    * `3·words <= Σlen(w) <= 10·words`) — no floating point anywhere, so
    * engines cannot disagree on a flag. One map-only pass; words come
    * from the engine-wide normalization, lines from the RAW text.
    * Output: (idCol, n_words, f_words, f_mean_word_len, f_symbol_ratio,
    * f_alpha_words, f_stopwords, f_bullets, f_ellipsis, keep).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    val ws = filter(tokens(raw), w => length(w) > 0)
    val nWords = size(ws).cast("long")
    val sumLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
    val hashes = (length(raw) - length(regexp_replace(raw, "#", ""))).cast("long")
    val ellipses = ((length(raw) -
      length(regexp_replace(raw, "\\.\\.\\.", ""))) / 3).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[a-z]"))).cast("long")
    val probe = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(filter(typedLit(probe),
      sw => array_contains(ws, sw))).cast("long")
    val lines = filter(transform(split(raw, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nLines = size(lines).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^[-*•]"))).cast("long")
    val ellEnd = size(filter(lines, l => l.endsWith("..."))).cast("long")
    df.select(col(idCol), nWords.as("n_words"),
        nWords.between(50L, 100000L).as("f_words"),
        (lit(3L) * nWords <= sumLen && sumLen <= lit(10L) * nWords)
          .as("f_mean_word_len"),
        (lit(10L) * (hashes + ellipses) <= nWords).as("f_symbol_ratio"),
        (lit(10L) * alphaWords >= lit(8L) * nWords).as("f_alpha_words"),
        (stopHits >= 2L).as("f_stopwords"),
        (lit(10L) * bullets <= lit(9L) * nLines).as("f_bullets"),
        (lit(10L) * ellEnd <= lit(3L) * nLines).as("f_ellipsis"))
      .withColumn("keep",
        col("f_words") && col("f_mean_word_len") && col("f_symbol_ratio") &&
          col("f_alpha_words") && col("f_stopwords") && col("f_bullets") &&
          col("f_ellipsis"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 with the standard fixed
    * absolute discount D = 0.75) — the quality upgrade over
    * [[bigramLmScore]]'s add-one smoothing:
    *
    *   p(w2|w1) = (c(w1w2) − D)/c(w1·)
    *            + (D · N1+(w1·)/c(w1·)) · (N1+(·w2)/B)
    *
    * where `N1+(w1·)` counts w1's distinct continuations, `N1+(·w2)`
    * counts w2's distinct histories (the KN insight: "francisco" is
    * frequent but follows only "san", so its continuation probability is
    * tiny), and `B` is the distinct-bigram-type total. Scoring the
    * training corpus itself every scored bigram has c >= 1, so the
    * discount never clips below zero and the max(·,0) of the general
    * form is vacuous (omitted).
    *
    * Same determinism contract and shuffle shape as [[bigramLmScore]]:
    * the model is FOUR vocabulary-bounded hash aggregates (bigram,
    * context, continuation-type, history-type) plus a one-row type
    * total; per-gram ln rounds to 4 and sums in DECIMAL, the mean rounds
    * to 6. Output: (idCol, n_bigrams, avg_logp_kn); docs with < 2 tokens
    * are absent.
    */
  def knBigramLmScore(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    val docBigrams = lmDocBigrams(df, idCol, textCol)
      .withColumn("__w2", element_at(split(col("__bg"), " "), 2))
    val bigramCounts = docBigrams.groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val contextCounts = docBigrams.groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val fwdTypes = bigramCounts
      .select(element_at(split(col("__bg"), " "), 1).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__n1f"))
    val histTypes = bigramCounts
      .select(element_at(split(col("__bg"), " "), 2).as("__w2"))
      .groupBy("__w2").agg(count(lit(1)).as("__n1b"))
    val totalTypes = bigramCounts.agg(count(lit(1)).as("__bt"))
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val p =
      (col("__cb").cast("double") - lit(discount)) / col("__cu").cast("double") +
        (lit(discount) * col("__n1f").cast("double") / col("__cu").cast("double")) *
          (col("__n1b").cast("double") / col("__bt").cast("double"))
    docBigrams
      .join(bigramCounts, "__bg")
      .join(contextCounts, "__w1")
      .join(fwdTypes, "__w1")
      .join(histTypes, "__w2")
      .crossJoin(broadcast(totalTypes))
      .select(col(idCol), round(log(p), 4).cast(dec).as("__logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__logp")).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum").cast("double") / col("n_bigrams"), 6)
          .as("avg_logp_kn"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: score web text
    * under an LM trained on a CLEAN reference corpus, then split into
    * perplexity tertiles — head/middle/tail — so downstream sampling can
    * prefer in-domain text). Here the LM is the add-one-smoothed bigram
    * model of [[bigramLmScore]] trained ONLY on `df.filter(refFilter)`;
    * EVERY doc is then scored against it, and the corpus is cut into
    * `nBuckets` quantile buckets of the score. Bucket 1 = lowest mean
    * log-prob (highest perplexity — CCNet's "tail"); bucket `nBuckets` =
    * best in-domain fit ("head").
    *
    * Scoring differs from [[bigramLmScore]] exactly where the reference
    * model needs it to: bigrams/contexts unseen in the reference back off
    * to count 0 (left joins + coalesce) so out-of-domain text scores low
    * instead of being dropped; the smoothing vocabulary V is the
    * REFERENCE vocabulary. Docs with no bigram (< 2 tokens) are absent —
    * no score exists for them.
    *
    * Determinism contract: per-gram `ln` rounded to 4, DECIMAL(28,6) sum,
    * mean rounded to 6 (the t21 contract). The BUCKET metric is the mean
    * additionally rounded to 3: a plan-time-bounded domain (thousandths
    * of a log-prob in roughly [-20, 0] — tens of thousands of distinct
    * values at ANY corpus size), which keeps
    * [[CorpusStats.valueQuantiles]]' driver-side histogram collect
    * sanctioned at 100 TB where the 6-digit domain would not be.
    *
    * Scale shape: model counts are reference-vocabulary-bounded hash
    * aggregates; scoring is two LEFT equi-joins on gram keys plus the
    * 1-row broadcast V scalar; bucketing is map-only against plan-time
    * boundary literals. No window, no sort, nothing corpus-sized ever
    * sits on the driver.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      refFilter: Column, nBuckets: Int = 3): DataFrame = {
    val ref = df.filter(refFilter)
    val refBigrams = lmDocBigrams(ref, idCol, textCol)
    val bigramCounts = refBigrams.groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val contextCounts = refBigrams.groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = ref.select(explode(lmWords(col(textCol))).as("__w"))
      .agg(countDistinct(col("__w")).as("__v"))
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val scored = lmDocBigrams(df, idCol, textCol)
      .join(bigramCounts, Seq("__bg"), "left")
      .join(contextCounts, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        round(log((coalesce(col("__cb"), lit(0L)) + 1).cast("double") /
          (coalesce(col("__cu"), lit(0L)) + col("__v")).cast("double")), 4)
          .cast(dec).as("__logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__logp")).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum").cast("double") / col("n_bigrams"), 6).as("avg_logp"))
      .withColumn("__m", round(col("avg_logp"), 3) + lit(0.0))
    CorpusStats.curriculumBuckets(scored, "__m", nBuckets).drop("__m")
  }

  /** Bottom-k-by-hash sample per stratum — the KMV (k-minimum-values)
    * sketch: the k smallest content hashes of each stratum are BOTH a
    * deterministic uniform-without-replacement sample (hash order is
    * content-keyed, so the sample replays across runs, retries, and
    * engines — same property as [[deterministicSample]]) AND a distinct
    * estimator: `est = (k-1)·R / h_k` for a hash range R (Bar-Yossef et
    * al. 2002). Strata with fewer than k rows report their exact count.
    *
    * Hashes live in [0, 2^40): exactly representable in the top-k
    * aggregate's double scores, so heap ordering is bit-identical to
    * exact integer ordering (a full 63-bit hash would alias above 2^53
    * and could disagree with an exact-arithmetic oracle at the boundary).
    *
    * Scale shape: ONE hash aggregate — the bounded heap carries k entries
    * per stratum per map partition, never a per-stratum sort; the output
    * is strata × k rows. Ties break by id, so the sample is total-ordered
    * and reproducible.
    *
    * Output: one row per kept doc: (stratumCol, rank, idCol, h, n_rows,
    * est_distinct).
    */
  def bottomKSample(df: DataFrame, stratumCol: String, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    import graft.functions.GraftFunctions
    val R = 1L << 40
    val hashed = df.select(col(stratumCol), col(idCol),
      pmod(fingerprint(col(textCol)), lit(R)).as("__h"))
    hashed.groupBy(col(stratumCol))
      .agg(
        GraftFunctions.top_k_by((-col("__h")).cast("double"), col(idCol), k)
          .as("__bot"),
        count(lit(1)).as("n_rows"))
      // entries are (score DESC, id ASC) = ascending h; the last is h_k,
      // clamped to >= 1: k or more docs hashing to exactly 0 (e.g. many
      // empty/identical normalized texts in one stratum) would otherwise
      // divide by zero and emit Infinity (ADVICE r6)
      .withColumn("__hk",
        greatest((-element_at(col("__bot"), size(col("__bot"))).getField("score"))
          .cast("long"), lit(1L)))
      .withColumn("est_distinct",
        when(col("n_rows") >= k,
          round(lit((k - 1).toDouble) * lit(R.toDouble) /
            col("__hk").cast("double"), 3))
          .otherwise(col("n_rows").cast("double")))
      .select(col(stratumCol), col("n_rows"), col("est_distinct"),
        posexplode(col("__bot")).as(Seq("__p", "__e")))
      .select(col(stratumCol), (col("__p") + 1).cast("int").as("rank"),
        col("__e.id").as(idCol), (-col("__e.score")).cast("long").as("h"),
        col("n_rows"), col("est_distinct"))
  }

  /** KMV set-operation estimates between two corpus slices — the
    * sketch-side answer to "how much does crawl B overlap crawl A?"
    * asked BEFORE paying for a cross-crawl dedup join. Bottom-k content
    * sketches are mergeable (Bar-Yossef et al. 2002 / Beyer et al. 2007):
    * the union sketch is the bottom-k of the two sketches' union, Jaccard
    * is estimated as the fraction of union-sketch members present in BOTH
    * slice sketches, and the intersection size as `Ĵ · D̂(union)`. Exact
    * per-slice distinct counts ride the same pass, so the output row
    * carries estimate and truth side by side (at real scale the exact
    * columns are the expensive part one would drop; here they double as
    * the accuracy report).
    *
    * Determinism contract: hashes are the 40-bit content fingerprint (the
    * [[bottomKSample]] range — exactly representable in the heap's double
    * scores), estimates are fixed double formulas over the k-th smallest
    * hash (clamped >= 1, the a05 lesson), and membership tests are
    * integer — an oracle replays every emitted value exactly.
    *
    * Scale shape: one distinct-hash aggregate (map-side combined — the
    * shuffle carries one row per distinct hash with two boolean flags),
    * then ONE single-row aggregate holding three bounded k-heaps; the
    * estimate arithmetic is driver-free column math over that row. Rows
    * in neither slice are ignored.
    */
  def kmvSetOps(df: DataFrame, textCol: String, inA: Column, inB: Column,
      k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    import graft.functions.GraftFunctions
    val R = 1L << 40
    val perHash = df
      .select(pmod(fingerprint(col(textCol)), lit(R)).as("__h"),
        inA.as("__a"), inB.as("__b"))
      .filter(col("__a") || col("__b"))
      .groupBy(col("__h"))
      .agg(max(col("__a")).as("__a"), max(col("__b")).as("__b"))
    def sketch(flag: Column): Column =
      GraftFunctions.top_k_by(
        when(flag, (-col("__h")).cast("double")), col("__h"), k)
    val agged = perHash.agg(
      sketch(col("__a")).as("__ska"),
      sketch(col("__b")).as("__skb"),
      sketch(lit(true)).as("__sku"),
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
      count(lit(1)).as("n_union"),
      sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n_intersection"))
    def ids(sk: Column): Column = transform(sk, e => e.getField("id"))
    def hk(sk: Column): Column =
      greatest((-element_at(sk, size(sk)).getField("score")).cast("long"), lit(1L))
    // sketches shorter than k saw EVERY distinct hash of their slice —
    // the "estimate" is then the exact count (the bottomKSample rule)
    def est(sk: Column): Column =
      when(size(sk) >= k,
        lit((k - 1).toDouble) * lit(R.toDouble) / hk(sk).cast("double"))
        .otherwise(size(sk).cast("double"))
    val ska = ids(col("__ska"))
    val skb = ids(col("__skb"))
    val matched = size(filter(ids(col("__sku")),
      x => array_contains(ska, x) && array_contains(skb, x)))
    val j = when(size(col("__sku")) === 0, lit(0.0d))
      .otherwise(matched.cast("double") / size(col("__sku")).cast("double"))
    agged.select(
      lit(k).as("k"),
      col("n_a"), col("n_b"), col("n_union"), col("n_intersection"),
      (round(est(col("__ska")), 3) + lit(0.0)).as("est_a"),
      (round(est(col("__skb")), 3) + lit(0.0)).as("est_b"),
      (round(est(col("__sku")), 3) + lit(0.0)).as("est_union"),
      (round(j, 6) + lit(0.0)).as("est_jaccard"),
      (round(j * est(col("__sku")), 3) + lit(0.0)).as("est_intersection"))
  }

  /** Frequency capping: keep at most `maxPerKey` rows per key — the crawl
    * pipeline's "at most N pages per domain / language / source" rule,
    * guarding the training mix against a single hot key flooding it.
    *
    * Which rows survive is DETERMINISTIC and content-keyed: rows are
    * ranked by their 40-bit text fingerprint (ties by id), so re-runs,
    * input order and partitioning cannot change the kept set, and the cap
    * samples uniformly over content rather than favoring crawl order.
    * Hashes live in [0, 2^40) — exactly representable in the heap's
    * double scores (the [[bottomKSample]] precedent).
    *
    * Scale shape: ONE hash aggregate — the bounded heap carries
    * `maxPerKey` entries per key per map partition (never a per-key sort
    * window; a row_number over a billion-row hot domain would ship the
    * whole domain to one task) — then a semi join of the skinny kept-id
    * set back to the input. Output: the input rows that survive, original
    * schema.
    *
    * NULL text ranks as empty text (fingerprint of ""): a null hash would
    * never enter the bounded heap, silently DELETING every null-text row
    * instead of capping it — missing text is as routine in crawl data as
    * the missing keys the null-safe join below handles.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      textCol: String, maxPerKey: Int): DataFrame = {
    require(maxPerKey >= 1, "maxPerKey must be >= 1")
    import graft.functions.GraftFunctions
    val R = 1L << 40
    val kept = df
      .select(col(keyCol), col(idCol),
        pmod(fingerprint(coalesce(col(textCol), lit(""))), lit(R)).as("__h"))
      .groupBy(col(keyCol))
      .agg(GraftFunctions.top_k_by((-col("__h")).cast("double"), col(idCol),
        maxPerKey).as("__keep"))
      .select(col(keyCol).as("__capk"), explode(col("__keep")).as("__e"))
      .select(col("__capk"), col("__e.id").as("__capid"))
    // null-safe key equality: NULL keys (missing domain/lang is ROUTINE in
    // crawl data) form a capped group like any other — a plain EqualTo
    // would silently drop every null-key row instead
    df.join(kept,
      col(keyCol) <=> col("__capk") && col(idCol) === col("__capid"),
      "left_semi")
  }

  /** One-call enrichment: attach all text-analysis columns. */
  def analyze(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("pred_lang", langId(col(textCol)))
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_tokens_bpe", bpeTokenEstimate(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))

  /** Blocklist phrase scan: exact OCCURRENCE counts of every multi-word
    * phrase in every document — the flagged-phrase filter of a web
    * pipeline (policy terms, spam slogans, boilerplate markers), at
    * word-boundary granularity ("able scan" never matches "table scan").
    * Phrases and text normalize identically (trim → lower → whitespace
    * collapse); occurrences may overlap ("x x x" holds "x x" twice).
    * Output: (idCol, phrase, n_hits) for hits only.
    *
    * Plan shape (100 TB posture): phrases group by word count L; per L
    * ONE codegen word-shingle pass explodes the corpus to SKINNY
    * (id, gram-hash) rows — text never shuffles — joined against the
    * BROADCAST phrase-hash table (a phrase of L words is its own single
    * L-gram through the same kernel), then one (id, phrase) hash
    * aggregate counts occurrences. Gram identity is 64-bit hash identity
    * (the d06 collision sanction). No window, no cartesian, no UDF.
    */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    import graft.functions.GraftFunctions
    // normalization matches the engine-side SQL lower() exactly
    // (Locale.ROOT — JVM default-locale toLowerCase would diverge on
    // e.g. Turkish dotted I), and the CALLER'S original string is
    // carried through to the output so join-back against the input
    // phrase list works even for unnormalized inputs
    val norm = phrases.map(p =>
        (p, p.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")))
      .filter(_._2.nonEmpty)
    require(norm.nonEmpty, "need at least one non-empty phrase")
    require(norm.map(_._2).distinct.size == norm.size,
      "phrases must be distinct after normalization")
    val spark = df.sparkSession
    import spark.implicits._
    val docsNorm = df.select(col(idCol),
      Dedup.normalized(col(textCol)).as("__nt"))
    norm.groupBy(_._2.count(_ == ' ') + 1).toSeq.sortBy(_._1).map {
      case (l, ps) =>
        val pdf = broadcast(ps.toDF("phrase", "__np").select(col("phrase"),
          element_at(GraftFunctions.shingle_hashes(col("__np"), l,
            word = true), 1).as("__h")))
        docsNorm.select(col(idCol),
            explode(GraftFunctions.shingle_hashes(col("__nt"), l,
              word = true, distinct = false)).as("__h"))
          .join(pdf, "__h")
          .groupBy(col(idCol), col("phrase"))
          .agg(count(lit(1)).as("n_hits"))
    }.reduce(_ unionByName _)
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Okapi BM25
    * formulation with the Lucene-style non-negative idf
    * ln(1 + (N - df + 0.5)/(df + 0.5))): top-`k` documents per query by
    *
    *   score(q, D) = Σ_t idf(t) · tf(t,D)·(k1+1) / (tf + k1·(1−b + b·|D|/avgdl))
    *
    * over the shared [[tokens]] tokenization. Terms whose document
    * frequency exceeds `maxDfFrac`·N are dropped from scoring — the
    * standard stopword/WAND-style posting cap: at corpus scale a term in
    * half the documents contributes idf ≈ ln(2) noise but a posting list
    * the size of the corpus, so the cap is the difference between a
    * skinny inverted-index join and a quadratic blow-up. Set it to 1.0
    * to score every term.
    *
    * Plan shape (100 TB posture): ONE corpus explode feeds both the
    * (doc, term) tf aggregate and the term df aggregate; query terms
    * (distinct per query) join the tf postings on the term — an
    * inverted-index equi-join whose width is bounded by the df cap —
    * then doc length joins on the id and the 1-row (N, avgdl) scalar
    * frame broadcasts. Per-term scores round to 9 dp and sum as exact
    * DECIMAL(28,9) per (query, doc) — order-independent, so ranking is
    * deterministic — and ranking is the bounded top-k heap aggregate
    * ([[Similarity.rankTopK]]’s machinery): O(k) state per query per map
    * partition, never a per-query row_number over the full candidate
    * set. No window, no cartesian beyond the 1-row scalar attach.
    *
    * Output: (queryIdCol, idCol, rank, score), rank 1..k by
    * (score DESC, id ASC).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.5, b: Double = 0.75,
      maxDfFrac: Double = 0.1): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 > 0 && b >= 0 && b <= 1, "k1 > 0, b in [0,1]")
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac in (0,1]")
    // materialized once (the d06/d08 lesson): the posting frame feeds
    // THREE consumers (df aggregate, score join, corpus stats) — left
    // lazy, the corpus would be re-scanned and re-tokenized per consumer
    val postings = bm25Postings(docs, idCol, textCol)
      .localCheckpoint(eager = true)
    // corpus stats over documents that HAVE tokens (empty docs can never
    // be retrieved, and including them would skew avgdl toward zero);
    // the (id, dl) projection is distinct because dl repeats per token
    val docLens = postings.select(col(idCol), col("__dl")).distinct()
    val stats = docLens.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1)).cast("double"))
        .as("__avgdl"))
    val qtoks = queryTokens(queries, queryIdCol, queryTextCol)
    bm25FromPostings(postings, qtoks, stats, idCol, queryIdCol,
      k, k1, b, maxDfFrac)
  }

  /** The distinct (queryId, token) frame of a query table under the
    * shared [[tokens]] tokenization — split out so the streaming BM25
    * monitor tokenizes queries identically to the batch operator.
    */
  private[graft] def queryTokens(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol),
        explode(tokens(col(queryTextCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .distinct()

  /** The [[bm25TopK]] scoring tail over pre-built postings — the
    * reusable unit the streaming BM25 monitor feeds from its persisted
    * inverted index, guaranteeing stream/batch score equality by
    * construction. `postings` carries (idCol, __tok, __tf, __dl), ONE
    * row per (document, term) — both producers ([[bm25Postings]] and
    * the streaming index's latest-wins read) group by (id, term), so
    * df per term is a plain posting count. At minimum every posting
    * row of the query terms must be present (extra tokens are dropped
    * map-side before any aggregate); `stats` is the 1-row (__n,
    * __avgdl) corpus frame. Term document frequencies derive from the
    * postings themselves, so caller-side posting restriction (the
    * streaming touched-prefix read) cannot change a scored term's df.
    *
    * Plan shape: the panel vocabulary (bounded — it's the fixed query
    * set's distinct terms) BROADCASTS against the postings, so the df
    * aggregate and the score join run over query-term posting lists
    * only, never the full touched-prefix index slice.
    */
  private[graft] def bm25FromPostings(postings: DataFrame, qtoks: DataFrame,
      stats: DataFrame, idCol: String, queryIdCol: String,
      k: Int, k1: Double = 1.5, b: Double = 0.75,
      maxDfFrac: Double = 0.1): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = qtoks.select(col("__tok")).distinct()
    val qpost = postings.join(broadcast(qterms), "__tok")
    // the df cap applies on the SMALL side (per-term df rows × the
    // 1-row stats frame): a capped term never enters the broadcast
    // table, so its posting list drops at the hash-join probe map-side
    // instead of flowing through the score pipeline
    val dfq = qpost.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats))
      .filter(col("__df").cast("double") <=
        lit(maxDfFrac) * col("__n").cast("double"))
    val scored = qpost
      .join(broadcast(qtoks.join(dfq, "__tok")), "__tok")
      .select(col(queryIdCol), col(idCol),
        round(
          log(lit(1.0) + ((col("__n") - col("__df")).cast("double") + lit(0.5)) /
            (col("__df").cast("double") + lit(0.5))) *
          ((col("__tf").cast("double") * lit(k1 + 1.0)) /
            (col("__tf").cast("double") + lit(k1) *
              (lit(1.0 - b) + lit(b) *
                (col("__dl").cast("double") / col("__avgdl"))))), 9)
          .cast(DecimalType(28, 9)).as("__s"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__s")).as("__score"))
      .select(col(queryIdCol), col(idCol),
        col("__score").cast("double").as("__d"))
    scored.groupBy(col(queryIdCol))
      .agg(graft.functions.GraftFunctions.top_k_by(
        col("__d"), col(idCol), k).as("__topk"))
      .select(col(queryIdCol), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(queryIdCol), col("__e.id").as(idCol),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.score").as("score"))
  }

  /** The per-document token statistics a BM25 index stores: tf per
    * (id, token) joined with the document length — shared by the batch
    * operator and the streaming index build.
    */
  private[graft] def bm25Postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
    // ONE tokenize pass: dl = Σtf per doc via a doc-keyed window over the
    // tf frame (bounded by a document's distinct tokens — never corpus-
    // global). The join formulation (tf ⋈ dl on id) re-tokenized the
    // corpus for each side; this halves the explode work
    val tf = toks.groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    tf.withColumn("__dl",
      sum(col("__tf"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
  }

  /** Per-(label, token) training counts under the shared [[tokens]]
    * tokenization — the sufficient statistic of multinomial Naive Bayes
    * (counts are additive across data splits, which is what makes the
    * model streamable and the training one corpus pass + one
    * vocabulary-bounded aggregate).
    */
  private[graft] def nbCounts(docs: DataFrame, textCol: String,
      labelCol: String): DataFrame =
    docs.select(col(labelCol).as("__lbl"),
        explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col("__lbl"), col("__tok"))
      .agg(count(lit(1)).as("cnt"))

  /** Add-one-smoothed conditional log-probabilities over a count frame:
    * logp(t|c) = ln((cnt + 1) / (N_c + V)) with V the GLOBAL training
    * vocabulary, rounded to 9 decimals (the model's native precision —
    * every downstream score term multiplies this, so both engines must
    * agree on the leaf bits; ln itself is IEEE-identical, b02 relies on
    * the same).
    */
  private[graft] def nbModel(counts: DataFrame, labelCol: String): DataFrame = {
    val totals = counts.groupBy(col("__lbl")).agg(sum(col("cnt")).as("__nc"))
    val vocab = counts.select(col("__tok")).distinct()
      .agg(count(lit(1)).as("__v"))
    counts.join(totals, "__lbl").crossJoin(broadcast(vocab))
      .select(col("__lbl").as(labelCol), col("__tok").as("token"), col("cnt"),
        round(log((col("cnt") + 1).cast("double") /
          (col("__nc") + col("__v")).cast("double")), 9).as("logp"))
  }

  /** Multinomial Naive Bayes trainer — the fastText-class quality /
    * language classifier of LLM data pipelines (CCNet's and GPT-3's
    * quality filters are linear classifiers of exactly this shape)
    * expressed as pure aggregation: training IS counting, so the whole
    * fit is one corpus explode + one (label, token)-keyed hash
    * aggregate, and the model is a vocabulary-bounded frame — never
    * driver-side state, shuffles bounded by |vocab|×|classes| however
    * large the corpus. Output: (labelCol, token, cnt, logp) with
    * add-one-smoothed logp (see [[nbModel]]).
    */
  def naiveBayesTrain(docs: DataFrame, textCol: String,
      labelCol: String): DataFrame =
    nbModel(nbCounts(docs, textCol, labelCol), labelCol)

  /** Train-on-`train`, classify-`test` Naive Bayes: per test document,
    * argmax over classes of ln prior(c) + Σ_t tc(t)·logp(t|c), unseen
    * tokens falling back to the smoothing floor ln(1/(N_c + V)).
    *
    * Determinism: every score term rounds to 9 decimals and sums as
    * DECIMAL(28,9) (the b02 convention — addend-order-free), priors are
    * round-9 DECIMAL too, so per-(doc, class) scores are exact and the
    * argmax is replayable; score ties break to the smallest label.
    *
    * Plan shape: ONE test-corpus explode into (doc, token, tc); the
    * |classes|-bounded fallback table broadcasts against it (the only
    * row multiplier, ×|classes|); the model joins by (label, token) —
    * vocabulary-scale, an equi-join, never corpus×corpus; then two hash
    * aggregates (per-(doc, class) score sum, per-doc max) and the
    * tie-break join. Zero-token test documents keep their prior-only
    * scores via the doc×class base frame. No window, no driver collect.
    * Output: (idCol, predicted, score) — score the winning class's
    * round-6 log-posterior (unnormalized).
    */
  def naiveBayesClassify(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    // counts feed THREE consumers (model, class totals, vocab) — the
    // d06/d08 lesson: left lazy the corpus re-tokenizes per consumer
    val counts = nbCounts(train, textCol, labelCol)
      .localCheckpoint(eager = true)
    val model = nbModel(counts, labelCol)
    val totals = counts.groupBy(col("__lbl")).agg(sum(col("cnt")).as("__nc"))
    val vocab = counts.select(col("__tok")).distinct()
      .agg(count(lit(1)).as("__v"))
    val classes = train.groupBy(col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("__docs"))
    val priors = classes
      .crossJoin(broadcast(classes.agg(sum(col("__docs")).as("__tot"))))
      .select(col("__lbl"),
        round(log(col("__docs").cast("double") / col("__tot").cast("double")), 9)
          .cast(DecimalType(28, 9)).as("__prior"))
    // smoothing floor per class; a class whose training docs had no
    // tokens still gets a floor (N_c = 0) rather than a null cascade
    val floors = classes.select(col("__lbl"))
      .join(totals, Seq("__lbl"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__lbl"), log(lit(1.0) /
        (coalesce(col("__nc"), lit(0L)) + col("__v")).cast("double")).as("__fb"))
    val testCounts = test.select(col(idCol),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tc"))
    val termSums = testCounts
      .crossJoin(broadcast(floors))
      .join(model.select(col(labelCol).as("__lbl"), col("token"), col("logp")),
        Seq("__lbl", "token"), "left")
      .select(col(idCol), col("__lbl"),
        round(col("__tc").cast("double") * coalesce(col("logp"), col("__fb")), 9)
          .cast(DecimalType(28, 9)).as("__t"))
      .groupBy(col(idCol), col("__lbl"))
      .agg(sum(col("__t")).as("__ll"))
    val scored = test.select(col(idCol)).distinct()
      .crossJoin(broadcast(priors))
      .join(termSums, Seq(idCol, "__lbl"), "left")
      .select(col(idCol), col("__lbl"),
        (col("__prior") + coalesce(col("__ll"),
          lit(0).cast(DecimalType(28, 9)))).as("__score"))
    val best = scored.groupBy(col(idCol)).agg(max(col("__score")).as("__score"))
    scored.join(best, Seq(idCol, "__score"))
      .groupBy(col(idCol), col("__score"))
      .agg(min(col("__lbl")).as("predicted"))
      .select(col(idCol), col("predicted"),
        round(col("__score").cast("double"), 6).as("score"))
  }

  /** Per-pair BLEU (Papineni et al. 2002, see PAPERS.md) — the n-gram
    * overlap score a synthetic-data / distillation pipeline reports for
    * (candidate, reference) text pairs: modified n-gram precision with
    * CLIPPING (a candidate gram counts at most as often as the reference
    * has it — Σ min(tf_cand, tf_ref), the d23 multiset machinery) for
    * n = 1..`maxN`, the brevity penalty, and the geometric mean.
    *
    * Plan shape (r17 optimization): the metric is per-ROW — cand and ref
    * live on the same row — so nothing about it needs a shuffle. ONE
    * [[graft.functions.HashKernels.gramOverlapCounts]] kernel call per
    * row produces the exact per-n integer statistics (clip_n = Σ_g
    * min(tf_cand, tf_ref), tot_n, and the n = 1 reference length) over
    * the SAME 64-bit word-shingle hashes the old explode → (pair, n,
    * gram) aggregate → join pipeline counted (collision-free at corpus
    * scale, the d03 argument); the final arithmetic is unchanged Spark
    * expressions — p_n = clip_n/tot_n (one IEEE division each), the log
    * terms round to 9 and sum as DECIMAL, bp = exp(min(0, 1 − r/c)) —
    * so scores are bit-identical to the aggregate formulation
    * (oracle-replayed gram-relationally by t59's DuckDB SQL, and
    * measured 6.7 s → sub-second at sf0.1: 12 scans + 5 exchanges →
    * 2 scans + 0 exchanges).
    * Zero-match convention: any p_n = 0 → bleu = 0 (no smoothing —
    * unsmoothed BLEU is the published corpus default, applied per pair).
    * Docs shorter than n words contribute their whole text as one gram
    * for that n (the wordShingleHashes short-input rule — mirrored by
    * the oracle). Pairs with a NULL/empty side drop, exactly as the
    * empty gram set vanished from the old aggregate.
    * Output: (idCol, p1..p`maxN`, bp, bleu) — all round-6.
    */
  def bleuPairs(pairs: DataFrame, idCol: String, candCol: String,
      refCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"maxN must be in [1, 9], got $maxN")
    val dec = DecimalType(28, 9)
    val counted = pairs.select(col(idCol),
      graft.functions.GraftFunctions.gram_overlap_counts(
        graft.operators.Dedup.normalized(col(candCol)),
        graft.operators.Dedup.normalized(col(refCol)), maxN, word = true)
        .as("__cnts"))
    // packed layout: __cnts(3(n−1)) = clip_n, +1 = tot_n, +2 = rtot_n
    def clipN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 1)
    def totN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 2)
    def rtotN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 3)
    // a perN row existed iff the cand side had ≥1 gram at n (short-input
    // rule: all n or none); the lens join further required ref grams at
    // n = 1 — the same presence algebra, now as per-row guards
    def presentN(n: Int) = totN(n) > 0
    def pN(n: Int) = clipN(n).cast("double") / totN(n).cast("double")
    val pmin = (1 to maxN).map(n => when(presentN(n), pN(n)))
      .reduceLeft(least(_, _))
    val lsum = (1 to maxN).map { n =>
      coalesce(round(log(when(presentN(n) && pN(n) > 0, pN(n))), 9).cast(dec),
        lit(0).cast(dec))
    }.reduce(_ + _)
    // the empty-side drop is a GENERATE, not a Filter (the c37/t65
    // barrier): a Filter on the kernel-computed column gets pushed below
    // the projection with the kernel SUBSTITUTED into the condition —
    // measured 12 gram_overlap_counts calls per row in the pushed
    // predicate. The guard here reads the materialized attribute.
    counted
      .select(col(idCol), col("__cnts"),
        explodeWhen(presentN(1) && rtotN(1) > 0, array(lit(1)), "int")
          .as("__keep"))
      .drop("__keep")
      .withColumn("__pmin", pmin)
      .withColumn("__lsum", lsum)
      .withColumn("__clen", totN(1))
      .withColumn("__rlen", rtotN(1))
      .select(col(idCol) +:
        (1 to maxN).map(n =>
          (when(presentN(n), round(pN(n), 6)) + lit(0.0)).as(s"p$n")) :+
        (round(when(col("__clen") >= col("__rlen"), lit(1.0))
          .otherwise(exp(lit(1.0) - col("__rlen").cast("double") /
            col("__clen").cast("double"))), 6) + lit(0.0)).as("bp") :+
        (round(when(col("__pmin") > 0,
            when(col("__clen") >= col("__rlen"), lit(1.0))
              .otherwise(exp(lit(1.0) - col("__rlen").cast("double") /
                col("__clen").cast("double"))) *
            exp(col("__lsum").cast("double") / lit(maxN.toDouble)))
          .otherwise(lit(0.0)), 6) + lit(0.0)).as("bleu"): _*)
  }

  /** Per-pair chrF (Popović 2015, see PAPERS.md) — the character-level
    * complement of [[bleuPairs]], robust to tokenization and morphology.
    * Whitespace is STRIPPED before char-shingling (the published chrF /
    * sacreBLEU default — lowercase-then-remove-spaces here):
    * per n = 1..`maxN` CHARACTER n-grams, clipped matches
    * m_n = Σ_g min(tf_cand, tf_ref), precision P_n = m_n/|cand grams|,
    * recall R_n = m_n/|ref grams|; P and R are the arithmetic MEANS over
    * n (round-9 DECIMAL sums, one division), and
    * chrF_β = (1+β²)·P·R / (β²·P + R) with the 0-guard when both are 0.
    *
    * Plan shape (r17 optimization, the [[bleuPairs]] rewrite applied
    * here too): per-row, shuffle-free — ONE
    * [[graft.functions.HashKernels.gramOverlapCounts]] kernel call per
    * row yields the exact per-n integer statistics (m_n, |cand grams|_n,
    * |ref grams|_n) over the SAME 64-bit char-shingle hashes the old
    * explode → (pair, n, gram) aggregate → join pipeline counted; the
    * round-9 DECIMAL mean arithmetic is unchanged Spark expressions, so
    * scores are bit-identical (measured 19.7 s → sub-second at sf0.1:
    * 24 scans + 16 exchanges → 2 scans + 0 exchanges). A perN row
    * existed iff BOTH sides had ≥1 gram at that n (the cand groupBy and
    * the refTot inner join) — now the per-row presence guard. Inputs
    * shorter than n chars contribute their whole text as the one n-gram
    * (the charShingleHashes short-input rule).
    * Output: (idCol, precision, recall, chrf) — round-6.
    */
  def chrfPairs(pairs: DataFrame, idCol: String, candCol: String,
      refCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"maxN must be in [1, 9], got $maxN")
    val dec = DecimalType(28, 9)
    def clean(c: String) = regexp_replace(lower(trim(col(c))), "\\s+", "")
    val counted = pairs.select(col(idCol),
      graft.functions.GraftFunctions.gram_overlap_counts(
        clean(candCol), clean(refCol), maxN, word = false).as("__cnts"))
    def mN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 1)
    def ctotN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 2)
    def rtotN(n: Int) = element_at(col("__cnts"), 3 * (n - 1) + 3)
    def presentN(n: Int) = ctotN(n) > 0 && rtotN(n) > 0
    def term(num: Int => Column, den: Int => Column)(n: Int): Column =
      coalesce(when(presentN(n),
        round(num(n).cast("double") / den(n).cast("double"), 9).cast(dec)),
        lit(0).cast(dec))
    val ps = (1 to maxN).map(term(mN, ctotN)).reduce(_ + _)
    val rs = (1 to maxN).map(term(mN, rtotN)).reduce(_ + _)
    val k = (1 to maxN).map(n => when(presentN(n), 1L).otherwise(0L))
      .reduce(_ + _)
    // Generate-barrier drop, not a Filter — see [[bleuPairs]]: a pushed
    // predicate substitutes the kernel into the condition 12×/row
    val folded = counted
      .select(col(idCol), col("__cnts"), k.as("__k"))
      .select(col(idCol), col("__cnts"), col("__k"),
        explodeWhen(col("__k") > 0, array(lit(1)), "int").as("__keep"))
      .drop("__keep")
      .select(col(idCol),
        (ps.cast(dec).cast("double") / col("__k").cast("double")).as("__p"),
        (rs.cast(dec).cast("double") / col("__k").cast("double")).as("__r"))
    val b2 = beta * beta
    folded.select(col(idCol),
      (round(col("__p"), 6) + lit(0.0)).as("precision"),
      (round(col("__r"), 6) + lit(0.0)).as("recall"),
      (round(when(col("__p") + col("__r") > 0,
          lit(1.0 + b2) * col("__p") * col("__r") /
            (lit(b2) * col("__p") + col("__r")))
        .otherwise(lit(0.0)), 6) + lit(0.0)).as("chrf"))
  }

  /** k-fold cross-validation of the multinomial Naive Bayes classifier
    * WITHOUT retraining — the additive-sufficient-statistic trick at its
    * strongest: fold f's leave-out model is (global counts − fold f's
    * counts), so ALL k models come from ONE corpus pass (one
    * (fold, label, token) aggregate + one global roll-up) and a
    * vocabulary×classes×k-bounded subtraction — never k re-tokenizations,
    * never k training jobs. Every downstream frame just carries `fold`
    * as one more key through t54's exact classify arithmetic (round-9
    * DECIMAL(28,9) score sums, per-(fold, class) smoothing floors and
    * priors, MIN-label tie-break), and each document is scored under the
    * model that never saw it.
    *
    * Folds are `idCol % numFolds` (deterministic, replayable). Output:
    * (fold, n_docs, n_correct, accuracy) per fold plus the pooled row
    * fold = −1 — the cross-validated generalization estimate of the
    * t53/t54 quality/language screen.
    */
  def naiveBayesCrossVal(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, numFolds: Int = 5): DataFrame = {
    require(numFolds >= 2, s"numFolds must be >= 2, got $numFolds")
    val dec = DecimalType(28, 9)
    val base = docs.select(col(idCol), pmod(col(idCol), lit(numFolds)).as("__f"),
      col(labelCol).as("__lbl"), col(textCol).as("__text"))
    // ONE tokenize pass: per-(fold, label, token) counts, then the global
    // roll-up is an aggregate OVER THE COUNTS (vocab-scale, not corpus)
    val foldCounts = base.select(col("__f"), col("__lbl"),
        explode(tokens(col("__text"))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col("__f"), col("__lbl"), col("__tok"))
      .agg(count(lit(1)).as("__cf"))
      .localCheckpoint(eager = true)
    val globalCounts = foldCounts.groupBy(col("__lbl"), col("__tok"))
      .agg(sum(col("__cf")).as("__c"))
    val folds = foldCounts.select(col("__f")).distinct()
    // leave-out counts: global − fold, dropped where nothing remains
    val loCounts = globalCounts.crossJoin(broadcast(folds))
      .join(foldCounts, Seq("__f", "__lbl", "__tok"), "left")
      .select(col("__f"), col("__lbl"), col("__tok"),
        (col("__c") - coalesce(col("__cf"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
    val totals = loCounts.groupBy(col("__f"), col("__lbl"))
      .agg(sum(col("cnt")).as("__nc"))
    val vocab = loCounts.groupBy(col("__f"))
      .agg(countDistinct(col("__tok")).as("__v"))
    val model = loCounts.join(totals, Seq("__f", "__lbl"))
      .join(broadcast(vocab), "__f")
      .select(col("__f"), col("__lbl"), col("__tok"),
        round(log((col("cnt") + 1).cast("double") /
          (col("__nc") + col("__v")).cast("double")), 9).as("__logp"))
    // leave-out doc counts per class — the same subtraction on doc counts
    val foldDocs = base.groupBy(col("__f"), col("__lbl"))
      .agg(count(lit(1)).as("__df"))
    val globalDocs = foldDocs.groupBy(col("__lbl"))
      .agg(sum(col("__df")).as("__d"))
    val loDocs = globalDocs.crossJoin(broadcast(folds))
      .join(foldDocs, Seq("__f", "__lbl"), "left")
      .select(col("__f"), col("__lbl"),
        (col("__d") - coalesce(col("__df"), lit(0L))).as("__docs"))
      .filter(col("__docs") > 0)
    val loTotals = loDocs.groupBy(col("__f")).agg(sum(col("__docs")).as("__tot"))
    val priors = loDocs.join(broadcast(loTotals), "__f")
      .select(col("__f"), col("__lbl"),
        round(log(col("__docs").cast("double") / col("__tot").cast("double")), 9)
          .cast(dec).as("__prior"))
    val floors = loDocs.select(col("__f"), col("__lbl"))
      .join(totals, Seq("__f", "__lbl"), "left")
      .join(broadcast(vocab), "__f")
      .select(col("__f"), col("__lbl"), log(lit(1.0) /
        (coalesce(col("__nc"), lit(0L)) + col("__v")).cast("double")).as("__fb"))
    // each doc scores under ITS OWN fold's leave-out model
    val testCounts = base.select(col(idCol), col("__f"),
        explode(tokens(col("__text"))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col(idCol), col("__f"), col("__tok"))
      .agg(count(lit(1)).as("__tc"))
    val termSums = testCounts
      .join(broadcast(floors), Seq("__f"))
      .join(model, Seq("__f", "__lbl", "__tok"), "left")
      .select(col(idCol), col("__f"), col("__lbl"),
        round(col("__tc").cast("double") * coalesce(col("__logp"), col("__fb")), 9)
          .cast(dec).as("__t"))
      .groupBy(col(idCol), col("__f"), col("__lbl"))
      .agg(sum(col("__t")).as("__ll"))
    val scored = base.select(col(idCol), col("__f"),
        col("__lbl").as("__truth")).distinct()
      .join(broadcast(priors), Seq("__f"))
      .join(termSums, Seq(idCol, "__f", "__lbl"), "left")
      .select(col(idCol), col("__f"), col("__truth"), col("__lbl"),
        (col("__prior") + coalesce(col("__ll"), lit(0).cast(dec))).as("__score"))
    val best = scored.groupBy(col(idCol), col("__f"), col("__truth"))
      .agg(max(col("__score")).as("__score"))
    val verdicts = scored.join(best, Seq(idCol, "__f", "__truth", "__score"))
      .groupBy(col(idCol), col("__f"), col("__truth"), col("__score"))
      .agg(min(col("__lbl")).as("__pred"))
    val perFold = verdicts.groupBy(col("__f").as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__pred") === col("__truth"), 1L).otherwise(0L))
          .as("n_correct"))
    val out = perFold.unionByName(perFold.groupBy()
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_correct")).as("n_correct"))
        .select(lit(-1L).as("fold"), col("n_docs"), col("n_correct")))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 6)
          .as("accuracy"))
      // the result is numFolds+1 rows — checkpointing IT cuts the lineage
      // back to foldCounts, so the corpus-scale (fold, label, token)
      // blocks can be released here instead of living until session end
      .localCheckpoint(eager = true)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(foldCounts)
    out
  }

  /** Hashed-feature frame of binary logistic regression — the hashing
    * trick (Weinberger et al. 2009, see PAPERS.md): token → bucket =
    * poly_hash64(md5(token)) & (dim−1) (dim a power of two, so the
    * signed-long mask equals the oracle's unsigned HUGEINT mod), feature
    * value = 1.0 if any of the document's tokens hash to the bucket
    * (binary presence — on this corpus's uniform word salad, tf-weighted
    * features drown a low-tf discriminative token in shared-vocabulary
    * mass; presence keeps every informative coordinate at unit scale).
    * The BIAS is folded in as bucket −1 with x = 1.0 on EVERY document —
    * one uniform feature space, so the training rounds need no bias
    * special case and zero-token documents still carry a row (their
    * margin is the bias).
    *
    * Featurization is strictly per-document, which is what makes the
    * frame additive across arbitrary corpus splits — the property
    * [[graft.streaming.StreamingLrTrain]] banks on.
    * Output: (idCol, y, bucket, x) with y the 0/1 label.
    */
  private[graft] def lrFeatures(docs: DataFrame, idCol: String,
      yCol: Column, textCol: String, dim: Int): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    val base = docs.select(col(idCol), yCol.cast("int").as("y"), col(textCol))
    // ONE codegen kernel pass per doc emits the distinct sorted bucket
    // set (bit-identical to poly_hash64(md5(tok)) & (dim−1) — pinned in
    // TextAnalysisSpec), so presence features come out of the scan
    // MAP-ONLY: the former explode → distinct() paid a corpus-scale
    // shuffle before training even started
    val toks = base.select(col(idCol), col("y"),
        explode(graft.functions.GraftFunctions.lr_buckets(
          graft.operators.Dedup.normalized(col(textCol)), dim)).as("bucket"))
      .withColumn("x", lit(1.0))
    val bias = base.select(col(idCol), col("y"),
      lit(-1).as("bucket"), lit(1.0).as("x"))
    toks.unionByName(bias)
  }

  /** Fixed-round full-batch gradient descent over a hashed feature frame
    * (`feat` = [[lrFeatures]] output) — the fastText-class quality /
    * language screen TRAINED, not just counted: minimize logistic loss
    * with `rounds` synchronous epochs at learning rate `eta`.
    *
    * Determinism (the oracle contract, the t51/t54 conventions): per-row
    * score terms round to 9 decimals and sum as DECIMAL(28,9)
    * (addend-order-free margins), the per-doc residual g = round9(σ(m)−y),
    * per-bucket gradients are DECIMAL sums of round-9 g·x products, and
    * the weight update w ← w − round9(eta·grad/N) subtracts exactly — so
    * every round's weights are bit-replayable and the DuckDB oracle
    * unrolls the identical rounds as CTEs. σ's `exp` is IEEE-identical
    * across the engines on round-trip-exact inputs (the b02/ln
    * precedent); every consumer of it re-rounds to 9 before summing.
    *
    * Scale posture: the exploded feature frame collapses ONCE into one
    * row per doc carrying its bucket array (collect_list — presence
    * features are 1.0 by [[lrFeatures]] construction, so only buckets
    * need to travel; the single corpus shuffle of the whole descent),
    * and each round is then ONE explode + (dim+1)-bounded hash
    * aggregate: the margin folds IN-ARRAY against the weight literal
    * (decimal addition is addend-order-free, so the array fold equals
    * the former per-doc hash aggregate bit for bit), the residual is
    * map-side, and no round joins, broadcasts or re-exchanges the
    * corpus. The ONLY driver state is the (dim+1)-row weight table
    * (collected per round: provably small, the t51 bounded-model rule).
    * The corpus never re-tokenizes: `feat` is the input, computed once
    * by the caller.
    * Output: (bucket, w DECIMAL(28,9)) — dim+1 rows, bucket −1 the bias.
    */
  private[graft] def logRegFit(feat: DataFrame, idCol: String, dim: Int,
      rounds: Int, eta: Double): DataFrame =
    // one row per doc, its feature buckets as an array (x is 1.0 for
    // every row by the lrFeatures contract — presence features — so the
    // buckets alone reconstruct the frame)
    logRegFitArrays(feat.groupBy(col(idCol), col("y"))
      .agg(collect_list(col("bucket")).as("__bs")), dim, rounds, eta)

  /** The per-doc bucket-array form of [[lrFeatures]], built MAP-SIDE in
    * one kernel pass (no explode, no shuffle): `(idCol, y, __bs)` with
    * the bias bucket −1 appended — exactly the multiset of buckets the
    * exploded frame carries per doc (a null/zero-token doc keeps its
    * bias-only array).
    */
  private[graft] def perDocBuckets(docs: DataFrame, idCol: String,
      yCol: Column, textCol: String, dim: Int): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    docs.select(col(idCol), yCol.cast("int").as("y"),
      concat(
        coalesce(graft.functions.GraftFunctions.lr_buckets(
          graft.operators.Dedup.normalized(col(textCol)), dim),
          array().cast("array<int>")),
        array(lit(-1))).as("__bs"))
  }

  /** [[logRegFit]]'s core over the per-doc form `(id-ish, y, __bs)` —
    * one row per doc with its bucket array (bias −1 included). The batch
    * trainer builds this MAP-SIDE straight from the kernel (no explode,
    * no shuffle); the streaming bank's exploded state goes through the
    * one collect_list regroup above. Decimal sums are addend-order-free,
    * so the two entries produce bit-identical weights.
    */
  private[graft] def logRegFitArrays(perDoc: DataFrame, dim: Int,
      rounds: Int, eta: Double): DataFrame = {
    val spark = perDoc.sparkSession
    val dec = DecimalType(28, 9)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("w", dec, nullable = false)))
    def litFrame(ws: Seq[(Int, java.math.BigDecimal)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(ws.map { case (b, w) =>
          org.apache.spark.sql.Row(b, w) }: _*), schema)
    val f = perDoc.localCheckpoint(eager = true)
    val n = f.count()
    require(n > 0, "logRegFit: empty training frame")
    var ws: Seq[(Int, java.math.BigDecimal)] =
      (-1 until dim).map(b => (b, java.math.BigDecimal.ZERO.setScale(9)))
    val zero = lit(java.math.BigDecimal.ZERO.setScale(9)).cast(dec)
    for (_ <- 1 to rounds) {
      // weights as an array literal indexed by bucket + 2 (bias −1 first;
      // ws stays sorted by bucket) — no per-round broadcast join
      val wLit = typedLit(ws.map(_._2))
      // per-doc margin: the identical round-9 term (x = 1.0), folded
      // in-array; DECIMAL addition is order-free, so this equals the
      // former groupBy(id) sum exactly. The fold re-casts to
      // DECIMAL(28,9) each step (Spark widens + by one digit) — exact,
      // margins are sums of ≤ dim+1 round-9 terms
      val margin = aggregate(col("__bs"), zero,
        (acc, b) => (acc + round(lit(1.0) *
          element_at(wLit, b + lit(2)).cast("double"), 9).cast(dec))
          .cast(dec))
      val g = round(lit(1.0) / (lit(1.0) + exp(-margin.cast("double")))
        - col("y").cast("double"), 9).cast(dec)
      // the full per-bucket update step — round9(eta·grad/N) as DECIMAL —
      // is computed IN the plan (same expressions as ever), so the driver
      // applies it with exact BigDecimal subtraction: one job per round,
      // no weight-table join, no broadcast. Buckets with no occurrences
      // have gradient 0 → step 0 → weight unchanged, as before.
      val steps = f.select(col("__bs"), g.as("__g"))
        .select(explode(col("__bs")).as("bucket"),
          round(col("__g").cast("double") * lit(1.0), 9).cast(dec).as("__gx"))
        .groupBy(col("bucket"))
        .agg(sum(col("__gx")).as("__gr"))
        .select(col("bucket"),
          round(lit(eta) * col("__gr").cast("double") / lit(n.toDouble), 9)
            .cast(dec).as("__step"))
        .collect()
        .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
      ws = ws.map { case (b, w) =>
        (b, steps.get(b).fold(w)(s => w.subtract(s).setScale(9))) }
    }
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(f)
    litFrame(ws)
  }

  /** Binary logistic-regression trainer over raw documents: hashed
    * features ([[lrFeatures]]) + fixed-round gradient descent
    * ([[logRegFit]]). `yCol` is any 0/1 integer expression over `docs`.
    * Output: (bucket, w) — dim+1 rows, bucket −1 the bias.
    */
  def logRegTrain(docs: DataFrame, idCol: String, textCol: String,
      yCol: Column, dim: Int = 64, rounds: Int = 10,
      eta: Double = 10.0): DataFrame =
    logRegFitArrays(perDocBuckets(docs, idCol, yCol, textCol, dim), dim,
      rounds, eta)

  /** Train-on-`train`, score-`test` logistic regression. Scoring is
    * MAP-ONLY over the test scan: the margin m = Σ round9(x·w) folds
    * in-array against the trained weight literal (the identical per-term
    * arithmetic; DECIMAL sums are addend-order-free), predicted = [m ≥ 0]
    * decided ON the decimal (replayable), score = round-6 σ(m) — no
    * join, no aggregate, no exchange. Zero-token test docs score on the
    * bias alone (their bias-only bucket array).
    * Output: (idCol, predicted, score).
    */
  def logRegClassify(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, yCol: Column, dim: Int = 64, rounds: Int = 10,
      eta: Double = 10.0): DataFrame = {
    val ws = logRegTrain(train, idCol, textCol, yCol, dim, rounds, eta)
      .collect().map(r => (r.getInt(0), r.getDecimal(1))).sortBy(_._1)
    val dec = DecimalType(28, 9)
    val wLit = typedLit(ws.map(_._2).toSeq)
    val zero = lit(java.math.BigDecimal.ZERO.setScale(9)).cast(dec)
    val margin = aggregate(col("__bs"), zero,
      (acc, b) => (acc + round(lit(1.0) *
        element_at(wLit, b + lit(2)).cast("double"), 9).cast(dec))
        .cast(dec))
    perDocBuckets(test, idCol, lit(0), textCol, dim)
      .select(col(idCol), margin.as("__m"))
      .select(col(idCol),
        when(col("__m") >= 0, 1).otherwise(0).as("predicted"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__m").cast("double"))), 6)
          .as("score"))
  }
}
