package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Main-content HTML extraction — the stage-0 web-pipeline operator
 * (C4 / RefinedWeb both start here): segment a PAGE into blocks at
 * structural tags and classify each block as main content vs
 * boilerplate, so navigation chrome, sidebars and footers never reach
 * the downstream quality/dedup/tokenize stages.
 *
 * The classifier is the published densitometric line-block rule
 * (Kohlschütter et al., WSDM 2010 "Boilerplate detection using shallow
 * text features" — boilerpipe; jusText's context-free core is the same
 * shape; see PAPERS.md): per block the INTEGER features
 *
 *   - `text_chars` — non-whitespace characters after tag-strip + the
 *     basic-entity decode,
 *   - `link_chars` — non-whitespace characters of text inside
 *     `<a>…</a>` anchors (same strip/decode),
 *   - `words`      — whitespace token count,
 *   - `stop_hits`  — tokens in the shared English stopword list
 *     ([[TextAnalysis.stopwords]], via the `token_set_hits` kernel) —
 *     emitted as a feature for downstream gates, deliberately NOT used
 *     by the label rule (densitometric classification needs no
 *     language-specific list; jusText's stopword rule is a variant),
 *
 * and the content rule: `words >= minWords AND 3·link_chars <=
 * text_chars` (link density ≤ 1/3). Short headings (`<h1>` of <
 * `minWords` words) classify as boilerplate by design — the extraction
 * target is running text, and the threshold is the caller's knob.
 *
 * Scope/limitations (documented, not hidden): the block split is
 * regex-structural (no DOM tree); `<head>`/`<script>`/`<style>` bodies
 * and comments are removed when well-formed, and an UNCLOSED
 * `<script>`/`<style>` is contained — its text truncates at the next
 * boundary tag ([[unclosedNoiseRe]] runs after the boundary collapse,
 * so the block the opener sits in loses its tail and the NEXT block
 * survives intact) rather than leaking to end-of-page. Only the five
 * basic character entities plus `&nbsp;` decode. Every pattern is
 * RE2-safe (no backreferences in patterns, no lookaround) so the
 * DuckDB oracle replays the exact split + arithmetic relationally.
 *
 * 100 TB posture: both surfaces are MAP-ONLY — the block split, the
 * per-block features and the content rebuild all run inside one
 * projection over the page scan (array ops on the split vector; no
 * explode, no shuffle, no per-doc state). [[htmlBlockFeatures]] adds
 * one explode for the per-block frame; nothing shuffles.
 */
object Html {

  /** Structural block-boundary tags — the Kohlschütter block split.
    * Inline/flow tags (`<a> <b> <i> <em> <strong> <span> <img> <code>`)
    * deliberately do NOT split: an anchor mid-sentence stays inside its
    * block (that is what link density measures).
    */
  val boundaryTagRe: String =
    "(?i)</?(?:p|div|h[1-6]|li|td|th|tr|ul|ol|table|nav|footer|header|" +
      "aside|section|article|main|form|blockquote|pre|br|hr|body|html)\\b[^>]*>"

  /** Container tags removed WITH their content before block-splitting. */
  val dropWithContentRes: Seq[String] = Seq(
    "(?is)<head\\b[^>]*>.*?</head>",
    "(?is)<script\\b[^>]*>.*?</script>",
    "(?is)<style\\b[^>]*>.*?</style>",
    "(?s)<!--.*?-->")

  /** Any remaining tag (inline ones, after the boundary split). */
  val anyTagRe: String = "(?s)<[^>]*>"

  /** Anchor inner text (group 1) — link-density's numerator source. */
  val anchorRe: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  /** Basic entity decode, applied AFTER tag-strip in this order
    * (`&amp;` last, per the standard decode discipline). Shared with
    * the oracle builder so both engines decode identically.
    */
  val entityDecodes: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** The block separator sentinel boundary tags collapse to (BEL — never
    * occurs in text-bearing HTML).
    */
  val sep = "\u0007"

  private def decodeEntities(c: Column): Column =
    entityDecodes.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }

  private def stripTags(c: Column): Column =
    regexp_replace(c, anyTagRe, " ")

  /** An UNCLOSED `<script>`/`<style>` opener and its trailing text, up
    * to the next block boundary (the [[sep]] sentinel — this pattern
    * runs AFTER the boundary collapse, and after the well-formed
    * droppers removed every closed noise container, so a remaining
    * opener provably has no close). The tag-soup containment rule:
    * script text truncates at the next boundary tag instead of leaking
    * to end-of-page.
    */
  val unclosedNoiseRe: String = "(?is)<(?:script|style)\\b[^>]*>[^\\x07]*"

  /** Page → the block vector (noise containers dropped, boundary tags
    * collapsed to [[sep]], unclosed script/style contained, split).
    * Still carries inline tags.
    */
  private def rawBlocks(html: Column): Column = {
    val noNoise = dropWithContentRes.foldLeft(html)(
      (acc, re) => regexp_replace(acc, re, " "))
    val collapsed = regexp_replace(noNoise, boundaryTagRe, sep)
    split(regexp_replace(collapsed, unclosedNoiseRe, " "), sep)
  }

  /** One block's feature/label struct; `idx` is the block's 0-based
    * position in the PRE-filter split (stable across both engines).
    */
  private def blockStruct(b: Column, idx: Column, minWords: Int): Column = {
    val text = decodeEntities(stripTags(b))
    val linkText = decodeEntities(stripTags(
      array_join(regexp_extract_all(b, lit(anchorRe), lit(1)), " ")))
    val textChars = length(regexp_replace(text, "\\s+", ""))
    val linkChars = length(regexp_replace(linkText, "\\s+", ""))
    val norm = trim(regexp_replace(text, "\\s+", " "))
    val words = when(textChars === 0, lit(0)).otherwise(size(split(norm, " ")))
    val stops = element_at(graft.functions.GraftFunctions.token_set_hits(
      norm, Seq(TextAnalysis.stopwords("en"))), 1).cast("int")
    struct(
      idx.cast("int").as("block_idx"),
      norm.as("text"),
      textChars.as("text_chars"),
      linkChars.as("link_chars"),
      words.as("words"),
      stops.as("stop_hits"),
      (words >= minWords && lit(3) * linkChars <= textChars).as("is_content"))
  }

  /** The page's classified block vector:
    * array<struct<block_idx, text, text_chars, link_chars, words,
    * stop_hits, is_content>> — empty (pure-markup) blocks dropped,
    * `block_idx` preserving pre-filter order. Map-only.
    */
  def htmlBlocks(html: Column, minWords: Int = 5): Column = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    filter(
      transform(rawBlocks(html), (b, i) => blockStruct(b, i, minWords)),
      s => s.getField("text_chars") > 0)
  }

  /** Per-block feature/label frame — the t61 gate surface. One explode
    * over [[htmlBlocks]]; everything upstream is map-only. Output:
    * (idCol, block_idx, text, text_chars, link_chars, words, stop_hits,
    * is_content).
    */
  def htmlBlockFeatures(df: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 5): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    // explode FIRST, features as a flat projection: inside
    // [[htmlBlocks]]' transform() lambda the whole regex/decode chain
    // evaluates INTERPRETED per block (higher-order lambdas don't
    // whole-stage-codegen); this surface explodes anyway, so running the
    // identical [[blockStruct]] expressions on the exploded rows keeps
    // them codegen'd for free. Same rows: blocks empty after tag-strip
    // drop at the post-explode filter instead of inside the array, and
    // `block_idx` is the same pre-filter posexplode ordinal either way.
    df.select(col(idCol),
        posexplode(rawBlocks(col(htmlCol))).as(Seq("__idx", "__blk")))
      .select(col(idCol),
        blockStruct(col("__blk"), col("__idx"), minWords).as("__b"))
      .filter(col("__b.text_chars") > 0)
      .select(col(idCol), col("__b.block_idx"), col("__b.text"),
        col("__b.text_chars"), col("__b.link_chars"), col("__b.words"),
        col("__b.stop_hits"), col("__b.is_content"))
  }

  /** SITE-AWARE main-content extraction — the inter-document complement
    * of the densitometric rule (jusText's site-level pass / RefinedWeb's
    * template removal): a block whose exact text appears on at least
    * `minRepeats` PAGES of the same host is template chrome no matter
    * how content-like it reads (mottos, subscription pitches, legal
    * blurbs — long, link-free, and on every page). Per page the
    * densitometric blocks compute as in [[htmlBlocks]]; per (host,
    * block-digest) a page count decides the frequency kill; content
    * blocks that survive both rules rebuild in document order.
    *
    * 100 TB shape: one explode to skinny block rows, ONE (host, digest)
    * hash aggregate (map-side combined; digests, never block text,
    * shuffle beyond their page), one digest-keyed join back, one per-doc
    * rebuild aggregate — the corpus-level signal costs exactly one
    * shuffle more than the map-only per-page rule, which is the minimum
    * any inter-document rule can pay. Host-keyed aggregation also means
    * a crawl partitioned by host co-locates everything.
    *
    * Output: (idCol, main_text, n_content, n_boiler) — `n_boiler` counts
    * densitometric-CONTENT blocks killed by the frequency rule (the
    * blocks the per-page rule alone would have shipped to training).
    */
  def htmlMainContentSiteAware(df: DataFrame, idCol: String,
      htmlCol: String, hostCol: String, minWords: Int = 5,
      minRepeats: Int = 5): DataFrame =
    siteRebuild(siteBlockRows(df, idCol, htmlCol, hostCol, minWords),
      df.select(col(idCol)), idCol, minRepeats)

  /** The skinny per-block rows behind [[htmlMainContentSiteAware]] —
    * strictly per-document (one decode, one explode), hence additive
    * across corpus splits: the streaming twin
    * ([[graft.streaming.StreamingSiteTemplate]]) banks exactly these per
    * batch. Output: (idCol, __host, block_idx, text, is_content, __dg).
    */
  private[graft] def siteBlockRows(df: DataFrame, idCol: String,
      htmlCol: String, hostCol: String, minWords: Int): DataFrame =
    // explode FIRST, features flat — the [[htmlBlockFeatures]] codegen
    // rationale verbatim: this surface explodes anyway, and the flat
    // [[blockStruct]] projection whole-stage-codegens where the
    // transform() lambda form evaluates interpreted per block
    df.select(col(idCol), col(hostCol).as("__host"),
        posexplode(rawBlocks(col(htmlCol))).as(Seq("__idx", "__blk")))
      .select(col(idCol), col("__host"),
        blockStruct(col("__blk"), col("__idx"), minWords).as("__b"))
      .filter(col("__b.text_chars") > 0)
      .select(col(idCol), col("__host"), col("__b.block_idx"),
        col("__b.text"), col("__b.is_content"),
        md5(col("__b.text")).as("__dg"))

  /** The corpus half of [[htmlMainContentSiteAware]]: the (host, digest)
    * page-count frequency rule over `blocks` and the per-doc rebuild,
    * LEFT-joined from `docs` so block-less pages keep their empty row.
    * ONE shared implementation — the batch operator and the streaming
    * twin's drained read cannot drift.
    */
  private[graft] def siteRebuild(blocks: DataFrame, docs: DataFrame,
      idCol: String, minRepeats: Int): DataFrame = {
    require(minRepeats >= 2, s"minRepeats must be >= 2, got $minRepeats")
    // blocks is read twice (the frequency aggregate + the join-back)
    // and each read would re-run the per-page decode/explode chain —
    // materialize the skinny block rows once (the t73/frontier
    // pattern; measured 4.7 s → ~2 s on t64 at sf0.1)
    val b = new graft.pipeline.RoundSnapshots(None)
      .snap(blocks, "site_blocks").df
    val freq = b.groupBy(col("__host"), col("__dg"))
      .agg(countDistinct(col(idCol)).as("__np"))
    val flagged = b.join(freq, Seq("__host", "__dg"))
      .withColumn("__boiler", col("__np") >= minRepeats)
    val rebuilt = flagged.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("is_content") && !col("__boiler"),
              struct(col("block_idx"), col("text"))))),
          s => s.getField("text")), " ").as("main_text"),
        count(when(col("is_content") && !col("__boiler"), 1))
          .cast("int").as("n_content"),
        count(when(col("is_content") && col("__boiler"), 1))
          .cast("int").as("n_boiler"))
    docs.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("main_text"), lit("")).as("main_text"),
        coalesce(col("n_content"), lit(0)).as("n_content"),
        coalesce(col("n_boiler"), lit(0)).as("n_boiler"))
  }

  /** Anchor HREF (`<a href="…">`) value of the web graph's outlink
    * surface, group 1, over QUOTE-NORMALIZED markup (see
    * [[normalizeHrefQuotes]] — real pages use single-quoted and
    * unquoted attribute values constantly, so [[outlinks]] normalizes
    * before extracting).
    */
  val hrefRe: String = "(?is)<a\\b[^>]*?\\bhref=\"([^\"]*)\"[^>]*>"

  /** Single-quoted href value — rewritten to the double-quoted form. */
  val hrefSingleRe: String = "(?is)\\bhref\\s*=\\s*'([^']*)'"

  /** Unquoted href value immediately followed by a self-closing `/>`
    * (XHTML-style `<a href=/doc/5/>`): the `/` belongs to the TAG, not
    * the value, so this rewrite runs BEFORE [[hrefBareRe]] (whose value
    * class would swallow it) and leaves the `/>` outside the quotes.
    */
  val hrefBareCloseRe: String =
    "(?is)\\bhref\\s*=\\s*([^\\s\"'>][^\\s\">]*)/>"

  /** Unquoted href value (runs to whitespace, `"` or `>`), rewritten to
    * the double-quoted form. Applied AFTER [[hrefSingleRe]] and
    * [[hrefBareCloseRe]]; the first character class excludes `"` so
    * already-quoted values never re-wrap, and the tail class excludes
    * `"` too — an embedded double quote inside a bare value would
    * otherwise corrupt the rewritten attribute (tag-soup truncation at
    * the quote is the standard tolerant-parser behavior).
    */
  val hrefBareRe: String = "(?is)\\bhref\\s*=\\s*([^\\s\"'>][^\\s\">]*)"

  /** Normalize single-quoted and unquoted href attribute values to the
    * double-quoted form [[hrefRe]] extracts — tag-soup quoting
    * tolerance as three RE2-safe rewrites (backreferences appear only
    * in the REPLACEMENT, which RE2/Java both support): single-quoted,
    * then the self-closing bare case, then general bare.
    */
  def normalizeHrefQuotes(html: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(html, hrefSingleRe, "href=\"$1\""),
        hrefBareCloseRe, "href=\"$1\"/>"),
      hrefBareRe, "href=\"$1\"")

  /** Per-page outlink extraction — the edge surface of the web graph
    * (host-level PageRank, link-spam screens, crawl frontiers all start
    * here): every anchor's raw href (double-, single- or un-quoted),
    * one row per occurrence, in document order. Map-only + one explode;
    * compose with [[TextAnalysis.resolveUrl]] (relative links) and
    * [[TextAnalysis.canonicalUrl]] (tracking-param/case/port variants)
    * before using the target as a join key. Output: (idCol, url) —
    * relative URLs pass through raw for the caller to resolve.
    */
  def outlinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(normalizeHrefQuotes(col(htmlCol)),
          lit(hrefRe), lit(1)))
          .as("url"))
      .filter(col("url") =!= "")

  /** First `<base href>` value over quote-normalized markup (group 1).
    * HTML5 honors only the FIRST base element with an href — a later
    * one is ignored, which `regexp_extract`'s first-match semantics
    * give for free.
    */
  val baseHrefRe: String = "(?is)<base\\b[^>]*?\\bhref=\"([^\"]*)\"[^>]*>"

  /** The per-PAGE link-chain prologue shared by [[docLinkEdges]] and
    * [[anchorTextEdges]]: quote-normalize the page once (`__h`),
    * extract its first `<base href>`, and resolve it against the
    * page's own URI into the EFFECTIVE base (`__base`) — a page
    * carrying `<base href>` re-roots every relative link (HTML5
    * §4.2.3), and a page without one resolves '' to its own URI via
    * the empty-reference branch. ONE resolve per page, BEFORE the
    * per-link explode, so the base chain never multiplies per link.
    */
  private def withEffectiveBase(df: DataFrame, idCol: String,
      htmlCol: String, baseUriCol: String): DataFrame =
    TextAnalysis.withResolvedUrl(
      df.select(col(idCol).as("src"), col(baseUriCol).as("__pb"),
          normalizeHrefQuotes(col(htmlCol)).as("__h"))
        .withColumn("__bh", regexp_extract(col("__h"), baseHrefRe, 1)),
      "__pb", "__bh", "__base")

  /** Pages → web-graph doc edges, the FULL real-crawl link chain in one
    * place so the batch composition (g22) and the streaming ingest twin
    * ([[graft.streaming.StreamingWebGraph]]) cannot drift: outlink
    * extraction (quote-normalized), the `<base href>` override
    * ([[withEffectiveBase]]), RFC 3986 resolution against each page's
    * effective base, canonicalization, then the doc-id parse
    * (`idPattern` group 1), self-links out, DISTINCT. Map-only + one
    * explode + the final distinct — edges are skinny (long, long)
    * from the first shuffle on.
    */
  def docLinkEdges(df: DataFrame, idCol: String, htmlCol: String,
      baseUriCol: String, idPattern: String = "/doc/([0-9]+)"): DataFrame = {
    val links = withEffectiveBase(df, idCol, htmlCol, baseUriCol)
      .select(col("src"), col("__base"),
        explode(regexp_extract_all(col("__h"), lit(hrefRe), lit(1)))
          .as("url"))
      .filter(col("url") =!= "")
    // the STAGED resolve surface (see [[TextAnalysis.withResolvedUrl]]):
    // each RFC component evaluates once per row — the single-Column
    // composition re-evaluated the bounded unroll ~10x per row here.
    // The no-doc-target drop is a GENERATE (explode of a 0/1-element
    // array), NOT a filter: predicate pushdown substitutes a filtered
    // computed column's defining expression into the pushed condition
    // (measured: a 45k-node Filter tree = the whole resolve chain
    // inlined multiplicatively), and a Generate is the barrier it
    // cannot cross
    TextAnalysis.withResolvedUrl(links, "__base", "url", "__res")
      .select(col("src"),
        regexp_extract(TextAnalysis.canonicalUrl(col("__res")),
          idPattern, 1).as("__d"))
      .select(col("src"),
        TextAnalysis.explodeWhen(col("__d") =!= "", array(col("__d")),
          "string").as("__dv"))
      .select(col("src"), col("__dv").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** href + anchor-inner-text pair pattern over quote-normalized markup
    * (groups: 1 = href value, 2 = inner text). Unlike [[hrefRe]] this
    * requires the CLOSING `</a>` — anchor text is delimited by it, so
    * an unclosed anchor has no text to collect.
    */
  val hrefAnchorRe: String =
    "(?is)<a\\b[^>]*?\\bhref=\"([^\"]*)\"[^>]*>(.*?)</a>"

  /** Per-page (href, anchor text) pairs in document order — the web
    * graph's classic side product (anchor text describes the TARGET
    * page better than the target page does; search engines and
    * retrieval-training corpora both key it by destination). Two
    * extract_all passes over the same quote-normalized page (group 1
    * then group 2 — identical match sequences, so positional zip is
    * exact), one posexplode, inner text tag-stripped + entity-decoded +
    * whitespace-normalized. Map-only + one explode. Output:
    * (idCol, url, anchor) — empty hrefs drop, empty anchors (image
    * links) carry ''.
    */
  /** The (href, cleaned anchor) explode shared by [[anchorTexts]] and
    * [[anchorTextEdges]] — `carry` columns ride along.
    */
  private def anchorPairs(df: DataFrame, carry: Seq[Column],
      norm: Column): DataFrame = {
    df.select(carry :+
        regexp_extract_all(norm, lit(hrefAnchorRe), lit(1)).as("__u") :+
        regexp_extract_all(norm, lit(hrefAnchorRe), lit(2)).as("__a"): _*)
      .select(carry :+ posexplode(col("__u")).as(Seq("__i", "url")) :+
        col("__a"): _*)
      .select(carry :+ col("url") :+
        trim(regexp_replace(
          decodeEntities(stripTags(
            element_at(col("__a"), col("__i") + 1))),
          "\\s+", " ")).as("anchor"): _*)
      .filter(col("url") =!= "")
  }

  def anchorTexts(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    anchorPairs(df, Seq(col(idCol)), normalizeHrefQuotes(col(htmlCol)))

  /** Anchor text keyed by resolved TARGET doc — [[anchorTexts]] composed
    * with the `<base href>` override ([[withEffectiveBase]]) and the
    * RFC 3986 resolution chain (staged resolve and the Generate-based
    * no-target drop — [[docLinkEdges]]'s two plan-pathology fixes
    * apply verbatim). The id parse runs on the RESOLVED URL directly:
    * `idPattern` is path-structured, and a path's bytes are untouched
    * by the case/port/param normalization canonicalization adds (that
    * step matters when the URL itself is the join key —
    * [[docLinkEdges]] — not here). Self-links kept: a page's anchor
    * text about itself is still anchor text. Output:
    * (src, dst, anchor), one row per anchor occurrence.
    */
  def anchorTextEdges(df: DataFrame, idCol: String, htmlCol: String,
      baseUriCol: String, idPattern: String = "/doc/([0-9]+)"): DataFrame = {
    val withAnchor = anchorPairs(
      withEffectiveBase(df, idCol, htmlCol, baseUriCol),
      Seq(col("src"), col("__base")), col("__h"))
    TextAnalysis.withResolvedUrl(withAnchor, "__base", "url", "__res")
      .select(col("src"), col("anchor"),
        regexp_extract(col("__res"), idPattern, 1).as("__d"))
      .select(col("src"), col("anchor"),
        TextAnalysis.explodeWhen(col("__d") =!= "", array(col("__d")),
          "string").as("__dv"))
      .select(col("src"), col("__dv").cast("long").as("dst"), col("anchor"))
  }

  /** `<meta name="robots" content="…">`, name-first attribute order —
    * group 1 is the directive list. Quote-tolerant on both attributes.
    */
  val metaRobotsNameFirstRe: String =
    "(?is)<meta\\b[^>]*?\\bname\\s*=\\s*[\"']?robots[\"']?" +
      "[^>]*?\\bcontent\\s*=\\s*[\"']?([^\"'>]*)"

  /** The content-first attribute order of the same tag (generators emit
    * both orders; a name-first-only parse misses half the web).
    */
  val metaRobotsContentFirstRe: String =
    "(?is)<meta\\b[^>]*?\\bcontent\\s*=\\s*[\"']?([^\"'>]*)[\"']?" +
      "[^>]*?\\bname\\s*=\\s*[\"']?robots"

  /** An anchor tag carrying `rel=nofollow` anywhere in its rel list
    * (quoted or bare, alone or among `ugc sponsored` tokens).
    */
  val relNofollowRe: String =
    "(?i)\\brel\\s*=\\s*[\"']?[^\"'>]*\\bnofollow"

  /** Page-level robots META directives (the robots.txt of the page
    * body): `noindex` (exclude the PAGE from the corpus/index) and
    * `nofollow` (count NO outlink of this page as an endorsement);
    * `none` means both per the de-facto standard. Both attribute
    * orders parse; directives from multiple matches union via the
    * concatenated directive string. Output:
    * struct(noindex BOOLEAN, nofollow BOOLEAN). Map-only.
    */
  def pageRobotsDirectives(html: Column): Column = {
    val c = lower(concat(
      regexp_extract(html, metaRobotsNameFirstRe, 1), lit(" "),
      regexp_extract(html, metaRobotsContentFirstRe, 1)))
    struct(
      (c.rlike("\\bnoindex\\b") || c.rlike("\\bnone\\b")).as("noindex"),
      (c.rlike("\\bnofollow\\b") || c.rlike("\\bnone\\b")).as("nofollow"))
  }

  /** [[outlinks]] honoring the NOFOLLOW policy — the link-graph
    * admission rule every production crawler applies (a nofollow link
    * is explicitly "not an endorsement", and counting it corrupts
    * PageRank/frontier priority): anchors carrying `rel=nofollow`
    * drop, and a page whose `<meta name=robots>` says nofollow (or
    * `none`) contributes NO edges at all. The per-anchor test zips the
    * WHOLE-TAG matches (group 0) with the href captures (group 1) of
    * the same pattern — identical match sequences, exact zip (the t68
    * recipe). Map-only + one explode; the page-level screen runs
    * BEFORE the explode.
    */
  def outlinksFollowable(df: DataFrame, idCol: String,
      htmlCol: String): DataFrame = {
    val norm = normalizeHrefQuotes(col(htmlCol))
    df.select(col(idCol),
        pageRobotsDirectives(col(htmlCol)).as("__dir"),
        regexp_extract_all(norm, lit(hrefRe), lit(0)).as("__tags"),
        regexp_extract_all(norm, lit(hrefRe), lit(1)).as("__us"))
      .filter(!col("__dir").getField("nofollow"))
      .select(col(idCol), posexplode(col("__us")).as(Seq("__i", "url")),
        col("__tags"))
      .select(col(idCol), col("url"),
        element_at(col("__tags"), col("__i") + 1).as("__tag"))
      .filter(col("url") =!= "" && !col("__tag").rlike(relNofollowRe))
      .select(col(idCol), col("url"))
  }

  /** `<link rel="canonical" href="…">`, rel-first attribute order —
    * over quote-normalized markup (href already double-quoted), group 1
    * is the href.
    */
  val canonicalRelFirstRe: String =
    "(?is)<link\\b[^>]*?\\brel\\s*=\\s*[\"']?canonical[\"']?" +
      "[^>]*?\\bhref=\"([^\"]*)\""

  /** The href-first attribute order of the same tag. */
  val canonicalHrefFirstRe: String =
    "(?is)<link\\b[^>]*?\\bhref=\"([^\"]*)\"" +
      "[^>]*?\\brel\\s*=\\s*[\"']?canonical"

  /** rel=canonical page dedup — the page-DECLARED dedup signal every
    * search/crawl pipeline honors before any content hashing: variant
    * URLs (print views, tracking params, mobile mirrors, paginated
    * copies) declare one canonical, and the corpus keeps ONE page per
    * canonical target. Per page: the first canonical link (either
    * attribute order) resolves against the page URI ([[TextAnalysis
    * .withResolvedUrl]] — relative canonicals are legal and common),
    * '' (no tag) resolving to the page itself via the empty-reference
    * branch; targets canonicalize ([[TextAnalysis.canonicalUrl]]) into
    * the group key; each group keeps the LOWEST `idCol` (min_by — the
    * O13 hash-agg shape, never a window) with its variant count.
    * Pages whose canonical target fails to canonicalize (no scheme)
    * group under their own URI — a broken declaration must not merge
    * unrelated pages. Output: (canonical_url, kept_id, n_variants).
    * Map-only + ONE key hash aggregate.
    */
  def canonicalDedup(df: DataFrame, idCol: String, htmlCol: String,
      baseUriCol: String): DataFrame = {
    val norm = normalizeHrefQuotes(col(htmlCol))
    val decl = coalesce(
      nullif(regexp_extract(norm, canonicalRelFirstRe, 1), lit("")),
      nullif(regexp_extract(norm, canonicalHrefFirstRe, 1), lit("")),
      lit(""))
    val pages = df.select(col(idCol), col(baseUriCol).as("__pb"),
      decl.as("__ch"))
    TextAnalysis.withResolvedUrl(pages, "__pb", "__ch", "__ct")
      .select(col(idCol),
        coalesce(TextAnalysis.canonicalUrl(col("__ct")),
          TextAnalysis.canonicalUrl(col("__pb"))).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("kept_id"),
        count(lit(1)).as("n_variants"))
  }

  /** Per-page HEAD metadata — the enrichment columns a training corpus
    * carries alongside the text: the first `<title>` (tag-stripped,
    * entity-decoded, whitespace-normalized) and the OpenGraph
    * `og:title` / `og:description` (property-first and content-first
    * attribute orders both parse; '' when absent). Map-only, one
    * projection. Output: (idCol, title, og_title, og_description).
    */
  def pageMetadata(df: DataFrame, idCol: String,
      htmlCol: String): DataFrame = {
    def og(prop: String): Column = {
      val pf = "(?is)<meta\\b[^>]*?\\bproperty\\s*=\\s*[\"']og:" + prop +
        "[\"'][^>]*?\\bcontent\\s*=\\s*[\"']([^\"'>]*)"
      val cf = "(?is)<meta\\b[^>]*?\\bcontent\\s*=\\s*[\"']([^\"'>]*)" +
        "[\"'][^>]*?\\bproperty\\s*=\\s*[\"']og:" + prop
      coalesce(
        nullif(regexp_extract(col(htmlCol), pf, 1), lit("")),
        nullif(regexp_extract(col(htmlCol), cf, 1), lit("")),
        lit(""))
    }
    df.select(col(idCol),
      trim(regexp_replace(decodeEntities(
        regexp_extract(col(htmlCol), "(?is)<title[^>]*>(.*?)</title>", 1)),
        "\\s+", " ")).as("title"),
      og("title").as("og_title"),
      og("description").as("og_description"))
  }

  /** Per-page main content: content blocks rejoined in document order
    * with single spaces, plus block counts. ZERO shuffle — the rebuild
    * happens inside the page's own array (no explode, no groupBy), so
    * at 100 TB this is a pure scan→project stage. Output:
    * (idCol, main_text, n_blocks, n_content).
    */
  def htmlMainContent(df: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 5): DataFrame =
    // staged projections: the block vector (one regex pass over the
    // page) and the content subset each materialize ONCE per row —
    // referenced multiple times below, CollapseProject keeps the
    // non-cheap producers from being inlined (and re-evaluated) 3×
    df.select(col(idCol), htmlBlocks(col(htmlCol), minWords).as("__blocks"))
      .select(col(idCol),
        filter(col("__blocks"), s => s.getField("is_content"))
          .as("__content"),
        size(col("__blocks")).as("n_blocks"))
      .select(col(idCol),
        array_join(transform(col("__content"), s => s.getField("text")), " ")
          .as("main_text"),
        col("n_blocks"),
        size(col("__content")).as("n_content"))
}
