package graft.pipeline

import graft.model.{PipelineConfig, StageDef}
import graft.operators.{Dedup, Html, TextAnalysis}
import graft.plugin.GraftStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Config-as-query for the training-data operator family — the engine's
 * extension of the reference's core identity (a declarative YAML that IS
 * the query, model/config/TableMigrationDefinition.java:17-139) from
 * table migrations to curation pipelines: a [[graft.model.PipelineConfig]]
 * `stages:` list compiles to the EXACT operators the Scala API exposes,
 * so a pipeline is data, reviewable and replayable, not code.
 *
 * The registry carries the c07 curation shape (quality gate →
 * decontaminate → exact dedup → importance resample) as named
 * constructors — [[graft.SparkEntry.c07Stages]] calls the SAME builders,
 * so the config-driven pipeline and the code-built one cannot drift
 * (spec- and oracle-pinned: c31 gates the YAML build against c07's
 * oracle) — plus the generic `filter`/`limit` stages, and any
 * fully-qualified class name loads a [[graft.plugin.GraftStage]]
 * reflectively (the reference's `Class.forName` plugin contract,
 * TableDataFilterDefinition.java:53-71, generalized to whole stages).
 *
 * Auxiliary inputs (a decontamination reference corpus, a static
 * blocklist) are passed as a name → DataFrame table map and referenced
 * from stage options — config stays declarative, data binding stays in
 * code, exactly like the reference's source/target DB sections.
 *
 * 100 TB posture: compilation is pure plan construction — every stage
 * returns the same lazy DataFrame the hand-written pipeline builds, so
 * Catalyst optimizes ACROSS stage boundaries (pushdown through the gate,
 * pruning into the scan); `materialize: true` marks the deliberate
 * lineage cuts multi-consumer stages need (the c07 convention).
 */
object StagePipeline {

  final case class StageError(msg: String) extends RuntimeException(msg)

  /** A registered stage constructor: (input, options, aux tables) → output. */
  type StageFn = (DataFrame, Map[String, String], Map[String, DataFrame]) => DataFrame

  // ------------------------------------------------ curation constructors
  // These are THE c07 stage bodies (SparkEntry.c07Stages delegates here):
  // one definition serves the Scala API, the code-built gate and the
  // config front-end.

  /** c07 stage 1: language/quality/repetition gate — map-only kernels,
    * keeps (id, text, lang, quality).
    */
  def qualityGate(df: DataFrame, lang: String, minQuality: Double,
      maxDupBigramFrac: Double): DataFrame = {
    val (dupB, _) = TextAnalysis.repetitionScores(col("text"))
    val scored = df.select(col("doc_id"), col("text"), col("lang"),
      TextAnalysis.langId(col("text")).as("pred_lang"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      dupB.as("dup_bigram_frac"))
    // the gate drop is a GENERATE, not a filter (the r16 docLinkEdges
    // fix applied here): filtering on the computed feature columns let
    // predicate pushdown substitute each feature's defining chain —
    // and, when `text` is itself an extraction stage's output, the
    // whole upstream extract/redact chain — into the pushed condition
    // (measured: SEVEN ~10k-expression-node Filters in c37's optimized
    // plan, ~650 regexp_replace calls per row per filter)
    scored
      .select(col("doc_id"), col("text"), col("lang"), col("quality"),
        TextAnalysis.explodeWhen(col("pred_lang") === lang &&
          col("quality") >= minQuality &&
          col("dup_bigram_frac") <= maxDupBigramFrac, array(lit(1)), "int")
          .as("__keep"))
      .drop("__keep")
  }

  /** c07 stage 2: graded n-gram decontamination against a reference
    * corpus — broadcast-probe overlap, key-only anti-join.
    */
  def decontaminate(df: DataFrame, eval: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val flagged = TextAnalysis.contaminationOverlap(
        df.select("doc_id", "text"), eval, "doc_id", "text", n, threshold)
      .filter(col("contaminated")).select("doc_id")
    df.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** c07 stage 3: exact normalized-text dedup (keep lowest id). */
  def exactDedup(df: DataFrame): DataFrame =
    Dedup.normalizedDedup(df, "doc_id", "text")

  /** c07 stage 4: DSIR importance resampling toward the target language,
    * keeping survivors with their rounded keep probability.
    */
  def importanceResampleStage(df: DataFrame, lang: String,
      buckets: Int): DataFrame =
    TextAnalysis.importanceResample(df, "doc_id", "text",
        col("lang") === lang, buckets)
      .filter(col("kept"))
      .select(col("doc_id"), col("quality"), col("score"),
        (round(col("keep_prob"), 6) + lit(0.0)).as("keep_prob"))

  /** Trained-classifier quality screen — t57's logistic regression as a
    * curation stage: fit on a labeled aux corpus (`train`, with a 0/1
    * `yExpression` over its columns), keep input docs whose round-6
    * sigmoid score clears `minScore`. The threshold compares the ROUND-6
    * score (deterministic on both engines — the t57 arithmetic), so the
    * screen is replayable; at minScore 0.5 it is t57's decision boundary
    * up to that rounding. The CCNet/GPT-3 quality-filter shape,
    * declarable from YAML like every other stage.
    */
  def lrScreen(df: DataFrame, train: DataFrame, yExpression: String,
      minScore: Double, dim: Int, rounds: Int, eta: Double): DataFrame = {
    val kept = TextAnalysis.logRegClassify(train, df, "doc_id", "text",
        expr(yExpression), dim, rounds, eta)
      .filter(col("score") >= minScore).select("doc_id")
    df.join(kept, Seq("doc_id"), "left_semi")
  }

  /** Main-content HTML extraction as a stage — the web pipeline's stage
    * 0 ([[Html.htmlMainContent]]'s rebuild, in-place): the `html` column
    * is consumed and the extracted main content emerges as `text`;
    * every other column passes through. Map-only (the t62 posture), so
    * batch and streaming application are trivially identical.
    */
  def htmlExtract(df: DataFrame, minWords: Int): DataFrame = {
    val blocks = Html.htmlBlocks(col("html"), minWords)
    // a pre-existing `text` column is CONSUMED too (the stage's output
    // text replaces it) — passing it through would emit two `text`
    // columns and surface as an ambiguous-reference error in the NEXT
    // stage instead of here
    val others =
      df.columns.filterNot(c => c == "html" || c == "text").map(col)
        .toIndexedSeq
    df.select(others :+
      array_join(transform(
        filter(blocks, b => b.getField("is_content")),
        b => b.getField("text")), " ").as("text"): _*)
  }

  /** Near-dup screen — d03's MinHash-LSH recipe as a curation stage:
    * near-dup pairs at `threshold` over THE FRAME THE STAGE SEES, then
    * the greedy keep-lowest screen (any doc that is the HIGHER id of a
    * qualifying pair drops — the minimum id of every near-dup cluster
    * always survives, and a doc's own dropped status never un-drops its
    * neighbors, matching the pairwise d03 truth).
    *
    * SCOPE CONTRACT (the e41 whole-queries precedent): the screen's
    * scope is its input frame — the whole corpus under the batch
    * front-end (c31/c35), ONE MICRO-BATCH under the streaming front-end
    * (e44): crawl ingest naturally shards near-dup neighborhoods
    * together (a domain's pages arrive in one slice), and the
    * cross-batch incremental-index variant is
    * [[graft.streaming.StreamingNearDup]]'s job (d08), not a per-batch
    * stage's. The e44 oracle replays the per-batch scope exactly.
    */
  def nearDupScreen(df: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"nearDupScreen threshold must be in (0, 1], got $threshold")
    // the input is read 3+ times (the LSH pair join's two sides + the
    // anti-join left) and each read re-evaluates the upstream stage
    // chain — materialize once (the t73/frontier pattern)
    val d = new graft.pipeline.RoundSnapshots(None)
      .snap(df, "neardup_input").df
    val drop = Dedup.minhashNearDupPairs(d.select(col("doc_id"), col("text")),
        "doc_id", "text", threshold)
      .select(col("idB").as("doc_id")).distinct()
    d.join(drop, Seq("doc_id"), "left_anti")
  }

  /** PII redaction — t17's [[TextAnalysis.redactPii]] IN PLACE: `text`
    * is replaced by its redacted form (emails/IPv4s/phones → typed
    * placeholder tokens), every other column passes through unchanged —
    * the redact-before-anything-else stage a compliance pipeline lists
    * first. Per-document and map-only, so batch and streaming
    * application are trivially identical. The match-count report is
    * t17's own surface; a stage keeps the frame contract stable.
    */
  def piiRedact(df: DataFrame): DataFrame = {
    val r = TextAnalysis.redactPii(df, "text")
    r.select(df.columns.map(c =>
      if (c == "text") col("text_redacted").as("text") else col(c)): _*)
  }

  // ---------------------------------------------------------- registry

  private def opt(o: Map[String, String], key: String, default: String) =
    o.getOrElse(key, default)
  private def table(tables: Map[String, DataFrame],
      o: Map[String, String], key: String): DataFrame = {
    val name = o.getOrElse(key, throw StageError(
      s"stage option '$key' (an aux table name) is required"))
    tables.getOrElse(name, throw StageError(
      s"aux table '$name' not bound — caller must pass it in the table map"))
  }

  val registry: Map[String, StageFn] = Map(
    "qualityGate" -> ((df, o, _) => qualityGate(df,
      opt(o, "lang", "en"),
      opt(o, "minQuality", "0.9").toDouble,
      opt(o, "maxDupBigramFrac", "0.05").toDouble)),
    "decontaminate" -> ((df, o, t) => decontaminate(df,
      table(t, o, "eval"),
      opt(o, "n", "5").toInt,
      opt(o, "threshold", "0.5").toDouble)),
    "exactDedup" -> ((df, _, _) => exactDedup(df)),
    "importanceResample" -> ((df, o, _) => importanceResampleStage(df,
      opt(o, "lang", "en"),
      opt(o, "buckets", "1024").toInt)),
    "lrScreen" -> ((df, o, t) => lrScreen(df,
      table(t, o, "train"),
      o.getOrElse("yExpression",
        throw StageError("lrScreen stage requires 'yExpression'")),
      opt(o, "minScore", "0.5").toDouble,
      opt(o, "dim", "64").toInt,
      opt(o, "rounds", "10").toInt,
      opt(o, "eta", "10.0").toDouble)),
    "htmlExtract" -> ((df, o, _) => htmlExtract(df,
      opt(o, "minWords", "5").toInt)),
    "nearDupScreen" -> ((df, o, _) => nearDupScreen(df,
      opt(o, "threshold", "0.7").toDouble)),
    // payload-digest crawl dedup as a stage — the real pipeline's FIRST
    // dedup, declarable before any content stage; input must be a
    // recordsFull-shaped frame (warc_type/target_uri/warc_date/
    // payload_digest/body)
    "digestDedup" -> ((df, _, _) => graft.sources.Warc.dedupByDigest(df)),
    "piiRedact" -> ((df, _, _) => piiRedact(df)),
    // generic building blocks: a SQL predicate and a row cap
    "filter" -> ((df, o, _) => df.filter(expr(o.getOrElse("expression",
      throw StageError("filter stage requires 'expression'"))))),
    "limit" -> ((df, o, _) => df.limit(o.getOrElse("n",
      throw StageError("limit stage requires 'n'")).toInt)))

  /** Resolve every stage of `cfg` without building any frame — the
    * fail-closed pre-flight a STREAMING binding runs before its query
    * starts (the reference's init-time plugin loading,
    * DbMigrator.java:59-74: a typo'd stage must abort the run, never
    * surface mid-stream as a dead foreachBatch). Batch callers get the
    * same check for free from [[stagesOf]]'s resolve-before-build.
    */
  def validate(cfg: PipelineConfig): Unit =
    cfg.stages.foreach(s => resolve(s.stage))

  private def resolve(kind: String): StageFn =
    registry.getOrElse(kind,
      if (kind.contains(".")) {
        val stage = GraftStage.load(kind) // fails at compile time on typos
        (df, o, _) => stage(df, o)
      } else throw StageError(s"unknown stage '$kind' " +
        s"(registered: ${registry.keys.toSeq.sorted.mkString(", ")}; or a " +
        "fully-qualified graft.plugin.GraftStage class)"))

  /** Compile and expose every stage's output (the c12-funnel shape);
    * `.last._2` is the pipeline result. Stage resolution happens BEFORE
    * any frame builds, so a misconfigured pipeline fails closed.
    */
  def stagesOf(cfg: PipelineConfig, input: DataFrame,
      tables: Map[String, DataFrame] = Map.empty,
      materializeIntermediates: Boolean = true): Seq[(String, DataFrame)] = {
    graft.sources.LocalFs.install(input.sparkSession)
    val resolved: Seq[(StageDef, StageFn)] =
      cfg.stages.map(s => s -> resolve(s.stage))
    var acc = input
    val out = Seq.newBuilder[(String, DataFrame)]
    out += s"a0_input" -> input
    resolved.zipWithIndex.foreach { case ((sd, fn), i) =>
      val built = fn(acc, sd.options, tables)
      acc =
        if (sd.materialize && materializeIntermediates)
          built.localCheckpoint(eager = true)
        else built
      out += s"a${i + 1}_${sd.stage}" -> acc
    }
    out.result()
  }

  def compile(cfg: PipelineConfig, input: DataFrame,
      tables: Map[String, DataFrame] = Map.empty,
      materializeIntermediates: Boolean = true): DataFrame =
    stagesOf(cfg, input, tables, materializeIntermediates).last._2
}
