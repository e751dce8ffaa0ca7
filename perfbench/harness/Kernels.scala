package perfbench

import graft.expr.{MvelInterp, MvelTranslator}
import graft.functions.HashKernels
import graft.model.{FieldValueFilter, MigrationConfig}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel microbenchmarks and counts, run on one thread with a warm JIT
  * over strings and rows drawn from the workload's generated inputs.
  * Traced run only.
  */
object Kernels {
  @volatile private var sink: Long = 0L

  /** ns per call of `f` over `inputs`: three warm passes, then timed
    * passes until at least 200 ms have run.
    */
  def nsPerCall[A](inputs: IndexedSeq[A])(f: A => Long): Double = {
    var acc = 0L
    for (_ <- 1 to 3; x <- inputs) acc += f(x)
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) {
      var i = 0
      while (i < inputs.length) { acc += f(inputs(i)); i += 1 }
      calls += inputs.length
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    sink += acc
    ns
  }

  def expr(spark: SparkSession, ctx: Ctx, cfg: MigrationConfig): Map[String, Double] = {
    val schema = spark.read.parquet(ctx.path("input/src/rows.parquet")).schema
    val exprs = cfg.tables.flatMap(t =>
      t.filters.collect { case FieldValueFilter(e) => e } ++ t.calculatedColumns.map(_.expression))
    var fallbacks = 0
    val t0 = System.nanoTime()
    exprs.foreach { e =>
      try MvelTranslator.toSql(e, Some(schema))
      catch { case _: MvelTranslator.UnsupportedMvel |
        _: org.apache.spark.sql.catalyst.parser.ParseException => fallbacks += 1 }
    }
    val translateMs = (System.nanoTime() - t0) / 1e6
    val loop = cfg.tables.flatMap(_.calculatedColumns).map(_.expression)
      .find(_.contains("while")).get
    val stmts = MvelInterp.parse(loop)
    val rows = spark.read.parquet(ctx.path("input/src/rows.parquet")).select("qty", "ck")
      .limit(20000).collect().map(r => Map[String, Any](
        "qty" -> Int.box(r.getInt(0)), "ck" -> Int.box(r.getInt(1)))).toIndexedSeq
    val ns = nsPerCall(rows)(r => MvelInterp.eval(stmts, r).hashCode.toLong)
    Map("expr.translate_ms" -> translateMs, "expr.fallbacks" -> fallbacks.toDouble,
      "expr.interp_ns_per_row" -> ns)
  }

  def functions(texts: Array[String], withCuration: Boolean): Map[String, Double] = {
    val us = texts.map(s => UTF8String.fromString(s.trim.toLowerCase.replaceAll("\\s+", " ")))
      .toIndexedSeq
    val sh: IndexedSeq[ArrayData] = us.map(HashKernels.charShingleHashes(_, 5, true))
    val sig = sh.map(HashKernels.minHashSig(_, 64))
    val pairs = sh.indices.map(i => (sh(i), sh((i + 1) % sh.size)))
    val base = Map(
      "functions.char_shingle_ns" -> nsPerCall(us)(s =>
        HashKernels.charShingleHashes(s, 5, true).numElements().toLong),
      "functions.minhash_sig_ns" -> nsPerCall(sh)(a =>
        HashKernels.minHashSig(a, 64).numElements().toLong),
      "functions.band_keys_ns" -> nsPerCall(sig)(a =>
        HashKernels.bandKeys(a, 16, 4).numElements().toLong),
      "functions.sorted_jaccard_ns" -> nsPerCall(pairs)(p =>
        (HashKernels.sortedJaccard(p._1, p._2) * 1e6).toLong))
    if (!withCuration) return base
    val raw = texts.map(UTF8String.fromString).toIndexedSeq
    val sets = TextAnalysis.stopwords.toSeq.sortBy(_._1)
      .map(l => new java.util.HashSet[String](java.util.Arrays.asList(l._2: _*))).toArray
    base ++ Map(
      "functions.dup_fractions_ns" -> nsPerCall(raw)(s =>
        HashKernels.dupFractions(s).numElements().toLong),
      "functions.token_set_hits_ns" -> nsPerCall(raw)(s =>
        HashKernels.tokenSetHits(s, sets).numElements().toLong),
      "functions.alpha_space_count_ns" -> nsPerCall(raw)(s =>
        HashKernels.alphaSpaceCount(s).toLong))
  }

  /** Candidate pairs the LSH buckets produce (distinct id pairs sharing a
    * band bucket, restricted by `keep` over idA/idB) against the pairs
    * verification kept.
    */
  def lshPairs(spark: SparkSession, docs: DataFrame, idCol: String, keep: Column,
      verified: Long): Map[String, Double] = {
    val b = Dedup.lshBuckets(docs, idCol, "text")
    val cands = b.select(col("__band"), col("__bandkey"), col(idCol).as("idA"))
      .join(b.select(col("__band"), col("__bandkey"), col(idCol).as("idB")),
        Seq("__band", "__bandkey"))
      .filter(col("idA") < col("idB")).filter(keep)
      .select("idA", "idB").distinct().count()
    Map("operators.lsh_candidate_pairs" -> cands.toDouble,
      "operators.verified_pairs" -> verified.toDouble,
      "operators.pair_yield" -> (if (cands > 0) verified.toDouble / cands else 0.0))
  }
}
