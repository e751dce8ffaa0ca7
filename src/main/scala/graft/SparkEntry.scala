package graft

import graft.expr.MvelTranslator
import graft.functions.GraftFunctions
import graft.model._
import graft.operators.{Cdc, CorpusStats, Dedup, Events, Governance, Graph, Layout, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.MigrationPlanner
import graft.streaming.{BatchMarker, StreamingCdcMerge, StreamingClassifierEval, StreamingCuration, StreamingDpNbRelease, StreamingDrift, StreamingEntityResolution, StreamingFrontier, StreamingHeavyHitters, StreamingLrTrain, StreamingMigration, StreamingNbTrain, StreamingNearDup, StreamingRedirects, StreamingRetrievalEval, StreamingSceneSegments, StreamingSemanticScreen, StreamingSiteTemplate, StreamHarness, StreamingTokenBudget, StreamingWarcDedup, StreamingWebGraph, StreamingWinnow}
import graft.schema.Reconciler
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Driver contract: one registered query per implemented operator from
 * SURVEY.md §2 (O1-O22 reference parity) plus the LLM-pipeline extension
 * operators (dedup / similarity / text analysis / multimodal), each with a
 * DuckDB-equivalent oracle where the semantics are exactly SQL-expressible.
 *
 * Conventions:
 *  - every query takes (spark, sfDir) and reads the driver corpus
 *    (TESTDATA.md) via [[graft.sources.Tables]];
 *  - outputs avoid raw TIMESTAMP columns (cast to DATE/STRING) so parquet
 *    physical types can't cause false schema mismatches in the compare;
 *  - double aggregations go through DECIMAL internally (order-independent
 *    exact sums) and are cast back to DOUBLE in BOTH engines.
 */
object SparkEntry {

  private def cfg(dir: String): MigrationConfig =
    MigrationConfig(TableRef(path = dir), TableRef(path = s"$dir/__no_target__"), Nil)

  /** Load a fixture table. The `events.ts` column's on-disk physical type
    * has varied across fixture generations — parquet timestamp(NANOS)
    * (which `spark.sql.legacy.parquet.nanosAsLong` surfaces as epoch-nanos
    * LONG) vs timestamp(MICROS) (surfaced as TIMESTAMP_NTZ). Every query
    * and every DuckDB oracle replay here is written against the epoch-nanos
    * LONG convention (`ts div 1000` = micros), so a timestamp-typed `ts` is
    * normalized back to epoch nanos at load. Session timezone is pinned to
    * UTC by Verify/Bench/tests, so the NTZ wall-clock -> instant cast is
    * exact. DuckDB reads the same parquet natively and its oracles use
    * `epoch_us(ts)` / CAST, which are representation-independent.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = Tables.load(s, TableRef(path = dir), name)
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  /** The c07 end-to-end curation DAG — c01's quality gate -> t23's graded
    * decontamination drop -> d02's exact dedup (keep min id per
    * normalized-md5) -> t19/t24 importance resampling RE-SCORED over the
    * survivors (importance is corpus-relative). Every stage reuses the
    * exact operator the standalone queries gate.
    *
    * `materializeIntermediates` (default true, the Dedup.incremental
    * convention): `gated` feeds the overlap probe AND the anti-join (its
    * quality kernels would run twice), and the dedup survivors feed
    * importanceResample's THREE passes (bucket stats, min/max scale,
    * apply) — left lazy, the whole upstream pipeline re-executes per pass
    * (measured 9.9 s → 7.1 s at sf0.1). `false` keeps the DAG one lazy
    * plan so the plan audit can see EVERY stage's join shape — eager
    * localCheckpoints execute their stages at construction time and hide
    * them behind LogicalRDD scans, which would let a cartesian regression
    * upstream pass a tail-only audit untouched.
    */
  private[graft] def c07Pipeline(docs: DataFrame,
      materializeIntermediates: Boolean = true): DataFrame =
    c07Stages(docs, materializeIntermediates).last._2

  /** The same pipeline with every stage exposed — the c12 funnel report
    * counts each one, and sharing the construction here means the funnel
    * and the c07 gate can never disagree on stage membership.
    */
  private[graft] def c07Stages(docs: DataFrame,
      materializeIntermediates: Boolean = true): Seq[(String, DataFrame)] = {
    def snap(df: DataFrame): DataFrame =
      if (materializeIntermediates) df.localCheckpoint(eager = true) else df
    // stage bodies live in StagePipeline's registry — ONE definition
    // serves this code-built gate, the Scala API, and the c31 YAML
    // config front-end (which gates against the same oracle)
    val gated = snap(graft.pipeline.StagePipeline.qualityGate(
      docs, "en", minQuality = 0.9, maxDupBigramFrac = 0.05))
    val evalDocs = c07EvalDocs(docs)
    val decon = graft.pipeline.StagePipeline.decontaminate(
      gated, evalDocs, n = 5, threshold = 0.5)
    val deduped = snap(graft.pipeline.StagePipeline.exactDedup(decon))
    val kept = graft.pipeline.StagePipeline.importanceResampleStage(
      deduped, "en", buckets = 1024)
    Seq("a0_input" -> docs, "a1_gated" -> gated, "a2_decon" -> decon,
      "a3_dedup" -> deduped, "a4_resampled" -> kept)
  }

  /** The c07/c31 decontamination reference: a tenth of the corpus posing
    * as a benchmark (ids offset, leading word stripped).
    */
  private[graft] def c07EvalDocs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 2000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))

  /** Direction-planted ANN probe queries: each query is a corpus vector
    * scaled by 2 (an exact power-of-2 scaling, so every float product and
    * double accumulation scales exactly) — its true nearest neighbor is the
    * source vector at cosine EXACTLY 1.0, and sign-LSH signatures / IVF
    * centroid rankings are provably identical to the source's. A correct
    * index therefore MUST return the source at rank 1; random fixture data
    * can't make recall of arbitrary neighbors a stable contract, but this
    * routing+scoring+ranking guarantee is structural.
    */
  private def plantedQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))

  private def plantedHit(ann: DataFrame): DataFrame =
    ann.filter(col("vec_id") === col("query_id"))
      .select(col("query_id"), col("rank"), round(col("cosine"), 6).as("cosine"))

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): TPC-H-Q1-style
    * pricing summary — scan, filter, hash aggregate, exact decimal sums.
    */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= "1998-09-01 00:00:00")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast(DecimalType(28, 4))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1 scan
    "q01_scan" -> ((s, dir) => t(s, dir, "region")),

    // O2 projection (column pruning reaches the parquet scan)
    "q02_projection" -> ((s, dir) =>
      t(s, dir, "customer").select("c_custkey", "c_name")),

    // O3 pushdown predicate (whereClause → PushedFilters)
    "q03_pushdown_filter" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "lineitem",
        whereClause = Some("l_quantity > 45 AND l_shipdate >= '1997-01-01 00:00:00'")
      )).data.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate").cast("date").as("ship_date"))),

    // O4 residual MVEL filter
    "q04_residual_filter" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "lineitem",
        filters = Seq(FieldValueFilter(
          "row.l_quantity >= 30 && row.l_discount < 0.05 && row.l_returnflag == 'R'"))
      )).data.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")),

    // O5 filter chain (ordered conjunction)
    "q05_filter_chain" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "events",
        filters = Seq(
          FieldValueFilter("row.event_type != 'click'"),
          FieldValueFilter("row.value >= 10.0 || row.user_id % 2 == 0"))
      )).data.select("event_id", "user_id", "event_type", "value")),

    // O6 existence anti-filter (left anti join; target = simulated snapshot)
    "q06_anti_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val existing = orders.filter(col("o_orderkey") % 3 === 0).select("o_orderkey")
      orders.join(existing, Seq("o_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // O7 read limit (deterministic via unique-key order)
    "q07_read_limit" -> ((s, dir) =>
      t(s, dir, "lineitem").orderBy("l_orderkey", "l_linenumber").limit(1000)
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // O8 write limit (post-filter position)
    "q08_write_limit" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_returnflag") === "A")
        .orderBy("l_orderkey", "l_linenumber").limit(500)
        .select("l_orderkey", "l_linenumber", "l_returnflag")),

    // O9 calculated columns (MVEL → Catalyst, incl. ternary)
    "q09_calc_columns" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "orders",
        calculatedColumns = Seq(
          CalculatedColumn("bucket", "row.o_orderkey % 32"),
          CalculatedColumn("discounted", "row.o_totalprice * 0.9"),
          CalculatedColumn("size_class", "row.o_totalprice >= 150000.0 ? 'BIG' : 'SMALL'"))
      )).data.select("o_orderkey", "bucket", "discounted", "size_class")),

    // O10/O11 TTL pseudo-column + re-base arithmetic
    "q10_ttl_rebase" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "events",
        ttl = Some(TtlSpec("value", sourceTableTtl = 86400, targetTableTtl = 604800))
      )).data.select("event_id", "value")),

    // O12 type-mapping / cast dispatch
    "q12_type_cast" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_linenumber").cast("smallint").as("linenum_small"),
        col("l_orderkey").cast("string").as("orderkey_str"),
        // decimal cast exercised, then emitted as DOUBLE: the driver's value
        // hash distinguishes Decimal('41.00') from 41.0, so keep the compare
        // representation-stable on both sides
        col("l_quantity").cast(DecimalType(12, 2)).cast("double").as("qty_dec"),
        floor(col("l_extendedprice")).as("price_floor"))),

    // O13 upsert keep-last by PK
    "q13_upsert_keep_last" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "lineitem",
        pkColumns = Seq("l_orderkey"),
        orderingColumns = Seq("l_linenumber", "l_quantity", "l_extendedprice")
      )).data.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // O14 insert-if-not-exists (anti-join + append)
    "q14_insert_if_not_exists" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val existing = customer.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), lit(0.0).as("c_acctbal"))
      val incoming = customer.select("c_custkey", "c_acctbal")
        .join(existing.select("c_custkey"), Seq("c_custkey"), "left_anti")
      existing.unionByName(incoming)
    }),

    // O15 counter-increment pre-aggregation (exact: integral doubles)
    "q15_counter_preagg" -> ((s, dir) =>
      MigrationPlanner.plan(s, cfg(dir), TableMigrationDef(
        tableName = "lineitem",
        pkColumns = Seq("l_orderkey"),
        counterColumns = Seq("l_quantity"),
        writeMode = CounterIncrement
      )).data),

    // O16 dry-run accounting (what WOULD migrate)
    "q16_dry_run" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("rows_read"),
        sum(when(col("l_quantity") >= 30, 1).otherwise(0)).as("rows_passed_filter"))),

    // O17 rate-limited streaming: the SAME narrow plan under Structured
    // Streaming (micro-batches = the reference's pages, trigger = rate
    // limiter), result read back from the streamed target — so the driver's
    // oracle checks batch/stream parity
    "q17_streaming_migration" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("q17")
      val scfg = MigrationConfig(TableRef(path = dir), TableRef(path = s"$tmp/tgt"), Nil)
      val t = TableMigrationDef("events",
        filters = Seq(FieldValueFilter("row.event_type != 'click'")),
        calculatedColumns = Seq(CalculatedColumn("vx2", "row.value * 2.0")),
        simulateOnly = false)
      val q = StreamingMigration.start(s, scfg, t, s"$tmp/cp",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      StreamHarness.drain("q17", q)
      Tables.load(s, TableRef(path = s"$tmp/tgt"), "events")
        .select("event_id", "event_type", "value", "vx2")
    }),

    // O18 parallel execution: two table migrations run as concurrent Spark
    // jobs; result = per-table row accounting from the written targets
    "q18_parallel_exec" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("q18")
      val tgt = TableRef(path = s"$tmp/tgt")
      val pcfg = MigrationConfig(TableRef(path = dir), tgt, Seq(
        TableMigrationDef("region", simulateOnly = false),
        TableMigrationDef("nation", simulateOnly = false)), parallel = true)
      MigrationPlanner.executeAll(s, pcfg)
      val r = Tables.load(s, tgt, "region").agg(count(lit(1)).as("n"))
        .select(lit("region").as("table_name"), col("n"))
      val n = Tables.load(s, tgt, "nation").agg(count(lit(1)).as("n"))
        .select(lit("nation").as("table_name"), col("n"))
      r.unionByName(n)
    }),

    // O19 row-level error tolerance: dead-letter split via try_cast
    "q19_error_split" -> ((s, dir) => {
      val withRaw = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 100 === 0,
          concat(lit("x"), col("o_orderkey").cast("string")))
          .otherwise(col("o_orderkey").cast("string")).as("raw"))
      withRaw.select(
        col("o_orderkey"),
        expr("try_cast(raw AS bigint)").as("parsed"),
        expr("try_cast(raw AS bigint) IS NULL").as("is_dead_letter"))
    }),

    // O20 observability: observe() is pass-through on the data
    "q20_observed_filter" -> ((s, dir) =>
      t(s, dir, "supplier").filter(col("s_acctbal") > 0)
        .observe("q20", count(lit(1)).as("rows"))
        .select("s_suppkey", "s_name", "s_acctbal")),

    // O21 schema reconciliation drives the write projection
    "q21_reconcile_projection" -> ((s, dir) => {
      val source = t(s, dir, "customer")
      val targetSchema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("not_in_source", StringType))) // rule-2 drop, with warning
      val rec = Reconciler.reconcile(source.schema, targetSchema,
        targetPk = Seq("c_custkey"), calculated = Map.empty)
      source.select(rec.writeColumns.map(col): _*)
    }),

    // O22 registered custom function via SQL name (JVM String.hashCode)
    "q22_java_hash" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "customer").select(
        col("c_custkey"),
        expr("java_hash_code(c_name)").as("name_hash"))
    }),

    // CQL sparse-row merge-patch (patchNullsFromTarget): null source
    // values are "unset" and keep the target's value; target rows absent
    // from the source survive — gated against a full-outer COALESCE
    "q23_patch_nulls" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val src = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 4 =!= 0, col("o_totalprice")))
      val tgt = orders.filter(col("o_orderkey") % 3 === 0)
      MigrationPlanner.patchMerge(src, tgt, Seq("o_orderkey"))
    }),

    // salted skew join: result-identical to the plain equi-join (gated
    // so), shuffle layout spread over saltFactor reducers for hot keys
    "j07_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(o, c, Seq("o_custkey"), saltFactor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"))
    }),

    // joins/aggregation beyond migrator parity (engine completeness)
    "j01_broadcast_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("order_cnt"))),

    "j02_star_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DecimalType(28, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "j03_outer_join" -> ((s, dir) => {
      // left join with an intentionally-sparse right side: null semantics
      val n = t(s, dir, "nation")
      val bigNations = t(s, dir, "customer")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers"))
        .filter(col("n_customers") >= 70)
      n.join(bigNations, col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"))
    }),

    "j04_exists_subquery" -> ((s, dir) => {
      // correlated EXISTS through the SQL surface (temp views + spark.sql)
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_v
           WHERE EXISTS (SELECT 1 FROM orders_v
                         WHERE o_custkey = c_custkey AND o_totalprice > 400000)""")
    }),

    // semi-structured surface: JSON property extraction (schema-on-read
    // from the events props column) + typed aggregation per event type
    "f05_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))),

    // as-of join: each click paired with the user's latest prior purchase
    // (union-merge formulation — ONE shuffle on user_id, no range blowup);
    // ties on (user_id, ts) broken by max purchase id, whole-row
    "j05_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"), col("value").as("purchase_value"))
      graft.operators.TemporalJoin.asOfJoin(
        clicks, purchases, Seq("user_id"), "click_ts_us", "purchase_ts_us",
        payload = Seq("purchase_id", "purchase_ts_us", "purchase_value"),
        prefix = "", tieBreak = Some("purchase_id"))
    }),

    // as-of with a match window: j05's join, but matches farther than 10
    // minutes null out (pandas merge_asof tolerance) — attribution joins
    // in practice always carry a lookback bound
    "j08_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"), col("value").as("purchase_value"))
      graft.operators.TemporalJoin.asOfJoin(
        clicks, purchases, Seq("user_id"), "click_ts_us", "purchase_ts_us",
        payload = Seq("purchase_id", "purchase_ts_us", "purchase_value"),
        prefix = "", tieBreak = Some("purchase_id"),
        tolerance = Some(600000000L)) // 10 min in micros
    }),

    // interval range join: clicks landing in each error's 10-minute window
    // (bucketized — intervals explode to covered buckets, points equi-join
    // on bucket + residual range filter; no cartesian, no broadcast of a
    // whole side)
    "j06_range_join" -> ((s, dir) => {
      val tenMinUs = 600000000L
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          col("ts_us").as("win_start"),
          (col("ts_us") + lit(tenMinUs)).as("win_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("click_ts"))
      val pairs = graft.operators.TemporalJoin.rangeJoin(
        clicks, errors, "click_ts", "win_start", "win_end",
        bucketWidth = tenMinUs)
      errors.join(
          pairs.groupBy("err_id").agg(count(lit(1)).as("n_clicks")),
          Seq("err_id"), "left")
        .select(col("err_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
    }),

    // interval × interval overlap join: per-user click attention windows
    // [ts, ts+2h) against purchase windows [ts, ts+4h); the pair
    // surfaces exactly once (first-overlap-bucket emission) with its
    // integer overlap length
    "j09_interval_overlap" -> ((s, dir) => {
      val twoHoursUs = 7200000000L
      val fourHoursUs = 14400000000L
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("c_start"), (col("ts_us") + lit(twoHoursUs)).as("c_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_start"), (col("ts_us") + lit(fourHoursUs)).as("p_end"))
      graft.operators.TemporalJoin.intervalOverlapJoin(
          clicks, purchases, "c_start", "c_end", "p_start", "p_end",
          bucketWidth = fourHoursUs, extraKeys = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (least(col("c_end"), col("p_end")) -
            greatest(col("c_start"), col("p_start"))).as("overlap_us"))
    }),

    // Bloom-pruned equi-join (the runtime-filter pattern, explicit):
    // a selective part subset joins the lineitem fact side, whose scan is
    // pre-filtered map-side by a Bloom sketch of the probe keys before
    // the exchange. Result-identical to the plain inner join (no false
    // negatives; false positives die in the exact join) — the oracle IS
    // the plain join
    "j10_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"))
      val parts = t(s, dir, "part").filter(col("p_size") <= 2)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.operators.BloomJoin.bloomPrunedInnerJoin(li, parts, "l_partkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    }),

    // edit-distance similarity self-join: every customer-name pair within
    // one edit — record linkage over noisy key fields. The deletion-
    // neighborhood (SymSpell) strategy fits this field shape: short
    // zero-padded keys, where q-gram prefixes stay hot but a full-string
    // variant pins every other character (36x fewer candidates measured).
    // The oracle is the brute-force Levenshtein join, blind to strategy
    "j11_fuzzy_join" -> ((s, dir) =>
      graft.operators.FuzzyJoin.deletionNeighborhoodSelfJoin(
        t(s, dir, "customer").select("c_custkey", "c_name"),
        "c_custkey", "c_name", maxDist = 1)),

    // pivot (conditional aggregation surface); absent combos coalesce to 0
    // so both engines agree on empty cells
    "g03_pivot" -> ((s, dir) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .groupBy("y")
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
        .select(col("y") +: prios.map(p => coalesce(col(p), lit(0L)).as(p)): _*)
    }),

    // explicit grouping sets with the grouping-id bitmask (first grouping
    // column = MSB in both engines)
    "g04_grouping_sets" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty"))
    }),

    // full cube: all 2^k grouping combinations in one pass (completes the
    // rollup / grouping-sets / cube family)
    "g05_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty"))),

    // RANGE frames: the frame is a VALUE interval (peers included), not a
    // row count — integer ordering keys keep the boundary exact in both
    // engines; the long sum needs no decimal routing
    "w05_range_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .withColumn("price_int", floor(col("o_totalprice")).cast("long"))
      val w = Window.partitionBy("o_custkey").orderBy(col("price_int"))
        .rangeBetween(-500L, 0L)
      o.select(col("o_orderkey"), col("o_custkey"), col("price_int"),
        count(lit(1)).over(w).as("n_within"),
        sum(col("price_int")).over(w).as("sum_within"))
    }),

    // value-window family: first/last/nth over explicit row frames — the
    // running-frame last_value is each partition's "latest so far"
    "w04_value_windows" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRun = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        first("o_orderdate").over(wAll).cast("date").as("first_date"),
        last("o_orderdate").over(wAll).cast("date").as("last_date"),
        nth_value(col("o_totalprice"), 2).over(wAll).as("second_price"),
        last("o_totalprice").over(wRun).as("price_so_far"))
    }),

    // ranking window family: ntile buckets, percent_rank, cume_dist —
    // integer-ratio doubles of identical ints are bit-stable cross-engine
    "w03_rank_family" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),

    "z01_zorder_layout" -> ((s, dir) => {
      // write-clustering key over (customer, order) — the layout a
      // clustered parquet write sorts by so file min/max stats prune on
      // both dimensions; the gate checks the exact interleaved keys
      Layout.zorderKey(t(s, dir, "orders"), "o_custkey", "o_orderkey",
        bits = 10).select("o_orderkey", "zkey")
    }),

    // Hilbert-curve clustering key over the same axes as z01: consecutive
    // keys are grid-adjacent (Morton jumps diagonally), so sorted files
    // cover tighter boxes; the gate checks the exact curve indices
    "z06_hilbert_layout" -> ((s, dir) =>
      Layout.hilbertKey(t(s, dir, "orders"), "o_custkey", "o_orderkey",
        bits = 10).select("o_orderkey", "hkey")),

    // file-pruning report: both curve layouts partitioned into 16
    // key-range files, a box query counted per file — `touched` is the
    // files min/max stats could NOT prune, the decision input for
    // choosing a layout on a real workload's box mix. (No single box
    // proves one curve superior — Hilbert wins on aligned boxes and on
    // average, Morton can win on diagonal-crossing boxes; the provable
    // aligned-box case is pinned in LayoutSpec instead.)
    "z07_pruning_report" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val box = col("o_custkey") <= 375 && col("o_orderkey") <= 3750
      def report(keyed: DataFrame, keyCol: String, name: String): DataFrame = {
        // max key folds into the plan as a 1-row broadcast (the oracle's
        // scalar-subquery shape) — no extra driver-blocking pass that
        // would recompute every curve key before the query even runs
        keyed
          .crossJoin(broadcast(keyed.agg(max(col(keyCol)).as("__mx"))))
          .withColumn("file_id",
            least(expr(s"CAST((`$keyCol` * 16) div (`__mx` + 1) AS INT)"), lit(15)))
          .groupBy(lit(name).as("layout"), col("file_id"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(box, 1L).otherwise(0L)).as("n_box_rows"))
          .withColumn("touched", col("n_box_rows") > 0)
      }
      report(Layout.hilbertKey(orders, "o_custkey", "o_orderkey", bits = 10),
          "hkey", "hilbert")
        .unionByName(report(
          Layout.zorderKey(orders, "o_custkey", "o_orderkey", bits = 10),
          "zkey", "morton"))
    }),

    // deterministic global shuffle + balanced training shards: shard and
    // in-shard rank are pure functions of the content fingerprint, so the
    // layout replays bit-identically across runs and engines
    "z02_shard_layout" -> ((s, dir) =>
      Layout.shardBy(t(s, dir, "documents"), "doc_id",
          TextAnalysis.fingerprint(col("text")), numShards = 8)
        .select("doc_id", "shard", "pos_in_shard")),

    // per-epoch deterministic corpus permutation: epoch 3's order is the
    // mix64(doc_id ^ 3) key laid out as balanced shards — a different
    // reproducible shuffle per epoch, no RNG state, no global sort
    "z05_epoch_shuffle" -> ((s, dir) =>
      Layout.epochShuffle(t(s, dir, "documents").select("doc_id"),
          "doc_id", epoch = 3, numShards = 8)
        .select("doc_id", "shard", "pos_in_shard")),

    // n-dimensional Morton key: 3 columns x 8 bits, the general lakehouse
    // OPTIMIZE ZORDER form — exact interleaved keys gated bit-for-bit
    "z04_zorder_nd" -> ((s, dir) =>
      Layout.zorderKeyN(
        t(s, dir, "orders")
          .withColumn("price_int", floor(col("o_totalprice")).cast("long")),
        Seq("o_custkey", "o_orderkey", "price_int"), bits = 8)
        .select("o_orderkey", "zkey")),

    // N-D Hilbert over z04's three axes (Skilling transform): the z06
    // locality upgrade generalized past two columns; exact curve indices
    // gated against a full SQL replay of the transform
    "z08_hilbert_nd" -> ((s, dir) =>
      Layout.hilbertKeyN(
        t(s, dir, "orders")
          .withColumn("price_int", floor(col("o_totalprice")).cast("long")),
        Seq("o_custkey", "o_orderkey", "price_int"), bits = 8)
        .select("o_orderkey", "hkey")),

    // compaction plan: documents stand in for file stats (lang = table
    // partition, n_chars = bytes); largest-first running-total binning,
    // all-integer arithmetic
    "z03_compaction_plan" -> ((s, dir) =>
      Layout.compactionGroups(
        t(s, dir, "documents").select(col("lang"),
          col("doc_id").cast("string").as("path"), col("n_chars").as("bytes")),
        Seq("lang"), "path", "bytes", targetBytes = 20000L)),

    // URL structure extraction (host/path/query) with RE2-safe patterns
    // shared verbatim with the oracle — the URL-level filtering step of
    // web-corpus curation; synthetic URLs derive from row attributes
    "f06_url_extract" -> ((s, dir) => {
      val url = concat(lit("https://"), col("source"), lit(".example.org/"),
        col("lang"), lit("/doc/"), col("doc_id").cast("string"),
        lit("?ref=r"), (col("doc_id") % 7).cast("string"))
      t(s, dir, "documents").select(col("doc_id"),
        regexp_extract(url, "^https?://([^/]+)", 1).as("host"),
        regexp_extract(url, "^https?://[^/]+(/[^?]*)", 1).as("url_path"),
        regexp_extract(url, "\\?(.*)$", 1).as("query"))
    }),

    // URL canonicalization: messy synthesized URLs (mixed-case scheme/
    // host, default ports, tracking params, unsorted query, fragments)
    // collapse to the crawl dedup key — RFC 3986 §6 normalization subset
    "f07_url_canonicalize" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS://WWW.").otherwise("https://www."),
        col("source"), lit(".Example.ORG"),
        when(col("doc_id") % 3 === 0, ":443").otherwise(""),
        when(col("doc_id") % 5 === 0, "").otherwise(
          concat(lit("/"), col("lang"), lit("/doc/"),
            col("doc_id").cast("string"))),
        lit("?utm_source=x&b="), (col("doc_id") % 5).cast("string"),
        lit("&a="), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 4 === 0, "&gclid=abc").otherwise(""),
        lit("#frag"), col("doc_id").cast("string"))
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.canonicalUrl(url).as("canonical_url"))
    }),

    // lag/lead + running total (DECIMAL-routed so window accumulation
    // strategy differences can't perturb the double)
    "w02_lag_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRun)
          .cast("double").as("running_total"))
    }),

    "w01_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("order_seq", row_number().over(w))
        .select("o_orderkey", "o_custkey", "order_seq")
    }),

    // events.ts is parquet TIMESTAMP(NANOS) — read as long nanos
    // (spark.sql.legacy.parquet.nanosAsLong) and converted to micros here.
    "e01_event_window_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))),

    // ordered conversion funnel view -> click -> purchase: earliest
    // completion chain per user (greedy is completeness-optimal: if any
    // ordered triple exists the earliest-first walk finds one). Three
    // skinny min-aggregates + two equi-joins on user — map-side combined,
    // events never shuffle whole
    "g06_funnel" -> ((s, dir) => {
      // micros on both sides (the e04 precedent) — robust to either
      // physical timestamp type of the fixture
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts"))
      graft.operators.Events.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
    }),

    // funnel latency histogram: per consecutive stage pair, conversion
    // durations in power-of-two buckets (integer log2 via binary-form
    // length — no IEEE log at boundaries); funnel frame computes once
    "g16_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts"))
      graft.operators.Events.timeToConvert(ev, "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
    }),

    // Kaplan–Meier / Nelson–Aalen churn curve: per-user lifetimes with
    // half-day right-censoring; hazard and log-survival terms on the
    // t36 1e-6 integer grid so the cumulations are exact longs
    "g17_survival_curve" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      graft.operators.Events.survivalCurve(ev, "user_id", "ts_us",
        censorHorizon = 43200000000L)
    }),

    // per-user TOTAL ACTIVE TIME: each event opens an activity interval
    // of `value` seconds; overlaps must not double-count, so the union
    // length comes from the sweep-line identity — one per-user window +
    // one aggregate, micros on both sides (the e04 precedent)
    "g14_interval_coverage" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000").as("start_us"),
          (expr("ts div 1000") +
            floor(greatest(col("value"), lit(0.0)) * lit(1000000.0)))
            .as("end_us"))
      graft.operators.Events.intervalCoverage(iv, "user_id",
        "start_us", "end_us")
    }),

    // inter-event burstiness per user: metronome (-1) vs Poisson (0) vs
    // bursty (+1) — exact DECIMAL moments over micro gaps, IEEE only in
    // the final sqrt/divisions
    "g15_burstiness" -> ((s, dir) =>
      graft.operators.Events.burstiness(
        t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_id")),
        "user_id", "ts_us", "event_id")),

    // per-user event-type transition matrix (first-order Markov counts +
    // row-normalized probabilities) — the sequence-level corpus statistic
    // behind session modeling. One lead window per user (the e04
    // precedent: per-user sequences are the sanctioned window use), two
    // type-bounded aggregates
    "g08_event_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = tr.groupBy("from_type").agg(sum(col("n")).as("__tot"))
      tr.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("__tot"), 6).as("p"))
    }),

    // per-state transition entropy: the g08 matrix folded to the
    // sequence-predictability scalar — H(from) = −Σ p·ln p with round-9
    // DECIMAL-summed terms, normalized by ln(k); low = scripted flows
    "g18_transition_entropy" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      Events.transitionEntropy(tr, "from_type", "n")
    }),

    // signup-week cohort retention: users bucketed by their first signup
    // week, counted once per (cohort, week offset) they were active in.
    // Integer week indices (nanos div ns/week), two aggregates + one join
    "g07_cohort_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("__ts0"))
        .select(col("user_id"),
          expr("__ts0 div 604800000000").as("cohort_week"))
      ev.join(cohort, "user_id")
        .select(col("user_id"), col("cohort_week"),
          (expr("ts div 604800000000") - col("cohort_week"))
            .as("week_offset"))
        .filter(col("week_offset") >= 0)
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
    }),

    // time-series resample + gap fill: per-user daily grid between first
    // and last activity, empty days zero-filled — the densify step before
    // windowed feature extraction. Integer day indices (ts div ns/day)
    // keep the bucketing engine-exact; grids explode per user, bounded by
    // each user's own activity span
    // event debounce: suppress near-duplicate telemetry — an event within
    // 60 s of the previous event of the same (user, type) is flagged as a
    // duplicate. ONE per-key window (integer-exact lag compare); the
    // batch analogue of streaming dropDuplicatesWithinWatermark
    "e04_event_debounce" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
        .withColumn("__prev", expr(
          "lag(ts_us) OVER (PARTITION BY user_id, event_type " +
            "ORDER BY ts_us, event_id)"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us"),
          (col("__prev").isNull || col("ts_us") - col("__prev") > 60000000L)
            .as("kept"))),

    "e03_resample_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("value"))
      val perDay = ev.groupBy("user_id", "day").agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      val grid = ev.groupBy("user_id")
        .agg(min("day").as("__d0"), max("day").as("__d1"))
        .select(col("user_id"), explode(sequence(col("__d0"), col("__d1"))).as("day"))
      grid.join(perDay, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sum_value"), lit(0.0d)).as("sum_value"))
    }),

    // streaming heavy hitters: the corpus streamed in 2 micro-batches;
    // each batch appends its vocab-bounded token-count delta and
    // publishes the accumulated top-20 — drained, the monitor must equal
    // the batch t16 report over everything streamed (shared ranking code)
    "e08_streaming_heavy_hitters" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e08")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val q = StreamingHeavyHitters.start(s, src, "text",
        s"$tmp/counts", s"$tmp/top", s"$tmp/cp")
      StreamHarness.drain("e08", q)
      s.read.parquet(s"$tmp/top").select("rank", "token", "n")
    }),

    // streaming token-budget admission: three ordered batches (doc_id mod
    // 3) stream through the budget gate; batch 0 admits fully, batch 1
    // partially (the budget crossing), batch 2 not at all. Cross-batch
    // spend is per-batch parquet state; the in-batch position is the
    // range-partitioned parallel prefix sum, never a single-task window
    "e09_streaming_token_budget" -> ((s, dir) => {
      val budget = 15000L
      val tmp = StreamHarness.tempDir("e09")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(b =>
        docs.filter(pmod(col("doc_id"), lit(3)) === b)): _*)
      val q = StreamingTokenBudget.start(s, src, "doc_id", "text", budget,
        s"$tmp/state", s"$tmp/out", s"$tmp/cp")
      StreamHarness.drain("e09", q)
      BatchMarker.readAll(s, s"$tmp/out")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
    }),

    // streaming SEMANTIC screen against the persisted IVF-PQ index: two
    // micro-batches of embeddings dedup against the seeded corpus and
    // each other's appended state. Streamed dups are EXACT vector copies
    // (the planted-contract shape: a copy shares its twin's inverted
    // list and re-ranks at cosine 1.0, so ANN recall is structural, not
    // probabilistic); novel vectors sit far below the 0.999 bar
    "e10_streaming_semantic_screen" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e10")
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.filter(col("vec_id") >= 100)
      StreamingSemanticScreen.seed(corpus, "vec_id", "embedding",
        s"$tmp/index", s"$tmp/vecs", dim = 64,
        numCentroids = 16, m = 8, codesPerSub = 16)
      val src = StreamHarness.feed(tmp,
        // batch 1: copies of corpus vecs (ids ≡ 0 mod 40, +1e6) + novel
        // vecs the corpus has never seen (ids < 50, +3e6)
        emb.filter(col("vec_id") >= 100 && col("vec_id") % 40 === 0)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") < 50)
            .select((col("vec_id") + 3000000).as("vec_id"), col("embedding"))),
        // batch 2: copies of BATCH 1's novel vecs (+4e6 — the cross-batch
        // pair that only exists because batch 1's state persisted) + more
        // corpus copies (ids ≡ 20 mod 40, +2e6)
        emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 4000000).as("vec_id"), col("embedding"))
          .unionByName(
            emb.filter(col("vec_id") >= 100 && col("vec_id") % 40 === 20)
              .select((col("vec_id") + 2000000).as("vec_id"), col("embedding"))))
      val q = StreamingSemanticScreen.start(s, src, "vec_id", "embedding",
        s"$tmp/index", s"$tmp/vecs", s"$tmp/pairs", s"$tmp/cp",
        threshold = 0.999)
      StreamHarness.drain("e10", q)
      s.read.parquet(s"$tmp/pairs")
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
    }),

    // streaming vocabulary-novelty monitor: the ingest-time Heaps signal.
    // Seen-token set = a prefix-partitioned LSM store (the d09 recipe);
    // each batch counts its never-seen tokens against the pre-batch
    // state and appends them batch-keyed (exactly-once)
    "e13_streaming_vocab_novelty" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e13")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.streaming.StreamingVocabNovelty.seedTokens(
        docs.filter(col("doc_id") % 3 === 0), "text", s"$tmp/tokens",
        partitionedBase = true)
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2))
      val q = graft.streaming.StreamingVocabNovelty.start(s, src, "text",
        s"$tmp/tokens", s"$tmp/report", s"$tmp/cp")
      StreamHarness.drain("e13", q)
      graft.streaming.StreamingVocabNovelty.report(s, s"$tmp/report")
    }),

    // streaming data-quality monitor: per-micro-batch violation counts in
    // batch-keyed partitions (replay overwrites its own); drained report
    // == the batch audit — batch-local rules distribute directly, and
    // UniqueKey counts cross-batch duplicates through its persisted
    // key store (rows − newly-seen keys per batch sums to
    // count(*) − count(distinct key))
    "e12_streaming_dq" -> ((s, dir) => {
      import graft.operators.DqAudit.{ForeignKey, NotNull, RangeRule, UniqueKey}
      val tmp = StreamHarness.tempDir("e12")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("bigint").as("l_linenumber"),
          col("l_partkey"), col("l_quantity"))
      val src = StreamHarness.feed(tmp,
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1))
      val q = graft.streaming.StreamingDqMonitor.start(s, src, "lineitem",
        Map("part" -> t(s, dir, "part")),
        Seq(
          NotNull("qty_nn", "lineitem", "l_quantity"),
          RangeRule("qty_positive", "lineitem", col("l_quantity") <= 0),
          RangeRule("qty_under_30", "lineitem", col("l_quantity") >= 30),
          ForeignKey("li_part_fk", "lineitem", "l_partkey",
            "part", "p_partkey"),
          UniqueKey("partkey_unique", "lineitem", Seq("l_partkey"))),
        s"$tmp/counts", s"$tmp/cp")
      StreamHarness.drain("e12", q)
      graft.streaming.StreamingDqMonitor.report(s, s"$tmp/counts")
    }),

    // streaming conversion funnel: events arrive in two TIME-ORDERED
    // batches (the watermark contract); each batch extends incomplete
    // per-user chains in the LSM state store (delta-only writes).
    // Drained report == the batch funnel over everything streamed
    "e14_streaming_funnel" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e14")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts"))
      val mid = {
        val r = ev.agg(min(col("ts")), max(col("ts"))).head()
        (r.getLong(0) + r.getLong(1)) / 2
      }
      val src = StreamHarness.feed(tmp,
        ev.filter(col("ts") < mid), ev.filter(col("ts") >= mid))
      val q = graft.streaming.StreamingFunnel.start(s, src, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e14", q)
      graft.streaming.StreamingFunnel.report(s, s"$tmp/state", "user_id",
        Seq("view", "click", "purchase"))
    }),

    // streaming substring index: documents arrive in two batches, the
    // trigram posting lists and texts accumulate as LSM state; a search
    // after draining answers from the index (pattern-gram-pruned probe +
    // candidate-pruned verify) and equals the full-scan contains truth
    "e15_streaming_substring_index" -> ((s, dir) => {
      import s.implicits._
      val tmp = StreamHarness.tempDir("e15")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val q = graft.streaming.StreamingSubstringIndex.start(s, src,
        "doc_id", "text", s"$tmp/index", s"$tmp/docs", s"$tmp/cp")
      StreamHarness.drain("e15", q)
      val p1 = docs.filter(col("doc_id") === 1)
        .select(expr("substring(text, 6, 10)")).head().getString(0)
      val pats = Seq(p1, "zzqqxxneverthere", "ab").toDF("pattern")
      graft.streaming.StreamingSubstringIndex.search(s, s"$tmp/index",
        s"$tmp/docs", "doc_id", pats, "pattern")
    }),

    // streaming incremental entity resolution: part rows arrive in two
    // id-range batches (the monotone-ids contract); each batch fuzzy-
    // matches its NEW names against the accumulated vocabulary (SymSpell)
    // and folds the edges into the persisted cluster map with the c13
    // contracted-graph machinery. Drained map == the batch ER closure
    "e11_streaming_entity_resolution" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e11")
      val parts = t(s, dir, "part").select("p_partkey", "p_name")
      val mid = 1000L
      val src = StreamHarness.feed(tmp,
        parts.filter(col("p_partkey") < mid),
        parts.filter(col("p_partkey") >= mid))
      val q = StreamingEntityResolution.start(s, src, "p_partkey", "p_name",
        s"$tmp/names", s"$tmp/map", s"$tmp/cp", maxDist = 1)
      StreamHarness.drain("e11", q)
      parts
        .join(StreamingEntityResolution.resolvedMap(s, s"$tmp/names",
          s"$tmp/map").withColumnRenamed("name", "p_name"), "p_name")
        .select(col("p_partkey"), col("cluster_id"))
    }),

    // per-user event-rate anomaly screen: hourly activity counts z-scored
    // against the user's OWN active-hour history — exact integer sums
    // (hours, Σn, Σn²) feed deterministic double moments, so the z and
    // the flag replay bit-for-bit. Two bucket-bounded aggregates + one
    // equi-join on user_id; constant or single-hour histories z to 0
    "e07_rate_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts div 3600000000000").as("hour_idx"))
      val perHour = ev.groupBy("user_id", "hour_idx")
        .agg(count(lit(1)).as("n_events"))
      val moments = perHour.groupBy("user_id").agg(
        count(lit(1)).as("m"),
        sum(col("n_events")).as("s1"),
        sum(col("n_events") * col("n_events")).as("s2"))
      val mean = col("s1").cast("double") / col("m").cast("double")
      val variance = col("s2").cast("double") / col("m").cast("double") - mean * mean
      val z = when(col("m") > 1 && variance > 0.0,
        (col("n_events").cast("double") - mean) / sqrt(variance))
        .otherwise(lit(0.0))
      perHour.join(moments, "user_id")
        .select(col("user_id"), col("hour_idx"), col("n_events"),
          (round(z, 4) + lit(0.0)).as("z"),
          (abs(z) > lit(2.0)).as("is_anomaly"))
    }),

    "e02_sessionization" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("session_value"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("n_events"), col("session_value"))),

    "q1_agg" -> ((s, dir) => q1Agg(s, dir)),

    // engine breadth beyond migrator parity: rollup, set ops, functions
    "g01_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty"))),

    "g02_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 1000).select("c_custkey")
      a.intersect(b).withColumn("tag", lit("both"))
        .unionByName(a.exceptAll(b).withColumn("tag", lit("only_building")))
    }),

    "f01_string_funcs" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 10, 5).as("mid"),
        regexp_replace(col("c_name"), "Customer", "C").as("short_name"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        length(col("c_name")).as("name_len"))),

    "f03_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))),

    // quantile SKETCH surface: approx_percentile is Spark's mergeable
    // one-pass sketch (map-side partials, bounded state — the 100 TB shape
    // for quantiles; exact percentile() sorts per group). Gated like a01:
    // the oracle pins the exact quantiles and the sketch's rank-error
    // contract, not sketch internals (engine-specific by nature)
    "a02_approx_quantiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          // ONE exact-percentile aggregate evaluates the whole probe array
          // in a single per-group pass (six separate calls would sort the
          // group six times); same for the sketch pair
          expr("percentile(o_totalprice, array(0.49, 0.5, 0.51, 0.94, 0.95, 0.96))")
            .as("__ex"),
          expr("approx_percentile(o_totalprice, array(0.5, 0.95), 5000)").as("__ap"))
        .select(col("o_orderpriority"),
          round(element_at(col("__ex"), 2), 4).as("p50_exact"),
          round(element_at(col("__ex"), 5), 4).as("p95_exact"),
          // accuracy 5000 => rank error <= 1/5000; a +-0.01-quantile
          // bracket is 50x that margin
          (element_at(col("__ap"), 1) >= element_at(col("__ex"), 1) &&
            element_at(col("__ap"), 1) <= element_at(col("__ex"), 3))
            .as("p50_in_bracket"),
          (element_at(col("__ap"), 2) >= element_at(col("__ex"), 4) &&
            element_at(col("__ap"), 2) <= element_at(col("__ex"), 6))
            .as("p95_in_bracket"))),

    // custom sketch aggregate (TypedImperativeAggregate) — the oracle checks
    // the exact count plus the sketch's error-bound contract (|err| <= 5%,
    // comfortably above the 2^12-register HLL's ~1.6% standard error)
    "a01_hll_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        GraftFunctions.hll_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) /
            col("exact_parts") <= 0.05).as("within_5pct"))),

    // grouped HLL: one constant-size sketch per group, partial-merged
    // map-side — the per-domain/per-shard cardinality shape; gated like
    // a01 (exact counts pinned, sketch within its error envelope)
    "a03_hll_groups" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        GraftFunctions.hll_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) /
            col("exact_parts") <= 0.05).as("within_5pct"))),

    // KMV bottom-k sketch: per-language deterministic sample + distinct
    // estimator, exactly replayable (40-bit hashes are double-exact in
    // the heap, so engine ordering == the oracle's integer ordering)
    "a05_bottomk_sample" -> ((s, dir) =>
      TextAnalysis.bottomKSample(t(s, dir, "documents"), "lang", "doc_id",
        "text", k = 8)),

    // cross-crawl overlap planning from mergeable KMV sketches: crawl A =
    // the corpus; crawl B re-crawls every even doc verbatim and
    // "discovers" first-word-stripped variants of the odd docs, so the
    // true content overlap is the even half. One sketch pass estimates
    // |A|, |B|, |A∪B|, Jaccard and |A∩B| next to their exact values —
    // the number that decides whether a cross-crawl dedup join is worth
    // paying for, WITHOUT paying for it
    "a06_kmv_setops" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val crawlA = docs
        .withColumn("__ca", lit(true)).withColumn("__cb", lit(false))
      val crawlB = docs.filter(col("doc_id") % 2 === 0)
        .unionByName(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s", "").as("text")))
        .withColumn("__ca", lit(false)).withColumn("__cb", lit(true))
      TextAnalysis.kmvSetOps(crawlA.unionByName(crawlB), "text",
        col("__ca"), col("__cb"), k = 64)
    }),

    // count-min sketch: frequency estimates for every corpus token,
    // gated by the sketch's structural guarantees (never underestimates;
    // within the eps·N bound) against exact relational counts — the a01
    // pattern. The sketch is ONE collected row embedded as a literal and
    // probed by a reference-cached kernel (the b01 literal-probe shape).
    "a04_count_min" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(
          explode(split(graft.operators.Dedup.normalized(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
      // sketch and token total ride ONE aggregate — two eager passes over
      // the tokenized corpus was pure waste
      val model = toks
        .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)"),
          count(lit(1)))
        .collect()(0)
      val sketch = model.getAs[Array[Byte]](0)
      val total = model.getLong(1)
      val est = GraftFunctions.cms_estimate(lit(sketch), col("token"))
      val bound = math.max(1L, math.ceil(0.001 * total).toLong)
      toks.groupBy("token").agg(count(lit(1)).as("n"))
        .select(col("token"), col("n"),
          (est >= col("n")).as("overestimates"),
          (est <= col("n") + lit(bound)).as("within_bound"))
    }),

    // scalar array-function surface (construct/sort/fold/position) — array
    // OUTPUTS are avoided (engine list renderings differ); every result is
    // a scalar both engines agree on bit-for-bit
    "f04_array_funcs" -> ((s, dir) => {
      val arr = array(col("l_quantity"), col("l_linenumber") * 10.0,
        col("l_discount") * 100.0)
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        element_at(sort_array(arr), 1).as("arr_min"),
        aggregate(arr, lit(0.0), (a, x) => a + x).as("arr_sum"),
        array_position(sort_array(arr), col("l_quantity")).as("qty_pos"))
    }),

    "f02_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_98"))),

    // ------------------------------------------------- LLM pipeline: dedup
    "d01_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactKeepFirst(doubled, "doc_id", Seq("text")).select("doc_id", "text")
    }),

    "d02_dedup_norm_md5" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        upper(concat(lit("  "), col("text"))).as("text"))
      Dedup.normalizedDedup(docs.unionByName(mangled), "doc_id", "text")
        .select(col("doc_id"), md5(Dedup.normalized(col("text"))).as("fp"))
    }),

    "d03_minhash_pairs" -> ((s, dir) => {
      // planted near-dups: copy of each doc with its first word dropped
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      Dedup.minhashNearDupPairs(docs.unionByName(mangled), "doc_id", "text",
        threshold = 0.7)
        .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // threshold-sensitivity curve over the d03 corpus: ONE pair pass at
    // the loosest threshold, per-threshold pair/doc counts — the tuning
    // report before fixing a production dedup threshold. Swept inside
    // d03's banding regime, so its 100%-recall-on-this-corpus argument
    // carries to every swept point
    "d19_dedup_sensitivity" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      Dedup.dedupSensitivity(docs.unionByName(mangled), "doc_id", "text",
        thresholds = Seq(0.7, 0.8, 0.9))
    }),

    // incremental dedup: the d03 mangled copies arrive as a NEW delta and
    // dedup against the stored corpus index — only delta-involving pairs
    // emerge, with the same verification semantics as the batch run
    "d08_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val delta = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val index = Dedup.lshBuckets(docs, "doc_id", "text")
      // this fixture's delta is CORPUS-scale (every doc re-arrives), so
      // the broadcast touched-bucket restriction is pure overhead here —
      // shuffle posture; the streaming d09 path keeps the broadcast one
      Dedup.minhashNearDupPairsIncremental(index, docs, delta,
        "doc_id", "text", threshold = 0.7, restrictToTouched = false)
        .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // the keep step after incremental screening: delta docs that matched
    // NOTHING — neither the corpus nor another delta doc — i.e. exactly
    // what a crawl pipeline appends to the corpus. One left-anti join
    // against the union of both pair sides. The delta mixes near-dup
    // copies (even ids — dropped) with genuinely novel md5-hex docs (odd
    // ids — kept), so BOTH verdicts are exercised and a
    // trivially-empty-result bug cannot pass
    "d10_neardup_free" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val nearDup = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val novel = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat_ws(" ", md5(col("text")), md5(concat(col("text"), lit("x"))),
            md5(concat(col("text"), lit("y")))).as("text"))
      val delta = nearDup.unionByName(novel)
      val index = Dedup.lshBuckets(docs, "doc_id", "text")
      val pairs = Dedup.minhashNearDupPairsIncremental(index, docs, delta,
        "doc_id", "text", threshold = 0.7, restrictToTouched = false)
      Dedup.filterNearDupFree(delta, pairs, "doc_id").select("doc_id")
    }),

    // asymmetric (overlap-coefficient) near-dup: each doc's first HALF
    // (word-boundary truncation) is planted as a separate doc — its word
    // grams are an exact subset of the source's, so overlap = 1.0 while
    // Jaccard ≈ 0.5 (d03's threshold would miss every planted pair).
    // Candidates via AllPairs prefix filtering on the global
    // rarest-first gram order
    "d11_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val truncated = docs.select((col("doc_id") + 2000000).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, " +
          "cast(ceil(size(split(text, ' ')) / 2.0) as int)), ' ')")
          .as("text"))
      Dedup.containmentPairs(docs.unionByName(truncated), "doc_id", "text",
        threshold = 0.9)
    }),

    // weighted all-pairs cosine over unit tf-idf vectors (the Bayardo
    // AllPairs WEIGHTED case — d11 is the unweighted-set variant): the
    // max-weight prefix bound keeps high-df terms' corpus-sized posting
    // lists out of the candidate join; brute-force relational oracle
    "d22_tfidf_allpairs" -> ((s, dir) =>
      Dedup.tfidfAllPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.9)),

    // weighted (multiset) Jaccard near-dup over 3-word shingles: the d03
    // corpus plus DOUBLED copies (text repeated twice, +2e6) — each
    // shingle's multiplicity doubles, so the doubled copy is weighted-J
    // ~0.5 against its original (set Jaccard would say ~1.0) and is
    // correctly EXCLUDED at 0.7, while the first-word-dropped copies
    // (+1e6) are found; oracle = exact all-pairs weighted Jaccard via
    // the sum-min identity (Σmax = TA+TB-Σmin), join degree bounded by
    // shingle near-uniqueness (a single-token join key would be Σ df²
    // quadratic in any engine)
    "d23_weighted_jaccard_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val doubled = docs.select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      Dedup.weightedNearDupPairs(
          docs.unionByName(mangled).unionByName(doubled),
          "doc_id", "text", threshold = 0.7)
        .select(col("idA"), col("idB"), round(col("wjaccard"), 4).as("wjaccard"))
    }),

    // the STREAMING composition of d08: persistent parquet index state,
    // two MICRO-batches folded through foreachBatch — batch 1 (doc ids
    // ≡ 0 mod 10, +1e6) dedups against the seeded corpus, batch 2 (ids
    // ≡ 5 mod 10, +2e6) against corpus ∪ batch 1; the drained pair set
    // equals the batch truth restricted to streamed-involving pairs, each
    // pair exactly once. Batches are delta-scale (10% of the corpus), so
    // the query exercises the streaming posture for real: the broadcast
    // touched-bucket restriction keeps the corpus index un-shuffled
    "d09_streaming_neardup" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("d09")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      StreamingNearDup.seedIndex(docs, "doc_id", "text",
        s"$tmp/index", s"$tmp/docs")
      val stripped = regexp_replace(col("text"), "^\\S+\\s", "").as("text")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), stripped),
        docs.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 2000000).as("doc_id"), stripped))
      val q = StreamingNearDup.start(s, src, "doc_id", "text",
        s"$tmp/index", s"$tmp/docs", s"$tmp/pairs", s"$tmp/cp",
        threshold = 0.7)
StreamHarness.drain("d09", q)
      s.read.parquet(s"$tmp/pairs")
        .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // the STREAMING composition of c07: quality gate -> graded
    // decontamination -> cross-batch exact dedup with parquet fingerprint
    // state. Batch 0 (doc ids ≡ 0 mod 3) seeds the fingerprint index as
    // the already-curated corpus; batches 1 and 2 stream in order, each
    // deduping against the seed plus every earlier batch. Which duplicate
    // survives is decided by batch order (earliest batch, then min id) —
    // the oracle replays that order relationally
    "e05_streaming_curation" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e05")
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("text"), col("lang"))
      val evalDocs = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      StreamingCuration.seedFingerprints(
        docs.filter(col("doc_id") % 3 === 0), "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2))
      val q = StreamingCuration.start(s, src, evalDocs, "doc_id", "text",
        "lang", s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
StreamHarness.drain("e05", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // config-as-query ON THE STREAMING PATH: e05's exact fixture, but the
    // per-batch screen (quality gate + decontamination) is DECLARED AS
    // YAML and compiled through the same StagePipeline registry c31 uses,
    // bound onto the streaming curation fold — the reference's identity
    // (a YAML definition executed as a stream) generalized to the LLM
    // family. Gated VERBATIM by e05's oracle: the declared pipeline and
    // the code-built screen provably cannot drift
    "e35_streaming_config_curation" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e35")
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("text"), col("lang"))
      val evalDocs = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      StreamingCuration.seedFingerprints(
        docs.filter(col("doc_id") % 3 === 0), "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2))
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: streaming-curation
          |  stages:
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |    - stage: decontaminate
          |      options:
          |        eval: benchmark
          |        n: "5"
          |        threshold: "0.5"
          |""".stripMargin)
      val q = StreamingCuration.startFromConfig(s, src, cfg,
        Map("benchmark" -> evalDocs), "doc_id", "text", "lang",
        s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
      StreamHarness.drain("e35", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // streaming drift monitor: the reference third of the corpus vs the
    // other two thirds streamed in (drifted by stripping the first word)
    // across 2 micro-batches; the drained monitor's published PSI must
    // equal the batch psiDrift of the full streamed set — same shared
    // arithmetic, same oracle shape as c09
    "e06_streaming_drift" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e06")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val ref = docs.filter(col("doc_id") % 3 === 0)
        .select(TextAnalysis.qualityScore(col("text")).as("quality"))
      val streamed = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val src = StreamHarness.feed(tmp,
        streamed.filter(col("doc_id") % 3 === 1),
        streamed.filter(col("doc_id") % 3 === 2))
        .select(TextAnalysis.qualityScore(col("text")).as("quality"))
      val q = StreamingDrift.start(s, src, ref, "quality",
        s"$tmp/counts", s"$tmp/psi", s"$tmp/cp")
      StreamHarness.drain("e06", q)
      s.read.parquet(s"$tmp/psi")
        .select("bucket", "n_a", "n_b", "frac_a", "frac_b", "psi_term")
    }),

    "d04_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      Dedup.simhashNearDupPairs(docs.unionByName(mangled), "doc_id", "text",
        maxHamming = 3)
    }),

    "d05_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("idA"), (col("doc_id") + 1).as("idB"))
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // pairs → duplicate GROUPS: connected components (pointer-jumping
    // min-label propagation) over the d03 near-dup pair list; every doc
    // gets the min reachable id as its cluster, singletons keep their own
    "d06_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val all = docs.unionByName(mangled)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text", threshold = 0.7)
      Dedup.clusterAssignments(pairs.select("idA", "idB"),
        all.select("doc_id"), "doc_id")
    }),

    // deterministic mixture-recipe sampler: exactly-n-per-source via the
    // mix64 race (quota > population returns the whole stratum; strata
    // off the recipe are excluded)
    "c16_mixture_sample" -> ((s, dir) =>
      graft.operators.CorpusStats.mixtureSample(
        t(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id",
        Map("src0" -> 12, "src1" -> 7, "src5" -> 1000))),

    // XLM/mT5 alpha-temperature mixture: targets computed FROM the
    // observed token shares (q ∝ p^0.3), no hand-picked map — the
    // low-resource languages get upsampled automatically
    "c17_temperature_mixture" -> ((s, dir) =>
      TextAnalysis.temperatureMixture(t(s, dir, "documents"), "lang", "text",
        alpha = 0.3)),

    // token-budget plan: a 10M-token target under the c17 alpha=0.3
    // mixture — per language, the tokens the mixture demands and the
    // EPOCHS of that language it implies (epochs > 1 = repetition, the
    // data-constrained-scaling diagnostic)
    "c27_token_budget_plan" -> ((s, dir) =>
      TextAnalysis.tokenBudgetPlan(t(s, dir, "documents"), "lang", "text",
        targetTokens = 10000000L, alpha = 0.3)),

    // temperature-sensitivity sweep: the c27 planner at every candidate
    // α from ONE corpus pass (bounded explode over the literal α array)
    "c32_temperature_sensitivity" -> ((s, dir) =>
      TextAnalysis.temperatureSensitivity(t(s, dir, "documents"), "lang",
        "text", targetTokens = 10000000L, alphas = Seq(0.2, 0.3, 0.5, 1.0))),

    // relational data-quality audit: null / unique-key / referential /
    // range rules over the warehouse tables, exact violation counts —
    // the set-level pre-flight before O19's per-row dead-letter split.
    // Per-table scalar rules fuse into ONE conditional aggregation
    "v01_dq_audit" -> ((s, dir) => {
      import graft.operators.DqAudit
      import graft.operators.DqAudit._
      DqAudit.run(
        Map("customer" -> t(s, dir, "customer"),
          "orders" -> t(s, dir, "orders"),
          "lineitem" -> t(s, dir, "lineitem"),
          "part" -> t(s, dir, "part")),
        Seq(
          NotNull("cust_name_nn", "customer", "c_name"),
          NotNull("order_date_nn", "orders", "o_orderdate"),
          RangeRule("qty_positive", "lineitem", col("l_quantity") <= 0),
          RangeRule("qty_under_30", "lineitem", col("l_quantity") >= 30),
          RangeRule("price_nonneg", "orders", col("o_totalprice") < 0),
          UniqueKey("cust_pk", "customer", Seq("c_custkey")),
          UniqueKey("li_pk", "lineitem", Seq("l_orderkey", "l_linenumber")),
          ForeignKey("order_cust_fk", "orders", "o_custkey",
            "customer", "c_custkey"),
          ForeignKey("li_part_fk", "lineitem", "l_partkey",
            "part", "p_partkey"),
          ForeignKey("li_order_fk", "lineitem", "l_orderkey",
            "orders", "o_orderkey")))
    }),

    // cross-source duplication matrix: exact word-5-gram Jaccard per
    // source pair — the which-feed-mirrors-which governance report
    "d13_source_overlap" -> ((s, dir) =>
      graft.operators.CorpusStats.sourceOverlap(
        t(s, dir, "documents"), "source", "text")),

    // catalog-scale variant: a KMV-sketch pass shortlists candidate
    // source pairs above a Jaccard floor, the exact gram join runs only
    // over shortlisted sources. Fixture plants a mirror (first-word-
    // stripped crawl) and a disjoint catalog feed — the mirror pair
    // survives, every catalog pair is screened out before the exact join
    "d14_source_overlap_shortlist" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val src = docs.select(lit("crawl_a").as("source"), col("text"))
        .unionByName(docs.select(lit("crawl_b").as("source"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text")))
        .unionByName(t(s, dir, "part")
          .select(lit("catalog").as("source"), col("p_name").as("text")))
      graft.operators.CorpusStats.sourceOverlapShortlisted(
        src, "source", "text", shingleK = 5, sketchK = 128,
        minJaccard = 0.2)
    }),

    // winnowing (MOSS) overlap detection: planted near-dups as in d03;
    // k=16 char grams, window 16 → any shared run >= 31 chars is
    // guaranteed to share a fingerprint at ~12% of the gram-index size.
    // k=16 (not 8): 16-char grams are high-entropy, so genuine copies
    // share fingerprints in TINY buckets (size ~2) and the family-default
    // 1000-cap skew guard never touches them — measured at sf0.1, the
    // same recall as k=8 at 30x less pair-join work (r10 verdict #1).
    // minShared=14 sits in the measured gap between the common-phrase
    // noise floor and the planted copies
    "d15_winnowing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      Dedup.winnowingPairs(docs.unionByName(mangled), "doc_id", "text",
        k = 16, window = 16, minShared = 14)
    }),

    // the two-stage MOSS pipeline the d15 operator was built to feed
    // (r10 verdict #3): winnowing shortlists doc pairs cheaply, span
    // dedup's expensive per-gram explode runs ONLY over shortlisted docs
    // (left-semi on id). Only every 10th doc gets a copy (d07's
    // drop-first-word + unique-tail shape) — the realistic mostly-clean
    // corpus where the shortlist restriction actually pays: ~80% of docs
    // never reach the gram stage. Oracle = the full d07 construction
    // restricted to the shortlist
    "d18_winnowed_span_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(regexp_replace(col("text"), "^\\S+\\s", ""),
            lit(" u"), col("doc_id").cast("string")).as("text"))
      Dedup.winnowedSpanDedup(docs.unionByName(mangled), "doc_id", "text",
        k = 16, window = 16, minShared = 14, n = 8)
    }),

    // cluster-cohesion audit over the d06 graph: edge/triangle density
    // per duplicate cluster — the chained-merge detector. Same pairs,
    // same closure, one wedge join over skinny (long, long) edges
    "d12_cluster_cohesion" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val all = docs.unionByName(mangled)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text", threshold = 0.7)
        .localCheckpoint(true)
      val clusters = Dedup.clusterAssignments(pairs.select("idA", "idB"),
        all.select("doc_id"), "doc_id")
      Dedup.clusterCohesion(pairs, clusters, "doc_id")
    }),

    // incremental cluster maintenance: the d06 closure REBUILT without a
    // corpus-scale recompute — base clusters over the original docs
    // persist conceptually as the nightly artifact, then the mangled
    // near-dups arrive as a crawl increment whose pairs fold in through
    // a contracted super-node graph; the result must be row-identical to
    // the batch closure over the union (the d06 oracle gates it)
    "c13_incremental_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val basePairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7)
      val baseClusters = Dedup.clusterAssignments(basePairs.select("idA", "idB"),
        docs.select("doc_id"), "doc_id")
      val deltaPairs = Dedup.minhashNearDupPairsIncremental(
        Dedup.lshBuckets(docs, "doc_id", "text"), docs, mangled,
        "doc_id", "text", threshold = 0.7)
      Dedup.clusterAssignmentsIncremental(baseClusters,
        mangled.select("doc_id"), deltaPairs.select("idA", "idB"), "doc_id")
    }),

    // entity resolution end-to-end: fuzzy-match part names (Ed-Join d=1),
    // transitively close the match graph, pick each entity's canonical
    // row. Scale shape: the string graph is resolved over DISTINCT names
    // (vocabulary-scale — |names| << |rows|), rows map back through the
    // tiny name->cluster frame (AQE broadcasts it), reps via the bounded
    // 1-heap argmax — the d06/c06 machinery composed with j11's matcher
    "c14_entity_resolution" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      val names = parts.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      val pairs = graft.operators.FuzzyJoin.editDistanceSelfJoin(
        names.select(col("name_id"), col("p_name")), "name_id", "p_name",
        maxDist = 1)
      val clusters = Dedup.clusterAssignments(
        pairs.select(col("id_a").as("idA"), col("id_b").as("idB")),
        names.select(col("name_id")), "name_id")
      val assigned = parts.join(names, "p_name").join(clusters, "name_id")
        .select(col("p_partkey"), col("cluster_id"))
      Dedup.clusterRepresentatives(assigned,
        parts.select(col("p_partkey"), col("p_retailprice").as("score")),
        "p_partkey", "cluster_id", "score")
    }),

    // quality-aware cluster survivor: d06's clusters, but the kept copy is
    // the HIGHEST-quality member (bounded-heap argmax, ties -> smallest
    // id) — curation keeps the best duplicate, not an arbitrary one
    "c06_cluster_reps" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val all = docs.unionByName(mangled)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text", threshold = 0.7)
      val clusters = Dedup.clusterAssignments(pairs.select("idA", "idB"),
        all.select("doc_id"), "doc_id")
      val scored = all.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Dedup.clusterRepresentatives(clusters, scored,
        "doc_id", "cluster_id", "quality")
    }),

    "d07_span_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // near-dup corpus: each doc's copy drops the first word and gains a
      // unique tail token, so the copy's leading span duplicates the
      // original (trimmed) while its tail grams stay unique (kept)
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(regexp_replace(col("text"), "^\\S+\\s", ""),
          lit(" u"), col("doc_id").cast("string")).as("text"))
      Dedup.removeDuplicatedSpans(docs.unionByName(mangled), "doc_id", "text",
        n = 8)
    }),

    // exact-substring dedup (the real Lee et al. ExactSubstr): same
    // planted near-dup corpus as d07 but a different threshold (6 tokens)
    // and exact window-content classes instead of 64-bit gram hashes;
    // natural 6-token repeats inside the fixture corpus are in scope too,
    // the oracle replays them on gram STRINGS
    "d20_exact_substr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(regexp_replace(col("text"), "^\\S+\\s", ""),
          lit(" u"), col("doc_id").cast("string")).as("text"))
      Dedup.exactSubstrDedup(docs.unionByName(mangled), "doc_id", "text",
        minLen = 6)
    }),

    // iterated exact-substring dedup: two full passes, the second over
    // the first's rebuilt text — n_residual certifies how
    // far from the zero-duplicated-spans fixpoint one pass landed
    "d21_exact_substr_iterated" -> ((s, dir) => {
      // half the corpus: d20 already gates the full planted fixture;
      // this gate proves ITERATION semantics, and two full passes at
      // full size would double-pay d20's bench cost for no extra power
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 2 === 0)
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(regexp_replace(col("text"), "^\\S+\\s", ""),
          lit(" u"), col("doc_id").cast("string")).as("text"))
      Dedup.exactSubstrDedupIterated(docs.unionByName(mangled),
        "doc_id", "text", minLen = 6, passes = 2)
    }),

    // -------------------------------------------- LLM pipeline: similarity
    "s01_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.bruteForceTopK(corpus, queries,
          "vec_id", "embedding", "query_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // filtered vector search: per query, top-5 among corpus vectors of
    // the QUERY'S OWN category (planted vec_id % 4 metadata) — the
    // predicate applies inside the probed lists, before the heap.
    // Full probe (nprobe = numCentroids) makes the IVF plan exact, so
    // the oracle is the filtered brute-force truth; partial-probe
    // recall is spec'd against the brute-force baseline
    "s28_filtered_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("category", col("vec_id") % 4)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("category").as("q_category"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.filteredIvfTopK(corpus, queries,
          "vec_id", "embedding", "query_id", "embedding", k = 5,
          pairFilter = col("category") === col("q_category"),
          numCentroids = 8, nprobe = 8)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // MMR diversified top-5: greedy relevance-minus-redundancy selection
    // over a top-20 relevance pool — k tiny argmax rounds, replayed
    // round-for-round by the oracle
    "s29_mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.mmrTopK(corpus, queries,
          "vec_id", "embedding", "query_id", "embedding",
          k = 5, lambda = 0.7, poolSize = 20)
        .select(col("query_id"), col("vec_id"), col("round"),
          (round(col("mmr"), 6) + lit(0.0)).as("mmr"))
    }),

    // hard-negative mining: per query, the 5 most similar vectors with a
    // DIFFERENT label — the contrastive-training negatives that move the
    // loss. Label filter runs before the bounded heap
    "s17_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.hardNegatives(corpus, queries,
          "vec_id", "embedding", "label", "query_id", "embedding", "label",
          k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"),
          (round(col("cosine"), 6) + lit(0.0)).as("cosine"))
    }),

    // hard negatives at banked-corpus scale: s17's label-mismatch
    // contract over IVF candidate lists — full probe makes the plan
    // exact, so the brute-force oracle gates the SCALE PATH itself
    // (the s28 recipe); partial-probe recall is spec'd in SimilaritySpec
    "s40_hard_negatives_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.hardNegativesIvf(corpus, queries,
          "vec_id", "embedding", "label", "query_id", "embedding", "label",
          k = 5, numCentroids = 8, nprobe = 8)
        .select(col("query_id"), col("vec_id"), col("rank"),
          (round(col("cosine"), 6) + lit(0.0)).as("cosine"))
    }),

    // ANN index-quality evaluation: recall@20 of the multi-probe LSH
    // index against exact brute force, per query — the number that
    // decides whether the cheap index is good enough to replace the
    // exact scan at corpus scale. Both rankings replay exactly (planes
    // inlined in the oracle), so recall is gated as integers
    // IVF probe-curve: true recall@10 vs candidate cost for nprobe in
    // {1,2,4,16} against explicit centroids (the first 16 corpus
    // vectors — a deterministic, oracle-replayable model); nprobe=16
    // probes every list, so the top row must read recall 1.0
    "s35_ivf_probe_curve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      // bounded plan-time model: 16 centroid vectors
      val cents = corpus.filter(col("vec_id") <= 25).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.ivfProbeCurve(corpus, queries, "vec_id", "embedding",
        "query_id", "embedding", k = 10, cents, Seq(1, 2, 4, 16))
    }),

    "s18_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      val exact = Similarity.bruteForceTopK(corpus, queries,
          "vec_id", "embedding", "query_id", "embedding", k = 20)
        .select("query_id", "vec_id")
      val approx = Similarity.lshTopK(corpus, queries,
          "vec_id", "embedding", "query_id", "embedding",
          k = 20, dim = 64, numPlanes = 8)
        .select("query_id", "vec_id")
      val hits = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      queries.select("query_id").join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (round(coalesce(col("hits"), lit(0L)).cast("double") / lit(20.0), 6)
            + lit(0.0)).as("recall_at_20"))
    }),

    // Matryoshka-style truncated-dim retrieval quality: overlap@20 of a
    // 16-dim prefix search against the full 64-dim ranking — the number
    // that decides whether cheap truncated search is good enough for a
    // first-stage retriever. Two broadcast-query scans + one skinny join;
    // overlap counts are integers, so the gate is exact
    "s13_truncated_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      def trunc(df: DataFrame): DataFrame =
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val full = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "query_id", "embedding", k = 20)
      val tr = Similarity.bruteForceTopK(trunc(corpus), trunc(queries),
        "vec_id", "embedding", "query_id", "embedding", k = 20)
      full.select("query_id", "vec_id")
        .join(tr.select("query_id", "vec_id").withColumn("__hit", lit(1)),
          Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("overlap_at_20"))
        .withColumn("recall_at_20",
          round(col("overlap_at_20") / lit(20.0), 6) + lit(0.0))
    }),

    // bucketed kNN graph: every vector's top-3 cosine neighbors within its
    // sign-LSH bucket. The planes are deterministic, so the oracle replays
    // the EXACT bucketing (plane values inlined as literals) — the graph
    // is gated end to end, not just spot-checked. maxBucketSize is set
    // above any fixture bucket so the skew guard provably drops nothing
    // here (the guard's own behavior is spec-tested via capBuckets)
    "s14_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", dim = 64, k = 3, numPlanes = 5,
          maxBucketSize = 1000000)
        .select(col("vec_id"), col("neighbor_id"),
          (round(col("cosine"), 6) + lit(0.0)).as("cosine"), col("rank"))),

    // graph centrality over the s14 neighbor structure: 3 damped PageRank
    // iterations — which vectors sit in the dense core of the similarity
    // graph (a data-selection signal). In-flow sums route through
    // DECIMAL(28,10); same graph parameters as s14, so the oracle replays
    // the exact bucketing and every iteration bit-for-bit
    "s15_graph_rank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.pageRank(emb.select("vec_id"), edges, "vec_id", "src", "dst",
          iters = 3, damping = 0.85)
        .select(col("vec_id"), (round(col("score"), 8) + lit(0.0)).as("score"))
    }),

    // k-core of the same graph: peel to the dense interior where every
    // member keeps >= 3 mutual-neighborhood edges — the data-selection
    // core vs the outlier shell; converged fixpoint, loud on overrun
    "s36_kcore" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.kCore(emb.select("vec_id"), edges, "vec_id", "src", "dst",
        k = 3, maxRounds = 30)
    }),

    // 3-truss backbone of the same kNN graph: every surviving edge
    // closes ≥1 triangle within the survivors — the edge-strength
    // analogue of s36 that prunes bridge edges degree alone keeps;
    // support peeling via the degree-ordered wedge join per round
    "s39_ktruss" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.kTruss(edges, "src", "dst", k = 3, maxRounds = 20)
    }),

    // HyperBall neighborhood function over the same kNN graph: per-round
    // reachable-pair counts N(t) from per-vertex HLL ball sketches; the
    // oracle recomputes TRUE ball memberships and replays the Mix64
    // register arithmetic + integer-exact estimate fold bit-for-bit
    "s37_neighborhood_function" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.neighborhoodFunction(emb.select("vec_id"), edges,
        "vec_id", "src", "dst", rounds = 3, p = 12)
    }),

    // effective diameter of the kNN graph at alpha = 0.9 — the
    // one-number connectivity readout over s37's neighborhood function
    // (discrete: the smallest hop count reaching 90% of final
    // reachability); same HyperBall rounds, one-row readout
    "g21_effective_diameter" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.effectiveDiameter(emb.select("vec_id"), edges,
        "vec_id", "src", "dst", rounds = 3, p = 12, alpha = 0.9)
    }),

    // hubness profile of the same graph: per-vector in-degree (how many
    // others chose it as a neighbor) — high-dim kNN graphs skew toward a
    // few hub vectors that drag retrieval quality. Integer-exact output
    "s16_knn_hubness" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.knnHubness(emb.select("vec_id"), edges, "vec_id", "src", "dst",
        hubThreshold = 6)
    }),

    // ANN correctness contract (see [[plantedQueries]]): the index must
    // return each planted query's source vector at rank 1, cosine 1.0 —
    // a missed bucket/probe/centroid drops the row and turns the gate red.
    "s02_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      plantedHit(Similarity.lshTopK(emb, plantedQueries(emb),
        "vec_id", "embedding", "query_id", "embedding",
        k = 5, dim = 64, numPlanes = 12))
    }),

    "s04_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      plantedHit(Similarity.ivfTopK(emb, plantedQueries(emb),
        "vec_id", "embedding", "query_id", "embedding",
        k = 5, numCentroids = 16, nprobe = 4))
    }),

    // IVF-PQ with ADC + exact re-rank (the Faiss IVF16,PQ8 shape): corpus
    // vectors collapse to 8 one-byte codes, candidates score by codebook
    // lookup, the final ranking is true cosine over the re-rank set — so
    // the planted identical-direction vector must surface at rank 1 with
    // cosine exactly 1.0, same contract as s04/s06
    "s19_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      plantedHit(Similarity.ivfPqTopK(emb, plantedQueries(emb),
        "vec_id", "embedding", "query_id", "embedding",
        k = 5, dim = 64, numCentroids = 16, nprobe = 4,
        m = 8, codesPerSub = 16, rerank = 32))
    }),

    // the s19 pipeline split across runs: train + persist the IVF-PQ
    // index (model parquet + code table) on the first 400 vectors, grow
    // it incrementally with the remaining 100 (encoded under the
    // PERSISTED codebooks — no retrain), then search from disk. The
    // planted-probe contract is structural, so it must survive the
    // persist/load/append round trip exactly; in-query-vs-loaded result
    // equality is additionally spec-pinned
    "s22_ann_index_persist" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("s22")
      val emb = t(s, dir, "embeddings")
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 400),
        "vec_id", "embedding", tmp, dim = 64,
        numCentroids = 16, m = 8, codesPerSub = 16)
      Similarity.encodeIntoIvfPqIndex(emb.filter(col("vec_id") >= 400),
        "vec_id", "embedding", tmp)
      plantedHit(Similarity.ivfPqTopKFromIndex(tmp, emb, plantedQueries(emb),
        "vec_id", "embedding", "query_id", "embedding",
        k = 5, nprobe = 4, rerank = 32))
    }),

    // distributed Lloyd k-means: 3 full refinement rounds over the corpus
    // (map-only assignment against centroid literals, DECIMAL-exact
    // per-(cluster,dim) mean updates), final membership + squared-L2
    // distance. The oracle replays every round's arithmetic verbatim
    "s23_kmeans_refine" -> ((s, dir) =>
      Similarity.kmeansRefine(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3)),

    // k-means++ seeding as a deterministic D2-weighted exponential race
    // (t28's uniform, s23's integer-grid distances) — replayable center
    // selection for kmeansRefine; pool < 100 keeps the unrolled oracle
    // bounded (the s21 convention)
    "s24_kmeanspp_seed" -> ((s, dir) =>
      Similarity.kmeansPlusPlusSeed(
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 6)),

    // embedding-space drift: both snapshots quantized under ONE fixed
    // deterministic codebook (snapshot A's 8 smallest-id vectors), then
    // PSI over the cluster histograms — the c09 drift machinery lifted
    // from scalar quality to embedding space. Map-only assignments,
    // cluster-bounded counts
    "s27_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val a = emb.filter(col("vec_id") < 250)
      val b = emb.filter(col("vec_id") >= 250)
      val cents = Similarity.seedCentroids(a, "vec_id", "embedding", 8)
      val ha = Similarity.assignToCentroids(a, "vec_id", "embedding", cents)
        .groupBy(col("cluster").as("bucket")).agg(count(lit(1)).as("n_a"))
      val hb = Similarity.assignToCentroids(b, "vec_id", "embedding", cents)
        .groupBy(col("cluster").as("bucket")).agg(count(lit(1)).as("n_b"))
      CorpusStats.psiFromCounts(ha, hb, a.count(), b.count())
    }),

    // JL sign random projection 64 -> 16: data-independent shrink, one
    // map-only pass, fmix64-derived plan-time sign matrix, 1e-9-grid
    // integer accumulation (order-proof); full mix64 + sum replay oracle
    "s25_random_projection" -> ((s, dir) =>
      Similarity.signRandomProjection(t(s, dir, "embeddings"),
        "vec_id", "embedding", outDim = 16)),

    "s03_cosine_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDupPairs(emb.unionByName(planted),
          "vec_id", "embedding", dim = 64, threshold = 0.999)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
    }),

    // int8 embedding quantization: per-vector scale, exact quantized
    // values, and the |x - q*scale| <= scale/2 reconstruction contract
    "s05_quantize_int8" -> ((s, dir) => {
      val q = Similarity.quantizeInt8(t(s, dir, "embeddings"), "embedding")
      val d = Similarity.dequantizeInt8(q, "embedding_q8", "embedding_scale", "recon")
      d.select(
        col("vec_id"),
        round(col("embedding_scale").cast("double"), 6).as("scale"),
        element_at(col("embedding_q8"), 1).as("q0"),
        (array_max(zip_with(col("embedding"), col("recon"),
          (x, y) => abs(x - y))) <= col("embedding_scale") * lit(0.51f))
          .as("recon_ok"))
    }),

    // retrieval over the QUANTIZED corpus: quantize both sides, search the
    // reconstructions. The planted ×2 queries keep the contract exact —
    // power-of-two scaling reconstructs exactly proportional vectors, so
    // the self hit is still rank 1 at cosine 1.0 (quantize → search is the
    // 4× memory-saving serving path, not just a storage trick)
    "s06_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def recon(df: DataFrame, idCol: String): DataFrame =
        Similarity.dequantizeInt8(
          Similarity.quantizeInt8(df, "embedding"),
          "embedding_q8", "embedding_scale", "recon")
          .select(col(idCol), col("recon").as("embedding"))
      plantedHit(Similarity.bruteForceTopK(
        recon(emb, "vec_id"), recon(plantedQueries(emb), "query_id"),
        "vec_id", "embedding", "query_id", "embedding", k = 5))
    }),

    // class prototypes: per-(label, position) exact means, DECIMAL-routed
    // so partition order can't perturb the float sum
    "s07_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), col("pos"), col("n"),
          round(col("centroid"), 6).as("centroid"))),

    // kNN majority-vote classification of the held-out queries against the
    // labeled corpus (bounded-heap top-k + one vote aggregate)
    "s08_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 10)
      Similarity.knnClassify(corpus, queries, "vec_id", "embedding",
        "query_id", "embedding", "label", k = 10)
    }),

    // per-dimension z-score normalization: DECIMAL-routed moments, fixed
    // double formulas, constant dims map to 0. `+ 0.0` canonicalizes a
    // rounded -0.0 to +0.0 (DuckDB's round preserves zero sign; Spark's
    // BigDecimal round does not — the two hash differently otherwise)
    "s10_standardize" -> ((s, dir) =>
      Similarity.standardizeDims(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("embedding_z")).as(Seq("pos", "z")))
        .select(col("vec_id"), col("pos"), (round(col("z"), 4) + lit(0.0)).as("z"))),

    // diversity selection: greedy max-min (farthest-point) coreset of 5
    // from the first 100 pool vectors; rank order, ids and max-min
    // scores all hash-pinned
    "s21_diverse_select" -> ((s, dir) =>
      Similarity.farthestPointSample(
          t(s, dir, "embeddings").filter(col("vec_id") < 100),
          "vec_id", "embedding", k = 5)
        .select(col("sel_rank"), col("vec_id"),
          (round(col("score"), 6) + lit(0.0)).as("score"))),

    // robust median/IQR scaling — outlier-insensitive sibling of s10
    "s20_robust_scale" -> ((s, dir) =>
      Similarity.robustScaleDims(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("embedding_r")).as(Seq("pos", "r")))
        .select(col("vec_id"), col("pos"), (round(col("r"), 4) + lit(0.0)).as("r"))),

    // top-principal-component projection: one distributed moment pass
    // (map-side outer products, (i,j)-keyed partial agg), dim²-bounded
    // covariance collected as plan-time model state, driver power
    // iteration with left-to-right fold order the oracle replays
    // bit-for-bit, then a MAP-ONLY projection apply
    "s11_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          iters = 10)
        .select(col("vec_id"),
          (round(col("pc1_proj"), 4) + lit(0.0)).as("proj"))),

    // the pruning step s11's projection exists for: drop the corpus tails
    // along the dominant variance axis (classic embedding-outlier
    // removal) using EXACT ventile boundaries of the rounded projection —
    // the s11 model pass composed with c08's domain-bounded quantile
    // machinery; keep ventiles 2..19 (the middle 90%)
    "c10_pca_outlier_prune" -> ((s, dir) => {
      val rounded = Similarity.pcaProject(t(s, dir, "embeddings"),
          "vec_id", "embedding", iters = 10)
        .select(col("vec_id"),
          (round(col("pc1_proj"), 4) + lit(0.0)).as("proj"))
      CorpusStats.curriculumBuckets(rounded, "proj", nBuckets = 20)
        .filter(col("bucket") > 1 && col("bucket") < 20)
        .select("vec_id", "proj", "bucket")
    }),

    // leakage-safe train/val split: the coin is tossed on the NEAR-DUP
    // CLUSTER label (d06's connected components over the doubled corpus),
    // so no near-duplicate pair straddles the boundary — the reason naive
    // per-doc splits leak training text into eval. Integer coin on the
    // mix64 avalanche of the cluster id (never a float compare)
    "c11_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val all = docs.unionByName(mangled)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text", threshold = 0.7)
      val clusters = Dedup.clusterAssignments(pairs.select("idA", "idB"),
        all.select("doc_id"), "doc_id")
      CorpusStats.leakageSafeSplit(clusters, "cluster_id", trainFrac = 0.9)
        .select("doc_id", "cluster_id", "split")
    }),

    // how much of the corpus variance the top PC captures — the number
    // that decides whether s11-style projection pruning is meaningful.
    // Scalars computed driver-side in the same replayable fold order;
    // emitted through Spark round() so both engines canonicalize alike
    "s12_pca_variance" -> ((s, dir) => {
      val (lambda, trace, ratio) = Similarity.pcaVarianceSummary(
        t(s, dir, "embeddings"), "embedding", iters = 10)
      s.range(1).select(
        (round(lit(lambda), 4) + lit(0.0)).as("lambda"),
        (round(lit(trace), 4) + lit(0.0)).as("total_var"),
        (round(lit(ratio), 6) + lit(0.0)).as("var_ratio"))
    }),

    // SemDeDup-style semantic dedup: planted ×2-scaled copies (exact
    // power-of-2 scaling — cosine with the source is EXACTLY 1.0 and every
    // centroid comparison is bit-identical, so the copy provably lands in
    // the source's cluster and collapses onto it)
    "s09_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Similarity.semanticDedup(emb.unionByName(planted), "vec_id", "embedding",
        numClusters = 16, threshold = 0.999)
    }),

    // ------------------------------------------ LLM pipeline: text analysis
    "t01_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))),

    "t02_quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))),

    // weighted sample without replacement: 50 docs drawn
    // proportional-to-length by the deterministic exponential race
    "t28_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 50, seed = 7L)
        .select(col("doc_id"), col("rank"),
          (col("key") + lit(0.0)).as("key"))),

    // language-ID confusion matrix: predicted vs labeled language counts
    // — the quality report a pipeline runs before trusting the cheap
    // classifier as a filter; one hash aggregate over map-only inference
    "t31_lang_confusion" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("hit", col("lang") === col("pred_lang"))),

    // PMI collocation mining: corpus-count pointwise mutual information
    // per adjacent bigram — vocabulary-bounded aggregates, full replay
    "t32_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minPairCount = 5)),

    // Heaps vocabulary-growth curve: cumulative tokens + distinct vocab
    // per ingested doc — first-occurrence agg + the e09 parallel prefix
    // sum, never a one-task global window
    "t33_heaps_growth" -> ((s, dir) =>
      TextAnalysis.heapsGrowth(t(s, dir, "documents"), "doc_id", "text")),

    // trigram-index substring search: posting-list intersection proposes,
    // exact contains verifies — output equals the full-scan truth. One
    // planted in-corpus pattern (a substring of doc 1), one miss, one
    // sub-q pattern taking the documented full-scan fallback
    "t34_trigram_search" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val p1 = docs.filter(col("doc_id") === 1)
        .select(expr("substring(text, 6, 10)")).head().getString(0)
      val pats = Seq(p1, "zzqqxxneverthere", "ab").toDF("pattern")
      TextAnalysis.substringSearch(docs, "doc_id", "text", pats, "pattern")
    }),

    // CCNet perplexity tertiles: bigram LM trained on the lang='en'
    // reference slice ONLY, every doc scored with zero-backoff left
    // joins, tertile buckets on the 3-rounded score (head = best
    // in-domain fit, tail = highest perplexity)
    "t35_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", nBuckets = 3)
        .select(col("doc_id"), col("n_bigrams"),
          (col("avg_logp") + lit(0.0)).as("avg_logp"), col("bucket"),
          element_at(typedLit(Seq("tail", "middle", "head")), col("bucket"))
            .as("label"))),

    // Zipf rank–frequency OLS fit over the top-1000 vocabulary ranks —
    // integer-scaled log coordinates make the sums exact on both engines
    "t36_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 1000)),

    // Gopher rule battery: every ratio threshold as a cross-multiplied
    // INTEGER comparison — no float anywhere, flags cannot disagree
    "t40_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")),

    // blocklist phrase scan: exact overlapping occurrence counts at word
    // boundaries via the codegen word-shingle kernel + broadcast phrase
    // hashes — "batch batch" hits twice inside "batch batch batch"
    "t43_phrase_hits" -> ((s, dir) =>
      TextAnalysis.phraseHits(t(s, dir, "documents"), "doc_id", "text",
        Seq("table scan", "batch batch", "batch batch batch",
          "quantum flux capacitor"))),

    // Cohen's kappa between the declared lang metadata and the t01
    // language-ID prediction — the annotation-QA scalar over the t31
    // confusion matrix: observed agreement corrected for the chance
    // agreement of independent raters with these marginals. Integer
    // contingency terms, ONE final division
    "t44_agreement_kappa" -> ((s, dir) => {
      val labeled = t(s, dir, "documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("pred_lang"))
      CorpusStats.cohensKappa(labeled, "lang", "pred_lang")
    }),

    // Krippendorff's alpha over a fabricated multi-rater table: three
    // raters per doc with ~1/7 of ratings deterministically dropped
    // (variable m_u including unpairable units), labels = id bucket
    // with a per-rater perturbation — the kappa generalization for
    // missing ratings and any rater count
    "t49_krippendorff_alpha" -> ((s, dir) => {
      val ratings = t(s, dir, "documents").select(col("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("rater"))
        .filter((col("doc_id") + col("rater") * 13) % 7 =!= 0)
        .select(col("doc_id"), col("rater"),
          ((col("doc_id") % 4 +
            when((col("doc_id") * 31 + col("rater") * 17) % 10 < 8, 0L)
              .otherwise(1L)) % 4).as("label"))
      CorpusStats.krippendorffAlpha(ratings, "doc_id", "label")
    }),

    // Dunning log-likelihood keyness: which tokens make each language
    // slice read differently from the rest of the corpus — G² over the
    // per-(lang, token) 2×2 contingency, exact-integer direction flag
    "t50_distinctive_terms" -> ((s, dir) =>
      TextAnalysis.distinctiveTerms(t(s, dir, "documents"), "lang", "text",
        minCount = 5L)),

    // exact ROC-AUC of the quality score as an English-detector: rank-sum
    // identity with midrank ties; rows fold to per-distinct-score counts,
    // rank structure from the parallel prefix sum — integers until the
    // one final division
    "t41_quality_auc" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (col("lang") === "en").cast("int").as("y"))
      CorpusStats.rocAuc(scored, "quality", "y")
    }),

    // PR-AUC for the same detector — the imbalance-honest eval: exact
    // integer TP/count frame from ONE parallel prefix-sum pass,
    // self-contained trapezoids (no lag window), rounded-then-DECIMAL
    // summed; baseline = prevalence
    "t48_quality_pr_auc" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (col("lang") === "en").cast("int").as("y"))
      CorpusStats.prAuc(scored, "quality", "y")
    }),

    // calibration table for the same detector: 10 equal-width bins,
    // DECIMAL-routed prediction sums (summation order cannot move a bit)
    "t42_quality_calibration" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (col("lang") === "en").cast("int").as("y"))
      CorpusStats.calibrationBins(scored, "quality", "y", bins = 10)
    }),

    // media integrity audit with PLANTED violations: every 7th payload
    // truncated (its meta still declares the full length — the
    // truncated-upload case), every 11th mislabeled 'png'
    "m07_media_integrity" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.select(
        col("doc_id").as("media_id"),
        encode(when(col("doc_id") % 7 === 0, substring(col("text"), 1, 10))
          .otherwise(col("text")), "UTF-8").as("content"),
        struct(
          when(col("doc_id") % 11 === 0, lit("png")).otherwise(lit("txt"))
            .as("format"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height")).as("meta"))
      Multimodal.integrityAudit(planted, "txt", 50L, 100000L)
    }),

    // interpolated Kneser–Ney bigram scoring: absolute discounting +
    // continuation-probability backoff (the t21 add-one upgrade)
    "t39_kneser_ney" -> ((s, dir) =>
      TextAnalysis.knBigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          (col("avg_logp_kn") + lit(0.0)).as("avg_logp_kn"))),

    // BPE tokenizer TRAINING: 5 merge rounds learned on the vocabulary
    // frame — each round one pair-count aggregate, a 1-row argmax
    // collect, and a map-only stack-fold rewrite
    "t37_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", numMerges = 5)),

    // unigram-LM tokenizer training (SentencePiece-style): all chars +
    // top-200 substrings seeded, 2 fixed rounds of quantized Viterbi-EM
    // — the oracle replays the unrolled rounds position by position
    "t51_unigram_lm_train" -> ((s, dir) =>
      TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
        vocabSize = 200, numRounds = 2, maxPieceLen = 4,
        maxWordLen = 20)),

    // unigram-LM ENCODING under the trained model (plan-time literals,
    // the t38 convention): one map-only kernel pass over the corpus
    "t52_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.unigramLmTrain(docs, "text",
          vocabSize = 200, numRounds = 2, maxPieceLen = 4,
          maxWordLen = 20)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      TextAnalysis.unigramEncode(docs, "doc_id", "text", model,
        maxPieceLen = 4, maxWordLen = 20)
    }),

    // Naive Bayes training — the fastText-class quality/language
    // classifier's fit expressed as pure counting: one corpus explode,
    // one (label, token) hash agg, model = a vocabulary-bounded frame.
    // A ' mkLANG' marker token is planted per doc (the b02 selective-term
    // recipe) so the synthetic fixture's classes are actually separable
    // and the add-one smoothing sees both marker and shared vocabulary
    "t53_nb_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      TextAnalysis.naiveBayesTrain(docs, "text", "lang")
        .select(col("lang"), col("token"), col("cnt"),
          round(col("logp"), 6).as("logp"))
    }),

    // Naive Bayes held-out classification: train on doc_id % 7 != 3,
    // classify the rest — per (doc, class) log-posteriors are round-9
    // DECIMAL sums (addend-order-free), ties break to the smallest label
    "t54_nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val test = docs.filter(col("doc_id") % 7 === 3)
      TextAnalysis.naiveBayesClassify(train, test, "doc_id", "text", "lang")
    }),

    // classifier evaluation: t54's NB WITHOUT the planted marker (the
    // honest-confusion fixture — the shared synthetic vocabulary gives
    // real cross-class errors), per-class precision/recall/F1 from the
    // |classes|²-bounded confusion table
    "t55_classifier_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val test = docs.filter(col("doc_id") % 7 === 3)
      val pred = TextAnalysis.naiveBayesClassify(train, test,
        "doc_id", "text", "lang").select("doc_id", "predicted")
      CorpusStats.classifierEval(
        test.select(col("doc_id"), col("lang")).join(pred, "doc_id"),
        "lang", "predicted")
    }),

    // per-pair BLEU — the synthetic-data/distillation QA readout:
    // candidates are (a) first-word-dropped copies (high BLEU, brevity
    // penalty < 1 — one word short) and (b) doubled copies (clipping
    // halves every modified precision: cand grams appear twice, the
    // reference has them once; bp = 1 since the candidate is longer)
    "t59_bleu" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("pair_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("cand"),
          col("text").as("ref"))
        .unionByName(docs.select((col("doc_id") + 1000000).as("pair_id"),
          concat(col("text"), lit(" "), col("text")).as("cand"),
          col("text").as("ref")))
      TextAnalysis.bleuPairs(pairs, "pair_id", "cand", "ref", maxN = 4)
    }),

    // per-pair chrF over the t59 fixture — the character-level
    // complement: the doubled copies score ~0.83 (recall-weighted beta=2
    // forgives duplication BLEU punishes at 0.49), the mangled copies
    // stay high on both; reading the two metrics together separates
    // "padded" from "edited"
    "t60_chrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("pair_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("cand"),
          col("text").as("ref"))
        .unionByName(docs.select((col("doc_id") + 1000000).as("pair_id"),
          concat(col("text"), lit(" "), col("text")).as("cand"),
          col("text").as("ref")))
      TextAnalysis.chrfPairs(pairs, "pair_id", "cand", "ref",
        maxN = 6, beta = 2.0)
    }),

    // main-content HTML extraction, stage 0 of every web pipeline: each
    // document wrapped in synthesized page chrome (nav/aside/footer/
    // heading templates), then the boilerpipe-style densitometric block
    // classifier — per-block integer features and content labels. The
    // oracle replays the identical block split + arithmetic relationally
    "t61_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Html.htmlBlockFeatures(
        docs.select(col("doc_id"),
          htmlWrap(col("doc_id"), col("text")).as("html")),
        "doc_id", "html")
    }),

    // the extraction's page-level surface: content blocks rebuilt in
    // document order — map-only (the rebuild happens inside each page's
    // own block array; zero shuffle at any corpus size)
    "t62_html_main_content" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Html.htmlMainContent(
        docs.select(col("doc_id"),
          htmlWrap(col("doc_id"), col("text")).as("html")),
        "doc_id", "html")
    }),

    // k-fold cross-validation of the NB classifier WITHOUT retraining:
    // fold f's leave-out model = global counts - fold f's counts (the
    // additive sufficient statistic again), so all 5 models come from
    // ONE corpus pass; every doc is scored under the model that never
    // saw it. Honest fixture (no marker) — real cross-class confusion,
    // the generalization estimate a production screen would report
    "t58_nb_cv" -> ((s, dir) =>
      TextAnalysis.naiveBayesCrossVal(t(s, dir, "documents")
        .select("doc_id", "lang", "text"), "doc_id", "text", "lang",
        numFolds = 5)),

    // logistic-regression training — the fastText-class quality screen
    // actually FIT by gradient descent (not just counted, t53's NB):
    // binary hashed token features (dim 64, bias folded in as bucket -1),
    // 10 synchronous full-batch GD rounds at eta 10.0, every round's
    // arithmetic DECIMAL-exact so the oracle unrolls the identical
    // rounds. The t54 ' mkLANG' marker is planted (the honest corpus is
    // label-free word salad — no text-derivable signal exists without
    // it); label: is-English
    "t56_lr_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      TextAnalysis.logRegTrain(docs, "doc_id", "text",
          (col("lang") === "en").cast("int"), dim = 64, rounds = 10,
          eta = 10.0)
        .select(col("bucket"), round(col("w").cast("double"), 6).as("weight"))
    }),

    // held-out LR classification under the t54 split: train on
    // doc_id % 7 != 3, score the rest — margins are DECIMAL-exact sums,
    // the decision boundary compares ON the decimal (replayable), the
    // reported score is the round-6 sigmoid. Learned (not memorized):
    // held-out accuracy is 1.0 at every fixture SF, with a third of the
    // split predicted positive — the marker bucket's weight is what GD
    // actually finds
    "t57_lr_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val test = docs.filter(col("doc_id") % 7 === 3)
      TextAnalysis.logRegClassify(train, test, "doc_id", "text",
        (col("lang") === "en").cast("int"), dim = 64, rounds = 10,
        eta = 10.0)
    }),

    // BPE ENCODING under the trained merges (rank order, same stack
    // fold): one map-only corpus pass, merges as plan-time literals
    "t38_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 5)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
    }),

    // fuzzy decontamination: bench = mangled copies (first word dropped)
    // of the EVEN-id docs — even train docs near-dup a bench doc and are
    // dropped, odd docs survive, so both verdicts are exercised
    "d16_fuzzy_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val bench = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
          threshold = 0.7)
        .select("doc_id", "lang")
    }),

    // line-level exact dedup + document reconstruction (boilerplate
    // removal): corpus gets a line break every 8 words plus a shared
    // newsletter footer on every doc — the footer must survive in
    // exactly ONE document; line text never shuffles (64-bit hashes do)
    "d17_line_dedup_rebuild" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(regexp_replace(col("text"), "((\\S+\\s+){8})", "$1\n"),
          lit("\nsubscribe to our newsletter today")).as("text"))
      Dedup.dedupLinesRebuild(docs, "doc_id", "text")
    }),

    // 2-D Pareto frontier: highest quality at every token budget — the
    // sorted-prefix skyline (one skinny agg + parallel prefix-min + one
    // equi-join), never the quadratic dominance check the oracle runs
    "c18_pareto_frontier" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      CorpusStats.paretoFrontier(scored, "quality", "n_tokens")
        .select("doc_id", "quality", "n_tokens")
    }),

    // quantile normalization of n_chars across sources: exact
    // integer-rank mapping onto the global distribution — no float
    // interpolation, so engines agree bit-for-bit
    "c19_quantile_normalize" -> ((s, dir) =>
      CorpusStats.quantileNormalize(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id")
        .select("doc_id", "source", "n_chars", "n_chars_norm")),

    // top session event paths: 30-min gap sessions, event-type sequences
    // ranked by frequency (ties by path string)
    "g09_path_analysis" -> ((s, dir) =>
      Events.topPaths(
        t(s, dir, "events")
          .withColumn("ts", expr("timestamp_micros(ts div 1000)")),
        "user_id", "ts", "event_type", "event_id", "30 minutes", k = 20)),

    // rolling 7-day distinct actives per day: day-deduplicated pairs
    // replicate onto their 7 report days (equi-joins only — distinct
    // counts don't sum, but replication beats an inequality join)
    "g12_rolling_actives" -> ((s, dir) =>
      Events.rollingActiveUsers(t(s, dir, "events"), "user_id", "ts",
        windowDays = 7)),

    // linear multi-touch attribution: every click/view in the 7 days
    // before a purchase splits its value equally; per-pair credit is
    // rounded then DECIMAL-summed so totals are order-independent
    "g13_linear_attribution" -> ((s, dir) =>
      Events.linearAttribution(
        t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
        "user_id", "event_type", "ts_us", "value", "event_id",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        windowSize = 7L * 24 * 3600 * 1000000L)),

    // first-touch attribution: the acquisition-channel view completing
    // the g11/g13 triple — earliest in-window touch per conversion,
    // unattributed conversions surface as the '(none)' row
    "g19_first_touch_attribution" -> ((s, dir) =>
      Events.firstTouchAttribution(
        t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
        "user_id", "event_type", "ts_us", "value", "event_id",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        windowSize = 7L * 24 * 3600 * 1000000L)),

    // Markov removal-effect attribution: the data-driven member of the
    // attribution family — absorbing-chain conversion probability drop
    // per channel, fixed 60-round quantized value iteration so both
    // engines agree without depending on convergence
    "g20_markov_attribution" -> ((s, dir) =>
      Events.markovAttribution(
        t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
        "user_id", "event_type", "ts_us", "event_id",
        conversionType = "purchase",
        touchTypes = Seq("click", "view", "signup"))),

    // nearest-direction as-of join (pandas merge_asof direction =
    // 'nearest'): each purchase pairs with the temporally CLOSEST
    // click/view either side, backward winning exact-distance ties,
    // tolerance nulling (never falling back to the other side) — the
    // third direction of the as-of family, previously spec-only
    "j12_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("touch_id"), col("user_id"),
          col("ts_us").as("touch_ts_us"), col("event_type").as("touch_type"))
      graft.operators.TemporalJoin.asOfJoin(
        purchases, touches, Seq("user_id"), "purchase_ts_us", "touch_ts_us",
        payload = Seq("touch_id", "touch_type", "touch_ts_us"), prefix = "",
        tieBreak = Some("touch_id"), direction = "nearest",
        tolerance = Some(3L * 24 * 3600 * 1000000L))
    }),

    // last-touch attribution: each purchase credits the latest
    // click/view of the same user strictly before it, within a 7-day
    // window — the j05 as-of machinery with strict order + tolerance
    "g11_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"), col("value").as("purchase_value"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("touch_id"), col("user_id"),
          col("ts_us").as("touch_ts_us"), col("event_type").as("touch_type"))
      graft.operators.TemporalJoin.asOfJoin(
        purchases, touches, Seq("user_id"), "purchase_ts_us", "touch_ts_us",
        payload = Seq("touch_id", "touch_type", "touch_ts_us"), prefix = "",
        allowExactMatch = false, tieBreak = Some("touch_id"),
        tolerance = Some(7L * 24 * 3600 * 1000000L))
    }),

    // RFM user segmentation: per-user recency/frequency/monetary rolled
    // into exact quartile scores via the c08 histogram-quantile machinery
    // (metric domains are bounded: ns timestamps, counts, 6-decimal sums)
    "g10_rfm_segments" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val per = t(s, dir, "events").groupBy("user_id").agg(
        max(col("ts")).as("recency_ns"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("monetary"))
      Events.scoreRfm(per, "user_id")
    }),

    // budget-constrained best-first selection: walk quality-descending,
    // keep while the running token total fits — the c18 coordinates with
    // the e09 parallel-prefix machinery under a composite order
    "c20_budget_select" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      CorpusStats.budgetSelect(scored,
          Seq(col("quality").desc, col("doc_id").asc), "n_tokens",
          budget = 20000L, cumCol = "cum_tokens")
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    }),

    // personalized PageRank: teleport mass pinned to a seed set — the
    // random-walk-with-restart diffusion for seed-based corpus expansion
    "s31_personalized_pagerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.personalizedPageRank(emb.select("vec_id"), edges, "vec_id",
          "src", "dst", seeds = Seq(0L, 1L, 2L, 3L, 4L), iters = 3,
          damping = 0.85)
        .select(col("vec_id"), (round(col("score"), 8) + lit(0.0)).as("score"))
    }),

    // one-row dataset card: the quantitative release headline (counts,
    // language entropy, mean quality, exact normalized-dup fraction)
    "c23_dataset_card" -> ((s, dir) =>
      CorpusStats.datasetCard(t(s, dir, "documents"), "text", "lang")),

    // shuffle-key skew pre-flight on the events user key: per-key counts
    // summarized with an exact p99 via the bounded count-histogram
    "v02_skew_report" -> ((s, dir) =>
      CorpusStats.skewReport(t(s, dir, "events"), Seq("user_id"))),

    // k-anonymity / l-diversity pre-release audit: could an adversary
    // pin a user from (event_type, hour-of-day, value-bucket)? One hash
    // agg over the quasi-id tuple flags classes under k=5 rows or l=3
    // distinct users
    "v03_k_anonymity" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"),
        col("user_id"))
      Governance.kAnonymityAudit(ev,
        Seq("event_type", "hour_of_day", "value_bucket"), "user_id",
        k = 5L, l = 3L)
    }),

    // PII retention audit: expired rows (fabricated deterministic
    // created_us, one third of docs planted with PII) still carrying
    // email/IPv4/phone matter — the storage-limitation compliance gate
    "v06_retention_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"),
            lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.test from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(col("text")).as("text"),
        ((col("doc_id") % 30) * 86400000000L).as("created_us"))
      Governance.retentionAudit(docs, "created_us", "text",
        cutoff = 15L * 86400000000L)
    }),

    // DP count release: per-event-type counts with seeded-deterministic
    // Laplace(1/ε) noise at ε = 0.5 — the aggregate-publication gate;
    // the uniform comes from poly_hash64(md5(seed‖key)) through ONE
    // DECIMAL-routed unsigned→double conversion, so both engines draw
    // the identical noise
    "v07_dp_release" -> ((s, dir) =>
      Governance.dpNoisedCounts(t(s, dir, "events"), Seq("event_type"),
        epsilon = 0.5, seed = "v07:")),

    // DP mean release: per-event-type noisy average of `value` clamped
    // into the public [0, 100] bounds — numerator and denominator each
    // draw seeded Laplace noise at ε/2 through domain-separated keys
    "v08_dp_mean_release" -> ((s, dir) =>
      Governance.dpNoisedMean(t(s, dir, "events"), Seq("event_type"),
        "value", lo = 0.0, hi = 100.0, epsilon = 0.5, seed = "v08:")),

    // DP histogram release over the PUBLIC [0,100)×10 grid — every
    // bucket draws noise, including empty ones (the presence
    // side-channel is the point); one ε by parallel composition
    "v09_dp_histogram" -> ((s, dir) =>
      Governance.dpNoisedHistogram(t(s, dir, "events"), "value",
        lo = 0.0, hi = 100.0, nBuckets = 10, epsilon = 0.5,
        seed = "v09:")),

    // DP quantile release: exponential mechanism over the PUBLIC
    // [0,100]×20 grid via the Gumbel-max trick — seeded Gumbels at every
    // (quantile, grid point), so both engines draw the identical argmax
    "v10_dp_quantiles" -> ((s, dir) =>
      Governance.dpNoisedQuantiles(t(s, dir, "events"), "value",
        quantiles = Seq(0.1, 0.5, 0.9), lo = 0.0, hi = 100.0,
        nBuckets = 20, epsilon = 0.5, seed = "v10:")),

    // DP vocabulary release (stability histogram): planted per-doc-unique
    // rtok tokens mostly stay suppressed below the threshold while the
    // corpus vocabulary and the 20 planted mtok terms surface — the
    // unknown-domain release v07 cannot do (WHICH keys exist is the leak)
    "v11_dp_token_release" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        concat(col("text"), lit(" mtok"),
          (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 4 === 1,
            concat(lit(" rtok"), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
      Governance.dpTokenRelease(docs, "text", maxTokensPerDoc = 30,
        epsilon = 5.0, threshold = 10.0, seed = "v11:")
    }),

    // DP NB model release: private classifier training by noising the
    // count sufficient statistic — distinct-token bounding makes the
    // (label, token) vector's L1 sensitivity exactly 30, one seeded
    // Laplace(30/eps) draw per coordinate, stability threshold +
    // smoothed-logp tail are post-processing over released values only.
    // The t53 marker fixture keeps classes separable in the released
    // model
    "v12_dp_nb_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      Governance.dpNbModelRelease(docs, "text", "lang",
        maxTokensPerDoc = 30, epsilon = 5.0, threshold = 10.0,
        seed = "v12:")
    }),

    // streaming DP NB release: v12's corpus streamed in three doc-id
    // residue batches — the bounded counts are additive (e38's shape
    // with contribution bounding), each batch banks its own deltas, the
    // drained release runs the SHARED seeded-noise + post-processing
    // tail — drained == batch v12, same oracle verbatim. One release
    // per seed (the PRIVATE state/one-shot-release contract)
    "e42_streaming_dp_nb_release" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e42")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        docs.filter(pmod(col("doc_id"), lit(3)) === r)
          .select("lang", "text")): _*)
      val q = StreamingDpNbRelease.start(s, src, "text", "lang",
        maxTokensPerDoc = 30, s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e42", q)
      StreamingDpNbRelease.currentRelease(s, s"$tmp/state", "lang",
        maxTokensPerDoc = 30, epsilon = 5.0, threshold = 10.0,
        seed = "v12:")
    }),

    // streaming scene segmentation — m13's ingest twin (the last
    // multimodal operator without one): strictly per-asset, so per-batch
    // application IS the batch operator; drained scenes == batch m13
    // under any batching, same oracle verbatim; batch-keyed exactly-once
    "e43_streaming_scene_segments" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e43")
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        media.filter(pmod(col("media_id"), lit(3)) === r)): _*)
      val q = StreamingSceneSegments.start(s, src, "media_id", "content",
        s"$tmp/scenes", s"$tmp/cp", windowBytes = 16, cutThreshold = 120)
      StreamHarness.drain("e43", q)
      StreamingSceneSegments.scenes(s, s"$tmp/scenes")
    }),

    // WARC record source — the CommonCrawl container, read the way a
    // crawl ships: documents pack into per-blob record streams (one
    // byte-exact Content-Length-framed record each + a torn trailing
    // record the parser must drop), then frame + field-parse. The oracle
    // states the ground truth relationally from the fixture
    "f08_warc_parse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://example.com/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "), octet_length(col("text")).cast("string"),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
      val blobs = docs
        .select(pmod(col("doc_id"), lit(50)).as("warc_id"), col("doc_id"),
          rec.as("__r"))
        .groupBy("warc_id")
        .agg(concat(
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("__r")))),
            r => r.getField("__r")), ""),
          lit("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999" +
            "\r\n\r\ntorn")).as("warc"))
      graft.sources.Warc.records(blobs, "warc_id", "warc")
    }),

    // the HTTP-response layer INSIDE WARC records — what a real
    // `WARC-Type: response` payload actually is (status line + headers +
    // CRLFCRLF + entity): records pack full HTTP responses with per-doc
    // status/content-type variation (404s, non-HTML 200s — the records a
    // response-only pipeline must be able to SEE and drop), and the
    // parse is pure relational regexp over the framed payload, so the
    // oracle replays this layer GENUINELY (only the byte framing is
    // ground-truth-restated, as in f08)
    "f09_warc_http" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val payload = concat(
        lit("HTTP/1.1 "),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("404 Not Found"))
          .otherwise(lit("200 OK")),
        lit("\r\nServer: synthetic/1.0\r\nContent-Type: "),
        when(pmod(col("doc_id"), lit(7)) === 1, lit("text/plain"))
          .otherwise(lit("text/html; charset=UTF-8")),
        lit("\r\n\r\n"), col("text"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://example.com/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val blobs = docs
        .select(pmod(col("doc_id"), lit(50)).as("warc_id"), col("doc_id"),
          rec.as("__r"))
        .groupBy("warc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("__r")))),
          r => r.getField("__r")), "").as("warc"))
      graft.sources.Warc.httpResponses(
          graft.sources.Warc.records(blobs, "warc_id", "warc"), "body")
        .select("warc_id", "record_no", "target_uri", "http_status",
          "mime", "charset", "http_body")
    }),

    // gzip-shipped WARC blobs — the byte layout CommonCrawl actually
    // uses (concatenated RFC 1952 members, ONE per record): f08's exact
    // fixture, member-wise gzipped (fixture-side compression via typed
    // map — compression is fixture construction, the QUERY inflates
    // through the gunzip_members kernel), plus a torn trailing MEMBER
    // the inflate kernel must drop. Output == f08, same oracle verbatim
    "f10_warc_gzip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://example.com/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "), octet_length(col("text")).cast("string"),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
      val blobs = docs
        .select(pmod(col("doc_id"), lit(50)).as("warc_id"), col("doc_id"),
          rec.as("__r"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (wid, it) =>
          def gz(x: String): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(x.getBytes("UTF-8")); g.close(); bos.toByteArray
          }
          val members = it.toSeq.sortBy(_._2).map(r => gz(r._3))
          val torn = gz("WARC/1.0\r\nWARC-Type: response\r\n" +
            "Content-Length: 4\r\n\r\ntorn\r\n\r\n").dropRight(4)
          (wid, (members :+ torn).reduce(_ ++ _))
        }
        .toDF("warc_id", "warc")
      graft.sources.Warc.recordsGzip(blobs, "warc_id", "warc")
    }),

    // charset-aware entity decode — the byte-level fact a real crawl
    // cannot dodge: servers ship ISO-8859-1 and Windows-1252 bodies,
    // and any String-typed path smashes their bytes to U+FFFD before a
    // decode could see them. Bodies pack ENCODED per the record's own
    // Content-Type charset (the € marker exists only in cp1252; the
    // accents differ byte-wise between latin-1 and utf-8), framing and
    // entity split stay binary, and the decode routes per declared
    // charset — the oracle states the recovered TEXT, so a wrong route
    // shows as mojibake and fails the hash
    "f11_warc_charset" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val blobs = docs.as[(Long, String)]
        .groupByKey(_._1 % 50)
        .mapGroups { (wid, it) =>
          def rec(id: Long, text: String): Array[Byte] = {
            val (cs, label, marker) = (id % 3) match {
              case 0 => ("UTF-8", "UTF-8", "café naïve ")
              case 1 => ("ISO-8859-1", "iso-8859-1", "café naïve ")
              case _ => ("windows-1252", "Windows-1252", "café € naïve ")
            }
            val body = (marker + text)
              .getBytes(java.nio.charset.Charset.forName(cs))
            val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              s"charset=$label\r\n\r\n").getBytes("US-ASCII") ++ body
            ("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n")
              .getBytes("US-ASCII") ++ payload ++
              "\r\n\r\n".getBytes("US-ASCII")
          }
          (wid, it.toSeq.sortBy(_._1).map(r => rec(r._1, r._2))
            .reduce(_ ++ _))
        }
        .toDF("warc_id", "warc")
      graft.sources.Warc.recordsHttpDecoded(blobs, "warc_id", "warc")
        .select("warc_id", "record_no", "target_uri", "http_status",
          "mime", "charset", "text")
    }),

    // what real SERVERS actually send, layer by layer: chunked
    // transfer-coding (hex-framed chunks the dechunk kernel must
    // reassemble — read verbatim, the "HTML" would be hex framing),
    // gzip content-coding (the inflate kernel over the entity), and
    // both STACKED in wire order (dechunk first, then inflate — the
    // reverse order feeds chunk framing into the gunzipper and dies).
    // The oracle states the recovered text per record (the f10/f11
    // byte-transform posture); the truncation/corruption contracts are
    // unit-spec territory (WarcSpec)
    "f12_http_transfer_codings" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val blobs = docs.as[(Long, String)]
        .groupByKey(_._1 % 50)
        .mapGroups { (wid, it) =>
          def gz(x: Array[Byte]): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(x); g.close(); bos.toByteArray
          }
          def chunked(b: Array[Byte], n: Int): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            var i = 0
            while (i < b.length) {
              val len = math.min(n, b.length - i)
              bos.write((len.toHexString + "\r\n").getBytes("US-ASCII"))
              bos.write(b, i, len)
              bos.write("\r\n".getBytes("US-ASCII"))
              i += len
            }
            bos.write("0\r\n\r\n".getBytes("US-ASCII"))
            bos.toByteArray
          }
          def rec(id: Long, text: String): Array[Byte] = {
            val raw = ("mode:" + (id % 4) + " " + text).getBytes("UTF-8")
            val (hdrs, body) = (id % 4) match {
              case 0 => ("", raw)
              case 1 => ("Transfer-Encoding: chunked\r\n", chunked(raw, 120))
              case 2 => ("Content-Encoding: gzip\r\n", gz(raw))
              case _ => ("Transfer-Encoding: chunked\r\n" +
                "Content-Encoding: gzip\r\n", chunked(gz(raw), 100))
            }
            val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              "charset=UTF-8\r\n" + hdrs + "\r\n").getBytes("US-ASCII") ++
              body
            ("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n")
              .getBytes("US-ASCII") ++ payload ++
              "\r\n\r\n".getBytes("US-ASCII")
          }
          (wid, it.toSeq.sortBy(_._1).map(r => rec(r._1, r._2))
            .reduce(_ ++ _))
        }
        .toDF("warc_id", "warc")
      graft.sources.Warc.recordsHttpDecoded(blobs, "warc_id", "warc")
        .select("warc_id", "record_no", "target_uri", "http_status",
          "mime", "transfer_encoding", "content_encoding", "text")
    }),

    // charset SNIFFING under the HTML5 precedence — servers omit and
    // MISLABEL charsets constantly, pages declare their own: BOM beats
    // a (wrong) header label, header beats meta, <meta charset> and
    // the http-equiv form both sniff, Shift_JIS exercises a CJK
    // multi-byte decode, UTF-16LE exercises the BOM-only route, and
    // the undeclared branch falls back to UTF-8. Per-branch markers
    // (é/€/日本語) prove the routing — a wrong route is mojibake and
    // fails the stated-text oracle
    "f13_charset_sniff" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val blobs = docs.as[(Long, String)]
        .groupByKey(_._1 % 50)
        .mapGroups { (wid, it) =>
          def rec(id: Long, text: String): Array[Byte] = {
            val (ctype, body) = (id % 6) match {
              case 0 => ("text/html; charset=iso-8859-1",
                ("café naïve " + text).getBytes("ISO-8859-1"))
              case 1 => ("text/html",
                ("<html><head><meta charset=\"windows-1252\"></head>" +
                  "<body>café € naïve " + text + "</body></html>")
                  .getBytes("windows-1252"))
              case 2 => ("text/html",
                ("<html><head><meta http-equiv=\"Content-Type\" " +
                  "content=\"text/html; charset=shift_jis\"></head>" +
                  "<body>日本語テスト " + text + "</body></html>")
                  .getBytes("Shift_JIS"))
              case 3 => ("text/html; charset=iso-8859-1", // header LIES
                Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
                  ("café naïve " + text).getBytes("UTF-8"))
              case 4 => ("text/html", ("café naïve " + text)
                .getBytes("UTF-8")) // undeclared -> UTF-8 default
              case _ => ("text/html",
                Array(0xFF.toByte, 0xFE.toByte) ++
                  ("utf16 café " + text).getBytes("UTF-16LE"))
            }
            val payload =
              s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n"
                .getBytes("US-ASCII") ++ body
            ("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n")
              .getBytes("US-ASCII") ++ payload ++
              "\r\n\r\n".getBytes("US-ASCII")
          }
          (wid, it.toSeq.sortBy(_._1).map(r => rec(r._1, r._2))
            .reduce(_ ++ _))
        }
        .toDF("warc_id", "warc")
      graft.sources.Warc.recordsHttpDecoded(blobs, "warc_id", "warc")
        .select("warc_id", "record_no", "target_uri", "http_status",
          "mime", "charset", "text")
    }),

    // payload-digest crawl dedup — the real pipeline's FIRST dedup,
    // before any MinHash: recrawl duplicates (same body, later date),
    // bodyless `revisit` records (CommonCrawl's unchanged-page marker),
    // a boilerplate error page shared VERBATIM across many docs (one
    // digest, many URIs — the cross-blob case), and a dangling revisit
    // whose original is outside the crawl (drops: nothing to read).
    // Keep-earliest-response per digest as ONE min_by hash aggregate
    "f14_warc_digest_dedup" -> ((s, dir) => {
      graft.sources.Warc.dedupByDigest(
        graft.sources.Warc.recordsFull(f14Blobs(t(s, dir, "documents")),
          "warc_id", "warc"))
    }),

    // f14's ingest twin — keep-earliest is CORPUS-level (a later shard
    // can carry an EARLIER capture: the 2024-01 base records stream in
    // batch 1 here, after batch 0's dups/revisits), so state banks the
    // per-batch capture FACTS (parse once per batch) and the drained
    // read runs the SHARED dedupByDigest — min_by over an unordered
    // union is order-free, drained == batch f14 under any sharding,
    // same oracle verbatim
    "e52_streaming_digest_dedup" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e52")
      val blobs = f14Blobs(t(s, dir, "documents"))
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        blobs.filter(pmod(col("warc_id"), lit(2)) === (1 - r))): _*)
      val q = StreamingWarcDedup.start(s, src, "warc_id", "warc",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e52", q)
      StreamingWarcDedup.currentDedup(s, s"$tmp/state")
    }),

    // HTTP redirect chains — ~a fifth of a real crawl is 3xx, and every
    // consumer wants the FINAL target: a 2-hop chain (302 with a
    // RELATIVE rooted Location, then 301 absolute), a 2-cycle LOOP the
    // hop bound must flag unresolved, a dot-segment relative Location
    // (../r/<id>) resolved against the request URI, and a dangling
    // target outside the crawl (resolved — just uncrawled). Header
    // parse is f09-gated; the 3xx screen, Location resolution and the
    // unrolled chain collapse replay genuinely
    "t73_redirect_chains" -> ((s, dir) => {
      val blobs = t73Blobs(t(s, dir, "documents"))
      val recs = graft.sources.Warc.httpResponses(
        graft.sources.Warc.records(blobs, "warc_id", "warc"), "body")
      val redirects = recs
        .filter(col("http_status").between(300, 399) &&
          col("location") =!= "")
        .select(col("target_uri"), col("location"))
      val edges = TextAnalysis.withResolvedUrl(redirects, "target_uri",
          "location", "__t")
        .select(col("target_uri").as("url"), col("__t").as("target"))
      graft.operators.Redirects.collapse(edges, "url", "target",
        maxHops = 5)
    }),

    // t73's ingest twin — redirect HOPS of one chain arrive in
    // DIFFERENT crawl shards (here BY CONSTRUCTION: batch 0 ships each
    // chain's hop-0 record, batch 1 its hop-1/2 records), so the final
    // target is a corpus-level verdict: state banks per-batch redirect
    // EDGE facts (3xx screen + Location resolution once per batch) and
    // the drained read runs the SHARED collapse — the unrolled walk is
    // a pure function of the edge SET, which unions order-free;
    // drained == batch t73, same oracle verbatim
    "e53_streaming_redirects" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e53")
      val pieces = t73Pieces(t(s, dir, "documents"))
      val src = StreamHarness.feed(tmp,
        t73Pack(pieces.filter(col("__seq") === 0)),
        t73Pack(pieces.filter(col("__seq") >= 1)))
      val q = StreamingRedirects.start(s, src, "warc_id", "warc",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e53", q)
      StreamingRedirects.currentCollapse(s, s"$tmp/state", maxHops = 5)
    }),

    // SITE-level template removal — the inter-document complement of
    // t61's per-page densitometrics: a host-wide motto paragraph (long,
    // link-free — the per-page rule calls it CONTENT) is byte-identical
    // on every page of the host, so the (host, block-digest) page-count
    // rule kills it; unique article paragraphs survive. host = source
    "t64_site_template_extract" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlSitePage(col("doc_id"), col("text")).as("html"),
        col("source"))
      graft.operators.Html.htmlMainContentSiteAware(pages, "doc_id",
        "html", "source", minWords = 5, minRepeats = 5)
    }),

    // outlink extraction feeding URL canonicalization — stage 0 of the
    // web GRAPH (crawl frontiers / link-spam screens / host PageRank):
    // messy anchors (uppercase host, default port, tracking params,
    // fragments, one relative link) extract raw and collapse to
    // canonical keys; relative URLs canonicalize to NULL (the documented
    // drop)
    "t63_html_outlinks" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlLinkPage(col("doc_id"), col("text")).as("html"))
      graft.operators.Html.outlinks(pages, "doc_id", "html")
        .withColumn("canonical_url",
          TextAnalysis.canonicalUrl(col("url")))
    }),

    // RFC 3986 reference resolution — the step between outlink
    // extraction and canonicalization a REAL crawl cannot skip (most
    // in-page links are relative): every branch of the spec's
    // transform-references table over a per-doc base URI — absolute,
    // network-path, rooted, relative, ../ and ../../ pops, ./ same-dir,
    // query-only, fragment-only, empty, dot-segment gymnastics. The
    // oracle replays the identical extract/rewrite chain
    "t65_url_resolve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = concat(lit("http://example.com/dir"),
        pmod(col("doc_id"), lit(3)).cast("string"),
        lit("/sub/page"), col("doc_id").cast("string"), lit("?bq=1"))
      val hrefs = array(t65Hrefs.map(lit): _*)
      // the STAGED resolver (each RFC component materializes once per
      // row as a scratch column) — bit-identical to the single-Column
      // form, without its ~20× duplicated-subtree per-row tax
      TextAnalysis.withResolvedUrl(
          docs.select(col("doc_id"), base.as("__base"),
            posexplode(hrefs).as(Seq("case_id", "href"))),
          "__base", "href", "resolved")
        .select(col("doc_id"), col("case_id"), col("href"), col("resolved"))
    }),

    // extraction over TAG-SOUP markup: the unclosed <script>'s text
    // must truncate at the next boundary tag (never reach a block), the
    // unclosed <style> must not swallow the footer, and the document's
    // own text — split around the unclosed script — must still rebuild.
    // Same densitometric rule, same oracle chain, messier pages
    "t66_tagsoup_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Html.htmlBlockFeatures(
        docs.select(col("doc_id"),
          htmlSoupPage(col("doc_id"), col("text")).as("html")),
        "doc_id", "html")
    }),

    // outlink extraction over TAG-SOUP markup: single-quoted, unquoted
    // and double-quoted hrefs all extract (quote normalization), in
    // document order, with canonicalization on top
    "t67_tagsoup_outlinks" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlSoupPage(col("doc_id"), col("text")).as("html"))
      graft.operators.Html.outlinks(pages, "doc_id", "html")
        .withColumn("canonical_url",
          TextAnalysis.canonicalUrl(col("url")))
    }),

    // anchor text keyed by resolved TARGET doc — the web graph's classic
    // side product (anchor text describes the target page better than
    // the page itself; retrieval-training corpora key it by dst):
    // (href, inner text) pairs in document order across all three quote
    // styles, resolved per-page, id-parsed; self-links kept. The /local/
    // nav link resolves but has no doc target, so it drops
    "t68_anchor_text" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlLinkPage(col("doc_id"), col("text")).as("html"),
        concat(lit("http://example.com/doc/"),
          col("doc_id").cast("string")).as("base_uri"))
      graft.operators.Html.anchorTextEdges(pages, "doc_id", "html",
        "base_uri")
    }),

    // <base href> — the HTML5 re-rooting a real crawl cannot skip: a
    // page carrying it mis-resolves EVERY relative link if the resolver
    // keeps using the page URI. Branches: no base (page-URI resolve),
    // a rooted base, a RELATIVE single-quoted base (itself resolved
    // against the page URI, and through quote normalization), and two
    // base tags (only the FIRST counts). Each page also carries an
    // absolute link the base must NOT affect. The whole chain — quote
    // normalization, base extract, both resolves, canonicalization,
    // id parse — replays genuinely in the oracle
    "t71_base_href" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = pmod(col("doc_id"), lit(4))
      def idiv(k: Int) = ((col("doc_id") - pmod(col("doc_id"), lit(k))) / k)
        .cast("long").cast("string")
      val baseTag = when(m === 1, lit("<base href=\"/doc/\">"))
        .when(m === 2, lit("<base href='../doc/'>"))
        .when(m === 3, lit("<base href=\"/doc/\"><base href=\"/wrong/\">"))
        .otherwise(lit(""))
      val relHref = when(m === 0, concat(lit("../doc/"), idiv(2)))
        .otherwise(idiv(2))
      val html = concat(lit("<html><head>"), baseTag,
        lit("</head><body><p>"), substring(col("text"), 1, 200),
        lit(" <a href=\""), relHref, lit("\">rel</a>"),
        lit(" <a href=\"http://example.com/doc/"), idiv(5),
        lit("\">abs</a></p></body></html>"))
      val pages = docs.select(col("doc_id"), html.as("html"),
        concat(lit("http://example.com/sub/page"),
          col("doc_id").cast("string")).as("base_uri"))
      graft.operators.Html.docLinkEdges(pages, "doc_id", "html",
        "base_uri")
    }),

    // robots.txt admission — the crawl-politeness gate, RFC 9309 core:
    // stacked user-agent groups (megabot + * share rules; fancybot's
    // Disallow:/ must NOT leak to *), comment stripping, the empty
    // Disallow no-op, and the longest-match argmax with Allow winning
    // exact ties — every branch planted in the per-host fixture paths
    // crawl-frontier scheduling — the composition that turns the link
    // graph into the next fetch list: cross-host outlinks → canonical
    // candidate URLs → inlink counts → already-crawled anti-join →
    // robots admission → per-host budget via the BOUNDED top-k heap
    // aggregate (k rows per host per map partition — never a per-host
    // row_number window). Candidate construction is fixture ground
    // truth (the extraction chain is t63/t67-gated); the frontier
    // logic — counts, robots argmax, budget rank — replays genuinely
    "g23_crawl_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        frontierPage(col("doc_id"), col("text")).as("html"))
      val cands = graft.operators.Html.outlinks(pages, "doc_id", "html")
        .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
      graft.operators.WebFrontier.schedule(cands,
        frontierCrawled(cands), frontierRobots(s), "url", budget = 10)
    }),

    // sitemap→frontier integration — the discovery channel WIRED to
    // the scheduler it was built for: robots `Sitemap:` pointers (the
    // baked-in foreign pointer must drop at the corpus join), a
    // <sitemapindex> resolving to two children (the protocol's single
    // recursion level as a loc-keyed join), child entries scored into
    // the schedule as n_inlinks + priority hint (explicit 0.9 /
    // spec-default 0.5 / unlisted 0), sitemap-ONLY urls entering with
    // zero inlinks, and the same crawled/robots/budget gates on top.
    // Candidate + sitemap construction are fixture ground truth; the
    // merge, scoring, gates and budget replay genuinely
    "g24_sitemap_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        frontierPage(col("doc_id"), col("text")).as("html"))
      val cands = graft.operators.Html.outlinks(pages, "doc_id", "html")
        .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
      val counts = cands.filter(col("url").isNotNull)
        .groupBy("url").agg(count(lit(1)).as("n_inlinks"))
      graft.operators.WebFrontier.scheduleWithSitemaps(counts,
        frontierSitemapEntries(s), frontierCrawled(cands),
        frontierRobots(s), "url", budget = 10)
    }),

    // the frontier's ingest twin — merge-on-read (the e49 posture):
    // priority (inlink count) is CORPUS-level, so state banks per-batch
    // additive (url, n) count facts (extraction per micro-batch,
    // decode-once) and the drained read sums them into the SHARED
    // scheduleCounts — a URL discovered in batch 0 gains priority from
    // batch 1's links; drained == batch g23 under any batching, same
    // oracle verbatim
    "e50_streaming_frontier" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e50")
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        frontierPage(col("doc_id"), col("text")).as("html"))
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        pages.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val q = StreamingFrontier.start(s, src, "doc_id", "html",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e50", q)
      val cands = graft.operators.Html.outlinks(pages, "doc_id", "html")
        .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
      StreamingFrontier.currentSchedule(s, s"$tmp/state",
        frontierCrawled(cands), frontierRobots(s), budget = 10)
    }),

    // freshness RECRAWL scheduling — lastmod finally consumed: a
    // crawled page re-schedules when its sitemap lastmod is NEWER than
    // its fetch ('stale'), an uncrawled listed page is discovery
    // ('new'), undated entries only schedule uncrawled, /private/ locs
    // die at the robots gate, priorities rank per host, and each
    // host's Crawl-delay paces the queue (fetch_offset_sec =
    // (rank-1)·delay — fractional .5 delays prove exact double
    // arithmetic). Entries/crawl-log restated (parse chains t70/t69-
    // gated); reason/gate/rank/pacing AND the crawl-delay group
    // grammar replay genuinely
    "g25_recrawl_schedule" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val loc = concat(lit("http://"), col("source"), lit(".example"),
        when(pmod(col("doc_id"), lit(6)) === 1, lit("/private/"))
          .otherwise(lit("/doc/")), id)
      val entries = docs.select(loc.as("loc"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(""))
          .otherwise(concat(lit("2024-01-"),
            lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2,
              "0"))).as("lastmod"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(null).cast("double"))
          .otherwise(pmod(col("doc_id"), lit(10)).cast("double") / lit(10))
          .as("priority"))
      val crawled = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(loc.as("url"), lit("2024-01-15").as("fetched_at"))
      val bodies = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"))
        .select(col("host"),
          concat(lit(robotsFixtureBody), lit("Crawl-delay: "),
            (pmod(length(col("host")), lit(5)) + 1).cast("string"),
            lit(".5\n")).as("robots"))
      graft.operators.WebFrontier.recrawlSchedule(entries, crawled,
        graft.operators.Robots.rules(bodies, "host", "robots"),
        graft.operators.Robots.crawlDelays(bodies, "host", "robots"),
        budget = 10)
    }),

    // the sitemap-aware frontier's ingest twin — link-count evidence
    // banks per batch exactly as e50 (state is the SAME additive
    // (url, n) facts; sitemap entries are READ-side config like the
    // robots frame), and the drained read runs the SHARED
    // scheduleWithSitemaps — drained == batch g24 under any batching,
    // same oracle verbatim
    "e51_streaming_sitemap_frontier" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e51")
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        frontierPage(col("doc_id"), col("text")).as("html"))
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        pages.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val q = StreamingFrontier.start(s, src, "doc_id", "html",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e51", q)
      val cands = graft.operators.Html.outlinks(pages, "doc_id", "html")
        .select(TextAnalysis.canonicalUrl(col("url")).as("url"))
      StreamingFrontier.currentScheduleWithSitemaps(s, s"$tmp/state",
        frontierSitemapEntries(s), frontierCrawled(cands),
        frontierRobots(s), budget = 10)
    }),

    // sitemap URL-set parsing — the frontier's OTHER discovery channel:
    // per-host sitemaps assembled from the corpus (whitespace-padded
    // locs exercising the spec's trim tolerance; lastmod/priority each
    // OPTIONAL per entry — the block parse must not positional-zip),
    // split at </url> and parsed relationally on both engines
    "t70_sitemap_parse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val entry = concat(
        lit("<url><loc> http://"), col("source"), lit(".example/doc/"),
        col("doc_id").cast("string"), lit(" </loc>"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(""))
          .otherwise(concat(lit("<lastmod>2024-01-"),
            lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
            lit("</lastmod>"))),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
          .otherwise(concat(lit("<priority>0."),
            pmod(col("doc_id"), lit(10)).cast("string"),
            lit("</priority>"))),
        lit("</url>"))
      val maps = docs
        .select(col("source").as("host"), col("doc_id"), entry.as("__e"))
        .groupBy("host")
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("__e")))),
            x => x.getField("__e")), ""),
          lit("</urlset>")).as("xml"))
      graft.operators.Sitemaps.entries(maps, "host", "xml")
    }),

    // page-level robots directives + the nofollow LINK policy — the
    // page-body complement of robots.txt every production crawler
    // honors: <meta name=robots> noindex/nofollow (both attribute
    // orders, bare and quoted values), rel=nofollow anchors dropped
    // from the edge surface, a nofollow PAGE contributing no edges at
    // all; every regex replays genuinely in the oracle
    "t74_meta_robots" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = pmod(col("doc_id"), lit(4))
      def idiv(k: Int) = ((col("doc_id") - pmod(col("doc_id"), lit(k))) / k)
        .cast("long").cast("string")
      val meta = when(m === 1,
        lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(m === 2, lit("<meta content=noindex name=robots>"))
        .otherwise(lit(""))
      val a2rel = when(m === 3, lit(" rel=nofollow")).otherwise(lit(""))
      val html = concat(lit("<html><head>"), meta,
        lit("</head><body><p>"), substring(col("text"), 1, 150),
        lit(" <a href=\"/doc/"), idiv(2), lit("\">one</a>"),
        lit(" <a"), a2rel, lit(" href=\"/doc/"), idiv(3),
        lit("\">two</a></p></body></html>"))
      val pages = docs.select(col("doc_id"), html.as("html"))
      val flags = pages.select(col("doc_id"),
          graft.operators.Html.pageRobotsDirectives(col("html")).as("__d"))
        .select(col("doc_id"), col("__d.noindex").as("noindex"),
          col("__d.nofollow").as("nofollow"))
      flags.join(
        graft.operators.Html.outlinksFollowable(pages, "doc_id", "html"),
        Seq("doc_id"), "left")
    }),

    // rel=canonical page dedup — the page-DECLARED dedup signal that
    // runs before any content hashing: variant groups of three pages
    // (no tag = self-canonical; a rel-first rooted declaration; an
    // href-first single-quoted RELATIVE one) collapse to one kept page
    // per canonical target; resolution + canonicalization + the
    // min_by group all replay genuinely
    "t77_canonical_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = (col("doc_id") - pmod(col("doc_id"), lit(3))).cast("string")
      val m = pmod(col("doc_id"), lit(3))
      val tag = when(m === 1, concat(
        lit("<link rel=\"canonical\" href=\"/page/"), g, lit("\">")))
        .when(m === 2, concat(
          lit("<link href='./"), g, lit("' rel=canonical>")))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), tag,
        lit("</head><body><p>"), substring(col("text"), 1, 100),
        lit("</p></body></html>"))
      val pages = docs.select(col("doc_id"), html.as("html"),
        concat(lit("http://example.com/page/"),
          col("doc_id").cast("string")).as("base_uri"))
      graft.operators.Html.canonicalDedup(pages, "doc_id", "html",
        "base_uri")
    }),

    // per-page HEAD metadata — the enrichment columns a corpus carries
    // alongside text: <title> (entity-decoded, ws-normalized) and
    // OpenGraph og:title/og:description in BOTH attribute orders;
    // every regex replays genuinely
    "t76_page_metadata" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val m = pmod(col("doc_id"), lit(3))
      val og = when(m === 0, concat(
        lit("<meta property=\"og:title\" content=\"OG Doc "), id,
        lit("\"><meta property=\"og:description\" content=\"About doc "),
        id, lit("\">")))
        .when(m === 1, concat(
          lit("<meta content=\"CF Doc "), id,
          lit("\" property=\"og:title\">")))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head><title> Doc "), id,
        lit(" &amp; more </title>"), og,
        lit("</head><body><p>"), substring(col("text"), 1, 100),
        lit("</p></body></html>"))
      graft.operators.Html.pageMetadata(
        docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
    }),

    "t69_robots_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = graft.operators.Robots.rules(
        docs.select(col("source").as("host")).distinct()
          .select(col("host"), lit(robotsFixtureBody).as("robots")),
        "host", "robots")
      val m = pmod(col("doc_id"), lit(6))
      val id = col("doc_id").cast("string")
      val path = when(m === 0, concat(lit("/articles/"), id))
        .when(m === 1, concat(lit("/private/"), id))
        .when(m === 2, concat(lit("/private/pub/"), id))
        .when(m === 3, concat(lit("/tmp"), id))
        .when(m === 4, concat(lit("/cgi/"), id))
        .otherwise(lit("/private/pub"))
      val urls = docs.select(col("doc_id"), col("source").as("host"),
        path.as("path"))
      graft.operators.Robots.allowed(urls, robots, "host", "path")
        .select("doc_id", "host", "path", "allowed")
    }),

    // RFC 9309 §2.2.3 wildcards — what real robots.txt files actually
    // use: `*` mid-rule (extension screens, directory-at-any-depth),
    // a trailing `$` end anchor (so `.pdfx` escapes a `.pdf$` rule), a
    // longer Allow beating a wildcard Disallow, and a mid-rule literal
    // `$` that the metachar escape must neutralize. Wildcard-free
    // rules keep the startsWith fast path; the oracle replays the
    // identical pattern compile + argmax
    "t72_robots_wildcards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = graft.operators.Robots.rules(
        docs.select(col("source").as("host")).distinct()
          .select(col("host"), lit(robotsWildFixtureBody).as("robots")),
        "host", "robots")
      val m = pmod(col("doc_id"), lit(8))
      val id = col("doc_id").cast("string")
      val path = when(m === 0, concat(lit("/articles/"), id))
        .when(m === 1, concat(lit("/files/"), id, lit(".pdf")))
        .when(m === 2, concat(lit("/pub/"), id, lit(".pdf")))
        .when(m === 3, concat(lit("/search"), id))
        .when(m === 4, lit("/search/help"))
        .when(m === 5, concat(lit("/a/tmp/"), id))
        .when(m === 6, concat(lit("/files/"), id, lit(".pdfx")))
        .otherwise(concat(lit("/d$r"), id))
      val urls = docs.select(col("doc_id"), col("source").as("host"),
        path.as("path"))
      graft.operators.Robots.allowed(urls, robots, "host", "path")
        .select("doc_id", "host", "path", "allowed")
    }),

    // the web-graph composition, real-crawl-shaped: pages → outlinks
    // (all three quote styles) → RFC 3986 resolution against each
    // page's own URI (the relative `../doc/<n>` and rooted
    // `/doc/<n>#top` links become edges ONLY through resolution) →
    // canonical URLs → (src, dst) edges → the EXISTING PageRank
    // operator. Self-links filtered; doc 0 ends up dangling (all its
    // targets are itself), exercising the dangling-mass drop on both
    // engines
    "g22_web_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        htmlLinkPage(col("doc_id"), col("text")).as("html"),
        concat(lit("http://example.com/doc/"),
          col("doc_id").cast("string")).as("base_uri"))
      val edges = graft.operators.Html.docLinkEdges(pages, "doc_id",
        "html", "base_uri")
      Graph.pageRank(docs.select("doc_id"), edges, "doc_id", "src", "dst",
          iters = 3, damping = 0.85)
        .select(col("doc_id"), (round(col("score"), 8) + lit(0.0)).as("score"))
    }),

    // near-dup screening on the STREAMING config path (the e35 shape):
    // the same YAML stage kind compiled per micro-batch — scope contract
    // is the batch (crawl ingest shards neighborhoods together; the
    // cross-batch index variant is StreamingNearDup/d08). doc_id % 2
    // batching co-locates each doc with its mangled twin (1000000 is
    // even), so the twin screen happens in-batch; cross-doc accidental
    // pairs spanning batches survive — the oracle replays that scope
    // EXACTLY (pairs restricted to equal batch id)
    "e44_streaming_config_neardup" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e44")
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"),
        col("lang")))
      StreamingCuration.seedFingerprints(docs.limit(0), "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        corpus.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: streaming-neardup-screen
          |  stages:
          |    - stage: nearDupScreen
          |      options:
          |        threshold: "0.7"
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |""".stripMargin)
      val q = StreamingCuration.startFromConfig(s, src, cfg, Map.empty,
        "doc_id", "text", "lang", s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
      StreamHarness.drain("e44", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // streaming site-template removal — t64's ingest twin, merge-on-read
    // (the e36 posture): the frequency rule is CORPUS-level, so state
    // banks per-page block evidence and the drained read applies the
    // rule through the SHARED siteRebuild — a motto crossing minRepeats
    // on a late page still drops from the EARLY pages; drained == batch
    // t64 under any batching, same oracle verbatim
    "e47_streaming_site_template" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e47")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlSitePage(col("doc_id"), col("text")).as("html"),
        col("source"))
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        pages.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val q = StreamingSiteTemplate.start(s, src, "doc_id", "html",
        "source", s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e47", q)
      StreamingSiteTemplate.currentExtract(s, s"$tmp/state", "doc_id",
        minRepeats = 5)
    }),

    // streaming web graph — g22's ingest twin, merge-on-read (the e47
    // posture): PageRank is CORPUS-level, so state banks each page's
    // resolved/canonicalized doc-link edges at ingest (decode-once,
    // O(batch) appends) and the drained read runs the SHARED
    // Graph.pageRank over the banked edge facts — a page from the first
    // batch gains rank from links that arrive in the last; drained ==
    // batch g22 under any batching, same oracle verbatim
    "e49_streaming_web_graph" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e49")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlLinkPage(col("doc_id"), col("text")).as("html"),
        concat(lit("http://example.com/doc/"),
          col("doc_id").cast("string")).as("base_uri"))
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        pages.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val q = StreamingWebGraph.start(s, src, "doc_id", "html",
        "base_uri", s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e49", q)
      StreamingWebGraph.currentRank(s, s"$tmp/state", "doc_id",
          iters = 3, damping = 0.85)
        .select(col("doc_id"), (round(col("score"), 8) + lit(0.0)).as("score"))
    }),

    // the FULL crawl ingest, streaming, REAL-crawl-shaped: gzip-member
    // WARC blobs → byte framing + member-wise inflate → response-type
    // filter → HTTP-response-layer parse (only text/html 200s route) →
    // main-content extraction → gate, all per-document, exactly-once
    // with the e05 fingerprint fold. The SHIPPED WarcIngestStage plugin
    // (the reference's Class.forName contract) carries the whole ingest
    // front from YAML. Distractor records gate each filter: a `request`
    // record sharing a good doc's URI (type filter), a 404 response
    // (status filter), a text/plain 200 (mime filter) — each with a
    // page body that would PASS the quality gate if mis-routed
    "e48_streaming_warc_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = StreamHarness.tempDir("e48")
      val docs = t(s, dir, "documents")
      def http(status: String, ctype: String,
          body: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit(s"HTTP/1.1 $status\r\nServer: synthetic/1.0\r\n" +
          s"Content-Type: $ctype\r\n\r\n"), body)
      def warcRec(tpe: String, uri: org.apache.spark.sql.Column,
          payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit(s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: "),
          uri, lit("\r\nContent-Length: "),
          octet_length(payload).cast("string"),
          lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      def uriOf(
          id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("http://example.com/doc/"), id.cast("string"))
      val wid = pmod(col("doc_id"), lit(50)).as("warc_id")
      val good = docs.select(wid, (col("doc_id") * 10).as("k"),
        warcRec("response", uriOf(col("doc_id")),
          http("200 OK", "text/html; charset=utf-8",
            htmlWrap(col("doc_id"), col("text")))).as("__r"))
      val dis = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val dReq = dis.select(wid, (col("doc_id") * 10 + 1).as("k"),
        warcRec("request", uriOf(col("doc_id")),
          http("200 OK", "text/html",
            htmlWrap(col("doc_id"),
              concat(lit("requestnoise "), col("text"))))).as("__r"))
      val d404 = dis.select(wid, (col("doc_id") * 10 + 2).as("k"),
        warcRec("response", uriOf(col("doc_id") + 3000000),
          http("404 Not Found", "text/html",
            htmlWrap(col("doc_id") + 3000000,
              concat(lit("deadpage "), col("text"))))).as("__r"))
      val dPlain = dis.select(wid, (col("doc_id") * 10 + 3).as("k"),
        warcRec("response", uriOf(col("doc_id") + 4000000),
          http("200 OK", "text/plain",
            htmlWrap(col("doc_id") + 4000000,
              concat(lit("plainpage "), col("text"))))).as("__r"))
      val blobs = good.unionByName(dReq).unionByName(d404)
        .unionByName(dPlain)
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (w, it) =>
          def gz(x: String): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(x.getBytes("UTF-8")); g.close(); bos.toByteArray
          }
          (w, it.toSeq.sortBy(_._2).map(r => gz(r._3)).reduce(_ ++ _))
        }
        .toDF("warc_id", "warc")
      StreamingCuration.seedFingerprints(
        docs.limit(0).select(col("doc_id"), lit("").as("text")),
        "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        blobs.filter(pmod(col("warc_id"), lit(2)) === r)): _*)
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: streaming-warc-ingest
          |  stages:
          |    - stage: graft.plugin.WarcIngestStage
          |      options:
          |        gzip: "true"
          |        http: "true"
          |    - stage: htmlExtract
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |""".stripMargin)
      val q = StreamingCuration.startFromConfig(s, src, cfg, Map.empty,
        "doc_id", "text", "lang", s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
      StreamHarness.drain("e48", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // HTML extraction on the STREAMING config path: pages extract at
    // INGEST (decode-once posture) then gate — both stages per-document
    // map-only, so drained == batch under ANY batching
    "e46_streaming_config_extract" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e46")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        htmlWrap(col("doc_id"), col("text")).as("html"), col("lang"))
      StreamingCuration.seedFingerprints(
        pages.limit(0).select(col("doc_id"), lit("").as("text")),
        "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        pages.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: streaming-extract-gate
          |  stages:
          |    - stage: htmlExtract
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |""".stripMargin)
      val q = StreamingCuration.startFromConfig(s, src, cfg, Map.empty,
        "doc_id", "text", "lang", s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
      StreamHarness.drain("e46", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // PII redaction on the STREAMING config path: redact-then-gate per
    // micro-batch — per-document and map-only, so drained == batch under
    // ANY batching (quality is computed over the REDACTED text, making
    // the stage's effect observable in the gate's membership)
    "e45_streaming_config_pii" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e45")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from "), (col("doc_id") % 256).cast("string"), lit(".0.10."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1 555 01"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"),
        col("lang"))
      StreamingCuration.seedFingerprints(docs.limit(0), "text", s"$tmp/fp")
      val src = StreamHarness.feed(tmp, (0 until 2).map(r =>
        docs.filter(pmod(col("doc_id"), lit(2)) === r)): _*)
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: streaming-pii-gate
          |  stages:
          |    - stage: piiRedact
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |""".stripMargin)
      val q = StreamingCuration.startFromConfig(s, src, cfg, Map.empty,
        "doc_id", "text", "lang", s"$tmp/fp", s"$tmp/kept", s"$tmp/cp")
      StreamHarness.drain("e45", q)
      s.read.parquet(s"$tmp/kept").select("doc_id", "lang", "quality")
    }),

    // t-closeness, categorical ground distance: each (hour, value-bucket)
    // class's event-type distribution vs the corpus-global one; every
    // |p - q| term is an exact DECIMAL integer, one final IEEE division
    "v04_t_closeness" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"))
      Governance.tClosenessAudit(ev, Seq("hour_of_day", "value_bucket"),
        "event_type", t = 0.2)
    }),

    // t-closeness, ORDERED (numeric) ground distance: cumulative-
    // difference EMD of each (event-type, hour) class's value-bucket
    // distribution over the m-value global grid
    "v05_t_closeness_ordered" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"))
      Governance.tClosenessAudit(ev, Seq("event_type", "hour_of_day"),
        "value_bucket", t = 0.15, ordered = true)
    }),

    // Neyman-optimal stratified allocation of a 200-doc sample across
    // sources by n_chars variance: one integer aggregate moves, the
    // allocation math is bounded model state with a pinned fold order
    "c25_neyman_allocation" -> ((s, dir) =>
      CorpusStats.neymanAllocation(t(s, dir, "documents"),
        "source", "n_chars", sampleN = 200L)),

    // right-to-be-forgotten pre-flight: every 97th customer requests
    // erasure; the purge cascades customer -> orders -> lineitem through
    // skinny key-only semi-joins, counts per table prove the blast radius
    "c24_erasure_cascade" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val subjects = cust.filter(col("c_custkey") % 97 === 0)
        .select("c_custkey")
      Governance.erasureCascade(subjects, "c_custkey",
        "customer", cust, "c_custkey",
        Seq(
          Governance.CascadeTable("orders", t(s, dir, "orders"),
            "o_orderkey", "customer", "o_custkey"),
          Governance.CascadeTable("lineitem", t(s, dir, "lineitem"),
            "l_orderkey", "orders", "l_orderkey")))
    }),

    // exact two-sample KS drift between the en slice and the rest —
    // shape-sensitive where PSI's fixed buckets smear
    "c22_ks_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusStats.ksStatistic(
        docs.filter(col("lang") === "en").select("n_chars"),
        docs.filter(col("lang") =!= "en").select("n_chars"),
        "n_chars")
    }),

    // winsorized clipping: n_chars clamped into its exact [p05, p95]
    // histogram-quantile bounds — map-only apply under plan-time literals
    "c21_winsorize" -> ((s, dir) =>
      CorpusStats.winsorize(
          t(s, dir, "documents").select("doc_id", "n_chars"), "n_chars",
          nBuckets = 20, loBucket = 1, hiBucket = 19)
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars_wins") + lit(0.0)).as("n_chars_wins"))),

    // bipartite ANN join, both sides corpus-scale: odd-id vectors find
    // their top-5 even-id neighbors through the salted (list, salt)
    // shuffle join; nprobe = numCentroids makes the gate exact
    "s32_ann_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val leftV = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val rightV = emb.filter(col("vec_id") % 2 === 0)
      Similarity.annJoin(leftV, rightV, "query_id", "embedding",
          "vec_id", "embedding", k = 5, numCentroids = 8, nprobe = 8,
          salts = 4)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // linear-kernel MMD between the label-0 and label-1 embedding
    // corpora: ||mean_A - mean_B||^2 with DECIMAL-routed per-dim sums —
    // vectors never shuffle, only (pos, partial) rows
    "s34_corpus_mmd" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.linearMmd(
        emb.filter(col("label") === 0).select("embedding"),
        emb.filter(col("label") === 1).select("embedding"),
        "embedding")
    }),

    // centroid silhouette per label cluster over the first three
    // embedding dims (snapped to the 6-dp grid): k-bounded centroid
    // table broadcasts back, per-point a/b in one aggregate — the
    // cluster-quality number behind every k choice
    "s38_silhouette" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("embedding"), 2).cast("double"), 6).as("f1"),
        round(element_at(col("embedding"), 3).cast("double"), 6).as("f2"))
      Similarity.silhouetteScore(emb, "vec_id", "label",
        Seq("f0", "f1", "f2"))
    }),

    // local clustering coefficient over the s14 kNN graph: per-vertex
    // triangle counts via the degree-ordered orientation (each triangle
    // materializes once; wedge join bounded by oriented out-degree)
    "s33_local_clustering" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      Graph.localClustering(emb.select("vec_id"), edges,
        "vec_id", "src", "dst")
    }),

    // deterministic label-propagation communities over the near-dup pair
    // graph (symmetrized): 3 synchronous rounds, most-frequent neighbor
    // label, ties by smallest — unlike d06's closure, dense groups stay
    // apart across thin bridges
    "s30_label_propagation" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val all = docs.unionByName(mangled)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text",
        threshold = 0.7)
      val edges = pairs.select(col("idA").as("src"), col("idB").as("dst"))
        .unionByName(pairs.select(col("idB").as("src"), col("idA").as("dst")))
      Graph.labelPropagation(all.select("doc_id"), edges, "doc_id",
        "src", "dst", iters = 3)
    }),

    // ingest-time c22: the non-en slice streams in two batches, its
    // exact value histogram accumulates additively, and the drained KS
    // against the static en reference equals the batch statistic
    // streaming rolling actives: distinct (day, user) pairs as prefix-
    // partitioned LSM state, per batch only affected days re-emit; the
    // drained latest-batch-wins report equals the batch g12 operator
    // streaming k-anonymity: per-class audit rows kept current at
    // ingest — cumulative counts latest-wins + append-only membership
    // facts; a new re-identifiable class surfaces the batch it appears
    "e24_streaming_k_anonymity" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e24")
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"),
        col("user_id"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
      val q = graft.streaming.StreamingKAnonymity.start(s, src,
        Seq("event_type", "hour_of_day", "value_bucket"), "user_id",
        k = 5L, l = 3L, s"$tmp/pairs", s"$tmp/counts", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e24", q)
      graft.streaming.StreamingKAnonymity.report(s, s"$tmp/report",
        Seq("event_type", "hour_of_day", "value_bucket"))
    }),

    // streaming t-closeness: class-value counters + the global-value
    // scalar store update incrementally; per-batch rows flag touched
    // classes against the CURRENT global, and the drained gate
    // recomputes ALL classes from final state through the SHARED v04
    // arithmetic — drained report == v04 by construction
    "e31_streaming_t_closeness" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e31")
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
      val q = graft.streaming.StreamingTCloseness.start(s, src,
        Seq("hour_of_day", "value_bucket"), "event_type", t = 0.2,
        ordered = false, s"$tmp/vals", s"$tmp/global", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e31", q)
      graft.streaming.StreamingTCloseness.report(s, s"$tmp/vals",
        s"$tmp/global", Seq("hour_of_day", "value_bucket"), t = 0.2)
    }),

    // streaming t-closeness, ORDERED ground distance: the e31 monitor
    // with the v05 configuration — same stores, same shared arithmetic,
    // the cumulative-difference EMD over the value-bucket grid
    "e32_streaming_t_closeness_ordered" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e32")
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour_of_day"),
        floor(col("value") / lit(10.0)).cast("long").as("value_bucket"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
      val q = graft.streaming.StreamingTCloseness.start(s, src,
        Seq("event_type", "hour_of_day"), "value_bucket", t = 0.15,
        ordered = true, s"$tmp/vals", s"$tmp/global", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e32", q)
      graft.streaming.StreamingTCloseness.report(s, s"$tmp/vals",
        s"$tmp/global", Seq("event_type", "hour_of_day"), t = 0.15,
        ordered = true)
    }),

    // streaming chunk dedup: the m08 storage report kept current at
    // ingest — chunk-key state is append-only facts, emissions are
    // per-batch deltas (pure sums, replay-proof)
    "e23_streaming_chunk_dedup" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e23")
      val media = Multimodal.fromText(t(s, dir, "documents"),
        "doc_id", "text", "txt").select("media_id", "content")
      val src = StreamHarness.feed(tmp,
        media.filter(col("media_id") % 2 === 0),
        media.filter(col("media_id") % 2 === 1))
      val q = graft.streaming.StreamingChunkDedup.start(s, src,
        "media_id", "content", s"$tmp/chunks", s"$tmp/report", s"$tmp/cp")
      StreamHarness.drain("e23", q)
      graft.streaming.StreamingChunkDedup.report(s, s"$tmp/report")
    }),

    // streaming burstiness: exact per-user gap moments + last_t as
    // latest-wins LSM state; drained report equals the batch g15
    // streaming PR-AUC + calibration drift: per-distinct-score (rows,
    // positives) counts fold additively into LSM state (the e18 recipe
    // with two counters); every batch emits BOTH reports over the
    // cumulative counts through the SHARED batch-eval code, so the
    // drained emission equals t48 + t42 over everything streamed
    "e25_streaming_pr_drift" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e25")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (col("lang") === "en").cast("int").as("y"))
      val src = StreamHarness.feed(tmp,
        scored.filter(col("doc_id") % 2 === 0).select("quality", "y"),
        scored.filter(col("doc_id") % 2 === 1).select("quality", "y"))
      val q = graft.streaming.StreamingPrDrift.start(s, src, "quality", "y",
        s"$tmp/state", s"$tmp/report", s"$tmp/cp")
      StreamHarness.drain("e25", q)
      graft.streaming.StreamingPrDrift.calibrationReport(s, s"$tmp/report")
        .crossJoin(
          graft.streaming.StreamingPrDrift.prReport(s, s"$tmp/report")
            .select(col("pr_auc"), col("baseline"),
              col("n_pos").as("total_pos"), col("n_neg").as("total_neg")))
    }),

    // streaming survival: per-key lifetime bounds merge associatively in
    // LSM state (the e17 recipe); the drained curve routes through the
    // SHARED survivalFromBounds code, so it equals the batch g17 over
    // the full history — the batch split deliberately violates time
    // order to prove the merge needs no ordering contract
    "e26_streaming_survival" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e26")
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("ts_us") % 2 === 0),
        ev.filter(col("ts_us") % 2 === 1))
      val q = graft.streaming.StreamingSurvival.start(s, src, "user_id",
        "ts_us", s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e26", q)
      graft.streaming.StreamingSurvival.report(s, s"$tmp/state",
        censorHorizon = 43200000000L)
    }),

    // streaming transition entropy: events split at the time midpoint
    // (a REAL cross-batch boundary — users straddle the cut and their
    // boundary pairs bridge through per-user state), drained == g18
    "e28_streaming_transition_entropy" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e28")
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts div 1000").as("ts_us"))
      val Array(lo, hi) = ev.agg(min(col("ts_us")), max(col("ts_us")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      val src = StreamHarness.feed(tmp,
        ev.filter(col("ts_us") <= mid),
        ev.filter(col("ts_us") > mid))
      val q = graft.streaming.StreamingTransitionEntropy.start(s, src,
        "user_id", "event_type", "ts_us", "event_id", s"$tmp/state",
        s"$tmp/report", s"$tmp/cp")
      StreamHarness.drain("e28", q)
      graft.streaming.StreamingTransitionEntropy.report(s, s"$tmp/report")
    }),

    // streaming Markov attribution: two TIME-SPLIT micro-batches (the
    // monotone-ingest contract needs per-user order across batches, so
    // the split is a ts cut, never an id parity) — journeys bridge the
    // boundary through the persisted user state; drained report == g20
    "e30_streaming_markov_attribution" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e30")
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
        .select("event_id", "user_id", "ts_us", "event_type")
      val mm = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
        .collect()(0)
      val cut = (mm.getLong(0) + mm.getLong(1)) / 2
      val src = StreamHarness.feed(tmp,
        ev.filter(col("ts_us") < cut),
        ev.filter(col("ts_us") >= cut))
      val q = graft.streaming.StreamingMarkovAttribution.start(s, src,
        "user_id", "event_type", "ts_us", "event_id", "purchase",
        Seq("click", "view", "signup"), s"$tmp/state", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e30", q)
      graft.streaming.StreamingMarkovAttribution.report(s, s"$tmp/report")
    }),

    // streaming distinctive-terms drift: the t50 G² keyness as an
    // ingest-time shift detector — the drained LAST batch's report is
    // batch-2-vs-batch-1 keyness, gated by the same contingency in SQL
    "e29_streaming_distinctive_terms" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e29")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val q = graft.streaming.StreamingDistinctiveTerms.start(s, src,
        "text", s"$tmp/state", s"$tmp/report", s"$tmp/cp", minCount = 5L)
      StreamHarness.drain("e29", q)
      val rep = graft.streaming.StreamingDistinctiveTerms
        .report(s, s"$tmp/report")
      rep.join(rep.agg(max(col("batch")).as("batch")), "batch")
        .select(col("token"), col("n_batch"), col("n_hist"), col("g2"),
          col("overused"))
    }),

    // streaming BM25: the inverted index grows across two doc batches,
    // each batch answers the fixed b02 query panel over the cumulative
    // index through the SAME scoring tail — drained report == b02
    "e27_streaming_bm25" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e27")
      // the b02 planted-selective-term panel + df cap (see b02) — the
      // per-batch scoring join is postings-bounded, not corpus-wide
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" tok"),
          (col("doc_id") % 50).cast("string")).as("text"))
      val queries = docs.filter(col("doc_id") % 40 === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            concat(lit("tok"), (col("doc_id") % 50).cast("string")),
            concat_ws(" ", slice(
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                " "), 2, 2))).as("qtext"))
        .localCheckpoint(eager = true)
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val q = graft.streaming.StreamingBm25.start(s, src, "doc_id", "text",
        queries, "query_id", "qtext", s"$tmp/state", s"$tmp/report",
        s"$tmp/cp", k = 5, maxDfFrac = 0.5)
      StreamHarness.drain("e27", q)
      graft.streaming.StreamingBm25.report(s, s"$tmp/report")
        .select(col("query_id"), col("doc_id"), col("rank"),
          round(col("score"), 6).as("score"))
    }),

    "e22_streaming_burstiness" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e22")
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1))
      val q = graft.streaming.StreamingBurstiness.start(s, src,
        "user_id", "ts_us", "event_id", s"$tmp/state", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e22", q)
      graft.streaming.StreamingBurstiness.report(s, s"$tmp/report")
        .withColumnRenamed("user", "user_id")
    }),

    // streaming interval coverage: merged per-user block state with
    // latest-batch-wins tail overrides; the drained report equals the
    // batch g14 sweep over the full interval history
    "e21_streaming_interval_coverage" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e21")
      val iv = t(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("start_us"),
        (expr("ts div 1000") +
          floor(greatest(col("value"), lit(0.0)) * lit(1000000.0)))
          .as("end_us"))
      val src = StreamHarness.feed(tmp,
        iv.filter(col("event_id") % 2 === 0),
        iv.filter(col("event_id") % 2 === 1))
      val q = graft.streaming.StreamingIntervalCoverage.start(s, src,
        "user_id", "start_us", "end_us", s"$tmp/blocks", s"$tmp/report",
        s"$tmp/cp")
      StreamHarness.drain("e21", q)
      graft.streaming.StreamingIntervalCoverage.report(s, s"$tmp/report")
        .withColumnRenamed("user", "user_id")
    }),

    "e19_streaming_rolling_actives" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e19")
      val ev = t(s, dir, "events").select(col("ts").as("ts_ns"),
        col("user_id"))
      val src = StreamHarness.feed(tmp,
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1))
      val q = graft.streaming.StreamingRollingActives.start(s, src,
        "user_id", "ts_ns", s"$tmp/pairs", s"$tmp/report", s"$tmp/cp")
      StreamHarness.drain("e19", q)
      graft.streaming.StreamingRollingActives.report(s, s"$tmp/report")
    }),

    "e18_streaming_ks_drift" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e18")
      val docs = t(s, dir, "documents").select("doc_id", "n_chars", "lang")
      val ref = docs.filter(col("lang") === "en").select("n_chars")
      val streamed = docs.filter(col("lang") =!= "en")
      val src = StreamHarness.feed(tmp,
        streamed.filter(col("doc_id") % 2 === 0),
        streamed.filter(col("doc_id") % 2 === 1))
      val q = graft.streaming.StreamingKsDrift.start(s, src, "n_chars",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e18", q)
      graft.streaming.StreamingKsDrift.report(s, s"$tmp/state", ref, "n_chars")
    }),

    // ingest-time g10: per-user RFM totals fold forward in LSM state
    // (max/sum/sum merge — associative, so the EVENT-ID-PARITY batch
    // split deliberately violates time order and must not matter);
    // quartile scoring at drain == the batch g10 row-for-row
    "e17_streaming_rfm" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e17")
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
      val src = StreamHarness.feed(tmp,
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
      val q = graft.streaming.StreamingRfm.start(s, src, "user_id", "ts",
        "value", s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e17", q)
      graft.streaming.StreamingRfm.report(s, s"$tmp/state", "user_id")
    }),

    // ingest-time d16: every micro-batch screens against the static
    // benchmark's persisted LSH index; kept docs land batch-keyed
    // (replay overwrites its own partition). Drained union == the batch
    // fuzzy decontamination over the whole stream
    // streaming winnowing screen (the d09 LSM recipe over the d15
    // fingerprint family): batch 1 streams the originals, batch 2 the
    // first-word-stripped copies — every planted pair is CROSS-batch and
    // exists only because batch 1's fingerprints persisted in the index.
    // Drained pairs equal the batch d15 truth: all docs are streamed, so
    // every pair surfaces in its later member's batch, and k=16 buckets
    // stay far under the 1000 cap on this corpus (measured), so the
    // oracle needs no per-batch cap replay
    "e20_streaming_winnow" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e20")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mangled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val src = StreamHarness.feed(tmp, docs, mangled)
      val q = StreamingWinnow.start(s, src, "doc_id", "text",
        s"$tmp/index", s"$tmp/pairs", s"$tmp/cp",
        k = 16, window = 16, minShared = 14)
      StreamHarness.drain("e20", q)
      StreamingWinnow.pairs(s, s"$tmp/pairs")
    }),

    "e16_streaming_fuzzy_decontaminate" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e16")
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val bench = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val half = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
      val src = StreamHarness.feed(tmp,
        docs.filter(col("doc_id") <= half),
        docs.filter(col("doc_id") > half))
      val q = graft.streaming.StreamingFuzzyDecontaminate.start(
        s, src, bench, "doc_id", "text", s"$tmp/kept", s"$tmp/cp",
        threshold = 0.7)
      StreamHarness.drain("e16", q)
      graft.streaming.StreamingFuzzyDecontaminate.kept(s, s"$tmp/kept")
        .select("doc_id", "lang")
    }),

    // linear quality-classifier inference: literal-weight sigmoid scoring,
    // keep decided on the exact linear margin (no transcendental at the
    // decision boundary)
    "t26_quality_classify" -> ((s, dir) =>
      TextAnalysis.linearQualityClassify(t(s, dir, "documents"), "text",
          Seq(-1.6, 1.5, 0.5, 1.0, 3.0))
        .select(col("doc_id"), (round(col("score"), 6) + lit(0.0)).as("score"),
          col("keep"))),

    "t03_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenEstimate(col("text")).as("n_tokens_bpe"))),

    "t07_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text")),

    "t05_chunking" -> ((s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
        size = 100, overlap = 20)
        .select(col("doc_id"), col("chunk_no"),
          length(col("chunk_text")).as("chunk_len"))),

    "t06_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("occurrences").desc, col("token").asc).limit(100)),

    // encoding-corruption audit: U+FFFD, stray C0/C1 controls, and
    // UTF-8-as-Latin-1 mojibake lead sequences — three regex counts per
    // row, map-only, integer end to end
    "t47_encoding_audit" -> ((s, dir) =>
      TextAnalysis.encodingAudit(t(s, dir, "documents"), "doc_id", "text")),

    // Flesch / FK readability under the deterministic vowel-group
    // syllable heuristic: three codegen regex counts per row, map-only;
    // punctuation-free docs clamp to one sentence
    "t46_readability" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")),

    // distinct-1/2/3 lexical diversity: templated text scores low on
    // distinct-2/3 while passing every length filter — map-only, string
    // n-grams built inside each row, ratios are the only IEEE step
    "t45_distinct_ngrams" -> ((s, dir) =>
      TextAnalysis.distinctNgramDiversity(
        t(s, dir, "documents"), "doc_id", "text")),

    // Good–Turing unseen-token mass: n_hapax/N — how much of the
    // domain's vocabulary this corpus has NOT seen yet (the crawl-more
    // diagnostic); integers until the one final division
    "c28_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuringMass(t(s, dir, "documents"), "text")),

    // source concentration per language: HHI, effective source count,
    // top share — the "10 sources but really one crawl" red flag
    "c30_source_concentration" -> ((s, dir) =>
      CorpusStats.concentrationReport(
        t(s, dir, "documents"), "lang", "source")),

    // Chao1 richness: how many token TYPES the corpus has NOT seen yet
    // (the c28 dual) — S_obs + n1(n1-1)/(2(n2+1)) and the coverage
    // fraction that says whether crawling more is worth it
    "c29_chao1_richness" -> ((s, dir) =>
      TextAnalysis.chao1Richness(t(s, dir, "documents"), "text")),

    // one BPE merge-scan round: adjacent char-pair counts weighted by
    // word frequency — the statistic round one of tokenizer training
    // maximizes. Integer-exact; shuffle bounded by vocabulary then by
    // pair domain, never per token occurrence
    "t25_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text",
          minCount = 5L)
        .orderBy(col("pair_count").desc, col("pair").asc).limit(200)),

    "t04_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // sequence packing: fixed-token-budget training sequences, windowed
    // per deterministic group (parallel across groups, no global sort)
    "t08_seq_pack" -> ((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
        tokenBudget = 512, numGroups = 8)),

    // packing-efficiency report: per-bin doc count, token total and fill
    // fraction — the accelerator-utilization number for the t08 layout
    "t29_pack_efficiency" -> ((s, dir) =>
      TextAnalysis.packingEfficiency(t(s, dir, "documents"), "doc_id", "text",
        tokenBudget = 512, numGroups = 8)),

    // corpus-wide boilerplate-line removal: every 4th doc gains a planted
    // newsletter footer (125 docs >> minDocs=50), which must vanish from
    // every document while unique prose lines survive untouched
    "t30_boilerplate_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\nSubscribe to our newsletter today")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 50)
        .select(col("doc_id"), col("n_lines"), col("n_boiler"),
          col("boiler_frac"), md5(col("text_clean")).as("clean_md5"))
    }),

    // deterministic content-keyed sampling: reproducible across runs
    "t09_deterministic_sample" -> ((s, dir) =>
      TextAnalysis.deterministicSample(t(s, dir, "documents"), "text", keepPct = 20)
        .select("doc_id", "sample_bucket")),

    // repetition quality signal: duplicated-bigram and duplicated-line
    // fractions (Gopher-style boilerplate detection)
    "t12_repetition" -> ((s, dir) => {
      val (dupB, dupL) = TextAnalysis.repetitionScores(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), dupB.as("dup_bigram_frac"), dupL.as("dup_line_frac"))
    }),

    // training-mix rebalancing: per-language token shares vs a target
    // distribution; weight = target/actual is the sampling factor per
    // stratum. One corpus aggregate; targets and the global total broadcast
    "t14_mixture_weights" -> ((s, dir) =>
      TextAnalysis.mixtureWeights(t(s, dir, "documents"), "lang", "text",
        Map("en" -> 0.4, "de" -> 0.2), defaultTarget = 0.1)
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("actual_frac"), 6).as("actual_frac"),
          col("target_frac"),
          round(col("weight"), 6).as("weight"))),

    // corpus-statistics quality signal: per-doc fraction of char bigrams
    // rarer than minCount corpus-wide — integer counting, one division,
    // exactly reproducible
    "t15_rare_bigrams" -> ((s, dir) =>
      TextAnalysis.rareBigramFraction(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", minCount = 5L)
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          round(col("rare_frac"), 6).as("rare_frac"))),

    // composed quality-filter pipeline: language ID + quality score +
    // repetition screen in ONE map-only pass over the corpus — the
    // standard pre-training keep/drop filter chain. All three signals are
    // internally rounded to 6 places, so the threshold comparisons are
    // engine-exact
    "c01_quality_pipeline" -> ((s, dir) => {
      val (dupB, _) = TextAnalysis.repetitionScores(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          dupB.as("dup_bigram_frac"))
        .filter(col("pred_lang") === "en" && col("quality") >= 0.9 &&
          col("dup_bigram_frac") <= 0.05)
    }),

    // the end-to-end curation DAG — what the operator framework exists
    // for: c01's quality gate -> t23's graded decontamination drop ->
    // d02's exact dedup (keep min id per normalized-md5) -> t19/t24
    // importance resampling RE-SCORED over the survivors (importance is
    // corpus-relative). One composed lazy plan per stage family; every
    // stage reuses the exact operator the standalone queries gate
    "c07_curation_pipeline" -> ((s, dir) => c07Pipeline(t(s, dir, "documents"))),

    // config-as-query: the SAME curation pipeline expressed as YAML and
    // compiled through StagePipeline's registry — the reference's
    // declarative-config identity (TableMigrationDefinition.java:17-139)
    // extended to the training-data operators; gated by c07's oracle
    // verbatim, so the config front-end provably compiles to the exact
    // code-built plan
    "c31_config_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: curation
          |  stages:
          |    - stage: qualityGate
          |      materialize: true
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |    - stage: decontaminate
          |      options:
          |        eval: benchmark
          |        n: "5"
          |        threshold: "0.5"
          |    - stage: exactDedup
          |      materialize: true
          |    - stage: importanceResample
          |      options:
          |        lang: en
          |        buckets: "1024"
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, docs,
        Map("benchmark" -> c07EvalDocs(docs)))
    }),

    // config-as-query for the TRAINED classifier: the t57 LR screen
    // declared as a YAML stage (train corpus bound as an aux table, the
    // label a SQL expression in config) — the CCNet/GPT-3 quality-filter
    // shape as reviewable data, gated by replaying the t57 chain's kept
    // set. minScore compares the round-6 score (replayable; 0.5 is
    // t57's decision boundary up to that rounding)
    "c33_config_lr_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val input = docs.filter(col("doc_id") % 7 === 3)
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: lr-screen
          |  stages:
          |    - stage: lrScreen
          |      options:
          |        train: labeled
          |        yExpression: "lang = 'en'"
          |        minScore: "0.5"
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, input,
          Map("labeled" -> train))
        .select("doc_id", "lang")
    }),

    // extraction feeding the existing curation gate (the c07 stage-1
    // body): wrap every document in page chrome, extract main content
    // map-only, then language/quality/repetition-gate the EXTRACTED
    // text — the composition a web-corpus pipeline actually runs
    "c34_html_extract_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val blocks = graft.operators.Html.htmlBlocks(
        htmlWrap(col("doc_id"), col("text")))
      val fed = docs.select(col("doc_id"),
        array_join(transform(
          filter(blocks, b => b.getField("is_content")),
          b => b.getField("text")), " ").as("text"),
        col("lang"))
      graft.pipeline.StagePipeline.qualityGate(fed, "en",
        minQuality = 0.9, maxDupBigramFrac = 0.05)
    }),

    // near-dup screening declared from YAML — d03's recipe as the
    // registry stage every production config lists: pairs at 0.7 over
    // the d03 corpus, greedy keep-lowest (idB of any pair drops)
    "c35_config_neardup_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text")))
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: neardup-screen
          |  stages:
          |    - stage: nearDupScreen
          |      options:
          |        threshold: "0.7"
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, corpus)
        .select("doc_id", "text")
    }),

    // PII redaction declared from YAML — t17's redaction as an in-place
    // stage: text replaced by its redacted form, every other column
    // passing through (the redact-first compliance pipeline shape)
    "c36_config_pii_redact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from "), (col("doc_id") % 256).cast("string"), lit(".0.10."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1 555 01"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: pii-redact
          |  stages:
          |    - stage: piiRedact
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, docs)
        .select("doc_id", "text")
    }),

    // the FULL web pipeline from ONE YAML — every stage a production
    // config lists, in production order: extract main content from page
    // chrome, redact PII, language/quality/repetition-gate the redacted
    // text, near-dup screen, exact dedup. Fixture: t17's PII-augmented
    // text wrapped in t61's page chrome, so extraction AND redaction
    // both do observable work
    "c37_config_web_pipeline" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from "), (col("doc_id") % 256).cast("string"), lit(".0.10."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1 555 01"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"),
        col("lang"))
      val pages = aug.select(col("doc_id"),
        htmlWrap(col("doc_id"), col("text")).as("html"), col("lang"))
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: web-pipeline
          |  stages:
          |    - stage: htmlExtract
          |    - stage: piiRedact
          |    - stage: qualityGate
          |      options:
          |        lang: en
          |        minQuality: "0.9"
          |        maxDupBigramFrac: "0.05"
          |    - stage: nearDupScreen
          |      options:
          |        threshold: "0.7"
          |    - stage: exactDedup
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, pages)
        .select("doc_id", "text", "lang", "quality")
    }),

    // payload-digest dedup on the CONFIG path — the crawl pipeline's
    // first dedup declarable from YAML like every other stage: the f14
    // capture frame through a two-stage config (digestDedup, then a
    // filter keeping the digests that actually had duplicate captures
    // — the dedup-report shape a pipeline owner inspects)
    "c38_config_digest_dedup" -> ((s, dir) => {
      val recs = graft.sources.Warc.recordsFull(
        f14Blobs(t(s, dir, "documents")), "warc_id", "warc")
      val cfg = graft.config.ConfigCodec.pipelineFromYaml(
        """pipeline:
          |  name: digest-dedup
          |  stages:
          |    - stage: digestDedup
          |    - stage: filter
          |      options:
          |        expression: "n_captures > 1"
          |""".stripMargin)
      graft.pipeline.StagePipeline.compile(cfg, recs)
    }),

    // curation funnel: documents surviving each c07 stage — the yield
    // report a pipeline owner reads before anything ships; stages share
    // the EXACT c07 construction so the funnel can't drift from the gate
    "c12_curation_funnel" -> ((s, dir) =>
      c07Stages(t(s, dir, "documents"))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(name).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _)),

    // length-curriculum bucketing: EXACT decile boundaries of document
    // length (the short-to-long curriculum knob) — the value histogram is
    // one domain-bounded hash aggregate, the boundaries are plan-time
    // literals, the assignment is map-only. Integer ceiling-division rank
    // targets, so both engines agree on every boundary exactly. (The
    // quality signal would tie-collapse here — its mass sits on one
    // rounded value, and deciles cannot split ties; the CorpusStatsSpec
    // pins that behavior explicitly.)
    "c08_length_curriculum" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      CorpusStats.curriculumBuckets(docs, "n_chars", nBuckets = 10)
        .select("doc_id", "n_chars", "bucket")
    }),

    // distribution drift between two corpus snapshots: PSI over fixed
    // [0,1] quality deciles, snapshot B = the first-word-stripped
    // re-crawl. Counts are exact; each bucket's term rounds to 6 before
    // anything sums (the t21 libm-ulp contract)
    "c09_quality_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qa = docs.select(TextAnalysis.qualityScore(col("text")).as("quality"))
      val qb = docs.select(TextAnalysis.qualityScore(
        regexp_replace(col("text"), "^\\S+\\s", "")).as("quality"))
      CorpusStats.psiDrift(qa, qb, "quality", nBuckets = 10)
    }),

    // one-pass corpus profile: per-language rows + a grand-total row from
    // a SINGLE rollup scan — at 100 TB the corpus is not re-scanned once
    // per statistic; counters, the DECIMAL-routed quality mean, the exact
    // distinct-fingerprint count and the HLL sketch all ride one
    // partial-aggregable aggregation
    "c05_corpus_profile" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(
        col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"),
        TextAnalysis.qualityScore(col("text")).as("__q"),
        TextAnalysis.fingerprint(col("text")).as("__fp"))
      base.rollup("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("n_tokens"),
          (round(sum(col("__q").cast(DecimalType(28, 10))).cast("double") /
            count(lit(1)), 6) + lit(0.0)).as("avg_quality"),
          countDistinct(col("__fp")).as("distinct_fp"),
          GraftFunctions.hll_distinct(col("__fp")).as("__hll"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("avg_quality"), col("distinct_fp"),
          (abs(col("__hll") - col("distinct_fp")) / col("distinct_fp") <= 0.05)
            .as("hll_within_5pct"))
    }),

    // SCD2 history: validity intervals from the event change log — one
    // key-partitioned lead window after the keep-last hash agg
    "c02_scd2_history" -> ((s, dir) =>
      Cdc.scd2History(
        // micros, not nanos: DuckDB reads parquet TIMESTAMP(NANOS) at
        // micro precision, so the gate compares on the shared precision
        t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000").as("ver"),
          col("event_id"), col("event_type")),
        Seq("user_id"), "ver", tieBreak = Seq("event_id"))
        .select("user_id", "event_id", "event_type", "valid_from",
          "valid_to", "is_current")),

    // CDC merge: latest change per key wins (upsert/insert/delete) —
    // max_by hash agg + one full-outer join, no window over the log
    "c03_apply_cdc" -> ((s, dir) => {
      val snap = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val changes = t(s, dir, "events").select(
        col("user_id").as("c_custkey"),
        concat(lit("upd_"), col("event_id").cast("string")).as("c_name"),
        col("value").as("c_acctbal"),
        col("ts").as("ver"),
        col("event_id"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op"))
      Cdc.applyCdc(snap, changes, Seq("c_custkey"), "ver", "op",
        tieBreak = Seq("event_id"))
    }),

    // streaming CDC merge: c03's change log streamed in two event-id-
    // parity batches (so a key's winning change can sit in either), the
    // per-batch keep-last folds into the LSM change store, and the
    // drained MERGE-ON-READ snapshot — applyCdc(seed, stored changes),
    // the batch operator itself — must equal batch c03 over everything
    // streamed; same oracle
    "e36_streaming_cdc_merge" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e36")
      val snap = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val changes = t(s, dir, "events").select(
        col("user_id").as("c_custkey"),
        concat(lit("upd_"), col("event_id").cast("string")).as("c_name"),
        col("value").as("c_acctbal"),
        col("ts").as("ver"),
        col("event_id"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op"))
      StreamingCdcMerge.seedState(snap, s"$tmp/state")
      val src = StreamHarness.feed(tmp,
        changes.filter(pmod(col("event_id"), lit(2)) === 0),
        changes.filter(pmod(col("event_id"), lit(2)) === 1))
      val q = StreamingCdcMerge.start(s, src, Seq("c_custkey"), "ver", "op",
        s"$tmp/state", s"$tmp/cp", tieBreak = Seq("event_id"))
      StreamHarness.drain("e36", q)
      StreamingCdcMerge.currentSnapshot(s, s"$tmp/state", Seq("c_custkey"),
        "ver", "op", tieBreak = Seq("event_id"))
    }),

    // streaming NB training: t53's corpus streamed in three doc-id
    // residue batches — NB's sufficient statistic is additive, so each
    // batch appends only its own (label, token) count deltas (O(batch),
    // never reads state) and the drained MERGE-ON-READ model — the
    // shared smoothing arithmetic over summed deltas — must equal batch
    // t53 over everything streamed; same oracle verbatim
    "e38_streaming_nb_train" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e38")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        docs.filter(pmod(col("doc_id"), lit(3)) === r)
          .select("lang", "text")): _*)
      val q = StreamingNbTrain.start(s, src, "text", "lang",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e38", q)
      StreamingNbTrain.currentModel(s, s"$tmp/state", "lang")
        .select(col("lang"), col("token"), col("cnt"),
          round(col("logp"), 6).as("logp"))
    }),

    // streaming classifier evaluation: t55's (truth, predicted) pairs
    // streamed in three doc-id residue batches — confusion counts are
    // additive, so each batch appends its own ≤|classes|² delta rows and
    // the drained MERGE-ON-READ report — the shared metric tail over
    // summed deltas — must equal batch t55; same oracle verbatim
    "e39_streaming_classifier_eval" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e39")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val test = docs.filter(col("doc_id") % 7 === 3)
      val pairs = TextAnalysis.naiveBayesClassify(train, test,
          "doc_id", "text", "lang")
        .select(col("doc_id"), col("predicted"))
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        pairs.filter(pmod(col("doc_id"), lit(3)) === r)
          .select(col("lang"), col("predicted"))): _*)
      val q = StreamingClassifierEval.start(s, src, "lang", "predicted",
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e39", q)
      StreamingClassifierEval.currentEval(s, s"$tmp/state")
    }),

    // streaming LR training: t56's corpus streamed in three doc-id
    // residue batches — gradient descent has no additive sufficient
    // statistic, but featurization is per-document, so each batch banks
    // its own hashed feature deltas (tokenize paid once at ingest) and
    // the drained model runs the SHARED fixed-round descent over the
    // bank — drained == batch t56, same oracle verbatim
    "e40_streaming_lr_train" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e40")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" mk"), col("lang")).as("text"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        docs.filter(pmod(col("doc_id"), lit(3)) === r)
          .select("doc_id", "lang", "text")): _*)
      val q = StreamingLrTrain.start(s, src, "doc_id", "text",
        (col("lang") === "en").cast("int"), dim = 64,
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e40", q)
      StreamingLrTrain.currentModel(s, s"$tmp/state", "doc_id", dim = 64,
          rounds = 10, eta = 10.0)
        .select(col("bucket"), round(col("w").cast("double"), 6).as("weight"))
    }),

    // mixture application: deterministic per-doc repetition factors from
    // integer-permille targets — all keep decisions are integer
    // arithmetic (a float boundary would be an engine-ulp coin flip)
    "t18_apply_mixture" -> ((s, dir) =>
      TextAnalysis.applyMixture(t(s, dir, "documents"), "lang", "text",
          Map("en" -> 400, "de" -> 200), defaultPermille = 100)
        .select("doc_id", "lang", "n_copies")),

    "t19_importance" -> ((s, dir) =>
      TextAnalysis.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 1024).select("doc_id", "score")),

    // DSIR apply: importance scores -> min-max keep probability -> the
    // content fingerprint is the coin; kept compares integers, so the
    // sampling decision is exact and reproducible on both engines
    "t24_importance_resample" -> ((s, dir) =>
      TextAnalysis.importanceResample(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .select(col("doc_id"), col("score"),
          (round(col("keep_prob"), 6) + lit(0.0)).as("keep_prob"),
          col("kept"))),

    // vocab small enough that real OOVs occur (corpus vocabulary is larger)
    "t20_token_ids" -> ((s, dir) =>
      TextAnalysis.encodeTokens(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 20)),

    // bigram-LM quality: add-one-smoothed corpus bigram model, per-doc
    // mean log-prob (per-gram logs rounded to 4 then DECIMAL-summed, so
    // the score is partition-order- and engine-exact)
    "t21_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")),

    // corpus heavy hitters: top-20 tokens by frequency — hash agg for the
    // counts, bounded-heap top-k for the ranking (never a global sort of
    // the vocabulary)
    "t16_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.topTokens(t(s, dir, "documents"), "text", 20)),

    // PII redaction: emails/IPv4/phone-like runs replaced with tags and
    // counted. The fixture corpus is PII-free, so each doc gets a
    // deterministic PII suffix derived from its own id — the redaction
    // then provably fires on every row in both engines
    "t17_pii_redaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from "), (col("doc_id") % 256).cast("string"), lit(".0.10."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1 555 01"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      TextAnalysis.redactPii(docs, "text")
        .select("doc_id", "text_redacted", "n_email", "n_ipv4", "n_phone")
    }),

    // frequency capping: at most 12 docs per language, kept set chosen
    // deterministically by content fingerprint (bounded-heap agg — never
    // a per-key sort window)
    "t22_frequency_cap" -> ((s, dir) =>
      TextAnalysis.capPerKey(t(s, dir, "documents"), "lang", "doc_id",
          "text", maxPerKey = 12)
        .select("doc_id", "lang")),

    // benchmark decontamination: training docs sharing any word 5-gram
    // with the (synthetic) eval set — eval grams broadcast, corpus never
    // shuffles its grams. Eval set = first-word-dropped variants of every
    // doc_id % 10 == 3 doc, so overlap is planted and non-trivial.
    "t13_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val evalDocs = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      TextAnalysis.decontaminate(docs, evalDocs, "doc_id", "text", n = 5)
    }),

    // graded decontamination: per-doc shared-gram FRACTION vs the eval
    // set + the keep/drop verdict — t13's boolean, made a curation signal
    "t23_overlap_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val evalDocs = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      TextAnalysis.contaminationOverlap(docs, evalDocs, "doc_id", "text",
          n = 5, threshold = 0.5)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          (round(col("overlap_frac"), 6) + lit(0.0)).as("overlap_frac"),
          col("contaminated"))
    }),

    // Bloom-screen decontamination: constant-size membership sketch over
    // the eval grams instead of t13's exact broadcast set. Gated like a01:
    // the exact counts plus two structurally-guaranteed booleans (no
    // false negatives ever; false positives under the design bound —
    // deterministic because the filter hashing is seeded/fixed)
    "b01_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val evalDocs = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      val screened = TextAnalysis.decontaminateBloom(docs, evalDocs,
        "doc_id", "text", n = 5, expectedGrams = 100000L, fpp = 1e-6)
      val exact = TextAnalysis.decontaminate(docs, evalDocs, "doc_id", "text",
          n = 5).select(col("doc_id"), lit(true).as("exact_hit"))
      screened.join(exact, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_contaminated"),
          (sum(when(col("exact_hit") && !col("flagged"), 1L).otherwise(0L)) === 0)
            .as("no_false_negatives"),
          (sum(when(col("flagged") && col("exact_hit").isNull, 1L).otherwise(0L))
            <= count(lit(1)) / 20).as("fp_within_bound"))
    }),

    // BM25 ranked retrieval: top-5 docs per query through the inverted-
    // index join; queries are 4-token slices of every 40th document.
    // The fixture vocabulary is tiny and high-df (31 tokens, df 5%-80%),
    // so the default 0.1 df cap would drop every term — the gate runs
    // capless (maxDfFrac=1.0); the cap is spec-pinned. Per-term scores
    // round to 9 dp and sum as exact DECIMAL — ranking is deterministic
    "b02_bm25_topk" -> ((s, dir) => {
      // planted selective terms: each doc carries ' tokM' (M = id % 50,
      // df ≈ 2%) so the panel mixes a rare term with the fixture's
      // 31-token universal vocabulary — and the df cap at 0.5 SCREENS
      // the universal terms, collapsing the scoring join to the rare
      // term's postings (the real retrieval shape; the universal-vocab
      // worst case stays spec-pinned in TextAnalysisSpec)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" tok"),
          (col("doc_id") % 50).cast("string")).as("text"))
      val queries = docs.filter(col("doc_id") % 40 === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            concat(lit("tok"), (col("doc_id") % 50).cast("string")),
            concat_ws(" ", slice(
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                " "), 2, 2))).as("qtext"))
      TextAnalysis.bm25TopK(docs, queries, "doc_id", "text",
        "query_id", "qtext", k = 5, maxDfFrac = 0.5)
        .select(col("query_id"), col("doc_id"), col("rank"),
          round(col("score"), 6).as("score"))
    }),

    // retrieval evaluation over the b02 run: qrels are fully derivable
    // (grade 2 = the query doc itself, grade 1 = the ~2%-df docs sharing
    // its planted rare token), the run is BM25 top-10 — MRR/recall@10/
    // graded nDCG@10 pooled over the query panel, the readout a
    // retrieval stack reports next to b02/b03
    "b04_retrieval_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" tok"),
          (col("doc_id") % 50).cast("string")).as("text"))
      val queries = docs.filter(col("doc_id") % 40 === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            concat(lit("tok"), (col("doc_id") % 50).cast("string")),
            concat_ws(" ", slice(
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                " "), 2, 2))).as("qtext"))
      val runs = TextAnalysis.bm25TopK(docs, queries, "doc_id", "text",
          "query_id", "qtext", k = 10, maxDfFrac = 0.5)
        .select("query_id", "doc_id", "rank")
      val qrels = docs.select(col("doc_id"), (col("doc_id") % 50).as("__m"))
        .join(queries.select(col("query_id"),
          (col("query_id") % 50).as("__m")), "__m")
        .select(col("query_id"), col("doc_id"),
          when(col("doc_id") === col("query_id"), 2).otherwise(1).as("grade"))
      CorpusStats.retrievalEval(runs, qrels, k = 10)
    }),

    // streaming retrieval evaluation: b04's run streamed in three
    // query-residue batches (whole queries per batch — the shard shape
    // eval runs naturally have) against the STATIC qrels — per-query
    // metric rows are additive, so each batch banks its own through the
    // shared retrievalPerQuery arithmetic and the drained pooled report
    // equals batch b04; same oracle verbatim
    "e41_streaming_retrieval_eval" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e41")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" tok"),
          (col("doc_id") % 50).cast("string")).as("text"))
      val queries = docs.filter(col("doc_id") % 40 === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            concat(lit("tok"), (col("doc_id") % 50).cast("string")),
            concat_ws(" ", slice(
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                " "), 2, 2))).as("qtext"))
      val runs = TextAnalysis.bm25TopK(docs, queries, "doc_id", "text",
          "query_id", "qtext", k = 10, maxDfFrac = 0.5)
        .select("query_id", "doc_id", "rank")
      val qrels = docs.select(col("doc_id"), (col("doc_id") % 50).as("__m"))
        .join(queries.select(col("query_id"),
          (col("query_id") % 50).as("__m")), "__m")
        .select(col("query_id"), col("doc_id"),
          when(col("doc_id") === col("query_id"), 2).otherwise(1).as("grade"))
      val src = StreamHarness.feed(tmp, (0 until 3).map(r =>
        runs.filter(pmod(col("query_id"), lit(3)) === r)): _*)
      val q = StreamingRetrievalEval.start(s, src, qrels, k = 10,
        s"$tmp/state", s"$tmp/cp")
      StreamHarness.drain("e41", q)
      StreamingRetrievalEval.currentEval(s, s"$tmp/state", qrels)
    }),

    // hybrid retrieval: b02's BM25 leg and an s01-shape dense cosine leg
    // (each top-10), fused by reciprocal-rank fusion — the standard
    // no-calibration combiner (a lexical ranker's scores and a vector
    // ranker's cosines are incomparable; their RANKS fuse safely). The
    // doc/vec id spaces align by fixture construction, so query 7's text
    // leg and vector leg rank the same corpus. Self-matches are excluded
    // from the dense leg (a query trivially retrieving itself at rank 1
    // would dominate the fusion and test nothing)
    "b03_rrf_hybrid" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" tok"),
          (col("doc_id") % 50).cast("string")).as("text"))
      val queries = docs.filter(col("doc_id") % 40 === 7)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            concat(lit("tok"), (col("doc_id") % 50).cast("string")),
            concat_ws(" ", slice(
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                " "), 2, 2))).as("qtext"))
      val textLeg = TextAnalysis.bm25TopK(docs, queries, "doc_id", "text",
          "query_id", "qtext", k = 10, maxDfFrac = 0.5)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val vecQueries = emb.filter(col("vec_id") % 40 === 7)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val vecLeg = Similarity.filteredBruteForceTopK(emb, vecQueries,
          "vec_id", "embedding", "query_id", "embedding", k = 10,
          pairFilter = col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(textLeg, vecLeg), "query_id", "doc_id",
          "rank", k = 5)
        .select(col("query_id"), col("doc_id"), col("rank"),
          round(col("rrf"), 6).as("rrf"))
    }),

    // boilerplate cleaning: tags/entities/URLs stripped, whitespace
    // collapsed — fixture text is already clean, so the contract is
    // "cleaning never corrupts clean text" plus the whitespace collapse
    "t11_text_cleaning" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(TextAnalysis.cleanText(col("text"))).as("clean_md5"),
        length(TextAnalysis.cleanText(col("text"))).as("clean_len"))),

    // domain mixing: per-language keep rates, deterministic buckets
    "t10_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "text", "lang",
        rates = Map("en" -> 10, "zh" -> 60), defaultPct = 25)
        .select("doc_id", "lang", "sample_bucket")),

    // ------------------------------------------- LLM pipeline: multimodal
    // storage-level chunk dedup over the binary payloads: the FastCDC
    // boundary walk (ONE codegen kernel pass, bytes never shuffle),
    // chunk identity = (content hash, len), report = total vs distinct
    // chunk bytes
    "m08_payload_chunk_dedup" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"),
        "doc_id", "text", "txt")
      Multimodal.payloadChunkDedup(media, "media_id", "content",
        minSize = 32, maskBits = 6, maxSize = 256)
    }),

    // cross-modal pair mining: text-side vectors paired with a planted
    // media-side re-embedding (exact 2x scaling — cosine-preserving, so
    // every text's true best partner is its own media twin at 1.0);
    // nprobe = numCentroids degenerates the bipartite ANN join exact,
    // and the oracle replays the full ranking relationally (the s32
    // convention) with the mining threshold applied after ranking
    "m09_cross_modal_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val text = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("text_id"), col("embedding"))
      val media = emb.select((col("vec_id") + 500000).as("media_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Multimodal.crossModalPairs(text, media, "text_id", "embedding",
          "media_id", "embedding", k = 3, minCosine = 0.5,
          numCentroids = 8, nprobe = 8, salts = 4)
        .select(col("text_id"), col("media_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // DCT perceptual-hash image near-dup: every doc's deterministic
    // pixel stand-in plus a BRIGHTNESS-SHIFTED variant (+3 on every 5th
    // doc, id+100000) — exactly the perturbation a DCT hash must shrug
    // off (brightness rides the excluded DC term; the quantized basis
    // leaks only a few bits) — banded pairing at maxHamming=12
    "m10_phash_neardup" -> ((s, dir) => {
      val base = Multimodal.pixelGridStub(
        t(s, dir, "documents"), "doc_id", "text")
      val variants = base.filter(col("doc_id") % 5 === 3)
        .select((col("doc_id") + 100000).as("doc_id"),
          transform(col("pixels"), p => least(p + lit(3), lit(255)))
            .as("pixels"))
      // the skinny (id, hash) frame materializes ONCE: the band join
      // references it four ways (a/b sides, sizes, refinement), and an
      // unmaterialized lineage re-runs the pixel+DCT kernels per
      // reference (measured 7 s -> ~1 s at sf0.1)
      val hashes = Multimodal.pHash64(
          base.unionByName(variants), "doc_id", "pixels")
        .localCheckpoint(true)
      Multimodal.pHashPairs(hashes, "doc_id", "phash", maxHamming = 12,
        maxBucketSize = 10000)
    }),

    // audio constellation fingerprint matching: every 25th doc gets a
    // TIME-SHIFTED copy (a 32-byte = 2-window pad prefix, id+1000000) —
    // the offset histogram must find it at offset 2 with most landmarks
    // aligned, exactly what whole-payload hashes miss
    "m11_audio_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("content"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000).as("media_id"),
            encode(concat(lit("P" * 32), col("text")), "UTF-8")
              .as("content")))
      Multimodal.audioFingerprintPairs(media, "media_id", "content",
        windowBytes = 16, fanout = 3, zone = 16, minAligned = 3,
        maxHashGroup = 10000)
    }),

    // video clip alignment: every 25th (ASCII-pure, >= 80-byte) doc gets
    // a CLIPPED copy starting 2 frames (32 bytes) in — the frame-set
    // operators (m05/m06) would see little overlap (the n-chunk grid
    // rescales), but the fixed-grid digest join + offset histogram must
    // find each planted clip at exactly f_offset = -2 with all surviving
    // frames aligned
    "m12_video_clip_align" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("content"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0 &&
            length(col("text")) >= 80 &&
            octet_length(col("text")) === length(col("text")))
          .select((col("doc_id") + 1000000).as("media_id"),
            encode(expr("substring(text, 33)"), "UTF-8").as("content")))
      Multimodal.videoClipAlign(media, "media_id", "content",
        frameBytes = 16, minAligned = 3, maxDigestGroup = 10000)
    }),

    // streaming pHash dedup: the m10 fixture streamed — half the
    // brightness variants ride WITH their originals (within-batch
    // pairs), half arrive a batch later (cross-batch pairs through the
    // persistent band index); drained pairs == the batch m10 pair set
    "e33_streaming_phash_dedup" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e33")
      val base = Multimodal.pixelGridStub(
        t(s, dir, "documents"), "doc_id", "text")
      val variants = base.filter(col("doc_id") % 5 === 3)
        .select((col("doc_id") + 100000).as("doc_id"),
          transform(col("pixels"), p => least(p + lit(3), lit(255)))
            .as("pixels"))
      val src = StreamHarness.feed(tmp,
        base.unionByName(variants.filter(col("doc_id") % 10 === 3)),
        variants.filter(col("doc_id") % 10 === 8))
      val q = graft.streaming.StreamingPHashDedup.start(s, src, "doc_id",
        "pixels", s"$tmp/index", s"$tmp/pairs", s"$tmp/cp",
        maxHamming = 12, maxBucketSize = 10000)
      StreamHarness.drain("e33", q)
      graft.streaming.StreamingPHashDedup.pairs(s, s"$tmp/pairs")
    }),

    // streaming audio fingerprints: the m11 fixture streamed — shifted
    // copies of ids % 50 == 0 ride WITH their originals (within-batch),
    // ids % 50 == 25 arrive a batch later (cross-batch through the
    // persistent landmark index); drained pairs == batch m11
    "e34_streaming_audio_fingerprint" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e34")
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
      val variants = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000).as("media_id"),
          encode(concat(lit("P" * 32), col("text")), "UTF-8")
            .as("content"))
      val src = StreamHarness.feed(tmp,
        base.unionByName(variants.filter(col("media_id") % 50 === 0)),
        variants.filter(col("media_id") % 50 === 25))
      val q = graft.streaming.StreamingAudioFingerprint.start(s, src,
        "media_id", "content", s"$tmp/index", s"$tmp/pairs", s"$tmp/cp",
        windowBytes = 16, fanout = 3, zone = 16, minAligned = 3,
        maxHashGroup = 10000)
      StreamHarness.drain("e34", q)
      graft.streaming.StreamingAudioFingerprint.pairs(s, s"$tmp/pairs")
    }),

    // streaming video clip alignment: the m12 fixture streamed — clips
    // of ids % 50 == 0 ride WITH their sources (within-batch pairs),
    // ids % 50 == 25 arrive a batch later (cross-batch through the
    // persistent frame-digest index); drained pairs == batch m12, each
    // pair once in its later member's batch, through the SHARED
    // LandmarkAlign engine e34 runs
    "e37_streaming_clip_align" -> ((s, dir) => {
      val tmp = StreamHarness.tempDir("e37")
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
      val clips = docs.filter(col("doc_id") % 25 === 0 &&
          length(col("text")) >= 80 &&
          octet_length(col("text")) === length(col("text")))
        .select((col("doc_id") + 1000000).as("media_id"),
          encode(expr("substring(text, 33)"), "UTF-8").as("content"))
      val src = StreamHarness.feed(tmp,
        base.unionByName(clips.filter(col("media_id") % 50 === 0)),
        clips.filter(col("media_id") % 50 === 25))
      val q = graft.streaming.StreamingClipAlign.start(s, src,
        "media_id", "content", s"$tmp/index", s"$tmp/pairs", s"$tmp/cp",
        frameBytes = 16, minAligned = 3, maxDigestGroup = 10000)
      StreamHarness.drain("e37", q)
      graft.streaming.StreamingClipAlign.pairs(s, s"$tmp/pairs")
    }),

    "m01_media_pipeline" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text", "txt")
      val decoded = Multimodal.featureStub(Multimodal.decodeStub(media), dim = 8)
      decoded.select(
        col("media_id"), col("meta.n_bytes").as("n_bytes"),
        col("width"), col("height"),
        // widen float→double BEFORE rounding so both engines round the
        // exact same IEEE value (the oracle mirrors the cast chain)
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"))
    }),

    // resize: decoded dims scaled to fit a target, payload truncated to
    // the new pixel count — metadata/shape contract with a full oracle
    "m03_resize" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text", "txt")
      Multimodal.resizeStub(Multimodal.decodeStub(media), maxDim = 64)
        .select(col("media_id"), col("width"), col("height"),
          col("new_width"), col("new_height"),
          length(col("resized_content")).as("resized_bytes"))
    }),

    // scene segmentation: hard cuts where the energy envelope jumps by
    // more than the threshold between adjacent 16-byte windows, per
    // scene its bounds + peak (keyframe) window — all-integer cut
    // decisions, both engines agree on every boundary exactly
    "m13_scene_segments" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
      Multimodal.sceneSegments(media, "media_id", "content",
        windowBytes = 16, cutThreshold = 120)
    }),

    "m04_audio_energy" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text", "wav")
      Multimodal.audioEnergyStub(media, windowBytes = 64)
    }),

    "m02_frame_sample" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text", "txt")
      Multimodal.frameSample(media, n = 4)
        .select(col("media_id"), col("frame_no"),
          length(col("frame_bytes")).as("frame_len"))
    }),

    // media near-dup by shared frame digests: planted copies differ only
    // in their final character, so (for 1-byte tails) frames 0..2 stay
    // bit-identical and the pair surfaces with n_shared >= 3; multi-byte
    // tails shift the frame grid and the pair drops out — in BOTH engines,
    // since the oracle replays the byte-exact pipeline
    "m05_frame_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromText(docs, "doc_id", "text", "video")
      val planted = Multimodal.fromText(
        docs.filter(col("doc_id") % 25 === 0 && length(col("text")) >= 1)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(expr("substr(text, 1, length(text) - 1)"), lit("X")).as("text")),
        "doc_id", "text", "video")
      Multimodal.frameNearDupPairs(media.unionByName(planted),
        n = 4, minShared = 3)
    }),

    // whole-asset resemblance: the m05 planted corpus judged by frame-set
    // Jaccard — tail-edited copies share 3 of their 4+ distinct frames
    "m06_frame_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromText(docs, "doc_id", "text", "video")
      val planted = Multimodal.fromText(
        docs.filter(col("doc_id") % 25 === 0 && length(col("text")) >= 1)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(expr("substr(text, 1, length(text) - 1)"), lit("X")).as("text")),
        "doc_id", "text", "video")
      Multimodal.frameJaccardPairs(media.unionByName(planted),
          n = 4, threshold = 0.5)
        .select(col("idA"), col("idB"), col("n_shared"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
    }),

    // snapshot diff: regenerate the change log between two keyed
    // snapshots — deletes for %7 keys, acctbal updates for %5 keys,
    // inserts for offset copies of %100 keys; identical rows emit nothing
    "c04_snapshot_diff" -> ((s, dir) => {
      val before = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val after = before.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionByName(before.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            col("c_name"), col("c_acctbal")))
      Cdc.snapshotDiff(before, after, Seq("c_custkey"))
    })
  )

  // ------------------------------------------------------------- oracles

  /** DuckDB-dialect SQL builders for oracles that must reproduce the
    * engine's 64-bit hash kernels ([[graft.functions.HashKernels]]):
    * unsigned 64-bit arithmetic lives in HUGEINT mod 2^64, xor routes
    * through signed BIGINT (bit-identical), and the 64x64 multiply splits
    * into 32-bit halves so the 128-bit product never overflows HUGEINT.
    * Stages are applied via successive `list_transform` lambdas at the
    * call site — the lambda variable keeps the generated SQL linear in
    * the number of stages instead of exponentially nested.
    */
  private object DuckHash {
    val U = "18446744073709551616::HUGEINT" // 2^64
    val H = "9223372036854775808::HUGEINT" // 2^63
    def toI(x: String): String =
      s"CAST(CASE WHEN ($x) >= $H THEN ($x) - $U ELSE ($x) END AS BIGINT)"
    def toU(x: String): String =
      s"(CASE WHEN ($x) < 0::HUGEINT THEN ($x) + $U ELSE ($x) END)"
    /** x ^ (x >>> 33) on the unsigned domain. */
    def xorShift33(x: String): String =
      toU(s"CAST(xor(${toI(x)}, CAST(($x) // 8589934592::HUGEINT AS BIGINT)) AS HUGEINT)")
    /** (x * c) mod 2^64 via 32-bit half products. */
    def mulMod(x: String, c: BigInt): String = {
      val cl = c & 0xffffffffL
      val ch = c >> 32
      s"((($x) % 4294967296::HUGEINT) * $cl::HUGEINT" +
        s" + (((($x) % 4294967296::HUGEINT) * $ch::HUGEINT + (($x) // 4294967296::HUGEINT) * $cl::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $U"
    }
    /** x ^ signedConstant on the unsigned domain. */
    def xorConst(x: String, signedC: Long): String =
      toU(s"CAST(xor(${toI(x)}, CAST($signedC AS BIGINT)) AS HUGEINT)")
  }

  /** m08: the CDC boundary rule replayed exactly — per position the
    * 16-byte sliding-window poly (prefix poly before position 16),
    * fmix64-mixed through the d04 stage chain, low-6-bit cut flags;
    * then the min/max walk as a string-state fold (DuckDB's
    * list_reduce does not propagate nested-list struct accumulators,
    * VARCHAR state does); then per-chunk content polynomials from the
    * cut positions. Raw chunk polynomials stand in for the engine's
    * fmix64-finalized hashes — fmix64 is a bijection, so the
    * distinct-(hash, len) cardinality and byte sums are identical.
    * Fixture text is pure ASCII, so codepoints == bytes (m01 note).
    */
  private def m08OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val goldSigned = -7046029254386353131L // 0x9E3779B97F4A7C15 as signed
    s"""WITH bts AS (
       |  SELECT doc_id, list_transform(range(1, length(text) + 1),
       |           i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT)) AS bs
       |  FROM documents),
       |w0 AS (SELECT doc_id, bs, list_transform(range(1, len(bs) + 1),
       |         p -> list_reduce(list_prepend(0::HUGEINT, bs[GREATEST(1, p - 15):p]),
       |                (a, c) -> (a * 31 + c) % $U)) AS hw FROM bts),
       |w1 AS (SELECT doc_id, bs, list_transform(hw, h -> ${xorConst("h", goldSigned)}) AS hw FROM w0),
       |w2 AS (SELECT doc_id, bs, list_transform(hw, h -> ${xorShift33("h")}) AS hw FROM w1),
       |w3 AS (SELECT doc_id, bs, list_transform(hw, h -> ${mulMod("h", C1)}) AS hw FROM w2),
       |w4 AS (SELECT doc_id, bs, list_transform(hw, h -> ${xorShift33("h")}) AS hw FROM w3),
       |w5 AS (SELECT doc_id, bs, list_transform(hw, h -> ${mulMod("h", C2)}) AS hw FROM w4),
       |w6 AS (SELECT doc_id, bs, list_transform(hw, h -> ${xorShift33("h")}) AS hw FROM w5),
       |fl AS (SELECT doc_id, bs, list_transform(range(1, len(hw) + 1),
       |         p -> CAST(p AS VARCHAR) || ':' ||
       |              CASE WHEN hw[p] % 64 = 0::HUGEINT THEN '1' ELSE '0' END) AS es
       |       FROM w6),
       |wk AS (SELECT doc_id, bs, list_reduce(list_prepend('0|', es),
       |         (a, e) -> CASE
       |           WHEN (CAST(string_split(a, '|')[1] AS BIGINT) + 1 >= 32
       |                 AND string_split(e, ':')[2] = '1')
       |                OR CAST(string_split(a, '|')[1] AS BIGINT) + 1 = 256
       |           THEN '0|' || string_split(a, '|')[2] || string_split(e, ':')[1] || ';'
       |           ELSE CAST(CAST(string_split(a, '|')[1] AS BIGINT) + 1 AS VARCHAR)
       |                || '|' || string_split(a, '|')[2]
       |         END) AS st
       |       FROM fl WHERE len(bs) > 0),
       |cuts AS (SELECT doc_id, bs,
       |           CASE WHEN CAST(string_split(st, '|')[1] AS BIGINT) > 0
       |                THEN list_append(
       |                  list_filter(string_split(string_split(st, '|')[2], ';'),
       |                    x -> length(x) > 0), CAST(len(bs) AS VARCHAR))
       |                ELSE list_filter(string_split(string_split(st, '|')[2], ';'),
       |                  x -> length(x) > 0) END AS cl
       |         FROM wk),
       |ck AS (SELECT doc_id, bs, unnest(list_transform(range(1, len(cl) + 1),
       |         i -> {'cs': CASE WHEN i = 1 THEN 1
       |                         ELSE CAST(cl[i - 1] AS BIGINT) + 1 END,
       |               'ce': CAST(cl[i] AS BIGINT)})) AS c
       |       FROM cuts),
       |p AS (SELECT (c.ce - c.cs + 1) AS len,
       |        list_reduce(list_prepend(0::HUGEINT, bs[c.cs:c.ce]),
       |          (a, x) -> (a * 31 + x) % $U) AS h
       |      FROM ck),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |               CAST(COALESCE(SUM(len), 0) AS BIGINT) AS total_bytes
       |        FROM p),
       |u AS (SELECT len, h FROM p GROUP BY len, h),
       |uq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
       |              CAST(COALESCE(SUM(len), 0) AS BIGINT) AS unique_bytes
       |       FROM u),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT n_docs, total_bytes, n_chunks, n_unique_chunks, unique_bytes,
       |       CASE WHEN total_bytes = 0 THEN 1.0
       |            ELSE ROUND(CAST(unique_bytes AS DOUBLE)
       |                       / CAST(total_bytes AS DOUBLE), 6) + 0.0
       |       END AS dedup_ratio
       |FROM nd CROSS JOIN tot CROSS JOIN uq""".stripMargin
  }

  /** The d04 oracle: reproduces HashKernels.windowHash (base-31 roll ^
    * golden-ratio constant, fmix64) per token, the per-bit-majority
    * SimHash, and the exact pair set at Hamming distance <= maxHamming —
    * validated byte-for-byte against the Spark output at sf0.01.
    */
  private def d04OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val goldSigned = -7046029254386353131L // 0x9E3779B97F4A7C15 as signed
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s', '') FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
       |  FROM docs2),
       |h0 AS (SELECT doc_id, list_transform(ts, t ->
       |         list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(t)+1),
       |           i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
       |           (a, c) -> (a * 31 + c) % $U)) AS hs FROM toks),
       |h1 AS (SELECT doc_id, list_transform(hs, h -> ${xorConst("h", goldSigned)}) AS hs FROM h0),
       |h2 AS (SELECT doc_id, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h1),
       |h3 AS (SELECT doc_id, list_transform(hs, h -> ${mulMod("h", C1)}) AS hs FROM h2),
       |h4 AS (SELECT doc_id, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h3),
       |h5 AS (SELECT doc_id, list_transform(hs, h -> ${mulMod("h", C2)}) AS hs FROM h4),
       |h6 AS (SELECT doc_id, list_transform(hs, h -> ${toI(xorShift33("h"))}) AS hs FROM h5),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(0, 64), j ->
       |           CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)
       |                THEN CASE WHEN j = 63 THEN -9223372036854775808 ELSE (1::BIGINT << CAST(j AS INT)) END
       |                ELSE 0 END)) AS BIGINT) AS sim
       |  FROM h6)
       |SELECT a.doc_id AS idA, b.doc_id AS idB,
       |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
  }

  /** The d15 oracle: reproduces HashKernels.windowHash per 8-char
    * window (base-31 roll ^ golden constant, fmix64 — the d04 stage
    * chain, here over character windows instead of tokens), then the
    * winnowing selection as `list_min` over every 16-long hash slice
    * (the VALUE set is tie-rule-independent, which is what makes a
    * relational replay exact), then true shared-fingerprint pair
    * counts via explode + equi-join, with the engine's capBuckets skew
    * guard replayed as a QUALIFY bucket-count filter.
    */
  /** The winnow-fingerprint pair CTE chain shared by d15/d18: expects a
    * `docs2(doc_id, text)` CTE upstream, yields `wpairs(idA, idB,
    * n_shared)` — pairs sharing ≥ `minShared` fingerprints after the
    * 1000-cap skew-guard replay.
    */
  private def winnowPairCtes(k: Int, minShared: Int): String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val goldSigned = -7046029254386353131L // 0x9E3779B97F4A7C15 as signed
    s"""norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |  FROM docs2),
       |h0 AS (SELECT doc_id,
       |         CASE WHEN length(n) = 0 THEN []
       |              WHEN length(n) < $k THEN [list_reduce(list_prepend(0::HUGEINT,
       |                  list_transform(range(1, length(n) + 1),
       |                    j -> CAST(unicode(substr(n, CAST(j AS INT), 1)) AS HUGEINT))),
       |                  (a, c) -> (a * 31 + c) % $U)]
       |              ELSE list_transform(range(1, length(n) - ${k - 2}),
       |                i -> list_reduce(list_prepend(0::HUGEINT,
       |                  list_transform(range(CAST(i AS INT), CAST(i + $k AS INT)),
       |                    j -> CAST(unicode(substr(n, CAST(j AS INT), 1)) AS HUGEINT))),
       |                  (a, c) -> (a * 31 + c) % $U)) END AS hs
       |       FROM norm),
       |h1 AS (SELECT doc_id, list_transform(hs, h -> ${xorConst("h", goldSigned)}) AS hs FROM h0),
       |h2 AS (SELECT doc_id, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h1),
       |h3 AS (SELECT doc_id, list_transform(hs, h -> ${mulMod("h", C1)}) AS hs FROM h2),
       |h4 AS (SELECT doc_id, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h3),
       |h5 AS (SELECT doc_id, list_transform(hs, h -> ${mulMod("h", C2)}) AS hs FROM h4),
       |h6 AS (SELECT doc_id, list_transform(hs, h -> ${toI(xorShift33("h"))}) AS hs FROM h5),
       |wn AS (SELECT doc_id,
       |         CASE WHEN len(hs) = 0 THEN []
       |              WHEN len(hs) <= 16 THEN [list_min(hs)]
       |              ELSE list_distinct(list_transform(range(1, len(hs) - 14),
       |                i -> list_min(hs[CAST(i AS INT):CAST(i + 15 AS INT)]))) END AS fps
       |       FROM h6),
       |ex AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
       |-- replay the engine's capBuckets skew guard: a fingerprint bucket
       |-- larger than maxBucketSize (=1000, the LSH-family default) is
       |-- boilerplate and dropped before the pair join
       |exk AS (SELECT doc_id, fp FROM ex
       |        QUALIFY count(*) OVER (PARTITION BY fp) <= 1000),
       |wpairs AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS n_shared
       |  FROM exk a JOIN exk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)""".stripMargin
  }

  private def d15OracleSql(k: Int): String =
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s', '') FROM documents),
       |${winnowPairCtes(k, 14)}
       |SELECT idA, idB, n_shared FROM wpairs""".stripMargin

  /** The d18 oracle: the winnow shortlist (the d15 chain over the
    * d07-style corpus), then the FULL d07 span-dedup construction
    * restricted to shortlisted documents — proving the engine's two-stage
    * composition equals "span dedup over exactly the flagged docs".
    */
  private def d18OracleSql(k: Int): String =
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |         regexp_replace(text, '^\\S+\\s', '') || ' u' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 10 = 0),
       |${winnowPairCtes(k, 14)},
       |ids AS (SELECT DISTINCT doc_id FROM (
       |          SELECT idA AS doc_id FROM wpairs
       |          UNION ALL SELECT idB FROM wpairs)),
       |rdocs AS (SELECT d.doc_id, d.text FROM docs2 d JOIN ids USING (doc_id)),
       |toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
       |  FROM rdocs),
       |grams0 AS (
       |  SELECT doc_id, UNNEST(
       |    CASE WHEN len(ts) >= 8
       |         THEN list_transform(range(1, len(ts) - 6),
       |                i -> struct_pack(pos := i - 1,
       |                       g := array_to_string(list_slice(ts, CAST(i AS INT), CAST(i + 7 AS INT)), ' ')))
       |         ELSE [struct_pack(pos := 0, g := array_to_string(ts, ' '))]
       |    END) AS u
       |  FROM toks),
       |grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM grams0),
       |occ AS (
       |  SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
       |         count(*) OVER (PARTITION BY g) AS cnt
       |  FROM grams),
       |cov0 AS (
       |  SELECT doc_id, UNNEST(range(pos, pos + 8)) AS cov
       |  FROM occ WHERE cnt >= 2 AND rn > 1),
       |covered AS (SELECT DISTINCT doc_id, cov FROM cov0),
       |tokpos0 AS (
       |  SELECT doc_id, len(ts) AS n_tokens,
       |         UNNEST(list_transform(range(1, len(ts) + 1),
       |           i -> struct_pack(p := i - 1, tok := ts[CAST(i AS INT)]))) AS u
       |  FROM toks),
       |tokpos AS (SELECT doc_id, n_tokens, u.p AS p, u.tok AS tok FROM tokpos0)
       |SELECT tp.doc_id,
       |       coalesce(string_agg(CASE WHEN c.cov IS NULL THEN tp.tok END, ' ' ORDER BY tp.p), '') AS text_kept,
       |       CAST(any_value(tp.n_tokens) AS INT) AS n_tokens,
       |       CAST(count(c.cov) AS INT) AS n_removed
       |FROM tokpos tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.cov
       |GROUP BY tp.doc_id""".stripMargin

  /** The s29 oracle: MMR replayed round-for-round — the exact top-20
    * relevance pool (the s01 cosine), then `k` UNROLLED greedy rounds,
    * each a row_number argmax over `0.7·rel − 0.3·ms` (ties by id) and a
    * GREATEST running-max update of survivors' similarity-to-selected
    * (`ms` seeded at cosine's −1 floor) — identical IEEE arithmetic to
    * the engine's rounds, so every score matches bit-for-bit.
    */
  private def s29OracleSql(k: Int): String = {
    def cos(a: String, b: String): String =
      s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
         |  (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
         |   sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
    val rounds = (1 to k).map { r =>
      val cand = if (r == 1) "cand1" else s"cand$r"
      val next =
        if (r == k) ""
        else s""",
           |cand${r + 1} AS (
           |  SELECT c.query_id, c.vec_id, c.rel, c.embedding,
           |         GREATEST(c.ms, ${cos("c.embedding", "p.embedding")}) AS ms
           |  FROM $cand c JOIN pk$r p ON c.query_id = p.query_id
           |  WHERE c.vec_id <> p.vec_id)""".stripMargin
      // (1.0 - 0.7), NOT a 0.3 literal: the engine computes the
      // redundancy weight as 1.0 − λ in doubles, and IEEE 1.0 − 0.7 is
      // 0.30000000000000004 ≠ the 0.3 literal — replay the expression
      s"""sc$r AS (SELECT *, 0.7 * rel - (1.0 - 0.7) * ms AS mmr FROM $cand),
         |pk$r AS (
         |  SELECT query_id, vec_id, embedding, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |               ORDER BY mmr DESC, vec_id ASC) AS rn FROM sc$r)
         |  WHERE rn = 1)$next""".stripMargin
    }.mkString(",\n")
    val emit = (1 to k).map(r =>
      s"SELECT query_id, vec_id, CAST($r AS INT) AS round, " +
        s"ROUND(mmr, 6) + 0.0 AS mmr FROM pk$r").mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
       |           WHERE vec_id < 5),
       |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |scored AS (
       |  SELECT q.query_id, c.vec_id, c.embedding,
       |         ${cos("c.embedding", "q.embedding")} AS rel
       |  FROM c CROSS JOIN q),
       |pool AS (SELECT query_id, vec_id, embedding, rel FROM (
       |           SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY rel DESC, vec_id ASC) AS rn
       |           FROM scored) WHERE rn <= 20),
       |cand1 AS (SELECT query_id, vec_id, rel, embedding,
       |                 CAST(-1.0 AS DOUBLE) AS ms FROM pool),
       |$rounds
       |$emit""".stripMargin
  }

  /** The d14 oracle: replays the KMV shortlist bit-for-bit — per-source
    * word-5-gram strings (the d13 CTE), each gram hashed with the
    * windowHash chain (base-31 poly ^ golden, fmix64 — the d04 replay,
    * scalar per gram), folded to the 40-bit KMV domain, per-source
    * bottom-128, shared-member candidate pairs, union-sketch Jaccard
    * estimate >= 0.2, then the exact d13 matrix restricted to the
    * shortlist (gram-string equality structure, the d13 precedent).
    */
  private def d14OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val goldSigned = -7046029254386353131L
    s"""WITH src AS (
       |  SELECT 'crawl_a' AS source, text FROM documents
       |  UNION ALL
       |  SELECT 'crawl_b', regexp_replace(text, '^\\S+\\s', '') FROM documents
       |  UNION ALL
       |  SELECT 'catalog', p_name FROM part),
       |norm AS (SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |         FROM src),
       |tok AS (SELECT source, n, string_split(n, ' ') AS w FROM norm),
       |gramsl AS (
       |  SELECT source,
       |         CASE WHEN len(w) < 5
       |              THEN (CASE WHEN length(n) = 0 THEN [] ELSE [n] END)
       |              ELSE list_transform(range(1, len(w) - 3),
       |                     i -> list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4],
       |                                         'string_agg', ' ')) END AS g
       |  FROM tok),
       |gr AS (SELECT DISTINCT source, unnest(g) AS gm FROM gramsl),
       |h0 AS (SELECT source, list_reduce(list_prepend(0::HUGEINT,
       |         list_transform(range(1, length(gm)+1),
       |           i -> CAST(unicode(substr(gm, CAST(i AS INT), 1)) AS HUGEINT))),
       |         (a, c) -> (a * 31 + c) % $U) AS h FROM gr),
       |h1 AS (SELECT source, ${xorConst("h", goldSigned)} AS h FROM h0),
       |h2 AS (SELECT source, ${xorShift33("h")} AS h FROM h1),
       |h3 AS (SELECT source, ${mulMod("h", C1)} AS h FROM h2),
       |h4 AS (SELECT source, ${xorShift33("h")} AS h FROM h3),
       |h5 AS (SELECT source, ${mulMod("h", C2)} AS h FROM h4),
       |h6 AS (SELECT source, ${xorShift33("h")} AS h FROM h5),
       |v AS (SELECT DISTINCT source,
       |             CAST(h % 1099511627776::HUGEINT AS BIGINT) AS v FROM h6),
       |sk AS (SELECT source, v FROM (
       |         SELECT source, v,
       |                row_number() OVER (PARTITION BY source ORDER BY v) AS rn
       |         FROM v) WHERE rn <= 128),
       |cand AS (SELECT DISTINCT a.source AS sa, b.source AS sb
       |         FROM sk a JOIN sk b ON a.v = b.v AND a.source < b.source),
       |pm AS (SELECT c.sa, c.sb, s.v,
       |              MAX(CASE WHEN s.source = c.sa THEN 1 ELSE 0 END) AS ina,
       |              MAX(CASE WHEN s.source = c.sb THEN 1 ELSE 0 END) AS inb
       |       FROM cand c JOIN sk s ON s.source = c.sa OR s.source = c.sb
       |       GROUP BY 1, 2, 3),
       |sku AS (SELECT sa, sb, ina, inb,
       |               row_number() OVER (PARTITION BY sa, sb ORDER BY v) AS rn
       |        FROM pm),
       |est AS (SELECT sa, sb,
       |               CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
       |                    AS DOUBLE) / COUNT(*) AS j
       |        FROM sku WHERE rn <= 128 GROUP BY 1, 2),
       |short AS (SELECT sa, sb FROM est WHERE j >= 0.2),
       |ssrc AS (SELECT DISTINCT s FROM
       |           (SELECT sa AS s FROM short UNION ALL SELECT sb FROM short)),
       |gre AS (SELECT gr.source, gr.gm FROM gr JOIN ssrc ON gr.source = ssrc.s),
       |sz AS (SELECT source, COUNT(*) AS n FROM gre GROUP BY 1),
       |ix AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
       |       FROM gre a JOIN gre b ON a.gm = b.gm AND a.source < b.source
       |       GROUP BY 1, 2)
       |SELECT ix.source_a, ix.source_b, ix.i AS n_shared,
       |       ROUND(CAST(ix.i AS DOUBLE) / (x.n + y.n - ix.i), 6) + 0.0
       |         AS jaccard
       |FROM ix JOIN sz x ON ix.source_a = x.source
       |        JOIN sz y ON ix.source_b = y.source
       |        JOIN short ON short.sa = ix.source_a AND short.sb = ix.source_b""".stripMargin
  }

  // shared oracle fragments: t01/t02/t12 are gated standalone AND stitched
  // into the composed c01 pipeline oracle
  private val t01LangSql = langOverSql("documents")

  /** t01's language-ID replay over any table exposing (doc_id, text) —
    * c34 re-runs it over HTML-extracted main content.
    */
  private def langOverSql(table: String): String =
    s"""WITH toks AS (SELECT doc_id,
                string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
              FROM $table)
         SELECT doc_id, CASE WHEN CAST(substr(best, 1, 10) AS INT) > 0
                             THEN substr(best, 11) ELSE 'und' END AS pred_lang
         FROM (SELECT doc_id, greatest(
            lpad(CAST(len(list_filter(w, x -> list_contains(['der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'mit', 'für', 'von'], x))) AS VARCHAR), 10, '0') || 'de',
            lpad(CAST(len(list_filter(w, x -> list_contains(['the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'], x))) AS VARCHAR), 10, '0') || 'en',
            lpad(CAST(len(list_filter(w, x -> list_contains(['el', 'la', 'los', 'y', 'es', 'un', 'una', 'para', 'en', 'que'], x))) AS VARCHAR), 10, '0') || 'es',
            lpad(CAST(len(list_filter(w, x -> list_contains(['le', 'la', 'les', 'et', 'est', 'un', 'une', 'pour', 'dans', 'que'], x))) AS VARCHAR), 10, '0') || 'fr',
            lpad(CAST(len(list_filter(w, x -> list_contains(['的', '是', '不', '了', '在', '有', '我', '他', '这', '就'], x))) AS VARCHAR), 10, '0') || 'zh') AS best
               FROM toks)"""

  /** The t19 oracle: reproduces the per-token windowHash (same staged
    * chain as d04), buckets on the unsigned domain (h % B ≡ pmod of the
    * signed value since 2^64 ≡ 0 mod B for power-of-two B), then computes
    * the linearized importance divergence Σ (t_b·S − s_b·T) relationally
    * in HUGEINT — exact integer arithmetic end to end, no libm.
    */
  /** s11 oracle: replays [[graft.operators.Similarity.pcaProject]] —
    * DECIMAL(28,10)-routed moments (the s10 precedent: DuckDB and Spark
    * agree on the double→DECIMAL cast at scale 10), then 10 power-iteration
    * rounds over ordered lists whose folds run left-to-right from a 0.0
    * accumulator, exactly the engine's driver-side loop order. All lambda
    * arithmetic is explicitly DOUBLE-cast — bare 0.125/0.0 literals are
    * DECIMAL in DuckDB and would silently round the whole chain.
    */
  // one mat-vec sweep: w_i = fold_j cov[i][j] * vec[j] (ascending j)
  private def s11Matvec(
      i: String, j: String, a: String, b: String, vec: String) =
    s"""list_transform(range(1, 65), $i ->
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, 65),
       |      $j -> cm.m[CAST($i AS INT)][CAST($j AS INT)] * $vec[CAST($j AS INT)])),
       |    ($a, $b) -> $a + $b))""".stripMargin

  /** Shared s11/s12 CTE chain: moments → covariance lists → 10 power
    * rounds → `pcv(p)`, the unit top component.
    */
  private def s11Ctes: String = {
    def matvec(i: String, j: String, a: String, b: String) =
      s11Matvec(i, j, a, b, "it.v")
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |x AS (SELECT vec_id, CAST(i AS INT) AS i, emb[CAST(i AS INT)] AS v
       |      FROM e, range(1, 65) t(i)),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
       |mean AS (SELECT i, CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE)
       |                   / (SELECT n FROM n) AS m
       |         FROM x GROUP BY i),
       |mom AS (SELECT a.i AS i, b.i AS j,
       |               CAST(SUM(CAST(a.v * b.v AS DECIMAL(28,10))) AS DOUBLE)
       |               / (SELECT n FROM n) AS s
       |        FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS (SELECT mom.i, mom.j, mom.s - ma.m * mb.m AS c
       |        FROM mom JOIN mean ma ON ma.i = mom.i
       |                 JOIN mean mb ON mb.i = mom.j),
       |covrows AS (SELECT i, list(c ORDER BY j) AS cr FROM cov GROUP BY i),
       |covm AS (SELECT list(cr ORDER BY i) AS m FROM covrows),
       |mvec AS (SELECT list(m ORDER BY i) AS ml FROM mean),
       |it(k, v) AS (
       |  SELECT 0, list_transform(range(1, 65), q0 -> CAST(0.125 AS DOUBLE))
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(${matvec("i", "j", "a1", "b1")},
       |      x -> x / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(${matvec("i2", "j2", "a2", "b2")},
       |          y -> y * y)), (a3, b3) -> a3 + b3)))
       |  FROM it, covm cm WHERE k < 10),
       |pcv AS (SELECT v AS p FROM it WHERE k = 10)""".stripMargin
  }

  private def s11OracleSql: String =
    s"""$s11Ctes
       |SELECT e.vec_id,
       |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, 65),
       |      j -> (emb[CAST(j AS INT)] - mv.ml[CAST(j AS INT)])
       |           * pcv.p[CAST(j AS INT)])),
       |    (a, b) -> a + b), 4) + 0.0 AS proj
       |FROM e, mvec mv, pcv""".stripMargin

  /** c10 oracle: s11's projection replay feeding the c08 exact-quantile
    * replay at 20 buckets — keep ventiles 2..19. The projection rounds to
    * 4 with signed-zero canonicalization BEFORE the histogram, so the
    * quantile domain is identical on both engines.
    */
  private def c10OracleSql: String =
    s"""$s11Ctes,
       |proj AS (
       |  SELECT e.vec_id,
       |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        j -> (emb[CAST(j AS INT)] - mv.ml[CAST(j AS INT)])
       |             * pcv.p[CAST(j AS INT)])),
       |      (a, b) -> a + b), 4) + 0.0 AS proj
       |  FROM e, mvec mv, pcv),
       |h AS (SELECT proj AS v, COUNT(*) AS c FROM proj GROUP BY 1),
       |nn AS (SELECT SUM(c) AS n FROM h),
       |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
       |bounds AS (
       |  SELECT b, MIN(v) AS bound
       |  FROM cum CROSS JOIN range(1, 20) t(b)
       |  WHERE cum >= (b * (SELECT n FROM nn) + 19) // 20
       |  GROUP BY b)
       |SELECT vec_id, proj, bucket FROM (
       |  SELECT p.vec_id, p.proj,
       |         CAST(1 + (SELECT COUNT(*) FROM bounds
       |                   WHERE bound < p.proj) AS INT) AS bucket
       |  FROM proj p)
       |WHERE bucket > 1 AND bucket < 20""".stripMargin

  /** c11 oracle: the d06 recursive-CTE transitive closure gives each doc
    * its cluster label; the split coin replays the engine's
    * `mix64(cluster_id, seed=0)` avalanche in HUGEINT mod-2^64 SQL, then
    * the same `((h % 2^20) + 2^20) % 2^20 < floor(0.9 · 2^20)` integer
    * compare (943718 = floor(0.9 · 1048576)).
    */
  private def c11OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""$dupClusterClosureSql,
       |m1 AS (SELECT doc_id, cluster_id,
       |              ${xorShift33("CAST(cluster_id AS HUGEINT)")} AS h FROM clusters),
       |m2 AS (SELECT doc_id, cluster_id, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT doc_id, cluster_id, ${xorShift33("h")} AS h FROM m2),
       |m4 AS (SELECT doc_id, cluster_id, ${mulMod("h", C2)} AS h FROM m3),
       |m5 AS (SELECT doc_id, cluster_id, ${toI(xorShift33("h"))} AS h FROM m4)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN ((h % 1048576) + 1048576) % 1048576 < 943718
       |            THEN 'train' ELSE 'val' END AS split
       |FROM m5""".stripMargin
  }

  /** z05 oracle: the engine's `mix64(doc_id, seed=3)` avalanche replayed
    * in HUGEINT mod-2^64 SQL, then the z02 shard/rank layout over the
    * signed key.
    */
  private def z05OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""WITH m0 AS (SELECT doc_id,
       |              ${xorConst("CAST(doc_id AS HUGEINT)", 3L)} AS h FROM documents),
       |m1 AS (SELECT doc_id, ${xorShift33("h")} AS h FROM m0),
       |m2 AS (SELECT doc_id, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT doc_id, ${xorShift33("h")} AS h FROM m2),
       |m4 AS (SELECT doc_id, ${mulMod("h", C2)} AS h FROM m3),
       |m5 AS (SELECT doc_id, ${toI(xorShift33("h"))} AS h FROM m4)
       |SELECT doc_id,
       |       CAST(((h % 8) + 8) % 8 AS INT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY ((h % 8) + 8) % 8
       |                               ORDER BY h, doc_id) - 1 AS BIGINT)
       |         AS pos_in_shard
       |FROM m5""".stripMargin
  }

  /** t28 oracle: the exponential-race weighted sample replayed exactly —
    * `mix64(doc_id ^ 7)` in HUGEINT mod-2^64 SQL, top 53 bits to a
    * uniform, `round(ln(u)/w, 9)` keys (the t21 rounding convention for
    * transcendental outputs), rank by (key DESC, id ASC).
    */
  private def t28OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""WITH m0 AS (SELECT doc_id, n_chars,
       |              ${xorConst("CAST(doc_id AS HUGEINT)", 7L)} AS h
       |            FROM documents WHERE n_chars > 0),
       |m1 AS (SELECT doc_id, n_chars, ${xorShift33("h")} AS h FROM m0),
       |m2 AS (SELECT doc_id, n_chars, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT doc_id, n_chars, ${xorShift33("h")} AS h FROM m2),
       |m4 AS (SELECT doc_id, n_chars, ${mulMod("h", C2)} AS h FROM m3),
       |m5 AS (SELECT doc_id, n_chars, ${xorShift33("h")} AS hu FROM m4),
       |keyed AS (SELECT doc_id,
       |            ROUND(ln((CAST(hu // 2048::HUGEINT AS DOUBLE) + 0.5)
       |                     / 9007199254740992.0) / n_chars, 9) + 0.0 AS key
       |          FROM m5),
       |r AS (SELECT doc_id, key,
       |        row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rank
       |      FROM keyed)
       |SELECT doc_id, CAST(rank AS INT) AS rank, key
       |FROM r WHERE rank <= 50""".stripMargin
  }

  /** Shared c14/e11 entity-resolution closure: brute-force Levenshtein
    * pairs over DISTINCT part names (name_id = MIN partkey — the
    * monotone-ids convention the streaming fold relies on), recursive-CTE
    * transitive closure to `clusters(name_id, cluster_id)`.
    */
  private val erClosureSql =
    """WITH RECURSIVE names AS (
           SELECT p_name, MIN(p_partkey) AS name_id FROM part GROUP BY p_name),
         pairs AS (
           SELECT a.name_id AS ida, b.name_id AS idb
           FROM names a JOIN names b ON a.name_id < b.name_id
           WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
             AND levenshtein(a.p_name, b.p_name) <= 1),
         edges AS (
           SELECT ida AS u, idb AS v FROM pairs
           UNION ALL
           SELECT idb, ida FROM pairs),
         reach(id, r) AS (
           SELECT name_id, name_id FROM names
           UNION
           SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
         clusters AS (
           SELECT id AS name_id, CAST(MIN(r) AS BIGINT) AS cluster_id
           FROM reach GROUP BY id)"""

  /** s23 oracle: the distributed Lloyd refinement UNROLLED — each round
    * is (a) assignment: per-dim squared differences rounded onto the 1e-9
    * integer grid and summed as BIGINTs (order-independent, so the argmin
    * compares exact values; ties to the lower cluster index), (b) update:
    * the s07 DECIMAL-mean arithmetic per (cluster, dim), empty clusters
    * keeping their previous centroid via the per-dim COALESCE. Init = the
    * k smallest-id vectors.
    */
  private def s23OracleSql: String = {
    val k = 8; val iters = 3; val dimP1 = 65
    def assign(n: Int, cents: String): String =
      s"""d$n AS (
           SELECT v.vec_id, c.cl,
                  SUM(CAST(ROUND(
                    (v.e[CAST(t.i AS INT)] - c.ce[CAST(t.i AS INT)]) *
                    (v.e[CAST(t.i AS INT)] - c.ce[CAST(t.i AS INT)]) * 1e9)
                           AS BIGINT)) AS dist
           FROM v CROSS JOIN $cents c CROSS JOIN range(1, $dimP1) t(i)
           GROUP BY 1, 2),
         a$n AS (
           SELECT vec_id, cl, dist FROM d$n
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cl ASC) = 1)"""
    def update(n: Int, prev: String): String =
      s"""u$n AS (
           SELECT a.cl, t.i,
                  CAST(SUM(CAST(v.e[CAST(t.i AS INT)] AS DECIMAL(28,10)))
                       AS DOUBLE) / COUNT(*) AS m
           FROM a$n a JOIN v USING (vec_id) CROSS JOIN range(1, $dimP1) t(i)
           GROUP BY 1, 2),
         c$n AS (
           SELECT p.cl,
                  list(COALESCE(u.m, p.ce[CAST(t.i AS INT)]) ORDER BY t.i)
                    AS ce
           FROM $prev p CROSS JOIN range(1, $dimP1) t(i)
           LEFT JOIN u$n u ON u.cl = p.cl AND u.i = t.i
           GROUP BY 1)"""
    val rounds = (1 to iters).map(n =>
      assign(n, s"c${n - 1}") + ",\n" + update(n, s"c${n - 1}")).mkString(",\n")
    s"""WITH v AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
                e AS ce
         FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $k)),
       $rounds,
       ${assign(iters + 1, s"c$iters")}
       SELECT vec_id, CAST(cl AS INT) AS cluster,
              ROUND(CAST(dist AS DOUBLE) / 1e9, 6) + 0.0 AS dist
       FROM a${iters + 1}"""
  }

  /** s24 oracle: the k-means++ race UNROLLED — per-id uniforms from the
    * t28 mix64 replay (seed 9), per-stage quantized min-d² on the s23
    * 1e-9 BIGINT grid against the union of prior stages, winner by
    * `(round(ln(u)/w, 9) DESC, id ASC)` among w > 0 rows.
    */
  private def s24OracleSql: String = {
    import DuckHash._
    val k = 6
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val dq = "SUM(CAST(ROUND((pe - se) * (pe - se) * 1e9) AS BIGINT))"
    val stages = (1 until k).map { i =>
      val priorSel = (0 until i).map(j => s"SELECT vec_id, emb FROM s$j")
        .mkString(" UNION ALL ")
      val priorIds = (0 until i).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""d$i AS (
         |  SELECT p.vec_id, s.vec_id AS sid, $dq AS dl
         |  FROM (SELECT p0.vec_id, u.u,
         |               unnest(p0.emb) AS pe,
         |               generate_subscripts(p0.emb, 1) AS ix
         |        FROM pool p0 JOIN uni u USING (vec_id)
         |        WHERE p0.vec_id NOT IN ($priorIds)) p
         |  JOIN (SELECT vec_id, unnest(emb) AS se,
         |               generate_subscripts(emb, 1) AS ix
         |        FROM ($priorSel)) s USING (ix)
         |  GROUP BY 1, 2),
         |c$i AS (SELECT vec_id, MIN(dl) AS dl FROM d$i GROUP BY 1),
         |k$i AS (SELECT c.vec_id,
         |               ROUND(ln(u.u) / (CAST(c.dl AS DOUBLE) / 1e9), 9) + 0.0
         |                 AS key
         |        FROM c$i c JOIN uni u USING (vec_id) WHERE c.dl > 0),
         |s$i AS (SELECT k.vec_id, p.emb, k.key FROM k$i k
         |        JOIN pool p USING (vec_id)
         |        ORDER BY k.key DESC, k.vec_id ASC LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val out = (0 until k).map { i =>
      if (i == 0)
        "SELECT CAST(0 AS INT) AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS key FROM s0"
      else s"SELECT CAST($i AS INT), vec_id, key + 0.0 FROM s$i"
    }.mkString("\n       UNION ALL ")
    s"""WITH pool AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |              FROM embeddings WHERE vec_id < 100),
       |m0 AS (SELECT vec_id, ${xorConst("CAST(vec_id AS HUGEINT)", 9L)} AS h
       |       FROM pool),
       |m1 AS (SELECT vec_id, ${xorShift33("h")} AS h FROM m0),
       |m2 AS (SELECT vec_id, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT vec_id, ${xorShift33("h")} AS h FROM m2),
       |m4 AS (SELECT vec_id, ${mulMod("h", C2)} AS h FROM m3),
       |m5 AS (SELECT vec_id, ${xorShift33("h")} AS hu FROM m4),
       |uni AS (SELECT vec_id,
       |               (CAST(hu // 2048::HUGEINT AS DOUBLE) + 0.5)
       |                 / 9007199254740992.0 AS u
       |        FROM m5),
       |s0 AS (SELECT vec_id, emb, CAST(NULL AS DOUBLE) AS key
       |       FROM pool ORDER BY vec_id LIMIT 1),
       |$stages
       |$out""".stripMargin
  }

  /** c16 oracle: the mix64(doc_id ^ 11) race replayed in HUGEINT SQL
    * (the t28 chain), rank per source by the shifted key ascending, the
    * recipe's quotas applied verbatim.
    */
  private def c16OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""WITH m0 AS (SELECT doc_id, source,
       |              ${xorConst("CAST(doc_id AS HUGEINT)", 11L)} AS h
       |            FROM documents
       |            WHERE source IN ('src0', 'src1', 'src5')),
       |m1 AS (SELECT doc_id, source, ${xorShift33("h")} AS h FROM m0),
       |m2 AS (SELECT doc_id, source, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT doc_id, source, ${mulMod("h", C2)} AS h
       |       FROM (SELECT doc_id, source, ${xorShift33("h")} AS h FROM m2)),
       |m5 AS (SELECT doc_id, source, ${xorShift33("h")} AS hu FROM m3),
       |r AS (SELECT source, doc_id,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY hu // 2048::HUGEINT ASC,
       |                                    doc_id ASC) AS rank
       |      FROM m5)
       |SELECT source, doc_id, CAST(rank AS INT) AS rank
       |FROM r
       |WHERE (source = 'src0' AND rank <= 12)
       |   OR (source = 'src1' AND rank <= 7)
       |   OR (source = 'src5' AND rank <= 1000)""".stripMargin
  }

  /** s27 oracle: both halves assigned under snapshot A's 8 smallest-id
    * centroids (the s23 BIGINT-grid argmin, one stage each), cluster
    * histograms, then the c09 PSI tail verbatim.
    */
  private def s27OracleSql: String = {
    val dq = "SUM(CAST(ROUND((v.e[CAST(t.i AS INT)] - c.ce[CAST(t.i AS INT)]) * " +
      "(v.e[CAST(t.i AS INT)] - c.ce[CAST(t.i AS INT)]) * 1e9) AS BIGINT))"
    def assignCte(pool: String, tag: String): String =
      s"""d$tag AS (
         SELECT v.vec_id, c.cl, $dq AS dist
         FROM $pool v CROSS JOIN c0 c CROSS JOIN range(1, 65) t(i)
         GROUP BY 1, 2),
       a$tag AS (
         SELECT vec_id, cl FROM d$tag
         QUALIFY row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist ASC, cl ASC) = 1)"""
    s"""WITH pa AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 250),
       pb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id >= 250),
       c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cl, e AS ce
              FROM (SELECT vec_id, e FROM pa ORDER BY vec_id LIMIT 8)),
       ${assignCte("pa", "a")},
       ${assignCte("pb", "b")},
       ca AS (SELECT CAST(cl AS INT) AS bucket, COUNT(*) AS n_a
              FROM aa GROUP BY 1),
       cb AS (SELECT CAST(cl AS INT) AS bucket, COUNT(*) AS n_b
              FROM ab GROUP BY 1),
       nn AS (SELECT (SELECT COUNT(*) FROM pa) AS na,
                     (SELECT COUNT(*) FROM pb) AS nb),
       j AS (SELECT bucket,
                    CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
                    CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
             FROM ca FULL OUTER JOIN cb USING (bucket))
       SELECT bucket, n_a, n_b,
              ROUND(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 6) + 0.0 AS frac_a,
              ROUND(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 6) + 0.0 AS frac_b,
              ROUND((greatest(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 1e-6)
                     - greatest(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 1e-6))
                    * ln(greatest(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 1e-6)
                         / greatest(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 1e-6)),
                    6) + 0.0 AS psi_term
       FROM j, nn"""
  }

  /** s25 oracle: the sign matrix replayed through the DuckHash fmix64
    * chain (bit 0 of mix64(k·64 + j), seed 0), terms rounded onto the
    * 1e-9 integer grid exactly as the engine does, BIGINT sums (order
    * free), the same `/1e9 · 1/√16` emission arithmetic.
    */
  private def s25OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""WITH km AS (
       |  SELECT CAST(t1.k AS INT) AS k, CAST(t2.j AS INT) AS j,
       |         CAST(t1.k * 64 + t2.j AS HUGEINT) AS h
       |  FROM range(0, 16) t1(k) CROSS JOIN range(0, 64) t2(j)),
       |m1 AS (SELECT k, j, ${xorShift33("h")} AS h FROM km),
       |m2 AS (SELECT k, j, ${mulMod("h", C1)} AS h FROM m1),
       |m3 AS (SELECT k, j, ${xorShift33("h")} AS h FROM m2),
       |m4 AS (SELECT k, j, ${mulMod("h", C2)} AS h FROM m3),
       |sg AS (SELECT k, j,
       |              CASE WHEN (${toI(xorShift33("h"))} & 1) = 0
       |                   THEN 1.0 ELSE -1.0 END AS s
       |       FROM m4),
       |terms AS (
       |  SELECT e.vec_id, sg.k,
       |         CAST(ROUND(CAST(e.embedding[sg.j + 1] AS DOUBLE) * sg.s * 1e9)
       |              AS BIGINT) AS t
       |  FROM embeddings e CROSS JOIN sg)
       |SELECT vec_id, k,
       |       ROUND(CAST(SUM(t) AS DOUBLE) / 1e9 * ${1.0 / 4.0}, 6) + 0.0
       |         AS proj
       |FROM terms GROUP BY 1, 2""".stripMargin
  }

  /** s21 oracle: the greedy farthest-point walk UNROLLED — stage i joins
    * the pool against the union of stages 0..i−1, takes the per-candidate
    * MIN dissimilarity, and arg-maxes by (score, −id); double arithmetic
    * is list_dot_product over DOUBLE[] (the s03-proven cosine replay).
    */
  private def s21OracleSql: String = {
    val k = 5
    def dis = "1 - list_dot_product(p.emb, s.emb) / " +
      "(sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(s.emb, s.emb)))"
    val stages = (1 until k).map { i =>
      val priorSel = (0 until i).map(j => s"SELECT vec_id, emb FROM s$j")
        .mkString(" UNION ALL ")
      val priorIds = (0 until i).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""c$i AS (SELECT p.vec_id, any_value(p.emb) AS emb, MIN($dis) AS score
         |        FROM pool p JOIN ($priorSel) s ON true
         |        WHERE p.vec_id NOT IN ($priorIds)
         |        GROUP BY p.vec_id),
         |w$i AS (SELECT max(struct_pack(a := score, b := -vec_id,
         |                               vec_id := vec_id, emb := emb, sc := score)) AS w
         |        FROM c$i),
         |s$i AS (SELECT w.vec_id AS vec_id, w.emb AS emb, w.sc AS sc FROM w$i)"""
        .stripMargin
    }.mkString(",\n")
    val out = (0 until k).map { i =>
      if (i == 0)
        s"SELECT CAST(0 AS INT) AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS score FROM s0"
      else
        s"SELECT CAST($i AS INT), vec_id, ROUND(sc, 6) + 0.0 FROM s$i"
    }.mkString("\n         UNION ALL ")
    s"""WITH pool AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |              FROM embeddings WHERE vec_id < 100),
       |s0 AS (SELECT vec_id, emb, CAST(NULL AS DOUBLE) AS sc
       |       FROM pool ORDER BY vec_id LIMIT 1),
       |$stages
       |$out""".stripMargin
  }

  /** s12 oracle: λ = p·(C·p), trace = Σ C[i][i], ratio — all in the same
    * ordered folds as the engine's driver loops.
    */
  private def s12OracleSql: String =
    s"""$s11Ctes,
       |wv AS (SELECT ${s11Matvec("wi", "wj", "wa", "wb", "pcv.p")} AS w
       |       FROM pcv, covm cm),
       |lam AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(range(1, 65),
       |            li -> pcv.p[CAST(li AS INT)] * wv.w[CAST(li AS INT)])),
       |          (la, lb) -> la + lb) AS lambda
       |        FROM pcv, wv),
       |tr AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(range(1, 65),
       |           ti -> cm.m[CAST(ti AS INT)][CAST(ti AS INT)])),
       |         (ta, tb) -> ta + tb) AS trace
       |       FROM covm cm)
       |SELECT ROUND(lam.lambda, 4) + 0.0 AS lambda,
       |       ROUND(tr.trace, 4) + 0.0 AS total_var,
       |       ROUND(lam.lambda / tr.trace, 6) + 0.0 AS var_ratio
       |FROM lam, tr""".stripMargin

  /** The t04 rolling-hash fingerprint replay (signed mod-2^64) as an
    * expression over a column named `norm` — shared by t04 and t24.
    */
  private val fingerprintOverNormSql: String =
    """CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
         list_transform(range(1, length(norm)+1),
           i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
         (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
       - 9223372036854775808::HUGEINT AS BIGINT)"""

  /** t23's graded-overlap contamination screen as reusable CTEs (no
    * leading WITH): word-5-grams of `src`(doc_id, text) probed against
    * the planted eval set (first-word-stripped variants of every
    * doc_id % 10 == 3 doc), ending in `contaminated(doc_id)` at the 0.5
    * overlap threshold. Hash-agnostic (each engine grams with its own
    * hash — only overlap COUNTS cross the compare). Shared by c07 and
    * e05.
    */
  private def contaminationCtes(src: String): String =
    s"""gnorm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |          FROM $src),
       |gtok AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM gnorm),
       |gtg AS (
       |  SELECT doc_id,
       |         CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
       |              ELSE list_distinct(list_transform(range(1, len(w) - 3),
       |                     i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
       |  FROM gtok),
       |enorm AS (
       |  SELECT regexp_replace(lower(trim(regexp_replace(text, '^\\S+\\s', ''))), '\\s+', ' ', 'g') AS n
       |  FROM documents WHERE doc_id % 10 = 3),
       |etok AS (SELECT n, string_split(n, ' ') AS w FROM enorm),
       |eg AS (
       |  SELECT CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
       |              ELSE list_distinct(list_transform(range(1, len(w) - 3),
       |                     i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
       |  FROM etok),
       |evset AS (SELECT DISTINCT unnest(g) AS p FROM eg),
       |ggsz AS (SELECT doc_id, len(g) AS n_grams FROM gtg WHERE len(g) > 0),
       |gtex AS (SELECT doc_id, unnest(g) AS p FROM gtg),
       |gshared AS (
       |  SELECT gtex.doc_id, COUNT(*) AS n_shared
       |  FROM gtex JOIN evset ON gtex.p = evset.p GROUP BY gtex.doc_id),
       |contaminated AS (
       |  SELECT g.doc_id FROM ggsz g LEFT JOIN gshared s USING (doc_id)
       |  WHERE CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / g.n_grams >= 0.5)""".stripMargin

  /** e05 oracle: the streaming curation screen replayed relationally.
    * Batch membership is doc_id % 3 (batch 0 seeds the fingerprint index
    * un-gated; batches 1 and 2 stream in that order), so the cross-batch
    * dedup rule is exactly "earliest batch, then min id, per fingerprint,
    * excluding seeded fingerprints" — a (b, doc_id)-ordered row_number.
    */
  private def e05OracleSql: String =
    s"""WITH lang AS ($t01LangSql),
       |qual AS ($t02QualitySql),
       |rep AS ($t12RepetitionSql),
       |gated AS (
       |  SELECT d.doc_id, d.text, d.lang, q.quality, d.doc_id % 3 AS b
       |  FROM documents d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE d.doc_id % 3 IN (1, 2)
       |    AND l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05),
       |${contaminationCtes("gated")},
       |decon AS (
       |  SELECT g.* FROM gated g ANTI JOIN contaminated c USING (doc_id)),
       |seedfp AS (
       |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents WHERE doc_id % 3 = 0),
       |dn AS (
       |  SELECT doc_id, lang, quality, b,
       |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM decon),
       |fresh AS (SELECT dn.* FROM dn ANTI JOIN seedfp USING (fp))
       |SELECT doc_id, lang, quality FROM (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn
       |  FROM fresh) WHERE rn = 1""".stripMargin

  /** c07 oracle: the full curation DAG replayed relationally — the c01
    * quality gate, t23's graded decontamination drop at 0.5, d02's exact
    * keep-min-id dedup on md5(normalized), then t19 importance scores
    * RE-COMPUTED over the surviving corpus (importance statistics are
    * corpus-relative) feeding the t24 fingerprint-coin resample.
    */
  // ------------------------------------------------------- t64
  // The SITE page template: the t61 chrome plus a host-wide MOTTO
  // paragraph — long, link-free (the densitometric rule calls it
  // CONTENT) and byte-identical on every page, so only the site-level
  // frequency rule can kill it.
  private val htmlSiteMid = "</h1><p>Quality journalism since 1999 " +
    "crafted daily by our newsroom for readers everywhere</p><p>"

  private def htmlSitePage(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(htmlTplHead), id.cast("string"), lit(htmlTplChrome),
      id.cast("string"), lit(htmlSiteMid), substring(text, 1, 150),
      lit(htmlTplP2), substring(text, 151, 1 << 30), lit(htmlTplTail))

  // lazy: the htmlTpl* vals it references are declared LATER in this
  // object — an eager val here would interpolate their nulls at init
  private lazy val htmlSiteWrapSql: String =
    s"'$htmlTplHead' || CAST(doc_id AS VARCHAR) || '$htmlTplChrome' || " +
      s"CAST(doc_id AS VARCHAR) || '$htmlSiteMid' || substr(text, 1, 150) || " +
      s"'$htmlTplP2' || substr(text, 151) || '$htmlTplTail'"

  /** t64's replay: the t61 block chain over the motto'd site pages, the
    * (host, digest) page-count frequency rule, the per-doc rebuild.
    */
  private def t64OracleSql: String =
    s"""WITH ${htmlBlocksCtes(5, "documents", htmlSiteWrapSql)},
       |hb AS (SELECT b.*, d.source AS host
       |       FROM hblocks b JOIN documents d USING (doc_id)),
       |freq AS (SELECT host, md5(text) AS dg, COUNT(DISTINCT doc_id) AS np
       |         FROM hb GROUP BY 1, 2),
       |kept AS (SELECT hb.*, f.np >= 5 AS boiler
       |         FROM hb JOIN freq f ON f.host = hb.host
       |                            AND f.dg = md5(hb.text))
       |SELECT d.doc_id, coalesce(g.mt, '') AS main_text,
       |       CAST(coalesce(g.nc, 0) AS INT) AS n_content,
       |       CAST(coalesce(g.nb, 0) AS INT) AS n_boiler
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id,
       |         string_agg(text, ' ' ORDER BY block_idx)
       |           FILTER (WHERE is_content AND NOT boiler) AS mt,
       |         COUNT(*) FILTER (WHERE is_content AND NOT boiler) AS nc,
       |         COUNT(*) FILTER (WHERE is_content AND boiler) AS nb
       |  FROM kept GROUP BY doc_id) g USING (doc_id)""".stripMargin

  // ------------------------------------------------------- t66/t67
  // The TAG-SOUP page: what real markup does that the clean templates
  // don't — a single-quoted href, an unquoted href, an UNCLOSED
  // <script> (its text must truncate at the next boundary tag, never
  // reach a block), and an unclosed <style> swallowed before the
  // footer. The document's text splits around the unclosed script so
  // the containment is load-bearing for the content rebuild.
  private val soupTplHead = "<html><body><h1>Doc "
  private val soupTplP1 = "</h1><p>"
  private val soupTplScript =
    "</p><script type='text/javascript'>var x = 1; track(x); this " +
      "unclosed script text must never reach a block<p>"
  private val soupTplLinks =
    "</p><div><a href='/m/one'>single quoted</a> and " +
      "<a href=/m/two?a=1>unquoted link</a> and " +
      "<a href=\"http://example.com/m/"
  private val soupTplTail =
    "\">quoted abs</a></div><style>.x{color:red}" +
      "<footer><p><a href='/terms'>Terms</a> <a href=/privacy>Privacy</a> " +
      "<a href=\"/contact\">Contact</a></p></footer></body></html>"

  private def htmlSoupPage(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(soupTplHead), id.cast("string"), lit(soupTplP1),
      substring(text, 1, 150), lit(soupTplScript),
      substring(text, 151, 1 << 30), lit(soupTplLinks), id.cast("string"),
      lit(soupTplTail))

  private lazy val soupWrapSql: String = {
    def esc(s: String) = s.replace("'", "''")
    s"'${esc(soupTplHead)}' || CAST(doc_id AS VARCHAR) || " +
      s"'${esc(soupTplP1)}' || substr(text, 1, 150) || " +
      s"'${esc(soupTplScript)}' || substr(text, 151) || " +
      s"'${esc(soupTplLinks)}' || CAST(doc_id AS VARCHAR) || " +
      s"'${esc(soupTplTail)}'"
  }

  // ------------------------------------------------------- t63/g22
  // The LINKED page template (one relative nav link + three absolute
  // links with every canonicalization hazard: uppercase host, default
  // port, tracking params, fragment — plus, real-crawl-shaped, a
  // SINGLE-QUOTED relative `../doc/<n>` link and an UNQUOTED rooted
  // `/doc/<n>#top` link that only quote normalization + RFC 3986
  // resolution can turn into edges). Targets doc_id÷{2,3,5,7,11} are
  // self-contained (always existing ids, no corpus-size constant) —
  // doc 0's targets are all itself, making it the dangling vertex.
  private val linkTplHead =
    "<html><body><nav><a href=\"/local/nav\">Home</a></nav><article><p>"
  private val linkTplA = " see <a href=\"HTTP://Example.COM:80/doc/"
  private val linkTplAEnd = "?utm_source=feed&ref=rss#f\">one</a>"
  private val linkTplB = " and <a href=\"https://Example.COM:443/doc/"
  private val linkTplBEnd = "?z=1&a=2\">two</a>"
  private val linkTplC = " and <a href=\"http://example.com/doc/"
  private val linkTplCEnd = "\">three</a>"
  private val linkTplD = " also <a href='../doc/"
  private val linkTplDEnd = "?utm_source=mail'>four</a>"
  private val linkTplE = " finally <a href=/doc/"
  private val linkTplEEnd = "#top>five</a></p></article></body></html>"

  private def htmlLinkPage(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def idiv(k: Int) = ((id - pmod(id, lit(k))) / k).cast("long").cast("string")
    concat(lit(linkTplHead), text,
      lit(linkTplA), idiv(2), lit(linkTplAEnd),
      lit(linkTplB), idiv(3), lit(linkTplBEnd),
      lit(linkTplC), idiv(5), lit(linkTplCEnd),
      lit(linkTplD), idiv(7), lit(linkTplDEnd),
      lit(linkTplE), idiv(11), lit(linkTplEEnd))
  }

  /** [[graft.operators.Html.normalizeHrefQuotes]] in DuckDB SQL — the
    * same three rewrites (RE2 replacement backrefs use `\1` where Java
    * uses `$1`; the semantics are identical).
    */
  private def normalizeHrefSql(x: String): String = {
    def esc(s: String) = s.replace("'", "''")
    s"""regexp_replace(regexp_replace(regexp_replace($x,
       |  '${esc(graft.operators.Html.hrefSingleRe)}', 'href="\\1"', 'g'),
       |  '${esc(graft.operators.Html.hrefBareCloseRe)}', 'href="\\1"/>', 'g'),
       |  '${esc(graft.operators.Html.hrefBareRe)}', 'href="\\1"', 'g')""".stripMargin
  }

  /** The linked-page fixture + quote-normalized outlink extraction as
    * CTEs ending in `u(doc_id, url)` — the [[canonicalUrlCtes]] input
    * contract.
    */
  private lazy val linkPagesCtes: String = {
    def esc(s: String) = s.replace("'", "''")
    s"""lpages AS (
       |  SELECT doc_id,
       |         '${esc(linkTplHead)}' || text ||
       |         '${esc(linkTplA)}' || CAST(doc_id // 2 AS VARCHAR) || '${esc(linkTplAEnd)}' ||
       |         '${esc(linkTplB)}' || CAST(doc_id // 3 AS VARCHAR) || '${esc(linkTplBEnd)}' ||
       |         '${esc(linkTplC)}' || CAST(doc_id // 5 AS VARCHAR) || '${esc(linkTplCEnd)}' ||
       |         '${esc(linkTplD)}' || CAST(doc_id // 7 AS VARCHAR) || '${esc(linkTplDEnd)}' ||
       |         '${esc(linkTplE)}' || CAST(doc_id // 11 AS VARCHAR) || '${esc(linkTplEEnd)}'
       |           AS html
       |  FROM documents),
       |lraw AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(${normalizeHrefSql("html")},
       |           '${graft.operators.Html.hrefRe}', 1)) AS url
       |  FROM lpages),
       |u AS (SELECT doc_id, url FROM lraw WHERE url <> '')""".stripMargin
  }

  /** [[TextAnalysis.canonicalUrl]]'s relational replay over a
    * caller-defined `u(doc_id, url)` CTE — ending in
    * `cu(doc_id, url, canonical_url)`. The chain is f07's inline oracle
    * stage for stage (same extracts, same tracking-param filter, same
    * binary-collation sort) with the raw `url` carried through so
    * multi-link pages keep row identity.
    */
  private def canonicalUrlCtes(src: String = "u"): String =
    """parts AS (
      |  SELECT doc_id, url,
      |         lower(COALESCE(regexp_extract(url,
      |           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
      |         COALESCE(regexp_extract(url,
      |           '^[^:/?#]+://([^/?#]*)', 1), '') AS authority,
      |         COALESCE(regexp_extract(url,
      |           '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '') AS path0,
      |         COALESCE(regexp_extract(
      |           regexp_replace(url, '#.*$', ''), '\?(.*)$', 1), '') AS query
      |  FROM __CUSRC__),
      |auth AS (
      |  SELECT doc_id, url, scheme, path0, query,
      |         COALESCE(regexp_extract(authority, '^(.*@)', 1), '') AS userinfo,
      |         lower(regexp_replace(authority, '^.*@', '')) AS hostport
      |  FROM parts),
      |norm AS (
      |  SELECT doc_id, url, scheme, userinfo,
      |         regexp_replace(hostport, ':[0-9]+$', '') AS host,
      |         COALESCE(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
      |         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
      |         COALESCE(list_aggregate(list_sort(
      |           list_filter(string_split(query, '&'),
      |             p -> p <> '' AND NOT regexp_matches(p,
      |               '^(utm_[^=]*|fbclid|gclid|msclkid)='))),
      |           'string_agg', '&'), '') AS sq
      |  FROM auth),
      |cu AS (
      |  SELECT doc_id, url,
      |         CASE WHEN scheme = '' THEN NULL
      |              ELSE scheme || '://' || userinfo || host ||
      |                   (CASE WHEN port <> ''
      |                          AND NOT ((scheme = 'http' AND port = '80')
      |                           OR (scheme = 'https' AND port = '443'))
      |                         THEN ':' || port ELSE '' END) ||
      |                   path ||
      |                   (CASE WHEN sq <> '' THEN '?' || sq ELSE '' END) END
      |           AS canonical_url
      |  FROM norm)""".stripMargin.replace("__CUSRC__", src)

  // ------------------------------------------------------- t65
  /** The t65 href case table — shared verbatim by the Spark fixture and
    * the oracle so the case set cannot drift: one entry per branch of
    * the RFC 3986 transform-references table.
    */
  private val t65Hrefs: Seq[String] = Seq(
    "http://other.org/abs/p?q=2#z", // absolute (scheme defined)
    "//cdn.example.net/lib/a.js", // network-path (authority defined)
    "/rooted/x", // absolute path
    "img/photo.png", // relative path (merge)
    "../up/one", // one-level pop
    "../../up/two", // two-level pop
    "./here.html", // same-dir
    "?page=2", // query-only (empty path keeps base path)
    "#sec", // fragment-only (same-document reference)
    "", // empty (the base itself)
    "a/../b/./c/../d", // dot-segment gymnastics
    "/abs/./x/../y?q=3#f", // rooted with dots + query + fragment
    "mailto:someone@example.org", // scheme WITHOUT authority (§5.3:
    "javascript:void(0)", //   no '//' may be glued on — these three
    "tel:+1-816-555-1212") //   recompose as scheme:path verbatim

  /** [[TextAnalysis.removeDotSegments]]'s bounded rewrite fold in DuckDB
    * SQL — the SAME six per-pass rewrites over the same RE2-safe
    * patterns, `passes` deep (must equal the operator's bound: both
    * engines run the identical unroll, so they agree even past it).
    */
  private def dotsSql(x: String, passes: Int = 8): String = {
    val seg = "(?:[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
    val folded = (1 to passes).foldLeft(x) { (acc, _) =>
      val a1 = s"regexp_replace($acc, '/\\./', '/', 'g')"
      val a2 = s"regexp_replace($a1, '/\\.$$', '/', 'g')"
      val a3 = s"regexp_replace($a2, '/$seg/\\.\\./', '/', 'g')"
      val a4 = s"regexp_replace($a3, '/$seg/\\.\\.$$', '/', 'g')"
      val a5 = s"regexp_replace($a4, '^/\\.\\./', '/', 'g')"
      s"regexp_replace($a5, '^/\\.\\.$$', '/', 'g')"
    }
    // the operator's dot-segment presence guard, mirrored
    s"CASE WHEN regexp_matches($x, '/\\.\\.?(/|$$)') THEN $folded ELSE $x END"
  }

  /** [[TextAnalysis.resolveUrl]]'s relational replay over a
    * caller-defined `u(<carry>, url, base)` CTE — ending in
    * `ru(<carry>, url, resolved)`. Extract-for-extract,
    * rewrite-for-rewrite the operator's own chain (appendix-B component
    * split, §5.2.3 merge, the bounded §5.2.4 fold, the branch table).
    */
  private def resolveUrlCtes(inCte: String, carry: Seq[String],
      passes: Int = 8): String = {
    val cs = carry.mkString(", ")
    s"""rr0 AS (
       |  SELECT $cs, url, base,
       |         COALESCE(regexp_extract(url,
       |           '^([A-Za-z][A-Za-z0-9+.-]*):', 1), '') AS rscheme,
       |         regexp_replace(url, '(?s)#.*$$', '') AS nofrag,
       |         (url LIKE '%#%') AS hasfrag,
       |         COALESCE(regexp_extract(url, '(?s)#(.*)$$', 1), '') AS frag
       |  FROM $inCte),
       |rr1 AS (
       |  SELECT *, CASE WHEN rscheme <> ''
       |                 THEN regexp_replace(nofrag,
       |                        '^[A-Za-z][A-Za-z0-9+.-]*:', '')
       |                 ELSE nofrag END AS asch,
       |         (nofrag LIKE '%?%') AS hasq,
       |         COALESCE(regexp_extract(nofrag, '(?s)\\?(.*)$$', 1), '')
       |           AS rquery
       |  FROM rr0),
       |rr2 AS (
       |  SELECT *, (asch LIKE '//%') AS hasauth,
       |         COALESCE(regexp_extract(asch, '^//([^/?#]*)', 1), '') AS rauth,
       |         CASE WHEN asch LIKE '//%'
       |              THEN COALESCE(regexp_extract(asch,
       |                     '^//[^/?#]*([^?#]*)', 1), '')
       |              ELSE COALESCE(regexp_extract(asch, '^([^?#]*)', 1), '')
       |              END AS rpath
       |  FROM rr1),
       |rrb AS (
       |  SELECT *, COALESCE(regexp_extract(base,
       |           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '') AS bscheme,
       |         COALESCE(regexp_extract(base,
       |           '^[^:/?#]+://([^/?#]*)', 1), '') AS bauth,
       |         COALESCE(regexp_extract(base,
       |           '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '') AS bpath,
       |         (regexp_replace(base, '(?s)#.*$$', '') LIKE '%?%') AS bhasq,
       |         COALESCE(regexp_extract(
       |           regexp_replace(base, '(?s)#.*$$', ''),
       |           '(?s)\\?(.*)$$', 1), '') AS bquery
       |  FROM rr2),
       |rrm AS (
       |  SELECT *, CASE WHEN bauth <> '' AND bpath = '' THEN '/' || rpath
       |                 ELSE regexp_replace(bpath, '[^/]*$$', '') || rpath
       |                 END AS merged
       |  FROM rrb),
       |rrp AS (
       |  SELECT *, CASE WHEN rscheme <> '' OR hasauth THEN rpath
       |                 WHEN rpath = '' THEN NULL
       |                 WHEN rpath LIKE '/%' THEN rpath
       |                 ELSE merged END AS tin
       |  FROM rrm),
       |rrq AS (
       |  SELECT *, CASE WHEN tin IS NULL THEN bpath
       |                 ELSE ${dotsSql("tin", passes)} END AS tpath,
       |         (rscheme <> '' OR hasauth OR rpath <> '' OR hasq)
       |           AS refownsq
       |  FROM rrp),
       |ru AS (
       |  SELECT $cs, url,
       |         CASE WHEN bscheme = '' THEN NULL
       |              ELSE (CASE WHEN rscheme <> '' THEN rscheme
       |                         ELSE bscheme END) ||
       |                   ':' ||
       |                   -- §5.3: '//'+authority only when the winning
       |                   -- component set has one (mailto:/tel: don't)
       |                   (CASE WHEN hasauth OR rscheme = ''
       |                         THEN '//' ||
       |                              (CASE WHEN rscheme <> '' OR hasauth
       |                                    THEN rauth ELSE bauth END)
       |                         ELSE '' END) ||
       |                   tpath ||
       |                   (CASE WHEN (CASE WHEN refownsq THEN hasq
       |                                    ELSE bhasq END)
       |                         THEN '?' || (CASE WHEN refownsq THEN rquery
       |                                           ELSE bquery END)
       |                         ELSE '' END) ||
       |                   (CASE WHEN hasfrag THEN '#' || frag
       |                         ELSE '' END)
       |              END AS resolved
       |  FROM rrq)""".stripMargin
  }

  /** [[resolveUrlCtes]] with PREFIXED CTE names — for oracles that need
    * the resolve chain TWICE (t71: base-href resolve per page, then
    * link resolve against the effective base). Token-replaces the
    * builder's own CTE names (`rr*` → `<p>r*`, final `ru` → `<p>u`);
    * the builder's output contains no other `rr`/`ru AS (` substrings,
    * and callers read the result from `<p>u`.
    */
  private def resolveUrlCtesP(p: String, inCte: String,
      carry: Seq[String], passes: Int = 8): String =
    resolveUrlCtes(inCte, carry, passes)
      .replace("rr", p + "r")
      .replace("ru AS (", p + "u AS (")

  /** t65's replay: the shared href case table unrolled per doc, the
    * resolve chain over the identical per-doc base URI.
    */
  private def t65OracleSql: String = {
    val hrefList = t65Hrefs.map(h => s"'$h'").mkString("[", ", ", "]")
    s"""WITH u AS (
       |  SELECT doc_id, CAST(i - 1 AS INT) AS case_id,
       |         ($hrefList)[CAST(i AS INT)] AS url,
       |         'http://example.com/dir' || CAST(doc_id % 3 AS VARCHAR) ||
       |         '/sub/page' || CAST(doc_id AS VARCHAR) || '?bq=1' AS base
       |  FROM documents, LATERAL unnest(range(1, ${t65Hrefs.size + 1})) t(i)),
       |${resolveUrlCtes("u", Seq("doc_id", "case_id"))}
       |SELECT doc_id, case_id, url AS href, resolved FROM ru""".stripMargin
  }

  /** t68's replay: the linked-page fixture, BOTH capture groups of the
    * operator's own href+anchor pattern extracted over the
    * quote-normalized page (identical match sequences ⇒ positional zip
    * is exact), the anchor cleaned through the shared strip/entity
    * chain, the t65 resolve chain, the path-structured id parse.
    */
  private def t68OracleSql: String = {
    def strip(x: String) =
      s"regexp_replace($x, '${graft.operators.Html.anyTagRe}', ' ', 'g')"
    def ent(x: String) = graft.operators.Html.entityDecodes.foldLeft(x) {
      case (acc, (from, to)) =>
        s"replace($acc, '$from', '${to.replace("'", "''")}')"
    }
    val pat = graft.operators.Html.hrefAnchorRe
    s"""WITH $linkPagesCtes,
       |apz AS (
       |  SELECT doc_id,
       |         regexp_extract_all(${normalizeHrefSql("html")}, '$pat', 1) AS us,
       |         regexp_extract_all(${normalizeHrefSql("html")}, '$pat', 2) AS ans
       |  FROM lpages),
       |apair AS (
       |  SELECT doc_id, us[CAST(i AS INT)] AS url,
       |         trim(regexp_replace(${ent(strip("ans[CAST(i AS INT)]"))},
       |           '\\s+', ' ', 'g')) AS anchor
       |  FROM apz, LATERAL unnest(range(1, len(us) + 1)) t(i)),
       |ub AS (SELECT doc_id, url, anchor,
       |       'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS base
       |       FROM apair WHERE url <> ''),
       |${resolveUrlCtes("ub", Seq("doc_id", "anchor"))}
       |SELECT doc_id AS src,
       |       CAST(nullif(regexp_extract(resolved, '/doc/([0-9]+)', 1), '')
       |            AS BIGINT) AS dst,
       |       anchor
       |FROM ru
       |WHERE COALESCE(nullif(regexp_extract(resolved, '/doc/([0-9]+)', 1), ''),
       |               '') <> ''""".stripMargin
  }

  /** t71's replay — GENUINE end to end: the fixture page build, quote
    * normalization, the first-base-wins extract, the base resolve
    * against the page URI (chain 1, prefixed `b1`), the link resolve
    * against the effective base (chain 2, prefixed `b2`),
    * canonicalization, id parse, self-drop, DISTINCT. The two
    * intermediate frames materialize (the g22 lesson: inlining a
    * bounded resolve unroll through a second chain blows up DuckDB's
    * planner).
    */
  private def t71OracleSql: String = {
    val idp = "'/doc/([0-9]+)'"
    s"""WITH tb AS MATERIALIZED (
       |  SELECT doc_id,
       |         '<html><head>' ||
       |         (CASE CAST(doc_id % 4 AS INT)
       |            WHEN 1 THEN '<base href="/doc/">'
       |            WHEN 2 THEN '<base href=''../doc/''>'
       |            WHEN 3 THEN '<base href="/doc/"><base href="/wrong/">'
       |            ELSE '' END) ||
       |         '</head><body><p>' || substr(text, 1, 200) ||
       |         ' <a href="' ||
       |         (CASE WHEN doc_id % 4 = 0
       |               THEN '../doc/' || CAST(doc_id // 2 AS VARCHAR)
       |               ELSE CAST(doc_id // 2 AS VARCHAR) END) ||
       |         '">rel</a> <a href="http://example.com/doc/' ||
       |         CAST(doc_id // 5 AS VARCHAR) ||
       |         '">abs</a></p></body></html>' AS html,
       |         'http://example.com/sub/page' || CAST(doc_id AS VARCHAR)
       |           AS pageuri
       |  FROM documents),
       |bh AS (
       |  SELECT doc_id,
       |         COALESCE(regexp_extract(${normalizeHrefSql("html")},
       |           '${graft.operators.Html.baseHrefRe}', 1), '') AS url,
       |         pageuri AS base
       |  FROM tb),
       |${resolveUrlCtesP("b1", "bh", Seq("doc_id"))},
       |eb AS MATERIALIZED (SELECT doc_id, resolved AS ebase FROM b1u),
       |lr AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(${normalizeHrefSql("html")},
       |           '${graft.operators.Html.hrefRe}', 1)) AS url
       |  FROM tb),
       |lu AS (SELECT l.doc_id, l.url, e.ebase AS base
       |       FROM lr l JOIN eb e USING (doc_id) WHERE l.url <> ''),
       |${resolveUrlCtesP("b2", "lu", Seq("doc_id"))},
       |ures AS (SELECT doc_id, resolved AS url FROM b2u),
       |${canonicalUrlCtes("ures")}
       |SELECT DISTINCT doc_id AS src,
       |       CAST(nullif(regexp_extract(canonical_url, $idp, 1), '')
       |            AS BIGINT) AS dst
       |FROM cu
       |WHERE canonical_url IS NOT NULL
       |  AND COALESCE(nullif(regexp_extract(canonical_url, $idp, 1), ''),
       |               '') <> ''
       |  AND CAST(nullif(regexp_extract(canonical_url, $idp, 1), '')
       |           AS BIGINT) <> doc_id""".stripMargin
  }

  /** t73's replay: the per-record (uri, status, location) table
    * restated from fixture math (the header regexes are f09-gated),
    * then GENUINELY — the 3xx/location screen, the Location resolution
    * against each request URI (the shared resolve chain), the
    * `maxHops − 1` unrolled LEFT-join collapse, and the final
    * outgoing-edge anti-lookup.
    */
  private def t73OracleSql: String = {
    val hops = (2 to 5).map { i =>
      s"""c$i AS (
         |  SELECT c.url, COALESCE(e$i.target, c.final_url) AS final_url,
         |         CASE WHEN e$i.target IS NOT NULL THEN c.hops + 1
         |              ELSE c.hops END AS hops
         |  FROM c${i - 1} c LEFT JOIN e e$i ON c.final_url = e$i.url)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH parsed AS (
       |  SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       |         200 AS status, '' AS loc
       |  FROM documents WHERE doc_id % 5 IN (0, 4)
       |  UNION ALL
       |  SELECT 'http://example.com/hop0/' || CAST(doc_id AS VARCHAR),
       |         302, '/hop1/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT 'http://example.com/hop1/' || CAST(doc_id AS VARCHAR),
       |         301, 'http://example.com/hop2/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT 'http://example.com/hop2/' || CAST(doc_id AS VARCHAR),
       |         200, ''
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT 'http://example.com/loopA/' || CAST(doc_id AS VARCHAR),
       |         301, '/loopB/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 5 = 2
       |  UNION ALL
       |  SELECT 'http://example.com/loopB/' || CAST(doc_id AS VARCHAR),
       |         302, '/loopA/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 5 = 2
       |  UNION ALL
       |  SELECT 'http://example.com/a/b/' || CAST(doc_id AS VARCHAR),
       |         301, '../r/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 5 = 3),
       |redir AS (SELECT uri, loc FROM parsed
       |          WHERE status BETWEEN 300 AND 399 AND loc <> ''),
       |rbase AS (SELECT uri, loc AS url, uri AS base FROM redir),
       |${resolveUrlCtes("rbase", Seq("uri"))},
       |e AS MATERIALIZED (SELECT uri AS url, resolved AS target FROM ru),
       |c1 AS (SELECT url, target AS final_url, 1 AS hops FROM e),
       |$hops
       |SELECT c.url, c.final_url, c.hops, (t.url IS NULL) AS resolved
       |FROM c5 c LEFT JOIN (SELECT DISTINCT url FROM e) t
       |  ON c.final_url = t.url""".stripMargin
  }

  /** t77's replay — GENUINE: the fixture page build, quote
    * normalization, both canonical-link attribute orders, resolution
    * against the page URI (prefixed chain), canonicalization, the
    * min/count group.
    */
  private def t77OracleSql: String = {
    def esc(x: String) = x.replace("'", "''")
    val H = graft.operators.Html
    s"""WITH tcp AS (
       |  SELECT doc_id,
       |         '<html><head>' ||
       |         (CASE CAST(doc_id % 3 AS INT)
       |            WHEN 1 THEN '<link rel="canonical" href="/page/' ||
       |                 CAST(doc_id - doc_id % 3 AS VARCHAR) || '">'
       |            WHEN 2 THEN '<link href=''./' ||
       |                 CAST(doc_id - doc_id % 3 AS VARCHAR) ||
       |                 ''' rel=canonical>'
       |            ELSE '' END) ||
       |         '</head><body><p>' || substr(text, 1, 100) ||
       |         '</p></body></html>' AS html,
       |         'http://example.com/page/' || CAST(doc_id AS VARCHAR)
       |           AS pageuri
       |  FROM documents),
       |cb AS (
       |  SELECT doc_id, pageuri,
       |         COALESCE(
       |           nullif(COALESCE(regexp_extract(${normalizeHrefSql("html")},
       |             '${esc(H.canonicalRelFirstRe)}', 1), ''), ''),
       |           nullif(COALESCE(regexp_extract(${normalizeHrefSql("html")},
       |             '${esc(H.canonicalHrefFirstRe)}', 1), ''), ''),
       |           '') AS url,
       |         pageuri AS base
       |  FROM tcp),
       |${resolveUrlCtesP("cn", "cb", Seq("doc_id", "pageuri"))},
       |ures AS (SELECT doc_id, resolved AS url FROM cnu),
       |${canonicalUrlCtes("ures")},
       |withpb AS (
       |  SELECT c.doc_id, COALESCE(c.canonical_url, t.pageuri)
       |           AS canonical_url
       |  FROM cu c JOIN tcp t ON c.doc_id = t.doc_id)
       |SELECT canonical_url, min(doc_id) AS kept_id,
       |       COUNT(*) AS n_variants
       |FROM withpb GROUP BY 1""".stripMargin
  }

  /** t76's replay — GENUINE: title extraction + the shared entity/ws
    * chain, OpenGraph property-first and content-first orders.
    */
  private def t76OracleSql: String = {
    def esc(x: String) = x.replace("'", "''")
    def ent(x: String) = graft.operators.Html.entityDecodes.foldLeft(x) {
      case (acc, (from, to)) =>
        s"replace($acc, '$from', '${to.replace("'", "''")}')"
    }
    def og(prop: String): String = {
      val pf = esc("(?is)<meta\\b[^>]*?\\bproperty\\s*=\\s*[\"']og:" +
        prop + "[\"'][^>]*?\\bcontent\\s*=\\s*[\"']([^\"'>]*)")
      val cf = esc("(?is)<meta\\b[^>]*?\\bcontent\\s*=\\s*[\"']([^\"'>]*)" +
        "[\"'][^>]*?\\bproperty\\s*=\\s*[\"']og:" + prop)
      s"""COALESCE(nullif(COALESCE(regexp_extract(html, '$pf', 1), ''), ''),
         |         nullif(COALESCE(regexp_extract(html, '$cf', 1), ''), ''),
         |         '')""".stripMargin
    }
    s"""WITH tmp AS (
       |  SELECT doc_id,
       |         '<html><head><title> Doc ' || CAST(doc_id AS VARCHAR) ||
       |         ' &amp; more </title>' ||
       |         (CASE CAST(doc_id % 3 AS INT)
       |            WHEN 0 THEN '<meta property="og:title" content="OG Doc '
       |                 || CAST(doc_id AS VARCHAR) ||
       |                 '"><meta property="og:description" content="About doc '
       |                 || CAST(doc_id AS VARCHAR) || '">'
       |            WHEN 1 THEN '<meta content="CF Doc ' ||
       |                 CAST(doc_id AS VARCHAR) ||
       |                 '" property="og:title">'
       |            ELSE '' END) ||
       |         '</head><body><p>' || substr(text, 1, 100) ||
       |         '</p></body></html>' AS html
       |  FROM documents)
       |SELECT doc_id,
       |       trim(regexp_replace(${ent(
      s"COALESCE(regexp_extract(html, '${esc("(?is)<title[^>]*>(.*?)</title>")}', 1), '')")},
       |         '\\s+', ' ', 'g')) AS title,
       |       ${og("title")} AS og_title,
       |       ${og("description")} AS og_description
       |FROM tmp""".stripMargin
  }

  /** t74's replay — GENUINE end to end: the fixture page build, both
    * meta-robots attribute-order regexes + the directive-token tests,
    * the page-level nofollow screen, the whole-tag/href zip, the
    * rel=nofollow anchor drop, and the flags-to-links left join.
    */
  private def t74OracleSql: String = {
    def esc(x: String) = x.replace("'", "''")
    val H = graft.operators.Html
    s"""WITH tp AS (
       |  SELECT doc_id,
       |         '<html><head>' ||
       |         (CASE CAST(doc_id % 4 AS INT)
       |            WHEN 1 THEN '<meta name="robots" content="noindex, nofollow">'
       |            WHEN 2 THEN '<meta content=noindex name=robots>'
       |            ELSE '' END) ||
       |         '</head><body><p>' || substr(text, 1, 150) ||
       |         ' <a href="/doc/' || CAST(doc_id // 2 AS VARCHAR) ||
       |         '">one</a> <a' ||
       |         (CASE WHEN doc_id % 4 = 3 THEN ' rel=nofollow'
       |               ELSE '' END) ||
       |         ' href="/doc/' || CAST(doc_id // 3 AS VARCHAR) ||
       |         '">two</a></p></body></html>' AS html
       |  FROM documents),
       |dirs AS (
       |  SELECT doc_id, html,
       |         lower(COALESCE(regexp_extract(html,
       |                 '${esc(H.metaRobotsNameFirstRe)}', 1), '') || ' ' ||
       |               COALESCE(regexp_extract(html,
       |                 '${esc(H.metaRobotsContentFirstRe)}', 1), '')) AS c
       |  FROM tp),
       |flags AS (
       |  SELECT doc_id, html,
       |         (regexp_matches(c, '\\bnoindex\\b') OR
       |          regexp_matches(c, '\\bnone\\b')) AS noindex,
       |         (regexp_matches(c, '\\bnofollow\\b') OR
       |          regexp_matches(c, '\\bnone\\b')) AS nofollow
       |  FROM dirs),
       |lz AS (
       |  SELECT doc_id,
       |         regexp_extract_all(${normalizeHrefSql("html")},
       |           '${esc(H.hrefRe)}', 0) AS tags,
       |         regexp_extract_all(${normalizeHrefSql("html")},
       |           '${esc(H.hrefRe)}', 1) AS us
       |  FROM flags WHERE NOT nofollow),
       |lp AS (
       |  SELECT doc_id, us[CAST(i AS INT)] AS url,
       |         tags[CAST(i AS INT)] AS tag
       |  FROM lz, LATERAL unnest(range(1, len(us) + 1)) t(i)),
       |lk AS (SELECT doc_id, url FROM lp
       |       WHERE url <> ''
       |         AND NOT regexp_matches(tag, '${esc(H.relNofollowRe)}'))
       |SELECT f.doc_id, f.noindex, f.nofollow, l.url
       |FROM flags f LEFT JOIN lk l ON f.doc_id = l.doc_id""".stripMargin
  }

  // ------------------------------------------------------- t69
  /** The per-host robots.txt fixture body — shared verbatim by the
    * Spark query and the oracle. Plants every parser/argmax branch: a
    * foreign-agent group whose blanket Disallow must NOT leak to `*`,
    * a STACKED user-agent group (megabot + *), a comment, the
    * longest-match pair (/private/ vs /private/pub/), an exact-length
    * Allow/Disallow tie (/cgi), the empty-Disallow no-op, and an
    * ignored Sitemap field. No single quotes (embeds in SQL literals).
    */
  private val robotsFixtureBody: String =
    "User-agent: fancybot\nDisallow: /\n\n# site policy applies to all\n" +
      "User-agent: megabot\nUser-agent: *\nDisallow: /private/\n" +
      "Allow: /private/pub/\nDisallow: /tmp\nAllow: /cgi\nDisallow: /cgi\n" +
      "Disallow:\nSitemap: http://example.com/sitemap.xml\n"

  /** The t72 wildcard robots body — every §2.2.3 branch planted: `*`
    * mid-rule and leading, a trailing `$` anchor, a longer Allow over a
    * wildcard Disallow, and a mid-rule literal `$` the metachar escape
    * must neutralize. No single quotes (embeds in SQL literals).
    */
  private val robotsWildFixtureBody: String =
    "User-agent: *\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\n" +
      "Disallow: /search*\nAllow: /search/help\nDisallow: /*/tmp/\n" +
      "Disallow: /d$r*\n"

  /** [[graft.operators.Robots.allowed]]'s rule-match condition in DuckDB
    * SQL over rule alias `r` and a path expression — the identical
    * §2.2.3 wildcard compile (strip a trailing `$`, escape RE2
    * metacharacters, `*` → `.*`, re-anchor) with the wildcard-free
    * fast path as plain starts_with. Shared by t69/t72/g23 so the
    * match semantics cannot drift between gates.
    */
  private def robotsMatchCondSql(pathExpr: String): String =
    """(CASE WHEN r.prefix LIKE '%*%' OR r.prefix LIKE '%$'
      |      THEN regexp_matches(__P__, '^' ||
      |           replace(regexp_replace(
      |             regexp_replace(r.prefix, '\$$', ''),
      |             '([.^$+?(){}\[\]|\\])', '\\\1', 'g'),
      |           '*', '.*') ||
      |           (CASE WHEN r.prefix LIKE '%$' THEN '$' ELSE '' END))
      |      ELSE starts_with(__P__, r.prefix) END)""".stripMargin
      .replace("__P__", pathExpr)

  /** The robots grammar (line split + ordinality, comment strip, field
    * regexes, the stacked-group window pair) replayed relationally over
    * a caller-defined `hosts(host)` CTE — ending in
    * `rrules(host, agent, rule_type, prefix)`. Shared by t69/t72/g23.
    */
  private def robotsRulesCtes: String = robotsRulesCtesFor(robotsFixtureBody)

  private def robotsRulesCtesFor(body: String): String =
    s"""rb AS (SELECT host, '$body' AS robots FROM hosts),
       |rlines AS (
       |  SELECT host, CAST(i AS INT) AS ln,
       |         trim(regexp_replace(ls[CAST(i AS INT)], '#.*$$', '')) AS line
       |  FROM (SELECT host, string_split(robots, chr(10)) AS ls FROM rb),
       |       LATERAL unnest(range(1, len(ls) + 1)) t(i)),
       |rkind AS (
       |  SELECT host, ln,
       |         lower(COALESCE(regexp_extract(line,
       |           '(?i)^(user-agent|allow|disallow)\\s*:', 1), '')) AS kind,
       |         trim(COALESCE(regexp_extract(line,
       |           '(?i)^(?:user-agent|allow|disallow)\\s*:(.*)$$', 1), ''))
       |           AS val
       |  FROM rlines),
       |rk AS (SELECT * FROM rkind WHERE kind <> ''),
       |rg0 AS (
       |  SELECT *, (kind = 'user-agent') AS isua,
       |         ((kind = 'user-agent') AND NOT COALESCE(
       |            lag(kind = 'user-agent')
       |              OVER (PARTITION BY host ORDER BY ln), false)) AS opens
       |  FROM rk),
       |rgrp AS (
       |  SELECT *, SUM(CASE WHEN opens THEN 1 ELSE 0 END)
       |              OVER (PARTITION BY host ORDER BY ln
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              AS grp
       |  FROM rg0),
       |ragents AS (SELECT host, grp, val AS agent FROM rgrp WHERE isua),
       |rrules AS (
       |  SELECT g.host, a.agent, g.kind AS rule_type, g.val AS prefix
       |  FROM rgrp g JOIN ragents a USING (host, grp)
       |  WHERE NOT g.isua AND g.val <> '')""".stripMargin

  /** t69's replay: the shared grammar chain + the integer-encoded
    * longest-match argmax over the fixture paths.
    */
  private def t69OracleSql: String =
    s"""WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
       |$robotsRulesCtes,
       |rurls AS (
       |  SELECT doc_id, source AS host,
       |         CASE CAST(doc_id % 6 AS INT)
       |           WHEN 0 THEN '/articles/' || CAST(doc_id AS VARCHAR)
       |           WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
       |           WHEN 2 THEN '/private/pub/' || CAST(doc_id AS VARCHAR)
       |           WHEN 3 THEN '/tmp' || CAST(doc_id AS VARCHAR)
       |           WHEN 4 THEN '/cgi/' || CAST(doc_id AS VARCHAR)
       |           ELSE '/private/pub' END AS path
       |  FROM documents),
       |rmatch AS (
       |  SELECT u.doc_id, u.host, u.path,
       |         max(CASE WHEN r.prefix IS NULL THEN NULL
       |                  ELSE 2 * strlen(r.prefix) +
       |                       (CASE WHEN r.rule_type = 'allow'
       |                             THEN 1 ELSE 0 END) END) AS best
       |  FROM rurls u LEFT JOIN rrules r
       |    ON r.host = u.host AND r.agent = '*'
       |       AND ${robotsMatchCondSql("u.path")}
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, host, path, COALESCE(best % 2 = 1, true) AS allowed
       |FROM rmatch""".stripMargin

  /** t72's replay: the shared grammar chain over the WILDCARD fixture
    * body + the shared §2.2.3 pattern-compile match + the same
    * integer-encoded argmax.
    */
  private def t72OracleSql: String =
    s"""WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
       |${robotsRulesCtesFor(robotsWildFixtureBody)},
       |rurls AS (
       |  SELECT doc_id, source AS host,
       |         CASE CAST(doc_id % 8 AS INT)
       |           WHEN 0 THEN '/articles/' || CAST(doc_id AS VARCHAR)
       |           WHEN 1 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.pdf'
       |           WHEN 2 THEN '/pub/' || CAST(doc_id AS VARCHAR) || '.pdf'
       |           WHEN 3 THEN '/search' || CAST(doc_id AS VARCHAR)
       |           WHEN 4 THEN '/search/help'
       |           WHEN 5 THEN '/a/tmp/' || CAST(doc_id AS VARCHAR)
       |           WHEN 6 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.pdfx'
       |           ELSE '/d$$r' || CAST(doc_id AS VARCHAR) END AS path
       |  FROM documents),
       |rmatch AS (
       |  SELECT u.doc_id, u.host, u.path,
       |         max(CASE WHEN r.prefix IS NULL THEN NULL
       |                  ELSE 2 * strlen(r.prefix) +
       |                       (CASE WHEN r.rule_type = 'allow'
       |                             THEN 1 ELSE 0 END) END) AS best
       |  FROM rurls u LEFT JOIN rrules r
       |    ON r.host = u.host AND r.agent = '*'
       |       AND ${robotsMatchCondSql("u.path")}
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, host, path, COALESCE(best % 2 = 1, true) AS allowed
       |FROM rmatch""".stripMargin

  // ------------------------------------------------------- g23/e50
  /** The frontier fixture page: three cross-host links per doc (two
    * /page/ candidates on rotated hosts + one robots-disallowed
    * /private/ single-quoted link), shared by the batch composition and
    * the streaming twin.
    */
  private def frontierPage(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def host(e: org.apache.spark.sql.Column) =
      concat(lit("s"), e.cast("string"), lit(".example"))
    concat(
      lit("<html><body><p>"), text,
      lit(" <a href=\"http://"), host(pmod(id, lit(7))), lit("/page/"),
      pmod(id * 3, lit(1000)).cast("string"), lit("\">a</a>"),
      lit(" <a href='http://"), host(pmod(id, lit(7))), lit("/private/"),
      pmod(id, lit(100)).cast("string"), lit("'>b</a>"),
      lit(" <a href=\"http://"), host(pmod(id + 3, lit(7))), lit("/page/"),
      pmod(id * 5, lit(1000)).cast("string"),
      lit("\">c</a></p></body></html>"))
  }

  /** The "already crawled" rule: every /page/ url whose page number
    * ends in 0.
    */
  private def frontierCrawled(
      cands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cands.filter(col("url").rlike("/page/[0-9]*0$"))
      .select("url").distinct()

  /** The per-host robots table for the s0..s6.example frontier hosts. */
  private def frontierRobots(
      s: SparkSession): org.apache.spark.sql.DataFrame =
    graft.operators.Robots.rules(frontierRobotsBodies(s), "host", "robots")

  /** The g24/e51 robots bodies: the shared fixture rules PLUS a
    * per-host `Sitemap:` pointer at its own index (the body's baked-in
    * example.com pointer stays — a foreign pointer matching nothing in
    * the sitemap corpus, which the discovery join must drop).
    */
  private def frontierRobotsBodies(
      s: SparkSession): org.apache.spark.sql.DataFrame =
    s.range(0, 7).select(
      concat(lit("s"), col("id").cast("string"), lit(".example"))
        .as("host"),
      concat(lit(robotsFixtureBody), lit("Sitemap: http://s"),
        col("id").cast("string"), lit(".example/smidx.xml\n"))
        .as("robots"))

  /** The g24/e51 sitemap corpus, constant per host (like the robots
    * frame): an INDEX at /smidx.xml pointing at two children; child A
    * lists five /page/ locs at priority 0.9 (some collide with
    * link-discovered candidates — the boost; host s0's all end in 0 —
    * the crawled screen applies to sitemap locs too, but only where
    * the link chain actually crawled them); child B lists five
    * /smonly/ locs with NO priority (the spec's 0.5 default;
    * sitemap-ONLY candidates with zero inlinks). Output:
    * (host, url, xml).
    */
  private def frontierSitemaps(
      s: SparkSession): org.apache.spark.sql.DataFrame = {
    val h = concat(lit("s"), col("id").cast("string"), lit(".example"))
    val hu = concat(lit("http://"), h)
    val idx = s.range(0, 7).select(h.as("host"),
      concat(hu, lit("/smidx.xml")).as("url"),
      concat(lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
        hu, lit("/sm-a.xml</loc></sitemap><sitemap><loc> "),
        hu, lit("/sm-b.xml </loc></sitemap></sitemapindex>")).as("xml"))
    val aEntries = (0 until 5).map(j => concat(lit("<url><loc>"), hu,
      lit("/page/"), (col("id") + lit(200 * j)).cast("string"),
      lit("</loc><priority>0.9</priority></url>")))
    val childA = s.range(0, 7).select(h.as("host"),
      concat(hu, lit("/sm-a.xml")).as("url"),
      concat(lit("<?xml version=\"1.0\"?><urlset>") +:
        aEntries :+ lit("</urlset>"): _*).as("xml"))
    val bEntries = (0 until 5).map(j => concat(lit("<url><loc>"), hu,
      lit("/smonly/"), (col("id") + lit(10 * j)).cast("string"),
      lit("</loc></url>")))
    val childB = s.range(0, 7).select(h.as("host"),
      concat(hu, lit("/sm-b.xml")).as("url"),
      concat(lit("<?xml version=\"1.0\"?><urlset>") +:
        bEntries :+ lit("</urlset>"): _*).as("xml"))
    idx.unionByName(childA).unionByName(childB)
  }

  /** The g24/e51 sitemap DISCOVERY chain — robots `Sitemap:` pointers
    * → index docs → child pointers → child docs → entries — shared by
    * the batch query and the streaming twin's read.
    */
  private def frontierSitemapEntries(
      s: SparkSession): org.apache.spark.sql.DataFrame = {
    val corpus = frontierSitemaps(s)
    val ptr = graft.operators.Robots.sitemaps(frontierRobotsBodies(s),
      "host", "robots")
    val idxDocs = corpus.join(
      ptr.select(col("sitemap_url").as("url")).distinct(), Seq("url"))
    val children = graft.operators.Sitemaps.indexEntries(idxDocs,
      "host", "xml")
    val childDocs = corpus.join(
      children.select(col("loc").as("url")).distinct(), Seq("url"))
    graft.operators.Sitemaps.entries(childDocs, "host", "xml")
  }

  /** g23's replay: candidate ground truth from the fixture's link math,
    * then the frontier logic genuinely — occurrence counts, the
    * crawled-screen anti-rule, the shared robots grammar + argmax, and
    * the per-host budget as the equivalent row_number ≤ k.
    */
  private def g23OracleSql: String =
    s"""WITH cand AS (
       |  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS h,
       |         '/page/' || CAST(doc_id * 3 % 1000 AS VARCHAR) AS p
       |  FROM documents
       |  UNION ALL
       |  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example',
       |         '/private/' || CAST(doc_id % 100 AS VARCHAR)
       |  FROM documents
       |  UNION ALL
       |  SELECT 's' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example',
       |         '/page/' || CAST(doc_id * 5 % 1000 AS VARCHAR)
       |  FROM documents),
       |curls AS (SELECT 'http://' || h || p AS url, h AS host, p AS path
       |          FROM cand),
       |counts AS (SELECT url, host, path, COUNT(*) AS n
       |           FROM curls GROUP BY 1, 2, 3),
       |fresh AS (SELECT * FROM counts
       |          WHERE NOT regexp_matches(path, '/page/[0-9]*0$$')),
       |hosts AS (SELECT DISTINCT host FROM curls),
       |$robotsRulesCtes,
       |fmatch AS (
       |  SELECT f.url, f.host, f.n,
       |         max(CASE WHEN r.prefix IS NULL THEN NULL
       |                  ELSE 2 * strlen(r.prefix) +
       |                       (CASE WHEN r.rule_type = 'allow'
       |                             THEN 1 ELSE 0 END) END) AS best
       |  FROM fresh f LEFT JOIN rrules r
       |    ON r.host = f.host AND r.agent = '*'
       |       AND ${robotsMatchCondSql("f.path")}
       |  GROUP BY 1, 2, 3),
       |fok AS (SELECT url, host, n FROM fmatch
       |        WHERE COALESCE(best % 2 = 1, true)),
       |ranked AS (SELECT host, url, n,
       |           row_number() OVER (PARTITION BY host
       |                              ORDER BY n DESC, url ASC) AS rk
       |           FROM fok)
       |SELECT host, CAST(rk AS INT) AS rank, url, n AS n_inlinks
       |FROM ranked WHERE rk <= 10""".stripMargin

  /** g24's (and e51's) replay: link candidates AND sitemap entries
    * ground-truth-restated from fixture math (parse chains t63/t70/
    * robots-gated elsewhere), then the NEW logic genuinely — the
    * priority-default/max aggregation, the full-outer merge and
    * `n + hint` scoring, the crawled screen as a real anti-join (a
    * sitemap loc is only "crawled" if the LINK chain produced it),
    * the shared robots argmax, and the budget rank over the score.
    */
  private def g24OracleSql: String =
    s"""WITH cand AS (
       |  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS h,
       |         '/page/' || CAST(doc_id * 3 % 1000 AS VARCHAR) AS p
       |  FROM documents
       |  UNION ALL
       |  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example',
       |         '/private/' || CAST(doc_id % 100 AS VARCHAR)
       |  FROM documents
       |  UNION ALL
       |  SELECT 's' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example',
       |         '/page/' || CAST(doc_id * 5 % 1000 AS VARCHAR)
       |  FROM documents),
       |curls AS (SELECT 'http://' || h || p AS url, h AS host, p AS path
       |          FROM cand),
       |counts AS (SELECT url, COUNT(*) AS n FROM curls GROUP BY 1),
       |sment AS (
       |  SELECT 'http://s' || CAST(k AS VARCHAR) || '.example/page/' ||
       |         CAST(200 * j + k AS VARCHAR) AS url,
       |         CAST(0.9 AS DOUBLE) AS priority
       |  FROM range(7) t(k), range(5) u(j)
       |  UNION ALL
       |  SELECT 'http://s' || CAST(k AS VARCHAR) || '.example/smonly/' ||
       |         CAST(10 * j + k AS VARCHAR), NULL
       |  FROM range(7) t(k), range(5) u(j)),
       |smagg AS (SELECT url, max(COALESCE(priority, CAST(0.5 AS DOUBLE)))
       |            AS pr
       |          FROM sment GROUP BY 1),
       |merged AS (
       |  SELECT COALESCE(c.url, s.url) AS url,
       |         COALESCE(c.n, 0) AS n_inlinks,
       |         CAST(COALESCE(c.n, 0) AS DOUBLE) +
       |         COALESCE(s.pr, CAST(0.0 AS DOUBLE)) AS score
       |  FROM counts c FULL OUTER JOIN smagg s ON c.url = s.url),
       |crawled AS (SELECT DISTINCT url FROM curls
       |            WHERE regexp_matches(path, '/page/[0-9]*0$$')),
       |fresh AS (
       |  SELECT m.url,
       |         regexp_extract(m.url,
       |           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS host,
       |         CASE WHEN COALESCE(regexp_extract(m.url,
       |                '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
       |                '') = '' THEN '/'
       |              ELSE regexp_extract(m.url,
       |                '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
       |              END AS path,
       |         m.n_inlinks, m.score
       |  FROM merged m ANTI JOIN crawled w ON m.url = w.url),
       |hosts AS (SELECT 's' || CAST(k AS VARCHAR) || '.example' AS host
       |          FROM range(7) t(k)),
       |$robotsRulesCtes,
       |fmatch AS (
       |  SELECT f.url, f.host, f.n_inlinks, f.score,
       |         max(CASE WHEN r.prefix IS NULL THEN NULL
       |                  ELSE 2 * strlen(r.prefix) +
       |                       (CASE WHEN r.rule_type = 'allow'
       |                             THEN 1 ELSE 0 END) END) AS best
       |  FROM fresh f LEFT JOIN rrules r
       |    ON r.host = f.host AND r.agent = '*'
       |       AND ${robotsMatchCondSql("f.path")}
       |  GROUP BY 1, 2, 3, 4),
       |fok AS (SELECT url, host, n_inlinks, score FROM fmatch
       |        WHERE COALESCE(best % 2 = 1, true)),
       |ranked AS (SELECT host, url, n_inlinks, score,
       |           row_number() OVER (PARTITION BY host
       |                              ORDER BY score DESC, url ASC) AS rk
       |           FROM fok)
       |SELECT host, CAST(rk AS INT) AS rank, url, n_inlinks, score
       |FROM ranked WHERE rk <= 10""".stripMargin

  /** g25's replay: entries/crawl-log restated from fixture math (parse
    * chains t70/t69-gated), then GENUINELY — the per-url
    * priority/lastmod aggregation, the new/stale reason rule over the
    * left-joined crawl log, the shared robots argmax, the budget rank
    * over priority, the CRAWL-DELAY GROUP GRAMMAR (line split, stacked
    * user-agent groups, max-per-group, TRY_CAST drops garbage) over
    * the per-host body, and the (rank−1)·delay pacing arithmetic.
    */
  private def g25OracleSql: String = {
    val pathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
    s"""WITH ent AS (
       |  SELECT 'http://' || source || '.example' ||
       |         (CASE WHEN doc_id % 6 = 1 THEN '/private/'
       |               ELSE '/doc/' END) ||
       |         CAST(doc_id AS VARCHAR) AS url,
       |         CASE WHEN doc_id % 4 = 0 THEN ''
       |              ELSE '2024-01-' ||
       |                   lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |              END AS lastmod,
       |         CASE WHEN doc_id % 5 = 0 THEN NULL
       |              ELSE CAST(doc_id % 10 AS DOUBLE) / 10 END AS priority,
       |         doc_id % 2 AS par
       |  FROM documents),
       |cagg AS (SELECT url, max(lastmod) AS lastmod,
       |                max(COALESCE(priority, CAST(0.5 AS DOUBLE))) AS p
       |         FROM ent GROUP BY 1),
       |crawledg AS (SELECT url, '2024-01-15' AS fetched_at FROM ent
       |             WHERE par = 0),
       |cand AS (
       |  SELECT c.url, c.lastmod, c.p,
       |         CASE WHEN w.url IS NULL THEN 'new'
       |              WHEN c.lastmod <> '' AND c.lastmod > w.fetched_at
       |                   THEN 'stale' END AS reason
       |  FROM cagg c LEFT JOIN crawledg w ON c.url = w.url),
       |cok AS (SELECT url, lastmod, p, reason,
       |        regexp_extract(url,
       |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS host,
       |        CASE WHEN COALESCE(regexp_extract(url, '$pathRe', 1), '')
       |                  = '' THEN '/'
       |             ELSE regexp_extract(url, '$pathRe', 1) END AS path
       |        FROM cand WHERE reason IS NOT NULL),
       |hosts AS (SELECT DISTINCT source || '.example' AS host
       |          FROM documents),
       |$robotsRulesCtes,
       |rb2 AS (SELECT host, '$robotsFixtureBody' || 'Crawl-delay: ' ||
       |               CAST(strlen(host) % 5 + 1 AS VARCHAR) || '.5' ||
       |               chr(10) AS robots
       |        FROM hosts),
       |dl0 AS (SELECT host, CAST(i AS INT) AS ln,
       |               trim(regexp_replace(ls[CAST(i AS INT)], '#.*$$', ''))
       |                 AS line
       |        FROM (SELECT host, string_split(robots, chr(10)) AS ls
       |              FROM rb2),
       |             LATERAL unnest(range(1, len(ls) + 1)) t(i)),
       |dl1 AS (SELECT host, ln,
       |               lower(COALESCE(regexp_extract(line,
       |                 '(?i)^(user-agent|crawl-delay)\\s*:', 1), ''))
       |                 AS kind,
       |               trim(COALESCE(regexp_extract(line,
       |                 '(?i)^(?:user-agent|crawl-delay)\\s*:(.*)$$', 1),
       |                 '')) AS val
       |        FROM dl0),
       |dl2 AS (SELECT * FROM dl1 WHERE kind <> ''),
       |dl3 AS (SELECT *, (kind = 'user-agent') AS isua,
       |               ((kind = 'user-agent') AND NOT COALESCE(
       |                  lag(kind = 'user-agent')
       |                    OVER (PARTITION BY host ORDER BY ln), false))
       |                 AS opens
       |        FROM dl2),
       |dl4 AS (SELECT *, SUM(CASE WHEN opens THEN 1 ELSE 0 END)
       |                    OVER (PARTITION BY host ORDER BY ln
       |                          ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND CURRENT ROW) AS grp
       |        FROM dl3),
       |dlagents AS (SELECT host, grp, val AS agent FROM dl4 WHERE isua),
       |rdelays AS (SELECT g.host, a.agent,
       |                   max(TRY_CAST(g.val AS DOUBLE)) AS crawl_delay
       |            FROM dl4 g JOIN dlagents a USING (host, grp)
       |            WHERE NOT g.isua
       |              AND TRY_CAST(g.val AS DOUBLE) IS NOT NULL
       |            GROUP BY 1, 2),
       |fmatch AS (
       |  SELECT f.url, f.host, f.lastmod, f.p, f.reason,
       |         max(CASE WHEN r.prefix IS NULL THEN NULL
       |                  ELSE 2 * strlen(r.prefix) +
       |                       (CASE WHEN r.rule_type = 'allow'
       |                             THEN 1 ELSE 0 END) END) AS best
       |  FROM cok f LEFT JOIN rrules r
       |    ON r.host = f.host AND r.agent = '*'
       |       AND ${robotsMatchCondSql("f.path")}
       |  GROUP BY 1, 2, 3, 4, 5),
       |fok AS (SELECT url, host, lastmod, p, reason FROM fmatch
       |        WHERE COALESCE(best % 2 = 1, true)),
       |ranked AS (SELECT host, url, reason, lastmod, p,
       |                  row_number() OVER (PARTITION BY host
       |                                     ORDER BY p DESC, url ASC)
       |                    AS rk
       |           FROM fok)
       |SELECT r.host, CAST(r.rk AS INT) AS rank, r.url, r.reason,
       |       r.lastmod,
       |       CAST(r.rk - 1 AS DOUBLE) *
       |       COALESCE(d.crawl_delay, CAST(1.0 AS DOUBLE))
       |         AS fetch_offset_sec
       |FROM ranked r LEFT JOIN (SELECT host, crawl_delay FROM rdelays
       |                         WHERE agent = '*') d
       |  ON r.host = d.host
       |WHERE r.rk <= 10""".stripMargin
  }

  /** g22's replay: the t63 link chain, RFC 3986 resolution against each
    * page's own URI (the t65 chain verbatim — relative and rooted links
    * become edges only through it), edge parse (first `/doc/<n>` group
    * of the canonical URL, self-links out, DISTINCT), then s15's
    * PageRank iteration CTEs over doc ids — the SUBTRACTED teleport
    * term, IEEE per-edge division, DECIMAL(28,10) contribution sums and
    * dangling-mass drop, exactly [[graft.operators.Graph.pageRank]].
    */
  private def g22OracleSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT t.doc_id,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         |         + CAST(0.85 AS DOUBLE)
         |           * COALESCE(CAST(s.m AS DOUBLE), CAST(0.0 AS DOUBLE)) AS score
         |  FROM nodes t LEFT JOIN (
         |    SELECT ed.dst AS doc_id,
         |           SUM(CAST(rr.score / ed.d AS DECIMAL(28,10))) AS m
         |    FROM dedges ed JOIN $prev rr ON ed.src = rr.doc_id
         |    GROUP BY 1) s ON t.doc_id = s.doc_id)""".stripMargin
    s"""WITH $linkPagesCtes,
       |ub AS (SELECT doc_id, url,
       |       'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS base
       |       FROM u),
       |${resolveUrlCtes("ub", Seq("doc_id"))},
       |ures AS (SELECT doc_id, resolved AS url FROM ru),
       |${canonicalUrlCtes("ures")},
       |edges AS MATERIALIZED (
       |  -- MATERIALIZED: each PageRank round references the edge chain,
       |  -- and inlining the (deliberately huge) bounded resolve unroll
       |  -- once per round blows up DuckDB's planner
       |  SELECT DISTINCT doc_id AS src,
       |         CAST(nullif(regexp_extract(canonical_url, '/doc/([0-9]+)', 1), '')
       |              AS BIGINT) AS dst
       |  FROM cu
       |  WHERE canonical_url IS NOT NULL
       |    AND COALESCE(nullif(regexp_extract(canonical_url, '/doc/([0-9]+)', 1), ''),
       |                 '') <> ''
       |    AND CAST(nullif(regexp_extract(canonical_url, '/doc/([0-9]+)', 1), '')
       |             AS BIGINT) <> doc_id),
       |nodes AS (SELECT doc_id FROM documents),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |dedges AS (SELECT e.src, e.dst, dg.d FROM edges e JOIN deg dg ON e.src = dg.src),
       |r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS score FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT doc_id, ROUND(score, 8) + 0.0 AS score FROM r3""".stripMargin
  }

  /** The d03 fixture corpus (originals + first-word-dropped copies) as a
    * `docs2` CTE — shared by d03 and the c35/e44 screen gates.
    */
  private val d03Docs2Cte: String =
    """docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '') FROM documents)"""
      .stripMargin

  /** d03's all-pairs 5-gram Jaccard truth as a reusable CTE chain over a
    * caller-defined `docs2(doc_id, text, ...)` CTE — ending in
    * `ndpairs(idA, idB, j)` with the threshold applied on the unrounded
    * ratio (d03's own rule) and `j` round-4. `scopeCol` (a batch id)
    * restricts pairs to equal-scope rows — the streaming per-batch
    * screen's scope contract (e44).
    */
  private def nearDupPairCtes(threshold: Double,
      scopeCol: Option[String] = None): String = {
    val scopeJoin = scopeCol.map(c => s" AND a.$c = b.$c").getOrElse("")
    val scopeSel = scopeCol.map(c => s", $c").getOrElse("")
    s"""ndnorm AS (
       |  SELECT doc_id$scopeSel,
       |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |  FROM docs2),
       |ndgrams AS (
       |  SELECT doc_id$scopeSel,
       |         CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
       |              ELSE list_distinct(list_transform(range(1, length(n) - 3),
       |                     i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
       |  FROM ndnorm),
       |ndgs AS (SELECT doc_id$scopeSel, g, len(g) AS n FROM ndgrams WHERE len(g) > 0),
       |ndex AS (SELECT doc_id$scopeSel, n, unnest(g) AS p FROM ndgs),
       |ndpairs AS (
       |  SELECT idA, idB, ROUND(jraw, 4) + 0.0 AS j FROM (
       |    SELECT a.doc_id AS idA, b.doc_id AS idB,
       |           CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) AS jraw
       |    FROM ndex a JOIN ndex b ON a.p = b.p AND a.doc_id < b.doc_id$scopeJoin
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n)
       |  WHERE jraw >= $threshold)""".stripMargin
  }

  /** t17's PII fixture (emails/IPv4s/phones appended per doc) as an
    * `aug` CTE carrying (doc_id, text, lang) — shared by t17/c36/e45.
    */
  private val t17AugCte: String =
    // no line here may START with '||' — this CTE interpolates into
    // stripMargin callers (c36/e45), which would eat the first pipe
    """aug AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
      |         ' from ' || CAST(doc_id % 256 AS VARCHAR) || '.0.10.' ||
      |         CAST((doc_id * 7) % 256 AS VARCHAR) ||
      |         ' tel +1 555 01' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |           AS text,
      |         lang
      |  FROM documents)""".stripMargin

  /** t17's three-pattern redaction chain over a text expression —
    * shared verbatim by the t17 gate and the c36/e45 stage gates.
    */
  private def piiRedactExprSql(textExpr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($textExpr,
       |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |  '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g'),
       |  '[+]?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g')""".stripMargin

  /** m13's replay (shared verbatim by the e43 streaming twin): the
    * m04 window-energy chain at w=16 + lag-window cut decisions,
    * running-sum scene labels, per-scene peak keyframe.
    */
  private val m13OracleSql: String =
    """WITH pos AS (
           SELECT doc_id AS media_id, text, UNNEST(range(1, length(text) + 1)) AS i
           FROM documents),
         en AS (
           SELECT media_id, CAST((i - 1) // 16 AS INT) AS w,
                  CAST(SUM(unicode(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS e
           FROM pos GROUP BY 1, 2),
         cuts AS (
           SELECT media_id, w, e,
                  CASE WHEN abs(e - lag(e) OVER (PARTITION BY media_id
                                                 ORDER BY w)) > 120
                       THEN 1 ELSE 0 END AS cut
           FROM en),
         lbl AS (
           SELECT media_id, w, e,
                  CAST(SUM(cut) OVER (PARTITION BY media_id ORDER BY w)
                       AS BIGINT) AS scene_no
           FROM cuts),
         pk AS (
           SELECT media_id, scene_no, w, e,
                  row_number() OVER (PARTITION BY media_id, scene_no
                                     ORDER BY e DESC, w ASC) AS rn
           FROM lbl)
         SELECT l.media_id, l.scene_no,
                MIN(l.w) AS start_w, COUNT(*) AS n_windows,
                MIN(p.w) AS peak_w, MIN(p.e) AS peak_energy
         FROM lbl l JOIN pk p ON p.media_id = l.media_id
                             AND p.scene_no = l.scene_no AND p.rn = 1
         GROUP BY 1, 2"""

  /** e44's replay: the per-batch near-dup screen scope EXACTLY — pairs
    * restricted to equal batch id (doc_id % 2; a doc and its mangled
    * twin share parity, cross-doc accidental pairs spanning batches
    * survive by the documented scope contract) — then the c07 stage-1
    * gate over survivors and the e05 fingerprint fold (earliest batch's
    * min-id doc wins per exact-dup fingerprint).
    */
  private def e44OracleSql: String =
    s"""WITH docs2 AS (
       |  SELECT doc_id, text, lang, doc_id % 2 AS b FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s', ''),
       |         lang, doc_id % 2
       |  FROM documents),
       |${nearDupPairCtes(0.7, Some("b"))},
       |screened AS (
       |  SELECT d.* FROM docs2 d
       |  ANTI JOIN (SELECT DISTINCT idB AS doc_id FROM ndpairs) x USING (doc_id)),
       |lang AS (${langOverSql("screened")}),
       |qual AS (${qualityOverSql("screened")}),
       |rep AS (${repetitionOverSql("screened")}),
       |gated AS (
       |  SELECT s.doc_id, s.lang, s.b, q.quality,
       |         md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g')) AS fp
       |  FROM screened s JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05)
       |SELECT doc_id, lang, quality FROM (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn
       |  FROM gated) WHERE rn = 1""".stripMargin

  /** e45's replay: t17's redaction chain, then the c07 stage-1 gate over
    * the REDACTED text (per-document stages — any batching drains
    * identically), then the e05 fingerprint fold.
    */
  private def e45OracleSql: String =
    s"""WITH $t17AugCte,
       |red AS (
       |  SELECT doc_id, ${piiRedactExprSql("text")} AS text, lang,
       |         doc_id % 2 AS b
       |  FROM aug),
       |lang AS (${langOverSql("red")}),
       |qual AS (${qualityOverSql("red")}),
       |rep AS (${repetitionOverSql("red")}),
       |gated AS (
       |  SELECT s.doc_id, s.lang, s.b, q.quality,
       |         md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g')) AS fp
       |  FROM red s JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05)
       |SELECT doc_id, lang, quality FROM (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn
       |  FROM gated) WHERE rn = 1""".stripMargin

  /** c37's replay — the full web pipeline, each stage its own verified
    * chain in production order: t61/t62's extraction over the
    * PII-augmented pages, t17's redaction over the extracted text, the
    * c07 stage-1 gate, d03's pair truth as the near-dup screen, and the
    * d02 keep-min-id exact dedup.
    */
  private def c37OracleSql: String =
    s"""WITH $t17AugCte,
       |${htmlBlocksCtes(5, "aug")},
       |${htmlMainCteOver("aug")},
       |red AS (
       |  SELECT h.doc_id, ${piiRedactExprSql("h.main_text")} AS text, d.lang
       |  FROM hmain h JOIN documents d USING (doc_id)),
       |lang AS (${langOverSql("red")}),
       |qual AS (${qualityOverSql("red")}),
       |rep AS (${repetitionOverSql("red")}),
       |gated AS (
       |  SELECT r0.doc_id, r0.text, r0.lang, q.quality
       |  FROM red r0 JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05),
       |docs2 AS (SELECT doc_id, text FROM gated),
       |${nearDupPairCtes(0.7)},
       |screened AS (
       |  SELECT g.* FROM gated g
       |  ANTI JOIN (SELECT DISTINCT idB AS doc_id FROM ndpairs) x USING (doc_id))
       |SELECT doc_id, text, lang, quality FROM (
       |  SELECT doc_id, text, lang, quality,
       |         row_number() OVER (
       |           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |           ORDER BY doc_id) AS rn
       |  FROM screened) WHERE rn = 1""".stripMargin

  /** e46's replay: the t62 extraction chain, then the c07 stage-1 gate
    * over the EXTRACTED text, then the e05 fingerprint fold — both
    * stages per-document, so any batching drains identically.
    */
  private def e46OracleSql: String =
    s"""WITH ${htmlBlocksCtes(5)},
       |$htmlMainCte,
       |red AS (
       |  SELECT h.doc_id, h.main_text AS text, d.lang, d.doc_id % 2 AS b
       |  FROM hmain h JOIN documents d USING (doc_id)),
       |lang AS (${langOverSql("red")}),
       |qual AS (${qualityOverSql("red")}),
       |rep AS (${repetitionOverSql("red")}),
       |gated AS (
       |  SELECT s.doc_id, s.lang, s.b, q.quality,
       |         md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g')) AS fp
       |  FROM red s JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05)
       |SELECT doc_id, lang, quality FROM (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn
       |  FROM gated) WHERE rn = 1""".stripMargin

  /** e48's replay: the WARC framing + URI parse recover exactly the
    * wrapped pages (f08's ground-truth argument), so the chain is e46's
    * — extraction then the gate over extracted text — with the carried
    * lang being the raw-crawl 'und' constant and the e05 fold.
    */
  private def e48OracleSql: String =
    s"""WITH ${htmlBlocksCtes(5)},
       |$htmlMainCte,
       |red AS (
       |  SELECT h.doc_id, h.main_text AS text, 'und' AS lang,
       |         h.doc_id % 2 AS b
       |  FROM hmain h),
       |lang AS (${langOverSql("red")}),
       |qual AS (${qualityOverSql("red")}),
       |rep AS (${repetitionOverSql("red")}),
       |gated AS (
       |  SELECT s.doc_id, s.lang, s.b, q.quality,
       |         md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g')) AS fp
       |  FROM red s JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05)
       |SELECT doc_id, lang, quality FROM (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn
       |  FROM gated) WHERE rn = 1""".stripMargin

  /** The f14/e52 capture-fixture blobs — base responses, recrawl dups
    * (ids %5), a cross-blob shared error page (ids %7), bodyless
    * revisits (ids %3) and a dangling revisit (ids %11), packed into
    * per-`warc_id` record streams. ONE builder so the batch query and
    * the streaming twin shard the IDENTICAL bytes.
    */
  private def f14Blobs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def rec(typ: String, uri: org.apache.spark.sql.Column,
        date: String, digest: org.apache.spark.sql.Column,
        body: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(lit("WARC/1.0\r\nWARC-Type: " + typ +
          "\r\nWARC-Target-URI: "), uri,
        lit("\r\nWARC-Date: " + date + "\r\nWARC-Payload-Digest: "),
        digest,
        lit("\r\nContent-Length: "), octet_length(body).cast("string"),
        lit("\r\n\r\n"), body, lit("\r\n\r\n"))
    val uri = concat(lit("http://example.com/doc/"),
      col("doc_id").cast("string"))
    def dg(b: org.apache.spark.sql.Column) = concat(lit("md5:"), md5(b))
    val err = lit("404 page not found")
    val base = docs.select(col("doc_id"), lit(0).as("__seq"),
      rec("response", uri, "2024-01-01T00:00:00Z", dg(col("text")),
        col("text")).as("__r"))
    val dup = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), lit(1).as("__seq"),
        rec("response", uri, "2024-02-01T00:00:00Z", dg(col("text")),
          col("text")).as("__r"))
    val errRec = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), lit(2).as("__seq"),
        rec("response", uri, "2024-01-01T00:00:00Z", dg(err), err)
          .as("__r"))
    val revisit = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), lit(3).as("__seq"),
        rec("revisit", uri, "2024-03-01T00:00:00Z", dg(col("text")),
          lit("")).as("__r"))
    val dangling = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id"), lit(4).as("__seq"),
        rec("revisit", uri, "2024-03-01T00:00:00Z",
          dg(lit("vanished original")), lit("")).as("__r"))
    base.unionByName(dup).unionByName(errRec)
      .unionByName(revisit).unionByName(dangling)
      .select(pmod(col("doc_id"), lit(50)).as("warc_id"),
        col("doc_id"), col("__seq"), col("__r"))
      .groupBy("warc_id")
      .agg(array_join(transform(array_sort(collect_list(
          struct(col("doc_id"), col("__seq"), col("__r")))),
        r => r.getField("__r")), "").as("warc"))
  }

  /** The t73/e53 redirect-fixture records — a 2-hop chain (relative
    * then absolute Location), a 2-cycle loop, a dot-segment relative
    * Location and plain 200 pages, one (doc_id, __seq, __r) row per
    * record. ONE builder so the batch query and the streaming twin
    * shard the IDENTICAL bytes.
    */
  private def t73Pieces(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val id = col("doc_id").cast("string")
    def rec(uri: org.apache.spark.sql.Column, status: String,
        location: org.apache.spark.sql.Column,
        body: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val payload = concat(lit("HTTP/1.1 " + status +
          "\r\nServer: synthetic/1.0\r\n"),
        when(location =!= "",
          concat(lit("Location: "), location, lit("\r\n")))
          .otherwise(lit("")),
        lit("Content-Type: text/html\r\n\r\n"), body)
      concat(lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri, lit("\r\nContent-Length: "),
        octet_length(payload).cast("string"), lit("\r\n\r\n"),
        payload, lit("\r\n\r\n"))
    }
    def u(p: String) = concat(lit("http://example.com" + p), id)
    val m = pmod(col("doc_id"), lit(5))
    def part(mv: Int, seq: Int, r: org.apache.spark.sql.Column) =
      docs.filter(m === mv).select(col("doc_id"), lit(seq).as("__seq"),
        r.as("__r"))
    val none = lit("")
    Seq(
      part(0, 0, rec(u("/doc/"), "200 OK", none, col("text"))),
      part(1, 0, rec(u("/hop0/"), "302 Found",
        concat(lit("/hop1/"), id), lit(""))),
      part(1, 1, rec(u("/hop1/"), "301 Moved Permanently",
        u("/hop2/"), lit(""))),
      part(1, 2, rec(u("/hop2/"), "200 OK", none, col("text"))),
      part(2, 0, rec(u("/loopA/"), "301 Moved Permanently",
        concat(lit("/loopB/"), id), lit(""))),
      part(2, 1, rec(u("/loopB/"), "302 Found",
        concat(lit("/loopA/"), id), lit(""))),
      part(3, 0, rec(u("/a/b/"), "301 Moved Permanently",
        concat(lit("../r/"), id), lit(""))),
      part(4, 0, rec(u("/doc/"), "200 OK", none, col("text"))))
      .reduce(_ unionByName _)
  }

  /** Pack [[t73Pieces]]-shaped rows into per-`warc_id` blobs. Separate
    * from the piece builder so the streaming twin can shard the SAME
    * records by hop position — a chain's hop-0 and hop-1 land in
    * DIFFERENT batches, the cross-shard case the twin exists for.
    */
  private def t73Pack(
      pieces: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pieces
      .select(pmod(col("doc_id"), lit(50)).as("warc_id"),
        col("doc_id"), col("__seq"), col("__r"))
      .groupBy("warc_id")
      .agg(array_join(transform(array_sort(collect_list(
          struct(col("doc_id"), col("__seq"), col("__r")))),
        r => r.getField("__r")), "").as("warc"))

  private def t73Blobs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t73Pack(t73Pieces(docs))

  /** f14's (and e52's) replay: captures restated from fixture math
    * (framing is the byte kernel's job; digests are md5 both engines
    * compute identically); the keep-earliest-response argmin, the
    * capture/revisit counts and the dangling-digest drop replay
    * GENUINELY.
    */
  private def f14OracleSql: String =
    """WITH caps AS (
         SELECT 'md5:' || md5(text) AS dg,
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
                '2024-01-01T00:00:00Z' AS d, text AS body, true AS isresp
         FROM documents
         UNION ALL
         SELECT 'md5:' || md5(text),
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR),
                '2024-02-01T00:00:00Z', text, true
         FROM documents WHERE doc_id % 5 = 0
         UNION ALL
         SELECT 'md5:' || md5('404 page not found'),
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR),
                '2024-01-01T00:00:00Z', '404 page not found', true
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT 'md5:' || md5(text),
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR),
                '2024-03-01T00:00:00Z', '', false
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT 'md5:' || md5('vanished original'),
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR),
                '2024-03-01T00:00:00Z', '', false
         FROM documents WHERE doc_id % 11 = 0),
       win AS (
         SELECT dg, uri, d, body,
                row_number() OVER (PARTITION BY dg
                                   ORDER BY d, uri) AS rn
         FROM caps WHERE isresp),
       cnt AS (SELECT dg, COUNT(*) AS n_captures,
                      COUNT(CASE WHEN NOT isresp THEN 1 END) AS n_revisits
               FROM caps GROUP BY 1)
       SELECT w.dg AS payload_digest, w.uri AS target_uri,
              w.d AS warc_date, c.n_captures, c.n_revisits,
              w.body AS body
       FROM win w JOIN cnt c USING (dg) WHERE w.rn = 1"""

  /** f08's (and f10's) replay: the fixture's ground truth stated
    * relationally — the engine does the real byte framing (and, for
    * f10, the member-wise gzip inflation); the oracle knows what was
    * packed.
    */
  private def f08OracleSql: String =
    """WITH recs AS (
         SELECT doc_id % 50 AS warc_id, doc_id,
                'response' AS warc_type,
                'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
                CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
                text AS body
         FROM documents)
       SELECT warc_id,
              CAST(row_number() OVER (PARTITION BY warc_id
                                      ORDER BY doc_id) - 1 AS INT) AS record_no,
              warc_type, target_uri, content_length, body
       FROM recs"""

  /** f09's replay: the WARC framing ground truth restated from the
    * fixture (as in f08 — framing is the byte kernel's job), then the
    * HTTP-response-layer parse replayed GENUINELY: the same header/body
    * split, status-line, Content-Type and entity regexes
    * [[graft.sources.Warc.httpResponses]] compiles, over the identical
    * reconstructed payload.
    */
  private def f09OracleSql: String =
    """WITH recs AS (
      |  SELECT doc_id % 50 AS warc_id, doc_id,
      |         'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
      |         'HTTP/1.1 ' ||
      |         (CASE WHEN doc_id % 7 = 0 THEN '404 Not Found' ELSE '200 OK' END) ||
      |         chr(13) || chr(10) || 'Server: synthetic/1.0' ||
      |         chr(13) || chr(10) || 'Content-Type: ' ||
      |         (CASE WHEN doc_id % 7 = 1 THEN 'text/plain'
      |               ELSE 'text/html; charset=UTF-8' END) ||
      |         chr(13) || chr(10) || chr(13) || chr(10) || text AS payload
      |  FROM documents),
      |parsed AS (
      |  SELECT warc_id,
      |         CAST(row_number() OVER (PARTITION BY warc_id
      |                                 ORDER BY doc_id) - 1 AS INT) AS record_no,
      |         target_uri,
      |         regexp_extract(payload, '(?s)^(.*?)\r\n\r\n', 1) AS hdr,
      |         payload
      |  FROM recs)
      |SELECT warc_id, record_no, target_uri,
      |       CAST(nullif(regexp_extract(hdr, '^HTTP/[0-9.]+ ([0-9]{3})', 1), '')
      |            AS INT) AS http_status,
      |       lower(trim(regexp_extract(hdr,
      |         '(?i)\r\nContent-Type: *([^;\r\n]+)', 1))) AS mime,
      |       lower(regexp_extract(hdr,
      |         '(?i)charset="?([A-Za-z0-9_.:-]+)', 1)) AS charset,
      |       regexp_extract(payload, '(?s)\r\n\r\n(.*)$', 1) AS http_body
      |FROM parsed""".stripMargin

  /** c34's replay: extraction (the t62 chain) feeding the c07 stage-1
    * gate — language/quality/repetition are re-run over the EXTRACTED
    * text via the source-parameterized CTE builders, so this oracle and
    * c07's can never disagree on the gate arithmetic.
    */
  private def c34OracleSql: String =
    s"""WITH ${htmlBlocksCtes()},
       |$htmlMainCte,
       |exdocs AS (SELECT h.doc_id, h.main_text AS text, d.lang
       |           FROM hmain h JOIN documents d USING (doc_id)),
       |lang AS (${langOverSql("exdocs")}),
       |qual AS (${qualityOverSql("exdocs")}),
       |rep AS (${repetitionOverSql("exdocs")})
       |SELECT e.doc_id, e.text, e.lang, q.quality
       |FROM exdocs e JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |     JOIN rep r USING (doc_id)
       |WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |  AND r.dup_bigram_frac <= 0.05""".stripMargin

  private def c07OracleSql: String =
    s"""WITH $c07Ctes
       |SELECT * FROM kept""".stripMargin

  /** The c07 pipeline's CTE chain ending in
    * `kept(doc_id, quality, score, keep_prob)` — shared verbatim by the
    * c07 gate and the c12 funnel counts so the two can never disagree on
    * a stage's membership.
    */
  private def c07Ctes: String =
    s"""lang AS ($t01LangSql),
       |qual AS ($t02QualitySql),
       |rep AS ($t12RepetitionSql),
       |gated AS (
       |  SELECT d.doc_id, d.text, d.lang, q.quality
       |  FROM documents d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |       JOIN rep r USING (doc_id)
       |  WHERE l.pred_lang = 'en' AND q.quality >= 0.9
       |    AND r.dup_bigram_frac <= 0.05),
       |${contaminationCtes("gated")},
       |decon AS (
       |  SELECT g.* FROM gated g ANTI JOIN contaminated c USING (doc_id)),
       |dedup AS (
       |  SELECT doc_id, text, lang, quality
       |  FROM (SELECT doc_id, text, lang, quality,
       |               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
       |        FROM decon)
       |  QUALIFY row_number() OVER (PARTITION BY md5(n) ORDER BY doc_id) = 1),
       |${t19ScoreCtes("dedup")},
       |fp AS (
       |  SELECT doc_id, $fingerprintOverNormSql AS fp
       |  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
       |        FROM dedup)),
       |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scores),
       |jj AS (
       |  SELECT s.doc_id, s.score,
       |         CASE WHEN mm.hi = mm.lo THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(CAST(s.score AS HUGEINT) - mm.lo AS DOUBLE)
       |                   / CAST(CAST(mm.hi AS HUGEINT) - mm.lo AS DOUBLE) END AS p,
       |         ((fp.fp % 1048576) + 1048576) % 1048576 AS u
       |  FROM scores s JOIN fp USING (doc_id) CROSS JOIN mm),
       |kept AS (
       |  SELECT jj.doc_id, d.quality, jj.score, ROUND(jj.p, 6) + 0.0 AS keep_prob
       |  FROM jj JOIN dedup d USING (doc_id)
       |  WHERE u < CAST(floor(p * CAST(1048576 AS DOUBLE)) AS BIGINT))""".stripMargin

  /** t19's scoring replay as a reusable CTE block (no leading WITH)
    * ending in `scores(doc_id, score)`, over any table exposing
    * (doc_id, lang, text) — t24 composes the resampling step on top of
    * the full corpus; c07 re-scores the curation survivors (importance
    * statistics are corpus-relative, so the filtered corpus re-weighs).
    */
  private def t19ScoreCtes(src: String = "documents"): String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val goldSigned = -7046029254386353131L // 0x9E3779B97F4A7C15 as signed
    s"""toks AS (
       |  SELECT doc_id, lang,
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
       |  FROM $src),
       |h0 AS (SELECT doc_id, lang, list_transform(ts, t ->
       |         list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(t)+1),
       |           i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
       |           (a, c) -> (a * 31 + c) % $U)) AS hs FROM toks),
       |h1 AS (SELECT doc_id, lang, list_transform(hs, h -> ${xorConst("h", goldSigned)}) AS hs FROM h0),
       |h2 AS (SELECT doc_id, lang, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h1),
       |h3 AS (SELECT doc_id, lang, list_transform(hs, h -> ${mulMod("h", C1)}) AS hs FROM h2),
       |h4 AS (SELECT doc_id, lang, list_transform(hs, h -> ${xorShift33("h")}) AS hs FROM h3),
       |h5 AS (SELECT doc_id, lang, list_transform(hs, h -> ${mulMod("h", C2)}) AS hs FROM h4),
       |h6 AS (SELECT doc_id, lang, list_transform(hs, h ->
       |         CAST((${xorShift33("h")}) % 1024 AS INT)) AS bs FROM h5),
       |tokb AS (SELECT doc_id, lang, unnest(bs) AS b FROM h6),
       |stats AS (SELECT b, CAST(count(*) AS HUGEINT) AS s,
       |                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS t
       |          FROM tokb GROUP BY b),
       |tot AS (SELECT CAST(sum(s) AS HUGEINT) AS stot, CAST(sum(t) AS HUGEINT) AS ttot FROM stats),
       |scores AS (
       |  SELECT tokb.doc_id, CAST(SUM(st.t * tot.stot - st.s * tot.ttot) AS BIGINT) AS score
       |  FROM tokb JOIN stats st USING (b) CROSS JOIN tot
       |  GROUP BY tokb.doc_id)""".stripMargin
  }

  private def t19OracleSql: String =
    s"WITH ${t19ScoreCtes()}\nSELECT doc_id, score FROM scores"

  /** t24 oracle: t19's scores min-max-scaled to a keep probability, coin =
    * the t04 rolling-hash fingerprint mod 2^20 — the kept decision
    * compares integers (floor(p·2^20) is exact below 2^53), so no
    * float-boundary flakes.
    */
  /** s14 oracle: replay the engine's deterministic sign-LSH bucketing with
    * the hyperplane values INLINED as double literals (float→double is
    * exact, and `Double.toString` round-trips, so DuckDB parses back the
    * identical doubles), then per-bucket exact cosine + (cosine DESC, id
    * ASC) ranking — the row_number order [[graft.functions.TopKByScore]]
    * reproduces. Both engines accumulate every dot product left-to-right
    * in double (the s03 precedent), so the bucket bits and the ranking
    * compare exactly.
    */
  /** Shared s14/s15/s16 oracle prefix: exact replay of the bucketed kNN
    * graph (hyperplanes inlined as literals), ending with CTEs `r`
    * (ranked candidates) and `edges(src, dst)` (the top-3 graph).
    */
  /** The t16/e08 truth, shared by both map entries on purpose: e08's
    * contract is "drained streaming monitor == the batch t16 report", and
    * the Scala side enforces it with shared code — a second oracle copy
    * could drift and silently decouple the gates.
    */
  private val heavyHittersOracleSql: String =
    """WITH toks AS (
         SELECT unnest(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
         FROM documents),
       counts AS (SELECT token, count(*) AS n FROM toks
                  WHERE length(token) > 0 GROUP BY 1)
       SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS rank,
              token, n
       FROM counts ORDER BY n DESC, token ASC LIMIT 20"""

  /** CASE-sum replay of [[graft.operators.Similarity.signSignature]] over
    * a column named `embedding` (plane values inlined as literals).
    */
  private def bucketExprSql(numPlanes: Int): String =
    (0 until numPlanes).map { i =>
      val plane = graft.operators.Similarity.hyperplane(i, 64)
        .map(f => f.toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $plane) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n           + ")

  private def cosSql(a: String, b: String): String =
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
       |         (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
       |          sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin

  /** g18's entropy-fold replay — shared verbatim by e28 because the
    * streaming drain must equal the batch operator over the full
    * history (the e-series contract).
    */
  private val g18OracleSql: String =
    """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tsn
                     FROM events),
         tr0 AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY tsn, event_id) AS to_type
           FROM ev),
         tr AS (
           SELECT from_type, to_type, COUNT(*) AS n FROM tr0
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, SUM(n) AS tt, COUNT(*) AS k
                 FROM tr GROUP BY 1),
         terms AS (
           SELECT tr.from_type, tot.tt, tot.k,
                  CAST(ROUND((CAST(tr.n AS DOUBLE) / CAST(tot.tt AS DOUBLE)) *
                        ln(CAST(tr.n AS DOUBLE) / CAST(tot.tt AS DOUBLE)), 9)
                    AS DECIMAL(28,9)) AS t
           FROM tr JOIN tot USING (from_type))
         SELECT from_type,
                CAST(MAX(tt) AS BIGINT) AS n_transitions,
                CAST(MAX(k) AS BIGINT) AS n_targets,
                ROUND(CAST(-SUM(t) AS DOUBLE), 6) + 0.0 AS entropy,
                CASE WHEN MAX(k) > 1
                     THEN ROUND(CAST(-SUM(t) AS DOUBLE) /
                            ln(CAST(MAX(k) AS DOUBLE)), 6) + 0.0
                     ELSE NULL END AS norm_entropy
         FROM terms GROUP BY 1"""

  /** m10's full pHash replay: the SAME fixed-point DCT basis spliced as
    * integer literals from [[Multimodal.dctK]] (neither engine trusts
    * its libm cos), identical stretch-sampled pixel stub + brightness
    * variant, identical 63-coefficient median-threshold bits; pairs by
    * brute-force Hamming ≤ 12 — the banded engine plan has recall 1.0 at
    * that radius by pigeonhole, so the sets must match exactly.
    */
  private lazy val m10OracleSql: String = {
    val kLit = graft.operators.Multimodal.dctK
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH kt AS (SELECT $kLit AS kk),
         base AS (
           SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
           FROM documents WHERE text IS NOT NULL),
         px0 AS (
           SELECT doc_id,
                  list_transform(range(0, 1024), i ->
                    unicode(substr(t,
                      CAST((i * length(t)) // 1024 AS INT) + 1, 1)) % 256)
                    AS px
           FROM base WHERE length(t) > 0),
         px AS (
           SELECT doc_id, px FROM px0
           UNION ALL
           SELECT doc_id + 100000,
                  list_transform(px, p -> LEAST(p + 3, 255))
           FROM px0 WHERE doc_id % 5 = 3),
         rd AS (
           SELECT doc_id, kk,
                  list_transform(range(0, 256), j ->
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(0, 32), rr ->
                        CAST(px[CAST(rr * 32 + (j % 32) AS INT) + 1]
                             AS BIGINT)
                        * kk[CAST(j // 32 AS INT) + 1]
                            [CAST(rr AS INT) + 1])),
                      (a, x) -> a + x)) AS r
           FROM px CROSS JOIN kt),
         cf AS (
           SELECT doc_id,
                  list_transform(range(0, 64), tt ->
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(0, 32), cc ->
                        r[CAST((tt // 8) * 32 + cc AS INT) + 1]
                        * kk[CAST(tt % 8 AS INT) + 1]
                            [CAST(cc AS INT) + 1])),
                      (a, x) -> a + x)) AS c
           FROM rd),
         med AS (
           SELECT doc_id, c, list_sort(c[2:64])[32] AS m FROM cf),
         h AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(0, 63), b ->
                      CASE WHEN c[CAST(b AS INT) + 2] > m
                           THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                           ELSE CAST(0 AS BIGINT) END)),
                    (a, x) -> a + x) AS phash
           FROM med)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
                CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 12"""
  }

  /** t51's full unrolled replay: the SAME tokenize/seed counts, the
    * identical quantization (ROUND(ln(c/total)·10⁶) — both engines'
    * round is half-away-from-zero), and each fixed EM round's Viterbi
    * UNROLLED position by position — forward stages carry per-word
    * (bests, backpointers) lists, each stage LEFT-JOINing the previous
    * model on the ≤ maxPieceLen candidate pieces and picking the max
    * (score, pieceLen) struct (ties to the LONGER piece — the kernel's
    * ascending-j strict-> rule); backward stages walk the pointers to
    * emit the path pieces. Integer scores make every argmax exact.
    */
  private lazy val t51OracleSql: String =
    s"""WITH ${unigramCtes(2)}
       |SELECT piece, c AS n_piece, q AS q_logp FROM model2""".stripMargin

  /** t52's replay: the t51 training CTEs + ONE MORE unrolled Viterbi
    * block against the FINAL model (encode segments under model2, while
    * round 2's own segmentation used model1), then every document's
    * token sequence maps through the word→pieces dictionary in position
    * order (backtrack emits pieces back-to-front, hence list_reverse).
    */
  private lazy val t52OracleSql: String =
    s"""WITH ${unigramCtes(2)},
       |${unigramViterbiBlock(3, "model2", 4, 20)},
       |docw AS MATERIALIZED (
       |  SELECT doc_id, pos, ws[CAST(pos AS INT)] AS token
       |  FROM (SELECT doc_id,
       |          string_split(regexp_replace(lower(trim(text)),
       |            '\\s+', ' ', 'g'), ' ') AS ws
       |        FROM documents),
       |       UNNEST(range(1, len(ws) + 1)) AS t(pos)),
       |enc AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(len(pieces)) AS BIGINT) AS np,
       |         flatten(list(list_reverse(pieces) ORDER BY docw.pos))
       |           AS allp
       |  FROM docw JOIN s3_20 ON docw.token = s3_20.word
       |  WHERE docw.token <> '' AND length(docw.token) <= 20
       |  GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(np, CAST(0 AS BIGINT)) AS n_pieces,
       |       COALESCE(array_to_string(list_slice(allp, 1, 8), ' '), '')
       |         AS head_pieces
       |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin

  /** One unrolled Viterbi-EM round (forward DP stages + backtrack +
    * counts + re-quantized model) against `model` — shared by the t51
    * and t52 generators.
    */
  private def unigramModelCte(name: String, cnts: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece, c,
       |         CAST(ROUND(ln(CAST(c AS DOUBLE) /
       |           CAST((SELECT SUM(c) FROM $cnts) AS DOUBLE)) * 1e6, 0)
       |           AS BIGINT) AS q
       |  FROM $cnts)""".stripMargin

  private def unigramViterbiBlock(r: Int, model: String, P: Int,
      L: Int): String = {
    val fwd = (1 to L).map { i =>
      val ts = 1 to math.min(P, i)
      val joins = ts.map(t =>
        s"LEFT JOIN $model m$t ON $i <= length(v.word) AND " +
          s"m$t.piece = substr(v.word, ${i - t + 1}, $t)")
        .mkString("\n  ")
      val cands = ts.map(t =>
        s"CASE WHEN bests[${i - t + 1}] IS NOT NULL AND " +
          s"m$t.q IS NOT NULL THEN " +
          s"struct_pack(c := bests[${i - t + 1}] + m$t.q, t := $t) END")
        .mkString(", ")
      s"""v${r}_$i AS MATERIALIZED (
         |  SELECT v.word, v.n,
         |    list_append(bests, CASE WHEN $i <= length(v.word) THEN
         |      (list_sort(list_filter([$cands], x -> x IS NOT NULL)))[-1].c
         |      END) AS bests,
         |    list_append(bps, CASE WHEN $i <= length(v.word) THEN
         |      $i - (list_sort(list_filter([$cands],
         |        x -> x IS NOT NULL)))[-1].t END) AS bps
         |  FROM v${r}_${i - 1} v
         |  $joins)""".stripMargin
    }.mkString(",\n")
    val back = (1 to L).map { k =>
      s"""s${r}_$k AS MATERIALIZED (
         |  SELECT word, n,
         |    CASE WHEN pos > 0 THEN bps[pos + 1] ELSE pos END AS pos,
         |    bps,
         |    CASE WHEN pos > 0 THEN list_append(pieces,
         |      substr(word, bps[pos + 1] + 1, pos - bps[pos + 1]))
         |      ELSE pieces END AS pieces
         |  FROM s${r}_${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""v${r}_0 AS MATERIALIZED (
       |  SELECT token AS word, n, [CAST(0 AS BIGINT)] AS bests,
       |         [0] AS bps
       |  FROM toks),
       |$fwd,
       |s${r}_0 AS MATERIALIZED (
       |  SELECT word, n,
       |    CASE WHEN bests[length(word) + 1] IS NOT NULL
       |         THEN length(word) ELSE 0 END AS pos,
       |    bps, CAST([] AS VARCHAR[]) AS pieces
       |  FROM v${r}_$L),
       |$back,
       |cnt$r AS MATERIALIZED (
       |  SELECT u.piece, CAST(SUM(n) AS BIGINT) AS c
       |  FROM s${r}_$L, UNNEST(pieces) AS u(piece)
       |  GROUP BY 1),
       |${unigramModelCte(s"model$r", s"cnt$r")}""".stripMargin
  }

  /** The shared t51/t52 training CTE chain (tokenize, substring seed,
    * model0, `rounds` unrolled Viterbi-EM rounds) — callers prepend
    * `WITH` and append their own consumer CTEs / final SELECT.
    */
  private def unigramCtes(rounds: Int): String = {
    val P = 4; val L = 20; val V = 200
    s"""toks AS MATERIALIZED (
       |  SELECT t.token, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT UNNEST(string_split(regexp_replace(lower(trim(text)),
       |          '\\s+', ' ', 'g'), ' ')) AS token FROM documents) t
       |  WHERE t.token <> '' AND length(t.token) <= $L
       |  GROUP BY 1),
       |subs AS MATERIALIZED (
       |  SELECT u.piece, CAST(SUM(n) AS BIGINT) AS c
       |  FROM toks, UNNEST(flatten(list_transform(
       |    range(1, length(token) + 1), i ->
       |      list_transform(range(i, least(i + ${P - 1},
       |          length(token)) + 1), j ->
       |        substr(token, CAST(i AS INT),
       |          CAST(j - i + 1 AS INT)))))) AS u(piece)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, c FROM subs WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c,
       |           row_number() OVER (ORDER BY c DESC, piece ASC) AS rn
       |    FROM subs WHERE length(piece) >= 2) WHERE rn <= $V),
       |${unigramModelCte("model0", "seed")},
       |${(1 to rounds).map(r =>
           unigramViterbiBlock(r, s"model${r - 1}", P, L)).mkString(",\n")}"""
      .stripMargin
  }

  /** v04's categorical EMD replay — present-value |c·N − g·n| terms in
    * HUGEINT, the absent-value mass folded in algebraically, one final
    * division. Shared verbatim by e31 because the streaming monitor's
    * drained report must equal the batch audit over everything streamed
    * (the e-series contract).
    */
  private val v04OracleSql: String =
    """WITH ev AS (
           SELECT event_type,
                  (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
                  CAST(FLOOR(value / 10.0) AS BIGINT) AS value_bucket
           FROM events),
         g AS (SELECT event_type AS v, CAST(COUNT(*) AS BIGINT) AS gc
               FROM ev GROUP BY 1),
         tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gt FROM g),
         cv AS (SELECT hour_of_day, value_bucket, event_type AS v,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM ev GROUP BY 1, 2, 3),
         cn AS (SELECT hour_of_day, value_bucket, CAST(SUM(c) AS BIGINT) AS n
                FROM cv GROUP BY 1, 2),
         s AS (SELECT cv.hour_of_day, cv.value_bucket, cn.n, tot.gt,
                      SUM(ABS(CAST(cv.c AS HUGEINT) * tot.gt -
                              CAST(g.gc AS HUGEINT) * cn.n)) AS s1,
                      CAST(SUM(g.gc) AS BIGINT) AS s2
               FROM cv JOIN g USING (v)
                       JOIN cn USING (hour_of_day, value_bucket)
                       CROSS JOIN tot
               GROUP BY 1, 2, 3, 4)
         SELECT hour_of_day, value_bucket, n AS n_rows,
                ROUND(CAST(s1 + CAST(gt - s2 AS HUGEINT) * n AS DOUBLE) /
                      CAST(CAST(n AS HUGEINT) * gt * 2 AS DOUBLE), 9) + 0.0
                  AS emd,
                CAST(s1 + CAST(gt - s2 AS HUGEINT) * n AS DOUBLE) /
                CAST(CAST(n AS HUGEINT) * gt * 2 AS DOUBLE) <= 0.2 AS t_close
         FROM s"""

  /** v05's ordered EMD replay — per-class cumulative sums over the
    * m-value global grid, HUGEINT terms, one final division by
    * n·N·(m−1). Shared verbatim by e32 (the streaming monitor's drained
    * report must equal the batch audit — the e-series contract).
    */
  private val v05OracleSql: String =
    """WITH ev AS (
           SELECT event_type,
                  (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
                  CAST(FLOOR(value / 10.0) AS BIGINT) AS value_bucket
           FROM events),
         g AS (SELECT value_bucket AS v, CAST(COUNT(*) AS BIGINT) AS gc
               FROM ev GROUP BY 1),
         tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gt,
                        CAST(COUNT(*) AS BIGINT) AS m FROM g),
         cv AS (SELECT event_type, hour_of_day, value_bucket AS v,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM ev GROUP BY 1, 2, 3),
         cn AS (SELECT event_type, hour_of_day, CAST(SUM(c) AS BIGINT) AS n
                FROM cv GROUP BY 1, 2),
         grid AS (SELECT cn.event_type, cn.hour_of_day, cn.n, g.v, g.gc,
                         COALESCE(cv.c, 0) AS c
                  FROM cn CROSS JOIN g
                  LEFT JOIN cv ON cv.event_type = cn.event_type
                              AND cv.hour_of_day = cn.hour_of_day
                              AND cv.v = g.v),
         cum AS (SELECT event_type, hour_of_day, n,
                        SUM(c) OVER (PARTITION BY event_type, hour_of_day
                                     ORDER BY v) AS cc,
                        SUM(gc) OVER (PARTITION BY event_type, hour_of_day
                                      ORDER BY v) AS cg
                 FROM grid),
         s AS (SELECT event_type, hour_of_day, n, tot.gt, tot.m,
                      SUM(ABS(CAST(cc AS HUGEINT) * tot.gt -
                              CAST(cg AS HUGEINT) * n)) AS s1
               FROM cum CROSS JOIN tot
               GROUP BY 1, 2, 3, 4, 5)
         SELECT event_type, hour_of_day, n AS n_rows,
                CASE WHEN m > 1
                  THEN ROUND(CAST(s1 AS DOUBLE) /
                             CAST(CAST(n AS HUGEINT) * gt * (m - 1)
                                  AS DOUBLE), 9) + 0.0
                  ELSE 0.0 END AS emd,
                CASE WHEN m > 1
                  THEN CAST(s1 AS DOUBLE) /
                       CAST(CAST(n AS HUGEINT) * gt * (m - 1) AS DOUBLE)
                         <= 0.15
                  ELSE TRUE END AS t_close
         FROM s"""

  /** c03's CDC-merge replay — latest change per key by (ver, event_id),
    * delete drops the key, update/insert takes the change payload.
    * Shared verbatim by e36 (the streaming merge-on-read snapshot must
    * equal the batch operator over everything streamed — the e-series
    * contract).
    */
  private val c03OracleSql: String =
    """WITH ch AS (
           SELECT user_id AS c_custkey,
                  'upd_' || CAST(event_id AS VARCHAR) AS c_name,
                  value AS c_acctbal,
                  epoch_ns(ts) AS ver, event_id,
                  CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM events),
         latest AS (
           SELECT c_custkey, c_name, c_acctbal, op FROM (
             SELECT *, row_number() OVER (PARTITION BY c_custkey
                         ORDER BY ver DESC, event_id DESC) AS rn
             FROM ch) t WHERE rn = 1)
         SELECT c_custkey,
                CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE c.c_name END AS c_name,
                CASE WHEN l.op IS NOT NULL THEN l.c_acctbal ELSE c.c_acctbal END AS c_acctbal
         FROM customer c FULL JOIN latest l USING (c_custkey)
         WHERE l.op IS NULL OR l.op <> 'D'"""

  /** m12's clip-alignment replay — fixed-grid frame digests (md5 over
    * the hex image, 32 hex chars per 16-byte frame) + the offset
    * histogram / row_number best-alignment pick. Shared verbatim by e37
    * (drained pairs must equal the batch operator — the e-series
    * contract).
    */
  private val m12OracleSql: String =
    """WITH media AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx FROM documents
           UNION ALL
           SELECT doc_id + 1000000, hex(encode(substr(text, 33)))
           FROM documents
           WHERE doc_id % 25 = 0 AND length(text) >= 80
             AND strlen(text) = length(text)),
         sized AS (
           SELECT media_id, hx, length(hx) // 32 AS nf
           FROM media WHERE length(hx) >= 32),
         fr AS (
           SELECT media_id, u.f.fn AS frame_no, u.f.d AS d
           FROM sized, UNNEST(list_transform(range(0, nf), i ->
             struct_pack(fn := i,
               d := md5(substr(hx, CAST(i * 32 + 1 AS INT), 32))))) AS u(f)),
         hist AS (
           SELECT a.media_id AS idA, b2.media_id AS idB,
                  b2.frame_no - a.frame_no AS f_offset,
                  CAST(COUNT(*) AS BIGINT) AS n_aligned
           FROM fr a JOIN fr b2 ON a.d = b2.d AND a.media_id < b2.media_id
           GROUP BY 1, 2, 3),
         best AS (
           SELECT idA, idB, f_offset, n_aligned,
                  row_number() OVER (PARTITION BY idA, idB
                                     ORDER BY n_aligned DESC, f_offset ASC)
                    AS rn
           FROM hist)
         SELECT idA, idB, f_offset, n_aligned
         FROM best WHERE rn = 1 AND n_aligned >= 3"""

  /** m11's constellation replay — identical window energies, strict
    * interior peaks, packed landmark hashes, offset histogram +
    * best-alignment pick. Shared verbatim by e34 (the streaming
    * monitor's drained pairs must equal the batch operator — the
    * e-series contract).
    */
  private val m11OracleSql: String =
    """WITH media AS (
           SELECT doc_id AS media_id, text AS t FROM documents
           UNION ALL
           SELECT doc_id + 1000000, repeat('P', 32) || text
           FROM documents WHERE doc_id % 25 = 0),
         pos AS (
           SELECT media_id, t, UNNEST(range(1, length(t) + 1)) AS i
           FROM media),
         en AS (
           SELECT media_id, CAST((i - 1) // 16 AS INT) AS wno,
                  CAST(SUM(unicode(substr(t, CAST(i AS INT), 1)))
                    AS BIGINT) AS e
           FROM pos GROUP BY 1, 2),
         ea AS (SELECT media_id, list(e ORDER BY wno) AS es
                FROM en GROUP BY 1),
         pk AS (
           SELECT media_id, es,
                  list_filter(range(2, len(es)), p ->
                    es[p] > es[p - 1] AND es[p] > es[p + 1]) AS ps
           FROM ea),
         fp AS (
           -- (peak j, fan k) flattened onto one index q (j = q//3 + 1,
           -- k = q%3 + 1): a single-level lambda — the nested
           -- transform-inside-filter capture of j fails to bind here
           SELECT media_id, u.fp.h AS h, u.fp.a AS a
           FROM pk, UNNEST(list_filter(
             list_transform(range(0, len(ps) * 3), q ->
               CASE WHEN (q // 3 + 1) + (q % 3 + 1) <= len(ps)
                     AND ps[CAST(q // 3 + 1 + q % 3 + 1 AS INT)]
                       - ps[CAST(q // 3 + 1 AS INT)] <= 16
                    THEN struct_pack(
                      h := es[ps[CAST(q // 3 + 1 AS INT)]] * 268435456
                         + es[ps[CAST(q // 3 + 1 + q % 3 + 1 AS INT)]]
                           * 16384
                         + (ps[CAST(q // 3 + 1 + q % 3 + 1 AS INT)]
                            - ps[CAST(q // 3 + 1 AS INT)]),
                      a := ps[CAST(q // 3 + 1 AS INT)] - 1) END),
             x -> x IS NOT NULL)) AS u(fp)),
         m AS (
           SELECT a.media_id AS idA, b.media_id AS idB,
                  b.a - a.a AS t_offset, CAST(COUNT(*) AS BIGINT) AS n
           FROM fp a JOIN fp b ON a.h = b.h AND a.media_id < b.media_id
           GROUP BY 1, 2, 3),
         best AS (
           SELECT idA, idB, t_offset, n,
                  row_number() OVER (PARTITION BY idA, idB
                                     ORDER BY n DESC, t_offset ASC) AS rn
           FROM m)
         SELECT idA, idB, t_offset, n AS n_aligned
         FROM best WHERE rn = 1 AND n >= 3"""

  /** g20's absorbing-chain replay — shared verbatim by e30 because
    * the streaming drain must equal the batch operator over the full
    * history (the e-series contract).
    */
  private val g20OracleSql: String =
    """WITH RECURSIVE ev AS (
           SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts,
                  event_id AS o
           FROM events
           WHERE event_type IN ('click', 'view', 'signup', 'purchase')),
         ck AS (
           SELECT u, ts AS cts, o AS co FROM (
             SELECT u, ts, o,
                    row_number() OVER (PARTITION BY u ORDER BY ts, o) AS rn
             FROM ev WHERE t = 'purchase') WHERE rn = 1),
         tch AS (
           SELECT ev.u, ev.t, ev.ts, ev.o, ck.cts IS NOT NULL AS conv
           FROM ev LEFT JOIN ck USING (u)
           WHERE ev.t <> 'purchase'
             AND (ck.cts IS NULL OR ev.ts < ck.cts
                  OR (ev.ts = ck.cts AND ev.o < ck.co))),
         sq AS (
           SELECT u, t, conv,
                  row_number() OVER (PARTITION BY u ORDER BY ts, o) AS rn,
                  lead(t) OVER (PARTITION BY u ORDER BY ts, o) AS nxt
           FROM tch),
         edges AS (
           SELECT '__START__' AS f, t AS tt FROM sq WHERE rn = 1
           UNION ALL
           SELECT t, nxt FROM sq WHERE nxt IS NOT NULL
           UNION ALL
           SELECT t, CASE WHEN conv THEN '__CONV__' ELSE '__NULL__' END
           FROM sq WHERE nxt IS NULL
           UNION ALL
           SELECT '__START__', '__CONV__' FROM ck
           WHERE u NOT IN (SELECT DISTINCT u FROM tch)),
         cnt AS (SELECT f, tt, CAST(COUNT(*) AS BIGINT) AS n
                 FROM edges GROUP BY 1, 2),
         tot AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tot
                 FROM cnt GROUP BY 1),
         q AS (SELECT cnt.f, cnt.tt,
                      ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 12) + 0.0
                        AS p12
               FROM cnt JOIN tot USING (f)),
         removals(removed) AS (
           VALUES (''), ('click'), ('view'), ('signup')),
         qr AS (
           SELECT removed, f, tt, p12 FROM removals, q WHERE f <> removed
           UNION ALL
           SELECT removed, s, s, CAST(1.0 AS DOUBLE)
           FROM removals, (VALUES ('__CONV__'), ('__NULL__')) a(s)),
         states AS (SELECT DISTINCT removed, f AS st FROM qr),
         it(removed, k, st, p) AS (
           SELECT removed, 0, st,
                  CAST(CASE WHEN st = '__CONV__' THEN 1.0 ELSE 0.0 END
                    AS DOUBLE)
           FROM states
           UNION ALL
           SELECT it.removed, it.k + 1, qr.f,
                  CAST(SUM(CAST(ROUND(qr.p12 * it.p, 12)
                    AS DECIMAL(28,12))) AS DOUBLE)
           FROM it JOIN qr
             ON qr.removed = it.removed AND qr.tt = it.st
           WHERE it.k < 60
           GROUP BY 1, 2, 3),
         fin AS (SELECT removed, p FROM it
                 WHERE k = 60 AND st = '__START__'),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nconv FROM ck),
         chans(channel) AS (VALUES ('click'), ('view'), ('signup')),
         drops AS (
           SELECT c.channel, b.p AS pb, r.p AS pc,
                  CAST(b.p AS DECIMAL(28,12)) -
                    CAST(r.p AS DECIMAL(28,12)) AS d
           FROM chans c
           JOIN fin r ON r.removed = c.channel
           JOIN fin b ON b.removed = ''),
         sd AS (SELECT SUM(CAST(d AS DECIMAL(28,12))) AS sd FROM drops)
         SELECT channel, ROUND(pb, 6) + 0.0 AS p_base,
                ROUND(pc, 6) + 0.0 AS p_removed,
                CASE WHEN pb > 0
                     THEN ROUND(1.0 - pc / pb, 6) + 0.0 END
                  AS removal_effect,
                CASE WHEN pb > 0 AND CAST(sd AS DOUBLE) > 0
                     THEN ROUND(CAST(d AS DOUBLE) / CAST(sd AS DOUBLE), 6)
                          + 0.0 END AS share,
                CASE WHEN pb > 0 AND CAST(sd AS DOUBLE) > 0
                     THEN ROUND(CAST(d AS DOUBLE) / CAST(sd AS DOUBLE) *
                            CAST(nconv AS DOUBLE), 6) + 0.0 END
                  AS attributed_conversions
         FROM drops, sd, nc"""

  /** b02's full-formula Okapi replay — shared verbatim by e27 because
    * the streaming drain must equal the batch operator over the full
    * history (the e-series contract), and as the lexical leg of b03's
    * fusion (same CTE block, deeper rank cut).
    */
  private val bm25RankCtes: String =
    """WITH aug AS (
           SELECT doc_id,
                  text || ' tok' || CAST(doc_id % 50 AS VARCHAR) AS text
           FROM documents),
         toks AS (
           SELECT doc_id,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM aug),
         tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
         st AS (SELECT COUNT(*) AS n,
                       CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
                FROM dl),
         dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         qt AS (
           SELECT DISTINCT query_id, token FROM (
             SELECT doc_id AS query_id,
                    unnest(list_append(
                      list_slice(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), 2, 3),
                      'tok' || CAST(doc_id % 50 AS VARCHAR))) AS token
             FROM aug WHERE doc_id % 40 = 7)
           WHERE length(token) > 0),
         term AS (
           SELECT qt.query_id, tf.doc_id,
                  CAST(ROUND(ln(1.0 + (CAST(st.n - dfq.df AS DOUBLE) + 0.5) /
                          (CAST(dfq.df AS DOUBLE) + 0.5)) *
                        ((CAST(tf.tf AS DOUBLE) * 2.5) /
                         (CAST(tf.tf AS DOUBLE) + 1.5 *
                          (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))), 9)
                    AS DECIMAL(28, 9)) AS s
           FROM qt JOIN dfq USING (token) JOIN tf USING (token)
                JOIN dl ON tf.doc_id = dl.doc_id, st
           WHERE CAST(dfq.df AS DOUBLE) <= 0.5 * CAST(st.n AS DOUBLE)),
         agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS sd
                 FROM term GROUP BY 1, 2),
         rk AS (SELECT query_id, doc_id, sd,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sd DESC, doc_id) AS rank
                FROM agg)"""

  private val b02OracleSql: String =
    bm25RankCtes +
      """
         SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
                ROUND(sd, 6) + 0.0 AS score
         FROM rk WHERE rank <= 5"""

  /** b03: the b02 lexical CTEs (rank cut 10) unioned with the s01-shape
    * dense cosine leg (self-matches excluded, rank cut 10), each
    * candidate scored ROUND(1/(60+rank), 9) and summed as DECIMAL —
    * replaying [[graft.operators.Similarity.rrfFuse]]'s exact
    * round-then-decimal-sum arithmetic so the fused score is
    * addend-order-free in both engines.
    */
  private val b03OracleSql: String =
    bm25RankCtes +
      """,
         vq AS (SELECT vec_id AS query_id, embedding
                FROM embeddings WHERE vec_id % 40 = 7),
         vp AS (
           SELECT q.query_id, c.vec_id AS doc_id,
                  list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
           FROM embeddings c CROSS JOIN vq q
           WHERE c.vec_id <> q.query_id),
         vr AS (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, doc_id ASC) AS rank
           FROM vp WHERE cosine IS NOT NULL),
         legs AS (
           SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10
           UNION ALL
           SELECT query_id, doc_id, rank FROM vr WHERE rank <= 10),
         fused AS (
           SELECT query_id, doc_id,
                  CAST(SUM(CAST(ROUND(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9)
                    AS DECIMAL(28, 9))) AS DOUBLE) AS s
           FROM legs GROUP BY 1, 2),
         fr AS (
           SELECT query_id, doc_id, s,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, doc_id ASC) AS rank
           FROM fused)
         SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
                ROUND(s, 6) + 0.0 AS rrf
         FROM fr WHERE rank <= 5"""

  /** b04: the b02 ranking CTEs cut at 10, joined to the derivable qrels
    * (grade 2 self, grade 1 same rare token), then the metric tail —
    * round-9 DECIMAL per-rank DCG terms (natural-log discount: the
    * 1/ln 2 constant cancels in the nDCG ratio), per-query
    * rr/recall/ndcg round-9, pooled means round-6.
    */
  private val b04OracleSql: String =
    bm25RankCtes +
      """,
         qp AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 40 = 7),
         qr AS (
           SELECT q.query_id, d.doc_id,
                  CASE WHEN d.doc_id = q.query_id THEN 2 ELSE 1 END AS grade
           FROM documents d JOIN qp q ON d.doc_id % 50 = q.query_id % 50),
         hits AS (
           SELECT r.query_id, r.rank, qr.grade
           FROM rk r JOIN qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
           WHERE r.rank <= 10),
         pq AS (
           SELECT query_id,
                  SUM(CAST(ROUND((pow(2.0, CAST(grade AS DOUBLE)) - 1.0) /
                        ln(CAST(rank AS DOUBLE) + 1.0), 9) AS DECIMAL(28,9))) AS dcg,
                  MIN(rank) AS frst,
                  CAST(COUNT(*) AS BIGINT) AS found
           FROM hits GROUP BY 1),
         ideal AS (
           SELECT query_id,
                  SUM(CASE WHEN ir <= 10 THEN
                        CAST(ROUND((pow(2.0, CAST(grade AS DOUBLE)) - 1.0) /
                          ln(CAST(ir AS DOUBLE) + 1.0), 9) AS DECIMAL(28,9))
                      ELSE CAST(0 AS DECIMAL(28,9)) END) AS idcg,
                  CAST(COUNT(*) AS BIGINT) AS nrel
           FROM (SELECT query_id, grade, doc_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY grade DESC, doc_id ASC) AS ir
                 FROM qr)
           GROUP BY 1),
         perq AS (
           SELECT i.query_id,
                  COALESCE(CAST(ROUND(1.0 / CAST(p.frst AS DOUBLE), 9)
                    AS DECIMAL(28,9)), CAST(0 AS DECIMAL(28,9))) AS rr,
                  CAST(ROUND(CAST(COALESCE(p.found, 0) AS DOUBLE) /
                    CAST(i.nrel AS DOUBLE), 9) AS DECIMAL(28,9)) AS recall,
                  CAST(ROUND(CAST(COALESCE(p.dcg, CAST(0 AS DECIMAL(28,9))) AS DOUBLE) /
                    CAST(i.idcg AS DOUBLE), 9) AS DECIMAL(28,9)) AS ndcg
           FROM ideal i LEFT JOIN pq p USING (query_id))
         SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                ROUND(CAST(SUM(rr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mrr,
                ROUND(CAST(SUM(recall) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS recall_at_k,
                ROUND(CAST(SUM(ndcg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS ndcg
         FROM perq"""

  /** t53: add-one-smoothed multinomial NB model replay — counts are
    * exact integers, logp = round-9 ln over integer ratios (ln is
    * IEEE-identical across engines; the round-9-then-round-6 double
    * rounding mirrors the engine's model-precision-then-display chain).
    */
  private val t53OracleSql: String =
    """WITH aug AS (SELECT lang, text || ' mk' || lang AS text FROM documents),
         tk AS (SELECT lang, token FROM (
                  SELECT lang,
                         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
                  FROM aug)
                WHERE length(token) > 0),
         cnt AS (SELECT lang, token, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
         tot AS (SELECT lang, SUM(cnt) AS nc FROM cnt GROUP BY 1),
         voc AS (SELECT COUNT(DISTINCT token) AS v FROM cnt)
         SELECT c.lang, c.token, c.cnt,
                ROUND(ROUND(ln((CAST(c.cnt AS DOUBLE) + 1.0) /
                  CAST(t.nc + voc.v AS DOUBLE)), 9) + 0.0, 6) + 0.0 AS logp
         FROM cnt c JOIN tot t USING (lang), voc"""

  /** The NB train-then-classify CTE chain (through `scored`/`best`) —
    * model terms and priors round-9 → DECIMAL(28,9) sums
    * (addend-order-free in both engines), unseen tokens fall back to the
    * per-class smoothing floor. `marker` plants the per-lang ' mkLANG'
    * token (t54's separable fixture); without it the classifier runs on
    * the shared vocabulary alone (t55's honest-confusion fixture).
    */
  private def nbClassifyCtes(marker: Boolean): String = {
    val augText = if (marker) "text || ' mk' || lang" else "text"
    "WITH aug AS (SELECT doc_id, lang, " + augText +
      """ AS text FROM documents),
         tr AS (SELECT * FROM aug WHERE doc_id % 7 <> 3),
         te AS (SELECT * FROM aug WHERE doc_id % 7 = 3),
         tk AS (SELECT lang, token FROM (
                  SELECT lang,
                         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
                  FROM tr)
                WHERE length(token) > 0),
         cnt AS (SELECT lang, token, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
         tot AS (SELECT lang, SUM(cnt) AS nc FROM cnt GROUP BY 1),
         voc AS (SELECT COUNT(DISTINCT token) AS v FROM cnt),
         model AS (
           SELECT c.lang, c.token,
                  ROUND(ln((CAST(c.cnt AS DOUBLE) + 1.0) /
                    CAST(t.nc + voc.v AS DOUBLE)), 9) + 0.0 AS logp
           FROM cnt c JOIN tot t USING (lang), voc),
         cls AS (SELECT lang, COUNT(*) AS docs FROM tr GROUP BY 1),
         pri AS (
           SELECT lang, CAST(ROUND(ln(CAST(docs AS DOUBLE) /
                    CAST(td.tot AS DOUBLE)), 9) AS DECIMAL(28, 9)) AS prior
           FROM cls, (SELECT SUM(docs) AS tot FROM cls) td),
         fb AS (
           SELECT c.lang, ln(1.0 / CAST(COALESCE(t.nc, 0) + voc.v AS DOUBLE)) AS fb
           FROM cls c LEFT JOIN tot t USING (lang), voc),
         qtk AS (
           SELECT doc_id, token, COUNT(*) AS tc FROM (
             SELECT doc_id,
                    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
             FROM te)
           WHERE length(token) > 0 GROUP BY 1, 2),
         terms AS (
           SELECT q.doc_id, f.lang,
                  CAST(ROUND(CAST(q.tc AS DOUBLE) * COALESCE(m.logp, f.fb), 9)
                    AS DECIMAL(28, 9)) AS term
           FROM qtk q CROSS JOIN fb f
           LEFT JOIN model m ON m.lang = f.lang AND m.token = q.token),
         sums AS (SELECT doc_id, lang, SUM(term) AS ll FROM terms GROUP BY 1, 2),
         base AS (SELECT d.doc_id, p.lang, p.prior
                  FROM (SELECT DISTINCT doc_id FROM te) d CROSS JOIN pri p),
         scored AS (
           SELECT b.doc_id, b.lang,
                  b.prior + COALESCE(s.ll, CAST(0 AS DECIMAL(28, 9))) AS score
           FROM base b LEFT JOIN sums s
             ON s.doc_id = b.doc_id AND s.lang = b.lang),
         best AS (SELECT doc_id, MAX(score) AS score FROM scored GROUP BY 1)"""
  }

  private val t54OracleSql: String =
    nbClassifyCtes(marker = true) +
      """
         SELECT s.doc_id, MIN(s.lang) AS predicted,
                ROUND(CAST(s.score AS DOUBLE), 6) + 0.0 AS score
         FROM scored s JOIN best b
           ON b.doc_id = s.doc_id AND b.score = s.score
         GROUP BY s.doc_id, s.score"""

  /** t55: the marker-FREE t54 classify replayed, then per-class
    * precision/recall/F1 from the |classes|²-bounded confusion table —
    * tp/fp/fn exact integers, each metric one integer-ratio division
    * (IEEE-identical), F1 over the two unrounded ratios.
    */
  private val t55OracleSql: String =
    nbClassifyCtes(marker = false) +
      """,
         pred AS (
           SELECT s.doc_id, MIN(s.lang) AS predicted
           FROM scored s JOIN best b
             ON b.doc_id = s.doc_id AND b.score = s.score
           GROUP BY s.doc_id, s.score),
         ev AS (SELECT te.lang AS truth, p.predicted
                FROM te JOIN pred p USING (doc_id)),
         cont AS (SELECT truth, predicted, COUNT(*) AS n
                  FROM ev GROUP BY 1, 2),
         labels AS (SELECT truth AS label FROM cont
                    UNION SELECT predicted FROM cont),
         diag AS (SELECT truth AS label, n AS tp FROM cont
                  WHERE truth = predicted),
         pt AS (SELECT predicted AS label, CAST(SUM(n) AS BIGINT) AS predn
                FROM cont GROUP BY 1),
         tt AS (SELECT truth AS label, CAST(SUM(n) AS BIGINT) AS truthn
                FROM cont GROUP BY 1)
         SELECT c.label,
                COALESCE(d.tp, 0) AS tp,
                COALESCE(p.predn, 0) - COALESCE(d.tp, 0) AS fp,
                COALESCE(t.truthn, 0) - COALESCE(d.tp, 0) AS fn,
                CASE WHEN p.predn > 0 THEN
                  ROUND(CAST(COALESCE(d.tp, 0) AS DOUBLE) /
                    CAST(p.predn AS DOUBLE), 6) + 0.0 END AS precision,
                CASE WHEN t.truthn > 0 THEN
                  ROUND(CAST(COALESCE(d.tp, 0) AS DOUBLE) /
                    CAST(t.truthn AS DOUBLE), 6) + 0.0 END AS recall,
                CASE WHEN p.predn > 0 AND t.truthn > 0 AND
                     (CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(p.predn AS DOUBLE)
                      + CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(t.truthn AS DOUBLE)) > 0
                  THEN ROUND(
                    2.0 * (CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(p.predn AS DOUBLE))
                        * (CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(t.truthn AS DOUBLE))
                    / (CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(p.predn AS DOUBLE)
                       + CAST(COALESCE(d.tp, 0) AS DOUBLE) / CAST(t.truthn AS DOUBLE)), 6)
                  + 0.0 END AS f1
         FROM labels c
         LEFT JOIN diag d USING (label)
         LEFT JOIN pt p USING (label)
         LEFT JOIN tt t USING (label)"""

  /** t58's replay: the t53/t54 CTE chain with `f` (the fold) carried as
    * one more key everywhere — leave-out counts by the global − fold
    * subtraction, per-fold smoothing/priors/floors, each doc scored
    * under its own fold's model, MIN-label ties, per-fold + pooled
    * accuracy rows.
    */
  /** v12's replay — the v11 bounded-token derivation keyed by
    * (label, token), the same seeded Laplace(30/ε) draw per coordinate
    * (key = seed‖label‖token through chr(31)), threshold on the RAW
    * noisy value, then the post-processing model tail over released
    * values only. Shared verbatim by e42 (drained == batch contract).
    */
  private lazy val v12OracleSql: String =
    """WITH aug AS (
           SELECT lang, text || ' mk' || lang AS text FROM documents),
         dt AS (
           SELECT lang,
                  UNNEST(list_slice(list_sort(list_filter(list_distinct(
                    string_split(regexp_replace(lower(trim(text)),
                      '\s+', ' ', 'g'), ' ')), x -> x <> '')), 1, 30))
                  AS token
           FROM aug),
         c AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
               FROM dt GROUP BY 1, 2),
         h AS (SELECT lang, token, n,
                      md5('v12:' || chr(31) || lang || chr(31) || token)
                        AS ks FROM c),
         u AS (
           SELECT lang, token, n,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ks)+1),
                           i -> CAST(unicode(substr(ks, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS u
           FROM h),
         z AS (
           SELECT lang, token,
                  CAST(n AS DOUBLE) + (-6.0) * sign(u - 0.5) *
                  ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) AS nz
           FROM u),
         rel AS (
           SELECT lang, token, CAST(ROUND(nz, 6) AS DECIMAL(28, 6)) AS r
           FROM z WHERE nz >= 10.0),
         tot AS (SELECT lang, SUM(r) AS nc FROM rel GROUP BY 1),
         voc AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM rel)
         SELECT rel.lang, rel.token, CAST(5.0 AS DOUBLE) AS epsilon,
                CAST(rel.r AS DOUBLE) AS released,
                ROUND(ln((CAST(rel.r AS DOUBLE) + 1.0) /
                  (CAST(tot.nc AS DOUBLE) + CAST(voc.v AS DOUBLE))), 9) + 0.0
                  AS logp
         FROM rel JOIN tot USING (lang), voc"""

  private lazy val t58OracleSql: String =
    """WITH base AS (
         SELECT doc_id, doc_id % 5 AS f, lang, text FROM documents),
       fc AS MATERIALIZED (
         SELECT f, lang, token, CAST(COUNT(*) AS BIGINT) AS cf FROM (
           SELECT f, lang,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM base)
         WHERE length(token) > 0 GROUP BY 1, 2, 3),
       gc AS (SELECT lang, token, SUM(cf) AS c FROM fc GROUP BY 1, 2),
       folds AS (SELECT DISTINCT f FROM fc),
       lo AS MATERIALIZED (
         SELECT fo.f, g.lang, g.token, g.c - COALESCE(fc.cf, 0) AS cnt
         FROM gc g CROSS JOIN folds fo
         LEFT JOIN fc ON fc.f = fo.f AND fc.lang = g.lang AND fc.token = g.token
         WHERE g.c - COALESCE(fc.cf, 0) > 0),
       tot AS (SELECT f, lang, SUM(cnt) AS nc FROM lo GROUP BY 1, 2),
       voc AS (SELECT f, COUNT(DISTINCT token) AS v FROM lo GROUP BY 1),
       model AS (
         SELECT l.f, l.lang, l.token,
                ROUND(ln((CAST(l.cnt AS DOUBLE) + 1.0) /
                  CAST(t.nc + v.v AS DOUBLE)), 9) + 0.0 AS logp
         FROM lo l JOIN tot t USING (f, lang) JOIN voc v USING (f)),
       fd AS (SELECT f, lang, CAST(COUNT(*) AS BIGINT) AS df
              FROM base GROUP BY 1, 2),
       gd AS (SELECT lang, SUM(df) AS d FROM fd GROUP BY 1),
       lod AS (
         SELECT fo.f, g.lang, g.d - COALESCE(fd.df, 0) AS docs
         FROM gd g CROSS JOIN folds fo
         LEFT JOIN fd ON fd.f = fo.f AND fd.lang = g.lang
         WHERE g.d - COALESCE(fd.df, 0) > 0),
       lot AS (SELECT f, SUM(docs) AS tot FROM lod GROUP BY 1),
       pri AS (
         SELECT d.f, d.lang,
                CAST(ROUND(ln(CAST(d.docs AS DOUBLE) / CAST(t.tot AS DOUBLE)), 9)
                     AS DECIMAL(28, 9)) AS prior
         FROM lod d JOIN lot t USING (f)),
       fb AS (
         SELECT d.f, d.lang,
                ln(1.0 / CAST(COALESCE(t.nc, 0) + v.v AS DOUBLE)) AS fb
         FROM lod d
         LEFT JOIN tot t ON t.f = d.f AND t.lang = d.lang
         JOIN voc v ON v.f = d.f),
       qtk AS MATERIALIZED (
         SELECT doc_id, f, token, CAST(COUNT(*) AS BIGINT) AS tc FROM (
           SELECT doc_id, f,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM base)
         WHERE length(token) > 0 GROUP BY 1, 2, 3),
       terms AS (
         SELECT q.doc_id, q.f, b.lang,
                CAST(ROUND(CAST(q.tc AS DOUBLE) * COALESCE(m.logp, b.fb), 9)
                     AS DECIMAL(28, 9)) AS term
         FROM qtk q JOIN fb b ON b.f = q.f
         LEFT JOIN model m ON m.f = q.f AND m.lang = b.lang AND m.token = q.token),
       sums AS (SELECT doc_id, f, lang, SUM(term) AS ll
                FROM terms GROUP BY 1, 2, 3),
       bse AS (
         SELECT b.doc_id, b.f, b.truth, p.lang, p.prior
         FROM (SELECT DISTINCT doc_id, f, lang AS truth FROM base) b
         JOIN pri p USING (f)),
       scored AS (
         SELECT b.doc_id, b.f, b.truth, b.lang,
                b.prior + COALESCE(s.ll, CAST(0 AS DECIMAL(28, 9))) AS score
         FROM bse b LEFT JOIN sums s
           ON s.doc_id = b.doc_id AND s.f = b.f AND s.lang = b.lang),
       bst AS (SELECT doc_id, f, truth, MAX(score) AS score
               FROM scored GROUP BY 1, 2, 3),
       pred AS (
         SELECT s.doc_id, s.f, s.truth, MIN(s.lang) AS pred
         FROM scored s JOIN bst b
           ON b.doc_id = s.doc_id AND b.f = s.f AND b.score = s.score
         GROUP BY s.doc_id, s.f, s.truth, s.score),
       pf AS (
         SELECT f AS fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_correct
         FROM pred GROUP BY 1),
       allr AS (
         SELECT CAST(-1 AS BIGINT) AS fold,
                CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                CAST(SUM(n_correct) AS BIGINT) AS n_correct
         FROM pf)
       SELECT fold, n_docs, n_correct,
              ROUND(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) + 0.0
                AS accuracy
       FROM (SELECT * FROM pf UNION ALL SELECT * FROM allr)"""

  /** One side's (pair, n, gram, count) CTE chain for the t59 BLEU
    * replay: positional `n`-word shingle strings per n = 1..maxN over a
    * word-list CTE `src` (pair_id, wl), docs shorter than n words
    * contributing their whole text as one gram (the wordShingleHashes
    * short-input rule).
    */
  private def bleuGramSql(name: String, src: String, maxN: Int): String = {
    val perN = (1 to maxN).map { n =>
      val slices =
        s"""SELECT pair_id, $n AS n,
           |       list_aggregate(wl[CAST(i AS INT):CAST(i AS INT)+${n - 1}],
           |         'string_agg', ' ') AS g
           |FROM $src, lateral unnest(range(1, len(wl) - $n + 2)) t(i)
           |WHERE len(wl) >= $n""".stripMargin
      if (n == 1) slices
      else slices +
        s"""
           |UNION ALL
           |SELECT pair_id, $n AS n, array_to_string(wl, ' ') AS g
           |FROM $src WHERE len(wl) < $n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$name AS MATERIALIZED (
       |  SELECT pair_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |$perN)
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** t59's replay: the pair fixture, both sides' gram counts
    * ([[bleuGramSql]]), clipped counts via LEAST on the (pair, n, gram)
    * join, p_n = one IEEE division, round-9 DECIMAL log sum, brevity
    * penalty and the zero-guard — mirroring
    * [[graft.operators.TextAnalysis.bleuPairs]] step for step.
    */
  private lazy val t59OracleSql: String = {
    val pList = (1 to 4).map(n =>
      s"MAX(CASE WHEN n = $n THEN ROUND(p, 6) + 0.0 END) AS p$n").mkString(",\n         ")
    val pOut = (1 to 4).map(n => s"f.p$n + 0.0 AS p$n").mkString(", ")
    s"""WITH prs AS (
       |  SELECT doc_id AS pair_id,
       |         regexp_replace(text, '^\\S+\\s', '') AS cand, text AS ref
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' ' || text, text FROM documents),
       |cw AS MATERIALIZED (
       |  SELECT pair_id, string_split(cn, ' ') AS wl FROM (
       |    SELECT pair_id,
       |           regexp_replace(lower(trim(cand)), '\\s+', ' ', 'g') AS cn
       |    FROM prs)
       |  WHERE cn <> ''),
       |rw AS MATERIALIZED (
       |  SELECT pair_id, string_split(rn, ' ') AS wl FROM (
       |    SELECT pair_id,
       |           regexp_replace(lower(trim(ref)), '\\s+', ' ', 'g') AS rn
       |    FROM prs)
       |  WHERE rn <> ''),
       |${bleuGramSql("cg", "cw", 4)},
       |${bleuGramSql("rg", "rw", 4)},
       |perN AS (
       |  SELECT c.pair_id, c.n,
       |         SUM(LEAST(c.c, COALESCE(r.c, 0))) AS clip, SUM(c.c) AS tot
       |  FROM cg c LEFT JOIN rg r
       |    ON r.pair_id = c.pair_id AND r.n = c.n AND r.g = c.g
       |  GROUP BY 1, 2),
       |pn AS (SELECT pair_id, n,
       |              CAST(clip AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |       FROM perN),
       |lens AS (
       |  SELECT p1.pair_id, p1.tot AS clen, rl.rlen
       |  FROM perN p1
       |  JOIN (SELECT pair_id, SUM(c) AS rlen FROM rg WHERE n = 1
       |        GROUP BY 1) rl USING (pair_id)
       |  WHERE p1.n = 1),
       |folded AS (
       |  SELECT pair_id, MIN(p) AS pmin,
       |         SUM(CAST(ROUND(CASE WHEN p > 0 THEN ln(p) END, 9)
       |             AS DECIMAL(28,9))) AS lsum,
       |         $pList
       |  FROM pn GROUP BY 1)
       |SELECT f.pair_id, $pOut,
       |       ROUND(CASE WHEN l.clen >= l.rlen THEN 1.0
       |             ELSE exp(1.0 - CAST(l.rlen AS DOUBLE) / CAST(l.clen AS DOUBLE))
       |             END, 6) + 0.0 AS bp,
       |       ROUND(CASE WHEN f.pmin > 0 THEN
       |               (CASE WHEN l.clen >= l.rlen THEN 1.0
       |                ELSE exp(1.0 - CAST(l.rlen AS DOUBLE) / CAST(l.clen AS DOUBLE)) END)
       |               * exp(CAST(f.lsum AS DOUBLE) / 4.0)
       |             ELSE 0.0 END, 6) + 0.0 AS bleu
       |FROM folded f JOIN lens l USING (pair_id)""".stripMargin
  }

  /** One side's CHAR-gram (pair, n, gram, count) CTE chain for the t60
    * chrF replay — positional substrings per n, short inputs
    * contributing their whole text (the charShingleHashes rule).
    */
  private def chrfGramSql(name: String, src: String, maxN: Int): String = {
    val perN = (1 to maxN).map { n =>
      val slices =
        s"""SELECT pair_id, $n AS n, substr(s, CAST(i AS INT), $n) AS g
           |FROM $src, lateral unnest(range(1, length(s) - $n + 2)) t(i)
           |WHERE length(s) >= $n""".stripMargin
      if (n == 1) slices
      else slices +
        s"""
           |UNION ALL
           |SELECT pair_id, $n AS n, s AS g FROM $src WHERE length(s) < $n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$name AS MATERIALIZED (
       |  SELECT pair_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |$perN)
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** t60's replay: per-n char-gram clipped matches, per-n P/R (one IEEE
    * division each), round-9 DECIMAL means over n, chrF_2 with the
    * 0-guard — mirroring [[graft.operators.TextAnalysis.chrfPairs]].
    */
  private lazy val t60OracleSql: String =
    s"""WITH prs AS (
       |  SELECT doc_id AS pair_id,
       |         regexp_replace(text, '^\\S+\\s', '') AS cand, text AS ref
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' ' || text, text FROM documents),
       |cs AS MATERIALIZED (
       |  SELECT pair_id, regexp_replace(lower(trim(cand)), '\\s+', '', 'g') AS s
       |  FROM prs WHERE regexp_replace(lower(trim(cand)), '\\s+', '', 'g') <> ''),
       |rs AS MATERIALIZED (
       |  SELECT pair_id, regexp_replace(lower(trim(ref)), '\\s+', '', 'g') AS s
       |  FROM prs WHERE regexp_replace(lower(trim(ref)), '\\s+', '', 'g') <> ''),
       |${chrfGramSql("cg", "cs", 6)},
       |${chrfGramSql("rg", "rs", 6)},
       |rt AS (SELECT pair_id, n, SUM(c) AS rtot FROM rg GROUP BY 1, 2),
       |perN AS (
       |  SELECT c.pair_id, c.n,
       |         SUM(LEAST(c.c, COALESCE(r.c, 0))) AS m, SUM(c.c) AS ctot
       |  FROM cg c LEFT JOIN rg r
       |    ON r.pair_id = c.pair_id AND r.n = c.n AND r.g = c.g
       |  GROUP BY 1, 2),
       |folded AS (
       |  SELECT p.pair_id,
       |         CAST(SUM(CAST(ROUND(CAST(p.m AS DOUBLE) / CAST(p.ctot AS DOUBLE), 9)
       |               AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS pp,
       |         CAST(SUM(CAST(ROUND(CAST(p.m AS DOUBLE) / CAST(t.rtot AS DOUBLE), 9)
       |               AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS rr
       |  FROM perN p JOIN rt t ON t.pair_id = p.pair_id AND t.n = p.n
       |  GROUP BY 1)
       |SELECT pair_id,
       |       ROUND(pp, 6) + 0.0 AS precision,
       |       ROUND(rr, 6) + 0.0 AS recall,
       |       ROUND(CASE WHEN pp + rr > 0
       |             THEN 5.0 * pp * rr / (4.0 * pp + rr) ELSE 0.0 END, 6) + 0.0
       |         AS chrf
       |FROM folded""".stripMargin

  /** The poly_hash64(md5(e)) replay (the v10/v11 recipe): fold the md5
    * hex image's chars through (a·31 + ch) mod 2⁶⁴ as HUGEINT.
    */
  private def lrBucketSql(tokenExpr: String, dim: Int): String =
    s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |  list_transform(range(1, length(md5($tokenExpr))+1),
       |    i -> CAST(unicode(substr(md5($tokenExpr), CAST(i AS INT), 1)) AS HUGEINT))),
       |  (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT) % $dim AS INT)""".stripMargin

  /** The hashed-feature frame replay over a docs CTE named `src`
    * carrying (doc_id, y, text): binary bucket presence (DISTINCT
    * (doc, bucket) with x = 1), bucket via [[lrBucketSql]] (dim a power
    * of two, so the HUGEINT mod equals Spark's signed-long mask), the
    * bias folded in as bucket −1 with x = 1. Emits CTEs `tk$tag`,
    * `feat$tag`.
    */
  private def lrFeatCtes(tag: String, src: String, dim: Int): String =
    s"""tk$tag AS (
       |  SELECT DISTINCT doc_id, y, token FROM (
       |    SELECT doc_id, y,
       |           unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |    FROM $src)
       |  WHERE length(token) > 0),
       |feat$tag AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, y, ${lrBucketSql("token", dim)} AS bucket,
       |         CAST(1.0 AS DOUBLE) AS x
       |  FROM tk$tag
       |  UNION ALL
       |  SELECT doc_id, y, -1 AS bucket, CAST(1.0 AS DOUBLE) AS x FROM $src)""".stripMargin

  /** t56's training replayed: the [[lrFeatCtes]] frame over `trainSrc`,
    * then `rounds` UNROLLED gradient-descent rounds — per round the
    * DECIMAL margin sum, the round-9 residual, the (dim+1)-bounded
    * DECIMAL gradient aggregate, and the exact weight subtraction —
    * mirroring [[graft.operators.TextAnalysis.logRegFit]] step for step.
    * Callers consume `w$rounds`.
    */
  private def lrTrainCtes(trainSrc: String, dim: Int, rounds: Int,
      eta: String): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT f.doc_id, f.y,
         |         SUM(CAST(ROUND(f.x * CAST(w.w AS DOUBLE), 9) AS DECIMAL(28,9))) AS m
         |  FROM feattr f JOIN w${r - 1} w USING (bucket) GROUP BY 1, 2),
         |g$r AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST(ROUND(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))) - CAST(y AS DOUBLE), 9)
         |              AS DECIMAL(28,9)) AS g
         |  FROM m$r),
         |gr$r AS (
         |  SELECT f.bucket,
         |         SUM(CAST(ROUND(CAST(g.g AS DOUBLE) * f.x, 9) AS DECIMAL(28,9))) AS gr
         |  FROM feattr f JOIN g$r g USING (doc_id) GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.bucket,
         |         CAST(w.w - CAST(ROUND($eta * CAST(COALESCE(r.gr, CAST(0 AS DECIMAL(28,9))) AS DOUBLE)
         |                               / CAST(nn.n AS DOUBLE), 9) AS DECIMAL(28,9))
         |              AS DECIMAL(28,9)) AS w
         |  FROM w${r - 1} w LEFT JOIN gr$r r USING (bucket) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""${lrFeatCtes("tr", trainSrc, dim)},
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $trainSrc),
       |w0 AS (SELECT CAST(i AS INT) AS bucket, CAST(0 AS DECIMAL(28,9)) AS w
       |       FROM range(-1, $dim) t(i)),
       |$roundCtes""".stripMargin
  }

  private lazy val t56OracleSql: String =
    s"""WITH tr AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |                   text || ' mk' || lang AS text
       |            FROM documents),
       |${lrTrainCtes("tr", 64, 10, "10.0")}
       |SELECT bucket, ROUND(CAST(w AS DOUBLE), 6) + 0.0 AS weight FROM w10""".stripMargin

  private lazy val t57OracleSql: String =
    s"""WITH tr AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |                   text || ' mk' || lang AS text
       |            FROM documents WHERE doc_id % 7 <> 3),
       |te AS (SELECT doc_id, 0 AS y, text || ' mk' || lang AS text
       |       FROM documents WHERE doc_id % 7 = 3),
       |${lrTrainCtes("tr", 64, 10, "10.0")},
       |${lrFeatCtes("te", "te", 64)},
       |sm AS (
       |  SELECT f.doc_id,
       |         SUM(CAST(ROUND(f.x * CAST(w.w AS DOUBLE), 9) AS DECIMAL(28,9))) AS m
       |  FROM featte f JOIN w10 w USING (bucket) GROUP BY 1)
       |SELECT doc_id,
       |       CASE WHEN m >= 0 THEN 1 ELSE 0 END AS predicted,
       |       ROUND(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 6) + 0.0 AS score
       |FROM sm""".stripMargin

  /** s17's filtered brute-force truth — shared verbatim by s40 (at full
    * probe the IVF candidate set is the whole corpus, so the banked-scale
    * plan must reproduce the exact result).
    */
  private val s17OracleSql: String =
      """WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
              scored AS (
                SELECT q.query_id, c.vec_id,
                       list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
                FROM c CROSS JOIN q
                WHERE c.label <> q.label),
              ranked AS (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
         SELECT query_id, vec_id, rank, ROUND(cosine, 6) + 0.0 AS cosine
         FROM ranked WHERE rank <= 5"""

  private def knnEdgeCtes: String = {
    val bucketExpr = bucketExprSql(5)
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |         $bucketExpr AS bucket
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
       |         (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |          sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM p),
       |edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM r WHERE rank <= 3)""".stripMargin
  }

  /** s39: fixed-depth unrolled k-truss peel over the s36 edge
    * construction — MATERIALIZED per round (each round references its
    * predecessor several times; inlining would expand exponentially).
    * The oracle enumerates triangles by plain a<b<c nested equi-joins
    * (the engine's degree-ordered orientation finds the identical
    * triangle set — orientation only changes the JOIN SHAPE), explodes
    * each into its three canonical edges, counts support, and filters
    * at k−2 = 1; after the fixpoint the remaining rounds are no-ops, so
    * round 20's support frame carries the converged values.
    */
  private def s39OracleSql: String = {
    val rounds = 20
    val peels = (1 to rounds).map { i =>
      s"""tr$i AS MATERIALIZED (
         |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
         |  FROM e${i - 1} e1
         |  JOIN e${i - 1} e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN e${i - 1} e3 ON e3.a = e1.b AND e3.b = e2.b),
         |sup$i AS MATERIALIZED (
         |  SELECT x, y, COUNT(*) AS c FROM (
         |    SELECT ta AS x, tb AS y FROM tr$i
         |    UNION ALL SELECT ta, tc FROM tr$i
         |    UNION ALL SELECT tb, tc FROM tr$i) GROUP BY 1, 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  LEFT JOIN sup$i s ON e.a = s.x AND e.b = s.y
         |  WHERE COALESCE(s.c, 0) >= 1)""".stripMargin
    }.mkString(",\n")
    s"""$knnEdgeCtes,
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |$peels
       |SELECT e.a AS src, e.b AS dst,
       |       CAST(COALESCE(s.c, 0) AS BIGINT) AS support
       |FROM e$rounds e
       |LEFT JOIN sup$rounds s ON e.a = s.x AND e.b = s.y""".stripMargin
  }

  /** g12/e19 oracle: rolling 7-day distinct actives per event-bearing
    * day — shared verbatim because the streaming drain must equal the
    * batch operator over the full history.
    */
  private def v03OracleSql: String =
    """WITH ev AS (
         SELECT event_type,
                (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
                CAST(FLOOR(value / 10.0) AS BIGINT) AS value_bucket,
                user_id
         FROM events)
       SELECT event_type, hour_of_day, value_bucket,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive,
              COUNT(*) >= 5 AS k_anonymous,
              COUNT(DISTINCT user_id) >= 3 AS l_diverse
       FROM ev GROUP BY 1, 2, 3"""

  private def g15OracleSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
       g AS (SELECT user_id,
                    t - lag(t) OVER (PARTITION BY user_id
                                     ORDER BY t, event_id) AS g
             FROM ev),
       a AS (SELECT user_id, COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS s,
                    SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sq
             FROM g WHERE g IS NOT NULL GROUP BY 1),
       d AS (SELECT user_id, n, s,
                    CAST(CAST(n AS HUGEINT) * sq -
                         CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                         AS DOUBLE) AS dd
             FROM a)
       SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
              CAST(s // n AS BIGINT) AS mean_gap,
              CASE WHEN s = 0 THEN 0.0
                   ELSE ROUND(SQRT(dd) / CAST(s AS DOUBLE), 6) + 0.0
              END AS cv,
              CASE WHEN s = 0 THEN 0.0
                   ELSE ROUND((SQRT(dd) - CAST(s AS DOUBLE)) /
                              (SQRT(dd) + CAST(s AS DOUBLE)), 6) + 0.0
              END AS burstiness
       FROM d"""

  private def g14OracleSql: String =
    """WITH iv AS (
         SELECT user_id, epoch_us(ts) AS s,
                epoch_us(ts) + CAST(FLOOR(GREATEST(value, 0.0) * 1000000.0) AS BIGINT) AS e
         FROM events),
       pm AS (SELECT user_id, s, e,
                     MAX(GREATEST(e, s)) OVER (PARTITION BY user_id
                                  ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS p
              FROM iv)
       SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_intervals,
              CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(p, s)), 0)) AS BIGINT) AS covered,
              CAST(SUM(CASE WHEN p IS NULL OR s > p THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks
       FROM pm GROUP BY user_id"""

  private def g12OracleSql: String =
    """WITH du AS (
         SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
         FROM events),
       days AS (SELECT DISTINCT day FROM du),
       x AS (
         SELECT du.day + o.o AS day, du.user_id
         FROM du CROSS JOIN range(0, 7) o(o)),
       c AS (SELECT day, count(DISTINCT user_id) AS n_active
             FROM x GROUP BY 1)
       SELECT d.day, c.n_active
       FROM days d JOIN c ON c.day = d.day"""

  private def s14OracleSql: String =
    s"""$knnEdgeCtes
       |SELECT vec_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine,
       |       CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 3""".stripMargin

  /** s33 oracle: the s14 edge CTEs symmetrized to an a<b simple graph,
    * triangles enumerated once as a<b<c by two ordered joins, per-vertex
    * counts by a 3-way UNION ALL — the quadratic-ish truth the engine's
    * degree-oriented plan must equal exactly.
    */
  private def s33OracleSql: String =
    s"""$knnEdgeCtes,
       |und AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |deg AS (
       |  SELECT v, COUNT(*) AS d FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
       |  GROUP BY 1),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
       |tc AS (
       |  SELECT v, COUNT(*) AS t FROM (
       |    SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
       |    UNION ALL SELECT c AS v FROM tri)
       |  GROUP BY 1)
       |SELECT n.vec_id,
       |       CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree,
       |       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
       |       CASE WHEN COALESCE(deg.d, 0) >= 2
       |            THEN ROUND(2.0 * COALESCE(tc.t, 0)
       |                       / (deg.d * (deg.d - 1)), 6) + 0.0
       |            ELSE 0.0 END AS clustering_coef
       |FROM embeddings n
       |LEFT JOIN deg ON deg.v = n.vec_id
       |LEFT JOIN tc ON tc.v = n.vec_id""".stripMargin

  /** s15 oracle: 3 PageRank iterations over `edges`, unrolled as CTEs.
    * Every step mirrors [[graft.operators.Graph.pageRank]] exactly: the
    * teleport term is `(1.0 - 0.85) / N` (the SUBTRACTION, not a 0.15
    * literal — they are different doubles), per-edge contributions divide
    * in IEEE double then sum through DECIMAL(28,10), and dangling-vertex
    * mass is dropped on both sides.
    */
  private def s15OracleSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT t.vec_id,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         |         + CAST(0.85 AS DOUBLE)
         |           * COALESCE(CAST(s.m AS DOUBLE), CAST(0.0 AS DOUBLE)) AS score
         |  FROM nodes t LEFT JOIN (
         |    SELECT ed.dst AS vec_id,
         |           SUM(CAST(rr.score / ed.d AS DECIMAL(28,10))) AS m
         |    FROM dedges ed JOIN $prev rr ON ed.src = rr.vec_id
         |    GROUP BY 1) s ON t.vec_id = s.vec_id)""".stripMargin
    s"""$knnEdgeCtes,
       |nodes AS (SELECT vec_id FROM embeddings),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |dedges AS (SELECT e.src, e.dst, dg.d FROM edges e JOIN deg dg ON e.src = dg.src),
       |r0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS score FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT vec_id, ROUND(score, 8) + 0.0 AS score FROM r3""".stripMargin
  }

  /** s18 oracle: exact top-20 (s01 shape) and the multi-probe LSH top-20
    * (8-plane signature + bucket-XOR probes, mirroring `lshTopK`) both
    * replayed, then the per-query intersection count.
    */
  private def s18OracleSql: String =
    s"""WITH c AS (SELECT vec_id, embedding,
       |             CAST(${bucketExprSql(8)} AS BIGINT) AS bucket
       |           FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding,
       |        CAST(${bucketExprSql(8)} AS BIGINT) AS bucket
       |      FROM embeddings WHERE vec_id < 10),
       |exs AS (SELECT q.query_id, c.vec_id,
       |          ${cosSql("c.embedding", "q.embedding")} AS cosine
       |        FROM c CROSS JOIN q),
       |ex AS (SELECT query_id, vec_id FROM (
       |        SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, vec_id ASC) AS rnk
       |        FROM exs) WHERE rnk <= 20),
       |pr AS (SELECT query_id, embedding,
       |         unnest(list_prepend(bucket,
       |           list_transform(range(0, 8),
       |             i -> xor(bucket, CAST(1 << i AS BIGINT))))) AS pb
       |       FROM q),
       |cand AS (SELECT pr.query_id, c.vec_id,
       |           ${cosSql("c.embedding", "pr.embedding")} AS cosine
       |         FROM pr JOIN c ON c.bucket = pr.pb),
       |ar AS (SELECT query_id, vec_id FROM (
       |        SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, vec_id ASC) AS rnk
       |        FROM cand) WHERE rnk <= 20),
       |h AS (SELECT ex.query_id, COUNT(*) AS hits
       |      FROM ex JOIN ar ON ex.query_id = ar.query_id AND ex.vec_id = ar.vec_id
       |      GROUP BY 1)
       |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE)
       |             / CAST(20.0 AS DOUBLE), 6) + 0.0 AS recall_at_20
       |FROM q LEFT JOIN h ON q.query_id = h.query_id""".stripMargin

  /** s35: the probe sweep replayed relationally — assignment ties break
    * to the LARGER centroid id (the engine's lexicographic struct max),
    * probe-order ties to the SMALLER (array_sort on (−sim, cid)); each
    * level's ranking re-derives from the one `cand` frame exactly like
    * the engine's probe-rank filter.
    */
  private def s35OracleSql: String = {
    val probes = Seq(1, 2, 4, 16)
    val perProbe = probes.map { p =>
      s"""ar$p AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cosine DESC, vec_id ASC) AS rnk
         |  FROM cand WHERE prk <= $p) WHERE rnk <= 10),
         |h$p AS (SELECT CAST($p AS INT) AS nprobe,
         |          CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
         |          CAST((SELECT COUNT(*) FROM ex
         |                JOIN ar$p a ON ex.query_id = a.query_id
         |                           AND ex.vec_id = a.vec_id) AS BIGINT) AS hits,
         |          CAST((SELECT COUNT(*) FROM cand WHERE prk <= $p) AS BIGINT)
         |            AS n_candidates)""".stripMargin
    }.mkString(",\n")
    val unioned = probes.map(p => s"SELECT * FROM h$p").mkString(" UNION ALL ")
    s"""WITH cent AS (SELECT vec_id - 10 AS cid, embedding
       |              FROM embeddings WHERE vec_id BETWEEN 10 AND 25),
       |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings
       |      WHERE vec_id < 10),
       |asgs AS (SELECT c.vec_id, c.embedding, cent.cid,
       |           ${cosSql("c.embedding", "cent.embedding")} AS sim
       |         FROM c CROSS JOIN cent),
       |asg AS (SELECT vec_id, embedding, cid FROM (
       |          SELECT vec_id, embedding, cid,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY sim DESC, cid DESC) AS rn
       |          FROM asgs) WHERE rn = 1),
       |prs AS (SELECT q.query_id, q.embedding, cent.cid,
       |          ${cosSql("q.embedding", "cent.embedding")} AS sim
       |        FROM q CROSS JOIN cent),
       |pr AS (SELECT query_id, embedding, cid,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY sim DESC, cid ASC) AS prk
       |       FROM prs),
       |cand AS (SELECT pr.query_id, asg.vec_id, pr.prk,
       |           ${cosSql("asg.embedding", "pr.embedding")} AS cosine
       |         FROM pr JOIN asg ON asg.cid = pr.cid),
       |exs AS (SELECT q.query_id, c.vec_id,
       |          ${cosSql("c.embedding", "q.embedding")} AS cosine
       |        FROM c CROSS JOIN q),
       |ex AS (SELECT query_id, vec_id FROM (
       |        SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, vec_id ASC) AS rnk
       |        FROM exs) WHERE rnk <= 10),
       |$perProbe
       |SELECT nprobe, n_queries, hits,
       |       ROUND(CAST(hits AS DOUBLE) /
       |             CAST((SELECT COUNT(*) FROM ex) AS DOUBLE), 6) + 0.0 AS recall,
       |       n_candidates
       |FROM ($unioned)""".stripMargin
  }

  /** s36: the peel unrolled to the engine's `maxRounds` — peeling is
    * IDEMPOTENT once converged, and the engine fails loudly if the
    * fixpoint needs more rounds, so a fixed unroll depth equal to the
    * engine's bound replays the converged core exactly.
    */
  private def s36OracleSql: String = {
    val rounds = 30
    // MATERIALIZED per round: each round references its predecessor
    // twice, so default CTE inlining would expand 2^rounds times
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT e.a, COUNT(*) AS d FROM sym e
         |        JOIN r${i - 1} va ON e.a = va.v
         |        JOIN r${i - 1} vb ON e.b = vb.v
         |        GROUP BY e.a),
         |r$i AS MATERIALIZED (SELECT a AS v FROM d$i WHERE d >= 3)""".stripMargin
    }.mkString(",\n")
    s"""$knnEdgeCtes,
       |und AS (SELECT src AS a, dst AS b FROM edges WHERE src <> dst),
       |sym AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |          (SELECT a, b FROM und UNION ALL SELECT b, a FROM und)),
       |r0 AS MATERIALIZED (SELECT DISTINCT vec_id AS v FROM embeddings),
       |$peels
       |SELECT r$rounds.v AS vec_id, CAST(d$rounds.d AS BIGINT) AS core_degree
       |FROM r$rounds JOIN d$rounds ON r$rounds.v = d$rounds.a""".stripMargin
  }

  /** s37: HyperBall replayed from TRUE ball memberships — the k-hop
    * balls unroll as MATERIALIZED distinct closures over the s36 edge
    * construction, then every vertex id's Mix64 registers (idx = top p
    * bits, rank = nlz((h<<p)|1)+1 capped) rebuild relationally in
    * HUGEINT mod-2^64 SQL, per-ball registers are order-free MAXes, and
    * the estimate replays the engine's integer-exact fold: S = Σ
    * 2^(rmax−reg) in HUGEINT (absent registers contribute 2^rmax), ONE
    * cast-to-double division, the same alpha expression, and the
    * linear-counting `ln` branch under the shared libm convention.
    */
  private def s37OracleSql: String = {
    import DuckHash._
    val C1 = BigInt("ff51afd7ed558ccd", 16)
    val C2 = BigInt("c4ceb9fe1a85ec53", 16)
    val p = 12
    val m = 1 << p
    val rmax = 64 - p
    val twoRmax = BigInt(1) << rmax
    val twoP = BigInt(1) << p
    val balls = (1 to 3).map { t =>
      s"""b$t AS MATERIALIZED (SELECT DISTINCT v, w FROM (
         |  SELECT v, w FROM b${t - 1}
         |  UNION ALL
         |  SELECT e.a AS v, b.w FROM sym e JOIN b${t - 1} b ON e.b = b.v))"""
        .stripMargin
    }.mkString(",\n")
    def est(t: Int): String =
      s"""rg_$t AS (SELECT b.v, h.idx, MAX(h.rank) AS reg
         |          FROM b$t b JOIN hreg h ON h.w = b.w GROUP BY 1, 2),
         |es_$t AS (SELECT v,
         |            SUM(CAST(power(2, $rmax - reg) AS HUGEINT))
         |              + ($m - COUNT(*)) * $twoRmax::HUGEINT AS s,
         |            $m - COUNT(*) AS zeros
         |          FROM rg_$t GROUP BY v),
         |nv_$t AS (SELECT CAST($t AS INT) AS round,
         |            CAST(SUM(CAST(round(
         |              CASE WHEN (0.7213 / (1.0 + 1.079 / $m)) * $m * $m /
         |                        (CAST(s AS DOUBLE) / $twoRmax.0) <= 2.5 * $m
         |                     AND zeros > 0
         |                   THEN $m * ln(CAST($m AS DOUBLE) / zeros)
         |                   ELSE (0.7213 / (1.0 + 1.079 / $m)) * $m * $m /
         |                        (CAST(s AS DOUBLE) / $twoRmax.0)
         |              END) AS BIGINT)) AS BIGINT) AS n_pairs
         |          FROM es_$t)""".stripMargin
    val ests = (0 to 3).map(est).mkString(",\n")
    val unioned = (0 to 3).map(t => s"SELECT * FROM nv_$t").mkString(" UNION ALL ")
    s"""$knnEdgeCtes,
       |und AS (SELECT src AS a, dst AS b FROM edges WHERE src <> dst),
       |sym AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |          (SELECT a, b FROM und UNION ALL SELECT b, a FROM und)),
       |b0 AS MATERIALIZED (SELECT vec_id AS v, vec_id AS w FROM embeddings),
       |$balls,
       |h0 AS (SELECT DISTINCT vec_id AS w, CAST(vec_id AS HUGEINT) AS h
       |       FROM embeddings),
       |h1 AS (SELECT w, ${xorShift33("h")} AS h FROM h0),
       |h2 AS (SELECT w, ${mulMod("h", C1)} AS h FROM h1),
       |h3 AS (SELECT w, ${xorShift33("h")} AS h FROM h2),
       |h4 AS (SELECT w, ${mulMod("h", C2)} AS h FROM h3),
       |h5 AS (SELECT w, ${xorShift33("h")} AS hu FROM h4),
       |hr AS (SELECT w,
       |         CAST(hu // $twoRmax::HUGEINT AS BIGINT) AS idx,
       |         (hu * $twoP::HUGEINT) % $U AS rest
       |       FROM h5),
       |hreg AS (SELECT w, idx,
       |           CASE WHEN rest + (1 - rest % 2) >= $H THEN 1
       |                ELSE LEAST($rmax, 65 - length(bin(CAST(
       |                  rest + (1 - rest % 2) AS BIGINT)))) END AS rank
       |         FROM hr),
       |$ests
       |SELECT round, n_pairs FROM ($unioned)""".stripMargin
  }

  /** d21: the d20 replay chain applied TWICE — pass 2's input is pass
    * 1's relational rebuild, so the oracle proves the engine's iterated
    * dedup end-to-end on gram strings.
    */
  private def d21OracleSql: String = {
    def pass(pref: String, src: String): String =
      s"""${pref}toks AS (
         |  SELECT doc_id,
         |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ts
         |  FROM $src),
         |${pref}grams0 AS (
         |  SELECT doc_id, UNNEST(list_transform(range(1, len(ts) - 4),
         |    i -> struct_pack(pos := i - 1,
         |           g := array_to_string(list_slice(ts, CAST(i AS INT), CAST(i + 5 AS INT)), ' ')))) AS u
         |  FROM ${pref}toks WHERE len(ts) >= 6),
         |${pref}grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM ${pref}grams0),
         |${pref}occ AS (SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         |         count(*) OVER (PARTITION BY g) AS cnt
         |       FROM ${pref}grams),
         |${pref}cov0 AS (SELECT doc_id, UNNEST(range(pos, pos + 6)) AS cov
         |        FROM ${pref}occ WHERE cnt >= 2 AND rn > 1),
         |${pref}covered AS (SELECT DISTINCT doc_id, cov FROM ${pref}cov0),
         |${pref}tokpos0 AS (SELECT doc_id, len(ts) AS n_tokens,
         |          UNNEST(list_transform(range(1, len(ts) + 1),
         |            i -> struct_pack(p := i - 1, tok := ts[CAST(i AS INT)]))) AS u
         |        FROM ${pref}toks),
         |${pref}tokpos AS (SELECT doc_id, n_tokens, u.p AS p, u.tok AS tok
         |                  FROM ${pref}tokpos0),
         |${pref}reb AS (
         |  SELECT tp.doc_id,
         |         coalesce(string_agg(CASE WHEN c.cov IS NULL THEN tp.tok END, ' ' ORDER BY tp.p), '') AS text_kept,
         |         CAST(any_value(tp.n_tokens) AS INT) AS n_tokens,
         |         CAST(count(c.cov) AS INT) AS n_removed
         |  FROM ${pref}tokpos tp
         |  LEFT JOIN ${pref}covered c ON tp.doc_id = c.doc_id AND tp.p = c.cov
         |  GROUP BY tp.doc_id)""".stripMargin
    s"""WITH half AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |docs2 AS (
       |  SELECT doc_id, text FROM half
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |         regexp_replace(text, '^\\S+\\s', '') || ' u' || CAST(doc_id AS VARCHAR)
       |  FROM half),
       |${pass("p1_", "docs2")},
       |p2src AS (SELECT doc_id, text_kept AS text FROM p1_reb),
       |${pass("p2_", "p2src")}
       |SELECT a.doc_id, b.text_kept, a.n_tokens,
       |       CAST(a.n_removed + b.n_removed AS INT) AS n_removed,
       |       b.n_removed AS n_residual
       |FROM p1_reb a JOIN p2_reb b USING (doc_id)""".stripMargin
  }

  /** c32: one token-count pass, then the c27 per-α arithmetic unrolled
    * over the swept temperature list.
    */
  private def c32OracleSql: String = {
    val alphas = Seq(0.2, 0.3, 0.5, 1.0)
    val per = alphas.zipWithIndex.map { case (a, i) =>
      s"""pa_$i AS (SELECT lang, n_docs, n_tokens,
         |            CAST(round(pow(p, $a), 12) AS DECIMAL(38,18)) AS pav
         |          FROM wp),
         |z_$i AS (SELECT SUM(pav) AS z FROM pa_$i),
         |r_$i AS (SELECT CAST($a AS DOUBLE) AS alpha, lang,
         |           CAST(n_docs AS BIGINT) AS n_docs,
         |           CAST(n_tokens AS BIGINT) AS n_tokens,
         |           ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE), 6) + 0.0
         |             AS q,
         |           ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE)
         |                 * 10000000.0, 2) + 0.0 AS tokens_needed,
         |           ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE)
         |                 * 10000000.0 / CAST(n_tokens AS DOUBLE), 6) + 0.0
         |             AS epochs
         |         FROM pa_$i, z_$i)""".stripMargin
    }.mkString(",\n")
    val unioned = alphas.indices.map(i => s"SELECT * FROM r_$i")
      .mkString(" UNION ALL ")
    s"""WITH tc AS (
       |  SELECT doc_id, lang,
       |         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS nt
       |  FROM documents),
       |ps AS (SELECT lang, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
       |       FROM tc GROUP BY lang),
       |tot AS (SELECT SUM(n_tokens) AS total FROM ps),
       |wp AS (SELECT lang, n_docs, n_tokens,
       |              CASE WHEN COALESCE(n_tokens, 0) > 0
       |                   THEN CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
       |              END AS p
       |       FROM ps, tot),
       |$per
       |SELECT alpha, lang, n_docs, n_tokens, q, tokens_needed, epochs
       |FROM ($unioned)""".stripMargin
  }

  private def g17OracleSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         u AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM ev GROUP BY 1),
         m AS (SELECT max(t1) AS mx FROM u),
         s AS (SELECT t1 - t0 AS dur,
                      CASE WHEN t1 < mx - 43200000000 THEN 1 ELSE 0 END AS e
               FROM u CROSS JOIN m),
         pd AS (SELECT dur, CAST(SUM(e) AS BIGINT) AS d,
                       CAST(SUM(1 - e) AS BIGINT) AS c
                FROM s GROUP BY 1),
         tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM pd),
         r AS (SELECT dur, d, c,
                      total - CAST(SUM(d + c) OVER (ORDER BY dur) AS BIGINT)
                        + (d + c) AS n
               FROM pd CROSS JOIN tot),
         g AS (SELECT dur, d, c, n,
                      CAST(round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
                                 * 1000000) AS BIGINT) AS hz,
                      CASE WHEN d < n
                        THEN CAST(round(ln((CAST(n AS DOUBLE)
                                            - CAST(d AS DOUBLE))
                                           / CAST(n AS DOUBLE))
                                        * 1000000) AS BIGINT)
                        ELSE 0 END AS lng,
                      CASE WHEN d = n THEN 1 ELSE 0 END AS z
               FROM r),
         f AS (SELECT dur, n, d, c,
                      CAST(SUM(hz) OVER w AS BIGINT) AS hzc,
                      CAST(SUM(lng) OVER w AS BIGINT) AS lnc,
                      CAST(SUM(z) OVER w AS BIGINT) AS zc
               FROM g WINDOW w AS (ORDER BY dur))
         SELECT dur AS t, n AS n_risk, d AS n_death, c AS n_censor,
                round(CAST(hzc AS DOUBLE) / 1000000, 6) + 0.0
                  AS na_cum_hazard,
                CASE WHEN zc = 0
                  THEN round(CAST(lnc AS DOUBLE) / 1000000, 6) + 0.0
                END AS km_log_s
         FROM f"""

  private def s16OracleSql: String =
    s"""$knnEdgeCtes,
       |nodes AS (SELECT vec_id FROM embeddings),
       |ind AS (SELECT dst AS vec_id, COUNT(*) AS in_degree FROM edges GROUP BY 1)
       |SELECT t.vec_id,
       |       COALESCE(ind.in_degree, 0) AS in_degree,
       |       COALESCE(ind.in_degree, 0) >= 6 AS is_hub,
       |       COALESCE(ind.in_degree, 0) = 0 AS is_antihub
       |FROM nodes t LEFT JOIN ind ON t.vec_id = ind.vec_id""".stripMargin

  private def t24OracleSql: String =
    s"""WITH ${t19ScoreCtes()},
       |fp AS (
       |  SELECT doc_id, $fingerprintOverNormSql AS fp
       |  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
       |        FROM documents)),
       |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scores),
       |j AS (
       |  SELECT s.doc_id, s.score,
       |         CASE WHEN mm.hi = mm.lo THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(CAST(s.score AS HUGEINT) - mm.lo AS DOUBLE)
       |                   / CAST(CAST(mm.hi AS HUGEINT) - mm.lo AS DOUBLE) END AS p,
       |         ((fp.fp % 1048576) + 1048576) % 1048576 AS u
       |  FROM scores s JOIN fp USING (doc_id) CROSS JOIN mm)
       |SELECT doc_id, score, ROUND(p, 6) + 0.0 AS keep_prob,
       |       u < CAST(floor(p * CAST(1048576 AS DOUBLE)) AS BIGINT) AS kept
       |FROM j""".stripMargin

  /** Shared d06/c06 oracle prefix: independent all-pairs Jaccard pair
    * generation over the doubled corpus, then recursive-CTE transitive
    * closure — ends with `clusters(doc_id, cluster_id)`.
    */
  private val dupClusterClosureSql =
    """WITH RECURSIVE docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '') FROM documents),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         grams AS (
           SELECT doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         pairs AS (
           SELECT idA, idB FROM inter
           WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7),
         edges AS (
           SELECT idA AS u, idB AS v FROM pairs
           UNION ALL
           SELECT idB, idA FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM docs2
           UNION
           SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
         clusters AS (
           SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
           FROM reach GROUP BY id)"""

  /** The t02 quality-score replay over any table exposing (doc_id, text) —
    * parameterized so composed oracles (c06) score derived corpora with
    * the byte-identical formula.
    */
  /** The c09/e06 PSI tail: 10 quality-deciles of both sides, full-outer
    * join, eps-clamped shares, per-bucket term rounded before any sum —
    * mirroring [[graft.operators.CorpusStats.psiFromCounts]] exactly.
    * `qaSql`/`qbSql` are complete SELECTs emitting a `quality` column.
    */
  private def psiOracleSql(qaSql: String, qbSql: String): String =
    s"""WITH qa AS ($qaSql),
       qb AS ($qbSql),
       ca AS (SELECT CAST(least(floor(quality * 10), 9) AS INT) AS bucket,
                     COUNT(*) AS n_a FROM qa GROUP BY 1),
       cb AS (SELECT CAST(least(floor(quality * 10), 9) AS INT) AS bucket,
                     COUNT(*) AS n_b FROM qb GROUP BY 1),
       nn AS (SELECT (SELECT COUNT(*) FROM qa) AS na,
                     (SELECT COUNT(*) FROM qb) AS nb),
       j AS (SELECT bucket,
                    CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
                    CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
             FROM ca FULL OUTER JOIN cb USING (bucket))
       SELECT bucket, n_a, n_b,
              ROUND(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 6) + 0.0 AS frac_a,
              ROUND(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 6) + 0.0 AS frac_b,
              ROUND((greatest(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 1e-6)
                     - greatest(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 1e-6))
                    * ln(greatest(CAST(n_a AS DOUBLE) / CAST(nn.na AS DOUBLE), 1e-6)
                         / greatest(CAST(n_b AS DOUBLE) / CAST(nn.nb AS DOUBLE), 1e-6)),
                    6) + 0.0 AS psi_term
       FROM j, nn"""

  /** DuckDB mirror of [[graft.operators.TextAnalysis.qualityScore]].
    * Zero-token convention: DuckDB's `string_split('')` yields `['']`
    * (count 1) where the engine's `tokenCount` yields 0, so the
    * mean-word-length band carries an explicit `trim(text) <> ''` guard —
    * both engines agree a whitespace-only doc has 0 tokens (and so a 0
    * band term) even if a future fixture regeneration plants one. The
    * `FixtureContractSpec` canary pinning no-degenerate-docs stays as the
    * second line of defense.
    */
  // ------------------------------------------------------- t61/t62/c34
  // Synthesized page wrapper for the HTML-extraction gates: nav + aside
  // chrome, an article whose paragraphs carry the document's text, a
  // link-only footer — one template string shared by the Spark fixture
  // and the DuckDB oracle so the two can never drift. No single quotes
  // anywhere in the literals (they embed in SQL '...' strings verbatim).
  private val htmlTplHead = "<html><head><title>doc "
  private val htmlTplChrome =
    "</title><style>body{margin:0}</style></head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/all\">All docs</a></li>" +
      "<li><a href=\"/about\">About us</a></li></ul></nav>" +
      "<aside><p>Related: <a href=\"/r1\">first related doc</a> " +
      "<a href=\"/r2\">second related doc</a></p></aside><article><h1>Document "
  private val htmlTplMid = "</h1><p>"
  private val htmlTplP2 = "</p><p>"
  private val htmlTplTail =
    " tail words &amp; the end here.</p><p>Share <a href=\"/s\">this</a></p>" +
      "</article><footer><p><a href=\"/t\">Terms of service</a> " +
      "<a href=\"/p\">Privacy notice</a> <a href=\"/c\">Contact page</a></p>" +
      "</footer></body></html>"

  /** The page column both engines extract from: every boilerplate class
    * the classifier must reject (link-dense nav/aside/footer, a short
    * heading, a short share-link paragraph) around the document's text
    * split into two paragraphs, with one `&amp;` to exercise the entity
    * decode and a `<style>` body the noise pass must drop.
    */
  private def htmlWrap(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    lit(htmlTplHead), id.cast("string"), lit(htmlTplChrome),
    id.cast("string"), lit(htmlTplMid), substring(text, 1, 150),
    lit(htmlTplP2), substring(text, 151, 1 << 30), lit(htmlTplTail))

  private val htmlWrapSql: String =
    s"'$htmlTplHead' || CAST(doc_id AS VARCHAR) || '$htmlTplChrome' || " +
      s"CAST(doc_id AS VARCHAR) || '$htmlTplMid' || substr(text, 1, 150) || " +
      s"'$htmlTplP2' || substr(text, 151) || '$htmlTplTail'"

  /** [[graft.operators.Html]]'s block split + feature arithmetic replayed
    * relationally over the wrapped `documents` pages — CTE chain (no
    * leading WITH) ending in `hblocks(doc_id, block_idx, text,
    * text_chars, link_chars, words, stop_hits, is_content)`. Every regex
    * is the operator's own RE2-safe constant; the entity-decode chain and
    * the stopword list are injected from the same Scala values the
    * operator compiles.
    */
  private def htmlBlocksCtes(minWords: Int = 5,
      src: String = "documents", wrapSql: String = null): String = {
    val wrap = if (wrapSql == null) htmlWrapSql else wrapSql
    def strip(x: String) = s"regexp_replace($x, '${graft.operators.Html.anyTagRe}', ' ', 'g')"
    def ent(x: String) = graft.operators.Html.entityDecodes.foldLeft(x) {
      case (acc, (from, to)) =>
        s"replace($acc, '$from', '${to.replace("'", "''")}')"
    }
    val dropChain = graft.operators.Html.dropWithContentRes.foldLeft("html")(
      (acc, re) => s"regexp_replace($acc, '$re', ' ', 'g')")
    val stops = TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""hraw AS (SELECT doc_id, $wrap AS html FROM $src),
       |hpre AS (SELECT doc_id, $dropChain AS h FROM hraw),
       |hblk AS (SELECT doc_id, string_split(
       |    regexp_replace(
       |      regexp_replace(h, '${graft.operators.Html.boundaryTagRe}', chr(7), 'g'),
       |      '${graft.operators.Html.unclosedNoiseRe}', ' ', 'g'),
       |    chr(7)) AS bs FROM hpre),
       |hex AS (SELECT doc_id, CAST(i - 1 AS INT) AS block_idx,
       |    bs[CAST(i AS INT)] AS b
       |  FROM hblk, lateral unnest(range(1, len(bs) + 1)) t(i)),
       |hfx AS (SELECT doc_id, block_idx, ${ent(strip("b"))} AS traw,
       |    ${
        // DuckDB array_to_string([]) is NULL where Spark array_join is ''
        ent(strip("coalesce(array_to_string(regexp_extract_all(b, '" +
          graft.operators.Html.anchorRe + "', 1), ' '), '')"))
      } AS lraw
       |  FROM hex),
       |hfe AS (SELECT doc_id, block_idx,
       |    trim(regexp_replace(traw, '\\s+', ' ', 'g')) AS text,
       |    CAST(length(regexp_replace(traw, '\\s+', '', 'g')) AS INT) AS text_chars,
       |    CAST(length(regexp_replace(lraw, '\\s+', '', 'g')) AS INT) AS link_chars
       |  FROM hfx),
       |hfw AS (SELECT *, CAST(CASE WHEN text_chars = 0 THEN 0
       |      ELSE len(string_split(text, ' ')) END AS INT) AS words,
       |    CAST(len(list_filter(
       |      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |      x -> list_contains($stops, x))) AS INT) AS stop_hits
       |  FROM hfe),
       |hblocks AS (SELECT doc_id, block_idx, text, text_chars, link_chars,
       |    words, stop_hits,
       |    (words >= $minWords AND 3 * link_chars <= text_chars) AS is_content
       |  FROM hfw WHERE text_chars > 0)""".stripMargin
  }

  /** t62's per-doc rebuild as a CTE over [[htmlBlocksCtes]]'s `hblocks`
    * — `hmain(doc_id, main_text, n_blocks, n_content)`, LEFT-joined from
    * `documents` so a page with zero blocks still yields its row (the
    * operator is map-only per input row).
    */
  private val htmlMainCte: String = htmlMainCteOver("documents")

  private def htmlMainCteOver(src: String): String =
    s"""hmain AS (
       |  SELECT d.doc_id, coalesce(g.mt, '') AS main_text,
       |         CAST(coalesce(g.nb, 0) AS INT) AS n_blocks,
       |         CAST(coalesce(g.nc, 0) AS INT) AS n_content
       |  FROM $src d LEFT JOIN (
       |    SELECT doc_id,
       |           string_agg(text, ' ' ORDER BY block_idx)
       |             FILTER (WHERE is_content) AS mt,
       |           COUNT(*) AS nb,
       |           COUNT(*) FILTER (WHERE is_content) AS nc
       |    FROM hblocks GROUP BY doc_id) g USING (doc_id))""".stripMargin

  private def qualityOverSql(table: String): String =
    s"""SELECT doc_id, ROUND(raw_quality, 6) + 0.0 AS quality FROM (
         SELECT doc_id,
           0.3 * (CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
         + 0.4 * (CASE WHEN length(text) > 0
                       THEN CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                            / length(text)
                       ELSE 0.0 END)
         + 0.3 * (CASE WHEN length(text) > 0 AND trim(text) <> '' AND
                            CAST(length(text) AS DOUBLE) /
                            len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
                            BETWEEN 2.0 AND 12.0
                       THEN 1.0 ELSE 0.0 END) AS raw_quality
         FROM $table)"""

  private val t02QualitySql = qualityOverSql("documents")

  /** The t37 oracle: BPE training unrolled — per round a frequency-
    * weighted adjacent-pair census over the vocabulary frame, a
    * (count DESC, left, right) LIMIT 1 argmax, and the identical
    * left-to-right non-overlapping stack-fold rewrite (`list_reduce`
    * over singleton lists with a collapse-top-two lambda). The merge
    * rows union into the final table.
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT u.a AS a, u.b AS b, SUM(n) AS c FROM (
         |    SELECT n, UNNEST(list_transform(range(1, len(syms)),
         |             j -> struct_pack(a := syms[CAST(j AS INT)],
         |                              b := syms[CAST(j AS INT) + 1]))) AS u
         |    FROM w${i - 1} WHERE len(syms) >= 2) GROUP BY 1, 2),
         |-- exhaustion guard: when no pair is left to learn (p$i empty),
         |-- emit a sentinel ('','') no-op pair instead of an EMPTY b$i —
         |-- an empty b$i would empty every downstream CROSS JOIN and
         |-- return zero rows while the engine (which just stops merging
         |-- early) still encodes every document. Symbols are never the
         |-- empty string, so the sentinel can never match and merge.
         |b$i AS (SELECT a, b, c FROM (
         |          (SELECT a, b, CAST(c AS BIGINT) AS c FROM p$i
         |           ORDER BY c DESC, a ASC, b ASC LIMIT 1)
         |          UNION ALL SELECT '', '', 0)
         |        ORDER BY c DESC LIMIT 1),
         |w$i AS (
         |  SELECT token, n,
         |         CASE WHEN len(syms) < 2 THEN syms ELSE
         |           list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
         |             CASE WHEN len(acc) > 0 AND acc[-1] = bb.a AND x[1] = bb.b
         |                  THEN acc[:len(acc)-1] || [bb.a || bb.b]
         |                  ELSE acc || x END)
         |         END AS syms
         |  FROM w${i - 1} CROSS JOIN b$i bb)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |  FROM documents),
       |counts AS (
       |  SELECT token, count(*) AS n FROM tok
       |  WHERE length(token) > 0 GROUP BY token),
       |w0 AS (
       |  SELECT token, n,
       |         list_transform(range(1, length(token) + 1),
       |           i -> substr(token, CAST(i AS INT), 1)) AS syms
       |  FROM counts),
       |$rounds""".stripMargin
  }

  private def t37OracleSql(numMerges: Int): String = {
    val sel = (1 to numMerges).map(i =>
      s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, c AS pair_count " +
        s"FROM b$i WHERE a <> ''")
      .mkString("\n UNION ALL ")
    s"""WITH ${bpeTrainCtes(numMerges)}
       |$sel""".stripMargin
  }

  /** The t38 oracle: the t37 training CTEs, then every document encoded
    * under the learned merges in rank order — per word the same
    * collapse-top-two `list_reduce` chain, nested with per-level lambda
    * names so scopes cannot shadow. Output per doc: post-merge symbol
    * count + the first-8-symbols inspection prefix.
    */
  private def t38OracleSql(numMerges: Int): String = {
    def fold(level: Int, inner: String): String =
      if (level > numMerges) inner
      else fold(level + 1,
        s"""(CASE WHEN len($inner) < 2 THEN $inner ELSE
           |  list_reduce(list_transform($inner, s$level -> [s$level]),
           |    (acc$level, x$level) ->
           |      CASE WHEN len(acc$level) > 0 AND acc$level[-1] = bb$level.a
           |                AND x$level[1] = bb$level.b
           |           THEN acc$level[:len(acc$level)-1] || [bb$level.a || bb$level.b]
           |           ELSE acc$level || x$level END) END)""".stripMargin)
    val crossJoins = (1 to numMerges)
      .map(i => s"CROSS JOIN b$i bb$i").mkString(" ")
    val wordExpr = fold(1,
      "list_transform(range(1, length(w) + 1), ci -> substr(w, CAST(ci AS INT), 1))")
    s"""WITH ${bpeTrainCtes(numMerges)},
       |dt AS (
       |  SELECT doc_id,
       |         list_filter(string_split(
       |           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |           t0 -> length(t0) > 0) AS ws
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id,
       |         flatten(list_transform(ws, w -> $wordExpr)) AS syms
       |  FROM dt $crossJoins)
       |SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_syms,
       |       array_to_string(syms[1:8], ' ') AS head_syms
       |FROM enc""".stripMargin
  }

  /** The c22/e18 oracle: exact empirical CDFs over the merged value
    * domain (en vs non-en `n_chars`), per-value |ΔCDF| rounded to 6, max
    * with smallest-value ties — shared verbatim because the streaming
    * monitor's additive histogram state makes its drained statistic THE
    * batch statistic over the same slices.
    */
  private val c22OracleSql: String =
    """WITH a AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
                  WHERE lang = 'en'),
       b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
             WHERE lang <> 'en'),
       ha AS (SELECT v, count(*) AS ca FROM a GROUP BY 1),
       hb AS (SELECT v, count(*) AS cb FROM b GROUP BY 1),
       u AS (
         SELECT COALESCE(ha.v, hb.v) AS v,
                COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         FROM ha FULL JOIN hb ON ha.v = hb.v),
       c AS (
         SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
                SUM(cb) OVER (ORDER BY v) AS cumb
         FROM u),
       nn AS (SELECT (SELECT count(*) FROM a) AS na,
                     (SELECT count(*) FROM b) AS nb),
       t AS (
         SELECT v,
                round(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                          - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
                  + 0.0 AS term
         FROM c CROSS JOIN nn)
       SELECT (SELECT max(term) FROM t) + 0.0 AS ks,
              (SELECT min(v) FROM t
               WHERE term = (SELECT max(term) FROM t)) AS at_value"""

  /** The s31 oracle: the s15 PageRank replay with the teleport (and the
    * initial distribution) pinned to the seed set — identical IEEE
    * conventions: DECIMAL(28,10) in-edge summation, dangling mass not
    * redistributed, doubles elsewhere.
    */
  private def s31OracleSql(seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val k = seeds.size
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT t.vec_id,
         |         (CASE WHEN t.vec_id IN ($seedList)
         |               THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |                    / CAST($k AS DOUBLE)
         |               ELSE CAST(0.0 AS DOUBLE) END)
         |         + CAST(0.85 AS DOUBLE)
         |           * COALESCE(CAST(s.m AS DOUBLE), CAST(0.0 AS DOUBLE)) AS score
         |  FROM nodes t LEFT JOIN (
         |    SELECT ed.dst AS vec_id,
         |           SUM(CAST(rr.score / ed.d AS DECIMAL(28,10))) AS m
         |    FROM dedges ed JOIN $prev rr ON ed.src = rr.vec_id
         |    GROUP BY 1) s ON t.vec_id = s.vec_id)""".stripMargin
    s"""$knnEdgeCtes,
       |nodes AS (SELECT vec_id FROM embeddings),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |dedges AS (SELECT e.src, e.dst, dg.d FROM edges e JOIN deg dg ON e.src = dg.src),
       |r0 AS (SELECT vec_id,
       |         CASE WHEN vec_id IN ($seedList)
       |              THEN CAST(1.0 AS DOUBLE) / CAST($k AS DOUBLE)
       |              ELSE CAST(0.0 AS DOUBLE) END AS score
       |       FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT vec_id, ROUND(score, 8) + 0.0 AS score FROM r3""".stripMargin
  }

  /** The s30 oracle: the d03 true-Jaccard pair set as the edge list
    * (symmetrized), then `iters` label-propagation rounds unrolled —
    * each round a per-vertex `row_number() OVER (count DESC, label ASC)`
    * argmax with isolated vertices carried by a LEFT join, the engine's
    * deterministic rule exactly. Integer arithmetic end to end.
    */
  private def s30OracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""nb$i AS (SELECT e.d AS v, l.lab FROM edges e
         |         JOIN l${i - 1} l ON e.s = l.v),
         |c$i AS (SELECT v, lab, count(*) AS c FROM nb$i GROUP BY 1, 2),
         |b$i AS (SELECT v, lab FROM (
         |          SELECT v, lab, row_number() OVER (
         |            PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
         |          FROM c$i) WHERE rn = 1),
         |l$i AS (SELECT l.v, COALESCE(b.lab, l.lab) AS lab
         |        FROM l${i - 1} l LEFT JOIN b$i b ON l.v = b.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s', '') FROM documents),
       |norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n FROM docs2),
       |grams AS (
       |  SELECT doc_id,
       |         CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
       |              ELSE list_distinct(list_transform(range(1, length(n) - 3),
       |                     i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
       |  FROM norm),
       |gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
       |ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
       |inter AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
       |  FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |e0 AS (
       |  SELECT idA AS s, idB AS d FROM inter
       |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7),
       |edges AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
       |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM docs2),
       |$rounds
       |SELECT v AS doc_id, lab AS label FROM l$iters""".stripMargin
  }

  /** The g10 oracle: per-user RFM aggregates, then the c08
    * histogram-quantile boundary construction replicated per metric at
    * nBuckets = 4 (targets `(b·n + 3) // 4`, inner boundaries only,
    * bucket = 1 + |{bound < value}| — the [[graft.operators.CorpusStats
    * .curriculumBuckets]] formula verbatim).
    */
  private def g10OracleSql: String = {
    def bucketCtes(metric: String): String =
      s"""h_$metric AS (
         |  SELECT CAST($metric AS DOUBLE) AS v, COUNT(*) AS c
         |  FROM per GROUP BY 1),
         |n_$metric AS (SELECT SUM(c) AS n FROM h_$metric),
         |cum_$metric AS (
         |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h_$metric),
         |b_$metric AS (
         |  SELECT b, MIN(v) AS bound
         |  FROM cum_$metric CROSS JOIN range(1, 4) t(b)
         |  WHERE cum >= (b * (SELECT n FROM n_$metric) + 3) // 4
         |  GROUP BY b)""".stripMargin
    def score(metric: String): String =
      s"CAST(1 + (SELECT COUNT(*) FROM b_$metric " +
        s"WHERE bound < CAST(p.$metric AS DOUBLE)) AS INT)"
    s"""WITH per AS (
       |  SELECT user_id,
       |         MAX(epoch_us(ts) * 1000) AS recency_ns,
       |         COUNT(*) AS frequency,
       |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
       |  FROM events GROUP BY 1),
       |${bucketCtes("recency_ns")},
       |${bucketCtes("frequency")},
       |${bucketCtes("monetary")},
       |scored AS (
       |  SELECT user_id, recency_ns, frequency,
       |         round(monetary, 6) + 0.0 AS monetary,
       |         ${score("recency_ns")} AS r_score,
       |         ${score("frequency")} AS f_score,
       |         ${score("monetary")} AS m_score
       |  FROM per p)
       |SELECT user_id, recency_ns, frequency, monetary,
       |       r_score, f_score, m_score,
       |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
       |         CAST(m_score AS VARCHAR) AS segment
       |FROM scored""".stripMargin
  }

  private val t12RepetitionSql = repetitionOverSql("documents")

  /** t12's repetition replay over any table exposing (doc_id, text) —
    * c34 re-runs it over HTML-extracted main content.
    */
  private def repetitionOverSql(table: String): String =
    s"""WITH b AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
                  list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
           FROM $table),
         g AS (
           SELECT doc_id, lines,
                  CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)),
                              i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])
                       ELSE [] END AS bg
           FROM b)
         SELECT doc_id,
                CASE WHEN len(bg) > 0
                     THEN ROUND(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg), 6) + 0.0
                     ELSE 0.0 END AS dup_bigram_frac,
                CASE WHEN len(lines) > 0
                     THEN ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) + 0.0
                     ELSE 0.0 END AS dup_line_frac
         FROM g"""

  /** DuckDB-equivalent SQL per query (omitted → driver does rows-only
    * check: the MinHash/SimHash/LSH/mapPartitions operators whose exact
    * output depends on engine-internal hashes).
    */
  def oracleSql: Map[String, String] = Map(
    "q22_java_hash" ->
      """SELECT c_custkey,
                CAST((list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(c_name)+1),
                          i -> CAST(ascii(substr(c_name, CAST(i AS INT), 1)) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % 4294967296) + 2147483648) % 4294967296
                     - 2147483648 AS INT) AS name_hash
         FROM customer""",
    "t04_fingerprint" ->
      s"""SELECT doc_id, $fingerprintOverNormSql AS fingerprint
         FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
               FROM documents)""",
    "t01_lang_id" -> t01LangSql,
    // the t31 contingency folded to Cohen's kappa: integer-exact
    // chance/diagonal terms in DECIMAL, one final division, round at 6
    "t44_agreement_kappa" ->
      s"""WITH pred AS ($t01LangSql),
         j AS (SELECT d.lang AS a, p.pred_lang AS b
               FROM documents d JOIN pred p USING (doc_id)
               WHERE d.lang IS NOT NULL AND p.pred_lang IS NOT NULL),
         cont AS (SELECT a, b, COUNT(*) AS cn FROM j GROUP BY 1, 2),
         rmar AS (SELECT a, SUM(cn) AS ra FROM cont GROUP BY 1),
         cmar AS (SELECT b, SUM(cn) AS cb FROM cont GROUP BY 1),
         ch AS (SELECT COALESCE(SUM(CAST(ra AS DECIMAL(19,0)) *
                                    CAST(cb AS DECIMAL(19,0))),
                                CAST(0 AS DECIMAL(38,0))) AS e
                FROM rmar JOIN cmar ON rmar.a = cmar.b),
         tt AS (SELECT COALESCE(SUM(cn), 0) AS t,
                       COALESCE(SUM(CASE WHEN a = b THEN cn ELSE 0 END), 0) AS d
                FROM cont)
         SELECT CAST(t AS BIGINT) AS n, CAST(d AS BIGINT) AS n_agree,
                ROUND(CAST(d AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0 AS po,
                ROUND(CAST(e AS DOUBLE) /
                      (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) + 0.0 AS pe,
                CASE WHEN CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) = e
                     THEN NULL
                     ELSE ROUND(CAST(CAST(t AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0)) - e AS DOUBLE) /
                                CAST(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) - e AS DOUBLE), 6) + 0.0
                END AS kappa
         FROM tt, ch""",
    // t49: the same fabricated rater table; per-unit D_o terms replay
    // the round-9 → DECIMAL(28,9) sum, every other numerator is
    // DECIMAL-exact integer, marginals restricted to pairable units via
    // the same key join
    "t49_krippendorff_alpha" ->
      """WITH ratings AS (
           SELECT doc_id, r AS rater,
                  (doc_id % 4 + CASE WHEN (doc_id * 31 + r * 17) % 10 < 8
                                     THEN 0 ELSE 1 END) % 4 AS label
           FROM documents, range(0, 3) t(r)
           WHERE (doc_id + r * 13) % 7 <> 0),
         ruv AS (SELECT doc_id, CAST(label AS VARCHAR) AS v, COUNT(*) AS nuc
                 FROM ratings GROUP BY 1, 2),
         un AS (SELECT doc_id, SUM(nuc) AS m,
                       SUM(CAST(nuc AS DECIMAL(19,0)) * CAST(nuc AS DECIMAL(19,0))) AS ss
                FROM ruv GROUP BY 1 HAVING SUM(nuc) >= 2),
         dos AS (SELECT COALESCE(SUM(CAST(ROUND(
                          CAST(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)) - ss AS DOUBLE) /
                          CAST(m - 1 AS DOUBLE), 9) AS DECIMAL(28,9))),
                        CAST(0 AS DECIMAL(28,9))) AS do_,
                        COUNT(*) AS n_units
                 FROM un),
         mar AS (SELECT v, SUM(nuc) AS nc
                 FROM ruv JOIN un USING (doc_id) GROUP BY 1),
         tt AS (SELECT SUM(nc) AS n,
                       COALESCE(SUM(CAST(nc AS DECIMAL(19,0)) * CAST(nc AS DECIMAL(19,0))),
                                CAST(0 AS DECIMAL(38,0))) AS sc
                FROM mar)
         SELECT CAST(n_units AS BIGINT) AS n_units,
                CAST(COALESCE(n, 0) AS BIGINT) AS n_ratings,
                ROUND(CAST(do_ AS DOUBLE), 6) + 0.0 AS d_obs,
                ROUND(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) - sc AS DOUBLE) /
                      CAST(n - 1 AS DOUBLE), 6) + 0.0 AS d_exp,
                CASE WHEN CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) <> sc AND n > 1
                     THEN ROUND(1.0 - CAST(do_ AS DOUBLE) /
                            (CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) - sc AS DOUBLE) /
                             CAST(n - 1 AS DOUBLE)), 6) + 0.0
                     ELSE NULL END AS alpha
         FROM dos, tt""",
    // t50: the same contingency in DuckDB — every O·ln(O/E) term is
    // O·ln((O·N)/(rowTot·colTot)) with the products in HUGEINT (the
    // engine's DECIMAL(38,0) route), rounded to 8 and summed as
    // DECIMAL(28,8), then ×2.0 (exact) and round 6; direction on
    // exact integer cross-products
    "t50_distinctive_terms" ->
      """WITH toks AS (
           SELECT lang,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         tk AS (SELECT lang, token FROM toks WHERE length(token) > 0),
         cells AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS a
                   FROM tk GROUP BY 1, 2),
         ct AS (SELECT token, CAST(SUM(a) AS BIGINT) AS ct
                FROM cells GROUP BY 1),
         rt AS (SELECT lang, CAST(SUM(a) AS BIGINT) AS rt
                FROM cells GROUP BY 1),
         g AS (SELECT CAST(SUM(a) AS BIGINT) AS N FROM cells),
         j AS (SELECT cells.lang, cells.token, cells.a,
                      ct.ct - cells.a AS b, rt.rt - cells.a AS c,
                      g.N - rt.rt - (ct.ct - cells.a) AS d,
                      ct.ct, rt.rt, g.N
               FROM cells JOIN ct USING (token) JOIN rt USING (lang), g
               WHERE cells.a >= 5)
         SELECT lang, token, a AS n_slice, b AS n_rest,
                ROUND(2.0 * CAST(
                  (CASE WHEN a > 0 THEN CAST(ROUND(CAST(a AS DOUBLE) *
                     ln(CAST(CAST(a AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(rt AS HUGEINT) * CAST(ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN b > 0 THEN CAST(ROUND(CAST(b AS DOUBLE) *
                     ln(CAST(CAST(b AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(N - rt AS HUGEINT) * CAST(ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN c > 0 THEN CAST(ROUND(CAST(c AS DOUBLE) *
                     ln(CAST(CAST(c AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(rt AS HUGEINT) * CAST(N - ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN d > 0 THEN CAST(ROUND(CAST(d AS DOUBLE) *
                     ln(CAST(CAST(d AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(N - rt AS HUGEINT) * CAST(N - ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END)
                  AS DOUBLE), 6) + 0.0 AS g2,
                CAST(a AS HUGEINT) * CAST(N - rt AS HUGEINT) >
                  CAST(b AS HUGEINT) * CAST(rt AS HUGEINT) AS overused
         FROM j""",
    // e29: the drained monitor's last batch (odd doc ids) audited
    // against its history (even doc ids) — the t50 contingency with
    // slices = stream batches, identical HUGEINT products and
    // round-8 DECIMAL(28,8) term sums
    "e29_streaming_distinctive_terms" ->
      """WITH toks AS (
           SELECT doc_id % 2 = 1 AS is_batch,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         tk AS (SELECT is_batch, token FROM toks WHERE length(token) > 0),
         cells AS (SELECT is_batch, token, CAST(COUNT(*) AS BIGINT) AS n
                   FROM tk GROUP BY 1, 2),
         a AS (SELECT token, n AS a FROM cells WHERE is_batch),
         b AS (SELECT token, n AS b FROM cells WHERE NOT is_batch),
         na AS (SELECT CAST(SUM(n) AS BIGINT) AS na FROM cells WHERE is_batch),
         nb AS (SELECT CAST(SUM(n) AS BIGINT) AS nb FROM cells WHERE NOT is_batch),
         j AS (SELECT a.token, a.a, COALESCE(b.b, 0) AS b, na.na, nb.nb,
                      na.na + nb.nb AS N, a.a + COALESCE(b.b, 0) AS ct
               FROM a LEFT JOIN b USING (token), na, nb
               WHERE a.a >= 5)
         SELECT token, a AS n_batch, b AS n_hist,
                ROUND(2.0 * CAST(
                  (CASE WHEN a > 0 THEN CAST(ROUND(CAST(a AS DOUBLE) *
                     ln(CAST(CAST(a AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(na AS HUGEINT) * CAST(ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN b > 0 THEN CAST(ROUND(CAST(b AS DOUBLE) *
                     ln(CAST(CAST(b AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(nb AS HUGEINT) * CAST(ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN na - a > 0 THEN CAST(ROUND(CAST(na - a AS DOUBLE) *
                     ln(CAST(CAST(na - a AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(na AS HUGEINT) * CAST(N - ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END +
                   CASE WHEN nb - b > 0 THEN CAST(ROUND(CAST(nb - b AS DOUBLE) *
                     ln(CAST(CAST(nb - b AS HUGEINT) * CAST(N AS HUGEINT) AS DOUBLE) /
                        CAST(CAST(nb AS HUGEINT) * CAST(N - ct AS HUGEINT) AS DOUBLE)), 8)
                     AS DECIMAL(28,8)) ELSE CAST(0 AS DECIMAL(28,8)) END)
                  AS DOUBLE), 6) + 0.0 AS g2,
                CAST(a AS HUGEINT) * CAST(nb AS HUGEINT) >
                  CAST(b AS HUGEINT) * CAST(na AS HUGEINT) AS overused
         FROM j""",
    // t01's replay joined back to the labels and aggregated
    "t31_lang_confusion" ->
      s"""WITH pred AS ($t01LangSql)
         SELECT d.lang, p.pred_lang, COUNT(*) AS n,
                d.lang = p.pred_lang AS hit
         FROM documents d JOIN pred p USING (doc_id)
         GROUP BY d.lang, p.pred_lang""",
    // PMI from the same corpus counts, same multiplication order, ln at
    // the end, rounded at emission
    "t32_pmi_collocations" ->
      """WITH toks AS (
           SELECT list_filter(
                    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    t -> length(t) > 0) AS ts
           FROM documents),
         bg AS (
           SELECT unnest(CASE WHEN len(ts) >= 2
                         THEN list_transform(range(1, len(ts)),
                                i -> [ts[CAST(i AS INT)], ts[CAST(i AS INT) + 1]])
                         ELSE [] END) AS p
           FROM toks),
         pairall AS (
           SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
         unic AS (
           SELECT w, COUNT(*) AS nw
           FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
         tot AS (
           SELECT (SELECT SUM(n_pair) FROM pairall) AS nb,
                  (SELECT SUM(nw) FROM unic) AS nu)
         SELECT p.w1, p.w2, p.n_pair,
                ROUND(LN((CAST(p.n_pair AS DOUBLE) * t.nu * t.nu) /
                         (CAST(t.nb AS DOUBLE) * a.nw * b.nw)), 6) + 0.0 AS pmi
         FROM pairall p JOIN unic a ON p.w1 = a.w
                        JOIN unic b ON p.w2 = b.w
                        CROSS JOIN tot t
         WHERE p.n_pair >= 5""",
    "t07_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         toks2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks2 GROUP BY 1, 2),
         dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM toks2 GROUP BY 1),
         n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents)
         SELECT tf.doc_id, tf.token, tf.tf, dfq.doc_freq,
                ROUND(tf.tf * ln(CAST(nn + 1 AS DOUBLE) / (doc_freq + 1)), 4) + 0.0 AS tfidf
         FROM tf JOIN dfq USING (token), n""",
    "t05_chunking" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_no,
                length(substring(text, CAST(i * 80 + 1 AS INT), 100)) AS chunk_len
         FROM (SELECT doc_id, text,
                      CAST(greatest(ceil((length(text) - 20) / 80.0), 1) AS INT) AS nchunks
               FROM documents), range(0, 2000) t(i)
         WHERE i < nchunks
           AND length(substring(text, CAST(i * 80 + 1 AS INT), 100)) > 0""",
    "t06_vocabulary" ->
      """SELECT token, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
         FROM (SELECT doc_id,
                      unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
               FROM documents)
         WHERE length(token) > 0
         GROUP BY token ORDER BY occurrences DESC, token ASC LIMIT 100""",
    // encoding audit: the same three RE2 counts (both engines receive
    // identical \x{...} patterns — SQL strings pass backslashes through)
    "t47_encoding_audit" ->
      """WITH c AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                  CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_replacement,
                  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]')) AS BIGINT) AS n_control,
                  CAST(len(regexp_extract_all(text, '\x{00C3}|\x{00C2}|\x{00E2}\x{20AC}')) AS BIGINT) AS n_mojibake
           FROM documents)
         SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake,
                (n_replacement = 0 AND n_control = 0 AND n_mojibake = 0) AS clean
         FROM c""",
    // readability: the same regex run counts (vowel groups, [.!?]+
    // runs, whitespace words), formulas evaluated left-to-right with
    // the same literal order so every IEEE intermediate matches
    "t46_readability" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(len(list_filter(
                    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    x -> length(x) > 0)) AS BIGINT) AS w,
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS sr,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
           FROM documents)
         SELECT doc_id, w AS n_words, sr AS n_sentences, syl AS n_syllables,
                CASE WHEN w = 0 THEN 0.0
                     ELSE ROUND(206.835
                                - 1.015 * (CAST(w AS DOUBLE) / CAST(GREATEST(sr, 1) AS DOUBLE))
                                - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4) + 0.0
                END AS flesch,
                CASE WHEN w = 0 THEN 0.0
                     ELSE ROUND(0.39 * (CAST(w AS DOUBLE) / CAST(GREATEST(sr, 1) AS DOUBLE))
                                + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
                                - 15.59, 4) + 0.0
                END AS fk_grade
         FROM c""",
    // distinct-n diversity: per-row list n-grams on STRINGS (list slice
    // is 1-based inclusive; range() excludes its stop, so short docs
    // yield empty gram lists), same 0-pin on degenerate totals
    "t45_distinct_ngrams" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(
                    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    x -> length(x) > 0) AS ts
           FROM documents),
         g AS (SELECT doc_id, ts,
                      list_distinct(ts) AS u1,
                      list_distinct(list_transform(range(1, len(ts)),
                        i -> array_to_string(ts[i:i+1], ' '))) AS u2,
                      list_distinct(list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(ts[i:i+2], ' '))) AS u3
               FROM d)
         SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(u1) AS BIGINT) AS uni_distinct,
                CASE WHEN len(ts) = 0 THEN 0.0
                     ELSE ROUND(CAST(len(u1) AS DOUBLE) / CAST(len(ts) AS DOUBLE), 6) + 0.0
                END AS uni_ratio,
                CAST(len(u2) AS BIGINT) AS bi_distinct,
                CASE WHEN len(ts) <= 1 THEN 0.0
                     ELSE ROUND(CAST(len(u2) AS DOUBLE) / CAST(len(ts) - 1 AS DOUBLE), 6) + 0.0
                END AS bi_ratio,
                CAST(len(u3) AS BIGINT) AS tri_distinct,
                CASE WHEN len(ts) <= 2 THEN 0.0
                     ELSE ROUND(CAST(len(u3) AS DOUBLE) / CAST(len(ts) - 2 AS DOUBLE), 6) + 0.0
                END AS tri_ratio
         FROM g""",
    // the t06 token-count frame folded to the Good–Turing scalars
    "c28_good_turing" ->
      """WITH tk AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t
           FROM documents),
         c AS (SELECT t, COUNT(*) AS c FROM tk WHERE length(t) > 0 GROUP BY t)
         SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
                CAST(COUNT(*) AS BIGINT) AS vocab,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
                ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                      CAST(SUM(c) AS DOUBLE), 6) + 0.0 AS unseen_mass
         FROM c""",
    // concentration: exact HUGEINT Σn² and N², the same three single
    // divisions
    "c30_source_concentration" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n
                    FROM documents GROUP BY 1, 2),
         f AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_rows,
                      CAST(COUNT(*) AS BIGINT) AS n_strata,
                      SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sq,
                      MAX(n) AS maxn
               FROM c GROUP BY 1)
         SELECT lang, n_rows, n_strata,
                ROUND(CAST(sq AS DOUBLE) /
                      CAST(CAST(n_rows AS HUGEINT) * CAST(n_rows AS HUGEINT) AS DOUBLE), 6)
                  + 0.0 AS hhi,
                ROUND(CAST(CAST(n_rows AS HUGEINT) * CAST(n_rows AS HUGEINT) AS DOUBLE) /
                      CAST(sq AS DOUBLE), 4) + 0.0 AS effective_strata,
                ROUND(CAST(maxn AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) + 0.0
                  AS top_share
         FROM f""",
    // the same token-count frame folded to the Chao1 estimator; the
    // unrounded chao1 feeds coverage (only the emissions round)
    "c29_chao1_richness" ->
      """WITH tk AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t
           FROM documents),
         c AS (SELECT t, COUNT(*) AS c FROM tk WHERE length(t) > 0 GROUP BY t),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
                      CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                      CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
               FROM c)
         SELECT vocab, n_hapax, n_dis,
                ROUND(CAST(vocab AS DOUBLE) +
                      CAST(n_hapax * (n_hapax - 1) AS DOUBLE) /
                      CAST(2 * (n_dis + 1) AS DOUBLE), 2) + 0.0 AS chao1,
                ROUND(CAST(vocab AS DOUBLE) /
                      (CAST(vocab AS DOUBLE) +
                       CAST(n_hapax * (n_hapax - 1) AS DOUBLE) /
                       CAST(2 * (n_dis + 1) AS DOUBLE)), 6) + 0.0 AS coverage
         FROM s""",
    // t25: word-frequency-weighted adjacent char-pair counts (BPE round 1)
    "t25_bpe_pairs" ->
      """WITH toks AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
           FROM documents),
         w AS (SELECT word, COUNT(*) AS freq FROM toks
               WHERE length(word) >= 2 GROUP BY 1),
         p AS (SELECT freq,
                      unnest(list_transform(range(1, length(word)),
                        i -> substr(word, CAST(i AS INT), 2))) AS pair
               FROM w)
         SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
         FROM p GROUP BY 1 HAVING SUM(freq) >= 5
         ORDER BY pair_count DESC, pair ASC LIMIT 200""",
    "q01_scan" -> "SELECT r_regionkey, r_name FROM region",
    "q02_projection" -> "SELECT c_custkey, c_name FROM customer",
    "q03_pushdown_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem WHERE l_quantity > 45 AND l_shipdate >= '1997-01-01 00:00:00'""",
    "q04_residual_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem WHERE l_quantity >= 30 AND l_discount < 0.05 AND l_returnflag = 'R'""",
    "q05_filter_chain" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type <> 'click' AND (value >= 10.0 OR user_id % 2 = 0)""",
    "q06_anti_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)""",
    "q07_read_limit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         ORDER BY l_orderkey, l_linenumber LIMIT 1000""",
    "q08_write_limit" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
         WHERE l_returnflag = 'A' ORDER BY l_orderkey, l_linenumber LIMIT 500""",
    "q09_calc_columns" ->
      """SELECT o_orderkey, o_orderkey % 32 AS bucket,
                o_totalprice * 0.9 AS discounted,
                CASE WHEN o_totalprice >= 150000.0 THEN 'BIG' ELSE 'SMALL' END AS size_class
         FROM orders""",
    "q10_ttl_rebase" ->
      "SELECT event_id, 604800 - (86400 - value) AS value FROM events",
    "q12_type_cast" ->
      """SELECT CAST(l_linenumber AS SMALLINT) AS linenum_small,
                CAST(l_orderkey AS VARCHAR) AS orderkey_str,
                CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec,
                CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor
         FROM lineitem""",
    "q13_upsert_keep_last" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  row_number() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber DESC, l_quantity DESC,
                                              l_extendedprice DESC) AS rn
           FROM lineitem) WHERE rn = 1""",
    "q14_insert_if_not_exists" ->
      """SELECT c_custkey, 0.0 AS c_acctbal FROM customer WHERE c_custkey % 4 = 0
         UNION ALL
         SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 4 <> 0""",
    "q15_counter_preagg" ->
      """SELECT l_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS l_quantity
         FROM lineitem GROUP BY l_orderkey""",
    "q16_dry_run" ->
      """SELECT COUNT(*) AS rows_read,
                CAST(SUM(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS rows_passed_filter
         FROM lineitem""",
    "q19_error_split" ->
      """SELECT o_orderkey,
                TRY_CAST(CASE WHEN o_orderkey % 100 = 0
                              THEN 'x' || CAST(o_orderkey AS VARCHAR)
                              ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS parsed,
                TRY_CAST(CASE WHEN o_orderkey % 100 = 0
                              THEN 'x' || CAST(o_orderkey AS VARCHAR)
                              ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) IS NULL AS is_dead_letter
         FROM orders""",
    "q17_streaming_migration" ->
      """SELECT event_id, event_type, value, value * 2.0 AS vx2
         FROM events WHERE event_type <> 'click'""",
    "q18_parallel_exec" ->
      """SELECT 'region' AS table_name, COUNT(*) AS n FROM region
         UNION ALL SELECT 'nation', COUNT(*) FROM nation""",
    "q20_observed_filter" ->
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 0",
    "q21_reconcile_projection" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "j01_broadcast_join" ->
      """SELECT c_mktsegment, COUNT(*) AS order_cnt FROM orders
         JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""",
    "j02_star_join_revenue" ->
      """SELECT r_name, n_name,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "j03_outer_join" ->
      """SELECT n_nationkey, n_name, COALESCE(n_customers, 0) AS n_customers
         FROM nation LEFT JOIN (
           SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
           GROUP BY c_nationkey HAVING COUNT(*) >= 70) big
         ON n_nationkey = c_nationkey""",
    "j04_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",
    "q23_patch_nulls" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         src AS (SELECT o_orderkey, o_orderstatus,
                        CASE WHEN o_orderkey % 4 <> 0 THEN o_totalprice END AS o_totalprice
                 FROM o WHERE o_orderkey % 2 = 0),
         tgt AS (SELECT * FROM o WHERE o_orderkey % 3 = 0)
         SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
                COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
         FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey""",
    "j07_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "f05_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type""",
    // DuckDB's native ASOF JOIN is an independent implementation of the
    // same semantics — right side pre-deduped per (user_id, ts) by max
    // event id so both engines break exact-ts ties identically
    "j05_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                            event_type, value FROM events),
         clicks AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts_us
                    FROM ev WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts_us AS purchase_ts_us,
                          max(event_id) AS purchase_id,
                          max_by(value, event_id) AS purchase_value
                   FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.click_id, c.user_id, c.click_ts_us,
                p.purchase_id, p.purchase_ts_us, p.purchase_value
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_id = p.user_id AND c.click_ts_us >= p.purchase_ts_us""",
    // j05 + the tolerance bound: DuckDB ASOF has no tolerance clause, so
    // the backward pick replays as a windowed rank and the bound filters
    // the winner (not the candidates — pandas semantics, same as engine)
    "j08_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                            event_type, value FROM events),
         clicks AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts_us
                    FROM ev WHERE event_type = 'click'),
         purch AS (SELECT event_id AS purchase_id, user_id,
                          ts_us AS purchase_ts_us, value AS purchase_value
                   FROM ev WHERE event_type = 'purchase'),
         cand AS (
           SELECT c.click_id, p.purchase_id, p.purchase_ts_us, p.purchase_value,
                  row_number() OVER (PARTITION BY c.click_id
                                     ORDER BY p.purchase_ts_us DESC,
                                              p.purchase_id DESC) AS rn
           FROM clicks c JOIN purch p
             ON c.user_id = p.user_id AND p.purchase_ts_us <= c.click_ts_us),
         won AS (SELECT click_id, purchase_id, purchase_ts_us, purchase_value
                 FROM cand WHERE rn = 1)
         SELECT c.click_id, c.user_id, c.click_ts_us,
                CASE WHEN c.click_ts_us - w.purchase_ts_us <= 600000000
                     THEN w.purchase_id END AS purchase_id,
                CASE WHEN c.click_ts_us - w.purchase_ts_us <= 600000000
                     THEN w.purchase_ts_us END AS purchase_ts_us,
                CASE WHEN c.click_ts_us - w.purchase_ts_us <= 600000000
                     THEN w.purchase_value END AS purchase_value
         FROM clicks c LEFT JOIN won w USING (click_id)""",
    "j06_range_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events),
         err AS (SELECT event_id AS err_id, ts_us AS win_start,
                        ts_us + 600000000 AS win_end
                 FROM ev WHERE event_type = 'error'),
         clk AS (SELECT event_id AS click_id, ts_us AS click_ts
                 FROM ev WHERE event_type = 'click')
         SELECT e.err_id, count(c.click_id) AS n_clicks
         FROM err e LEFT JOIN clk c
           ON c.click_ts >= e.win_start AND c.click_ts < e.win_end
         GROUP BY 1""",
    // exact inequality-join truth for the bucketized overlap join
    "j09_interval_overlap" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         c AS (SELECT user_id, event_id AS click_id, ts_us AS c_start,
                      ts_us + 7200000000 AS c_end
               FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts_us AS p_start,
                      ts_us + 14400000000 AS p_end
               FROM ev WHERE event_type = 'purchase')
         SELECT c.user_id, c.click_id, p.purchase_id,
                LEAST(c_end, p_end) - GREATEST(c_start, p_start) AS overlap_us
         FROM c JOIN p ON c.user_id = p.p_user
                      AND c.c_start < p.p_end AND p.p_start < c.c_end""",
    // the Bloom pre-filter is semantics-free (no false negatives; false
    // positives die in the exact join) — the oracle is the plain join
    "j10_bloom_join" ->
      """SELECT p_brand,
                COUNT(*) AS n_rows,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size <= 2
         GROUP BY p_brand""",
    // brute-force Levenshtein join — fully independent of the engine's
    // q-gram prefix filtering and short-string band, so a recall hole in
    // either branch surfaces as missing rows
    "j11_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
           AND levenshtein(a.c_name, b.c_name) <= 1""",
    "g03_pivot" ->
      """SELECT year(o_orderdate) AS y,
                COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
                COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
                COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
                COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
                COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
         FROM orders GROUP BY 1""",
    "w02_lag_lead" ->
      """SELECT o_orderkey, o_custkey,
                lag(o_totalprice) OVER w AS prev_price,
                lead(o_totalprice) OVER w AS next_price,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    "w01_window_rank" ->
      """SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS order_seq
         FROM orders""",
    // reproduces the exact integer min-max scaling + Morton interleave:
    // all-BIGINT arithmetic on both engines (DuckDB // floors, Spark div
    // truncates — identical on the non-negative scaled domain)
    "z01_zorder_layout" ->
      """WITH mm AS (SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                            min(o_orderkey) AS lb, max(o_orderkey) AS hb
                     FROM orders),
         s AS (SELECT o_orderkey,
                      ((o_custkey - la) * 1023) // (ha - la) AS sa,
                      ((o_orderkey - lb) * 1023) // (hb - lb) AS sb
               FROM orders, mm)
         SELECT o_orderkey,
                CAST(list_sum(list_transform(range(0, 10), j ->
                  (((sa >> j) & 1) << (2 * j)) + (((sb >> j) & 1) << (2 * j + 1))))
                  AS BIGINT) AS zkey
         FROM s""",
    // both curve replays (z01's list_sum interleave, z06's recursive
    // walk) + the same 16-file range assignment + box counts
    "z07_pruning_report" ->
      """WITH RECURSIVE mm AS (
           SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                  min(o_orderkey) AS lb, max(o_orderkey) AS hb
           FROM orders),
         sc AS (SELECT o_orderkey, o_custkey,
                       ((o_custkey - la) * 1023) // (ha - la) AS sa,
                       ((o_orderkey - lb) * 1023) // (hb - lb) AS sb
                FROM orders, mm),
         hil AS (
           SELECT o_orderkey, CAST(sa AS BIGINT) AS x, CAST(sb AS BIGINT) AS y,
                  CAST(0 AS BIGINT) AS d, CAST(512 AS BIGINT) AS s
           FROM sc
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN (y & s) <> 0 THEN x
                       ELSE CASE WHEN (x & s) <> 0 THEN s - 1 - y ELSE y END END,
                  CASE WHEN (y & s) <> 0 THEN y
                       ELSE CASE WHEN (x & s) <> 0 THEN s - 1 - x ELSE x END END,
                  d + s * s * xor(3 * (CASE WHEN (x & s) <> 0 THEN 1 ELSE 0 END),
                                  CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END),
                  s // 2
           FROM hil WHERE s > 0),
         hk AS (SELECT sc.o_orderkey, sc.o_custkey, hil.d AS key
                FROM hil JOIN sc ON hil.o_orderkey = sc.o_orderkey
                WHERE hil.s = 0),
         zk AS (SELECT o_orderkey, o_custkey,
                       CAST(list_sum(list_transform(range(0, 10), j ->
                         (((sa >> j) & 1) << (2 * j)) + (((sb >> j) & 1) << (2 * j + 1))))
                         AS BIGINT) AS key
                FROM sc),
         u AS (SELECT 'hilbert' AS layout, o_orderkey, o_custkey, key,
                      (SELECT max(key) FROM hk) AS mx FROM hk
               UNION ALL
               SELECT 'morton', o_orderkey, o_custkey, key,
                      (SELECT max(key) FROM zk) FROM zk),
         f AS (SELECT layout, o_orderkey, o_custkey,
                      LEAST((key * 16) // (mx + 1), 15) AS file_id FROM u)
         SELECT layout, CAST(file_id AS INT) AS file_id,
                COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN o_custkey <= 375 AND o_orderkey <= 3750
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_box_rows,
                SUM(CASE WHEN o_custkey <= 375 AND o_orderkey <= 3750
                         THEN 1 ELSE 0 END) > 0 AS touched
         FROM f GROUP BY layout, file_id""",
    // the Hilbert walk replayed as a recursive CTE: one iteration per
    // level carries (x, y, d, s) through the quadrant-rotation recurrence
    // — every CASE reads the PREVIOUS level's columns, exactly the
    // imperative loop's semantics
    "z06_hilbert_layout" ->
      """WITH RECURSIVE mm AS (
           SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                  min(o_orderkey) AS lb, max(o_orderkey) AS hb
           FROM orders),
         sc AS (SELECT o_orderkey,
                       ((o_custkey - la) * 1023) // (ha - la) AS sa,
                       ((o_orderkey - lb) * 1023) // (hb - lb) AS sb
                FROM orders, mm),
         hil AS (
           SELECT o_orderkey, CAST(sa AS BIGINT) AS x, CAST(sb AS BIGINT) AS y,
                  CAST(0 AS BIGINT) AS d, CAST(512 AS BIGINT) AS s
           FROM sc
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN (y & s) <> 0 THEN x
                       ELSE CASE WHEN (x & s) <> 0 THEN s - 1 - y ELSE y END END,
                  CASE WHEN (y & s) <> 0 THEN y
                       ELSE CASE WHEN (x & s) <> 0 THEN s - 1 - x ELSE x END END,
                  d + s * s * xor(3 * (CASE WHEN (x & s) <> 0 THEN 1 ELSE 0 END),
                                  CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END),
                  s // 2
           FROM hil WHERE s > 0)
         SELECT o_orderkey, d AS hkey FROM hil WHERE s = 0""",
    // 3-D Hilbert: replays the Skilling transform step by step — the
    // recursive CTE walks (level q, axis i) doing the inverse-undo
    // exchange/invert, then Gray encode, the t-fold and the MSB-first
    // interleave (axis 0 most significant), exactly the kernel's phases
    "z08_hilbert_nd" ->
      """WITH RECURSIVE base AS (
           SELECT o_orderkey, o_custkey,
                  CAST(floor(o_totalprice) AS BIGINT) AS price_int
           FROM orders),
         mm AS (SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                       min(o_orderkey) AS lb, max(o_orderkey) AS hb,
                       min(price_int) AS lc, max(price_int) AS hc
                FROM base),
         sc AS (SELECT o_orderkey,
                       CAST(((o_custkey - la) * 255) // (ha - la) AS BIGINT) AS x0,
                       CAST(((o_orderkey - lb) * 255) // (hb - lb) AS BIGINT) AS x1,
                       CAST(((price_int - lc) * 255) // (hc - lc) AS BIGINT) AS x2
                FROM base, mm),
         undo AS (
           SELECT o_orderkey, x0, x1, x2, CAST(128 AS BIGINT) AS q, 0 AS i
           FROM sc
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN i = 0 THEN
                         CASE WHEN (x0 & q) <> 0 THEN xor(x0, q - 1) ELSE x0 END
                       WHEN i = 1 THEN
                         CASE WHEN (x1 & q) <> 0 THEN xor(x0, q - 1)
                              ELSE xor(x0, xor(x0, x1) & (q - 1)) END
                       ELSE
                         CASE WHEN (x2 & q) <> 0 THEN xor(x0, q - 1)
                              ELSE xor(x0, xor(x0, x2) & (q - 1)) END END,
                  CASE WHEN i = 1 AND (x1 & q) = 0
                       THEN xor(x1, xor(x0, x1) & (q - 1)) ELSE x1 END,
                  CASE WHEN i = 2 AND (x2 & q) = 0
                       THEN xor(x2, xor(x0, x2) & (q - 1)) ELSE x2 END,
                  CASE WHEN i = 2 THEN q // 2 ELSE q END,
                  CASE WHEN i = 2 THEN 0 ELSE i + 1 END
           FROM undo WHERE q > 1),
         fin AS (SELECT o_orderkey, x0, x1, x2 FROM undo WHERE q = 1 AND i = 0),
         gray AS (SELECT o_orderkey, x0 AS g0, xor(x1, x0) AS g1,
                         xor(x2, xor(x1, x0)) AS g2
                  FROM fin),
         tf AS (SELECT o_orderkey, g0, g1, g2,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(range(1, 8), e ->
                           CASE WHEN (g2 & (CAST(1 AS BIGINT) << e)) <> 0
                                THEN (CAST(1 AS BIGINT) << e) - 1
                                ELSE CAST(0 AS BIGINT) END)),
                         (a, b) -> xor(a, b)) AS t
                FROM gray),
         fx AS (SELECT o_orderkey, xor(g0, t) AS f0, xor(g1, t) AS f1,
                       xor(g2, t) AS f2
                FROM tf)
         SELECT o_orderkey,
                CAST(list_sum(list_transform(range(0, 8), j ->
                  (((f0 >> j) & 1) << (3 * j + 2)) +
                  (((f1 >> j) & 1) << (3 * j + 1)) +
                  (((f2 >> j) & 1) << (3 * j)))) AS BIGINT) AS hkey
         FROM fx""",
    // 3-D Morton: same integer scaling, bit k of column c lands at 3k+c
    "z04_zorder_nd" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey,
                  CAST(floor(o_totalprice) AS BIGINT) AS price_int
           FROM orders),
         mm AS (SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                       min(o_orderkey) AS lb, max(o_orderkey) AS hb,
                       min(price_int) AS lc, max(price_int) AS hc
                FROM base),
         s AS (SELECT o_orderkey,
                      ((o_custkey - la) * 255) // (ha - la) AS sa,
                      ((o_orderkey - lb) * 255) // (hb - lb) AS sb,
                      ((price_int - lc) * 255) // (hc - lc) AS sc
               FROM base, mm)
         SELECT o_orderkey,
                CAST(list_sum(list_transform(range(0, 8), j ->
                  (((sa >> j) & 1) << (3 * j)) +
                  (((sb >> j) & 1) << (3 * j + 1)) +
                  (((sc >> j) & 1) << (3 * j + 2)))) AS BIGINT) AS zkey
         FROM s""",
    // compaction binning: same largest-first window + integer division
    "z03_compaction_plan" ->
      """SELECT lang, CAST(doc_id AS VARCHAR) AS path, n_chars AS bytes,
                CAST((SUM(n_chars) OVER w - n_chars) // 20000 AS BIGINT) AS bin
         FROM documents
         WINDOW w AS (PARTITION BY lang
                      ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR) ASC)""",
    // f07: the same normalization subset in DuckDB — identical regex
    // extracts, identical tracking-param filter, binary-collation
    // list_sort == Spark's sort_array, no-match extracts coalesced to ''
    "f07_url_canonicalize" ->
      """WITH u AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                        ELSE 'https://www.' END)
                  || source || '.Example.ORG'
                  || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                  || (CASE WHEN doc_id % 5 = 0 THEN ''
                           ELSE '/' || lang || '/doc/' ||
                                CAST(doc_id AS VARCHAR) END)
                  || '?utm_source=x&b=' || CAST(doc_id % 5 AS VARCHAR)
                  || '&a=' || CAST(doc_id % 7 AS VARCHAR)
                  || (CASE WHEN doc_id % 4 = 0 THEN '&gclid=abc'
                           ELSE '' END)
                  || '#frag' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
                  lower(COALESCE(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
                  COALESCE(regexp_extract(url,
                    '^[^:/?#]+://([^/?#]*)', 1), '') AS authority,
                  COALESCE(regexp_extract(url,
                    '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '') AS path0,
                  COALESCE(regexp_extract(
                    regexp_replace(url, '#.*$', ''), '\?(.*)$', 1), '')
                    AS query
           FROM u),
         auth AS (
           SELECT doc_id, scheme, path0, query,
                  COALESCE(regexp_extract(authority, '^(.*@)', 1), '')
                    AS userinfo,
                  lower(regexp_replace(authority, '^.*@', '')) AS hostport
           FROM parts),
         norm AS (
           SELECT doc_id, scheme, userinfo,
                  regexp_replace(hostport, ':[0-9]+$', '') AS host,
                  COALESCE(regexp_extract(hostport, ':([0-9]+)$', 1), '')
                    AS port,
                  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                  COALESCE(list_aggregate(list_sort(
                    list_filter(string_split(query, '&'),
                      p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[^=]*|fbclid|gclid|msclkid)='))),
                    'string_agg', '&'), '') AS sq
           FROM auth)
         SELECT doc_id,
                CASE WHEN scheme = '' THEN NULL
                     ELSE scheme || '://' || userinfo || host ||
                          (CASE WHEN port <> ''
                                 AND NOT ((scheme = 'http' AND port = '80')
                                  OR (scheme = 'https' AND port = '443'))
                                THEN ':' || port ELSE '' END) ||
                          path ||
                          (CASE WHEN sq <> '' THEN '?' || sq
                                ELSE '' END) END AS canonical_url
         FROM norm""",
    // URL extraction: identical RE2-safe patterns in both engines
    "f06_url_extract" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.org/' || lang || '/doc/'
                    || CAST(doc_id AS VARCHAR) || '?ref=r'
                    || CAST(doc_id % 7 AS VARCHAR) AS url
           FROM documents)
         SELECT doc_id,
                regexp_extract(url, '^https?://([^/]+)', 1) AS host,
                regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS url_path,
                regexp_extract(url, '\?(.*)$', 1) AS query
         FROM u""",
    // shard layout: the t04 fingerprint replay (base-31 mod-2^64 rolling
    // hash in HUGEINT), pmod into 8 shards, dense rank within the shard
    // ordered (hash, doc_id)
    "z02_shard_layout" ->
      """WITH fp AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS h
           FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                 FROM documents))
         SELECT doc_id,
                CAST(((h % 8) + 8) % 8 AS INT) AS shard,
                CAST(row_number() OVER (PARTITION BY ((h % 8) + 8) % 8
                                        ORDER BY h, doc_id) - 1 AS BIGINT)
                  AS pos_in_shard
         FROM fp""",
    // z05: mix64(doc_id ^ 3) replayed in HUGEINT mod-2^64 SQL, then the
    // z02 shard/rank layout over the avalanche key
    "z05_epoch_shuffle" -> z05OracleSql,
    "c02_scd2_history" ->
      """SELECT user_id, event_id, event_type,
                epoch_us(ts) AS valid_from,
                lead(epoch_us(ts)) OVER w AS valid_to,
                lead(epoch_us(ts)) OVER w IS NULL AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""",
    "c03_apply_cdc" -> c03OracleSql,
    // e36 IS c03 over everything streamed — the drained merge-on-read
    // snapshot equals the batch operator under any batching (the
    // keep-last fold is a max-semilattice), so one oracle serves both
    "e36_streaming_cdc_merge" -> c03OracleSql,
    "e01_event_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    // funnel: the same greedy min-chain, nanos replayed as micros*1000
    // (both engines integer-exact)
    "g06_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn
                     FROM events),
         s1 AS (SELECT user_id, MIN(tsn) AS t_view FROM ev
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, s1.t_view, MIN(e.tsn) AS t_click
                FROM ev e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.tsn > s1.t_view
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, MIN(e.tsn) AS t_purchase
                FROM ev e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.tsn > s2.t_click
                GROUP BY 1)
         SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
                CAST(1 + (CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END)
                       + (CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
                     AS INT) AS stage
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id""",
    // time-to-convert: the g06 chain CTEs + per-pair durations bucketed
    // g17: KM/NA survival — lifetimes, strict-< censoring cut, at-risk
    // suffix counts, 1e-6-grid hazard/ln terms cumulated as BIGINTs,
    // one final division per row (the t36 integer-ln convention)
    "g17_survival_curve" -> g17OracleSql,
    // e26: the drained streaming curve IS the batch g17 over everything
    // streamed — one oracle, zero drift by construction
    "e26_streaming_survival" -> g17OracleSql,
    // by binary-form length (both engines' bin() of a positive BIGINT)
    "g16_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn
                     FROM events),
         s1 AS (SELECT user_id, MIN(tsn) AS t_view FROM ev
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, s1.t_view, MIN(e.tsn) AS t_click
                FROM ev e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.tsn > s1.t_view
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, MIN(e.tsn) AS t_purchase
                FROM ev e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.tsn > s2.t_click
                GROUP BY 1),
         un AS (
           SELECT 'view' AS from_stage, 'click' AS to_stage,
                  s2.t_click - s2.t_view AS d
           FROM s2
           UNION ALL
           SELECT 'click', 'purchase', s3.t_purchase - s2.t_click
           FROM s3 JOIN s2 USING (user_id))
         SELECT from_stage, to_stage,
                CAST(length(bin(d)) AS INT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n_users,
                CAST(MIN(d) AS BIGINT) AS min_dur,
                CAST(MAX(d) AS BIGINT) AS max_dur
         FROM un GROUP BY 1, 2, 3""",
    // the drained streaming funnel equals the batch funnel over all
    // events — the g06 oracle verbatim
    "e14_streaming_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn
                     FROM events),
         s1 AS (SELECT user_id, MIN(tsn) AS t_view FROM ev
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, s1.t_view, MIN(e.tsn) AS t_click
                FROM ev e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.tsn > s1.t_view
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, MIN(e.tsn) AS t_purchase
                FROM ev e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.tsn > s2.t_click
                GROUP BY 1)
         SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
                CAST(1 + (CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END)
                       + (CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
                     AS INT) AS stage
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id""",
    // streamed index answers == the full-scan truth (same contract and
    // fixture as t34; the index accumulated across batches)
    "e15_streaming_substring_index" ->
      """WITH pats AS (
           SELECT substr((SELECT text FROM documents WHERE doc_id = 1),
                         6, 10) AS pattern
           UNION ALL SELECT 'zzqqxxneverthere'
           UNION ALL SELECT 'ab')
         SELECT p.pattern, d.doc_id
         FROM documents d JOIN pats p ON contains(d.text, p.pattern)""",
    // substring search truth: the plain full-scan contains — the engine's
    // index+verify must equal it exactly (losslessness is the contract)
    "t34_trigram_search" ->
      """WITH pats AS (
           SELECT substr((SELECT text FROM documents WHERE doc_id = 1),
                         6, 10) AS pattern
           UNION ALL SELECT 'zzqqxxneverthere'
           UNION ALL SELECT 'ab')
         SELECT p.pattern, d.doc_id
         FROM documents d JOIN pats p ON contains(d.text, p.pattern)""",
    // Heaps curve: window sums ordered by doc_id over the same two
    // per-doc counts (first-occurrence convention identical)
    "t33_heaps_growth" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         t2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         pd AS (SELECT doc_id, COUNT(*) AS n_tokens FROM t2 GROUP BY 1),
         fs AS (SELECT MIN(doc_id) AS doc_id FROM t2 GROUP BY token),
         nw AS (SELECT doc_id, COUNT(*) AS new_tokens FROM fs GROUP BY 1),
         base AS (
           SELECT d.doc_id,
                  COALESCE(pd.n_tokens, 0) AS n_tokens,
                  COALESCE(nw.new_tokens, 0) AS new_tokens
           FROM documents d LEFT JOIN pd USING (doc_id)
                            LEFT JOIN nw USING (doc_id))
         SELECT doc_id, n_tokens, new_tokens,
                CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
                CAST(SUM(new_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_vocab
         FROM base""",
    // Zipf OLS fit: identical integer-scaled log coordinates
    // (round(ln·10^6) as BIGINT) summed exactly (HUGEINT intermediates,
    // only the two fitted doubles reach the output), identical
    // closed-form slope/intercept division order
    "t36_zipf_fit" ->
      """WITH tok AS (
           SELECT unnest(string_split(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
           FROM documents),
         counts AS (
           SELECT tok, count(*) AS c FROM tok
           WHERE length(tok) > 0 GROUP BY tok),
         ranked AS (
           SELECT row_number() OVER (ORDER BY c DESC, tok ASC) AS rank, c
           FROM counts),
         top AS (SELECT rank, c FROM ranked WHERE rank <= 1000),
         xy AS (
           SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                  CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
           FROM top),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS n_ranks,
                  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                  CAST(sum(x * y) AS HUGEINT) AS sxy,
                  CAST(sum(x * x) AS HUGEINT) AS sxx
           FROM xy)
         SELECT n_ranks,
                round(CAST(n_ranks * sxy - sx * sy AS DOUBLE)
                      / CAST(n_ranks * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS slope,
                round((CAST(sy AS DOUBLE)
                       - (CAST(n_ranks * sxy - sx * sy AS DOUBLE)
                          / CAST(n_ranks * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / (CAST(n_ranks AS DOUBLE) * 1000000), 6) + 0.0 AS intercept
         FROM s""",
    // fuzzy decontamination: the d03 true-Jaccard oracle restricted to
    // TRAIN×BENCH pairs, then an anti-membership filter — the same
    // 100%-LSH-recall argument (fixed hashes, this fixture's planted
    // mangles) makes the engine's candidate set complete
    "d16_fuzzy_decontaminate" ->
      """WITH train AS (SELECT doc_id, text, lang FROM documents),
         bench AS (
           SELECT doc_id + 2000000 AS doc_id,
                  regexp_replace(text, '^\S+\s', '') AS text
           FROM documents WHERE doc_id % 2 = 0),
         both_sides AS (
           SELECT 'T' AS side, doc_id, text FROM train
           UNION ALL
           SELECT 'B' AS side, doc_id, text FROM bench),
         norm AS (
           SELECT side, doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM both_sides),
         grams AS (
           SELECT side, doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT side, doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT side, doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
                  a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p
           WHERE a.side = 'T' AND b.side = 'B'
           GROUP BY 1, 2, 3, 4),
         hits AS (
           SELECT DISTINCT idA FROM inter
           WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7)
         SELECT doc_id, lang FROM train
         WHERE doc_id NOT IN (SELECT idA FROM hits)""",
    // line dedup + rebuild: same corpus construction (8-word line breaks
    // + shared footer), first-occurrence truth via a row_number window,
    // documents rebuilt by ordered string_agg over surviving lines
    "d17_line_dedup_rebuild" ->
      """WITH docs2 AS (
           SELECT doc_id,
                  regexp_replace(text, '((\S+\s+){8})', '\1' || chr(10), 'g')
                    || chr(10) || 'subscribe to our newsletter today' AS text
           FROM documents),
         lines AS (
           SELECT doc_id,
                  generate_subscripts(ls, 1) AS pos,
                  UNNEST(ls) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2)),
         kept AS (
           SELECT doc_id, pos, line FROM (
             SELECT doc_id, pos, line,
                    ROW_NUMBER() OVER (
                      PARTITION BY regexp_replace(lower(trim(line)), '\s+', ' ', 'g')
                      ORDER BY doc_id, pos) AS rn
             FROM lines) WHERE rn = 1),
         counts AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
           FROM lines GROUP BY doc_id)
         SELECT kept.doc_id,
                MAX(counts.n_lines) AS n_lines,
                CAST(COUNT(*) AS BIGINT) AS n_kept,
                string_agg(kept.line, chr(10) ORDER BY kept.pos) AS text_kept
         FROM kept JOIN counts USING (doc_id)
         GROUP BY kept.doc_id""",
    // Pareto frontier: quadratic NOT-EXISTS dominance truth over the
    // same (quality, token-count) coordinates
    "c18_pareto_frontier" ->
      s"""WITH q AS ($t02QualitySql),
         tk AS (
           SELECT doc_id,
                  CAST(len(string_split(
                    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
                    AS BIGINT) AS n_tokens
           FROM documents),
         sel AS (
           SELECT q.doc_id, q.quality, tk.n_tokens
           FROM q JOIN tk USING (doc_id))
         SELECT doc_id, quality, n_tokens FROM sel a
         WHERE NOT EXISTS (
           SELECT 1 FROM sel b
           WHERE b.quality >= a.quality AND b.n_tokens <= a.n_tokens
             AND (b.quality > a.quality OR b.n_tokens < a.n_tokens))""",
    // quantile normalization: identical integer-rank position formula
    // (the split form the engine uses is an exact algebraic identity of
    // this plain one)
    "c19_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
         r AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
                  count(*) OVER (PARTITION BY source) AS n
           FROM d),
         g AS (
           SELECT n_chars AS vnorm,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS p
           FROM d),
         tot AS (SELECT count(*) AS n_total FROM d),
         tgt AS (
           SELECT doc_id, source, n_chars,
                  CASE WHEN n > 1
                       THEN (r - 1) * (n_total - 1) // (n - 1) + 1
                       ELSE (n_total + 1) // 2 END AS p
           FROM r CROSS JOIN tot)
         SELECT t.doc_id, t.source, t.n_chars, g.vnorm AS n_chars_norm
         FROM tgt t JOIN g USING (p)""",
    // RFM segmentation: per-user aggregates + the c08 histogram-quantile
    // bound construction replicated per metric at nBuckets = 4
    "g10_rfm_segments" -> g10OracleSql,
    // streaming RFM: the merge is exact (max/sum/sum), so the drained
    // report IS the batch g10 truth — same oracle
    "e17_streaming_rfm" -> g10OracleSql,
    // rolling actives: the same replicate-onto-report-days construction
    "g12_rolling_actives" -> g12OracleSql,
    // streaming rolling actives: additive pair state makes the drained
    // latest-batch-wins report the batch g12 truth — same oracle
    "e19_streaming_rolling_actives" -> g12OracleSql,
    // linear attribution truth: identical pairing predicate, identical
    // (value * cnt) / n parenthesization, round-then-DECIMAL sums
    // g20: the absorbing chain replayed — identical journey model
    // (first-conversion truncation on the (ts, event_id) order),
    // identical round-12 transition probabilities, the SAME fixed
    // 60-round value iteration as a recursive CTE with scale-12
    // DECIMAL term sums (absorbing states ride exact self-loops),
    // drops subtracted as exact decimals before the share division
    "g20_markov_attribution" -> g20OracleSql,
    // e30 IS g20 over everything streamed — one oracle, zero drift by
    // construction (the emission runs the same quantized fixed point)
    "e30_streaming_markov_attribution" -> g20OracleSql,

    // g19: earliest in-window touch per conversion (ORDER BY tts, tt ==
    // the engine's min(struct) lexicographic pick), '(none)' for
    // unattributed, DECIMAL value sums
    "g19_first_touch_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
           FROM events),
         p AS (
           SELECT event_id AS pid, user_id, ts_us AS pts, value
           FROM ev WHERE event_type = 'purchase'),
         tou AS (
           SELECT user_id, ts_us AS tts, event_type AS tt
           FROM ev WHERE event_type IN ('click', 'view')),
         pairs AS (
           SELECT p.pid, t.tts, t.tt
           FROM p JOIN tou t ON p.user_id = t.user_id
           WHERE t.tts < p.pts AND t.tts >= p.pts - 604800000000),
         f AS (
           SELECT pid, tt FROM (
             SELECT pid, tt,
                    row_number() OVER (PARTITION BY pid
                                       ORDER BY tts, tt) AS rn
             FROM pairs) WHERE rn = 1)
         SELECT COALESCE(f.tt, '(none)') AS touch_type,
                CAST(COUNT(*) AS BIGINT) AS n_conversions,
                CAST(SUM(CAST(p.value AS DECIMAL(18, 6))) AS DOUBLE)
                  AS total_value
         FROM p LEFT JOIN f ON p.pid = f.pid
         GROUP BY 1""",
    "g13_linear_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
           FROM events),
         p AS (
           SELECT event_id AS pid, user_id, ts_us AS pts, value
           FROM ev WHERE event_type = 'purchase'),
         tch AS (
           SELECT user_id, ts_us AS tts, event_type AS tt
           FROM ev WHERE event_type IN ('click', 'view')),
         pairs AS (
           SELECT p.pid, p.value, tch.tt
           FROM tch JOIN p ON tch.user_id = p.user_id
             AND tch.tts < p.pts AND tch.tts >= p.pts - 604800000000),
         census AS (
           SELECT pid, value, COUNT(*) AS n,
                  SUM(CASE WHEN tt = 'click' THEN 1 ELSE 0 END) AS c_click,
                  SUM(CASE WHEN tt = 'view' THEN 1 ELSE 0 END) AS c_view
           FROM pairs GROUP BY pid, value),
         terms AS (
           SELECT 'click' AS touch_type, c_click AS cnt, value, n FROM census
           UNION ALL
           SELECT 'view', c_view, value, n FROM census)
         SELECT touch_type,
                CAST(SUM(cnt) AS BIGINT) AS n_credited,
                CAST(SUM(CAST(ROUND((value * cnt) / n, 6) AS DECIMAL(18, 6)))
                  AS DOUBLE) AS total_credit
         FROM terms WHERE cnt > 0 GROUP BY touch_type""",
    // last-touch attribution: strict-before + 7-day-window best touch
    // per purchase, ties by greatest touch id, left-outer keeps
    // unattributed purchases
    // j12: per direction the closest candidate picks FIRST (backward:
    // greatest (tts, id) with tts <= pts; forward: least tts / greatest
    // id with tts >= pts), backward wins exact-distance ties, THEN the
    // tolerance nulls an over-distance pick without falling back — the
    // engine's documented pandas-merge_asof semantics replayed
    "j12_asof_nearest" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
           FROM events),
         p AS (
           SELECT event_id AS purchase_id, user_id,
                  ts_us AS purchase_ts_us
           FROM ev WHERE event_type = 'purchase'),
         tch AS (
           SELECT event_id AS touch_id, user_id,
                  ts_us AS touch_ts_us, event_type AS touch_type
           FROM ev WHERE event_type IN ('click', 'view')),
         cand AS (
           SELECT p.purchase_id, p.purchase_ts_us AS pts,
                  t.touch_id, t.touch_ts_us AS tts, t.touch_type
           FROM p JOIN tch t ON p.user_id = t.user_id),
         b AS (
           SELECT purchase_id, touch_id, tts, touch_type FROM (
             SELECT *, row_number() OVER (PARTITION BY purchase_id
               ORDER BY tts DESC, touch_id DESC) AS rn
             FROM cand WHERE tts <= pts) WHERE rn = 1),
         f AS (
           SELECT purchase_id, touch_id, tts, touch_type FROM (
             SELECT *, row_number() OVER (PARTITION BY purchase_id
               ORDER BY tts ASC, touch_id DESC) AS rn
             FROM cand WHERE tts >= pts) WHERE rn = 1),
         pick AS (
           SELECT p.purchase_id, p.user_id, p.purchase_ts_us,
                  CASE WHEN b.touch_id IS NULL AND f.touch_id IS NULL
                         THEN NULL
                       WHEN b.touch_id IS NULL THEN 'F'
                       WHEN f.touch_id IS NULL THEN 'B'
                       WHEN (p.purchase_ts_us - b.tts) <=
                            (f.tts - p.purchase_ts_us) THEN 'B'
                       ELSE 'F' END AS side,
                  b.touch_id AS b_id, b.tts AS b_tts,
                  b.touch_type AS b_type,
                  f.touch_id AS f_id, f.tts AS f_tts,
                  f.touch_type AS f_type
           FROM p LEFT JOIN b USING (purchase_id)
                  LEFT JOIN f USING (purchase_id)),
         chosen AS (
           SELECT purchase_id, user_id, purchase_ts_us,
                  CASE side WHEN 'B' THEN b_id WHEN 'F' THEN f_id END
                    AS touch_id,
                  CASE side WHEN 'B' THEN b_type WHEN 'F' THEN f_type END
                    AS touch_type,
                  CASE side WHEN 'B' THEN b_tts WHEN 'F' THEN f_tts END
                    AS touch_ts_us
           FROM pick)
         SELECT purchase_id, user_id, purchase_ts_us,
                CASE WHEN abs(touch_ts_us - purchase_ts_us)
                       <= 259200000000 THEN touch_id END AS touch_id,
                CASE WHEN abs(touch_ts_us - purchase_ts_us)
                       <= 259200000000 THEN touch_type END AS touch_type,
                CASE WHEN abs(touch_ts_us - purchase_ts_us)
                       <= 259200000000 THEN touch_ts_us END AS touch_ts_us
         FROM chosen""",
    "g11_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
           FROM events),
         p AS (
           SELECT event_id AS purchase_id, user_id,
                  ts_us AS purchase_ts_us, value AS purchase_value
           FROM ev WHERE event_type = 'purchase'),
         tch AS (
           SELECT event_id AS touch_id, user_id,
                  ts_us AS touch_ts_us, event_type AS touch_type
           FROM ev WHERE event_type IN ('click', 'view')),
         best AS (
           SELECT purchase_id, touch_id, touch_type, touch_ts_us FROM (
             SELECT p.purchase_id, t.touch_id, t.touch_type, t.touch_ts_us,
                    row_number() OVER (PARTITION BY p.purchase_id
                      ORDER BY t.touch_ts_us DESC, t.touch_id DESC) AS rn
             FROM p JOIN tch t
               ON p.user_id = t.user_id
              AND t.touch_ts_us < p.purchase_ts_us
              AND p.purchase_ts_us - t.touch_ts_us <= 604800000000)
           WHERE rn = 1)
         SELECT p.purchase_id, p.user_id, p.purchase_ts_us, p.purchase_value,
                b.touch_id, b.touch_type, b.touch_ts_us
         FROM p LEFT JOIN best b USING (purchase_id)""",
    // budget selection: same coordinates as c18, one window sum over the
    // composite order, prefix-cut at the literal budget
    "c20_budget_select" ->
      s"""WITH q AS ($t02QualitySql),
         tk AS (
           SELECT doc_id,
                  CAST(len(string_split(
                    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
                    AS BIGINT) AS n_tokens
           FROM documents),
         sel AS (
           SELECT q.doc_id, q.quality, tk.n_tokens
           FROM q JOIN tk USING (doc_id)),
         c AS (
           SELECT doc_id, quality, n_tokens,
                  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id)
                    AS BIGINT) AS cum_tokens
           FROM sel)
         SELECT doc_id, quality, n_tokens, cum_tokens
         FROM c WHERE cum_tokens <= 20000""",
    // label propagation: d03 true-Jaccard edges + 3 unrolled rounds with
    // the deterministic (count DESC, label ASC) rule
    "s30_label_propagation" -> s30OracleSql(3),
    // personalized PageRank: the s15 replay with seed-pinned teleport
    "s31_personalized_pagerank" -> s31OracleSql(Seq(0L, 1L, 2L, 3L, 4L)),
    // bipartite ANN join at full probe == the exact per-left top-5
    "s32_ann_join" ->
      """WITH l AS (SELECT vec_id AS query_id, embedding FROM embeddings
                    WHERE vec_id % 2 = 1),
         r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         scored AS (
           SELECT l.query_id, r.vec_id,
                  list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))) AS cosine
           FROM r CROSS JOIN l),
         ranked AS (
           SELECT query_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM scored)
         SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
                round(cosine, 6) + 0.0 AS cosine
         FROM ranked WHERE rank <= 5""",
    // BPE training: 5 unrolled census→argmax→stack-fold rounds
    "t37_bpe_train" -> t37OracleSql(5),
    // t51: the generated unrolled Viterbi-EM replay — see t51OracleSql
    "t51_unigram_lm_train" -> t51OracleSql,
    // t52: the t51 CTEs + one more unrolled Viterbi block against the
    // FINAL model + the doc-ordered piece mapping — see t52OracleSql
    "t52_unigram_encode" -> t52OracleSql,
    "t53_nb_train" -> t53OracleSql,
    // e38 IS t53 over everything streamed — summed count deltas through
    // the same smoothing arithmetic; one oracle, zero drift by
    // construction
    "e38_streaming_nb_train" -> t53OracleSql,
    "t54_nb_classify" -> t54OracleSql,
    "t55_classifier_eval" -> t55OracleSql,
    // t56/t57: the generated unrolled gradient-descent replay — see
    // lrTrainCtes
    "t56_lr_train" -> t56OracleSql,
    "t57_lr_classify" -> t57OracleSql,
    "t58_nb_cv" -> t58OracleSql,
    // t59: the generated per-n gram replay — see t59OracleSql
    "t59_bleu" -> t59OracleSql,
    "t60_chrf" -> t60OracleSql,

    // t61/t62: the block split + densitometric feature arithmetic and
    // the per-page content rebuild, replayed relationally from the
    // operator's OWN regex/entity/stopword constants
    "t61_html_extract" ->
      s"""WITH ${htmlBlocksCtes()}
         |SELECT * FROM hblocks""".stripMargin,
    "t62_html_main_content" ->
      s"""WITH ${htmlBlocksCtes()},
         |$htmlMainCte
         |SELECT * FROM hmain""".stripMargin,
    "c34_html_extract_gate" -> c34OracleSql,

    // f08: the fixture's ground truth stated relationally — the engine
    // does the real byte framing; the oracle knows what was packed
    "f08_warc_parse" -> f08OracleSql,
    // f09: framing restated (the f08 argument), the HTTP layer replayed
    // genuinely — see f09OracleSql
    "f09_warc_http" -> f09OracleSql,
    // f10: f08's fixture shipped as per-record gzip members — inflation
    // must be lossless, so the gate is f08's oracle VERBATIM
    "f10_warc_gzip" -> f08OracleSql,
    // f11: the oracle states the RECOVERED text per record — a wrong
    // charset route shows as mojibake and fails the hash
    "f11_warc_charset" ->
      """WITH recs AS (
           SELECT doc_id % 50 AS warc_id, doc_id,
                  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
                  200 AS http_status, 'text/html' AS mime,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
                    ELSE 'windows-1252' END AS charset,
                  (CASE WHEN doc_id % 3 = 2 THEN 'café € naïve '
                        ELSE 'café naïve ' END) || text AS text
           FROM documents)
         SELECT warc_id,
                CAST(row_number() OVER (PARTITION BY warc_id
                                        ORDER BY doc_id) - 1 AS INT) AS record_no,
                target_uri, http_status, mime, charset, text
         FROM recs""",

    // f12: headers + recovered text restated from fixture math (the
    // f10/f11 byte-transform posture) — a wrong dechunk shows hex
    // framing, a wrong inflate shows compressed garbage, a wrong
    // ORDER dies structurally; all three fail the stated text
    "f12_http_transfer_codings" ->
      """WITH recs AS (
           SELECT doc_id % 50 AS warc_id, doc_id,
                  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
                  200 AS http_status, 'text/html' AS mime,
                  CASE WHEN doc_id % 4 IN (1, 3) THEN 'chunked'
                       ELSE '' END AS transfer_encoding,
                  CASE WHEN doc_id % 4 IN (2, 3) THEN 'gzip'
                       ELSE '' END AS content_encoding,
                  'mode:' || CAST(doc_id % 4 AS VARCHAR) || ' ' || text AS text
           FROM documents)
         SELECT warc_id,
                CAST(row_number() OVER (PARTITION BY warc_id
                                        ORDER BY doc_id) - 1 AS INT) AS record_no,
                target_uri, http_status, mime, transfer_encoding,
                content_encoding, text
         FROM recs""",
    // f13: the effective charset and recovered text restated per
    // precedence branch — a wrong precedence or route is mojibake
    // (the é/€/日本語 markers) and fails the hash
    "f13_charset_sniff" ->
      """WITH recs AS (
           SELECT doc_id % 50 AS warc_id, doc_id,
                  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
                  200 AS http_status, 'text/html' AS mime,
                  CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN 'iso-8859-1' WHEN 1 THEN 'windows-1252'
                    WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'utf-8'
                    WHEN 4 THEN '' ELSE 'utf-16le' END AS charset,
                  CASE CAST(doc_id % 6 AS INT)
                    WHEN 1 THEN '<html><head><meta charset="windows-1252"></head><body>café € naïve ' || text || '</body></html>'
                    WHEN 2 THEN '<html><head><meta http-equiv="Content-Type" content="text/html; charset=shift_jis"></head><body>日本語テスト ' || text || '</body></html>'
                    WHEN 5 THEN 'utf16 café ' || text
                    ELSE 'café naïve ' || text END AS text
           FROM documents)
         SELECT warc_id,
                CAST(row_number() OVER (PARTITION BY warc_id
                                        ORDER BY doc_id) - 1 AS INT) AS record_no,
                target_uri, http_status, mime, charset, text
         FROM recs""",

    // f14: captures restated from fixture math (framing is the byte
    // kernel's job, digests are md5 both engines compute identically);
    // the keep-earliest-response argmin, the capture/revisit counts
    // and the dangling-digest drop replay GENUINELY
    "f14_warc_digest_dedup" -> f14OracleSql,
    // e52 drains to batch f14 under any sharding (banked capture
    // facts; min_by over an unordered union is order-free)
    "e52_streaming_digest_dedup" -> f14OracleSql,
    // e53 drains to batch t73 under any sharding (banked edge facts;
    // the collapse walk is a pure function of the edge set)
    "e53_streaming_redirects" -> t73OracleSql,
    // c38: f14's dedup through the YAML registry + the dup-only filter
    "c38_config_digest_dedup" ->
      s"""SELECT * FROM ($f14OracleSql) WHERE n_captures > 1""",

    "t64_site_template_extract" -> t64OracleSql,
    // e47 drains to batch t64 under any batching (merge-on-read; the
    // frequency rule applies at READ over all banked evidence)
    "e47_streaming_site_template" -> t64OracleSql,

    // t63/g22: outlink extraction + canonicalization, and the web-graph
    // PageRank composition (s15's iteration CTEs over parsed link edges)
    "t63_html_outlinks" ->
      s"""WITH $linkPagesCtes,
         |${canonicalUrlCtes()}
         |SELECT doc_id, url, canonical_url FROM cu""".stripMargin,
    "g22_web_pagerank" -> g22OracleSql,
    // e49 drains to batch g22 under any batching (merge-on-read: state
    // holds edge facts, the read runs the shared PageRank)
    "e49_streaming_web_graph" -> g22OracleSql,
    // t65: RFC 3986 reference resolution, replayed rewrite-for-rewrite
    "t65_url_resolve" -> t65OracleSql,
    // t66/t67: the t61/t63 chains over tag-soup pages — the unclosed
    // script/style containment and quote normalization replay through
    // the SAME shared CTE builders
    "t66_tagsoup_extract" ->
      s"""WITH ${htmlBlocksCtes(5, "documents", soupWrapSql)}
         |SELECT * FROM hblocks""".stripMargin,
    // t68/t69: the anchor-text-by-target side product and the RFC 9309
    // robots admission gate — grammar, stacked groups and the
    // longest-match argmax replayed relationally
    "t68_anchor_text" -> t68OracleSql,
    // t71: the <base href> re-rooted link chain, replayed genuinely
    // end to end (both resolve chains, prefixed CTE instantiations)
    "t71_base_href" -> t71OracleSql,
    // t73: redirect-chain collapse — screen/resolve/unrolled-joins/
    // anti-lookup replayed genuinely, record table fixture-restated
    "t73_redirect_chains" -> t73OracleSql,
    // t74: meta-robots directives + nofollow link policy, genuine
    "t74_meta_robots" -> t74OracleSql,
    // t76/t77: head-metadata extraction and the rel=canonical dedup
    // group — both replayed genuinely
    "t76_page_metadata" -> t76OracleSql,
    "t77_canonical_dedup" -> t77OracleSql,
    "t69_robots_filter" -> t69OracleSql,
    // t72: §2.2.3 wildcard admission — the pattern compile replayed
    // rewrite-for-rewrite through the shared match builder
    "t72_robots_wildcards" -> t72OracleSql,
    // t70: per-host sitemap assembly + the block parse, both replayed
    "t70_sitemap_parse" ->
      """WITH entries AS (
           SELECT source AS host, doc_id,
                  '<url><loc> http://' || source || '.example/doc/' ||
                  CAST(doc_id AS VARCHAR) || ' </loc>' ||
                  (CASE WHEN doc_id % 4 = 0 THEN ''
                        ELSE '<lastmod>2024-01-' ||
                             lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
                             '</lastmod>' END) ||
                  (CASE WHEN doc_id % 5 = 0 THEN ''
                        ELSE '<priority>0.' || CAST(doc_id % 10 AS VARCHAR) ||
                             '</priority>' END) ||
                  '</url>' AS e
           FROM documents),
         xmls AS (
           SELECT host, '<?xml version="1.0"?><urlset>' ||
                  string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
           FROM entries GROUP BY host),
         blocks AS (
           SELECT host, unnest(string_split(xml, '</url>')) AS b FROM xmls),
         parsed AS (
           SELECT host,
                  trim(COALESCE(regexp_extract(b,
                    '(?s)<loc>([^<]*)</loc>', 1), '')) AS loc,
                  trim(COALESCE(regexp_extract(b,
                    '(?s)<lastmod>([^<]*)</lastmod>', 1), '')) AS lastmod,
                  CAST(nullif(trim(COALESCE(regexp_extract(b,
                    '(?s)<priority>([^<]*)</priority>', 1), '')), '')
                    AS DOUBLE) AS priority
           FROM blocks)
         SELECT host, loc, lastmod, priority FROM parsed WHERE loc <> ''""",
    // g23: frontier scheduling — counts/robots/budget replayed
    // genuinely, candidates ground-truth-restated (chain t63/t67-gated)
    "g23_crawl_frontier" -> g23OracleSql,
    // e50 drains to batch g23 under any batching (additive count facts,
    // read runs the shared scheduleCounts)
    "e50_streaming_frontier" -> g23OracleSql,
    // g24: the sitemap discovery channel wired into scheduling —
    // merge/score/gates/budget replayed genuinely, candidates and
    // sitemap entries ground-truth-restated (chains t63/t70-gated)
    "g24_sitemap_frontier" -> g24OracleSql,
    // e51 drains to batch g24 under any batching (same additive count
    // facts as e50; sitemap entries are read-side config)
    "e51_streaming_sitemap_frontier" -> g24OracleSql,
    // g25: freshness recrawl — reason/gate/rank/pacing + the
    // crawl-delay group grammar replayed genuinely
    "g25_recrawl_schedule" -> g25OracleSql,
    "t67_tagsoup_outlinks" ->
      s"""WITH spages AS (SELECT doc_id, $soupWrapSql AS html FROM documents),
         |sraw AS (
         |  SELECT doc_id,
         |         unnest(regexp_extract_all(${normalizeHrefSql("html")},
         |           '${graft.operators.Html.hrefRe}', 1)) AS url
         |  FROM spages),
         |u AS (SELECT doc_id, url FROM sraw WHERE url <> ''),
         |${canonicalUrlCtes()}
         |SELECT doc_id, url, canonical_url FROM cu""".stripMargin,

    // c35/c36: the registry's near-dup screen and PII redaction stages,
    // gated by d03's pair truth / t17's redaction chain verbatim (the
    // shared CTE builders)
    "c35_config_neardup_screen" ->
      s"""WITH $d03Docs2Cte,
         |${nearDupPairCtes(0.7)}
         |SELECT d.doc_id, d.text FROM docs2 d
         |ANTI JOIN (SELECT DISTINCT idB AS doc_id FROM ndpairs) x USING (doc_id)"""
        .stripMargin,
    "c36_config_pii_redact" ->
      s"""WITH $t17AugCte
         |SELECT doc_id, ${piiRedactExprSql("text")} AS text FROM aug"""
        .stripMargin,
    "e44_streaming_config_neardup" -> e44OracleSql,
    "e45_streaming_config_pii" -> e45OracleSql,
    "c37_config_web_pipeline" -> c37OracleSql,
    "e46_streaming_config_extract" -> e46OracleSql,
    "e48_streaming_warc_ingest" -> e48OracleSql,

    // c33: the t57 chain's kept set — docs whose round-6 sigmoid clears
    // 0.5 — with the fixture's lang attached
    "c33_config_lr_screen" -> (
      s"""WITH tr AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |                   text || ' mk' || lang AS text
         |            FROM documents WHERE doc_id % 7 <> 3),
         |te AS (SELECT doc_id, 0 AS y, text || ' mk' || lang AS text
         |       FROM documents WHERE doc_id % 7 = 3),
         |${lrTrainCtes("tr", 64, 10, "10.0")},
         |${lrFeatCtes("te", "te", 64)},
         |sm AS (
         |  SELECT f.doc_id,
         |         SUM(CAST(ROUND(f.x * CAST(w.w AS DOUBLE), 9) AS DECIMAL(28,9))) AS m
         |  FROM featte f JOIN w10 w USING (bucket) GROUP BY 1)
         |SELECT sm.doc_id, d.lang
         |FROM sm JOIN documents d USING (doc_id)
         |WHERE ROUND(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 6) + 0.0 >= 0.5""".stripMargin),
    // e40 must equal batch t56 over everything streamed — same oracle
    "e40_streaming_lr_train" -> t56OracleSql,
    // e39 IS t55 over everything streamed — summed confusion deltas
    // through the same metric tail; one oracle, zero drift by
    // construction
    "e39_streaming_classifier_eval" -> t55OracleSql,
    // media integrity: byte lengths via octet_length over encode()d
    // blobs (no blob substring — the truncation happens on the VARCHAR)
    "m07_media_integrity" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 11 = 0 THEN 'png' ELSE 'txt' END AS fmt,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_meta,
                  CAST(octet_length(encode(
                    CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 10)
                         ELSE text END)) AS BIGINT) AS n_content
           FROM documents)
         SELECT media_id,
                fmt = 'txt' AS f_format,
                n_meta BETWEEN 50 AND 100000 AS f_size,
                n_content > 0 AS f_nonempty,
                n_content = n_meta AS f_len_match,
                (fmt = 'txt' AND n_meta BETWEEN 50 AND 100000
                 AND n_content > 0 AND n_content = n_meta) AS ok
         FROM m""",
    // Gopher rules: identical integer cross-multiplications per flag
    "t40_gopher_rules" ->
      """WITH base AS (
           SELECT doc_id, COALESCE(text, '') AS text,
                  list_filter(string_split(
                    regexp_replace(lower(trim(COALESCE(text, ''))), '\s+', ' ', 'g'),
                    ' '), w -> length(w) > 0) AS ws
           FROM documents),
         m AS (
           SELECT doc_id, ws,
                  CAST(len(ws) AS BIGINT) AS n_words,
                  CAST(list_sum(list_prepend(0,
                    list_transform(ws, w -> length(w)))) AS BIGINT) AS sum_len,
                  CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT) AS hashes,
                  CAST((length(text) - length(replace(text, '...', ''))) // 3
                    AS BIGINT) AS ellipses,
                  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                    AS BIGINT) AS alpha_words,
                  CAST(len(list_filter(
                    ['the','be','to','of','and','that','have','with'],
                    sw -> list_contains(ws, sw))) AS BIGINT) AS stop_hits,
                  list_filter(list_transform(string_split(text, chr(10)),
                    l -> trim(l)), l -> length(l) > 0) AS lines
           FROM base),
         m2 AS (
           SELECT *, CAST(len(lines) AS BIGINT) AS n_lines,
                  CAST(len(list_filter(lines,
                    l -> regexp_matches(l, '^[-*•]'))) AS BIGINT) AS bullets,
                  CAST(len(list_filter(lines, l -> ends_with(l, '...')))
                    AS BIGINT) AS ell_end
           FROM m)
         SELECT doc_id, n_words,
                n_words BETWEEN 50 AND 100000 AS f_words,
                (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
                  AS f_mean_word_len,
                (10 * (hashes + ellipses) <= n_words) AS f_symbol_ratio,
                (10 * alpha_words >= 8 * n_words) AS f_alpha_words,
                (stop_hits >= 2) AS f_stopwords,
                (10 * bullets <= 9 * n_lines) AS f_bullets,
                (10 * ell_end <= 3 * n_lines) AS f_ellipsis,
                (n_words BETWEEN 50 AND 100000
                 AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
                 AND 10 * (hashes + ellipses) <= n_words
                 AND 10 * alpha_words >= 8 * n_words
                 AND stop_hits >= 2
                 AND 10 * bullets <= 9 * n_lines
                 AND 10 * ell_end <= 3 * n_lines) AS keep
         FROM m2""",
    // phrase-hit truth: token-slice equality over every window position
    // (overlaps counted), word boundaries by construction of the token
    // list, same normalization chain
    "t43_phrase_hits" ->
      """WITH p AS (
           SELECT * FROM (VALUES ('table scan'), ('batch batch'),
             ('batch batch batch'), ('quantum flux capacitor')) t(phrase)),
         pp AS (
           SELECT phrase, string_split(phrase, ' ') AS pt,
                  len(string_split(phrase, ' ')) AS L
           FROM p),
         toks AS (
           SELECT doc_id,
                  list_filter(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    w -> length(w) > 0) AS ts
           FROM documents),
         c AS (
           SELECT t.doc_id, pp.phrase,
                  len(list_filter(range(1, len(t.ts) - pp.L + 2),
                    i -> list_slice(t.ts, CAST(i AS INT),
                           CAST(i AS INT) + pp.L - 1) = pp.pt)) AS n_hits
           FROM toks t CROSS JOIN pp)
         SELECT doc_id, phrase, CAST(n_hits AS BIGINT) AS n_hits
         FROM c WHERE n_hits > 0""",
    // exact AUC truth via window ranks: doubled midranks 2·RANK + c − 1
    // keep it integer (RANK = cumBefore + 1), same one-division finish
    "t41_quality_auc" ->
      s"""WITH q AS ($t02QualitySql),
         j AS (
           SELECT q.quality AS s,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q JOIN documents d USING (doc_id)),
         r AS (
           SELECT y,
                  2 * RANK() OVER (ORDER BY s)
                    + COUNT(*) OVER (PARTITION BY s) - 1 AS m2
           FROM j),
         agg AS (
           SELECT CAST(SUM(CASE WHEN y = 1 THEN m2 ELSE 0 END) AS BIGINT) AS s2,
                  CAST(SUM(y) AS BIGINT) AS np,
                  CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
           FROM r)
         SELECT CASE WHEN np > 0 AND nn > 0
                  THEN ROUND(CAST(s2 - np * (np + 1) AS DOUBLE)
                             / (2.0 * np * nn), 6) + 0.0
                END AS auc,
                np AS n_pos, nn AS n_neg
         FROM agg""",
    // PR-AUC truth: the same per-distinct-score trapezoids — cumulative
    // integer counts via window sums (CTE-internal, cast), formulas in
    // the engine's exact evaluation order, round-10 DECIMAL summation
    "t48_quality_pr_auc" ->
      s"""WITH q AS ($t02QualitySql),
         j AS (
           SELECT q.quality AS s,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q JOIN documents d USING (doc_id)),
         g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c,
                      CAST(SUM(y) AS BIGINT) AS p
               FROM j GROUP BY s),
         cum AS (SELECT s, c, p,
                        CAST(SUM(c) OVER (ORDER BY s) AS BIGINT) AS cumc,
                        CAST(SUM(p) OVER (ORDER BY s) AS BIGINT) AS cump
                 FROM g),
         tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n,
                        CAST(COALESCE(SUM(p), 0) AS BIGINT) AS np
                 FROM g),
         terms AS (
           SELECT n, np,
                  ROUND((CAST(p AS DOUBLE) / CAST(np AS DOUBLE)) *
                        ((CAST(np - cump + p AS DOUBLE)
                            / CAST(n - cumc + c AS DOUBLE)
                          + CASE WHEN n - cumc = 0 THEN 1.0
                                 ELSE CAST(np - cump AS DOUBLE)
                                      / CAST(n - cumc AS DOUBLE) END)
                         / 2.0), 10) + 0.0 AS t
           FROM cum CROSS JOIN tot)
         SELECT CASE WHEN np > 0
                  THEN ROUND(CAST(SUM(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 6)
                       + 0.0 END AS pr_auc,
                CASE WHEN n > 0
                  THEN ROUND(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
                END AS baseline,
                np AS n_pos, n - np AS n_neg
         FROM terms GROUP BY n, np""",
    // calibration truth: identical double bin arithmetic, DECIMAL sums
    "t42_quality_calibration" ->
      s"""WITH q AS ($t02QualitySql),
         j AS (
           SELECT q.quality,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q JOIN documents d USING (doc_id))
         SELECT CAST(LEAST(CAST(FLOOR(quality * 10) AS INT), 9) AS INT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(quality AS DECIMAL(18, 6))) AS DOUBLE)
                  AS sum_pred,
                CAST(SUM(y) AS BIGINT) AS n_pos,
                ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) + 0.0 AS frac_pos
         FROM j GROUP BY 1""",
    // Kneser–Ney: the t21 count CTEs plus continuation/history type
    // tables; identical parenthesization so the IEEE doubles agree,
    // per-gram ln rounded 4, DECIMAL sum, mean rounded 6
    "t39_kneser_ney" ->
      """WITH norm AS (
           SELECT doc_id,
                  list_filter(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    w -> length(w) > 0) AS ws
           FROM documents),
         docb AS (
           SELECT doc_id, u.w1 AS w1, u.g AS g FROM (
             SELECT doc_id, UNNEST(list_transform(range(1, len(ws)),
                      i -> struct_pack(w1 := ws[CAST(i AS INT)],
                                       g := ws[CAST(i AS INT)] || ' ' ||
                                            ws[CAST(i + 1 AS INT)]))) AS u
             FROM norm WHERE len(ws) >= 2)),
         cb AS (SELECT g, count(*) AS cb FROM docb GROUP BY g),
         cu AS (SELECT w1, count(*) AS cu FROM docb GROUP BY w1),
         n1f AS (SELECT w1x AS w1, count(*) AS n1f FROM (
                   SELECT string_split(g, ' ')[1] AS w1x FROM cb) GROUP BY 1),
         n1b AS (SELECT w2x AS w2, count(*) AS n1b FROM (
                   SELECT string_split(g, ' ')[2] AS w2x FROM cb) GROUP BY 1),
         bt AS (SELECT count(*) AS bt FROM cb),
         scored AS (
           SELECT doc_id,
                  CAST(round(ln(
                    (CAST(cb.cb AS DOUBLE) - 0.75) / CAST(cu.cu AS DOUBLE)
                    + (0.75 * CAST(f.n1f AS DOUBLE) / CAST(cu.cu AS DOUBLE))
                      * (CAST(b2.n1b AS DOUBLE) / CAST(bt.bt AS DOUBLE))), 4)
                    AS DECIMAL(28,6)) AS logp
           FROM docb
           JOIN cb USING (g) JOIN cu USING (w1)
           JOIN n1f f ON f.w1 = docb.w1
           JOIN n1b b2 ON b2.w2 = string_split(docb.g, ' ')[2]
           CROSS JOIN bt)
         SELECT doc_id, count(*) AS n_bigrams,
                round(CAST(sum(logp) AS DOUBLE) / count(*), 6) + 0.0
                  AS avg_logp_kn
         FROM scored GROUP BY doc_id""",
    // BPE encoding: the trained merges applied per word in rank order
    "t38_bpe_encode" -> t38OracleSql(5),
    // KS drift: exact empirical CDFs over the merged value domain,
    // per-value |ΔCDF| rounded to 6, max with smallest-value ties
    "c22_ks_drift" -> c22OracleSql,
    // skew report: per-key counts + the c08 bound rule at b=99/100 for
    // the exact p99; mean/ratio as rounded doubles
    "v02_skew_report" ->
      """WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         h AS (SELECT CAST(n AS DOUBLE) AS v, count(*) AS c FROM k GROUP BY 1),
         nt AS (SELECT SUM(c) AS n FROM h),
         cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
         p99 AS (
           SELECT MIN(v) AS bound FROM cum
           WHERE cum >= (99 * (SELECT n FROM nt) + 99) // 100),
         s AS (
           SELECT count(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS total_rows,
                  MAX(n) AS max_rows
           FROM k)
         SELECT n_keys, total_rows, max_rows,
                CAST((SELECT bound FROM p99) AS BIGINT) AS p99_rows,
                round(CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
                  + 0.0 AS mean_rows,
                round(CAST(max_rows AS DOUBLE)
                      / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6)
                  + 0.0 AS skew_ratio
         FROM s""",
    // k-anonymity: GROUP BY the quasi-id tuple, flags replayed with the
    // same k=5 / l=3 literals; hour/bucket arithmetic mirrors the engine
    // (integer micros floor-div; IEEE FLOOR on value/10)
    "v03_k_anonymity" -> v03OracleSql,
    // g18: the g08 transition CTEs extended with the entropy fold —
    // identical p·ln p expression, round-9 → DECIMAL(28,9) sums,
    // ln(k) normalization, k=1 NULL
    "g18_transition_entropy" -> g18OracleSql,
    // e28 IS g18 over everything streamed — one oracle, zero drift by
    // construction (the emission calls the same entropy fold)
    "e28_streaming_transition_entropy" -> g18OracleSql,
    // v06: the t17 pattern battery over the expired slice — per-kind
    // row/hit counts, strict-< cutoff, planted-PII augmentation replayed
    "v06_retention_audit" ->
      """WITH aug AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                            || '@mail.test from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR) || '.7'
                       ELSE text END AS text,
                  (doc_id % 30) * 86400000000 AS created_us
           FROM documents),
         ex AS (SELECT * FROM aug WHERE created_us < 1296000000000),
         c AS (SELECT
                 CAST(COUNT(*) AS BIGINT) AS n_expired,
                 CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_email,
                 CAST(COALESCE(SUM(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))), 0)
                   AS BIGINT) AS h_email,
                 CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(text,
                   '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) > 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_ipv4,
                 CAST(COALESCE(SUM(len(regexp_extract_all(text,
                   '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))), 0) AS BIGINT)
                   AS h_ipv4,
                 CAST(COALESCE(SUM(CASE WHEN len(regexp_extract_all(text,
                   '[+]?[0-9][0-9 ()-]{7,}[0-9]')) > 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_phone,
                 CAST(COALESCE(SUM(len(regexp_extract_all(text,
                   '[+]?[0-9][0-9 ()-]{7,}[0-9]'))), 0) AS BIGINT) AS h_phone
               FROM ex)
         SELECT 'email' AS kind, n_expired, d_email AS n_rows_with_kind,
                h_email AS n_hits FROM c
         UNION ALL
         SELECT 'ipv4', n_expired, d_ipv4, h_ipv4 FROM c
         UNION ALL
         SELECT 'phone', n_expired, d_phone, h_phone FROM c""",
    // v07: the Laplace mechanism replayed — the UNSIGNED base-31
    // polynomial over the md5 image (HUGEINT mod 2^64, one correctly-rounded cast to
    // DOUBLE, matching the engine's DECIMAL(38,0) route), identical
    // inverse-CDF expression with the 1e-12 clamp, identical literals
    "v07_dp_release" ->
      """WITH c AS (
           SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
         h AS (
           SELECT event_type, n,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ks)+1),
                           i -> CAST(unicode(substr(ks, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS u
           FROM (SELECT event_type, n,
                        md5('v07:' || chr(31) ||
                            COALESCE(event_type, chr(30))) AS ks FROM c)),
         z AS (
           SELECT event_type, n,
                  -2.0 * sign(u - 0.5) *
                  ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) AS noise
           FROM h)
         SELECT event_type, CAST(0.5 AS DOUBLE) AS epsilon,
                ROUND(CAST(n AS DOUBLE) + noise, 6) + 0.0 AS released,
                greatest(CAST(ROUND(CAST(n AS DOUBLE) + noise, 0) AS BIGINT),
                         0) AS released_count
         FROM z""",
    // v08: the noisy-average composition replayed — clamped values sum
    // exactly as DECIMAL(28,6), then TWO domain-separated draws of the
    // identical seeded-Laplace recipe at ε/2 each (b = 400 for the sum,
    // b = 4 for the count), identical clamps and roundings
    "v08_dp_mean_release" ->
      """WITH c AS (
           SELECT event_type,
                  SUM(CAST(least(greatest(value, 0.0), 100.0)
                        AS DECIMAL(28,6))) AS s,
                  COUNT(*) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         u AS (
           SELECT event_type, s, n,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(kss)+1),
                           i -> CAST(unicode(substr(kss, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS us,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ksc)+1),
                           i -> CAST(unicode(substr(ksc, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS uc
           FROM (SELECT event_type, s, n,
                        md5('v08:S:' || chr(31) ||
                            COALESCE(event_type, chr(30))) AS kss,
                        md5('v08:C:' || chr(31) ||
                            COALESCE(event_type, chr(30))) AS ksc FROM c)),
         z AS (
           SELECT event_type,
                  CAST(s AS DOUBLE) +
                  (-400.0) * sign(us - 0.5) *
                    ln(greatest(1.0 - 2.0 * abs(us - 0.5), 1e-12)) AS ns,
                  CAST(n AS DOUBLE) +
                  (-4.0) * sign(uc - 0.5) *
                    ln(greatest(1.0 - 2.0 * abs(uc - 0.5), 1e-12)) AS nn
           FROM u)
         SELECT event_type, CAST(0.5 AS DOUBLE) AS epsilon,
                ROUND(ns / greatest(ROUND(nn, 6) + 0.0, 1.0), 6) + 0.0
                  AS released_mean,
                greatest(CAST(ROUND(nn, 0) AS BIGINT), 0) AS released_n
         FROM z""",
    // v09: the grid histogram replayed — identical clamp/bucket
    // expression, the same md5-expanded seeded-Laplace draw per grid
    // bucket (empty buckets included)
    "v09_dp_histogram" ->
      """WITH c AS (
           SELECT LEAST(CAST(FLOOR((LEAST(GREATEST(value, 0.0), 100.0)
                    - 0.0) / 10.0) AS INT), 9) AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         g AS (SELECT CAST(i AS INT) AS bucket FROM range(0, 10) t(i)),
         h AS (SELECT g.bucket, COALESCE(c.n, 0) AS n,
                      md5('v09:' || chr(31) ||
                          CAST(g.bucket AS VARCHAR)) AS ks
               FROM g LEFT JOIN c USING (bucket)),
         u AS (
           SELECT bucket, n,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ks)+1),
                           i -> CAST(unicode(substr(ks, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS u
           FROM h),
         z AS (
           SELECT bucket, n,
                  -2.0 * sign(u - 0.5) *
                  ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) AS noise
           FROM u)
         SELECT bucket, CAST(0.0 + bucket * 10.0 AS DOUBLE) AS lo_edge,
                CAST(0.0 + (bucket + 1) * 10.0 AS DOUBLE) AS hi_edge,
                CAST(0.5 AS DOUBLE) AS epsilon,
                ROUND(CAST(n AS DOUBLE) + noise, 6) + 0.0 AS released,
                greatest(CAST(ROUND(CAST(n AS DOUBLE) + noise, 0) AS BIGINT),
                         0) AS released_count
         FROM z""",
    // v11: the stability-histogram release replayed — identical
    // bounded-token derivation (distinct → sort → first 30), the same
    // seeded Laplace(L/ε) draw per token through the md5 + poly_hash64
    // recipe, threshold compared on the RAW noisy value
    "v11_dp_token_release" ->
      """WITH aug AS (
           SELECT text || ' mtok' || CAST(doc_id % 20 AS VARCHAR) ||
                  (CASE WHEN doc_id % 4 = 1
                        THEN ' rtok' || CAST(doc_id AS VARCHAR)
                        ELSE '' END) AS text
           FROM documents),
         dt AS (
           SELECT UNNEST(list_slice(list_sort(list_filter(list_distinct(
                    string_split(regexp_replace(lower(trim(text)),
                      '\s+', ' ', 'g'), ' ')), x -> x <> '')), 1, 30))
                  AS token
           FROM aug),
         c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
               FROM dt GROUP BY 1),
         h AS (SELECT token, n,
                      md5('v11:' || chr(31) || token) AS ks FROM c),
         u AS (
           SELECT token, n,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ks)+1),
                           i -> CAST(unicode(substr(ks, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS u
           FROM h),
         z AS (
           SELECT token, n,
                  CAST(n AS DOUBLE) + (-6.0) * sign(u - 0.5) *
                  ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) AS nz
           FROM u)
         SELECT token, CAST(5.0 AS DOUBLE) AS epsilon,
                ROUND(nz, 6) + 0.0 AS released
         FROM z WHERE nz >= 10.0""",
    // v12: the DP NB model release replayed — the v11 bounded-token
    // derivation keyed by (label, token), the same seeded Laplace(30/ε)
    // draw per coordinate (key = seed‖label‖token through chr(31)),
    // threshold on the RAW noisy value, then the post-processing model
    // tail over released values only (DECIMAL-routed round-6 counts,
    // round-9 ln)
    "v12_dp_nb_model" -> v12OracleSql,
    // e42 must equal batch v12 over everything streamed — same replay
    "e42_streaming_dp_nb_release" -> v12OracleSql,
    // v10: the exponential mechanism replayed — identical clamp/bucket,
    // bucketed ranks from the same triangular grid join, the SAME
    // seeded uniform per (quantile, grid point) through the md5 +
    // poly_hash64 recipe, the identical Gumbel expression, argmax ties
    // to the smaller grid index
    "v10_dp_quantiles" ->
      """WITH vals AS (
           SELECT LEAST(GREATEST(value, 0.0), 100.0) AS v
           FROM events WHERE value IS NOT NULL),
         c AS (
           SELECT LEAST(CAST(FLOOR((v - 0.0) / 5.0) AS INT), 19) AS b,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM vals GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
         g AS (SELECT CAST(i AS INT) AS gi FROM range(0, 21) t(i)),
         r AS (
           SELECT g.gi, COALESCE(SUM(c.cnt), 0) AS rnk
           FROM g LEFT JOIN c ON c.b < g.gi GROUP BY 1),
         q AS (SELECT CAST(q AS DOUBLE) AS q, qi FROM (VALUES
                 (0.1, 0), (0.5, 1), (0.9, 2)) AS t(q, qi)),
         s AS (
           SELECT q.q, q.qi, r.gi, r.rnk,
                  md5('v10:' || chr(31) || CAST(q.qi AS VARCHAR) ||
                      chr(31) || CAST(r.gi AS VARCHAR)) AS ks
           FROM q CROSS JOIN r),
         u AS (
           SELECT q, qi, gi, rnk,
                  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                         list_transform(range(1, length(ks)+1),
                           i -> CAST(unicode(substr(ks, CAST(i AS INT), 1)) AS HUGEINT))),
                       (a, ch) -> (a * 31 + ch) % 18446744073709551616::HUGEINT)
                    AS DOUBLE) / 1.8446744073709552e19 AS u
           FROM s),
         z AS (
           SELECT q, gi,
                  0.25 * (-abs(CAST(rnk AS DOUBLE) -
                               q * CAST((SELECT n FROM n) AS DOUBLE)))
                  + (-ln(-ln(GREATEST(LEAST(u, 1.0 - 1e-12), 1e-12))))
                    AS s
           FROM u),
         pick AS (
           SELECT q, gi FROM (
             SELECT q, gi,
                    row_number() OVER (PARTITION BY q
                                       ORDER BY s DESC, gi ASC) AS rn
             FROM z) WHERE rn = 1)
         SELECT q, CAST(0.5 AS DOUBLE) AS epsilon,
                CAST(0.0 + gi * 5.0 AS DOUBLE) AS released_value
         FROM pick""",
    // v04: categorical EMD — present-value |c·N − g·n| terms in HUGEINT,
    // the absent-value mass folded in algebraically, one final division
    // v04: the generated shared categorical-EMD replay — see v04OracleSql
    "v04_t_closeness" -> v04OracleSql,
    // v05: ordered EMD over the m-value global grid — per-class
    // cumulative sums, HUGEINT terms, one final division by n·N·(m−1)
    // v05: the generated shared ordered-EMD replay — see v05OracleSql
    "v05_t_closeness_ordered" -> v05OracleSql,
    // the e-series contract: the drained latest-batch-wins audit equals
    // the batch v03 over the full event history
    "e24_streaming_k_anonymity" -> v03OracleSql,
    // e31 IS v04 over everything streamed — one oracle, zero drift by
    // construction (the drained report runs the same distance arithmetic)
    "e31_streaming_t_closeness" -> v04OracleSql,
    // e32 IS v05 over everything streamed — same monitor, ordered path
    "e32_streaming_t_closeness_ordered" -> v05OracleSql,
    // dataset card: every stat replayed with the engine's exact
    // arithmetic (DECIMAL quality sum, rounded-then-DECIMAL entropy
    // terms, md5-of-normalized dup definition)
    "c23_dataset_card" ->
      s"""WITH qual AS ($t02QualitySql),
         toks AS (
           SELECT string_split(
                    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                    ' ') AS ts,
                  text
           FROM documents),
         stats AS (
           SELECT count(*) AS n_docs,
                  CAST(SUM(len(ts)) AS BIGINT) AS n_tokens,
                  count(DISTINCT md5(
                    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS nd
           FROM toks),
         qs AS (SELECT CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE)
                  AS sq FROM qual),
         vocab AS (
           SELECT count(DISTINCT t) AS vocab_size
           FROM (SELECT unnest(ts) AS t FROM toks) WHERE length(t) > 0),
         lang AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         ent AS (
           SELECT CAST(count(*) AS BIGINT) AS n_langs,
                  CAST(SUM(CAST(round(
                    (CAST(c AS DOUBLE) / (SELECT n_docs FROM stats))
                    * ln(CAST(c AS DOUBLE) / (SELECT n_docs FROM stats)), 8)
                    AS DECIMAL(28,10))) AS DOUBLE) AS se
           FROM lang)
         SELECT s.n_docs, s.n_tokens, v.vocab_size, e.n_langs,
                round(-e.se, 6) + 0.0 AS lang_entropy,
                round(q.sq / CAST(s.n_docs AS DOUBLE), 6) + 0.0 AS mean_quality,
                round(1.0 - CAST(s.nd AS DOUBLE) / CAST(s.n_docs AS DOUBLE), 6)
                  + 0.0 AS dup_frac
         FROM stats s CROSS JOIN qs q CROSS JOIN vocab v CROSS JOIN ent e""",
    // streaming KS: additive histogram state makes the drained statistic
    // the batch c22 truth over the same slices — same oracle
    "e18_streaming_ks_drift" -> c22OracleSql,
    // Neyman truth: integer moment sums, the same variance formula, the
    // weight total as a stratum-ordered running sum (the engine's pinned
    // fold), largest-remainder ranks via a window, population cap
    "c25_neyman_allocation" ->
      """WITH s AS (
           SELECT source AS stratum, COUNT(*) AS nh,
                  CAST(SUM(n_chars) AS BIGINT) AS sm,
                  CAST(SUM(n_chars * n_chars) AS BIGINT) AS sq
           FROM documents GROUP BY 1),
         v AS (
           SELECT stratum, nh,
                  CASE WHEN nh >= 2
                       THEN sqrt(CAST(nh * sq - sm * sm AS DOUBLE)
                                 / CAST(nh * (nh - 1) AS DOUBLE))
                       ELSE 0.0 END AS sd
           FROM s),
         w AS (SELECT stratum, nh, sd, nh * sd AS wt FROM v),
         tt AS (
           SELECT stratum, nh, sd, wt,
                  SUM(wt) OVER (ORDER BY stratum
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
           FROM w),
         r AS (
           SELECT stratum, nh, sd,
                  (CAST(200 AS DOUBLE) * wt)
                    / (SELECT rt FROM tt ORDER BY stratum DESC LIMIT 1) AS raw
           FROM tt),
         b AS (
           SELECT stratum, nh, sd, FLOOR(raw) AS fl, raw - FLOOR(raw) AS rem
           FROM r),
         lo AS (SELECT 200 - CAST(SUM(fl) AS BIGINT) AS leftover FROM b),
         rk AS (
           SELECT stratum, nh, sd, fl,
                  ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC) AS rnk
           FROM b)
         SELECT stratum AS source,
                CAST(nh AS BIGINT) AS n_rows,
                ROUND(sd, 6) + 0.0 AS stddev,
                LEAST(CAST(fl AS BIGINT)
                  + CASE WHEN rnk <= (SELECT leftover FROM lo)
                         THEN 1 ELSE 0 END, nh) AS alloc
         FROM rk""",
    // erasure cascade truth: IN-subquery purge sets level by level
    "c24_erasure_cascade" ->
      """WITH subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
         po AS (SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM subj)),
         pl AS (SELECT l_orderkey FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM po))
         SELECT 'customer' AS table_name,
                CAST((SELECT COUNT(*) FROM subj) AS BIGINT) AS n_purged,
                CAST((SELECT COUNT(*) FROM customer)
                   - (SELECT COUNT(*) FROM subj) AS BIGINT) AS n_retained
         UNION ALL
         SELECT 'orders',
                CAST((SELECT COUNT(*) FROM po) AS BIGINT),
                CAST((SELECT COUNT(*) FROM orders)
                   - (SELECT COUNT(*) FROM po) AS BIGINT)
         UNION ALL
         SELECT 'lineitem',
                CAST((SELECT COUNT(*) FROM pl) AS BIGINT),
                CAST((SELECT COUNT(*) FROM lineitem)
                   - (SELECT COUNT(*) FROM pl) AS BIGINT)""",
    // winsorize: the c08 bound construction at 20 buckets, clip at the
    // b=1 and b=19 boundaries (exact p05/p95 under the histogram rule)
    "c21_winsorize" ->
      """WITH h AS (
           SELECT CAST(n_chars AS DOUBLE) AS v, COUNT(*) AS c
           FROM documents GROUP BY 1),
         nt AS (SELECT SUM(c) AS n FROM h),
         cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
         bounds AS (
           SELECT b, MIN(v) AS bound
           FROM cum CROSS JOIN range(1, 21) t(b)
           WHERE cum >= (b * (SELECT n FROM nt) + 19) // 20
           GROUP BY b)
         SELECT doc_id, n_chars,
                GREATEST((SELECT bound FROM bounds WHERE b = 1),
                         LEAST(CAST(n_chars AS DOUBLE),
                               (SELECT bound FROM bounds WHERE b = 19))) + 0.0
                  AS n_chars_wins
         FROM documents""",
    // ingest-time fuzzy decontamination: batches are independent (static
    // bench reference), so the drained union IS the batch d16 result —
    // the same side-restricted true-Jaccard truth
    "e16_streaming_fuzzy_decontaminate" ->
      """WITH train AS (SELECT doc_id, text, lang FROM documents),
         bench AS (
           SELECT doc_id + 2000000 AS doc_id,
                  regexp_replace(text, '^\S+\s', '') AS text
           FROM documents WHERE doc_id % 2 = 0),
         both_sides AS (
           SELECT 'T' AS side, doc_id, text FROM train
           UNION ALL
           SELECT 'B' AS side, doc_id, text FROM bench),
         norm AS (
           SELECT side, doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM both_sides),
         grams AS (
           SELECT side, doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT side, doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT side, doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
                  a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p
           WHERE a.side = 'T' AND b.side = 'B'
           GROUP BY 1, 2, 3, 4),
         hits AS (
           SELECT DISTINCT idA FROM inter
           WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7)
         SELECT doc_id, lang FROM train
         WHERE doc_id NOT IN (SELECT idA FROM hits)""",
    // top session paths: the e02 gap-session construction plus an
    // ordered string_agg, ranked by (count DESC, path ASC)
    "g09_path_analysis" ->
      """WITH base AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
           FROM events),
         flagged AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS new_s
           FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, event_id, event_type,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
           FROM flagged),
         paths AS (
           SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM sess GROUP BY user_id, sid),
         counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
         SELECT CAST(rank AS INT) AS rank, path, n_sessions FROM (
           SELECT row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank,
                  path, n_sessions
           FROM counts)
         WHERE rank <= 20""",
    // CCNet perplexity buckets: the t21 LM arithmetic with counts/vocab
    // restricted to the lang='en' reference (LEFT joins + COALESCE 0 for
    // unseen grams), then the c08 exact-rank tertile bounds on the
    // 3-rounded score
    "t35_perplexity_buckets" ->
      """WITH norm AS (
           SELECT doc_id, lang,
                  list_filter(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    w -> length(w) > 0) AS ws
           FROM documents),
         docb AS (
           SELECT doc_id, lang, u.w1 AS w1, u.g AS g FROM (
             SELECT doc_id, lang, UNNEST(list_transform(range(1, len(ws)),
                      i -> struct_pack(w1 := ws[CAST(i AS INT)],
                                       g := ws[CAST(i AS INT)] || ' ' ||
                                            ws[CAST(i + 1 AS INT)]))) AS u
             FROM norm WHERE len(ws) >= 2)),
         cb AS (SELECT g, count(*) AS cb FROM docb WHERE lang = 'en' GROUP BY g),
         cu AS (SELECT w1, count(*) AS cu FROM docb WHERE lang = 'en' GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT UNNEST(ws) AS w FROM norm WHERE lang = 'en')),
         scored AS (
           SELECT doc_id,
                  CAST(round(ln(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) /
                                (COALESCE(cu.cu, 0) + v.v)), 4)
                       AS DECIMAL(28,6)) AS logp
           FROM docb LEFT JOIN cb USING (g) LEFT JOIN cu USING (w1) CROSS JOIN v),
         base AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  round(CAST(sum(logp) AS DOUBLE) / count(*), 6) + 0.0 AS avg_logp
           FROM scored GROUP BY doc_id),
         m AS (SELECT doc_id, n_bigrams, avg_logp, round(avg_logp, 3) + 0.0 AS mv FROM base),
         h AS (SELECT mv AS v, COUNT(*) AS c FROM m GROUP BY 1),
         n AS (SELECT SUM(c) AS n FROM h),
         cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
         bounds AS (
           SELECT b, MIN(v) AS bound
           FROM cum CROSS JOIN range(1, 3) t(b)
           WHERE cum >= (b * (SELECT n FROM n) + 2) // 3
           GROUP BY b)
         SELECT doc_id, n_bigrams, avg_logp,
                CAST(1 + (SELECT COUNT(*) FROM bounds WHERE bound < m.mv) AS INT) AS bucket,
                CASE 1 + (SELECT COUNT(*) FROM bounds WHERE bound < m.mv)
                     WHEN 1 THEN 'tail' WHEN 2 THEN 'middle' ELSE 'head' END AS label
         FROM m""",
    // transitions: same per-user lead ordering (micros, event_id
    // tie-break), same normalization order
    "g08_event_transitions" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tsn
                     FROM events),
         tr0 AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY tsn, event_id) AS to_type
           FROM ev),
         tr AS (
           SELECT from_type, to_type, COUNT(*) AS n FROM tr0
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, SUM(n) AS tt FROM tr GROUP BY 1)
         SELECT tr.from_type, tr.to_type, tr.n,
                ROUND(CAST(tr.n AS DOUBLE) / tot.tt, 6) + 0.0 AS p
         FROM tr JOIN tot USING (from_type)""",
    // cohort retention: integer week buckets of positive nanos — floor
    // and truncating division agree
    "g07_cohort_retention" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn
                     FROM events),
         cohort AS (SELECT user_id, MIN(tsn) // 604800000000 AS cohort_week
                    FROM ev WHERE event_type = 'signup' GROUP BY 1),
         act AS (SELECT DISTINCT e.user_id, c.cohort_week,
                        e.tsn // 604800000000 - c.cohort_week AS week_offset
                 FROM ev e JOIN cohort c ON e.user_id = c.user_id
                 WHERE e.tsn // 604800000000 - c.cohort_week >= 0)
         SELECT cohort_week, week_offset, COUNT(*) AS n_users
         FROM act GROUP BY 1, 2""",
    // resample: integer day buckets (floor division of positive nanos
    // matches Spark's div), per-user range() grid, zero-filled left join
    // the sweep-line union replayed with the same window frame: running
    // max of previous clamped ends, clamped per-interval contribution
    "g14_interval_coverage" -> g14OracleSql,
    // the e-series contract: the drained latest-batch-wins report
    // equals the batch g14 operator over the full interval history
    "e21_streaming_interval_coverage" -> g14OracleSql,
    // burstiness: the same lag window + exact HUGEINT moments; D =
    // n·Σg² − S² exactly, then the identical IEEE sqrt/divisions
    "g15_burstiness" -> g15OracleSql,
    // the e-series contract: the drained latest-batch-wins report
    // equals the batch g15 operator over the full event history
    "e22_streaming_burstiness" -> g15OracleSql,
    // e25: the t42 calibration table cross-joined with the t48 PR row —
    // the streamed cumulative counts must reproduce both batch evals
    "e25_streaming_pr_drift" ->
      s"""WITH q AS ($t02QualitySql),
         j AS (
           SELECT q.quality,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q JOIN documents d USING (doc_id)),
         cal AS (
           SELECT CAST(LEAST(CAST(FLOOR(quality * 10) AS INT), 9) AS INT) AS bin,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(quality AS DECIMAL(18, 6))) AS DOUBLE)
                    AS sum_pred,
                  CAST(SUM(y) AS BIGINT) AS n_pos,
                  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) + 0.0 AS frac_pos
           FROM j GROUP BY 1),
         g AS (SELECT quality AS s, CAST(COUNT(*) AS BIGINT) AS c,
                      CAST(SUM(y) AS BIGINT) AS p
               FROM j GROUP BY 1),
         cum AS (SELECT s, c, p,
                        CAST(SUM(c) OVER (ORDER BY s) AS BIGINT) AS cumc,
                        CAST(SUM(p) OVER (ORDER BY s) AS BIGINT) AS cump
                 FROM g),
         tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n,
                        CAST(COALESCE(SUM(p), 0) AS BIGINT) AS np
                 FROM g),
         terms AS (
           SELECT n, np,
                  ROUND((CAST(p AS DOUBLE) / CAST(np AS DOUBLE)) *
                        ((CAST(np - cump + p AS DOUBLE)
                            / CAST(n - cumc + c AS DOUBLE)
                          + CASE WHEN n - cumc = 0 THEN 1.0
                                 ELSE CAST(np - cump AS DOUBLE)
                                      / CAST(n - cumc AS DOUBLE) END)
                         / 2.0), 10) + 0.0 AS t
           FROM cum CROSS JOIN tot),
         pr AS (
           SELECT CASE WHEN np > 0
                    THEN ROUND(CAST(SUM(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 6)
                         + 0.0 END AS pr_auc,
                  CASE WHEN n > 0
                    THEN ROUND(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
                  END AS baseline,
                  np AS total_pos, n - np AS total_neg
           FROM terms GROUP BY n, np)
         SELECT cal.bin, cal.n, cal.sum_pred, cal.n_pos, cal.frac_pos,
                pr.pr_auc, pr.baseline, pr.total_pos, pr.total_neg
         FROM cal CROSS JOIN pr""",
    "e04_event_debounce" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
                     FROM events),
         l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts_us, event_id) AS prev_ts
               FROM ev)
         SELECT event_id, user_id, event_type, ts_us,
                prev_ts IS NULL OR ts_us - prev_ts > 60000000 AS kept
         FROM l""",
    "e03_resample_fill" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, value
                    FROM events),
         pd AS (SELECT user_id, day, count(*) AS n_events,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
                FROM e GROUP BY 1, 2),
         b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1),
         g AS (SELECT user_id, UNNEST(range(d0, d1 + 1)) AS day FROM b)
         SELECT g.user_id, g.day,
                COALESCE(pd.n_events, 0) AS n_events,
                COALESCE(pd.sum_value, 0.0) AS sum_value
         FROM g LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day""",
    // e08: the t16 heavy-hitters truth, ONE shared string — everything
    // streamed, so the drained monitor must match the whole-corpus report
    // (a copy here could silently decouple the two gates)
    "e08_streaming_heavy_hitters" -> heavyHittersOracleSql,
    // the drained admission gate telescopes to ONE running total over
    // (batch, id) order — replayed here as a window + threshold
    "e09_streaming_token_budget" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 3 AS b,
                  CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
                       AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (ORDER BY b, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_tokens
           FROM d)
         SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 15000""",
    // e10: pairs = (stored-before, streamed) exact cosine >= 0.999,
    // replayed relationally batch by batch; the planted fixture (exact
    // vector copies, no borderline pairs) makes ANN recall structural
    // novelty replay: batch 0 = docs ≡1 (mod 3), batch 1 = docs ≡2; the
    // seed is ≡0; counts compare token-set equality structure only
    "e13_streaming_vocab_novelty" ->
      """WITH norm AS (
           SELECT doc_id % 3 AS grp,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents WHERE length(trim(text)) > 0),
         tok AS (SELECT DISTINCT grp, unnest(string_split(n, ' ')) AS w
                 FROM norm),
         g0 AS (SELECT w FROM tok WHERE grp = 0),
         g1 AS (SELECT w FROM tok WHERE grp = 1),
         g2 AS (SELECT w FROM tok WHERE grp = 2)
         SELECT CAST(0 AS BIGINT) AS batch,
                (SELECT COUNT(*) FROM g1) AS n_tokens,
                (SELECT COUNT(*) FROM g1
                 WHERE w NOT IN (SELECT w FROM g0)) AS n_new
         UNION ALL
         SELECT CAST(1 AS BIGINT),
                (SELECT COUNT(*) FROM g2),
                (SELECT COUNT(*) FROM g2
                 WHERE w NOT IN (SELECT w FROM g0 UNION SELECT w FROM g1))""",
    // the drained monitor equals the whole-corpus audit (batch-local
    // rules distribute over micro-batches)
    "e12_streaming_dq" ->
      """SELECT 'qty_nn' AS check, 'not_null' AS type, 'lineitem' AS "table",
                COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS violations,
                COUNT(*) AS total
         FROM lineitem
         UNION ALL
         SELECT 'qty_positive', 'range', 'lineitem',
                COUNT(CASE WHEN l_quantity <= 0 THEN 1 END), COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'qty_under_30', 'range', 'lineitem',
                COUNT(CASE WHEN l_quantity >= 30 THEN 1 END), COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'li_part_fk', 'foreign_key', 'lineitem',
                (SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_partkey IS NOT NULL
                   AND l.l_partkey NOT IN (SELECT p_partkey FROM part)),
                COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'partkey_unique', 'unique_key', 'lineitem',
                COUNT(*) - COUNT(DISTINCT l_partkey), COUNT(*)
         FROM lineitem""",
    // the drained incremental map must equal the one-shot batch closure
    // over everything streamed — same oracle family as c14, no reps
    "e11_streaming_entity_resolution" ->
      s"""$erClosureSql
         SELECT p.p_partkey, c.cluster_id
         FROM part p JOIN names n ON p.p_name = n.p_name
                     JOIN clusters c ON n.name_id = c.name_id""",
    "e10_streaming_semantic_screen" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 100),
         b1 AS (
           SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id >= 100 AND vec_id % 40 = 0
           UNION ALL
           SELECT vec_id + 3000000, embedding FROM embeddings WHERE vec_id < 50),
         b2 AS (
           SELECT vec_id + 4000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id < 50
           UNION ALL
           SELECT vec_id + 2000000, embedding FROM embeddings
           WHERE vec_id >= 100 AND vec_id % 40 = 20),
         stored2 AS (SELECT * FROM corpus UNION ALL SELECT * FROM b1),
         p AS (
           SELECT s.vec_id AS idA, q.vec_id AS idB,
                  list_dot_product(CAST(s.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(s.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
           FROM corpus s, b1 q
           UNION ALL
           SELECT s.vec_id, q.vec_id,
                  list_dot_product(CAST(s.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(s.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
           FROM stored2 s, b2 q)
         SELECT idA, idB, ROUND(cosine, 6) + 0.0 AS cosine
         FROM p WHERE cosine >= 0.999""",
    // e07: integer hour buckets + exact integer moment sums, then the
    // identical double expression tree for mean/var/z on both engines
    "e07_rate_anomaly" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hour_idx
                    FROM events),
         ph AS (SELECT user_id, hour_idx, COUNT(*) AS n_events
                FROM e GROUP BY 1, 2),
         mo AS (SELECT user_id, COUNT(*) AS m,
                       CAST(SUM(n_events) AS BIGINT) AS s1,
                       CAST(SUM(n_events * n_events) AS BIGINT) AS s2
                FROM ph GROUP BY 1),
         j AS (SELECT ph.user_id, ph.hour_idx, ph.n_events,
                      CAST(mo.m AS BIGINT) AS m,
                      CAST(mo.s1 AS DOUBLE) / CAST(mo.m AS DOUBLE) AS mean,
                      CAST(mo.s2 AS DOUBLE) / CAST(mo.m AS DOUBLE)
                        - (CAST(mo.s1 AS DOUBLE) / CAST(mo.m AS DOUBLE))
                          * (CAST(mo.s1 AS DOUBLE) / CAST(mo.m AS DOUBLE)) AS var
               FROM ph JOIN mo ON ph.user_id = mo.user_id),
         zz AS (SELECT user_id, hour_idx, n_events,
                       CASE WHEN m > 1 AND var > 0.0
                            THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(var)
                            ELSE CAST(0.0 AS DOUBLE) END AS z
                FROM j)
         SELECT user_id, hour_idx, n_events,
                ROUND(z, 4) + 0.0 AS z,
                abs(z) > 2.0 AS is_anomaly
         FROM zz""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "e02_sessionization" ->
      """WITH base AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events),
         flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS new_s
           FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id,
                strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
         FROM sess GROUP BY user_id, sid""",
    "g01_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "g04_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
                COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
    "g05_cube" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
                COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "w05_range_window" ->
      """SELECT o_orderkey, o_custkey, price_int,
                count(*) OVER w AS n_within,
                CAST(sum(price_int) OVER w AS BIGINT) AS sum_within
         FROM (SELECT o_orderkey, o_custkey,
                      CAST(floor(o_totalprice) AS BIGINT) AS price_int
               FROM orders)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY price_int
                      RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)""",
    "w04_value_windows" ->
      """SELECT o_orderkey, o_custkey,
                CAST(first_value(o_orderdate) OVER wall AS DATE) AS first_date,
                CAST(last_value(o_orderdate) OVER wall AS DATE) AS last_date,
                nth_value(o_totalprice, 2) OVER wall AS second_price,
                last_value(o_totalprice) OVER wrun AS price_so_far
         FROM orders
         WINDOW wall AS (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                wrun AS (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "w03_rank_family" ->
      """SELECT o_orderkey, o_custkey,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    "g02_set_ops" ->
      """SELECT c_custkey, 'both' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
         UNION ALL
         SELECT c_custkey, 'only_building' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           EXCEPT ALL
           SELECT c_custkey FROM customer WHERE c_acctbal > 1000)""",
    "f01_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, substring(c_name, 10, 5) AS mid,
                regexp_replace(c_name, 'Customer', 'C', 'g') AS short_name,
                lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
                length(c_name) AS name_len
         FROM customer""",
    "f03_percentiles" ->
      """SELECT o_orderpriority,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) + 0.0 AS p50,
                ROUND(quantile_cont(o_totalprice, 0.9), 4) + 0.0 AS p90,
                COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority""",
    "f04_array_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                list_sort([l_quantity, l_linenumber * 10.0, l_discount * 100.0])[1] AS arr_min,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    [l_quantity, l_linenumber * 10.0, l_discount * 100.0]),
                  (a, x) -> a + x) AS arr_sum,
                CAST(list_position(list_sort([l_quantity, l_linenumber * 10.0, l_discount * 100.0]),
                     l_quantity) AS BIGINT) AS qty_pos
         FROM lineitem""",
    "f02_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
                quarter(o_orderdate) AS q,
                CAST(o_orderdate AS DATE) + 30 AS plus30,
                date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98
         FROM orders""",
    "d01_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, text FROM (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents)
         GROUP BY text""",
    "d02_dedup_norm_md5" ->
      """SELECT MIN(doc_id) AS doc_id, fp FROM (
           SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000, upper('  ' || text) FROM documents))
         GROUP BY fp""",
    "d05_ngram_jaccard" ->
      """WITH norm AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
           FROM documents),
         grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(words) - 2, 0) + 1),
                    i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS g
           FROM norm)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
                ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.g, b.g))), 6) + 0.0 AS jaccard
         FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1""",
    // exact filtered top-k truth (full-probe IVF == brute force): the
    // s01 cosine replay restricted to category-matched pairs
    "s28_filtered_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding,
                           vec_id % 4 AS q_category
                    FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id, embedding, vec_id % 4 AS category
                    FROM embeddings WHERE vec_id >= 10),
              scored AS (
                SELECT q.query_id, c.vec_id,
                       list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
                FROM c JOIN q ON c.category = q.q_category),
              ranked AS (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
         SELECT query_id, vec_id, rank, ROUND(cosine, 6) + 0.0 AS cosine
         FROM ranked WHERE rank <= 5""",
    // MMR replayed round-for-round — see s29OracleSql
    "s29_mmr_topk" -> s29OracleSql(5),
    "s01_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
              scored AS (
                SELECT q.query_id, c.vec_id,
                       list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
                FROM c CROSS JOIN q),
              ranked AS (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
         SELECT query_id, vec_id, rank, ROUND(cosine, 6) + 0.0 AS cosine
         FROM ranked WHERE rank <= 5""",
    // s17: the s01 scoring with the label-mismatch filter before ranking
    "s17_hard_negatives" -> s17OracleSql,
    // s40 IS s17 at full probe: nprobe = numCentroids makes the IVF
    // candidate set the whole corpus, so the banked-scale path is gated
    // by the exact filtered brute-force truth — one oracle, two plans
    "s40_hard_negatives_ivf" -> s17OracleSql,
    // truncated-vs-full ranking overlap: the s01 scoring replayed twice
    // (full vectors; 16-element prefixes via list slicing), integer count
    "s13_truncated_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
              fsc AS (
                SELECT q.query_id, c.vec_id,
                       list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
                FROM c CROSS JOIN q),
              fr AS (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM fsc),
              tsc AS (
                SELECT q.query_id, c.vec_id,
                       list_dot_product(CAST(c.embedding[1:16] AS DOUBLE[]), CAST(q.embedding[1:16] AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding[1:16] AS DOUBLE[]), CAST(c.embedding[1:16] AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding[1:16] AS DOUBLE[]), CAST(q.embedding[1:16] AS DOUBLE[])))) AS cosine
                FROM c CROSS JOIN q),
              tr AS (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM tsc)
         SELECT f.query_id,
                CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS overlap_at_20,
                ROUND(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 20.0, 6) + 0.0
                  AS recall_at_20
         FROM (SELECT * FROM fr WHERE rank <= 20) f
         LEFT JOIN (SELECT * FROM tr WHERE rank <= 20) t
           ON f.query_id = t.query_id AND f.vec_id = t.vec_id
         GROUP BY f.query_id""",
    "s07_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                                    AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) + 0.0
                  AS centroid
         FROM embeddings, range(1, 65) AS t(i)
         GROUP BY 1, 2""",
    "s08_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 10),
              scored AS (
                SELECT q.query_id, c.vec_id, c.label,
                       list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cosine
                FROM c CROSS JOIN q),
              ranked AS (
                SELECT query_id, vec_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored),
              votes AS (
                SELECT query_id, label, count(*) AS votes
                FROM ranked WHERE rank <= 10 GROUP BY 1, 2)
         SELECT query_id, label, votes FROM votes
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY votes DESC, label ASC) = 1""",
    // z-score: same DECIMAL(28,10) moment routing and double formula
    // chain as the engine (the s07 exact-mean precedent)
    "s10_standardize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         x AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos, emb[CAST(i AS INT)] AS v
               FROM e, range(1, 65) t(i)),
         s AS (SELECT pos, count(*) AS n,
                      CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS sm,
                      CAST(SUM(CAST(v * v AS DECIMAL(28,10))) AS DOUBLE) AS sq
               FROM x GROUP BY pos),
         st AS (SELECT pos, sm / n AS mean, sqrt((sq - sm * sm / n) / n) AS sd
                FROM s)
         SELECT x.vec_id, x.pos,
                round(CASE WHEN sd > 0 THEN (v - mean) / sd ELSE 0.0 END, 4) + 0.0 AS z
         FROM x JOIN st ON x.pos = st.pos""",
    // same explode CTE as s10; quantile_cont matches Spark's exact
    // `percentile` interpolation (the f03 precedent)
    "s20_robust_scale" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         x AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos, emb[CAST(i AS INT)] AS v
               FROM e, range(1, 65) t(i)),
         st AS (SELECT pos, quantile_cont(v, [0.25, 0.5, 0.75]) AS q
                FROM x GROUP BY pos)
         SELECT x.vec_id, x.pos,
                round(CASE WHEN (q[3] - q[1]) > 0
                           THEN (v - q[2]) / (q[3] - q[1]) ELSE 0.0 END, 4) + 0.0 AS r
         FROM x JOIN st ON x.pos = st.pos""",
    "s11_pca_project" -> s11OracleSql,
    "s21_diverse_select" -> s21OracleSql,
    "s12_pca_variance" -> s12OracleSql,
    "c10_pca_outlier_prune" -> c10OracleSql,
    "c11_leakage_safe_split" -> c11OracleSql,
    // semantic dedup: centroids = 16 smallest-id vectors, assignment =
    // argmax cosine (tie-break smallest centroid), drop = exists smaller-id
    // cluster-mate with cosine >= 0.999. The ×2-scaled copies keep every
    // double exact, so cluster routing and the 1.0 cosines replay bit-equal
    "s09_semantic_dedup" ->
      """WITH corpus AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
           FROM embeddings WHERE vec_id % 50 = 0),
         cent AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, e AS ce
           FROM (SELECT vec_id, e FROM corpus ORDER BY vec_id LIMIT 16)),
         sims AS (
           SELECT a.vec_id, c.cid,
                  list_dot_product(a.e, c.ce) /
                  (sqrt(list_dot_product(a.e, a.e)) *
                   sqrt(list_dot_product(c.ce, c.ce))) AS s
           FROM corpus a CROSS JOIN cent c),
         assign AS (
           SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, cid ASC) AS rn
             FROM sims) WHERE rn = 1),
         pairs AS (
           SELECT aa.vec_id AS ida, bb.vec_id AS idb,
                  list_dot_product(va.e, vb.e) /
                  (sqrt(list_dot_product(va.e, va.e)) *
                   sqrt(list_dot_product(vb.e, vb.e))) AS s
           FROM assign aa
           JOIN assign bb ON aa.cluster = bb.cluster AND aa.vec_id < bb.vec_id
           JOIN corpus va ON va.vec_id = aa.vec_id
           JOIN corpus vb ON vb.vec_id = bb.vec_id),
         drops AS (
           SELECT idb, MIN(ida) AS dup_of FROM pairs WHERE s >= 0.999 GROUP BY idb)
         SELECT a.vec_id, a.cluster, d.dup_of, d.dup_of IS NULL AS keep
         FROM assign a LEFT JOIN drops d ON a.vec_id = d.idb""",
    "t02_quality_score" -> t02QualitySql,
    "t28_weighted_sample" -> t28OracleSql,
    // replays the linear model with the same literal weights in the same
    // left-to-right double fold; keep = z >= 0 exactly as the engine
    "t26_quality_classify" ->
      """WITH f AS (
           SELECT doc_id,
                  LEAST(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS f_len,
                  CASE WHEN length(text) > 0
                       THEN CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                            / length(text)
                       ELSE 0.0 END AS f_alpha,
                  CASE WHEN trim(text) = '' THEN 0.0 ELSE
                  LEAST((CAST(length(text) AS DOUBLE) /
                         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')))
                        / 12.0, 1.0) END AS f_mwl,
                  CASE WHEN trim(text) = '' THEN 0.0 ELSE
                  CAST(len(list_filter(
                         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                         t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))
                       AS DOUBLE)
                    / len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) END AS f_stop
           FROM documents),
         zt AS (
           SELECT doc_id,
                  -1.6 + 1.5 * f_len + 0.5 * f_alpha + 1.0 * f_mwl + 3.0 * f_stop AS z
           FROM f)
         SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) + 0.0 AS score,
                z >= 0.0 AS keep
         FROM zt""",
    // composed pre-training keep/drop chain: t01 + t02 + t12 signals
    // joined and thresholded — each fragment is the SAME SQL that gates
    // the standalone query, so the composition can only disagree if the
    // components do
    "c01_quality_pipeline" ->
      s"""WITH lang AS ($t01LangSql),
         qual AS ($t02QualitySql),
         rep AS ($t12RepetitionSql)
         SELECT l.doc_id, pred_lang, quality, dup_bigram_frac
         FROM lang l JOIN qual q ON l.doc_id = q.doc_id
                     JOIN rep r ON l.doc_id = r.doc_id
         WHERE pred_lang = 'en' AND quality >= 0.9 AND dup_bigram_frac <= 0.05""",
    // one-pass profile: exact counters + DECIMAL-routed mean of the SAME
    // rounded per-doc quality that gates t02; fingerprints are the a05/t22
    // rolling hash; the HLL bound is structural (a01 precedent) so the
    // oracle pins it TRUE next to the exact distinct count
    "c05_corpus_profile" ->
      s"""WITH qual AS ($t02QualitySql),
         fp AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(n)+1),
                            i -> CAST(unicode(substr(n, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS f,
                  len(string_split(n, ' ')) AS nt
           FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
                 FROM documents)),
         base AS (
           SELECT d.lang, f.nt, q.quality, f.f
           FROM documents d JOIN fp f USING (doc_id) JOIN qual q USING (doc_id))
         SELECT lang,
                COUNT(*) AS n_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens,
                ROUND(CAST(SUM(CAST(quality AS DECIMAL(28,10))) AS DOUBLE)
                      / COUNT(*), 6) + 0.0 AS avg_quality,
                COUNT(DISTINCT f) AS distinct_fp,
                TRUE AS hll_within_5pct
         FROM base GROUP BY ROLLUP(lang)""",
    "t03_token_count" ->
      """SELECT doc_id,
                len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tokens,
                CAST(list_sum(list_transform(
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                  w -> greatest(CAST(ceil(length(w) / 4.0) AS INT), 1))) AS INT) AS n_tokens_bpe
         FROM documents""",
    // SimHash pairs: the oracle rebuilds the token hash (base-31 ^ golden,
    // fmix64), the per-bit-majority simhash and the exact Hamming<=3 pair
    // set — the engine's pigeonhole banding guarantees candidate recall,
    // so its output IS that set (skew cap can't fire at fixture scale)
    "d04_simhash_pairs" -> d04OracleSql,
    "t19_importance" -> t19OracleSql,
    "t24_importance_resample" -> t24OracleSql,
    "s14_knn_graph" -> s14OracleSql,
    "s33_local_clustering" -> s33OracleSql,
    // MMD truth: identical float->double->DECIMAL routing per dim, one
    // IEEE division per mean, squared diffs re-DECIMALed before the sum
    "s34_corpus_mmd" ->
      """WITH ex AS (
           SELECT label, generate_subscripts(emb, 1) - 1 AS pos,
                  UNNEST(emb) AS v
           FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings WHERE label IN (0, 1))),
         m AS (
           SELECT label, pos,
                  CAST(SUM(CAST(v AS DECIMAL(28, 10))) AS DOUBLE) / COUNT(*)
                    AS mean,
                  COUNT(*) AS n
           FROM ex GROUP BY label, pos),
         j AS (
           SELECT a.pos, a.mean AS ma, b.mean AS mb, a.n AS na, b.n AS nb
           FROM m a JOIN m b ON a.pos = b.pos
           WHERE a.label = 0 AND b.label = 1)
         SELECT CAST(MAX(na) AS BIGINT) AS n_a,
                CAST(MAX(nb) AS BIGINT) AS n_b,
                CAST(COUNT(*) AS BIGINT) AS n_dims,
                ROUND(CAST(SUM(CAST((ma - mb) * (ma - mb) AS DECIMAL(28, 10)))
                  AS DOUBLE), 8) + 0.0 AS mmd2
         FROM j""",
    // s38: the same centroid construction (DECIMAL(28,9) sums, one IEEE
    // division), identical distance expression order, per-point s
    // round-9 → DECIMAL mean per cluster, round 6 at emission
    "s38_silhouette" ->
      """WITH pts AS (
           SELECT vec_id, CAST(label AS VARCHAR) AS c,
                  ROUND(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS f0,
                  ROUND(CAST(embedding[2] AS DOUBLE), 6) + 0.0 AS f1,
                  ROUND(CAST(embedding[3] AS DOUBLE), 6) + 0.0 AS f2
           FROM embeddings WHERE label IS NOT NULL),
         cent AS (
           SELECT c, COUNT(*) AS n,
                  CAST(SUM(CAST(f0 AS DECIMAL(28,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m0,
                  CAST(SUM(CAST(f1 AS DECIMAL(28,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m1,
                  CAST(SUM(CAST(f2 AS DECIMAL(28,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m2
           FROM pts GROUP BY 1),
         d AS (
           SELECT p.vec_id, p.c, ct.c AS oc,
                  sqrt((p.f0 - ct.m0) * (p.f0 - ct.m0) +
                       (p.f1 - ct.m1) * (p.f1 - ct.m1) +
                       (p.f2 - ct.m2) * (p.f2 - ct.m2)) AS dist
           FROM pts p, cent ct),
         ab AS (
           SELECT vec_id, c,
                  MAX(CASE WHEN oc = c THEN dist END) AS a,
                  MIN(CASE WHEN oc <> c THEN dist END) AS b
           FROM d GROUP BY 1, 2),
         sv AS (
           SELECT c, CASE WHEN b IS NULL THEN NULL
                          WHEN greatest(a, b) = 0 THEN 0.0
                          ELSE ROUND((b - a) / greatest(a, b), 9) + 0.0 END AS sil
           FROM ab)
         SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
                ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,9))) AS DOUBLE) /
                      CAST(COUNT(sil) AS DOUBLE), 6) + 0.0 AS silhouette
         FROM sv GROUP BY 1""",
    "s15_graph_rank" -> s15OracleSql,
    "s16_knn_hubness" -> s16OracleSql,
    "s18_ann_recall" -> s18OracleSql,
    "s35_ivf_probe_curve" -> s35OracleSql,
    "s36_kcore" -> s36OracleSql,
    "s39_ktruss" -> s39OracleSql,
    "s37_neighborhood_function" -> s37OracleSql,
    // g21: the s37 replay wrapped by the discrete alpha-quantile readout
    "g21_effective_diameter" -> (
      s"""SELECT (SELECT CAST(MIN(round) AS INT)
         |        FROM (${s37OracleSql}) nf,
         |             (SELECT n_pairs AS f FROM (${s37OracleSql}) x
         |              WHERE round = 3) fin
         |        WHERE CAST(n_pairs AS DOUBLE) >= 0.9 * CAST(f AS DOUBLE))
         |         AS eff_diameter,
         |       (SELECT n_pairs FROM (${s37OracleSql}) y WHERE round = 3)
         |         AS nf_final,
         |       CAST(0.9 AS DOUBLE) AS alpha""".stripMargin),
    "c07_curation_pipeline" -> c07OracleSql,
    // c31 IS c07 built from YAML — one oracle, zero drift by construction
    "c31_config_pipeline" -> c07OracleSql,
    // the same CTE chain, counted per stage
    "c12_curation_funnel" ->
      s"""WITH $c07Ctes
         |SELECT 'a0_input' AS stage, COUNT(*) AS n_docs FROM documents
         |UNION ALL SELECT 'a1_gated', COUNT(*) FROM gated
         |UNION ALL SELECT 'a2_decon', COUNT(*) FROM decon
         |UNION ALL SELECT 'a3_dedup', COUNT(*) FROM dedup
         |UNION ALL SELECT 'a4_resampled', COUNT(*) FROM kept""".stripMargin,
    "e05_streaming_curation" -> e05OracleSql,
    // e35 IS e05 with the per-batch screen declared as YAML — one oracle
    // serves both (the c31 contract on the streaming path)
    "e35_streaming_config_curation" -> e05OracleSql,
    // exact decile bucketing: cumulative histogram of the length domain;
    // boundary b = smallest value with cum >= ceil(b*n/10) in integer
    // arithmetic; bucket = 1 + #(inner boundaries < value)
    "c08_length_curriculum" ->
      """WITH h AS (SELECT CAST(n_chars AS DOUBLE) AS v, COUNT(*) AS c
                    FROM documents GROUP BY 1),
         n AS (SELECT SUM(c) AS n FROM h),
         cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
         bounds AS (
           SELECT b, MIN(v) AS bound
           FROM cum CROSS JOIN range(1, 10) t(b)
           WHERE cum >= (b * (SELECT n FROM n) + 9) // 10
           GROUP BY b)
         SELECT d.doc_id, d.n_chars,
                CAST(1 + (SELECT COUNT(*) FROM bounds
                          WHERE bound < d.n_chars) AS INT) AS bucket
         FROM documents d""",
    // PSI drift: exact decile counts on both sides, shares clamped to
    // 1e-6, per-bucket term rounded to 6 (the t21 libm contract)
    "c09_quality_drift" -> psiOracleSql(t02QualitySql,
      qualityOverSql(
        "(SELECT doc_id, regexp_replace(text, '^\\S+\\s', '') AS text FROM documents) stripped")),
    // e06: the c09 PSI replay over the streamed slices — reference is the
    // doc_id % 3 = 0 third, the stream is the (drifted) other two thirds
    "e06_streaming_drift" -> psiOracleSql(
      qualityOverSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0) refdocs"),
      qualityOverSql(
        "(SELECT doc_id, regexp_replace(text, '^\\S+\\s', '') AS text " +
          "FROM documents WHERE doc_id % 3 <> 0) streamdocs")),
    "t20_token_ids" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
           FROM documents),
         tok0 AS (
           SELECT doc_id, UNNEST(list_transform(range(1, len(ts) + 1),
                    i -> struct_pack(p := i - 1, tok := ts[CAST(i AS INT)]))) AS u
           FROM toks),
         tok AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tok0 WHERE length(u.tok) > 0),
         counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         vocab AS (
           SELECT tok, id FROM (
             SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS id
             FROM counts) v WHERE id <= 20),
         enc AS (
           SELECT t.doc_id, t.p, coalesce(v.id, 0) AS id
           FROM tok t LEFT JOIN vocab v USING (tok))
         SELECT doc_id,
                string_agg(CAST(id AS VARCHAR), ' ' ORDER BY p) AS ids,
                CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         FROM enc GROUP BY doc_id""",
    // bigram LM: same normalization as the engine; per-gram ln rounded to
    // 4 places, DECIMAL(28,6) sum, double mean rounded to 6 — the rounding
    // contract makes libm ulp drift irrelevant on both sides
    "t21_bigram_lm" ->
      """WITH norm AS (
           SELECT doc_id,
                  list_filter(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                    w -> length(w) > 0) AS ws
           FROM documents),
         docb AS (
           SELECT doc_id, u.w1 AS w1, u.g AS g FROM (
             SELECT doc_id, UNNEST(list_transform(range(1, len(ws)),
                      i -> struct_pack(w1 := ws[CAST(i AS INT)],
                                       g := ws[CAST(i AS INT)] || ' ' ||
                                            ws[CAST(i + 1 AS INT)]))) AS u
             FROM norm WHERE len(ws) >= 2)),
         cb AS (SELECT g, count(*) AS cb FROM docb GROUP BY g),
         cu AS (SELECT w1, count(*) AS cu FROM docb GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT UNNEST(ws) AS w FROM norm)),
         scored AS (
           SELECT doc_id,
                  CAST(round(ln(CAST(cb.cb + 1 AS DOUBLE) / (cu.cu + v.v)), 4)
                       AS DECIMAL(28,6)) AS logp
           FROM docb JOIN cb USING (g) JOIN cu USING (w1) CROSS JOIN v)
         SELECT doc_id, count(*) AS n_bigrams,
                round(CAST(sum(logp) AS DOUBLE) / count(*), 6) + 0.0 AS avg_logp
         FROM scored GROUP BY doc_id""",
    // MinHash pairs: the oracle computes TRUE all-pairs 5-gram Jaccard via
    // explode + equi-join + group-by (set-similarity in relational form —
    // pairs sharing no gram never materialize) and keeps >= 0.7. Spark's
    // output equals it because (a) banded-LSH candidate recall is 100% on
    // this corpus (deterministic: fixed hashes, fixed fixture) and (b)
    // 64-bit gram hashing is collision-free at ~550 grams/doc, so
    // hashed-set Jaccard == string-set Jaccard on both engines.
    "d03_minhash_pairs" ->
      s"""WITH $d03Docs2Cte,
         ${nearDupPairCtes(0.7)}
         SELECT idA, idB, j AS jaccard FROM ndpairs""",
    // the d03 all-pairs truth swept over the literal threshold array:
    // per-threshold pair count + distinct involved docs, zero rows kept
    "d19_dedup_sensitivity" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '') FROM documents),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         grams AS (
           SELECT doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         jac AS (SELECT idA, idB, CAST(i AS DOUBLE) / (na + nb - i) AS j FROM inter),
         th AS (SELECT unnest(CAST([0.7, 0.8, 0.9] AS DOUBLE[])) AS threshold),
         hit AS (SELECT t.threshold, j.idA, j.idB
                 FROM th t JOIN jac j ON j.j >= t.threshold),
         pc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
                FROM hit GROUP BY 1),
         dc AS (SELECT threshold, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_dup_docs
                FROM (SELECT threshold, unnest([idA, idB]) AS id FROM hit)
                GROUP BY 1)
         SELECT t.threshold,
                COALESCE(pc.n_pairs, 0) AS n_pairs,
                COALESCE(dc.n_dup_docs, 0) AS n_dup_docs
         FROM th t LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)""",
    // incremental = the d03 all-pairs truth restricted to pairs touching
    // the delta (ids >= 1000000); same 100%-recall argument on this corpus
    "d08_minhash_incremental" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '') FROM documents),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         grams AS (
           SELECT doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT idA, idB,
                ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) + 0.0 AS jaccard
         FROM inter
         WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
           AND idB >= 1000000""",
    // the keep step: delta ids on NEITHER side of any qualifying pair —
    // even-id near-dup copies drop, odd-id md5-hex novels survive
    "d10_neardup_free" ->
      """WITH delta AS (
           SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^\S+\s', '') AS text
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id + 3000000,
                  md5(text) || ' ' || md5(text || 'x') || ' ' || md5(text || 'y')
           FROM documents WHERE doc_id % 2 = 1),
         docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id, text FROM delta),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         grams AS (
           SELECT doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         pairs AS (
           SELECT idA, idB FROM inter
           WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7 AND idB >= 1000000),
         matched AS (SELECT idA AS doc_id FROM pairs
                     UNION SELECT idB FROM pairs)
         SELECT d.doc_id FROM delta d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM matched)""",
    // d22: brute-force weighted cosine over the identical tf-idf
    // pipeline — t07 idf, per-doc norms and pair dots both summed as
    // round-9 DECIMAL(28,9) terms, threshold on the RAW decimal-sum
    // double; prefix filtering is recall-lossless by the max-weight
    // bound, so the engine must reproduce this exactly
    // d23: TRUE all-pairs weighted (multiset) Jaccard over 3-word
    // shingles — per-(doc, shingle) tf frames joined on the shingle
    // string, I = Σ min(tf_a, tf_b) over shared shingles, and the union
    // mass via the identity Σ max = T_a + T_b − I; pairs sharing no
    // shingle never materialize and shingle near-uniqueness keeps the
    // join degree bounded (the d03/d22 relational set-similarity shape).
    // Docs shorter than 3 words contribute their whole normalized text
    // as one shingle (the wordShingleHashes short-input rule). Spark's
    // banded-CWS candidates recall 100% on this corpus (deterministic:
    // fixed hashes, fixed fixture) and 64-bit occurrence hashing is
    // collision-free at corpus scale, so expansion-set Jaccard ==
    // shingle-multiset Jaccard on both engines
    "d23_weighted_jaccard_pairs" ->
      """WITH docs3 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '') FROM documents
           UNION ALL
           SELECT doc_id + 2000000, text || ' ' || text FROM documents),
         wl AS (
           SELECT doc_id, n, string_split(n, ' ') AS wlist FROM (
             SELECT doc_id,
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
             FROM docs3)
           WHERE n <> ''),
         tk AS (
           SELECT doc_id,
                  list_aggregate(wlist[CAST(i AS INT):CAST(i AS INT)+2],
                    'string_agg', ' ') AS shingle
           FROM wl, lateral unnest(range(1, len(wlist) - 1)) t(i)
           WHERE len(wlist) >= 3
           UNION ALL
           SELECT doc_id, n AS shingle FROM wl WHERE len(wlist) < 3),
         tf AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
                FROM tk GROUP BY 1, 2),
         tot AS (SELECT doc_id, SUM(tf) AS t FROM tf GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
                  CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS i
           FROM tf a JOIN tf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT idA, idB,
                ROUND(CAST(i AS DOUBLE) / CAST(ta.t + tb.t - i AS DOUBLE), 4) + 0.0 AS wjaccard
         FROM inter
         JOIN tot ta ON ta.doc_id = idA
         JOIN tot tb ON tb.doc_id = idB
         WHERE CAST(i AS DOUBLE) / CAST(ta.t + tb.t - i AS DOUBLE) >= 0.7""",
    "d22_tfidf_allpairs" ->
      """WITH tnorm AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wlist
           FROM documents),
         tk AS (
           SELECT doc_id,
                  list_aggregate(wlist[CAST(i AS INT):CAST(i AS INT)+4],
                    'string_agg', ' ') AS token
           FROM tnorm, lateral unnest(range(1, greatest(len(wlist) - 3, 1))) t(i)
           WHERE len(wlist) >= 5),
         tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                FROM tk GROUP BY 1, 2),
         dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                 FROM tf GROUP BY 1),
         n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents),
         w AS (SELECT doc_id, token,
                      CAST(tf AS DOUBLE) *
                      ln((CAST(nn AS DOUBLE) + 1.0) /
                         (CAST(df AS DOUBLE) + 1.0)) AS w
               FROM tf JOIN dfq USING (token), n),
         nrm AS (SELECT doc_id,
                        SUM(CAST(ROUND(w * w, 9) AS DECIMAL(28,9))) AS n2
                 FROM w GROUP BY 1),
         wn AS (SELECT w.doc_id, token,
                       w / sqrt(CAST(n2 AS DOUBLE)) AS wn
                FROM w JOIN nrm USING (doc_id)
                WHERE CAST(n2 AS DOUBLE) > 0),
         p AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
                      SUM(CAST(ROUND(a.wn * b.wn, 9) AS DECIMAL(28,9))) AS c
               FROM wn a JOIN wn b
                 ON a.token = b.token AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT idA, idB, ROUND(CAST(c AS DOUBLE), 6) + 0.0 AS cosine
         FROM p WHERE CAST(c AS DOUBLE) >= 0.9""",
    // overlap coefficient |∩| / min over distinct word-5-gram sets,
    // all pairs relationally; prefix filtering is recall-lossless by the
    // pigeonhole bound, so the engine must reproduce this exactly
    "d11_containment" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
                  list_aggregate(
                    (string_split(text, ' '))[1:CAST(ceil(len(string_split(text, ' ')) / 2.0) AS INT)],
                    'string_agg', ' ')
           FROM documents),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         tok AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM norm),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM tok),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT idA, idB, CAST(i AS INT) AS n_shared,
                ROUND(CAST(i AS DOUBLE) / least(na, nb), 4) + 0.0 AS overlap
         FROM inter
         WHERE CAST(i AS DOUBLE) >= 0.9 * least(na, nb)""",
    // streaming composition: the d08 truth over corpus ∪ batch1 ∪ batch2
    // restricted to pairs with a streamed member — micro-batch boundaries
    // don't change the SET of pairs (each surfaces once, in the batch of
    // its later-arriving member), so the drained parquet equals this
    "d09_streaming_neardup" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s', '')
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, regexp_replace(text, '^\S+\s', '')
           FROM documents WHERE doc_id % 10 = 5),
         norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM docs2),
         grams AS (
           SELECT doc_id,
                  CASE WHEN length(n) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, length(n) - 3),
                              i -> hash(substr(n, CAST(i AS INT), 5)))) END AS g
           FROM norm),
         gs AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
         ex AS (SELECT doc_id, n, unnest(g) AS p FROM gs),
         inter AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, a.n AS na, b.n AS nb, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.p = b.p AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT idA, idB,
                ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) + 0.0 AS jaccard
         FROM inter
         WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
           AND idB >= 1000000""",
    // clusters = transitive closure of the d03 pair set (same recall
    // argument); the recursive CTE computes reachability, min reachable id
    // is the cluster label, singletons fall out of the base case
    "d06_dedup_clusters" ->
      s"""$dupClusterClosureSql
         SELECT doc_id, cluster_id FROM clusters""",
    // dq audit: each rule recomputed as plain SQL counts
    "v01_dq_audit" ->
      """SELECT 'cust_name_nn' AS check, 'not_null' AS type,
                'customer' AS "table",
                COUNT(CASE WHEN c_name IS NULL THEN 1 END) AS violations,
                COUNT(*) AS total
         FROM customer
         UNION ALL
         SELECT 'order_date_nn', 'not_null', 'orders',
                COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END), COUNT(*)
         FROM orders
         UNION ALL
         SELECT 'qty_positive', 'range', 'lineitem',
                COUNT(CASE WHEN l_quantity <= 0 THEN 1 END), COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'qty_under_30', 'range', 'lineitem',
                COUNT(CASE WHEN l_quantity >= 30 THEN 1 END), COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'price_nonneg', 'range', 'orders',
                COUNT(CASE WHEN o_totalprice < 0 THEN 1 END), COUNT(*)
         FROM orders
         UNION ALL
         SELECT 'cust_pk', 'unique_key', 'customer',
                COUNT(*) - COUNT(DISTINCT c_custkey), COUNT(*)
         FROM customer
         UNION ALL
         SELECT 'li_pk', 'unique_key', 'lineitem',
                COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)), COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'order_cust_fk', 'foreign_key', 'orders',
                (SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
                COUNT(*)
         FROM orders
         UNION ALL
         SELECT 'li_part_fk', 'foreign_key', 'lineitem',
                (SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_partkey IS NOT NULL
                   AND l.l_partkey NOT IN (SELECT p_partkey FROM part)),
                COUNT(*)
         FROM lineitem
         UNION ALL
         SELECT 'li_order_fk', 'foreign_key', 'lineitem',
                (SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
                COUNT(*)
         FROM lineitem""",
    // source overlap: the d11 word-gram CTE grouped by source — hash
    // values never compared, only equality structure (the d06 precedent)
    "d13_source_overlap" ->
      """WITH norm AS (
           SELECT source, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents),
         tok AS (SELECT source, n, string_split(n, ' ') AS w FROM norm),
         grams AS (
           SELECT source,
                  CASE WHEN len(w) < 5
                       THEN (CASE WHEN length(n) = 0 THEN [] ELSE [n] END)
                       ELSE list_transform(range(1, len(w) - 3),
                              i -> list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4],
                                                  'string_agg', ' ')) END AS g
           FROM tok),
         gr AS (SELECT DISTINCT source, unnest(g) AS gm FROM grams),
         sz AS (SELECT source, COUNT(*) AS n FROM gr GROUP BY 1),
         ix AS (
           SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
           FROM gr a JOIN gr b ON a.gm = b.gm AND a.source < b.source
           GROUP BY 1, 2)
         SELECT ix.source_a, ix.source_b, ix.i AS n_shared,
                ROUND(CAST(ix.i AS DOUBLE) / (x.n + y.n - ix.i), 6) + 0.0
                  AS jaccard
         FROM ix JOIN sz x ON ix.source_a = x.source
                 JOIN sz y ON ix.source_b = y.source""",
    // the KMV shortlist + exact matrix replay — see d14OracleSql
    "d14_source_overlap_shortlist" -> d14OracleSql,
    "d15_winnowing" -> d15OracleSql(16),
    // drained streaming pairs equal the batch winnowing truth: every doc
    // streams, so each pair surfaces once in its later member's batch
    "e20_streaming_winnow" -> d15OracleSql(16),
    // winnow shortlist + the d07 span construction restricted to it
    "d18_winnowed_span_dedup" -> d18OracleSql(16),
    // cohesion audit: members/edges from the same closure; triangles via
    // the sorted-edge wedge join (a<b<c is automatic — pairs carry
    // idA < idB); density arithmetic mirrored term for term
    "d12_cluster_cohesion" ->
      s"""$dupClusterClosureSql,
         e AS (
           SELECT p.idA, p.idB, c.cluster_id
           FROM pairs p JOIN clusters c ON p.idA = c.doc_id),
         mem AS (SELECT cluster_id, COUNT(*) AS n_members
                 FROM clusters GROUP BY 1),
         ec AS (SELECT cluster_id, COUNT(*) AS n_edges FROM e GROUP BY 1),
         tri AS (
           SELECT c.cluster_id, COUNT(*) AS n_triangles
           FROM pairs p1 JOIN pairs p2 ON p1.idB = p2.idA
                         JOIN pairs p3 ON p3.idA = p1.idA AND p3.idB = p2.idB
                         JOIN clusters c ON c.doc_id = p1.idA
           GROUP BY 1)
         SELECT m.cluster_id, m.n_members,
                COALESCE(ec.n_edges, 0) AS n_edges,
                COALESCE(tri.n_triangles, 0) AS n_triangles,
                CASE WHEN m.n_members >= 2
                     THEN ROUND(CAST(COALESCE(ec.n_edges, 0) AS DOUBLE) /
                                (m.n_members * (m.n_members - 1) / 2), 6) + 0.0
                     ELSE 0.0 END AS edge_density
         FROM mem m LEFT JOIN ec USING (cluster_id)
                    LEFT JOIN tri USING (cluster_id)""",
    // the incremental fold must land on the exact batch closure — same
    // oracle as d06 over the same doubled corpus
    "c13_incremental_clusters" ->
      s"""$dupClusterClosureSql
         SELECT doc_id, cluster_id FROM clusters""",
    // entity resolution: brute-force fuzzy pairs over DISTINCT part
    // names, recursive-CTE transitive closure (the d06 precedent), rows
    // mapped back through the name ids, reps by (price DESC, id ASC)
    "c14_entity_resolution" ->
      s"""$erClosureSql,
         assigned AS (
           SELECT c.cluster_id, p.p_partkey, p.p_retailprice
           FROM part p JOIN names n ON p.p_name = n.p_name
                       JOIN clusters c ON n.name_id = c.name_id),
         ranked AS (
           SELECT cluster_id, p_partkey, p_retailprice,
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY p_retailprice DESC, p_partkey ASC) AS rn,
                  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
           FROM assigned)
         SELECT cluster_id, cluster_size, p_partkey AS rep_p_partkey,
                p_retailprice AS rep_score
         FROM ranked WHERE rn = 1""",
    // cluster representatives: the d06 closure, then keep the HIGHEST-
    // quality member per cluster (ties -> smallest id), quality replayed
    // with the t02 formula over the same doubled corpus
    "c06_cluster_reps" ->
      s"""$dupClusterClosureSql,
         q AS (${qualityOverSql("docs2")}),
         ranked AS (
           SELECT c.cluster_id, q.doc_id, q.quality,
                  row_number() OVER (PARTITION BY c.cluster_id
                                     ORDER BY q.quality DESC, q.doc_id ASC) AS rn,
                  count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
           FROM clusters c JOIN q USING (doc_id))
         SELECT cluster_id, cluster_size, doc_id AS rep_doc_id,
                quality AS rep_score
         FROM ranked WHERE rn = 1""",
    // span dedup oracle works on the gram STRINGS themselves — fully
    // independent of the engine's 64-bit gram hashing, so a hash-collision
    // recall/precision bug would surface here as a mismatch
    "d07_span_dedup" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
                  regexp_replace(text, '^\S+\s', '') || ' u' || CAST(doc_id AS VARCHAR)
           FROM documents),
         toks AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
           FROM docs2),
         grams0 AS (
           SELECT doc_id, UNNEST(
             CASE WHEN len(ts) >= 8
                  THEN list_transform(range(1, len(ts) - 6),
                         i -> struct_pack(pos := i - 1,
                                g := array_to_string(list_slice(ts, CAST(i AS INT), CAST(i + 7 AS INT)), ' ')))
                  ELSE [struct_pack(pos := 0, g := array_to_string(ts, ' '))]
             END) AS u
           FROM toks),
         grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM grams0),
         occ AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY g) AS cnt
           FROM grams),
         cov0 AS (
           SELECT doc_id, UNNEST(range(pos, pos + 8)) AS cov
           FROM occ WHERE cnt >= 2 AND rn > 1),
         covered AS (SELECT DISTINCT doc_id, cov FROM cov0),
         tokpos0 AS (
           SELECT doc_id, len(ts) AS n_tokens,
                  UNNEST(list_transform(range(1, len(ts) + 1),
                    i -> struct_pack(p := i - 1, tok := ts[CAST(i AS INT)]))) AS u
           FROM toks),
         tokpos AS (SELECT doc_id, n_tokens, u.p AS p, u.tok AS tok FROM tokpos0)
         SELECT tp.doc_id,
                coalesce(string_agg(CASE WHEN c.cov IS NULL THEN tp.tok END, ' ' ORDER BY tp.p), '') AS text_kept,
                CAST(any_value(tp.n_tokens) AS INT) AS n_tokens,
                CAST(count(c.cov) AS INT) AS n_removed
         FROM tokpos tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.cov
         GROUP BY tp.doc_id""",
    // d20: the exact-substring semantics replayed on length-6 gram STRINGS
    // (no hashing anywhere — the engine's equivalence classes are exact, so
    // string grouping reproduces them bit-for-bit); islands of the covered
    // set give the maximal-span count
    "d20_exact_substr" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
                  regexp_replace(text, '^\S+\s', '') || ' u' || CAST(doc_id AS VARCHAR)
           FROM documents),
         toks AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
           FROM docs2),
         grams0 AS (
           SELECT doc_id, UNNEST(
             list_transform(range(1, len(ts) - 4),
               i -> struct_pack(pos := i - 1,
                      g := array_to_string(list_slice(ts, CAST(i AS INT), CAST(i + 5 AS INT)), ' ')))) AS u
           FROM toks WHERE len(ts) >= 6),
         grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM grams0),
         occ AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY g) AS cnt
           FROM grams),
         cov0 AS (
           SELECT doc_id, UNNEST(range(pos, pos + 6)) AS cov
           FROM occ WHERE cnt >= 2 AND rn > 1),
         covered AS (SELECT DISTINCT doc_id, cov FROM cov0),
         spans AS (
           SELECT c.doc_id, count(*) AS n_spans FROM covered c
           WHERE NOT EXISTS (SELECT 1 FROM covered p
                             WHERE p.doc_id = c.doc_id AND p.cov = c.cov - 1)
           GROUP BY c.doc_id),
         tokpos0 AS (
           SELECT doc_id, len(ts) AS n_tokens,
                  UNNEST(list_transform(range(1, len(ts) + 1),
                    i -> struct_pack(p := i - 1, tok := ts[CAST(i AS INT)]))) AS u
           FROM toks),
         tokpos AS (SELECT doc_id, n_tokens, u.p AS p, u.tok AS tok FROM tokpos0)
         SELECT tp.doc_id,
                coalesce(string_agg(CASE WHEN c.cov IS NULL THEN tp.tok END, ' ' ORDER BY tp.p), '') AS text_kept,
                CAST(any_value(tp.n_tokens) AS INT) AS n_tokens,
                CAST(count(c.cov) AS INT) AS n_removed,
                CAST(coalesce(any_value(s.n_spans), 0) AS BIGINT) AS n_spans
         FROM tokpos tp
         LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.cov
         LEFT JOIN spans s ON tp.doc_id = s.doc_id
         GROUP BY tp.doc_id""",
    "t08_seq_pack" ->
      """WITH base AS (
           SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS pack_group,
                  CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS INT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, pack_group, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id) AS cum
           FROM base)
         SELECT doc_id, pack_group, n_tokens,
                CAST(cum AS BIGINT) AS cum_tokens,
                CAST(FLOOR((cum - n_tokens) / 512.0) AS INT) AS seq_no
         FROM c""",
    // line document-frequency + ordered reassembly, all relational (no
    // hashing to replay — lines join on their own text)
    "t30_boilerplate_lines" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                       THEN text || chr(10) || 'Subscribe to our newsletter today'
                       ELSE text END AS text
           FROM documents),
         ls AS (SELECT doc_id,
                       list_filter(string_split(text, chr(10)),
                         l -> length(trim(l)) > 0) AS l
                FROM d),
         flat AS (SELECT doc_id,
                         UNNEST(list_transform(range(1, len(l) + 1),
                           i -> struct_pack(no := i, line := l[CAST(i AS INT)]))) AS s
                  FROM ls),
         f AS (SELECT doc_id, s.no AS line_no, s.line AS line FROM flat),
         freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM f GROUP BY line),
         j AS (SELECT f.doc_id, f.line_no, f.line, (freq.df >= 50) AS b
               FROM f JOIN freq USING (line))
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                ROUND(CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  + 0.0 AS boiler_frac,
                md5(COALESCE(string_agg(CASE WHEN NOT b THEN line END,
                                        chr(10) ORDER BY line_no), '')) AS clean_md5
         FROM j GROUP BY doc_id""",
    // the t08 layout aggregated per bin
    "t29_pack_efficiency" ->
      """WITH base AS (
           SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS pack_group,
                  CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS INT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, pack_group, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id) AS cum
           FROM base),
         p AS (
           SELECT pack_group, CAST(FLOOR((cum - n_tokens) / 512.0) AS INT) AS seq_no,
                  n_tokens
           FROM c)
         SELECT pack_group, seq_no, COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
                ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 512.0, 6) + 0.0 AS fill_frac
         FROM p GROUP BY pack_group, seq_no""",
    // the fingerprint CTE is the t04 oracle verbatim; buckets are pmod 100
    "t09_deterministic_sample" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS fp
           FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                 FROM documents))
         SELECT doc_id, CAST(((fp % 100) + 100) % 100 AS BIGINT) AS sample_bucket
         FROM f WHERE ((fp % 100) + 100) % 100 < 20""",
    "t12_repetition" -> t12RepetitionSql,
    "t14_mixture_weights" ->
      """WITH tc AS (
           SELECT lang,
                  len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS nt
           FROM documents),
         ps AS (SELECT lang, COUNT(*) AS n_docs, SUM(nt) AS n_tokens FROM tc GROUP BY lang),
         tot AS (SELECT SUM(n_tokens) AS total FROM ps)
         SELECT lang,
                CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                -- zero-token strata carry NULL share/weight (never Inf/NaN),
                -- mirroring the engine's guard
                CASE WHEN COALESCE(n_tokens, 0) > 0
                     THEN ROUND(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
                     END AS actual_frac,
                CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2 ELSE 0.1 END AS DOUBLE) AS target_frac,
                CASE WHEN COALESCE(n_tokens, 0) > 0
                     THEN ROUND(CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2 ELSE 0.1 END AS DOUBLE)
                                / (CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 6) + 0.0
                     END AS weight
         FROM ps, tot""",
    // alpha-temperature mixture: the t14 token-share arithmetic with
    // q ∝ p^0.3 — pow rounded to 12 then DECIMAL(38,18)-summed so libm
    // pow ulp drift dies before the normalizer (the t21 contract)
    "c17_temperature_mixture" ->
      """WITH tc AS (
           SELECT lang,
                  len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS nt
           FROM documents),
         ps AS (SELECT lang, COUNT(*) AS n_docs, SUM(nt) AS n_tokens FROM tc GROUP BY lang),
         tot AS (SELECT SUM(n_tokens) AS total FROM ps),
         wp AS (SELECT lang, n_docs, n_tokens,
                       CASE WHEN COALESCE(n_tokens, 0) > 0
                            THEN CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) END AS p
                FROM ps, tot),
         pa AS (SELECT lang, n_docs, n_tokens, p,
                       CAST(round(pow(p, 0.3), 12) AS DECIMAL(38,18)) AS pav
                FROM wp),
         z AS (SELECT SUM(pav) AS z FROM pa)
         SELECT lang,
                CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                ROUND(p, 6) + 0.0 AS p,
                ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE), 6) + 0.0 AS q,
                ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE) / p, 6) + 0.0 AS weight
         FROM pa, z""",
    // the c17 decimal-pinned q route, then tokens_needed/epochs as the
    // same IEEE expressions, rounded at emission
    "c27_token_budget_plan" ->
      """WITH tc AS (
           SELECT doc_id, lang,
                  len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS nt
           FROM documents),
         ps AS (SELECT lang, COUNT(*) AS n_docs, SUM(nt) AS n_tokens FROM tc GROUP BY lang),
         tot AS (SELECT SUM(n_tokens) AS total FROM ps),
         wp AS (SELECT lang, n_docs, n_tokens,
                       CASE WHEN COALESCE(n_tokens, 0) > 0
                            THEN CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) END AS p
                FROM ps, tot),
         pa AS (SELECT lang, n_docs, n_tokens,
                       CAST(round(pow(p, 0.3), 12) AS DECIMAL(38,18)) AS pav
                FROM wp),
         z AS (SELECT SUM(pav) AS z FROM pa)
         SELECT lang,
                CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE), 6) + 0.0 AS q,
                ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE) * 10000000.0, 2) + 0.0 AS tokens_needed,
                ROUND(CAST(pav AS DOUBLE) / CAST(z AS DOUBLE) * 10000000.0
                      / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS epochs
         FROM pa, z""",
    // c32: the c27 arithmetic replayed per swept α (round-12
    // DECIMAL(38,18) p^α, per-α normalizer, one IEEE division)
    "c32_temperature_sensitivity" -> c32OracleSql,
    // d21: the d20 gram-string replay applied twice, pass 2 over pass
    // 1's relational rebuild
    "d21_exact_substr_iterated" -> d21OracleSql,
    // integer reproduction of the keep rule: bucket·den < rem·buckets in
    // HUGEINT, with the rolling-x31 fingerprint from the t09 oracle
    "t18_apply_mixture" ->
      """WITH tc AS (
           SELECT doc_id, lang,
                  len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS nt
           FROM documents),
         ps AS (SELECT lang, SUM(nt) AS n_tokens FROM tc GROUP BY lang),
         tot AS (SELECT SUM(n_tokens) AS total FROM ps),
         f AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS fp
           FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                 FROM documents)),
         j AS (
           SELECT d.doc_id, d.lang,
                  ((f.fp % 1000000) + 1000000) % 1000000 AS bucket,
                  CAST(CASE d.lang WHEN 'en' THEN 400 WHEN 'de' THEN 200 ELSE 100 END
                       AS BIGINT) * tot.total AS wnum,
                  1000 * ps.n_tokens AS wden
           FROM documents d
           JOIN ps USING (lang) CROSS JOIN tot JOIN f USING (doc_id)
           WHERE ps.n_tokens > 0),
         k AS (
           SELECT doc_id, lang,
                  CAST(wnum // wden
                       + CASE WHEN CAST(bucket AS HUGEINT) * CAST(wden AS HUGEINT)
                                   < CAST(wnum % wden AS HUGEINT) * 1000000::HUGEINT
                              THEN 1 ELSE 0 END AS BIGINT) AS n_copies
           FROM j)
         SELECT doc_id, lang, n_copies FROM k WHERE n_copies >= 1""",
    "t16_heavy_hitters" -> heavyHittersOracleSql,
    // same RE2-safe patterns and replacement order as
    // TextAnalysis.piiPatterns; counts come from the pre-redaction text
    "t17_pii_redaction" ->
      s"""WITH $t17AugCte
         SELECT doc_id,
                ${piiRedactExprSql("text")} AS text_redacted,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(text,
                  '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
                CAST(len(regexp_extract_all(text,
                  '[+]?[0-9][0-9 ()-]{7,}[0-9]')) AS BIGINT) AS n_phone
         FROM aug""",
    // rare-bigram counts are hash-agnostic like t13: each engine counts
    // its own representation of the same bigram multiset
    "t15_rare_bigrams" ->
      """WITH norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents),
         bg AS (
           SELECT doc_id,
                  CASE WHEN length(n) = 0 THEN []
                       WHEN length(n) < 2 THEN [n]
                       ELSE list_transform(range(1, length(n)),
                              i -> substr(n, CAST(i AS INT), 2)) END AS g
           FROM norm),
         ex AS (SELECT doc_id, unnest(g) AS p FROM bg),
         cc AS (SELECT p, COUNT(*) AS cnt FROM ex GROUP BY p)
         SELECT ex.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(CASE WHEN cc.cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                ROUND(CAST(SUM(CASE WHEN cc.cnt < 5 THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) + 0.0 AS rare_frac
         FROM ex JOIN cc ON ex.p = cc.p
         GROUP BY ex.doc_id""",
    // decontamination: shared-gram COUNTS are hash-agnostic (each engine
    // hashes the same word-5-gram strings; set intersections agree while
    // 64-bit hashing stays collision-free, as with d03)
    // the Bloom screen's booleans are structural guarantees (no false
    // negatives; false positives under the 5% bound at the 1e-6 design
    // point), so the oracle pins them as literals next to exact counts
    // computed the t13 way
    "b01_bloom_decontaminate" ->
      """WITH tnorm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents),
         ttok AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM tnorm),
         tg AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM ttok),
         enorm AS (
           SELECT regexp_replace(lower(trim(regexp_replace(text, '^\S+\s', ''))), '\s+', ' ', 'g') AS n
           FROM documents WHERE doc_id % 10 = 3),
         etok AS (SELECT n, string_split(n, ' ') AS w FROM enorm),
         eg AS (
           SELECT CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM etok),
         evset AS (SELECT DISTINCT unnest(g) AS p FROM eg),
         tex AS (SELECT doc_id, unnest(g) AS p FROM tg),
         contaminated AS (SELECT DISTINCT tex.doc_id FROM tex JOIN evset ON tex.p = evset.p)
         SELECT (SELECT count(*) FROM documents) AS n_docs,
                (SELECT count(*) FROM contaminated) AS n_contaminated,
                TRUE AS no_false_negatives,
                TRUE AS fp_within_bound""",
    // b02: the Okapi BM25 formula replayed term-by-term with identical
    // literals (k1=1.5, b=0.75, df cap 0.5 over the planted-selective
    // panel — the cap screens the fixture's 31 universal tokens so the
    // scoring join is postings-bounded like a real retrieval workload;
    // the universal-vocab worst case stays spec-pinned) and identical
    // double parenthesization; per-term ROUND(…,9) → DECIMAL sums make
    // the (query, doc) score exact, ranking orders by the double cast
    // like the engine's top-k heap (score DESC, doc_id ASC)
    "b02_bm25_topk" -> b02OracleSql,
    // b03 fuses b02's lexical CTEs with the s01 dense-leg shape; the
    // fusion arithmetic is decimal-summed so it is addend-order-free
    "b03_rrf_hybrid" -> b03OracleSql,
    "b04_retrieval_eval" -> b04OracleSql,
    // e41 must equal batch b04 over everything streamed — same oracle
    "e41_streaming_retrieval_eval" -> b04OracleSql,
    // e27 IS b02 over everything streamed — one oracle, zero drift by
    // construction (the emission calls the same scoring tail)
    "e27_streaming_bm25" -> b02OracleSql,
    "t13_decontaminate" ->
      """WITH tnorm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents),
         ttok AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM tnorm),
         tg AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM ttok),
         enorm AS (
           SELECT regexp_replace(lower(trim(regexp_replace(text, '^\S+\s', ''))), '\s+', ' ', 'g') AS n
           FROM documents WHERE doc_id % 10 = 3),
         etok AS (SELECT n, string_split(n, ' ') AS w FROM enorm),
         eg AS (
           SELECT CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM etok),
         evset AS (SELECT DISTINCT unnest(g) AS p FROM eg),
         tex AS (SELECT doc_id, unnest(g) AS p FROM tg)
         SELECT tex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
         FROM tex JOIN evset ON tex.p = evset.p
         GROUP BY tex.doc_id""",
    // graded variant: totals + shared in one pass, verdict on the
    // UNROUNDED fraction (identical long division on both engines)
    "t23_overlap_frac" ->
      """WITH tnorm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
           FROM documents),
         ttok AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM tnorm),
         tg AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM ttok),
         enorm AS (
           SELECT regexp_replace(lower(trim(regexp_replace(text, '^\S+\s', ''))), '\s+', ' ', 'g') AS n
           FROM documents WHERE doc_id % 10 = 3),
         etok AS (SELECT n, string_split(n, ' ') AS w FROM enorm),
         eg AS (
           SELECT CASE WHEN len(w) < 5 THEN (CASE WHEN length(n) = 0 THEN [] ELSE [hash(n)] END)
                       ELSE list_distinct(list_transform(range(1, len(w) - 3),
                              i -> hash(list_aggregate(w[CAST(i AS INT):CAST(i AS INT)+4], 'string_agg', ' ')))) END AS g
           FROM etok),
         evset AS (SELECT DISTINCT unnest(g) AS p FROM eg),
         gsz AS (SELECT doc_id, len(g) AS n_grams FROM tg WHERE len(g) > 0),
         tex AS (SELECT doc_id, unnest(g) AS p FROM tg),
         shared AS (
           SELECT tex.doc_id, COUNT(*) AS n_shared
           FROM tex JOIN evset ON tex.p = evset.p GROUP BY tex.doc_id)
         SELECT g.doc_id, CAST(g.n_grams AS BIGINT) AS n_grams,
                CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
                ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / g.n_grams, 6) + 0.0
                  AS overlap_frac,
                CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / g.n_grams >= 0.5
                  AS contaminated
         FROM gsz g LEFT JOIN shared s USING (doc_id)""",
    "t11_text_cleaning" ->
      """WITH c AS (
           SELECT doc_id,
                  trim(regexp_replace(
                    replace(replace(replace(replace(replace(replace(
                      regexp_replace(
                        regexp_replace(text, '<[^>]*>', ' ', 'g'),
                        'https?://[^ \t\n]+', ' ', 'g'),
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                    '\s+', ' ', 'g')) AS clean
           FROM documents)
         SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS clean_len
         FROM c""",
    // stratified sampling reuses the t09 fingerprint CTE with per-language
    // thresholds
    "t10_stratified_sample" ->
      """WITH f AS (
           SELECT doc_id, lang,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS fp
           FROM (SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                 FROM documents))
         SELECT doc_id, lang, CAST(((fp % 100) + 100) % 100 AS BIGINT) AS sample_bucket
         FROM f
         WHERE ((fp % 100) + 100) % 100 <
               CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 60 ELSE 25 END""",
    // int8 quantization: scale = max|x|/127 (float), q = round(x/scale);
    // every float step mirrors the Spark expression chain exactly
    "s05_quantize_int8" ->
      """WITH s AS (
           SELECT vec_id,
                  CAST(embedding AS DOUBLE[]) AS e,
                  CAST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
                       AS FLOAT) AS scaleF
           FROM embeddings)
         SELECT vec_id,
                ROUND(CAST(scaleF AS DOUBLE), 6) + 0.0 AS scale,
                CAST(CASE WHEN scaleF > 0
                          THEN ROUND(e[1] / CAST(scaleF AS DOUBLE), 0)
                          ELSE 0 END AS TINYINT) AS q0,
                TRUE AS recon_ok
         FROM s""",
    "a01_hll_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS within_5pct
         FROM lineitem""",
    // KMV set ops: the t22 fingerprint folded into [0, 2^40) per distinct
    // text with crawl-membership flags; bottom-64 sketches by integer
    // order; estimate formulas mirrored double-for-double (63.0·R/h_k
    // with h_k clamped to 1; Jaccard = sketch-membership fraction of the
    // union sketch; intersection = unrounded Ĵ·D̂(U))
    "a06_kmv_setops" ->
      """WITH u AS (
           SELECT text, TRUE AS a, FALSE AS b FROM documents
           UNION ALL
           SELECT text, FALSE, TRUE FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT regexp_replace(text, '^\S+\s', ''), FALSE, TRUE
           FROM documents WHERE doc_id % 2 = 1),
         fp AS (
           SELECT ((CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                      list_transform(range(1, length(norm)+1),
                        i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                    (x, c) -> (x * 31 + c) % 18446744073709551616::HUGEINT)
                   + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                   - 9223372036854775808::HUGEINT AS BIGINT)
                   % 1099511627776) + 1099511627776) % 1099511627776 AS h,
                  a, b
           FROM (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm, a, b
                 FROM u)),
         ph AS (SELECT h, bool_or(a) AS a, bool_or(b) AS b FROM fp GROUP BY h),
         counts AS (
           SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(COUNT(*) AS BIGINT) AS n_union,
                  CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_intersection
           FROM ph),
         ska AS (SELECT h FROM ph WHERE a ORDER BY h LIMIT 64),
         skb AS (SELECT h FROM ph WHERE b ORDER BY h LIMIT 64),
         sku AS (SELECT h FROM ph ORDER BY h LIMIT 64),
         sa AS (SELECT COUNT(*) AS sz, greatest(COALESCE(MAX(h), 0), 1) AS hk FROM ska),
         sb AS (SELECT COUNT(*) AS sz, greatest(COALESCE(MAX(h), 0), 1) AS hk FROM skb),
         su AS (SELECT COUNT(*) AS sz, greatest(COALESCE(MAX(h), 0), 1) AS hk FROM sku),
         m AS (SELECT COUNT(*) AS matched FROM sku
               WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
         e AS (
           SELECT CASE WHEN sa.sz >= 64 THEN 63.0 * 1099511627776 / sa.hk
                       ELSE CAST(sa.sz AS DOUBLE) END AS ea,
                  CASE WHEN sb.sz >= 64 THEN 63.0 * 1099511627776 / sb.hk
                       ELSE CAST(sb.sz AS DOUBLE) END AS eb,
                  CASE WHEN su.sz >= 64 THEN 63.0 * 1099511627776 / su.hk
                       ELSE CAST(su.sz AS DOUBLE) END AS eu,
                  CASE WHEN su.sz = 0 THEN CAST(0.0 AS DOUBLE)
                       ELSE CAST(m.matched AS DOUBLE) / su.sz END AS j
           FROM sa, sb, su, m)
         SELECT CAST(64 AS INT) AS k,
                counts.n_a, counts.n_b, counts.n_union, counts.n_intersection,
                ROUND(e.ea, 3) + 0.0 AS est_a,
                ROUND(e.eb, 3) + 0.0 AS est_b,
                ROUND(e.eu, 3) + 0.0 AS est_union,
                ROUND(e.j, 6) + 0.0 AS est_jaccard,
                ROUND(e.j * e.eu, 3) + 0.0 AS est_intersection
         FROM counts, e""",
    "a03_hll_groups" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
                TRUE AS within_5pct
         FROM lineitem GROUP BY l_returnflag""",
    "a04_count_min" ->
      """WITH tok AS (
           SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents)
         SELECT token, COUNT(*) AS n, TRUE AS overestimates, TRUE AS within_bound
         FROM tok WHERE length(token) > 0 GROUP BY token""",
    "a02_approx_quantiles" ->
      """SELECT o_orderpriority,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) + 0.0 AS p50_exact,
                ROUND(quantile_cont(o_totalprice, 0.95), 4) + 0.0 AS p95_exact,
                TRUE AS p50_in_bracket,
                TRUE AS p95_in_bracket
         FROM orders GROUP BY o_orderpriority""",
    // KMV bottom-k: the t04 fingerprint chain folded into [0, 2^40),
    // rank by (h, doc_id), estimator (k-1)·R/h_k for full strata
    "a05_bottomk_sample" ->
      """WITH fp AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS f
           FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                 FROM documents)),
         h AS (
           SELECT d.lang, f.doc_id,
                  ((f.f % 1099511627776) + 1099511627776) % 1099511627776 AS h
           FROM fp f JOIN documents d USING (doc_id)),
         r AS (
           SELECT lang, doc_id, h,
                  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank,
                  count(*) OVER (PARTITION BY lang) AS n_rows
           FROM h),
         kept AS (SELECT * FROM r WHERE rank <= 8),
         -- h_k clamped to >= 1 like the engine: k docs hashing to 0 must
         -- not divide by zero (ADVICE r6)
         hk AS (SELECT lang, greatest(max(h), 1) AS hk FROM kept GROUP BY lang)
         SELECT kept.lang, CAST(rank AS INT) AS rank, doc_id, h, n_rows,
                CASE WHEN n_rows >= 8
                     THEN round(7.0 * 1099511627776 / hk, 3) + 0.0
                     ELSE CAST(n_rows AS DOUBLE) END AS est_distinct
         FROM kept JOIN hk ON kept.lang = hk.lang""",
    // frequency cap: same 40-bit rolling fingerprint as the a05 oracle,
    // rank within key by (h, doc_id), keep rank <= 12; null text ranks as
    // empty text (the engine coalesces before hashing — a null hash would
    // drop the row instead of capping it)
    "t22_frequency_cap" ->
      """WITH fp AS (
           SELECT doc_id,
                  CAST((list_reduce(list_prepend(CAST(0 AS HUGEINT),
                          list_transform(range(1, length(norm)+1),
                            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
                        (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT)
                       + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
                       - 9223372036854775808::HUGEINT AS BIGINT) AS f
           FROM (SELECT doc_id, regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g') AS norm
                 FROM documents)),
         h AS (
           SELECT d.lang, f.doc_id,
                  ((f.f % 1099511627776) + 1099511627776) % 1099511627776 AS h
           FROM fp f JOIN documents d USING (doc_id)),
         r AS (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
           FROM h)
         SELECT doc_id, lang FROM r WHERE rank <= 12""",
    // the ANN planted-probe contract: every query finds its source vector
    // at rank 1 with cosine exactly 1.0 (see plantedQueries scaladoc)
    "s02_ann_lsh" ->
      """SELECT vec_id AS query_id, CAST(1 AS INT) AS rank,
                CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 10""",
    "s04_ann_ivf" ->
      """SELECT vec_id AS query_id, CAST(1 AS INT) AS rank,
                CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 10""",
    // IVF-PQ keeps the planted contract: the exact re-rank stage scores
    // true cosine, so as long as ADC ranks the planted vector into the
    // re-rank candidate set (spec-asserted recall), rank 1 is exact 1.0
    "s19_ann_ivfpq" ->
      """SELECT vec_id AS query_id, CAST(1 AS INT) AS rank,
                CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 10""",
    // same structural contract: a persisted-then-grown index must still
    // route every planted probe to its source at rank 1, exact 1.0
    "s22_ann_index_persist" ->
      """SELECT vec_id AS query_id, CAST(1 AS INT) AS rank,
                CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 10""",
    "s23_kmeans_refine" -> s23OracleSql,
    "s24_kmeanspp_seed" -> s24OracleSql,
    "s25_random_projection" -> s25OracleSql,
    "s27_embedding_drift" -> s27OracleSql,
    "c16_mixture_sample" -> c16OracleSql,
    // quantized retrieval keeps the planted contract exactly (see the
    // query's power-of-two-scaling note)
    "s06_ann_quantized" ->
      """SELECT vec_id AS query_id, CAST(1 AS INT) AS rank,
                CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 10""",
    // exact all-pairs cosine over the planted corpus: the LSH-bucketed
    // Spark plan must find EVERY pair >= 0.999 (identical vectors share a
    // signature by construction, and the fixture has no borderline pairs)
    "s03_cosine_neardup" ->
      """WITH u AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0),
         p AS (
           SELECT a.vec_id AS idA, b.vec_id AS idB,
                  list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
           FROM u a JOIN u b ON a.vec_id < b.vec_id)
         SELECT idA, idB, ROUND(cosine, 6) + 0.0 AS cosine FROM p WHERE cosine >= 0.999""",
    // the multimodal decode/feature stubs are deterministic byte hashes —
    // reproduced here over codepoints (the fixture text is pure ASCII, so
    // bytes == codepoints): a signed-64-bit base-31 rolling hash for
    // (width, height), and h*31 over stride-8 bytes + the MurmurHash3
    // fmix64 finalizer for feature[0], in HUGEINT mod-2^64 arithmetic
    // (64x64-bit multiply split into 32-bit halves to stay inside HUGEINT)
    "m08_payload_chunk_dedup" -> m08OracleSql,
    // m09: full relational replay (full probe == exact, the s32 recipe);
    // threshold filters RAW cosine after ranking on both engines
    "m09_cross_modal_pairs" ->
      """WITH l AS (SELECT vec_id AS text_id, embedding FROM embeddings
                    WHERE vec_id % 2 = 1),
         r AS (SELECT vec_id + 500000 AS media_id,
                      list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding
               FROM embeddings),
         scored AS (
           SELECT l.text_id, r.media_id,
                  list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))) AS cosine
           FROM r CROSS JOIN l),
         ranked AS (
           SELECT text_id, media_id, cosine,
                  row_number() OVER (PARTITION BY text_id
                                     ORDER BY cosine DESC, media_id ASC) AS rank
           FROM scored)
         SELECT text_id, media_id, CAST(rank AS INT) AS rank,
                round(cosine, 6) + 0.0 AS cosine
         FROM ranked WHERE rank <= 3 AND cosine >= 0.5""",
    // the e-series contract: the drained delta-folded report equals the
    // batch m08 operator over the full payload history
    "e23_streaming_chunk_dedup" -> m08OracleSql,
    // m10: the generated full-DCT replay (shared fixed-point basis) +
    // brute-force Hamming pairs — see m10OracleSql
    "m10_phash_neardup" -> m10OracleSql,
    // e33 IS m10 over everything streamed — every fixture pair has a
    // streamed member (everything streams), so the d09-style restriction
    // is vacuous and one oracle serves both
    "e33_streaming_phash_dedup" -> m10OracleSql,
    // m11: the constellation scheme replayed — identical window
    // energies (the m04 replay), strict interior peaks, the same packed
    // (e_a·2^28 + e_b·2^14 + Δt) landmark hashes, the offset histogram
    // and per-pair best-alignment pick (ties to the smaller offset)
    // m11: the generated shared constellation replay — see m11OracleSql
    "m11_audio_fingerprint" -> m11OracleSql,
    // e34 IS m11 over everything streamed — every fixture pair has a
    // streamed member, so one oracle serves both (the e33 contract)
    "e34_streaming_audio_fingerprint" -> m11OracleSql,
    // m12: fixed-grid frame digests (md5 over the hex image, the m05
    // convention — 32 hex chars per 16-byte frame) + the m11 offset
    // histogram / row_number best-alignment pick
    "m12_video_clip_align" -> m12OracleSql,
    // e37 IS m12 over everything streamed — every fixture pair has a
    // streamed member, so one oracle serves both (the e33/e34 contract)
    "e37_streaming_clip_align" -> m12OracleSql,
    "m01_media_pipeline" ->
      """WITH b AS (
           SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
                  list_transform(range(1, least(length(text), 256) + 1),
                    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT)) AS hb,
                  list_transform(range(1, length(text) + 1, 8),
                    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT)) AS fb
           FROM documents),
         h AS (
           SELECT media_id, n_bytes,
                  list_reduce(list_prepend(1125899906842597::HUGEINT, hb),
                    (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT) AS wu,
                  list_reduce(list_prepend(11859617469485776670::HUGEINT, fb),
                    (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT) AS fu
           FROM b),
         m1 AS (SELECT media_id, n_bytes, wu,
                  CAST(xor(CAST(CASE WHEN fu >= 9223372036854775808::HUGEINT THEN fu - 18446744073709551616::HUGEINT ELSE fu END AS BIGINT),
                           CAST(fu // 8589934592::HUGEINT AS BIGINT)) AS HUGEINT) AS x1s FROM h),
         m1u AS (SELECT media_id, n_bytes, wu,
                  CASE WHEN x1s < 0::HUGEINT THEN x1s + 18446744073709551616::HUGEINT ELSE x1s END AS x1 FROM m1),
         m2 AS (SELECT media_id, n_bytes, wu,
                  ((x1 % 4294967296::HUGEINT) * 3981806797::HUGEINT
                   + (((x1 % 4294967296::HUGEINT) * 4283543511::HUGEINT + (x1 // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
                  % 18446744073709551616::HUGEINT AS x2 FROM m1u),
         m3 AS (SELECT media_id, n_bytes, wu,
                  CAST(xor(CAST(CASE WHEN x2 >= 9223372036854775808::HUGEINT THEN x2 - 18446744073709551616::HUGEINT ELSE x2 END AS BIGINT),
                           CAST(x2 // 8589934592::HUGEINT AS BIGINT)) AS HUGEINT) AS x3s FROM m2),
         m3u AS (SELECT media_id, n_bytes, wu,
                  CASE WHEN x3s < 0::HUGEINT THEN x3s + 18446744073709551616::HUGEINT ELSE x3s END AS x3 FROM m3),
         m4 AS (SELECT media_id, n_bytes, wu,
                  ((x3 % 4294967296::HUGEINT) * 444984403::HUGEINT
                   + (((x3 % 4294967296::HUGEINT) * 3301882366::HUGEINT + (x3 // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
                  % 18446744073709551616::HUGEINT AS x4 FROM m3u),
         m5 AS (SELECT media_id, n_bytes, wu,
                  xor(CAST(CASE WHEN x4 >= 9223372036854775808::HUGEINT THEN x4 - 18446744073709551616::HUGEINT ELSE x4 END AS BIGINT),
                      CAST(x4 // 8589934592::HUGEINT AS BIGINT)) AS fsigned FROM m4)
         SELECT media_id, n_bytes,
                CAST(16 + wu % 1024::HUGEINT AS INT) AS width,
                CAST(16 + (wu // 1024::HUGEINT) % 1024::HUGEINT AS INT) AS height,
                ROUND(CAST(CAST(CAST(fsigned AS DOUBLE) / 9223372036854775807 AS FLOAT) AS DOUBLE), 6) + 0.0 AS f0
         FROM m5""",
    // width/height CTE = the m01 oracle's rolling hash; resize math mirrors
    // resizeStub exactly (stride = ceil(max/64), dims = ceil(dim/stride),
    // payload truncated to new_w*new_h bytes bounded by the original size)
    "m03_resize" ->
      """WITH b AS (
           SELECT doc_id AS media_id, octet_length(encode(text)) AS L,
                  list_transform(range(1, least(length(text), 256) + 1),
                    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT)) AS hb
           FROM documents),
         h AS (
           SELECT media_id, L,
                  list_reduce(list_prepend(1125899906842597::HUGEINT, hb),
                    (a, c) -> (a * 31 + c) % 18446744073709551616::HUGEINT) AS wu
           FROM b),
         d AS (
           SELECT media_id, L,
                  CAST(16 + wu % 1024::HUGEINT AS INT) AS width,
                  CAST(16 + (wu // 1024::HUGEINT) % 1024::HUGEINT AS INT) AS height
           FROM h),
         r AS (
           SELECT media_id, L, width, height,
                  GREATEST(CAST(CEIL(GREATEST(width, height) / 64.0) AS INT), 1) AS stride
           FROM d)
         SELECT media_id, width, height,
                CAST(CEIL(width / CAST(stride AS DOUBLE)) AS INT) AS new_width,
                CAST(CEIL(height / CAST(stride AS DOUBLE)) AS INT) AS new_height,
                CAST(LEAST(CAST(CEIL(width / CAST(stride AS DOUBLE)) AS INT) *
                           CAST(CEIL(height / CAST(stride AS DOUBLE)) AS INT), L) AS INT)
                  AS resized_bytes
         FROM r""",
    // ASCII fixture: byte value == codepoint, so window energies are
    // relational codepoint sums over 64-char windows
    "m04_audio_energy" ->
      """WITH pos AS (
           SELECT doc_id AS media_id, text, UNNEST(range(1, length(text) + 1)) AS i
           FROM documents)
         SELECT media_id, CAST((i - 1) // 64 AS INT) AS window_no,
                CAST(SUM(unicode(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS energy
         FROM pos GROUP BY 1, 2""",
    // m13: the m04 window-energy replay at w=16 + lag-window cut
    // decisions, running-sum scene labels, per-scene peak keyframe
    "m13_scene_segments" -> m13OracleSql,
    // e43: per-asset scene segmentation drains identically under any
    // batching (assets arrive whole) -- m13's oracle verbatim
    "e43_streaming_scene_segments" -> m13OracleSql,
    "m02_frame_sample" ->
      """SELECT media_id, CAST(i AS INT) AS frame_no,
                CAST(LEAST(chunk, GREATEST(L - i * chunk, 0)) AS INT) AS frame_len
         FROM (SELECT doc_id AS media_id, octet_length(encode(text)) AS L,
                      greatest(CAST(ceil(octet_length(encode(text)) / 4.0) AS INT), 1) AS chunk
               FROM documents), range(0, 4) t(i)""",
    // frame near-dup: byte-exact replay of the frame grid; digests are
    // md5 over the frames' hex encoding (DuckDB md5 is string-only, hex
    // is uppercase in both engines)
    "m05_frame_neardup" ->
      """WITH media AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
                  hex(encode(substr(text, 1, length(text) - 1) || 'X'))
           FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 1),
         sized AS (
           -- byte-exact framing on the hex encoding: 2 hex chars per byte
           SELECT media_id, hx,
                  greatest(CAST(ceil((length(hx) / 2) / 4.0) AS INT), 1) AS chunk
           FROM media),
         fr AS (
           SELECT media_id,
                  substr(hx, CAST(i * chunk * 2 + 1 AS INT),
                         CAST(chunk * 2 AS INT)) AS fhx
           FROM sized, range(0, 4) t(i)),
         fd AS (
           SELECT DISTINCT media_id, md5(fhx) AS d
           FROM fr WHERE length(fhx) > 0)
         SELECT a.media_id AS idA, b2.media_id AS idB, count(*) AS n_shared
         FROM fd a JOIN fd b2 ON a.d = b2.d AND a.media_id < b2.media_id
         GROUP BY 1, 2
         HAVING count(*) >= 3""",
    // the m05 digest CTEs + per-asset distinct-digest counts + Jaccard
    "m06_frame_jaccard" ->
      """WITH media AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
                  hex(encode(substr(text, 1, length(text) - 1) || 'X'))
           FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 1),
         sized AS (
           SELECT media_id, hx,
                  greatest(CAST(ceil((length(hx) / 2) / 4.0) AS INT), 1) AS chunk
           FROM media),
         fr AS (
           SELECT media_id,
                  substr(hx, CAST(i * chunk * 2 + 1 AS INT),
                         CAST(chunk * 2 AS INT)) AS fhx
           FROM sized, range(0, 4) t(i)),
         fd AS (
           SELECT DISTINCT media_id, md5(fhx) AS d
           FROM fr WHERE length(fhx) > 0),
         cnt AS (SELECT media_id, count(*) AS nf FROM fd GROUP BY 1),
         sh AS (
           SELECT a.media_id AS idA, b2.media_id AS idB, count(*) AS n_shared
           FROM fd a JOIN fd b2 ON a.d = b2.d AND a.media_id < b2.media_id
           GROUP BY 1, 2)
         SELECT sh.idA, sh.idB, sh.n_shared,
                ROUND(CAST(sh.n_shared AS DOUBLE) / (ca.nf + cb.nf - sh.n_shared), 6)
                  + 0.0 AS jaccard
         FROM sh JOIN cnt ca ON sh.idA = ca.media_id
                 JOIN cnt cb ON sh.idB = cb.media_id
         WHERE CAST(sh.n_shared AS DOUBLE) / (ca.nf + cb.nf - sh.n_shared) >= 0.5""",
    // snapshot diff: one full-outer join, null-safe payload comparison;
    // after-image for I/U, before-image for D
    "c04_snapshot_diff" ->
      """WITH before_s AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         after_s AS (
           SELECT c_custkey, c_name,
                  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                       ELSE c_acctbal END AS c_acctbal
           FROM customer WHERE c_custkey % 7 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, c_name, c_acctbal
           FROM customer WHERE c_custkey % 100 = 0),
         j AS (
           SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
                  CASE WHEN b.c_custkey IS NULL THEN 'I'
                       WHEN a.c_custkey IS NULL THEN 'D'
                       WHEN (b.c_name IS DISTINCT FROM a.c_name)
                         OR (b.c_acctbal IS DISTINCT FROM a.c_acctbal) THEN 'U'
                  END AS op,
                  CASE WHEN a.c_custkey IS NULL THEN b.c_name
                       ELSE a.c_name END AS c_name,
                  CASE WHEN a.c_custkey IS NULL THEN b.c_acctbal
                       ELSE a.c_acctbal END AS c_acctbal
           FROM before_s b FULL OUTER JOIN after_s a ON b.c_custkey = a.c_custkey)
         SELECT c_custkey, c_name, c_acctbal, op FROM j WHERE op IS NOT NULL"""
  )
}
