package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("bloomPrunedInnerJoin equals the plain inner join row-for-row " +
      "and actually prunes non-matching fact rows before the join") {
    val fact = (1L to 2000L).map(i => (i % 500, i)).toDF("k", "v")
    val build = Seq((7L, "a"), (13L, "b"), (400L, "c"), (9999L, "d"))
      .toDF("k", "name")
    val joined = BloomJoin.bloomPrunedInnerJoin(fact, build, "k")
    val got = joined.select("k", "v", "name").as[(Long, Long, String)]
      .collect().sorted.toSeq
    val want = fact.join(build, Seq("k"), "inner")
      .select("k", "v", "name").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(got === want, "bloom pruning changed the join result")
    assert(got.nonEmpty && got.map(_._1).toSet === Set(7L, 13L, 400L))
    // the observe metric reports realized selectivity: of 2000 fact rows
    // only the 3 matching keys' rows (plus <= fpp false positives) pass
    val (_, metrics) = observedMetrics("bloom_join_pruned")(joined.count())
    val in = metrics("bloom_join_pruned").getAs[Long]("fact_rows_in")
    val kept = metrics("bloom_join_pruned").getAs[Long]("fact_rows_kept")
    assert(in === 2000L, s"observe saw $in fact rows")
    // 3 matching keys x 4 fact rows each = 12 true rows; a 1% fpp
    // filter over 500 distinct keys admits a handful more at most
    assert(kept >= 12L && kept <= 100L,
      s"bloom kept $kept of 2000 — pruning is not happening")
  }

  test("bloom pre-filter sits below the join in the plan (map-side prune)") {
    // parquet-backed fact: a LocalRelation would let Catalyst fold the
    // probe away at plan time and hide the shape under test
    val tmp = tempDir("bloomjoin")
    (1L to 100L).map(i => (i, i)).toDF("k", "v").write.parquet(s"$tmp/fact")
    val fact = spark.read.parquet(s"$tmp/fact")
    val build = Seq((1L, "a")).toDF("k", "name")
    val p = BloomJoin.bloomPrunedInnerJoin(fact, build, "k")
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"),
      s"no bloom probe in the plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }
}
