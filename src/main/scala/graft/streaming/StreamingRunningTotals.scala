package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Custom keyed state under Structured Streaming via `mapGroupsWithState` —
 * the escape hatch for state machines the built-in windowed/dedup
 * aggregates can't express (the reference has no equivalent; this is part
 * of the engine's streaming surface, SURVEY §7.5).
 *
 * The example operator keeps an exact running (count, sum) per key across
 * micro-batches and emits the updated totals for every key touched in a
 * batch — a streaming counter table with in-flight reads, vs the
 * append-then-merge-on-read counter sink path.
 *
 * Scale posture: state is ONE small row per key (two longs + a double),
 * partitioned by key in the state store; an optional processing-time
 * timeout evicts idle keys so unbounded key spaces can't grow state
 * forever.
 */
object StreamingRunningTotals {

  final case class KeyTotals(key: String, count: Long, sum: Double)

  /** Per-key exact running totals across micro-batches.
    * @param idleTimeout e.g. "30 minutes": evict state for keys idle that
    *                    long (processing time); null/empty = keep forever.
    */
  def runningTotals(
      spark: SparkSession, stream: DataFrame,
      keyCol: String, valueCol: String,
      idleTimeout: String = null): Dataset[KeyTotals] = {
    import spark.implicits._
    val timeout =
      if (idleTimeout == null || idleTimeout.isEmpty) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    stream
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($valueCol AS DOUBLE) AS v")
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), KeyTotals](timeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            // emit the final totals once, then drop the state row
            val (c, s) = state.get
            state.remove()
            KeyTotals(key, c, s)
          } else {
            var (c, s) = state.getOption.getOrElse((0L, 0.0))
            rows.foreach { case (_, v) => c += 1; s += v }
            state.update((c, s))
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(idleTimeout)
            KeyTotals(key, c, s)
          }
      }
  }

  /** Convenience: run the totals to an in-memory sink (update mode — only
    * keys touched in a batch re-emit). Caller owns the query lifecycle.
    */
  def startToMemory(
      spark: SparkSession, stream: DataFrame, keyCol: String, valueCol: String,
      queryName: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    runningTotals(spark, stream, keyCol, valueCol)
      .writeStream
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .start()
}
