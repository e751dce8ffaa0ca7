package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/**
 * Keyed-PK-state existence filtering for streaming migrations (O6/O14 in
 * streaming mode; VERDICT r4 #2).
 *
 * The reference probes the live target for each page's PKs
 * (reference: IfNotExistFilter.java:71-89); the first streaming port here
 * re-loaded the FULL target per micro-batch for an anti-join — correct,
 * but at 100× the per-batch target scan dominates the stream. This
 * operator instead keeps the seen-PK set in Structured Streaming keyed
 * state:
 *
 *  - the target's PKs are read ONCE at stream start and handed to
 *    `flatMapGroupsWithState` as its initial state (Spark only scans the
 *    initial-state plan in the first micro-batch);
 *  - every emitted row marks its PK seen, so later micro-batches drop
 *    re-arrivals without touching the target at all — state lookups are
 *    local to each partition's state store.
 *
 * Scale posture: state is the PK set — skinny (PK columns only), hash
 * partitioned across executors, and exactly what the filter semantically
 * IS. At 100 TB targets use the RocksDB state store provider
 * (`spark.sql.streaming.stateStore.providerClass`) so the set spills to
 * local disk instead of executor heap. The set is monotone; no timeout
 * ever evicts (`GroupStateTimeout.NoTimeout`).
 *
 * Semantics note (documented delta vs the per-batch reload): rows written
 * to the target by EXTERNAL writers after stream start are not observed —
 * the stream sees its own history plus the start-time snapshot. The
 * reference has the same race per page (probe-then-write is not atomic
 * without LWT).
 */
object StreamingExistenceFilter {

  /** Drop rows of `stream` whose PK tuple exists in `initialPks` or was
    * already emitted by an earlier micro-batch (first occurrence wins; all
    * rows of a first-seen PK inside one batch pass, matching the anti-join
    * it replaces, which only filtered against the target).
    */
  def apply(stream: DataFrame, initialPks: Option[DataFrame],
      pkCols: Seq[String]): DataFrame = {
    val rowEnc: Encoder[Row] = Encoders.row(stream.schema)
    val keySchema = StructType(pkCols.map(c => stream.schema(c).copy(name = c)))
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val stateEnc: Encoder[Boolean] = Encoders.scalaBoolean

    def keyOf(schema: StructType): Row => Row = {
      val idx = pkCols.map(schema.fieldIndex).toArray
      r => Row.fromSeq(idx.toIndexedSeq.map(r.get))
    }

    val grouped = stream.as(rowEnc).groupByKey(keyOf(stream.schema))(keyEnc)

    // seed: one skinny projection of the target's PKs, cast to the stream's
    // key types so the binary key encodings line up
    val seeded = initialPks.map { pks =>
      // distinct BEFORE seeding: Spark rejects initial state with multiple
      // rows per key, and a user's target table may hold duplicate PKs
      val aligned = pks.select(pkCols.map(c =>
        col(c).cast(stream.schema(c).dataType).as(c)): _*).dropDuplicates()
      aligned.as(keyEnc).groupByKey((r: Row) => r)(keyEnc)
        .mapValues((_: Row) => true)(stateEnc)
    }

    val emit = (key: Row, rows: Iterator[Row], state: GroupState[Boolean]) => {
      if (state.exists) Iterator.empty
      else { state.update(true); rows }
    }
    val filtered: Dataset[Row] = seeded match {
      case Some(init) => grouped.flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout, init)(emit)(stateEnc, rowEnc)
      case None => grouped.flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(emit)(stateEnc, rowEnc)
    }
    filtered.toDF()
  }
}
