package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The shared O(1)-state per-series fold behind EMA, Holt, CUSUM, EWMA and
  * MACD. Each control chart is defined ONCE, as a [[Recurrence]] (zero
  * state + step), and run through one of two adapters:
  *
  *  - batch, [[foldBatch]] / [[foldByKey]]: one shuffle on the series key,
  *    an in-partition (key, ts, tie) sort, then a group-adjacent fold that
  *    carries ONLY the state — no collect_list buffer, so a year of 1 Hz
  *    samples never materializes in one aggregation buffer (the scale
  *    contract PlanAuditSpec pins on the q_cusum/q_macd plans);
  *  - live, [[foldStream]]: `groupByKey(user_id)` +
  *    `flatMapGroupsWithState`, the state checkpointed per series, each
  *    micro-batch's slice folded in (ts, event_id) order, and one row
  *    emitted per sample that raises the state's alarm/crossing counter.
  *
  * A stream fed in event-time order therefore reproduces the batch fold
  * exactly (CusumStreamSpec, MacdStreamSpec, EwmaStreamSpec).
  */
object SeriesFold {

  /** One per-series recurrence: `zero` is the state before any sample,
    * `step` folds one value, and `events` reads the state's alarm or
    * crossing counter. The batch seed is `step(zero, v₁)`. */
  final case class Recurrence[S](zero: S, step: (S, Double) => S, events: S => Long)

  /** One live sample — the columns [[foldStream]] selects from its input. */
  final case class Sample(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Input columns (any names): key LONG, orderTs LONG, tieId LONG, value
    * DOUBLE. `seed` opens a series at its first value, `step` folds each
    * later value, and `emit` maps (key, final state, n) to the one output
    * row per series.
    */
  def foldByKey[S, O: Encoder](df: DataFrame)(seed: Double => S)(
      step: (S, Double) => S)(emit: (Long, S, Long) => O): Dataset[O] = {
    implicit val inEnc: Encoder[(Long, Long, Long, Double)] =
      Encoders.product[(Long, Long, Long, Double)]
    df.toDF("k", "t", "i", "v")
      .repartition(col("k"))
      .sortWithinPartitions("k", "t", "i")
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        // Group-adjacent streaming fold: each next() consumes one whole
        // series run and emits its terminal row — nothing is buffered.
        val rows = it.buffered
        new Iterator[O] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): O = {
            val k = rows.head._1
            var st = seed(rows.next()._4)
            var n = 1L
            while (rows.hasNext && rows.head._1 == k) {
              st = step(st, rows.next()._4)
              n += 1
            }
            emit(k, st, n)
          }
        }
      }
  }

  /** The batch adapter for a [[Recurrence]] (input columns as [[foldByKey]]). */
  def foldBatch[S, O: Encoder](df: DataFrame, r: Recurrence[S])(
      emit: (Long, S, Long) => O): Dataset[O] =
    foldByKey(df)(v => r.step(r.zero, v))(r.step)(emit)

  /** The live adapter for a [[Recurrence]]. Input columns: event_id LONG,
    * user_id LONG, ts TIMESTAMP, value (cast to DOUBLE). The state is
    * checkpointed per user_id; `emit` maps (sample, state after it) to the
    * row sent for each sample that raised `r.events`.
    */
  def foldStream[S: Encoder, E: Encoder](stream: DataFrame, r: Recurrence[S])(
      emit: (Sample, S) => E): Dataset[E] =
    stream
      .select(col("event_id"), col("user_id"), col("ts"), col("value").cast("double").as("value"))
      .as[Sample](Encoders.product[Sample])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Sample], state: GroupState[S]) => {
          var st = state.getOption.getOrElse(r.zero)
          val out = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val before = r.events(st)
            st = r.step(st, e.value)
            if (r.events(st) > before) Some(emit(e, st)) else None
          }
          state.update(st)
          out.iterator
        })

  /** Deterministic fold order inside one micro-batch group: (ts, event_id).
    * Spark hands flatMapGroupsWithState an UNORDERED iterator over the
    * group's slice of the CURRENT micro-batch, so the fold buffers and
    * sorts that slice on the executor. The buffer is bounded by micro-batch
    * size (trigger interval × per-series ingest rate), NOT by stream
    * history — the O(1)-state claims of these folds refer to the
    * checkpointed per-series state, which never grows; intra-batch
    * buffering is the standard cost of ordered stateful folds.
    */
  private[graft] def eventTimeOrdered[T](it: Iterator[T])(key: T => (Long, Long)): Seq[T] =
    it.toSeq.sortBy(key)
}
