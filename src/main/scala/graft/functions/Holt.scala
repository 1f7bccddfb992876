package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Holt linear (double exponential) smoothing — the O(1)-state scale path
  * (VERDICT r4 #3; InfluxQL HOLT_WINTERS surface, ref README.md:3).
  *
  * Same math as q_holt_forecast's closed array form (the DuckDB recursive
  * CTE oracle twin): init l=v₂, b=v₂−v₁; step l′ = α·v + (1−α)·(l+b),
  * b′ = γ·(l′−l) + (1−γ)·b; 1-step forecast = l+b, floor-truncated to 4
  * decimals (bit-deterministic across engines, see q_fill_linear note).
  *
  * Execution: [[SeriesFold.foldByKey]] — ONE shuffle on the series key,
  * an in-partition sort on (key, ts, id), then a group-adjacent fold —
  * state per series is (n, v1, l, b) regardless of series length. The
  * collect_list array form keeps a hot series' entire history in one
  * aggregation buffer; at 100 TB that buffer is unbounded, this fold is
  * 32 bytes.
  * Pinned by PlanAuditSpec: no collect_list in q_holt_forecast's plan.
  */
object Holt {

  /** (n, v₁, l, b): samples folded, the first value, level and trend. */
  private final case class St(n: Long, v1: Double, l: Double, b: Double)

  /** Input columns (k, t, i, v) = (series key, event-time micros, unique
    * tie-break id, value); output one row per key: (k, n, forecast) with
    * n = series length and forecast = the 1-step Holt forecast
    * (n = 1 → the single value, passed through un-truncated — matching
    * the oracle's `n = 1` branch).
    */
  def holtByKey(df: DataFrame, alpha: Double, gamma: Double): Dataset[(Long, Long, Double)] = {
    implicit val outEnc = Encoders.product[(Long, Long, Double)]
    SeriesFold.foldByKey(df)(v => St(1L, v, 0.0, 0.0))((s, v) =>
      if (s.n == 1L) St(2L, s.v1, v, v - s.v1)
      else {
        val l = alpha * v + (1 - alpha) * (s.l + s.b)
        St(s.n + 1, s.v1, l, gamma * (l - s.l) + (1 - gamma) * s.b)
      })(
      (k, s, n) => (k, n, if (n == 1L) s.v1 else math.floor((s.l + s.b) * 10000) / 10000))
  }
}
