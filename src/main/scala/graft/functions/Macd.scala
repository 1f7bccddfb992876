package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** MACD (moving-average convergence/divergence), streamed — the TA panel's
  * trend indicator next to EMA/RSI/KAMA (SURVEY.md §2 extension): fast and
  * slow EMAs of the series, their difference (the MACD line), an EMA of
  * that difference (the signal line), and the histogram crossings that
  * chartists read as trend flips.
  *
  * Recurrence per series in event-time order (ties by unique id), all three
  * EMAs FUSED into one fold — the TRIX lesson (PERF.md r9): three chained
  * `aggregate` HOFs re-inline quadratically under CollapseProject, one fold
  * carrying (ef, es, sg) stays linear. Seeds: ef=es=v₁ (the q_ema seed
  * convention), so macd₁=0 and the signal seeds at 0.
  *
  *   ef' = ef + αf·(v − ef)      αf = 2/13  (12-period fast)
  *   es' = es + αs·(v − es)      αs = 2/27  (26-period slow)
  *   m'  = ef' − es'
  *   sg' = sg + αg·(m' − sg)     αg = 2/10  (9-period signal)
  *   crossings += 1 when (m' − sg')·(m − sg) < 0   (histogram sign flip)
  *
  * Same O(1)-state shape as [[Cusum.cusumByKey]]: one shuffle on the series
  * key, in-partition sort, a group-adjacent streaming fold — no
  * `collect_list` buffer, so a year of 1 Hz samples never materializes in
  * one aggregation buffer. Left-to-right op order matches the DuckDB
  * recursive-CTE oracle exactly; floor-truncation only at the end
  * (Q.scala parity rules). The live T18 monitor
  * (`Pipelines.macdCrossings`) runs the same [[recurrence]] through
  * [[SeriesFold.foldStream]].
  */
object Macd {

  val AlphaFast = 2.0 / 13.0
  val AlphaSlow = 2.0 / 27.0
  val AlphaSig  = 2.0 / 10.0

  /** One output row per series key: terminal MACD state + crossing count. */
  case class MacdRow(user_id: Long, macd: Double, signal_line: Double,
                     histogram: Double, crossings: Long, n_points: Long)

  /** (warm, ef, es, m, sg, crossings) — the whole per-series fold state,
    * batch and live; `warm` is false only before the first sample. */
  final case class St(warm: Boolean, ef: Double, es: Double, m: Double, sg: Double,
                      crossings: Long)

  /** THE MACD step: the first sample seeds ef = es = v (macd = signal = 0);
    * each later sample updates all three EMAs and counts a crossing when
    * the histogram changes sign. */
  val recurrence: SeriesFold.Recurrence[St] =
    SeriesFold.Recurrence(St(false, 0.0, 0.0, 0.0, 0.0, 0L), (s: St, v: Double) =>
      if (!s.warm) St(true, v, v, 0.0, 0.0, 0L)
      else {
        val ef = s.ef + AlphaFast * (v - s.ef)
        val es = s.es + AlphaSlow * (v - s.es)
        val m2 = ef - es
        val sg2 = s.sg + AlphaSig * (m2 - s.sg)
        St(true, ef, es, m2, sg2,
          s.crossings + (if ((m2 - sg2) * (s.m - s.sg) < 0) 1L else 0L))
      }, _.crossings)

  /** Input columns (any names): key LONG, orderTs LONG, tieId LONG, value
    * DOUBLE. Series with one sample report macd=signal=histogram=0.
    */
  def macdByKey(df: DataFrame): Dataset[MacdRow] = {
    implicit val outEnc = Encoders.product[MacdRow]
    SeriesFold.foldBatch(df, recurrence)(
      (k, s, n) => MacdRow(k, s.m, s.sg, s.m - s.sg, s.crossings, n))
  }
}
