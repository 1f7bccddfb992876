package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Tabular CUSUM control chart, streamed (SURVEY.md §2 W13 — the SPC drift
  * detector behind the reference's alarm panels, ref README.md:3 Grafana
  * alerting).
  *
  * Recurrence per series, in event-time order (ties broken by unique id):
  * s⁺ᵢ = max(0, s⁺ᵢ₋₁ + (vᵢ − target) − slack),
  * s⁻ᵢ = max(0, s⁻ᵢ₋₁ − (vᵢ − target) − slack),
  * alarm when either side exceeds `band` AFTER the update.
  *
  * This is the 100 TB path promised in the q_cusum registry entry: one
  * shuffle on the series key, an in-partition sort, then one streaming fold
  * carrying exactly (s⁺, s⁻, alarms, n) — O(1) state per series regardless
  * of length, vs the `collect_list` + `aggregate` HOF spelling that
  * materializes every sample of a series in a single aggregation buffer
  * (a year of 1 Hz samples = 31M structs in one buffer → executor OOM).
  * Same shape as [[Ema.emaByKey]]; CusumByKeySpec pins both spellings equal.
  * The live T14 monitor (`Pipelines.cusumAlerts`) runs the same
  * [[recurrence]] through [[SeriesFold.foldStream]].
  */
object Cusum {

  /** One output row per series key. */
  case class CusumRow(user_id: Long, cusum_pos: Double, cusum_neg: Double,
                      alarms: Long, n_points: Long)

  /** (s⁺, s⁻, alarms) — the whole per-series fold state, batch and live. */
  final case class St(sp: Double, sn: Double, alarms: Long)

  /** THE CUSUM step, zero (0, 0, 0): both sides update on every sample and
    * `alarms` counts the samples after which either side exceeds `band`. */
  def recurrence(target: Double, slack: Double, band: Double): SeriesFold.Recurrence[St] =
    SeriesFold.Recurrence(St(0.0, 0.0, 0L), (s: St, v: Double) => {
      val sp = math.max(0.0, s.sp + (v - target) - slack)
      val sn = math.max(0.0, s.sn - (v - target) - slack)
      St(sp, sn, s.alarms + (if (sp > band || sn > band) 1L else 0L))
    }, _.alarms)

  /** Input columns (any names): key LONG, orderTs LONG, tieId LONG, value
    * DOUBLE. Output is keyed by `user_id` to match the q_cusum registry
    * shape; callers with a different key name re-alias afterwards.
    */
  def cusumByKey(df: DataFrame, target: Double, slack: Double, band: Double): Dataset[CusumRow] = {
    implicit val outEnc = Encoders.product[CusumRow]
    SeriesFold.foldBatch(df, recurrence(target, slack, band))(
      (k, s, n) => CusumRow(k, s.sp, s.sn, s.alarms, n))
  }
}
