package graft.functions

/** EWMA control chart (SURVEY.md §2 W21 — the SPC sibling of CUSUM for
  * small sustained shifts, ref README.md:3 alerting): z ← λ·v + (1−λ)·z
  * seeded at the target, alarm when |z − target| exceeds the band after the
  * update. The batch key q_ewma_chart runs this [[recurrence]] through
  * [[SeriesFold.foldBatch]], the live T19 monitor (`Pipelines.ewmaAlerts`)
  * through [[SeriesFold.foldStream]].
  */
object Ewma {

  /** L·σ_z for L = 3, σ = 10, λ = 0.2: the asymptotic 3σ band σ·sqrt(λ/(2−λ)). */
  val Band: Double = 3.0 * (10.0 * math.sqrt(0.2 / 1.8))

  /** (z, alarms) — the whole per-series fold state, batch and live. */
  final case class St(z: Double, alarms: Long)

  /** THE EWMA step, zero (target, 0): the first sample already updates z. */
  def recurrence(lambda: Double, target: Double, band: Double): SeriesFold.Recurrence[St] =
    SeriesFold.Recurrence(St(target, 0L), (s: St, v: Double) => {
      val z = lambda * v + (1.0 - lambda) * s.z
      St(z, s.alarms + (if (math.abs(z - target) > band) 1L else 0L))
    }, _.alarms)
}
