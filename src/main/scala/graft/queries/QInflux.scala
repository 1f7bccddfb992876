package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import Q._

/** Round-3 widening of the InfluxQL function surface (ref README.md:3 —
  * the reference stores points precisely so InfluxDB 1.7 can run these):
  * INTEGRAL, MODE, NON_NEGATIVE_DERIVATIVE/DIFFERENCE, SAMPLE, and the
  * `GROUP BY time(n) fill(previous|linear)` gap-filling surface, plus a
  * value histogram.
  *
  * Scale notes: every operator here is a single shuffle on the series key
  * (user_id / event_type) — the partitioning a 100 TB series table is
  * bucketed by, making these shuffle-free under bucketing. Gap-filling
  * generates the time grid per series with `sequence()+explode` —
  * distributed row generation proportional to the OUTPUT size, never a
  * driver-side loop, and the grid join is co-partitioned with the
  * aggregate (same key) so AQE plans a local join.
  */
object QInflux {

  // Per-series event-time window, deterministic tie-break (Q.scala rules).
  private def w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
  private val duckW = "PARTITION BY user_id ORDER BY ts, event_id"

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_agg_integral",
      "A10: INTEGRAL — trapezoidal area under value(t) per series (InfluxQL, README.md:3)",
      s"""WITH d AS (
         |  SELECT user_id, value,
         |         lag(value)        OVER ($duckW) AS pv,
         |         epoch_us(ts)      AS tu,
         |         lag(epoch_us(ts)) OVER ($duckW) AS ptu
         |  FROM events)
         |SELECT user_id,
         |       round(sum((value + pv) / 2 * (tu - ptu) / 1000000.0), 2) AS integral
         |FROM d WHERE pv IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("tu", unix_micros(col("ts")))
        .withColumn("ptu", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("pv").isNotNull)
      d.groupBy("user_id")
        .agg(round(sum((col("value") + col("pv")) / 2 * (col("tu") - col("ptu")) / lit(1000000.0)), 2)
          .as("integral"))
        .orderBy("user_id")
    },

    GraftQuery(
      "q_agg_mode",
      "A11: MODE — most frequent (rounded) value per series, ties → lowest (InfluxQL, README.md:3)",
      """WITH c AS (
        |  SELECT event_type, CAST(round(value, 0) AS BIGINT) AS v, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, v AS mode_value, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, v) AS rn
        |  FROM c)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      // Two-level: partial+final hash agg on (series, value), then a
      // per-series top-1 — the map-side combine keeps the shuffle at
      // |distinct values| per series, not |rows|.
      val c = events(s, dir)
        .groupBy(col("event_type"), round(col("value"), 0).cast("bigint").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val rk = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("v"))
      c.withColumn("rn", row_number().over(rk))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("v").as("mode_value"), col("cnt"))
        .orderBy("event_type")
    },

    GraftQuery(
      "q_win_nonneg",
      "W9: NON_NEGATIVE_DERIVATIVE / NON_NEGATIVE_DIFFERENCE — negative results dropped to NULL (InfluxQL)",
      s"""WITH d AS (
         |  SELECT event_id, user_id,
         |         round((value - lag(value) OVER ($duckW))
         |               / ((epoch_us(ts) - lag(epoch_us(ts)) OVER ($duckW)) / 1000000.0), 6) + 0 AS deriv,
         |         round(value - lag(value) OVER ($duckW), 2) + 0 AS diff
         |  FROM events)
         |SELECT event_id, user_id,
         |       CASE WHEN deriv >= 0 THEN deriv END AS nn_deriv,
         |       CASE WHEN diff  >= 0 THEN diff  END AS nn_diff
         |FROM d ORDER BY event_id""".stripMargin) { (s, dir) =>
      val dv = col("value") - lag(col("value"), 1).over(w)
      val dt = (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)) / lit(1000000.0)
      events(s, dir)
        .withColumn("deriv", round(dv / dt, 6) + lit(0.0))
        .withColumn("diff", round(col("value") - lag(col("value"), 1).over(w), 2) + lit(0.0))
        .select(col("event_id"), col("user_id"),
          when(col("deriv") >= 0, col("deriv")).as("nn_deriv"),
          when(col("diff") >= 0, col("diff")).as("nn_diff"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_fill_previous",
      "A12: GROUP BY time(1h) fill(previous) — gap-filled downsample, grid generated distributed (InfluxQL)",
      """WITH a AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM a GROUP BY user_id),
        |j AS (SELECT g.user_id, g.h, a.v FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.h = a.h)
        |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket, v,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM j ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      val a = events(s, dir)
        .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(avg(col("value")), 4).as("v"))
      // Grid rows are generated per series ON THE EXECUTORS (sequence +
      // explode): output-proportional work, no driver loop; the grid
      // inherits the aggregate's (user_id) partitioning so the left join
      // below needs no extra shuffle of the big side.
      val grid = a.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val wf = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(a, Seq("user_id", "h"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(wf))
        .select(col("user_id"), tsS(col("h")).as("bucket"), col("v"), col("filled"))
        .orderBy("user_id", "bucket")
    },

    GraftQuery(
      "q_fill_linear",
      "A13: GROUP BY time(1h) fill(linear) — linear interpolation between surrounding samples (InfluxQL)",
      """WITH a AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM a GROUP BY user_id),
        |j AS (SELECT g.user_id, g.h, a.v FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.h = a.h),
        |ctx AS (
        |  SELECT user_id, h, v,
        |         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
        |         first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket, v,
        |       CASE WHEN v IS NOT NULL THEN v
        |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |              floor((pv + (nv - pv) * (epoch_us(h) - ph) / (nh - ph)) * 10000) / 10000
        |       END AS filled
        |FROM ctx ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      val a = events(s, dir)
        .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(avg(col("value")), 4).as("v"))
      val grid = a.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val wPrev = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(1, Window.unboundedFollowing)
      val hu = unix_micros(col("h"))
      grid.join(a, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, hu), ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("v").isNotNull, hu), ignoreNulls = true).over(wNext))
        .select(col("user_id"), tsS(col("h")).as("bucket"), col("v"),
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              // floor(x*1e4)/1e4, NOT round(x,4): the interpolated double is
              // bit-identical in both engines (same IEEE ops on identical
              // inputs), and floor of it is too — round() isn't (Spark
              // rounds the shortest decimal repr, DuckDB the binary value;
              // values near a .00005 boundary split).
              floor((col("pv") + (col("nv") - col("pv")) * (hu - col("ph")) / (col("nh") - col("ph")))
                * 10000) / 10000)
            .as("filled"))
        .orderBy("user_id", "bucket")
    },

    GraftQuery(
      "q_sample",
      "A14: SAMPLE(3) per series — deterministic pseudo-random pick via an LCG hash rank (InfluxQL SAMPLE)",
      """SELECT event_id, user_id, value, rk FROM (
        |  SELECT event_id, user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY (event_id * 1103515245 + 12345) % 2147483647, event_id) AS rk
        |  FROM events)
        |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin) { (s, dir) =>
      // InfluxQL SAMPLE uses reservoir sampling; an LCG-hash rank is the
      // deterministic, oracle-checkable equivalent with the same uniformity
      // at scale (and per-partition top-k pushes the filter map-side).
      val rk = Window.partitionBy("user_id")
        .orderBy((col("event_id") * 1103515245L + 12345L) % 2147483647L, col("event_id"))
      events(s, dir)
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select("event_id", "user_id", "value", "rk")
        .orderBy("user_id", "rk")
    },

    GraftQuery(
      "q_holt_forecast",
      "A16: HOLT_WINTERS-style 1-step forecast — Holt linear (double exponential) smoothing per series (InfluxQL forecasting, README.md:3)",
      // Same fold, same IEEE op order in both engines (recursive CTE vs
      // aggregate HOF), so the doubles are bit-identical; floor-truncate
      // for the rendered value (see q_fill_linear note).
      // Init: l=v2, b=v2-v1; step: l' = a*v + (1-a)*(l+b), b' = g*(l'-l) + (1-g)*b.
      // (NOT list_reduce with a struct accumulator: DuckDB updates the
      // accumulator's fields sequentially in place, so the second field's
      // expression reads the first field's NEW value — a plain recursive
      // CTE evaluates all step columns from the old row.)
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals, count(*) AS n
        |  FROM events GROUP BY user_id),
        |s(user_id, n, vals, i, l, b) AS (
        |  SELECT user_id, n, vals, CAST(3 AS BIGINT), vals[2]::DOUBLE, (vals[2] - vals[1])::DOUBLE
        |  FROM o WHERE n >= 2
        |  UNION ALL
        |  SELECT user_id, n, vals, i + 1,
        |         0.5 * vals[i] + 0.5 * (l + b),
        |         0.3 * ((0.5 * vals[i] + 0.5 * (l + b)) - l) + 0.7 * b
        |  FROM s WHERE i <= n),
        |fc AS (
        |  SELECT user_id, n, floor((l + b) * 10000) / 10000 AS forecast FROM s WHERE i = n + 1
        |  UNION ALL
        |  SELECT user_id, n, vals[1] FROM o WHERE n = 1)
        |SELECT user_id, n, forecast FROM fc ORDER BY user_id""".stripMargin) { (s, dir) =>
      // O(1)-state scale path (VERDICT r4 #3): one shuffle on the series
      // key, in-partition sort, streaming fold — per-series state is
      // (n, v1, l, b), never the series history. The collect_list array
      // form this replaced kept a hot series' entire history in one
      // aggregation buffer (unbounded at 100 TB); it survives as the
      // equality pin in AsofAndEmaSpec and as the recursive-CTE oracle.
      // Plan pinned collect_list-free in PlanAuditSpec.
      graft.functions.Holt.holtByKey(
        events(s, dir).select(
          col("user_id"), unix_micros(col("ts")), col("event_id"), col("value")),
        alpha = 0.5, gamma = 0.3)
        .toDF("user_id", "n", "forecast")
        .orderBy("user_id")
    },

    GraftQuery(
      "q_win_rsi",
      "W10: RELATIVE_STRENGTH_INDEX(14) per series — SMA variant, window-expressible (InfluxQL technical analysis)",
      // Integer-cents + floor half-up (r12, the sf1-parity convention):
      // 100 − 100/(1 + ag/al) == 100·su/(su+sd) over the window SUMS, so
      // the whole statistic is one division of exact integers — identical
      // op sequence in both engines at any scale, no round() tie exposure.
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |         round(value * 100)::BIGINT
         |           - lag(round(value * 100)::BIGINT) OVER ($duckW) AS df
         |  FROM events),
         |g AS (
         |  SELECT event_id, user_id,
         |         sum(CASE WHEN df > 0 THEN df ELSE 0 END) OVER ($duckW
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS su,
         |         sum(CASE WHEN df < 0 THEN -df ELSE 0 END) OVER ($duckW
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sd
         |  FROM d WHERE df IS NOT NULL)
         |SELECT event_id, user_id,
         |       CASE WHEN sd = 0 THEN 100
         |            ELSE floor(CAST(su * 1000000 AS DOUBLE) / (su + sd) + 0.5)
         |                   / 10000 END AS rsi
         |FROM g ORDER BY event_id""".stripMargin) { (s, dir) =>
      val v100 = round(col("value") * 100, 0).cast("long")
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-13, Window.currentRow)
      events(s, dir)
        .withColumn("v100", v100)
        .withColumn("df", col("v100") - lag(col("v100"), 1).over(w))
        .filter(col("df").isNotNull)
        .withColumn("su", sum(when(col("df") > 0, col("df")).otherwise(0L)).over(wf))
        .withColumn("sd", sum(when(col("df") < 0, -col("df")).otherwise(0L)).over(wf))
        .select(col("event_id"), col("user_id"),
          when(col("sd") === 0, 100.0)
            .otherwise(floor((col("su") * 1000000L).cast("double")
              / (col("su") + col("sd")) + 0.5) / 10000)
            .as("rsi"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_win_cmo",
      "W11: CHANDE_MOMENTUM_OSCILLATOR(14) per series — windowed up/down momentum sums (InfluxQL technical analysis)",
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |         round(value * 100)::BIGINT
         |           - lag(round(value * 100)::BIGINT) OVER ($duckW) AS df
         |  FROM events),
         |g AS (
         |  SELECT event_id, user_id,
         |         sum(CASE WHEN df > 0 THEN df ELSE 0 END) OVER ($duckW
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS su,
         |         sum(CASE WHEN df < 0 THEN -df ELSE 0 END) OVER ($duckW
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sd
         |  FROM d WHERE df IS NOT NULL)
         |SELECT event_id, user_id,
         |       CASE WHEN su + sd = 0 THEN 0
         |            ELSE floor(CAST((su - sd) * 1000000 AS DOUBLE) / (su + sd) + 0.5)
         |                   / 10000 END AS cmo
         |FROM g ORDER BY event_id""".stripMargin) { (s, dir) =>
      // same integer-cents floor half-up convention as q_win_rsi (r12)
      val v100c = round(col("value") * 100, 0).cast("long")
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-13, Window.currentRow)
      events(s, dir)
        .withColumn("v100", v100c)
        .withColumn("df", col("v100") - lag(col("v100"), 1).over(w))
        .filter(col("df").isNotNull)
        .withColumn("su", sum(when(col("df") > 0, col("df")).otherwise(0L)).over(wf))
        .withColumn("sd", sum(when(col("df") < 0, -col("df")).otherwise(0L)).over(wf))
        .select(col("event_id"), col("user_id"),
          when(col("su") + col("sd") === 0, 0.0)
            .otherwise(floor(((col("su") - col("sd")) * 1000000L).cast("double")
              / (col("su") + col("sd")) + 0.5) / 10000)
            .as("cmo"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_win_ker",
      "W12: KAUFMANS_EFFICIENCY_RATIO(10) per series — |net change| / path length (InfluxQL technical analysis)",
      // Integer-cents + floor half-up (r12, the sf1-parity convention):
      // |net change| and path length are exact integer cents, so the ratio
      // is one division of exact integers in both engines at any scale.
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |         abs(round(value * 100)::BIGINT
         |             - lag(round(value * 100)::BIGINT) OVER ($duckW)) AS adf,
         |         abs(round(value * 100)::BIGINT
         |             - lag(round(value * 100)::BIGINT, 10) OVER ($duckW)) AS chg,
         |         row_number() OVER ($duckW) AS rn
         |  FROM events),
         |g AS (
         |  SELECT event_id, user_id, chg, rn,
         |         sum(adf) OVER ($duckW ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vol
         |  FROM d)
         |SELECT event_id, user_id,
         |       CASE WHEN vol = 0 THEN 0
         |            ELSE floor(CAST(chg * 10000 AS DOUBLE) / vol + 0.5) / 10000 END AS ker
         |FROM g WHERE rn > 10 ORDER BY event_id""".stripMargin) { (s, dir) =>
      val wrn = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      val v100k = round(col("value") * 100, 0).cast("long")
      events(s, dir)
        .withColumn("v100", v100k)
        .withColumn("adf", abs(col("v100") - lag(col("v100"), 1).over(wrn)))
        .withColumn("chg", abs(col("v100") - lag(col("v100"), 10).over(wrn)))
        .withColumn("rn", row_number().over(wrn))
        .withColumn("vol", sum(col("adf")).over(wf))
        .filter(col("rn") > 10)
        .select(col("event_id"), col("user_id"),
          when(col("vol") === 0, 0.0)
            .otherwise(floor((col("chg") * 10000L).cast("double") / col("vol") + 0.5) / 10000)
            .as("ker"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_pivot",
      "A17: one column per series (Grafana multi-series table, README.md:98-100) — pivot on the series tag",
      // truncation (not round) on the cell means: round-on-double at an
      // exact half-point differs between engines (seen at sf0.1), floor
      // never does — q_fill_linear convention
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        |       floor(avg(value) FILTER (event_type = 'click') * 10000) / 10000 AS click,
        |       floor(avg(value) FILTER (event_type = 'error') * 10000) / 10000 AS error,
        |       floor(avg(value) FILTER (event_type = 'purchase') * 10000) / 10000 AS purchase,
        |       floor(avg(value) FILTER (event_type = 'signup') * 10000) / 10000 AS signup,
        |       floor(avg(value) FILTER (event_type = 'view') * 10000) / 10000 AS view
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      // Explicit pivot values: no extra distinct-scan job, stable schema
      // (the open-ended form collects distinct keys to the driver — an
      // anti-pattern on a high-cardinality tag at 100 TB).
      events(s, dir)
        .groupBy(tsS(date_trunc("hour", col("ts"))).as("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(floor(avg(col("value")) * 10000) / 10000)
        .orderBy("bucket")
    },

    GraftQuery(
      "q_histogram",
      "A15: value histogram — fixed-width bins per series (dashboard surface, README.md:98-100)",
      """SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bin, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 50).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    },

    GraftQuery(
      "q_agg_corr",
      "A18: PEARSON correlation + sample covariance per series (Flux pearsonr; README.md:98-100)",
      // x = whole seconds since 2024-01-01 (floored identically in both
      // engines; small magnitude keeps co-moment drift far inside round(4)).
      """SELECT user_id,
        |       round(corr(value, floor(epoch(ts)) - 1704067200), 4) + 0 AS corr_tv,
        |       round(covar_samp(value, (floor(epoch(ts)) - 1704067200) / 3600.0), 4) + 0 AS covar_vh
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val x = unix_timestamp(col("ts")) - lit(1704067200L)
      events(s, dir)
        .groupBy("user_id")
        .agg(
          (round(corr(col("value"), x), 4) + lit(0.0)).as("corr_tv"),
          (round(covar_samp(col("value"), x / 3600.0), 4) + lit(0.0)).as("covar_vh"))
        .orderBy("user_id")
    },

    GraftQuery(
      "q_regex_match",
      "A19: regex series selection — InfluxQL `FROM /re/` and `=~ /re/` tag predicates (README.md:98-100)",
      """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events WHERE regexp_matches(event_type, '^(cl|pu)')
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .filter(col("event_type").rlike("^(cl|pu)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type")
    },

    GraftQuery(
      "q_cusum",
      "W13 (r9): tabular CUSUM control chart per series — the SPC drift detector the " +
        "reference's alarm panels approximate with thresholds (ref README.md:3 Grafana " +
        "alerting). Fixed engineering target 50.0, slack k=2, alarm band h=100 (a spec'd " +
        "target, not the sample mean — standard control-chart practice, and it keeps the " +
        "fold free of cross-engine mean drift). Order-sensitive recurrence " +
        "s+ = max(0, s+ + (v-50) - 2), s- = max(0, s- - (v-50) - 2), alarm when either " +
        "exceeds h AFTER the update. One shuffle (repartition on user_id) + in-partition " +
        "sort + a streaming group-adjacent fold carrying exactly (s+, s-, alarms, n) — " +
        "O(1) state per series regardless of length (functions/Cusum.scala; the r9 " +
        "collect_list spelling buffered whole series in one aggregation buffer and is " +
        "pinned OUT of this plan by PlanAuditSpec; CusumByKeySpec pins both spellings " +
        "equal). Identical left-to-right op order as the DuckDB recursive CTE; " +
        "floor-truncation only at the end (Q.scala parity rules).",
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals, count(*) AS n
        |  FROM events GROUP BY user_id),
        |s(user_id, n, vals, i, sp, sn, alarms) AS (
        |  SELECT user_id, n, vals, CAST(0 AS BIGINT), 0.0::DOUBLE, 0.0::DOUBLE, CAST(0 AS BIGINT)
        |  FROM o
        |  UNION ALL
        |  SELECT user_id, n, vals, i + 1,
        |         greatest(0.0, sp + (vals[i + 1] - 50.0) - 2.0),
        |         greatest(0.0, sn - (vals[i + 1] - 50.0) - 2.0),
        |         alarms + CASE WHEN greatest(0.0, sp + (vals[i + 1] - 50.0) - 2.0) > 100.0
        |                         OR greatest(0.0, sn - (vals[i + 1] - 50.0) - 2.0) > 100.0
        |                       THEN 1 ELSE 0 END
        |  FROM s WHERE i < n)
        |SELECT user_id,
        |       floor(sp * 10000) / 10000 AS cusum_pos,
        |       floor(sn * 10000) / 10000 AS cusum_neg,
        |       alarms, n AS n_points
        |FROM s WHERE i = n ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.functions.Cusum.cusumByKey(
          events(s, dir).select(col("user_id"), col("ts_ns"), col("event_id"), col("value")),
          target = 50.0, slack = 2.0, band = 100.0)
        .toDF()
        .select(col("user_id"),
          (floor(col("cusum_pos") * 10000) / 10000).as("cusum_pos"),
          (floor(col("cusum_neg") * 10000) / 10000).as("cusum_neg"),
          col("alarms"), col("n_points"))
        .orderBy("user_id")
    },

    GraftQuery(
      "q_ewma_chart",
      "Extension (r10): EWMA control chart per series — the SPC sibling of CUSUM " +
        "(W13) for small sustained shifts: z_i = λ·v_i + (1−λ)·z_{i−1} (λ = 0.2, " +
        "seeded at the target 50.0), alarm when |z − 50| exceeds L·σ_z with L = 3 " +
        "and σ_z the asymptotic EWMA σ·sqrt(λ/(2−λ)) for spec'd σ = 10 (fixed " +
        "constants keep the fold oracle-checkable, the q_cusum convention). " +
        "The recurrence is functions/Ewma.scala, shared with the live T19 monitor, " +
        "run through SeriesFold's batch adapter — one shuffle on the series key, " +
        "no collect_list buffer. The alarm band is a constant " +
        "both engines fold identically; only the terminal z is floor-truncated.",
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals, count(*) AS n
        |  FROM events GROUP BY user_id),
        |s(user_id, n, vals, i, z, alarms) AS (
        |  SELECT user_id, n, vals, CAST(0 AS BIGINT), 50.0::DOUBLE, CAST(0 AS BIGINT)
        |  FROM o
        |  UNION ALL
        |  SELECT user_id, n, vals, i + 1,
        |         0.2 * vals[i + 1] + 0.8 * z,
        |         alarms + CASE WHEN abs(0.2 * vals[i + 1] + 0.8 * z - 50.0)
        |                            > 3.0 * (10.0 * sqrt(0.2 / 1.8))
        |                       THEN 1 ELSE 0 END
        |  FROM s WHERE i < n)
        |SELECT user_id,
        |       floor(z * 10000) / 10000 AS ewma,
        |       alarms, n AS n_points
        |FROM s WHERE i = n ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.{Ewma, SeriesFold}
      implicit val enc = org.apache.spark.sql.Encoders.product[(Long, Double, Long, Long)]
      SeriesFold.foldBatch(
          events(s, dir).select(col("user_id"), col("ts_ns"), col("event_id"), col("value")),
          Ewma.recurrence(lambda = 0.2, target = 50.0, band = Ewma.Band))(
          (k, st, n) => (k, st.z, st.alarms, n))
        .toDF("user_id", "z", "alarms", "n_points")
        .select(col("user_id"),
          (floor(col("z") * 10000) / 10000).as("ewma"),
          col("alarms"), col("n_points"))
        .orderBy("user_id")
    },

    GraftQuery(
      "q_macd",
      "Extension (r10): MACD trend indicator per series — fast(12)/slow(26) EMAs, " +
        "their difference (MACD line), the 9-period signal EMA of that difference, " +
        "and the histogram sign-flip count chartists read as trend reversals. All " +
        "THREE EMA recurrences fused into ONE O(1)-state streaming fold " +
        "(functions/Macd.scala, the Cusum/TRIX shape): one shuffle on the series " +
        "key + in-partition sort, no collect_list buffer, so an unbounded series " +
        "never materializes in one aggregation buffer. Identical left-to-right op " +
        "order as the recursive-CTE oracle; floor-truncation only at the end.",
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals, count(*) AS n
        |  FROM events GROUP BY user_id),
        |s(user_id, n, vals, i, ef, es, m, sg, crossings) AS (
        |  SELECT user_id, n, vals, CAST(1 AS BIGINT),
        |         vals[1]::DOUBLE, vals[1]::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
        |         CAST(0 AS BIGINT)
        |  FROM o
        |  UNION ALL
        |  SELECT user_id, n, vals, i + 1, ef2, es2, m2,
        |         sg + (2.0/10.0) * (m2 - sg),
        |         crossings + CASE WHEN (m2 - (sg + (2.0/10.0) * (m2 - sg)))
        |                               * (m - sg) < 0
        |                          THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT user_id, n, vals, i, m, sg, crossings,
        |           ef + (2.0/13.0) * (vals[i + 1] - ef) AS ef2,
        |           es + (2.0/27.0) * (vals[i + 1] - es) AS es2,
        |           (ef + (2.0/13.0) * (vals[i + 1] - ef))
        |             - (es + (2.0/27.0) * (vals[i + 1] - es)) AS m2
        |    FROM s WHERE i < n) t)
        |SELECT user_id,
        |       floor(m * 10000) / 10000 AS macd,
        |       floor(sg * 10000) / 10000 AS signal_line,
        |       floor((m - sg) * 10000) / 10000 AS histogram,
        |       crossings, n AS n_points
        |FROM s WHERE i = n ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.functions.Macd.macdByKey(
          events(s, dir).select(col("user_id"), col("ts_ns"), col("event_id"), col("value")))
        .toDF()
        .select(col("user_id"),
          (floor(col("macd") * 10000) / 10000).as("macd"),
          (floor(col("signal_line") * 10000) / 10000).as("signal_line"),
          (floor(col("histogram") * 10000) / 10000).as("histogram"),
          col("crossings"), col("n_points"))
        .orderBy("user_id")
    },
  )
}
