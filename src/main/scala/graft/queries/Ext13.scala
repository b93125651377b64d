package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Exact, Pmath}
import graft.operators.Temporal

/** Round-8 sixth wave — spectral analysis on the portable trig kernel
  * ([[Pmath.sinColumn]]/[[Pmath.cosColumn]]): the angle is range-
  * reduced with EXACT integer arithmetic (m = k·t mod N, recentred to
  * (−N/2, N/2]) so the trig series only ever sees |θ| ≤ π, where one
  * fixed Horner replays bit-identically on both engines. Sums over the
  * calendar-bounded day spine are spine-ordered folds (the standing
  * bounded-fold device). */
object Ext13 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dbl = (c: Column) => c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DFT periodogram of the daily order-count series at harmonics
    // k = 1..8: P_k = (Σ c_t cos θ)² + (Σ c_t sin θ)², θ = 2π·kt/N
    // integer-reduced — the seasonality detector over the calendar-
    // bounded spine; one hash aggregate + 8 bounded folds
    "x_periodogram" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderdate").isNotNull)
        .select(to_date(col("o_orderdate")).as("dt"))
      val mn = o.agg(min("dt").as("mnd"),
        (datediff(max("dt"), min("dt")) + 1).cast("long").as("nn"))
      val days = o.crossJoin(broadcast(mn))
        .select(datediff(col("dt"), col("mnd")).cast("long").as("t"),
          col("nn"))
        .groupBy("t", "nn").agg(count(lit(1)).as("c"))
      val grid = days
        .select(col("t"), col("nn"), col("c"),
          explode(sequence(lit(1L), lit(8L))).as("k"))
        .withColumn("m", pmod(col("k") * col("t"), col("nn")))
        .withColumn("m2", when(col("m") * 2 > col("nn"),
          col("m") - col("nn")).otherwise(col("m")))
        .withColumn("th",
          lit(Pmath.TwoPi) * (dbl(col("m2")) / dbl(col("nn"))))
        .withColumn("tc", dbl(col("c")) * Pmath.cosColumn(col("th")))
        .withColumn("ts", dbl(col("c")) * Pmath.sinColumn(col("th")))
      grid.groupBy("k").agg(count(lit(1)).as("n_days"),
          Exact.orderedSum(col("tc"), col("t")).as("sc"),
          Exact.orderedSum(col("ts"), col("t")).as("ss"))
        .select(col("k"), col("n_days"), col("sc"), col("ss"),
          (col("sc") * col("sc") + col("ss") * col("ss")).as("power"))
    }),

    // spectral entropy of the daily EVENT-count series over harmonics
    // k = 1..16: H = Σ pₖ·ln(1/pₖ) (portable ln on the ≥ 1 inverse
    // ratio), normalized by ln 16 — "is the activity rhythm one clean
    // season or broadband noise", plus the peak harmonic
    "x_spectral_entropy" -> ((s, d) => {
      val o = t(s, d, "events").filter(col("ts").isNotNull)
        .select(to_date(col("ts")).as("dt"))
      val mn = o.agg(min("dt").as("mnd"),
        (datediff(max("dt"), min("dt")) + 1).cast("long").as("nn"))
      val days = o.crossJoin(broadcast(mn))
        .select(datediff(col("dt"), col("mnd")).cast("long").as("t"),
          col("nn"))
        .groupBy("t", "nn").agg(count(lit(1)).as("c"))
      val grid = days
        .select(col("t"), col("nn"), col("c"),
          explode(sequence(lit(1L), lit(16L))).as("k"))
        .withColumn("m", pmod(col("k") * col("t"), col("nn")))
        .withColumn("m2", when(col("m") * 2 > col("nn"),
          col("m") - col("nn")).otherwise(col("m")))
        .withColumn("th",
          lit(Pmath.TwoPi) * (dbl(col("m2")) / dbl(col("nn"))))
        .withColumn("tc", dbl(col("c")) * Pmath.cosColumn(col("th")))
        .withColumn("ts", dbl(col("c")) * Pmath.sinColumn(col("th")))
      val agg16 = grid.groupBy("k").agg(
          Exact.orderedSum(col("tc"), col("t")).as("sc"),
          Exact.orderedSum(col("ts"), col("t")).as("ss"))
        .select(col("k"),
          (col("sc") * col("sc") + col("ss") * col("ss")).as("power"))
      val tot = agg16.agg(Exact.orderedSum(col("power"), col("k")).as("tp"),
        max("power").as("maxp"))
      val terms = agg16.crossJoin(broadcast(tot))
        .filter(col("power") > 0.0)
        .withColumn("p", col("power") / col("tp"))
        .withColumn("term",
          col("p") * Pmath.lnColumn(col("tp") / col("power")))
      terms.agg(count(lit(1)).as("n_harm"), max("tp").as("total_power"),
          Exact.orderedSum(col("term"), col("k")).as("h_spectral"),
          min(when(col("power") === col("maxp"), col("k"))).as("peak_k"))
        .select(col("n_harm"), col("total_power"), col("h_spectral"),
          (col("h_spectral") / lit(math.log(16.0))).as("h_norm"),
          col("peak_k"))
    }),

    // GARCH(1,1) variance filter (α=0.1, β=0.85, variance targeting)
    // on day-over-day revenue returns: the volatility-clustering
    // monitor — one ordered fold over the calendar-bounded series,
    // recursive-CTE replayable (the x_kalman_1d contract)
    "x_garch_filter" -> ((s, d) => {
      val daily = t(s, d, "orders").filter(col("o_orderdate").isNotNull)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1992-01-01").cast("date")).cast("long").as("day_idx"))
        .agg(sum(floor(col("o_totalprice") * lit(100.0)).cast("long"))
          .as("cents"))
      Temporal.garchFilter(daily, "day_idx", "cents",
        alpha = 0.1, beta = 0.85)
    }))

  val oracle: Map[String, String] = Map(

    // mirrors the engine: same integer angle reduction, same trig
    // Horner constants, same spine-ordered folds
    "x_periodogram" -> {
      val twoPi = s"CAST('${Pmath.TwoPi}' AS DOUBLE)"
      s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS dt FROM orders
              WHERE o_orderdate IS NOT NULL),
         mn AS (SELECT min(dt) AS mnd,
                CAST(datediff('day', min(dt), max(dt)) + 1 AS BIGINT)
                  AS nn FROM o),
         days AS (SELECT CAST(datediff('day', mnd, dt) AS BIGINT) AS t,
                nn, CAST(count(*) AS BIGINT) AS c
              FROM o CROSS JOIN mn GROUP BY 1, 2),
         grid AS (SELECT t, nn, c,
                CAST(unnest(range(1, 9)) AS BIGINT) AS k FROM days),
         g2 AS (SELECT t, nn, c, k, (k * t) % nn AS m FROM grid),
         g3 AS (SELECT t, c, k,
                CASE WHEN m * 2 > nn THEN m - nn ELSE m END AS m2, nn
              FROM g2),
         g4 AS (SELECT t, c, k,
                $twoPi * (CAST(m2 AS DOUBLE) / CAST(nn AS DOUBLE)) AS th
              FROM g3),
         g5 AS (SELECT t, k,
                CAST(c AS DOUBLE) * (${Pmath.cosSqlExpr("th")}) AS tc,
                CAST(c AS DOUBLE) * (${Pmath.sinSqlExpr("th")}) AS ts
              FROM g4),
         agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days,
                list_sum(list(tc ORDER BY t)) AS sc,
                list_sum(list(ts ORDER BY t)) AS ss
              FROM g5 GROUP BY k)
         SELECT k, n_days, sc, ss, sc * sc + ss * ss AS power
         FROM agg"""
    },

    // mirrors the engine: the periodogram machinery at k=1..16 over
    // events, portable-ln entropy on the inverse power ratios
    "x_spectral_entropy" -> {
      val twoPi = s"CAST('${Pmath.TwoPi}' AS DOUBLE)"
      val ln16 = s"CAST('${math.log(16.0)}' AS DOUBLE)"
      val (chain, last) = Pmath.lnSqlChainCtes("trm0", "sel",
        Seq("tp / power" -> "lnr"),
        carry = Seq("k", "power", "tp", "maxp", "p"))
      s"""WITH o AS (SELECT CAST(ts AS DATE) AS dt FROM events
              WHERE ts IS NOT NULL),
         mn AS (SELECT min(dt) AS mnd,
                CAST(datediff('day', min(dt), max(dt)) + 1 AS BIGINT)
                  AS nn FROM o),
         days AS (SELECT CAST(datediff('day', mnd, dt) AS BIGINT) AS t,
                nn, CAST(count(*) AS BIGINT) AS c
              FROM o CROSS JOIN mn GROUP BY 1, 2),
         grid AS (SELECT t, nn, c,
                CAST(unnest(range(1, 17)) AS BIGINT) AS k FROM days),
         g2 AS (SELECT t, nn, c, k, (k * t) % nn AS m FROM grid),
         g3 AS (SELECT t, c, k,
                CASE WHEN m * 2 > nn THEN m - nn ELSE m END AS m2, nn
              FROM g2),
         g4 AS (SELECT t, c, k,
                $twoPi * (CAST(m2 AS DOUBLE) / CAST(nn AS DOUBLE)) AS th
              FROM g3),
         g5 AS (SELECT t, k,
                CAST(c AS DOUBLE) * (${Pmath.cosSqlExpr("th")}) AS tc,
                CAST(c AS DOUBLE) * (${Pmath.sinSqlExpr("th")}) AS ts
              FROM g4),
         agg AS (SELECT k,
                list_sum(list(tc ORDER BY t)) AS sc,
                list_sum(list(ts ORDER BY t)) AS ss
              FROM g5 GROUP BY k),
         pw AS (SELECT k, sc * sc + ss * ss AS power FROM agg),
         tot AS (SELECT list_sum(list(power ORDER BY k)) AS tp,
                max(power) AS maxp FROM pw),
         trm0 AS (SELECT k, power, tp, maxp, power / tp AS p
              FROM pw CROSS JOIN tot WHERE power > 0.0),
         $chain,
         trm AS (SELECT k, power, tp, maxp, p * lnr AS term FROM $last),
         fin AS (SELECT CAST(count(*) AS BIGINT) AS n_harm,
                max(tp) AS total_power,
                list_sum(list(term ORDER BY k)) AS h_spectral,
                min(CASE WHEN power = maxp THEN k END) AS peak_k
              FROM trm)
         SELECT n_harm, total_power, h_spectral,
                h_spectral / $ln16 AS h_norm, peak_k
         FROM fin"""
    },

    // mirrors Temporal.garchFilter over daily revenue cents: same
    // return pairs, series-ordered variance target, recursive
    // replay of the v <- omega + alpha r^2 + beta v chain
    "x_garch_filter" -> {
      val w = s"CAST('${1.0 - 0.1 - 0.85}' AS DOUBLE)"
      s"""WITH RECURSIVE d0 AS (SELECT
                CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                  AS BIGINT) AS day_idx,
                CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
         sp AS (SELECT row_number() OVER (ORDER BY day_idx) AS i,
                day_idx, CAST(cents AS DOUBLE) AS c FROM d0),
         rr AS (SELECT s2.i - 1 AS j, s2.day_idx,
                (s2.c - s1.c) / s1.c AS r
              FROM sp s1 JOIN sp s2 ON s2.i = s1.i + 1),
         mv AS (SELECT list_sum(list(r * r ORDER BY j))
                  / CAST(count(*) AS DOUBLE) AS mvar FROM rr),
         g AS (SELECT CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT)
                  AS day_idx, CAST(0.0 AS DOUBLE) AS r,
                mvar AS v, mvar FROM mv
           UNION ALL
           SELECT r2.j, r2.day_idx, r2.r,
                $w * k.mvar + CAST('0.1' AS DOUBLE) * (r2.r * r2.r)
                  + CAST('0.85' AS DOUBLE) * k.v AS v,
                k.mvar
           FROM g k JOIN rr r2 ON r2.j = k.j + 1)
         SELECT day_idx, r AS ret, v AS cond_var, mvar AS var_target
         FROM g WHERE j >= 1"""
    })
}
