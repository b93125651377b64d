package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Pmath
import graft.operators.{Stats, Temporal}

/** Round-8 eighth wave — regression-on-transform operators: the
  * portable ln/exp kernels feeding quantized-decimal OLS. Log-log
  * elasticity and the Weibull probability-plot fit — both are "fit a
  * line to a transcendental transform of data-sized input", the shape
  * the kernels exist for. */
object Ext15 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val Q = "1048576.0"
  private def vd(s: String) = s"CAST(CAST($s AS VARCHAR) AS DOUBLE) / $Q"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // constant-elasticity fit of demand vs unit price across parts:
    // ln(total qty) on ln(unit price), portable lns + quantized OLS
    "x_elasticity" -> ((s, d) => {
      def dd(c: Column) = c.cast("string").cast("double")
      val per = t(s, d, "lineitem")
        .groupBy("l_partkey").agg(
          sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sp"))
        .select((dd(col("sp")) / dd(col("sq"))).as("price"),
          dd(col("sq")).as("qty"))
      Stats.lnLnOls(per, col("price"), col("qty"))
    }),

    // Weibull plot fit of user activity spans: median-rank ECDF off
    // the distinct-duration spine, double-ln plot coordinates,
    // count-weighted quantized OLS -> shape + scale
    "x_weibull_fit" -> ((s, d) => {
      val ue = t(s, d, "events").groupBy("user_id").agg(
        datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"))
      Stats.weibullPlotFit(ue, col("dur"))
    }),

    // 2-state HMM Viterbi regime decode of daily event volume over the
    // dense day spine (x_croston's spine): Gaussian emissions at
    // 1.5·mean / 0.5·mean, stay-prob 0.9 — the MAP high/low-activity
    // labeling, forward max-fold + backpointer walk
    "x_hmm_regimes" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dayIdx = datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long")
      val perDay = ev.groupBy(dayIdx.as("day_idx"))
        .agg(count(lit(1)).as("c"))
      val spine = ev.agg(max(dayIdx).as("mx"))
        .select(explode(sequence(lit(0L), col("mx"))).as("day_idx"))
        .join(perDay, Seq("day_idx"), "left")
        .select(col("day_idx"), coalesce(col("c"), lit(0L)).as("c"))
      Temporal.hmmViterbi2(spine, "day_idx", "c", stayP = 0.9)
    }),

    // HMM forward-backward posterior on the same spine: per-day
    // P(high | all data) next to the filter P(high | past) — the soft
    // smoothing companion to x_hmm_regimes' hard MAP path; emissions
    // through one portable-exp pass, recursions pure arithmetic
    "x_hmm_posterior" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dayIdx = datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long")
      val perDay = ev.groupBy(dayIdx.as("day_idx"))
        .agg(count(lit(1)).as("c"))
      val spine = ev.agg(max(dayIdx).as("mx"))
        .select(explode(sequence(lit(0L), col("mx"))).as("day_idx"))
        .join(perDay, Seq("day_idx"), "left")
        .select(col("day_idx"), coalesce(col("c"), lit(0L)).as("c"))
      Temporal.hmmPosterior2(spine, "day_idx", "c", stayP = 0.9)
    }),

    // Gaussian KDE of document length on a 16-point grid: the
    // smooth distribution-shape readout; portable-exp kernels,
    // per-grid quantized sums
    "x_kde_grid" -> ((s, d) =>
      Stats.kdeGrid(t(s, d, "documents").filter(col("n_chars").isNotNull),
        col("n_chars"), nGrid = 16)),

    // LOESS local-linear trend of price vs quantity at 16 anchors:
    // tricube weights over span/4 bandwidth, per-anchor weighted
    // quantized OLS -> the nonparametric trend curve
    "x_loess_grid" -> ((s, d) =>
      Stats.loessGrid(t(s, d, "lineitem"),
        col("l_quantity"), col("l_extendedprice"), nGrid = 16)))

  val oracle: Map[String, String] = Map(

    // mirrors Stats.lnLnOls over the per-part aggregate
    "x_elasticity" -> {
      val (chain, last) = Pmath.lnSqlChainCtes("p3", "el",
        Seq("xr" -> "lx", "yr" -> "ly"), carry = Seq("xr", "yr"))
      s"""WITH per AS (SELECT l_partkey,
                sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp
              FROM lineitem GROUP BY l_partkey),
         p2 AS (SELECT
                CAST(CAST(sp AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS xr,
                CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS yr FROM per),
         p3 AS (SELECT xr, yr FROM p2
              WHERE xr >= 1.0 AND yr >= 1.0),
         $chain,
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(floor(lx * $Q) AS HUGEINT)) AS qx,
                sum(CAST(floor(ly * $Q) AS HUGEINT)) AS qy,
                sum(CAST(floor((lx * ly) * $Q) AS HUGEINT)) AS qxy,
                sum(CAST(floor((lx * lx) * $Q) AS HUGEINT)) AS qxx
              FROM $last),
         g AS (SELECT n, ${vd("qx")} AS sx, ${vd("qy")} AS sy,
                ${vd("qxy")} AS sxy, ${vd("qxx")} AS sxx FROM s),
         h AS (SELECT n, sx, sy,
                (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
              FROM g)
         SELECT n, slope,
                (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept
         FROM h"""
    },

    // mirrors Stats.weibullPlotFit: same spine ECDF, same sign-folded
    // double-ln chains, same count-weighted quantized OLS + exp scale
    "x_weibull_fit" -> {
      val (lnc, lnLast) = Pmath.lnSqlChainCtes("p1", "wb", Seq(
        "u" -> "l1",
        "CASE WHEN l1 >= 1.0 THEN l1 ELSE 1.0 / l1 END" -> "l2",
        "CAST(t AS DOUBLE)" -> "lx"), carry = Seq("t", "cnt", "n"))
      val (exc, exLast) = Pmath.expSqlChainCtes("es", "wbx",
        Seq("eta" -> "scale_hat"), carry = Seq("n", "shape"))
      s"""WITH u0 AS (SELECT
                CAST(datediff('day', min(CAST(ts AS DATE)),
                  max(CAST(ts AS DATE))) AS BIGINT) AS t
              FROM events GROUP BY user_id),
         f AS (SELECT t FROM u0 WHERE t IS NOT NULL AND t >= 1),
         perv AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
              FROM f GROUP BY t),
         sp AS (SELECT t, cnt,
                CAST(sum(cnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              FROM perv),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         p0 AS (SELECT t, cnt, cum, n,
                (CAST(cum AS DOUBLE) - 0.3) / (CAST(n AS DOUBLE) + 0.4)
                  AS ff
              FROM sp CROSS JOIN tot),
         p1 AS (SELECT t, cnt, n, 1.0 / (1.0 - ff) AS u FROM p0),
         $lnc,
         p3 AS (SELECT cnt, n,
                CASE WHEN l1 >= 1.0 THEN l2 ELSE -l2 END AS w, lx
              FROM $lnLast),
         p4 AS (SELECT CAST(cnt AS DOUBLE) AS cd, n, w, lx FROM p3),
         s AS (SELECT max(n) AS n,
                sum(CAST(floor(cd * $Q) AS HUGEINT)) AS qc,
                sum(CAST(floor((cd * lx) * $Q) AS HUGEINT)) AS qx,
                sum(CAST(floor((cd * w) * $Q) AS HUGEINT)) AS qy,
                sum(CAST(floor(((cd * lx) * w) * $Q) AS HUGEINT)) AS qxy,
                sum(CAST(floor(((cd * lx) * lx) * $Q) AS HUGEINT)) AS qxx
              FROM p4),
         g AS (SELECT n, ${vd("qc")} AS sc, ${vd("qx")} AS sx,
                ${vd("qy")} AS sy, ${vd("qxy")} AS sxy,
                ${vd("qxx")} AS sxx FROM s),
         h AS (SELECT n, sc, sx, sy,
                (sc * sxy - sx * sy) / (sc * sxx - sx * sx) AS shape
              FROM g),
         i AS (SELECT n, shape,
                (sy - shape * sx) / sc AS icpt FROM h),
         es AS (SELECT n, shape,
                least(greatest(-(icpt / shape), -30.0), 30.0) AS eta
              FROM i),
         $exc
         SELECT n, shape, scale_hat FROM $exLast"""
    },

    // mirrors Temporal.hmmViterbi2: forward recursion with identical
    // emission/transition chains, downward backtrace recursion
    "x_hmm_regimes" -> {
      val lnStay = s"CAST('${math.log(0.9)}' AS DOUBLE)"
      val lnSw = s"CAST('${math.log(1.0 - 0.9)}' AS DOUBLE)"
      s"""WITH RECURSIVE perday AS (SELECT
                CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                  AS day_idx,
                CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1),
         mxd AS (SELECT CAST(max(CAST(ts AS DATE) - DATE '2024-01-01')
                  AS BIGINT) AS mx FROM events),
         sp0 AS (SELECT CAST(g.i AS BIGINT) AS day_idx,
                CAST(COALESCE(p.c, 0) AS BIGINT) AS c
              FROM (SELECT unnest(range(0, mx + 1)) AS i FROM mxd) g
              LEFT JOIN perday p ON p.day_idx = g.i),
         pr AS (SELECT
                CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m,
                CAST(sum(c * c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS ex2 FROM sp0),
         pr2 AS (SELECT m, ex2 - m * m AS vr,
                1.5 * m AS muh, 0.5 * m AS mul FROM pr),
         sp AS (SELECT row_number() OVER (ORDER BY day_idx) AS i,
                day_idx, CAST(c AS DOUBLE) AS c FROM sp0),
         fwd AS (
           SELECT CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS vh,
                  CAST(0.0 AS DOUBLE) AS vl,
                  CAST(0 AS INTEGER) AS bh, CAST(0 AS INTEGER) AS bl
           UNION ALL
           SELECT s.i,
                  CASE WHEN k.vh + $lnStay >= k.vl + $lnSw
                       THEN k.vh + $lnStay ELSE k.vl + $lnSw END
                    + (-(((s.c - p.muh) * (s.c - p.muh))
                        / (2.0 * p.vr))) AS vh,
                  CASE WHEN k.vh + $lnSw >= k.vl + $lnStay
                       THEN k.vh + $lnSw ELSE k.vl + $lnStay END
                    + (-(((s.c - p.mul) * (s.c - p.mul))
                        / (2.0 * p.vr))) AS vl,
                  CASE WHEN k.vh + $lnStay >= k.vl + $lnSw
                       THEN 1 ELSE 0 END AS bh,
                  CASE WHEN k.vh + $lnSw >= k.vl + $lnStay
                       THEN 1 ELSE 0 END AS bl
           FROM fwd k JOIN sp s ON s.i = k.i + 1 CROSS JOIN pr2 p),
         mxi AS (SELECT CAST(max(i) AS BIGINT) AS tt FROM fwd),
         bwd AS (
           SELECT f.i, CASE WHEN f.vh >= f.vl THEN 1 ELSE 0 END AS st
           FROM fwd f CROSS JOIN mxi WHERE f.i = tt
           UNION ALL
           SELECT b.i - 1,
                  CASE WHEN b.st = 1 THEN f2.bh ELSE f2.bl END AS st
           FROM bwd b JOIN fwd f2 ON f2.i = b.i WHERE b.i > 1)
         SELECT s.day_idx, s.c AS c, CAST(b.st AS BIGINT) AS map_state
         FROM bwd b JOIN sp s ON s.i = b.i"""
    },

    // mirrors Temporal.hmmPosterior2: one portable-exp emission pass,
    // normalized linear-space forward and backward recursions
    "x_hmm_posterior" -> {
      val sw = s"CAST('${1.0 - 0.9}' AS DOUBLE)"
      val (chain, last) = Pmath.expSqlChainCtes("em1", "hp",
        Seq("etah" -> "eh", "etal" -> "el"),
        carry = Seq("i", "day_idx", "c", "etal"))
      s"""WITH RECURSIVE perday AS (SELECT
                CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                  AS day_idx,
                CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1),
         mxd AS (SELECT CAST(max(CAST(ts AS DATE) - DATE '2024-01-01')
                  AS BIGINT) AS mx FROM events),
         sp0 AS (SELECT CAST(g.i AS BIGINT) AS day_idx,
                CAST(COALESCE(p.c, 0) AS BIGINT) AS c
              FROM (SELECT unnest(range(0, mx + 1)) AS i FROM mxd) g
              LEFT JOIN perday p ON p.day_idx = g.i),
         pr AS (SELECT
                CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m,
                CAST(sum(c * c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS ex2 FROM sp0),
         pr2 AS (SELECT m, ex2 - m * m AS vr,
                1.5 * m AS muh, 0.5 * m AS mul FROM pr),
         sp AS (SELECT row_number() OVER (ORDER BY day_idx) AS i,
                day_idx, CAST(c AS DOUBLE) AS c FROM sp0),
         em1 AS (SELECT i, day_idx, c,
                greatest(-(((c - muh) * (c - muh)) / (2.0 * vr)), -30.0)
                  AS etah,
                greatest(-(((c - mul) * (c - mul)) / (2.0 * vr)), -30.0)
                  AS etal
              FROM sp CROSS JOIN pr2),
         $chain,
         e AS (SELECT i, day_idx, c, eh, el FROM $last),
         fwd AS (
           SELECT CAST(0 AS BIGINT) AS i, CAST(0.5 AS DOUBLE) AS ah,
                  CAST(0.5 AS DOUBLE) AS al
           UNION ALL
           SELECT e2.i,
                  ((k.ah * 0.9 + k.al * $sw) * e2.eh)
                    / ((k.ah * 0.9 + k.al * $sw) * e2.eh
                      + (k.ah * $sw + k.al * 0.9) * e2.el) AS ah,
                  ((k.ah * $sw + k.al * 0.9) * e2.el)
                    / ((k.ah * 0.9 + k.al * $sw) * e2.eh
                      + (k.ah * $sw + k.al * 0.9) * e2.el) AS al
           FROM fwd k JOIN e e2 ON e2.i = k.i + 1),
         mxi AS (SELECT CAST(max(i) AS BIGINT) AS tt FROM e),
         bwd AS (
           SELECT tt AS i, CAST(0.5 AS DOUBLE) AS bh,
                  CAST(0.5 AS DOUBLE) AS bl FROM mxi
           UNION ALL
           SELECT b.i - 1,
                  (0.9 * (e2.eh * b.bh) + $sw * (e2.el * b.bl))
                    / ((0.9 * (e2.eh * b.bh) + $sw * (e2.el * b.bl))
                      + ($sw * (e2.eh * b.bh) + 0.9 * (e2.el * b.bl)))
                    AS bh,
                  ($sw * (e2.eh * b.bh) + 0.9 * (e2.el * b.bl))
                    / ((0.9 * (e2.eh * b.bh) + $sw * (e2.el * b.bl))
                      + ($sw * (e2.eh * b.bh) + 0.9 * (e2.el * b.bl)))
                    AS bl
           FROM bwd b JOIN e e2 ON e2.i = b.i WHERE b.i > 1)
         SELECT s.day_idx, s.c AS c, f.ah AS p_filter,
                (f.ah * b.bh) / (f.ah * b.bh + f.al * b.bl) AS p_smooth
         FROM fwd f JOIN bwd b ON b.i = f.i JOIN sp s ON s.i = f.i
         WHERE f.i >= 1"""
    },

    // mirrors Stats.kdeGrid: same grid, same clamped exponent, same
    // quantized kernel sums
    "x_kde_grid" -> {
      val sqrt2pi = s"CAST('${math.sqrt(2.0 * math.Pi)}' AS DOUBLE)"
      val (chain, last) = Pmath.expSqlChainCtes("g2", "kd",
        Seq("eta" -> "k"), carry = Seq("n", "h", "j", "g"))
      s"""WITH f AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
              WHERE n_chars IS NOT NULL),
         b0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(min(x) AS DOUBLE) AS lo,
                CAST(max(x) AS DOUBLE) AS hi FROM f),
         b AS (SELECT n, lo, hi, (hi - lo) / 32.0 AS h FROM b0),
         g0 AS (SELECT x, n, lo, hi, h,
                CAST(unnest(range(1, 17)) AS BIGINT) AS j
              FROM f CROSS JOIN b),
         g1 AS (SELECT x, n, h, j,
                lo + CAST(j AS DOUBLE) * ((hi - lo) / 17.0) AS g
              FROM g0),
         g2 AS (SELECT n, h, j, g,
                greatest(-((((CAST(x AS DOUBLE) - g) / h)
                  * ((CAST(x AS DOUBLE) - g) / h)) / 2.0), -30.0) AS eta
              FROM g1),
         $chain,
         s AS (SELECT j, max(n) AS n, max(g) AS g, max(h) AS h,
                sum(CAST(floor(k * $Q) AS HUGEINT)) AS qk
              FROM $last GROUP BY j)
         SELECT j, g,
                (${vd("qk")}) / (CAST(n AS DOUBLE) * (h * $sqrt2pi))
                  AS density
         FROM s"""
    },

    // mirrors Stats.loessGrid: same anchors, same tricube chain, same
    // quantized weighted OLS
    "x_loess_grid" ->
      s"""WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                CAST(l_extendedprice AS DOUBLE) AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
         b0 AS (SELECT min(x) AS lo, max(x) AS hi FROM f),
         b AS (SELECT lo, hi, (hi - lo) / 4.0 AS h FROM b0),
         g0 AS (SELECT x, y, lo, hi, h,
                CAST(unnest(range(1, 17)) AS BIGINT) AS j
              FROM f CROSS JOIN b),
         g1 AS MATERIALIZED (SELECT x, y, h, j,
                lo + CAST(j AS DOUBLE) * ((hi - lo) / 17.0) AS g
              FROM g0),
         g2a AS (SELECT x, y, j, g, abs((x - g) / h) AS au FROM g1),
         g2 AS (SELECT x, y, j, g, au FROM g2a WHERE au < 1.0),
         g3 AS (SELECT x, y, j, g, (au * au) * au AS a3 FROM g2),
         g4 AS (SELECT x, y, j, g,
                ((1.0 - a3) * (1.0 - a3)) * (1.0 - a3) AS w FROM g3),
         s AS (SELECT j, max(g) AS g, CAST(count(*) AS BIGINT)
                  AS n_local,
                sum(CAST(floor(w * $Q) AS HUGEINT)) AS qw,
                sum(CAST(floor((w * x) * $Q) AS HUGEINT)) AS qx,
                sum(CAST(floor((w * y) * $Q) AS HUGEINT)) AS qy,
                sum(CAST(floor(((w * x) * x) * $Q) AS HUGEINT)) AS qxx,
                sum(CAST(floor(((w * x) * y) * $Q) AS HUGEINT)) AS qxy
              FROM g4 GROUP BY j),
         g5 AS (SELECT j, g, n_local, ${vd("qw")} AS sw,
                ${vd("qx")} AS sx, ${vd("qy")} AS sy,
                ${vd("qxx")} AS sxx, ${vd("qxy")} AS sxy FROM s),
         g6 AS (SELECT j, g, n_local, sw, sx, sy,
                (sw * sxy - sx * sy) / (sw * sxx - sx * sx) AS b1
              FROM g5),
         g7 AS (SELECT j, g, n_local, b1,
                (sy - b1 * sx) / sw AS b0 FROM g6)
         SELECT j, g, n_local, b0 + b1 * g AS y_hat FROM g7""")
}
