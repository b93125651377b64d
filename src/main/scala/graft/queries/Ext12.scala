package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Pmath
import graft.operators.Stats

/** Round-8 fifth wave — iterative ML fits unlocked by the portable exp
  * kernel ([[Pmath.expColumn]] / [[graft.plans.PortableExp]]): logistic
  * IRLS and 1-D Gaussian-mixture EM. Both follow the proven
  * exact-iteration discipline:
  *
  *  - every transcendental goes through the portable kernel (same IEEE
  *    op sequence on both engines, clamped domain);
  *  - every data-sized double sum is 2⁻²⁰-quantized and accumulated in
  *    decimal(38,0) (the x_icc/x_huber device) — order-free, so the
  *    distributed sum is bit-identical to the oracle's;
  *  - rounds chain through 1-row broadcast frames, never a driver
  *    collect; the oracle replays each round as chained CTEs.
  */
object Ext12 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val Q = "1048576.0"

  private def vd(s: String) = s"CAST(CAST($s AS VARCHAR) AS DOUBLE) / $Q"

  /** One logistic-IRLS round as chained CTEs: eta/mu/w per row (exp via
    * the portable chain), quantized HUGEINT sums, 2×2 Newton solve. */
  private def logitRoundSql(r: Int): String = {
    val prevF = s"f${r - 1}"
    val (chain, last) = Pmath.expSqlChainCtes(s"r${r}b", s"ex$r",
      Seq("-eta" -> "exn"), carry = Seq("xd", "y"))
    s"""r${r}b AS (SELECT xd, y,
                least(greatest(b0 + b1 * xd, -30.0), 30.0) AS eta
              FROM o CROSS JOIN $prevF),
         $chain,
         r${r}m AS (SELECT xd, y, 1.0 / (1.0 + exn) AS mu FROM $last),
         r${r}w AS (SELECT xd, y, mu, mu * (1.0 - mu) AS w FROM r${r}m),
         s$r AS (SELECT
                sum(CAST(floor((y - mu) * $Q) AS HUGEINT)) AS qg0,
                sum(CAST(floor(((y - mu) * xd) * $Q) AS HUGEINT)) AS qg1,
                sum(CAST(floor(w * $Q) AS HUGEINT)) AS qh00,
                sum(CAST(floor((w * xd) * $Q) AS HUGEINT)) AS qh01,
                sum(CAST(floor(((w * xd) * xd) * $Q) AS HUGEINT)) AS qh11
              FROM r${r}w),
         g$r AS (SELECT ${vd("qg0")} AS g0, ${vd("qg1")} AS g1,
                ${vd("qh00")} AS h00, ${vd("qh01")} AS h01,
                ${vd("qh11")} AS h11 FROM s$r),
         d$r AS (SELECT *, h00 * h11 - h01 * h01 AS det FROM g$r),
         f$r AS (SELECT n,
                b0 + (h11 * g0 - h01 * g1) / det AS b0,
                b1 + (h00 * g1 - h01 * g0) / det AS b1
              FROM d$r CROSS JOIN $prevF)"""
  }

  /** One GMM-EM round as chained CTEs: responsibilities per row (exp
    * via the portable chain), six quantized sums, moment updates. */
  private def gmmRoundSql(r: Int): String = {
    val prevF = s"f${r - 1}"
    val (chain, last) = Pmath.expSqlChainCtes(s"r${r}d", s"ex$r",
      Seq("lr" -> "exn"), carry = Seq("xdd", "ratio"))
    s"""r${r}b AS (SELECT CAST(x AS DOUBLE) AS xdd,
                pi1, mu1, mu2, v1, v2 FROM dx CROSS JOIN $prevF),
         r${r}c AS (SELECT xdd,
                ((xdd - mu1) * (xdd - mu1)) / (2.0 * v1) AS q1,
                ((xdd - mu2) * (xdd - mu2)) / (2.0 * v2) AS q2,
                ((1.0 - pi1) / pi1) * sqrt(v1 / v2) AS ratio
              FROM r${r}b),
         r${r}d AS (SELECT xdd, ratio,
                least(greatest(q1 - q2, -30.0), 30.0) AS lr FROM r${r}c),
         $chain,
         r${r}e AS (SELECT xdd,
                1.0 / (1.0 + ratio * exn) AS r1 FROM $last),
         r${r}f AS (SELECT xdd, r1, 1.0 - r1 AS r2 FROM r${r}e),
         s$r AS (SELECT
                sum(CAST(floor(r1 * $Q) AS HUGEINT)) AS qr1,
                sum(CAST(floor((r1 * xdd) * $Q) AS HUGEINT)) AS qr1x,
                sum(CAST(floor(((r1 * xdd) * xdd) * $Q) AS HUGEINT))
                  AS qr1xx,
                sum(CAST(floor(r2 * $Q) AS HUGEINT)) AS qr2,
                sum(CAST(floor((r2 * xdd) * $Q) AS HUGEINT)) AS qr2x,
                sum(CAST(floor(((r2 * xdd) * xdd) * $Q) AS HUGEINT))
                  AS qr2xx
              FROM r${r}f),
         g$r AS (SELECT ${vd("qr1")} AS sr1, ${vd("qr1x")} AS sr1x,
                ${vd("qr1xx")} AS sr1xx, ${vd("qr2")} AS sr2,
                ${vd("qr2x")} AS sr2x, ${vd("qr2xx")} AS sr2xx FROM s$r),
         h$r AS (SELECT *, sr1x / sr1 AS nmu1, sr2x / sr2 AS nmu2
              FROM g$r),
         f$r AS (SELECT n, sr1 / (sr1 + sr2) AS pi1,
                nmu1 AS mu1, nmu2 AS mu2,
                sr1xx / sr1 - nmu1 * nmu1 AS v1,
                sr2xx / sr2 - nmu2 * nmu2 AS v2
              FROM h$r CROSS JOIN m0)"""
  }

  /** One Poisson-IRLS round as chained CTEs (μ = exp(η) directly). */
  private def poissonRoundSql(r: Int): String = {
    val prevF = s"f${r - 1}"
    val (chain, last) = Pmath.expSqlChainCtes(s"r${r}b", s"ex$r",
      Seq("eta" -> "mu"), carry = Seq("xd", "y"))
    s"""r${r}b AS (SELECT xd, y,
                least(greatest(b0 + b1 * xd, -30.0), 30.0) AS eta
              FROM o CROSS JOIN $prevF),
         $chain,
         s$r AS (SELECT
                sum(CAST(floor((y - mu) * $Q) AS HUGEINT)) AS qg0,
                sum(CAST(floor(((y - mu) * xd) * $Q) AS HUGEINT)) AS qg1,
                sum(CAST(floor(mu * $Q) AS HUGEINT)) AS qh00,
                sum(CAST(floor((mu * xd) * $Q) AS HUGEINT)) AS qh01,
                sum(CAST(floor(((mu * xd) * xd) * $Q) AS HUGEINT)) AS qh11
              FROM $last),
         g$r AS (SELECT ${vd("qg0")} AS g0, ${vd("qg1")} AS g1,
                ${vd("qh00")} AS h00, ${vd("qh01")} AS h01,
                ${vd("qh11")} AS h11 FROM s$r),
         d$r AS (SELECT *, h00 * h11 - h01 * h01 AS det FROM g$r),
         f$r AS (SELECT n,
                b0 + (h11 * g0 - h01 * g1) / det AS b0,
                b1 + (h00 * g1 - h01 * g0) / det AS b1
              FROM d$r CROSS JOIN $prevF)"""
  }

  /** One Cox-Newton round as chained CTEs: per-row w = exp(β·x),
    * quantized per-duration sums, HUGEINT reverse cumulatives over the
    * day spine, spine-ordered U/I folds, β update. */
  private def coxRoundSql(r: Int): String = {
    val prevF = s"f${r - 1}"
    val (chain, last) = Pmath.expSqlChainCtes(s"r${r}b", s"ex$r",
      Seq("eta" -> "w"), carry = Seq("dur", "obs", "xn", "xd"))
    s"""r${r}b AS (SELECT dur, obs, xn, xd,
                least(greatest(beta * xd, -30.0), 30.0) AS eta
              FROM u2 CROSS JOIN $prevF),
         $chain,
         p$r AS (SELECT dur,
                sum(CAST(floor(w * $Q) AS HUGEINT)) AS qw,
                sum(CAST(floor((w * xd) * $Q) AS HUGEINT)) AS qwx,
                sum(CAST(floor(((w * xd) * xd) * $Q) AS HUGEINT)) AS qwxx,
                CAST(sum(obs) AS BIGINT) AS d,
                CAST(sum(obs * xn) AS BIGINT) AS sxd
              FROM $last GROUP BY dur),
         c$r AS (SELECT *,
                sum(qw) OVER rw AS cqw, sum(qwx) OVER rw AS cqwx,
                sum(qwxx) OVER rw AS cqwxx
              FROM p$r WINDOW rw AS (ORDER BY dur ROWS BETWEEN CURRENT
                ROW AND UNBOUNDED FOLLOWING)),
         s${r}a AS (SELECT dur, d, sxd,
                CAST(CAST(cqw AS VARCHAR) AS DOUBLE) / $Q AS s0,
                CAST(CAST(cqwx AS VARCHAR) AS DOUBLE) / $Q AS s1,
                CAST(CAST(cqwxx AS VARCHAR) AS DOUBLE) / $Q AS s2
              FROM c$r WHERE d > 0),
         s${r}b AS (SELECT *, s1 / s0 AS rat FROM s${r}a),
         s${r}c AS (SELECT dur,
                CAST(sxd AS DOUBLE) / 128.0 - CAST(d AS DOUBLE) * rat
                  AS tu,
                CAST(d AS DOUBLE) * (s2 / s0 - rat * rat) AS ti
              FROM s${r}b),
         a$r AS (SELECT list_sum(list(tu ORDER BY dur)) AS usum,
                list_sum(list(ti ORDER BY dur)) AS isum FROM s${r}c),
         f$r AS (SELECT $prevF.n AS n, a$r.usum AS usum,
                a$r.isum AS isum,
                $prevF.beta + a$r.usum / a$r.isum AS beta
              FROM a$r CROSS JOIN $prevF)"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // logistic regression P(status = 'F' | price) by two IRLS rounds:
    // the distributed classifier fit — portable-exp sigmoid, quantized
    // decimal gradient/Hessian sums, 2×2 Newton solve per round
    "x_logistic_irls" -> ((s, d) =>
      Stats.logisticIrls(
        t(s, d, "orders").filter(col("o_totalprice").isNotNull &&
          col("o_orderstatus").isNotNull),
        col("o_totalprice") / lit(100000.0),
        when(col("o_orderstatus") === "F", lit(1.0)).otherwise(lit(0.0)),
        rounds = 2)),

    // two-component Gaussian mixture on document length by two EM
    // rounds from the moment seed (μ = mean ∓ sd): the soft
    // bimodality/clustering fit — portable-exp responsibilities,
    // six quantized decimal sufficient statistics per round
    "x_gmm_em" -> ((s, d) =>
      Stats.gmmEm1d(
        t(s, d, "documents").filter(col("n_chars").isNotNull),
        col("n_chars"), rounds = 2)),

    // Poisson GLM (log link): expected lineitem count per order as a
    // function of order price — the count-data companion to
    // x_logistic_irls, same quantized one-pass Newton machinery
    "x_poisson_glm" -> ((s, d) => {
      val cnt = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("y"))
      val o = t(s, d, "orders")
        .filter(col("o_totalprice").isNotNull)
        .join(cnt, col("o_orderkey") === col("l_orderkey"))
      Stats.poissonIrls(o, col("o_totalprice") / lit(100000.0), col("y"),
        rounds = 2)
    }),

    // inverse-propensity-weighted ATE of high order priority on
    // completion: propensity P(treat | price) from the logistic-IRLS
    // kernel, then one Horvitz–Thompson weighting pass (quantized
    // decimal sums) next to the naive difference — the causal
    // estimator the raw group gap overstates
    "x_ipw_ate" -> ((s, d) => {
      def dbl(c: Column) = c.cast("double")
      def dd(c: Column) = c.cast("string").cast("double")
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = lit(1048576.0)
      val o = t(s, d, "orders")
        .filter(col("o_totalprice").isNotNull &&
          col("o_orderstatus").isNotNull &&
          col("o_orderpriority").isNotNull)
        .select((col("o_totalprice") / lit(100000.0)).as("xd"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            lit(1.0)).otherwise(lit(0.0)).as("tr"),
          when(col("o_orderstatus") === "F", lit(1.0)).otherwise(lit(0.0))
            .as("yy"))
      val fit = Stats.logisticIrls(o, col("xd"), col("tr"), rounds = 2)
        .select(col("n"), col("beta0").as("b0"), col("beta1").as("b1"))
      val w = o.crossJoin(broadcast(fit))
        .withColumn("eta", least(greatest(col("b0") + col("b1") * col("xd"),
          lit(-30.0)), lit(30.0)))
        .withColumn("p",
          lit(1.0) / (lit(1.0) + Pmath.expColumn(-col("eta"))))
      w.agg(max("n").as("n"),
          sum(dec(floor((col("tr") / col("p")) * q))).as("qt1"),
          sum(dec(floor(((col("tr") * col("yy")) / col("p")) * q)))
            .as("qy1"),
          sum(dec(floor(((lit(1.0) - col("tr")) /
            (lit(1.0) - col("p"))) * q))).as("qt0"),
          sum(dec(floor((((lit(1.0) - col("tr")) * col("yy")) /
            (lit(1.0) - col("p"))) * q))).as("qy0"),
          sum(col("tr").cast("long")).as("nt"),
          sum((col("tr") * col("yy")).cast("long")).as("nty"),
          sum((lit(1.0) - col("tr")).cast("long")).as("nc"),
          sum(((lit(1.0) - col("tr")) * col("yy")).cast("long")).as("ncy"))
        .select(col("n"), col("nt"), col("nc"),
          ((dd(col("qy1")) / q) / (dd(col("qt1")) / q) -
            (dd(col("qy0")) / q) / (dd(col("qt0")) / q)).as("ate_ipw"),
          (dbl(col("nty")) / dbl(col("nt")) -
            dbl(col("ncy")) / dbl(col("nc"))).as("naive_diff"))
    }),

    // Dean's overdispersion score test on the Poisson fit: T =
    // Σ((y−μ)²−y) / √(2Σμ²) — "is Poisson even the right likelihood",
    // the diagnostic pass every count-GLM deployment needs; one extra
    // portable-exp pass over the fitted means
    "x_overdisp" -> ((s, d) => {
      def dd(c: Column) = c.cast("string").cast("double")
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = lit(1048576.0)
      val cnt = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("yc"))
      val o = t(s, d, "orders")
        .filter(col("o_totalprice").isNotNull)
        .join(cnt, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_totalprice") / lit(100000.0)).as("xd"),
          col("yc").cast("double").as("y"))
      val fit = Stats.poissonIrls(o, col("xd"), col("y"), rounds = 2)
        .select(col("n"), col("beta0").as("b0"), col("beta1").as("b1"))
      val w = o.crossJoin(broadcast(fit))
        .withColumn("eta", least(greatest(col("b0") + col("b1") * col("xd"),
          lit(-30.0)), lit(30.0)))
        .withColumn("mu", Pmath.expColumn(col("eta")))
      w.agg(max("n").as("n"),
          sum(dec(floor(((col("y") - col("mu")) * (col("y") - col("mu")) -
            col("y")) * q))).as("qnum"),
          sum(dec(floor((col("mu") * col("mu")) * q))).as("qden"))
        .select(col("n"), (dd(col("qnum")) / q).as("score_num"),
          ((dd(col("qnum")) / q) /
            sqrt(lit(2.0) * (dd(col("qden")) / q))).as("t_overdisp"))
    }),

    // Cox proportional hazards of purchase vs user activity: two
    // Newton steps on the day-binned survival frame (x_logrank's
    // construction), covariate = per-user event count · 2⁻⁷ —
    // does activity level scale the purchase hazard
    "x_cox_newton" -> ((s, d) => {
      val ue = t(s, d, "events").groupBy("user_id").agg(
        datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("obs"),
        count(lit(1)).as("xn"))
      Stats.coxNewton(ue, col("dur"), col("obs"), col("xn"), rounds = 2)
    }))

  val oracle: Map[String, String] = Map(

    // mirrors Stats.logisticIrls: same clamped eta, portable-exp
    // sigmoid, quantized HUGEINT sums, identical Newton chains
    "x_logistic_irls" -> {
      val rounds = (1 to 2).map(logitRoundSql).mkString(",\n         ")
      s"""WITH o AS (SELECT o_totalprice / 100000.0 AS xd,
                CAST(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END
                  AS DOUBLE) AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderstatus IS NOT NULL),
         f0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
              FROM o),
         $rounds
         SELECT n, b0 AS beta0, b1 AS beta1 FROM f2"""
    },

    // mirrors Stats.poissonIrls: same clamped eta, portable-exp mean,
    // quantized HUGEINT sums, identical Newton chains
    "x_poisson_glm" -> {
      val rounds = (1 to 2).map(poissonRoundSql).mkString(",\n         ")
      s"""WITH o AS (SELECT o_totalprice / 100000.0 AS xd,
                CAST(c.y AS DOUBLE) AS y
              FROM orders
              JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
                    FROM lineitem GROUP BY l_orderkey) c
                ON o_orderkey = c.l_orderkey
              WHERE o_totalprice IS NOT NULL),
         f0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
              FROM o),
         $rounds
         SELECT n, b0 AS beta0, b1 AS beta1 FROM f2"""
    },

    // mirrors the x_ipw_ate engine: the logistic rounds fit the
    // propensity (treat plays the y role), then one portable-exp
    // weighting pass with quantized Horvitz–Thompson sums
    "x_ipw_ate" -> {
      val rounds = (1 to 2).map(logitRoundSql).mkString(",\n         ")
      val (chain, last) = Pmath.expSqlChainCtes("w3", "exw",
        Seq("-eta" -> "exn"), carry = Seq("y", "yy"))
      s"""WITH o AS (SELECT o_totalprice / 100000.0 AS xd,
                CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
                CAST(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END
                  AS DOUBLE) AS yy
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderstatus IS NOT NULL
                AND o_orderpriority IS NOT NULL),
         f0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
              FROM o),
         $rounds,
         w3 AS (SELECT y, yy,
                least(greatest(b0 + b1 * xd, -30.0), 30.0) AS eta
              FROM o CROSS JOIN f2),
         $chain,
         w4 AS (SELECT y, yy, 1.0 / (1.0 + exn) AS p FROM $last),
         s3 AS (SELECT
                sum(CAST(floor((y / p) * $Q) AS HUGEINT)) AS qt1,
                sum(CAST(floor(((y * yy) / p) * $Q) AS HUGEINT)) AS qy1,
                sum(CAST(floor(((1.0 - y) / (1.0 - p)) * $Q) AS HUGEINT))
                  AS qt0,
                sum(CAST(floor((((1.0 - y) * yy) / (1.0 - p)) * $Q)
                  AS HUGEINT)) AS qy0,
                CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS nt,
                CAST(sum(CAST(y * yy AS BIGINT)) AS BIGINT) AS nty,
                CAST(sum(CAST(1.0 - y AS BIGINT)) AS BIGINT) AS nc,
                CAST(sum(CAST((1.0 - y) * yy AS BIGINT)) AS BIGINT)
                  AS ncy
              FROM w4)
         SELECT n, nt, nc,
                (${vd("qy1")}) / (${vd("qt1")})
                  - (${vd("qy0")}) / (${vd("qt0")}) AS ate_ipw,
                CAST(nty AS DOUBLE) / CAST(nt AS DOUBLE)
                  - CAST(ncy AS DOUBLE) / CAST(nc AS DOUBLE) AS naive_diff
         FROM s3 CROSS JOIN f2"""
    },

    // mirrors the x_overdisp engine: the Poisson rounds, then one
    // portable-exp pass over the fitted means for Dean's score test
    "x_overdisp" -> {
      val rounds = (1 to 2).map(poissonRoundSql).mkString(",\n         ")
      val (chain, last) = Pmath.expSqlChainCtes("w3", "exd",
        Seq("eta" -> "mu"), carry = Seq("y"))
      s"""WITH o AS (SELECT o_totalprice / 100000.0 AS xd,
                CAST(c.y AS DOUBLE) AS y
              FROM orders
              JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
                    FROM lineitem GROUP BY l_orderkey) c
                ON o_orderkey = c.l_orderkey
              WHERE o_totalprice IS NOT NULL),
         f0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
              FROM o),
         $rounds,
         w3 AS (SELECT y,
                least(greatest(b0 + b1 * xd, -30.0), 30.0) AS eta
              FROM o CROSS JOIN f2),
         $chain,
         s3 AS (SELECT
                sum(CAST(floor(((y - mu) * (y - mu) - y) * $Q)
                  AS HUGEINT)) AS qnum,
                sum(CAST(floor((mu * mu) * $Q) AS HUGEINT)) AS qden
              FROM $last)
         SELECT n, ${vd("qnum")} AS score_num,
                (${vd("qnum")}) / sqrt(2.0 * (${vd("qden")}))
                  AS t_overdisp
         FROM s3 CROSS JOIN f2"""
    },

    // mirrors Stats.coxNewton: x_logrank's survival frame, per-round
    // portable-exp weights, HUGEINT risk-set reverse cumulatives,
    // spine-ordered score/information folds
    "x_cox_newton" -> {
      val rounds = (1 to 2).map(coxRoundSql).mkString(",\n         ")
      s"""WITH u AS (SELECT
                CAST(datediff('day', min(CAST(ts AS DATE)),
                  max(CAST(ts AS DATE))) AS BIGINT) AS dur,
                CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) AS BIGINT) AS obs,
                CAST(count(*) AS BIGINT) AS xn
              FROM events GROUP BY user_id),
         u2 AS (SELECT dur, obs, xn, CAST(xn AS DOUBLE) / 128.0 AS xd
              FROM u),
         f0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(0.0 AS DOUBLE) AS beta FROM u2),
         $rounds
         SELECT n, beta, usum AS score_last, isum AS info_last FROM f2"""
    },

    // mirrors Stats.gmmEm1d: exact HUGEINT seed moments, same
    // responsibility chain, same six quantized sums per round
    "x_gmm_em" -> {
      val rounds = (1 to 2).map(gmmRoundSql).mkString(",\n         ")
      s"""WITH dx AS (SELECT CAST(n_chars AS BIGINT) AS x
              FROM documents WHERE n_chars IS NOT NULL),
         m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(x AS HUGEINT)) AS sx,
                sum(CAST(x AS HUGEINT) * x) AS sxx FROM dx),
         sda AS (SELECT n,
                CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  AS mean,
                CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  AS ex2 FROM m0),
         sdb AS (SELECT n, mean, ex2 - mean * mean AS vr FROM sda),
         f0 AS (SELECT n, CAST(0.5 AS DOUBLE) AS pi1,
                mean - sqrt(vr) AS mu1, mean + sqrt(vr) AS mu2,
                vr AS v1, vr AS v2 FROM sdb),
         $rounds
         SELECT n, pi1, mu1, mu2, v1 AS var1, v2 AS var2 FROM f2"""
    })
}
