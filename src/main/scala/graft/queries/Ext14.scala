package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Stats

/** Round-8 seventh wave — multivariate / robust-estimation operators
  * on the standing exact recipes: exact decimal cross-moments feeding
  * unrolled scalar linear algebra (power iteration), quantized-moment
  * covariance with a closed-form inverse (Mahalanobis census), and
  * consensus fitting where every stage is a distributed pass over
  * parameter-bounded broadcast candidates (hash-partitioned RANSAC).
  */
object Ext14 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def vd(s: String) = s"CAST(CAST($s AS VARCHAR) AS DOUBLE)"

  /** The four integer document-bulk signals (x_cronbach_alpha's items). */
  private val docItemsSql = Seq(
    "CAST(length(text) AS BIGINT) AS i0",
    "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS i1",
    "CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS i2",
    "CAST(length(text) - length(replace(text, ',', '')) AS BIGINT) AS i3")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // dominant eigenpair of the 4×4 covariance of the document-bulk
    // signals by three power iterations — the one-factor readout; one
    // exact decimal moment pass + a 1-row unrolled scalar epilogue
    "x_power_iter" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      def minus(ch: String) =
        length(col("text")) - length(expr(s"replace(text, '$ch', '')"))
      Stats.powerIterCov4(docs, Seq(
        length(col("text")), minus(" "), minus("."), minus(",")),
        iters = 3)
    }),

    // Mahalanobis outlier census on (quantity, price/1000): quantized
    // covariance, closed-form 2×2 inverse, χ²(2) 99% tail count —
    // jointly-anomalous rows the marginal clips can't see
    "x_mahalanobis" -> ((s, d) =>
      Stats.mahalanobis2d(
        t(s, d, "lineitem"),
        col("l_quantity"), col("l_extendedprice") / lit(1000.0),
        d2Threshold = 9.21034)),

    // deterministic hash-partitioned RANSAC of price ~ quantity:
    // 16 md5 candidate subsets, exact decimal OLS each, full-data
    // inlier vote (|res| <= 5000), winner refit on its inliers
    "x_ransac" -> ((s, d) =>
      Stats.ransacLine(
        t(s, d, "lineitem"),
        col("l_quantity"), col("l_extendedprice"),
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")),
        nCand = 16, tol = 5000.0)),

    // deterministic isolation census on document length: 4 random-
    // binary-search trees × depth 6, per-tree leaf-population census —
    // the "which rows isolate fast" anomaly/data-quality readout
    "x_iforest" -> ((s, d) =>
      Stats.isolationCensus(
        t(s, d, "documents").filter(col("n_chars").isNotNull),
        col("n_chars"), nTrees = 4, depth = 6)))

  val oracle: Map[String, String] = Map(

    // mirrors Stats.powerIterCov4: HUGEINT cross-moments, identical
    // left-associated matvec/norm chains, three unrolled iterations
    "x_power_iter" -> {
      val pairs = for { a <- 0 until 4; b <- a until 4 } yield (a, b)
      val moments = (0 until 4).map(a =>
        s"sum(CAST(i$a AS HUGEINT)) AS s$a") ++
        pairs.map { case (a, b) =>
          s"sum(CAST(i$a AS HUGEINT) * i$b) AS p$a$b" }
      val means = (0 until 4).map(a =>
        s"${vd(s"s$a")} / CAST(n AS DOUBLE) AS m$a")
      val covs = pairs.map { case (a, b) =>
        s"${vd(s"p$a$b")} / CAST(n AS DOUBLE) - m$a * m$b AS c$a$b" }
      def cc(a: Int, b: Int) = if (a <= b) s"c$a$b" else s"c$b$a"
      val carryC = pairs.map { case (a, b) => s"c$a$b" }.mkString(", ")
      val iters = (1 to 3).map { r =>
        val us = (0 until 4).map { a =>
          (0 until 4).map(b => s"${cc(a, b)} * v$b").mkString(" + ") +
            s" AS u$a"
        }.mkString(", ")
        val norm = (0 until 4).map(a => s"u$a * u$a").mkString(" + ")
        val vs = (0 until 4).map(a => s"u$a / lam AS v$a").mkString(", ")
        s"""uv$r AS (SELECT n, $carryC, $us FROM it${r - 1}),
         lm$r AS (SELECT *, sqrt($norm) AS lam FROM uv$r),
         it$r AS (SELECT n, $carryC, lam, $vs FROM lm$r)"""
      }.mkString(",\n         ")
      s"""WITH f AS (SELECT ${docItemsSql.mkString(", ")}
              FROM documents WHERE text IS NOT NULL),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                ${moments.mkString(", ")} FROM f),
         m AS (SELECT *, ${means.mkString(", ")} FROM a),
         c AS (SELECT *, ${covs.mkString(", ")} FROM m),
         it0 AS (SELECT n, $carryC,
                CAST(0.5 AS DOUBLE) AS v0, CAST(0.5 AS DOUBLE) AS v1,
                CAST(0.5 AS DOUBLE) AS v2, CAST(0.5 AS DOUBLE) AS v3
              FROM c),
         $iters
         SELECT n, lam AS lambda1, v0 AS ev1, v1 AS ev2, v2 AS ev3,
                v3 AS ev4
         FROM it3"""
    },

    // mirrors Stats.mahalanobis2d: quantized HUGEINT covariance,
    // identical closed-form inverse and per-row d² chain
    "x_mahalanobis" ->
      s"""WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                l_extendedprice / 1000.0 AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(floor(x * 1048576.0) AS HUGEINT)) AS qx,
                sum(CAST(floor(y * 1048576.0) AS HUGEINT)) AS qy,
                sum(CAST(floor((x * x) * 1048576.0) AS HUGEINT)) AS qxx,
                sum(CAST(floor((x * y) * 1048576.0) AS HUGEINT)) AS qxy,
                sum(CAST(floor((y * y) * 1048576.0) AS HUGEINT)) AS qyy
              FROM f),
         m1 AS (SELECT n,
                (${vd("qx")} / 1048576.0) / CAST(n AS DOUBLE) AS mx,
                (${vd("qy")} / 1048576.0) / CAST(n AS DOUBLE) AS my,
                (${vd("qxx")} / 1048576.0) / CAST(n AS DOUBLE) AS exx,
                (${vd("qxy")} / 1048576.0) / CAST(n AS DOUBLE) AS exy,
                (${vd("qyy")} / 1048576.0) / CAST(n AS DOUBLE) AS eyy
              FROM a),
         m2 AS (SELECT n, mx, my,
                exx - mx * mx AS vx, eyy - my * my AS vy,
                exy - mx * my AS cxy FROM m1),
         m3 AS (SELECT *, vx * vy - cxy * cxy AS det FROM m2),
         d2 AS (SELECT n, mx, my, vx, vy, cxy,
                (vy * ((x - mx) * (x - mx))
                  - 2.0 * (cxy * ((x - mx) * (y - my)))
                  + vx * ((y - my) * (y - my))) / det AS d2
              FROM f CROSS JOIN m3)
         SELECT max(n) AS n, max(mx) AS mean_x, max(my) AS mean_y,
                max(vx) AS var_x, max(vy) AS var_y, max(cxy) AS cov_xy,
                CAST(sum(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
                max(d2) AS max_d2
         FROM d2""",

    // mirrors Stats.isolationCensus: same Knuth-hash split fractions,
    // same per-level interval chains, same leaf census
    "x_iforest" -> {
      val levels = (1 to 6).map { l =>
        val caseF = (1 to 4).map(t =>
          s"WHEN $t THEN CAST('${Stats.isoFrac(t, l)}' AS DOUBLE)")
          .mkString("CASE t ", " ", " END")
        val bit = 1L << (l - 1)
        s"""l${l}t AS (SELECT *, lo + ($caseF) * (hi - lo) AS thr
                FROM l${l - 1}),
         l$l AS (SELECT x, t,
                CASE WHEN x < thr THEN lo ELSE thr END AS lo,
                CASE WHEN x < thr THEN thr ELSE hi END AS hi,
                leaf + CASE WHEN x < thr THEN 0 ELSE $bit END AS leaf
              FROM l${l}t)"""
      }.mkString(",\n         ")
      s"""WITH f AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
              WHERE n_chars IS NOT NULL),
         b AS (SELECT CAST(min(x) AS DOUBLE) - 0.5 AS lo0,
                CAST(max(x) AS DOUBLE) + 0.5 AS hi0 FROM f),
         l0 AS (SELECT x, lo0 AS lo, hi0 AS hi,
                CAST(t AS BIGINT) AS t, CAST(0 AS BIGINT) AS leaf
              FROM f CROSS JOIN b
              CROSS JOIN (SELECT unnest(range(1, 5)) AS t)),
         $levels,
         lv AS (SELECT t, leaf, CAST(count(*) AS BIGINT) AS sz
              FROM l6 GROUP BY t, leaf)
         SELECT t, CAST(count(*) AS BIGINT) AS n_leaves,
                max(sz) AS max_leaf_size,
                CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_singletons,
                CAST(sum(CASE WHEN sz <= 4 THEN sz ELSE 0 END) AS BIGINT)
                  AS n_rows_isolated
         FROM lv GROUP BY t"""
    },

    // mirrors Stats.ransacLine: same md5 bucket elections, same
    // 2-point candidate lines, full-data inlier vote, winner refit
    "x_ransac" -> {
      val cb1 = s"(${vd("cn")} * ${vd("sxy")} - ${vd("sx")} * ${vd("sy")}) / " +
        s"(${vd("cn")} * ${vd("sxx")} - ${vd("sx")} * ${vd("sx")})"
      def cb0(b1: String) = s"(${vd("sy")} - $b1 * ${vd("sx")}) / ${vd("cn")}"
      s"""WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS xd,
                CAST(l_extendedprice AS DOUBLE) AS yd,
                CAST(l_orderkey AS VARCHAR) || '_'
                  || CAST(l_linenumber AS VARCHAR) AS rid,
                ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                  || CAST(l_linenumber AS VARCHAR) || '_ransac'),
                  1, 13))::BIGINT AS hv
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
         fb AS (SELECT *, hv % 32 AS bkt FROM f),
         m1 AS (SELECT bkt, min(hv) AS mhv FROM fb GROUP BY bkt),
         f1 AS (SELECT fb.* FROM fb JOIN m1
                ON fb.bkt = m1.bkt AND fb.hv = m1.mhv),
         m2 AS (SELECT bkt, min(rid) AS mrid FROM f1 GROUP BY bkt),
         reps AS (SELECT f1.bkt, f1.xd, f1.yd FROM f1 JOIN m2
                ON f1.bkt = m2.bkt AND f1.rid = m2.mrid),
         pa AS (SELECT CAST(bkt / 2 AS BIGINT) AS csid,
                xd AS x1, yd AS y1 FROM reps WHERE bkt % 2 = 0),
         pb AS (SELECT CAST((bkt - 1) / 2 AS BIGINT) AS csid,
                xd AS x2, yd AS y2 FROM reps WHERE bkt % 2 = 1),
         cd0 AS (SELECT pa.csid, x1, y1,
                (y2 - y1) / (x2 - x1) AS b1
              FROM pa JOIN pb ON pa.csid = pb.csid WHERE x1 <> x2),
         cand AS (SELECT csid, b1, y1 - b1 * x1 AS b0 FROM cd0),
         sc AS (SELECT c.csid, c.b0, c.b1, CAST(count(*) AS BIGINT)
                  AS n_inl
              FROM fb CROSS JOIN cand c
              WHERE abs(yd - (c.b0 + c.b1 * xd)) <= 5000.0
              GROUP BY c.csid, c.b0, c.b1),
         best AS (SELECT * FROM sc ORDER BY n_inl DESC, csid LIMIT 1),
         r0 AS (SELECT b.csid AS best_sid, b.n_inl,
                CAST(count(*) AS BIGINT) AS cn,
                sum(CAST(xd AS DECIMAL(18,2))) AS sx,
                sum(CAST(yd AS DECIMAL(18,2))) AS sy,
                sum(CAST(xd AS DECIMAL(18,2)) * CAST(yd AS DECIMAL(18,2)))
                  AS sxy,
                sum(CAST(xd AS DECIMAL(18,2)) * CAST(xd AS DECIMAL(18,2)))
                  AS sxx
              FROM fb CROSS JOIN best b
              WHERE abs(yd - (b.b0 + b.b1 * xd)) <= 5000.0
              GROUP BY b.csid, b.n_inl),
         r1 AS (SELECT best_sid, n_inl, $cb1 AS b1, cn, sx, sy FROM r0)
         SELECT best_sid, n_inl, b1 AS slope_refit,
                ${cb0("b1")} AS intercept_refit
         FROM r1"""
    })
}
