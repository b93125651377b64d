package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Sketches, Stats}

/** Round-6 continuation wave: distribution-drift monitoring and
  * association statistics ([[graft.operators.Stats]]) — the "did this
  * batch move?" surface a production pipeline runs between ingest and
  * training: two-sample KS, PSI, chi-square feature association, series
  * autocorrelation, and the Benford amounts audit.
  *
  * All five queries carry exact DuckDB oracles: integer/decimal
  * aggregates, single correctly-rounded divisions, the portable ln on
  * ≥ 1 ratios, ordered folds, and shared Scala-emitted literals (the
  * [[Ext]] conventions).
  */
object Ext3 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // two-sample KS between finished and open orders' price
    // distributions — integer cross-multiplied ECDF max, one division
    "x_ks_drift" -> ((s, d) =>
      Stats.ksTwoSample(t(s, d, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O")),

    // PSI of the price distribution, pre-1997 cohort vs 1997+ cohort,
    // over 20k-wide bins — per-bin contributions + the folded total
    "x_psi_drift" -> ((s, d) =>
      Stats.psiDrift(t(s, d, "orders"),
        floor(col("o_totalprice") / lit(20000.0)).cast("long"),
        to_date(col("o_orderdate")) < lit("1997-01-01").cast("date"),
        to_date(col("o_orderdate")) >= lit("1997-01-01").cast("date"))),

    // chi-square term–language association: which vocabulary separates
    // English docs from the rest (presence-level 2×2 tables, top 50)
    "x_chi2_terms" -> ((s, d) =>
      Stats.chi2Terms(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", minDf = 10L, topK = 50)),

    // lag-1 autocorrelation of daily order revenue — decimal moments,
    // string-mediated double casts (the exact-corr recipe)
    "x_autocorr" -> ((s, d) =>
      Stats.lagAutocorr(t(s, d, "orders"),
        to_date(col("o_orderdate")), col("o_totalprice"))),

    // Benford leading-digit audit of order totals vs log10(1+1/d)
    "x_benford" -> ((s, d) =>
      Stats.benfordDigits(t(s, d, "orders"), col("o_totalprice"))),

    // KMV bottom-k distinct sketch per return flag — the sketch CONTENT
    // (k smallest md5 hashes) is an order statistic, so the whole
    // sketch grades exactly, unlike the byte-opaque HLL family
    "x_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(t(s, d, "lineitem"), "l_returnflag",
        "l_partkey", k = 64)),

    // DDSketch-style relative-error histogram of order totals:
    // portable-ln log buckets, counts merge by addition
    "x_ddsketch" -> ((s, d) =>
      Sketches.ddsketchBuckets(t(s, d, "orders"), col("o_totalprice"),
        gamma = 1.02)),

    // subsampling bootstrap CI of mean order value per priority class
    "x_bootstrap_ci" -> ((s, d) =>
      Stats.bootstrapMeanCi(t(s, d, "orders"), "o_orderpriority",
        col("o_orderkey"), col("o_totalprice"), b = 32)),

    // ROC AUC of the hashed quality classifier's margin against the
    // English label — midrank-exact Mann-Whitney, integers until the
    // one final division (the model-eval gate next to the training ops)
    "x_auc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hc = graft.operators.LangModel.hashedClassifier(
        docs, "doc_id", "text")
      Stats.rocAuc(
        hc.join(docs.select(col("doc_id"), (col("lang") === "en").as("lab")),
          Seq("doc_id")),
        col("margin"), col("lab"))
    }),

    // split-conformal half-width for price-from-quantity OLS:
    // hash-parity fit/calibration split, k-th smallest |residual|
    "x_conformal" -> ((s, d) =>
      Stats.conformalInterval(t(s, d, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")),
        col("l_quantity"), col("l_extendedprice"), coverage = 0.9)),

    // Kaplan-Meier time-to-purchase: hours from each user's first event
    // to their first purchase, right-censored at the last event for
    // never-purchasers — the funnel-latency survival curve
    "x_survival" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("purch_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      Stats.kaplanMeier(users,
        expr("(coalesce(purch_us, last_us) - first_us) div 3600000000"),
        col("purch_us").isNotNull)
    }),

    // two-proportion A/B readout: hash-half user assignment, conversion
    // = first purchase within 24h of the user's first event (the
    // time-boxed form — "ever purchased" saturates at 100% here, which
    // would zero the pooled-variance divisor)
    "x_ab_test" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("purch_us"))
      Stats.abTest(users,
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long") % 2 === 0,
        col("purch_us").isNotNull &&
          col("purch_us") - col("first_us") <= lit(86400000000L))
    }),

    // CUPED: pre-period activity (before Jan 16) as the covariate for
    // the post-period metric — adjusted variant means + the variance
    // reduction the pre-data buys, all from one conditional aggregate
    "x_cuped" -> ((s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val z = lit(0).cast("decimal(18,2)")
      val users = t(s, d, "events").groupBy("user_id").agg(
        coalesce(sum(when(col("ts") < cut,
          col("value").cast("decimal(18,2)"))), z).as("x"),
        coalesce(sum(when(col("ts") >= cut,
          col("value").cast("decimal(18,2)"))), z).as("y"))
      Stats.cupedAdjust(users,
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long") % 2 === 0,
        col("x"), col("y"))
    }),

    // Weisfeiler-Lehman structural fingerprint of the supplier-part
    // incidence graph: 2 rounds of md5 color refinement, label counts
    "x_wl_fingerprint" -> ((s, d) =>
      graft.operators.Graphs.wlFingerprint(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", rounds = 2)),

    // 10%-trimmed mean of order value per priority — the robust
    // location metric next to the plain mean
    "x_trimmed_mean" -> ((s, d) =>
      Stats.trimmedMean(t(s, d, "orders"), "o_orderpriority",
        col("o_totalprice"), trimFrac = 0.1)),

    // quantile-normalize document lengths across languages onto the
    // pooled distribution; deciles coincide after mapping
    "x_quantile_norm" -> ((s, d) =>
      Stats.quantileNormalize(t(s, d, "documents"), "lang",
        col("n_chars"))),

    // Theil-Sen robust price-per-quantity slope from md5-bucketed
    // pairwise slopes; 1-in-8 bucket thinning keeps the globally
    // sorted slope sample bounded (the order statistic's real cost)
    "x_theil_sen" -> ((s, d) =>
      Stats.theilSenSlope(t(s, d, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")),
        col("l_quantity"), col("l_extendedprice"), bucketSize = 16,
        keepEvery = 8)),

    // revenue concentration across customers: Gini + Herfindahl +
    // top-share, exact decimals until one division each
    "x_gini" -> ((s, d) =>
      Stats.concentration(t(s, d, "orders"), col("o_custkey"),
        col("o_totalprice"))),

    // one-way ANOVA: does mean order value differ across priority
    // classes beyond within-class noise
    "x_anova" -> ((s, d) =>
      Stats.anovaF(t(s, d, "orders"), "o_orderpriority",
        col("o_totalprice"))),

    // Welch's unequal-variance t-test: finished vs open orders' mean
    // value, Satterthwaite df, Cohen's d — one conditional aggregate
    "x_ttest" -> ((s, d) =>
      Stats.welchT(t(s, d, "orders"),
        col("o_orderstatus") === "F", col("o_orderstatus") === "O",
        col("o_totalprice"))),

    // chi-square independence + Cramér's V over the priority × status
    // contingency table — marginals via integer window sums
    "x_cramers_v" -> ((s, d) =>
      Stats.cramersV(t(s, d, "orders"), col("o_orderpriority"),
        col("o_orderstatus"))),

    // per-node local clustering coefficient over the part co-purchase
    // graph — same degree-ordered closure as the triangle census, each
    // triangle crediting all three corners
    "x_clustering_coef" -> ((s, d) => {
      // Skew.spread before the co-purchase self-join (round 16): the
      // probe-side join fan-out + distinct partial agg otherwise run
      // in the 3 scan tasks — see x_triangle_count; all downstream
      // values are counts — partitioning-invariant
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
      val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      val coEdges = l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
        .distinct()
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ord"))
        .filter(col("n_ord") >= 2)
      graft.operators.Graphs.clusteringCoefficients(coEdges, "pa", "pb")
    }),

    // degree assortativity of the same graph: one rational from three
    // integer degree moments — hubs-to-hubs vs hubs-to-leaves
    "x_assortativity" -> ((s, d) => {
      // Skew.spread before the co-purchase self-join (round 16, see
      // x_clustering_coef): degree moments are exact decimal sums —
      // partitioning-invariant
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
      val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      val coEdges = l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
        .distinct()
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ord"))
        .filter(col("n_ord") >= 2)
      graft.operators.Graphs.degreeAssortativity(coEdges, "pa", "pb")
    }),

    // link prediction on the co-purchase graph: for non-edge part pairs
    // sharing >= 2 common neighbors, common-neighbor count, Jaccard, and
    // Adamic-Adar with the portable ln + fixed-point floor(iv·2^34)
    // long sums (associative — the pageRank recipe)
    "x_link_predict" -> ((s, d) => {
      // Skew.spread before the co-purchase self-join (round 16, see
      // x_clustering_coef): cn/Jaccard are exact integers and the
      // Adamic–Adar fold is a fixed-point long sum — partitioning-
      // invariant
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
      val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      val coEdges = l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
        .distinct()
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ord"))
        .filter(col("n_ord") >= 2)
      graft.operators.Graphs.linkPrediction(coEdges, "pa", "pb",
        minCommon = 2)
    }),

    // mutual information between doc language and source — per-cell
    // contribution profile + folded total, portable ln on integer ratios
    "x_mutual_info" -> ((s, d) =>
      Stats.mutualInfo(t(s, d, "documents"), col("lang"), col("source"))),

    // Jensen-Shannon divergence of the priority mix, pre-1997 vs 1997+
    // cohorts — symmetric, smoothing-free drift in nats
    "x_js_drift" -> ((s, d) =>
      Stats.jsDivergence(t(s, d, "orders"), col("o_orderpriority"),
        to_date(col("o_orderdate")) < lit("1997-01-01").cast("date"),
        to_date(col("o_orderdate")) >= lit("1997-01-01").cast("date"))),

    // Mann-Whitney U: nonparametric F-vs-O order-value comparison with
    // tie-corrected z — midranks off the distinct-value spine
    "x_mannwhitney" -> ((s, d) =>
      Stats.mannWhitneyU(t(s, d, "orders"),
        col("o_orderstatus") === "F", col("o_orderstatus") === "O",
        "o_totalprice")),

    // Kruskal-Wallis H: rank-based ANOVA across order priorities
    "x_kruskal" -> ((s, d) =>
      Stats.kruskalWallis(t(s, d, "orders"), "o_orderpriority",
        "o_totalprice")),

    // Spearman rank correlation: quantity vs extended price monotone
    // association over lineitem (heavy ties on the quantity side)
    "x_spearman" -> ((s, d) =>
      Stats.spearmanRho(t(s, d, "lineitem"), col("l_quantity"),
        col("l_extendedprice"))),

    // exact permutation p-value for the A/B rate difference: observed
    // split = hash bit 0, permutations = bits 1..32 of the SAME hash
    "x_perm_test" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("purch_us"))
      Stats.permutationTest(users, col("user_id"),
        col("purch_us").isNotNull &&
          col("purch_us") - col("first_us") <= lit(86400000000L), b = 32)
    }),

    // maximum drawdown of the daily revenue run: largest peak-to-
    // trough drop, absolute cents and relative
    "x_drawdown" -> ((s, d) =>
      Stats.maxDrawdown(t(s, d, "orders"),
        to_date(col("o_orderdate")), col("o_totalprice"))),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking and
    // the embedding-cosine ranking (doc_id == vec_id) — integer ranks,
    // 1/(60+r) single divisions, a two-term fixed-order sum
    "x_rrf_hybrid" -> ((s, d) => {
      val bm = graft.operators.Retrieval.bm25TopK(t(s, d, "documents"),
          "doc_id", "text", Seq("join", "merge", "scan"), k = 50)
        .select(col("doc_id"), col("rank").as("r_text"))
      val cs = graft.operators.Similarity.bruteForceTopK(
          t(s, d, "embeddings").filter(col("vec_id") === 0),
          t(s, d, "embeddings"),
          "vec_id", "embedding", "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_vec"))
      bm.join(cs, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_text"), col("r_vec"),
          (coalesce(lit(1.0) / (lit(60) + col("r_text")).cast("double"),
            lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_vec")).cast("double"),
              lit(0.0))).as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id")).limit(20)
    }),

    // RFM segmentation: recency/frequency/monetary quintiles (custkey
    // tiebreak makes every ntile deterministic), 3-digit segment codes
    "x_rfm_segments" -> ((s, d) => {
      val o = t(s, d, "orders")
      val maxd = o.agg(max(to_date(col("o_orderdate"))).as("dmax"))
      val per = o.groupBy("o_custkey").agg(
          max(to_date(col("o_orderdate"))).as("dlast"),
          count(lit(1)).as("f"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("m0"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"), datediff(col("dmax"), col("dlast")).as("rec"),
          col("f"), col("m0").cast("decimal(18,2)").as("m"))
      // quintiles from DISTRIBUTED ranks, not single-partition ntile
      // windows: the per-customer frame is data-sized, so each axis
      // gets a Rank.withRowNumber spine and ntile reconstructed from
      // (rank, n) — bit-identical bucketing (Rank.ntileCol)
      val nAll = per.agg(count(lit(1)).as("n_all"))
      val seg = Seq(("rec", "r"), ("f", "fq"), ("m", "mq"))
        .foldLeft(per) { case (d, (src, out)) =>
          graft.operators.Rank.withRowNumber(d, Seq(src, "o_custkey"),
            s"rn_$out")
        }
        .crossJoin(broadcast(nAll))
        .withColumn("r", graft.operators.Rank.ntileCol(col("rn_r"), col("n_all"), 5))
        .withColumn("fq", graft.operators.Rank.ntileCol(col("rn_fq"), col("n_all"), 5))
        .withColumn("mq", graft.operators.Rank.ntileCol(col("rn_mq"), col("n_all"), 5))
      seg.groupBy((col("r") * 100 + col("fq") * 10 + col("mq")).as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          (sum("m").cast("string").cast("double") /
            count(lit(1)).cast("double")).as("avg_monetary"))
    }),

    // seasonal-naive backtest: forecast each hour's event value with
    // the value 168 hours earlier, score MAE + bias on the last week
    // (hours absent a week earlier have no forecast and are skipped)
    "x_backtest_mae" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type").as("et"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      val hmax = hourly.agg(max("h").as("hmax"))
      hourly
        .join(hourly.select(col("et"), (col("h") + lit(168L)).as("h"),
          col("v").as("vf")), Seq("et", "h"))
        .crossJoin(broadcast(hmax))
        .where(col("h") > col("hmax") - lit(168L))
        .groupBy("et").agg(count(lit(1)).as("n_hours"),
          (sum(abs(col("v") - col("vf"))).cast("string").cast("double") /
            count(lit(1)).cast("double")).as("mae"),
          (sum(col("v") - col("vf")).cast("string").cast("double") /
            count(lit(1)).cast("double")).as("bias"))
    })
  )

  val oracle: Map[String, String] = Map(

    "x_ks_drift" ->
      """WITH f AS (SELECT o_totalprice AS v,
                CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS in1,
                CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS in2
              FROM orders WHERE o_orderstatus IN ('F', 'O')),
         g AS (SELECT v, CAST(sum(in1) AS BIGINT) AS a1,
                      CAST(sum(in2) AS BIGINT) AS a2 FROM f GROUP BY v),
         c AS (SELECT
                 CAST(sum(a1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS c1,
                 CAST(sum(a2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS c2 FROM g),
         t AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
                      CAST(sum(in2) AS BIGINT) AS n2 FROM f),
         m AS (SELECT n1, n2, max(abs(c1 * n2 - c2 * n1)) AS d_num
               FROM c CROSS JOIN t GROUP BY n1, n2)
         SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num,
                CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat
         FROM m""",

    "x_psi_drift" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH f AS (SELECT
                CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bin,
                CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
                     THEN 1 ELSE 0 END AS r,
                CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                     THEN 1 ELSE 0 END AS c
              FROM orders),
          pb AS (SELECT bin, CAST(sum(r) AS BIGINT) AS c_ref,
                        CAST(sum(c) AS BIGINT) AS c_cur FROM f GROUP BY bin),
          t AS (SELECT CAST(sum(r) AS BIGINT) AS n_ref,
                       CAST(sum(c) AS BIGINT) AS n_cur,
                       CAST(count(DISTINCT bin) AS BIGINT) AS n_bins FROM f),
          pq AS (SELECT bin, c_ref, c_cur,
                 CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_bins AS DOUBLE) AS p,
                 CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_bins AS DOUBLE) AS q
                 FROM pb CROSS JOIN t),
          b AS (SELECT *, CASE WHEN p >= q THEN p / q ELSE q / p END AS lnin
                FROM pq),
          p1 AS (SELECT *, $l1 FROM b),
          p2 AS (SELECT *, $l2 FROM p1),
          p3 AS (SELECT *, $l3 FROM p2),
          bins AS (SELECT bin, c_ref, c_cur,
                   CASE WHEN p >= q THEN (p - q) * lnx
                        ELSE (q - p) * lnx END AS psi_contrib FROM p3),
          tt AS (SELECT list_sum(list(psi_contrib ORDER BY bin)) AS psi_total
                 FROM bins)
          SELECT bin, c_ref, c_cur, psi_contrib, psi_total
          FROM bins CROSS JOIN tt"""
    },

    "x_chi2_terms" ->
      """WITH docs AS (SELECT doc_id,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
              FROM documents),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                       CAST(sum(y) AS BIGINT) AS npos FROM docs),
         tm AS (SELECT DISTINCT doc_id, y, term FROM
                (SELECT doc_id, y, unnest(string_split(text, ' ')) AS term
                 FROM docs) q),
         pt AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                       CAST(sum(y) AS BIGINT) AS a
                FROM tm WHERE term <> '' GROUP BY term),
         j AS (SELECT term, df, a, nd, npos FROM pt CROSS JOIN tt
               WHERE df >= 10 AND df * 10 <= nd * 9),
         x AS (SELECT term, df, a, nd, npos,
                 CAST(a AS DOUBLE) * CAST(nd - npos - (df - a) AS DOUBLE)
                   - CAST(df - a AS DOUBLE) * CAST(npos - a AS DOUBLE) AS ad_bc
               FROM j)
         SELECT term, df, a AS df_pos,
                (CAST(nd AS DOUBLE) * (ad_bc * ad_bc)) /
                  (((CAST(df AS DOUBLE) * CAST(nd - df AS DOUBLE))
                    * CAST(npos AS DOUBLE)) * CAST(nd - npos AS DOUBLE)) AS chi2
         FROM x ORDER BY chi2 DESC, term LIMIT 50""",

    "x_autocorr" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS r
              FROM orders GROUP BY 1),
         p AS (SELECT lag(r) OVER (ORDER BY day) AS x, r AS y FROM dly),
         pp AS (SELECT CAST(x AS DECIMAL(19,2)) AS x,
                       CAST(y AS DECIMAL(19,2)) AS y
                FROM p WHERE x IS NOT NULL),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                      sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                      sum(x * x) AS sxx, sum(y * y) AS syy FROM pp),
         dd AS (SELECT n_pairs,
                CAST(CAST(n_pairs AS VARCHAR) AS DOUBLE) AS n0,
                CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
                CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd FROM m)
         SELECT n_pairs,
                (n0 * sxyd - sxd * syd) /
                  (sqrt(n0 * sxxd - sxd * sxd) * sqrt(n0 * syyd - syd * syd))
                  AS autocorr_lag1
         FROM dd""",

    "x_kmv_distinct" ->
      """WITH dv AS (SELECT DISTINCT l_returnflag AS g,
                CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
         h AS (SELECT g, md5(v) AS h FROM dv),
         r AS (SELECT g, h,
               row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM h),
         s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_in_sketch,
               max(h) AS kth FROM r WHERE rk <= 64 GROUP BY g)
         SELECT g, n_in_sketch,
                CASE WHEN n_in_sketch < 64 THEN CAST(n_in_sketch AS DOUBLE)
                     ELSE CAST('63.0' AS DOUBLE) /
                       (CAST(('0x' || substr(kth, 1, 13))::BIGINT AS DOUBLE)
                         / CAST('4503599627370496.0' AS DOUBLE))
                END AS est_distinct
         FROM s""",

    "x_ddsketch" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      val lg = graft.operators.Sketches.lnGamma(1.02)
      s"""WITH f AS (SELECT
                CASE WHEN CAST(o_totalprice AS DOUBLE) >= 1.0
                     THEN CAST(o_totalprice AS DOUBLE) ELSE 1.0 END AS lnin
              FROM orders),
          p1 AS (SELECT *, $l1 FROM f),
          p2 AS (SELECT *, $l2 FROM p1),
          p3 AS (SELECT *, $l3 FROM p2)
          SELECT CAST(floor(lnx / CAST('${lg.toString}' AS DOUBLE)) AS BIGINT)
                   AS bucket,
                 CAST(count(*) AS BIGINT) AS n
          FROM p3 GROUP BY 1"""
    },

    "x_bootstrap_ci" ->
      """WITH base AS (SELECT o_orderpriority AS g,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                  1, 13))::BIGINT AS hx,
                CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
         fl AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_full
                FROM base GROUP BY g),
         reps AS (SELECT g, b, v FROM base
                  CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
                  WHERE (hx & (CAST(1 AS BIGINT) << b)) = 0),
         pr AS (SELECT g, b,
                CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mb
                FROM reps GROUP BY g, b),
         ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_reps,
                list_sum(list(mb ORDER BY b)) AS s1,
                list_sum(list(mb * mb ORDER BY b)) AS s2
                FROM pr GROUP BY g)
         SELECT g, n, mean_full, n_reps,
                s1 / CAST(n_reps AS DOUBLE) AS boot_mean,
                sqrt((s2 - s1 * s1 / CAST(n_reps AS DOUBLE))
                  / (CAST(n_reps AS DOUBLE) - 1.0)) AS boot_se
         FROM fl JOIN ag USING (g)""",

    // margin recomputed exactly as the x_hash_classifier oracle, then
    // the integer midrank identity: 2·R+ = Σ pos·(2·cum_before+cnt+1)
    "x_auc" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         w AS (SELECT doc_id,
                      ('0x' || substr(md5(t), 1, 4))::BIGINT % 17 - 8 AS w
               FROM tok),
         sc AS (SELECT doc_id, count(*) AS n_tokens,
                       CAST(sum(w) AS BIGINT) AS score
                FROM w GROUP BY doc_id),
         f AS (SELECT sc.score::DOUBLE / sc.n_tokens::DOUBLE AS s,
                      CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
               FROM sc JOIN documents d USING (doc_id)),
         pv AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(sum(y) AS BIGINT) AS pos FROM f GROUP BY s),
         cw AS (SELECT pos, cnt,
                CAST(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl FROM pv),
         rs AS (SELECT CAST(sum(pos * (2 * (cum_incl - cnt) + cnt + 1))
                  AS BIGINT) AS rs2 FROM cw),
         t AS (SELECT CAST(sum(y) AS BIGINT) AS npos,
                      CAST(count(*) AS BIGINT) AS n FROM f)
         SELECT npos, n - npos AS nneg,
                CAST(rs2 - npos * (npos + 1) AS DOUBLE) /
                  CAST(2 * npos * (n - npos) AS DOUBLE) AS auc
         FROM rs CROSS JOIN t""",

    "x_conformal" ->
      """WITH base AS (SELECT
                CAST(l_orderkey AS VARCHAR) || '-' ||
                  CAST(l_linenumber AS VARCHAR) AS id,
                CAST(l_quantity AS DECIMAL(18,2)) AS x,
                CAST(l_extendedprice AS DECIMAL(18,2)) AS y
              FROM lineitem),
         sp AS (SELECT *,
                ('0x' || substr(md5(id), 1, 13))::BIGINT % 2 = 0 AS is_fit
                FROM base),
         m AS (SELECT count(*) AS n_fit, sum(x) AS sx, sum(y) AS sy,
                      sum(x * y) AS sxy, sum(x * x) AS sxx
               FROM sp WHERE is_fit),
         dd AS (SELECT CAST(n_fit AS BIGINT) AS n_fit,
                CAST(CAST(n_fit AS VARCHAR) AS DOUBLE) AS n0,
                CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd FROM m),
         ab AS (SELECT n_fit,
                (n0 * sxyd - sxd * syd) / (n0 * sxxd - sxd * sxd) AS slope,
                (syd - ((n0 * sxyd - sxd * syd) / (n0 * sxxd - sxd * sxd))
                  * sxd) / n0 AS intercept
                FROM dd),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM sp
                WHERE NOT is_fit),
         res AS (SELECT sp.id, n_fit, n_cal, slope, intercept,
                 abs(CAST(CAST(sp.y AS VARCHAR) AS DOUBLE)
                   - (intercept + slope *
                      CAST(CAST(sp.x AS VARCHAR) AS DOUBLE))) AS r
                 FROM sp CROSS JOIN ab CROSS JOIN nc WHERE NOT is_fit),
         rk AS (SELECT *, row_number() OVER (ORDER BY r, id) AS rk,
                CAST(ceil(CAST('0.9' AS DOUBLE)
                  * CAST(n_cal + 1 AS DOUBLE)) AS BIGINT) AS k
                FROM res)
         SELECT n_fit, n_cal, k, slope, intercept, r AS qhat
         FROM rk WHERE rk = k""",

    // KM replayed: integer risk sets from a cumulative window over the
    // distinct duration spine, then the index-sliced list_reduce
    // running product (mirrors the operator's slice-fold exactly)
    "x_survival" ->
      """WITH u AS (SELECT user_id,
                min(epoch_us(ts)) AS first_us,
                min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS purch_us,
                max(epoch_us(ts)) AS last_us
              FROM events GROUP BY user_id),
         f AS (SELECT CAST((COALESCE(purch_us, last_us) - first_us)
                  // 3600000000 AS BIGINT) AS t,
               CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS obs
               FROM u),
         pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_all,
                CAST(sum(obs) AS BIGINT) AS d FROM f GROUP BY t),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM f),
         ev AS (SELECT t, n_risk, d,
                1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
                FROM (SELECT t, n_all, d,
                      n_total - COALESCE(CAST(sum(n_all) OVER
                        (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
                      FROM pt CROSS JOIN tt) rk
                WHERE d > 0),
         sp AS (SELECT list(t ORDER BY t) AS ts, list(n_risk ORDER BY t) AS ns,
                       list(d ORDER BY t) AS ds,
                       list(factor ORDER BY t) AS fs FROM ev)
         SELECT ts[i] AS t_dur, ns[i] AS n_risk, ds[i] AS d_events,
                list_reduce(list_prepend(CAST('1.0' AS DOUBLE), fs[1:i]),
                  (a, b) -> a * b) AS surv
         FROM sp, (SELECT unnest(range(1, 100001)) AS i) ix
         WHERE i <= len(ts)""",

    "x_ab_test" ->
      """WITH u AS (SELECT user_id,
                min(epoch_us(ts)) AS first_us,
                min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS purch_us
              FROM events GROUP BY user_id),
         f AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                  1, 13))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS va,
               CASE WHEN purch_us IS NOT NULL
                    AND purch_us - first_us <= 86400000000 THEN 1 ELSE 0 END
                 AS conv
               FROM u),
         m AS (SELECT CAST(sum(va) AS BIGINT) AS n_a,
                      CAST(sum(1 - va) AS BIGINT) AS n_b,
                      CAST(sum(va * conv) AS BIGINT) AS conv_a,
                      CAST(sum((1 - va) * conv) AS BIGINT) AS conv_b FROM f),
         p AS (SELECT *,
               CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
               CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                 AS p_pool FROM m)
         SELECT n_a, n_b, conv_a, conv_b, p_a, p_b, p_pool,
                (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) *
                  (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                  AS z
         FROM p""",

    "x_cuped" ->
      """WITH u AS (SELECT user_id,
                COALESCE(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(value AS DECIMAL(18,2)) END),
                  CAST(0 AS DECIMAL(18,2))) AS x,
                COALESCE(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(value AS DECIMAL(18,2)) END),
                  CAST(0 AS DECIMAL(18,2))) AS y
              FROM events GROUP BY user_id),
         f AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                  1, 13))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS va,
               CAST(x AS DECIMAL(18,2)) AS x, CAST(y AS DECIMAL(18,2)) AS y
               FROM u),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy,
               sum(va) AS n_a,
               sum(CASE WHEN va = 1 THEN x END) AS sx_a,
               sum(CASE WHEN va = 1 THEN y END) AS sy_a,
               sum(CASE WHEN va = 0 THEN x END) AS sx_b,
               sum(CASE WHEN va = 0 THEN y END) AS sy_b FROM f),
         dd AS (SELECT CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
               CAST(CAST(n AS VARCHAR) AS DOUBLE) AS n0,
               CAST(CAST(n_a AS VARCHAR) AS DOUBLE) AS na0,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
               CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
               CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
               CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
               CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
               CAST(CAST(sx_a AS VARCHAR) AS DOUBLE) AS sxad,
               CAST(CAST(sy_a AS VARCHAR) AS DOUBLE) AS syad,
               CAST(CAST(sx_b AS VARCHAR) AS DOUBLE) AS sxbd,
               CAST(CAST(sy_b AS VARCHAR) AS DOUBLE) AS sybd FROM m),
         th AS (SELECT *,
               (n0 * sxyd - sxd * syd) / (n0 * sxxd - sxd * sxd) AS theta,
               (sxxd - sxd * sxd / n0) / (n0 - 1.0) AS var_x,
               (syyd - syd * syd / n0) / (n0 - 1.0) AS var_y FROM dd),
         mm AS (SELECT *,
               syad / na0 - theta * (sxad / na0 - sxd / n0) AS mean_adj_a,
               sybd / CAST(CAST(n - n_a AS VARCHAR) AS DOUBLE)
                 - theta * (sxbd / CAST(CAST(n - n_a AS VARCHAR) AS DOUBLE)
                            - sxd / n0) AS mean_adj_b
               FROM th)
         SELECT n, n_a, theta, mean_adj_a, mean_adj_b,
                mean_adj_a - mean_adj_b AS diff_adj,
                100.0 * (theta * theta * var_x) / var_y AS var_reduction_pct
         FROM mm""",

    // round 10: the engine's degree cap (first 4096 sorted neighbor
    // labels + '#' + degree — see Graphs.wlFingerprint) replayed with a
    // rank filter inside each refinement round
    "x_wl_fingerprint" ->
      """WITH e0 AS (SELECT DISTINCT
                's' || CAST(l_suppkey AS VARCHAR) AS u,
                'p' || CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
         sym AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
         l0 AS (SELECT u AS node, md5(CAST(deg AS VARCHAR)) AS lab
                FROM (SELECT u, count(*) AS deg FROM sym GROUP BY u) d),
         n1 AS (SELECT u, string_agg(lab, ',' ORDER BY lab)
                    FILTER (WHERE rn <= 4096)
                  || '#' || CAST(count(*) AS VARCHAR) AS nh
                FROM (SELECT s.u, l.lab, row_number() OVER
                        (PARTITION BY s.u ORDER BY l.lab) AS rn
                      FROM sym s JOIN l0 l ON l.node = s.v)
                GROUP BY u),
         l1 AS (SELECT l0.node, md5(l0.lab || '|' || n1.nh) AS lab
                FROM l0 JOIN n1 ON n1.u = l0.node),
         n2 AS (SELECT u, string_agg(lab, ',' ORDER BY lab)
                    FILTER (WHERE rn <= 4096)
                  || '#' || CAST(count(*) AS VARCHAR) AS nh
                FROM (SELECT s.u, l.lab, row_number() OVER
                        (PARTITION BY s.u ORDER BY l.lab) AS rn
                      FROM sym s JOIN l1 l ON l.node = s.v)
                GROUP BY u),
         l2 AS (SELECT l1.node, md5(l1.lab || '|' || n2.nh) AS lab
                FROM l1 JOIN n2 ON n2.u = l1.node)
         SELECT lab, CAST(count(*) AS BIGINT) AS n FROM l2 GROUP BY lab""",

    "x_trimmed_mean" ->
      """WITH base AS (SELECT o_orderpriority AS g,
                CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
         rkd AS (SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                 FROM base),
         cut AS (SELECT *, CAST(floor(CAST('0.1' AS DOUBLE)
                   * CAST(n AS DOUBLE)) AS BIGINT) AS k FROM rkd)
         SELECT g, CAST(max(n) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS trimmed_mean
         FROM cut WHERE rk > k AND rk <= n - k GROUP BY g""",

    "x_quantile_norm" ->
      """WITH base AS (SELECT lang AS g,
                CAST(n_chars AS DECIMAL(18,2)) AS v FROM documents),
         rkd AS (SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v) AS r,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS ng
                 FROM base),
         pooled AS (SELECT CAST(n_chars AS DECIMAL(18,2)) AS pv,
                    row_number() OVER
                      (ORDER BY CAST(n_chars AS DECIMAL(18,2))) AS pr
                    FROM documents),
         np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM documents),
         pos AS (SELECT g, v, r, ng, np,
                 CASE WHEN ng = 1 THEN 1.0
                      ELSE 1.0 + CAST((r - 1) * (np - 1) AS DOUBLE)
                        / CAST(ng - 1 AS DOUBLE) END AS p
                 FROM rkd CROSS JOIN np),
         pp AS (SELECT *, CAST(floor(p) AS BIGINT) AS p_lo,
                least(CAST(floor(p) AS BIGINT) + 1, np) AS p_hi,
                p - CAST(CAST(floor(p) AS BIGINT) AS DOUBLE) AS frac
                FROM pos),
         qn AS (SELECT g, r,
                CAST(CAST(lo.pv AS VARCHAR) AS DOUBLE) * (1.0 - frac)
                  + CAST(CAST(hi.pv AS VARCHAR) AS DOUBLE) * frac AS qn
                FROM pp JOIN pooled lo ON lo.pr = pp.p_lo
                        JOIN pooled hi ON hi.pr = pp.p_hi),
         dec AS (SELECT g, qn, ntile(10) OVER
                   (PARTITION BY g ORDER BY qn, r) AS decile FROM qn)
         SELECT g, decile, CAST(count(*) AS BIGINT) AS n,
                min(qn) AS lo, max(qn) AS hi
         FROM dec GROUP BY g, decile""",

    "x_theil_sen" ->
      """WITH base AS (SELECT
                CAST(l_orderkey AS VARCHAR) || '-' ||
                  CAST(l_linenumber AS VARCHAR) AS id,
                CAST(l_quantity AS DECIMAL(18,2)) AS x,
                CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base),
         bk AS (SELECT * FROM (SELECT id, x, y,
                ('0x' || substr(md5(id), 1, 13))::BIGINT
                  % greatest(n_rows // 16, 1) AS b
                FROM base CROSS JOIN nn) q WHERE b % 8 = 0),
         pr AS (SELECT a.id AS id1, c.id AS id2,
                (CAST(CAST(c.y AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(a.y AS VARCHAR) AS DOUBLE))
                / (CAST(CAST(c.x AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(a.x AS VARCHAR) AS DOUBLE)) AS slope
                FROM bk a JOIN bk c
                  ON a.b = c.b AND a.id < c.id AND a.x <> c.x),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pr),
         rk AS (SELECT slope, m,
                row_number() OVER (ORDER BY slope, id1, id2) AS rk
                FROM pr CROSS JOIN mm)
         SELECT m AS n_pairs, min(slope) AS slope_lo, max(slope) AS slope_hi,
                min(slope) * CAST('0.5' AS DOUBLE)
                  + max(slope) * CAST('0.5' AS DOUBLE) AS slope_ts
         FROM rk WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2 GROUP BY m""",

    "x_gini" ->
      """WITH per AS (SELECT o_custkey AS k,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS s
              FROM orders GROUP BY o_custkey),
         rk AS (SELECT s, CAST(row_number() OVER (ORDER BY s, k)
                  AS BIGINT) AS i FROM per),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(s) AS ts,
               sum(i * s) AS is_sum, sum(s * s) AS sq, max(s) AS smax
               FROM rk),
         dd AS (SELECT n,
               CAST(CAST(ts AS VARCHAR) AS DOUBLE) AS tsd,
               CAST(CAST(is_sum AS VARCHAR) AS DOUBLE) AS isd,
               CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sqd,
               CAST(CAST(smax AS VARCHAR) AS DOUBLE) AS smaxd FROM m)
         SELECT n,
                (2.0 * isd - CAST(n + 1 AS DOUBLE) * tsd)
                  / (CAST(n AS DOUBLE) * tsd) AS gini,
                sqd / (tsd * tsd) AS hhi,
                smaxd / tsd AS top_share
         FROM dd""",

    "x_rfm_segments" ->
      """WITH dm AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax
                     FROM orders),
         per AS (SELECT o_custkey,
                 datediff('day', max(CAST(o_orderdate AS DATE)), dmax) AS rec,
                 CAST(count(*) AS BIGINT) AS f,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS m
                 FROM orders CROSS JOIN dm
                 GROUP BY o_custkey, dmax),
         seg AS (SELECT m,
                 ntile(5) OVER (ORDER BY rec, o_custkey) AS r,
                 ntile(5) OVER (ORDER BY f, o_custkey) AS fq,
                 ntile(5) OVER (ORDER BY m, o_custkey) AS mq
                 FROM per)
         SELECT r * 100 + fq * 10 + mq AS segment,
                CAST(count(*) AS BIGINT) AS n_customers,
                CAST(CAST(sum(m) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS avg_monetary
         FROM seg GROUP BY 1""",

    "x_backtest_mae" ->
      """WITH hourly AS (SELECT event_type AS et,
                epoch_us(ts) // 3600000000 AS h,
                CAST(sum(CAST(value AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
              FROM events GROUP BY 1, 2),
         hm AS (SELECT max(h) AS hmax FROM hourly),
         j AS (SELECT a.et, a.h, a.v, b.v AS vf
               FROM hourly a
               JOIN (SELECT et, h + 168 AS h, v FROM hourly) b
                 ON a.et = b.et AND a.h = b.h
               CROSS JOIN hm WHERE a.h > hmax - 168)
         SELECT et, CAST(count(*) AS BIGINT) AS n_hours,
                CAST(CAST(sum(abs(v - vf)) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mae,
                CAST(CAST(sum(v - vf) AS VARCHAR) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS bias
         FROM j GROUP BY et""",

    "x_perm_test" ->
      """WITH u AS (SELECT user_id,
                min(epoch_us(ts)) AS first_us,
                min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS purch_us
              FROM events GROUP BY user_id),
         f AS (SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                  1, 13))::BIGINT AS hx,
               CASE WHEN purch_us IS NOT NULL
                    AND purch_us - first_us <= 86400000000 THEN 1 ELSE 0 END
                 AS conv
               FROM u),
         ob AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(conv) AS BIGINT) AS conv_total,
                CAST(sum(CASE WHEN (hx & 1) = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN (hx & 1) = 0 THEN conv ELSE 0 END)
                  AS BIGINT) AS c_a FROM f),
         od AS (SELECT n, conv_total,
                abs(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_total - c_a AS DOUBLE)
                    / CAST(n - n_a AS DOUBLE)) AS d_obs FROM ob),
         pe AS (SELECT p, CAST(count(*) AS BIGINT) AS np,
                CAST(sum(CASE WHEN (hx & (CAST(1 AS BIGINT) << p)) = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN (hx & (CAST(1 AS BIGINT) << p)) = 0
                  THEN conv ELSE 0 END) AS BIGINT) AS ca,
                CAST(sum(conv) AS BIGINT) AS ct
                FROM f CROSS JOIN (SELECT unnest(range(1, 33)) AS p) ps
                GROUP BY p),
         pd AS (SELECT p, abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(ct - ca AS DOUBLE) / CAST(np - na AS DOUBLE))
                  AS d_perm FROM pe)
         SELECT n, conv_total, d_obs,
                CAST(count(*) AS BIGINT) AS n_perm,
                CAST(sum(CASE WHEN d_perm >= d_obs THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ge,
                CAST(CAST(sum(CASE WHEN d_perm >= d_obs THEN 1 ELSE 0 END)
                    AS BIGINT) + 1 AS DOUBLE)
                  / CAST(count(*) + 1 AS DOUBLE) AS p_value
         FROM pd CROSS JOIN od GROUP BY n, conv_total, d_obs""",

    "x_drawdown" ->
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS step,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
              FROM orders GROUP BY 1),
         pk AS (SELECT v, max(v) OVER (ORDER BY step ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM s),
         dd AS (SELECT v, peak, peak - v AS dd,
                CAST(CAST(peak - v AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(peak AS VARCHAR) AS DOUBLE) AS dd_pct
                FROM pk)
         SELECT CAST(count(*) AS BIGINT) AS n_steps,
                CAST(CAST(max(dd) AS VARCHAR) AS DOUBLE) AS max_dd,
                max(dd_pct) AS max_dd_pct
         FROM dd""",

    // RRF replayed: the x_bm25 oracle chain (depth 50) + the x_cos_topk
    // chain (probe 0, depth 50), full-outer fused
    "x_rrf_hybrid" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "idf")
      s"""WITH occ AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                       FROM documents),
          dl AS (SELECT doc, count(*) AS dl FROM occ GROUP BY doc),
          stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM dl),
          tf AS (SELECT doc, term, count(*) AS tf FROM occ
                 WHERE term IN ('join', 'merge', 'scan') GROUP BY doc, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          sc0 AS (SELECT doc, term, tf, df, dl, n_docs, avgdl,
                         1.0 + (n_docs - df + 0.5) / (df + 0.5) AS lnin
                  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc)
                       CROSS JOIN stats),
          pl1 AS (SELECT *, $l1 FROM sc0),
          pl2 AS (SELECT *, $l2 FROM pl1),
          pl3 AS (SELECT *, $l3 FROM pl2),
          sc AS (SELECT doc, term,
                        idf * (tf * (CAST('1.2' AS DOUBLE) + 1.0))
                            / (tf + CAST('1.2' AS DOUBLE)
                                 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
                 FROM pl3),
          pt AS (SELECT doc,
                        max(CASE WHEN term = 'join' THEN s END) AS s1,
                        max(CASE WHEN term = 'merge' THEN s END) AS s2,
                        max(CASE WHEN term = 'scan' THEN s END) AS s3
                 FROM sc GROUP BY doc),
          tot AS (SELECT doc AS doc_id,
                         coalesce(s1, 0.0) + coalesce(s2, 0.0)
                           + coalesce(s3, 0.0) AS score
                  FROM pt),
          bmr AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INTEGER) AS r_text
                  FROM tot ORDER BY score DESC, doc_id LIMIT 50),
          e AS (SELECT vec_id, list_transform(embedding,
                  x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          nr AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
          q AS (SELECT v AS qv, nrm AS qn FROM nr WHERE vec_id = 0),
          scored AS (SELECT nr.vec_id AS doc_id,
                     CASE WHEN qn * nrm <> 0
                          THEN list_dot_product(qv, v) / (qn * nrm) END AS cos
                     FROM nr CROSS JOIN q),
          csr AS (SELECT doc_id, CAST(rk AS INTEGER) AS r_vec FROM
                  (SELECT doc_id, row_number() OVER
                     (ORDER BY cos DESC, doc_id ASC) AS rk FROM scored) z
                  WHERE rk <= 50),
          f AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                       b.r_text, c.r_vec
                FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id)
          SELECT doc_id, r_text, r_vec,
                 COALESCE(1.0 / CAST(60 + r_text AS DOUBLE), 0.0)
                   + COALESCE(1.0 / CAST(60 + r_vec AS DOUBLE), 0.0) AS rrf
          FROM f ORDER BY rrf DESC, doc_id LIMIT 20"""
    },

    "x_anova" ->
      """WITH per AS (SELECT o_orderpriority AS g,
                CAST(count(*) AS BIGINT) AS ng,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sg,
                sum(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS qg
              FROM orders GROUP BY 1),
         pd AS (SELECT g, ng,
                CAST(CAST(sg AS VARCHAR) AS DOUBLE) AS sgd,
                CAST(CAST(qg AS VARCHAR) AS DOUBLE) AS qgd,
                sg, qg FROM per),
         fo AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(ng) AS BIGINT) AS n,
                CAST(CAST(sum(sg) AS VARCHAR) AS DOUBLE) AS s_all,
                CAST(CAST(sum(qg) AS VARCHAR) AS DOUBLE) AS q_all,
                list_sum(list((sgd * sgd) / CAST(ng AS DOUBLE)
                  ORDER BY g)) AS t_sum
                FROM pd),
         ss AS (SELECT k, n,
                t_sum - (s_all * s_all) / CAST(n AS DOUBLE) AS ssb,
                q_all - t_sum AS ssw FROM fo)
         SELECT k, n, ssb, ssw,
                (ssb / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n - k AS DOUBLE)) AS f_stat
         FROM ss""",

    "x_ttest" ->
      """WITH ag AS (SELECT
              CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS na,
              CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS nb,
              sum(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS sa,
              sum(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'O') AS sb,
              sum(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS qa,
              sum(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'O') AS qb
            FROM orders),
         m AS (SELECT na, nb,
              CAST(CAST(sa AS VARCHAR) AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
              CAST(CAST(sb AS VARCHAR) AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
              (CAST(CAST(qa AS VARCHAR) AS DOUBLE)
                 - (CAST(CAST(sa AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(sa AS VARCHAR) AS DOUBLE)) / CAST(na AS DOUBLE))
                / CAST(na - 1 AS DOUBLE) AS va,
              (CAST(CAST(qb AS VARCHAR) AS DOUBLE)
                 - (CAST(CAST(sb AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(sb AS VARCHAR) AS DOUBLE)) / CAST(nb AS DOUBLE))
                / CAST(nb - 1 AS DOUBLE) AS vb
            FROM ag),
         u AS (SELECT na, nb, mean_a, mean_b, va, vb,
              va / CAST(na AS DOUBLE) AS ua,
              vb / CAST(nb AS DOUBLE) AS ub FROM m)
         SELECT na, nb, mean_a, mean_b,
              (mean_a - mean_b) / sqrt(ua + ub) AS t_stat,
              ((ua + ub) * (ua + ub))
                / ((ua * ua) / CAST(na - 1 AS DOUBLE)
                   + (ub * ub) / CAST(nb - 1 AS DOUBLE)) AS df_welch,
              (mean_a - mean_b)
                / sqrt((CAST(na - 1 AS DOUBLE) * va
                        + CAST(nb - 1 AS DOUBLE) * vb)
                       / CAST(na + nb - 2 AS DOUBLE)) AS cohens_d
         FROM u""",

    "x_cramers_v" ->
      """WITH cells AS (SELECT CAST(o_orderpriority AS VARCHAR) AS r,
                CAST(o_orderstatus AS VARCHAR) AS c,
                CAST(count(*) AS BIGINT) AS o
              FROM orders GROUP BY 1, 2),
         rmarg AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt
              FROM cells GROUP BY r),
         cmarg AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct
              FROM cells GROUP BY c),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         tt AS (SELECT rmarg.r, cmarg.c, rt, ct, n,
                coalesce(o, 0) AS o
              FROM rmarg CROSS JOIN cmarg CROSS JOIN nn
              LEFT JOIN cells ON cells.r = rmarg.r AND cells.c = cmarg.c),
         ee AS (SELECT r, c, o, n,
                (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                  / CAST(n AS DOUBLE) AS e FROM tt),
         tm AS (SELECT r, c, n,
                (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term
              FROM ee),
         fo AS (SELECT CAST(max(n) AS BIGINT) AS n,
                CAST(count(DISTINCT r) AS BIGINT) AS rk,
                CAST(count(DISTINCT c) AS BIGINT) AS ck,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(term ORDER BY r, c)), (a, x) -> a + x) AS chi2
              FROM tm)
         SELECT n, rk, ck, chi2,
              sqrt(chi2 / (CAST(n AS DOUBLE)
                * CAST(least(rk, ck) - 1 AS DOUBLE))) AS cramers_v
         FROM fo""",

    "x_clustering_coef" ->
      """WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok,
                CAST(a.l_partkey AS BIGINT) AS pa,
                CAST(b.l_partkey AS BIGINT) AS pb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         ed AS (SELECT pa AS a, pb AS b FROM pr
              GROUP BY pa, pb HAVING count(*) >= 2),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT a AS id FROM ed UNION ALL SELECT b FROM ed)
              GROUP BY id),
         dir AS (SELECT
                CASE WHEN da.deg * 4294967296 + e.a < db.deg * 4294967296 + e.b
                     THEN e.a ELSE e.b END AS u,
                CASE WHEN da.deg * 4294967296 + e.a < db.deg * 4294967296 + e.b
                     THEN e.b ELSE e.a END AS v
              FROM ed e JOIN deg da ON da.id = e.a
                        JOIN deg db ON db.id = e.b),
         tri AS (SELECT w.u, w.x, w.y
              FROM (SELECT e1.u, e1.v AS x, e2.v AS y
                    FROM dir e1 JOIN dir e2 ON e1.u = e2.u AND e1.v < e2.v) w
              JOIN ed ON w.x = ed.a AND w.y = ed.b),
         credit AS (SELECT unnest([u, x, y]) AS id FROM tri),
         tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM credit
              GROUP BY id)
         SELECT deg.id, deg.deg, coalesce(tc.n_tri, 0) AS n_tri,
              CAST(2 * coalesce(tc.n_tri, 0) AS DOUBLE)
                / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS cc
         FROM deg LEFT JOIN tc USING (id) WHERE deg.deg >= 2""",

    "x_assortativity" ->
      """WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok,
                CAST(a.l_partkey AS BIGINT) AS pa,
                CAST(b.l_partkey AS BIGINT) AS pb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         ed AS (SELECT pa AS a, pb AS b FROM pr
              GROUP BY pa, pb HAVING count(*) >= 2),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT a AS id FROM ed UNION ALL SELECT b FROM ed)
              GROUP BY id),
         wk AS (SELECT da.deg AS da, db.deg AS db
              FROM ed e JOIN deg da ON da.id = e.a
                        JOIN deg db ON db.id = e.b),
         mo AS (SELECT CAST(count(*) AS BIGINT) AS m,
                sum(CAST(da AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)))
                  AS s1,
                sum(CAST(da + db AS DECIMAL(19,0))) AS s2,
                sum(CAST(da AS DECIMAL(19,0)) * CAST(da AS DECIMAL(19,0))
                    + CAST(db AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)))
                  AS s3
              FROM wk)
         SELECT m,
              (4.0 * CAST(m AS DOUBLE) * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(s2 AS VARCHAR) AS DOUBLE))
              / (2.0 * CAST(m AS DOUBLE) * CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)) AS assortativity
         FROM mo""",

    "x_link_predict" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok,
                CAST(a.l_partkey AS BIGINT) AS pa,
                CAST(b.l_partkey AS BIGINT) AS pb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         ed AS (SELECT pa AS a, pb AS b FROM pr
              GROUP BY pa, pb HAVING count(*) >= 2),
         adj AS (SELECT a AS w, b AS n FROM ed
              UNION ALL SELECT b, a FROM ed),
         deg AS (SELECT w AS id, CAST(count(*) AS BIGINT) AS deg FROM adj
              GROUP BY w),
         pv0 AS (SELECT id AS w, CAST(deg AS DOUBLE) AS lnin FROM deg
              WHERE deg >= 2),
         pv1 AS (SELECT *, $l1 FROM pv0),
         pv2 AS (SELECT *, $l2 FROM pv1),
         pv3 AS (SELECT w, 1.0 / lnx AS iv
              FROM (SELECT *, $l3 FROM pv2)),
         wg AS (SELECT a1.n AS x, a2.n AS y, a1.w, pv3.iv
              FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
              JOIN pv3 ON pv3.w = a1.w),
         cd AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
                CAST(sum(CAST(floor(iv * CAST('17179869184.0' AS DOUBLE))
                    AS BIGINT)) AS DOUBLE)
                  / CAST('17179869184.0' AS DOUBLE) AS adamic_adar
              FROM wg GROUP BY x, y HAVING count(*) >= 2),
         ne AS (SELECT cd.* FROM cd LEFT JOIN ed
              ON cd.x = ed.a AND cd.y = ed.b WHERE ed.a IS NULL)
         SELECT x, y, cn, dx.deg AS dx, dy.deg AS dy,
              CAST(cn AS DOUBLE) / CAST(dx.deg + dy.deg - cn AS DOUBLE)
                AS jaccard,
              adamic_adar
         FROM ne JOIN deg dx ON dx.id = ne.x
                 JOIN deg dy ON dy.id = ne.y"""
    },

    "x_mutual_info" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH cells AS (SELECT CAST(lang AS VARCHAR) AS x,
                CAST(source AS VARCHAR) AS y,
                CAST(count(*) AS BIGINT) AS c
              FROM documents GROUP BY 1, 2),
         xm AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells
              GROUP BY x),
         ym AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells
              GROUP BY y),
         nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         j AS (SELECT x, y, c, n, c * n AS num, cx * cy AS den
              FROM cells JOIN xm USING (x) JOIN ym USING (y)
              CROSS JOIN nn),
         b AS (SELECT *, CASE WHEN num >= den
                  THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  ELSE CAST(den AS DOUBLE) / CAST(num AS DOUBLE) END AS lnin
              FROM j),
         p1 AS (SELECT *, $l1 FROM b),
         p2 AS (SELECT *, $l2 FROM p1),
         p3 AS (SELECT *, $l3 FROM p2),
         ct AS (SELECT x, y, c,
                (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CASE WHEN num >= den THEN lnx ELSE -lnx END)
                  AS mi_contrib FROM p3),
         fo AS (SELECT list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(mi_contrib ORDER BY x, y)), (a, v) -> a + v)
                  AS mi_total FROM ct)
         SELECT x, y, c, mi_contrib, mi_total FROM ct CROSS JOIN fo"""
    },

    "x_js_drift" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH f AS (SELECT CAST(o_orderpriority AS VARCHAR) AS k,
                CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
                     THEN 1 ELSE 0 END AS a,
                CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                     THEN 1 ELSE 0 END AS b
              FROM orders),
         cells AS (SELECT k, CAST(sum(a) AS BIGINT) AS ca,
                CAST(sum(b) AS BIGINT) AS cb FROM f GROUP BY k),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS na,
                CAST(sum(b) AS BIGINT) AS nb FROM f),
         st AS (SELECT 'p' AS s, k,
                CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS w,
                2 * ca * nb AS num, ca * nb + cb * na AS den
              FROM cells CROSS JOIN t WHERE ca > 0
              UNION ALL
              SELECT 'q' AS s, k,
                CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS w,
                2 * cb * na AS num, ca * nb + cb * na AS den
              FROM cells CROSS JOIN t WHERE cb > 0),
         b2 AS (SELECT *, CASE WHEN num >= den
                  THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  ELSE CAST(den AS DOUBLE) / CAST(num AS DOUBLE) END AS lnin
              FROM st),
         p1 AS (SELECT *, $l1 FROM b2),
         p2 AS (SELECT *, $l2 FROM p1),
         p3 AS (SELECT *, $l3 FROM p2),
         fo AS (SELECT CAST(count(*) AS BIGINT) AS legs,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(w * (CASE WHEN num >= den THEN lnx ELSE -lnx END)
                    ORDER BY s, k)), (acc, v) -> acc + v) AS t_sum
              FROM p3)
         SELECT na, nb, legs, 0.5 * t_sum AS js_nats
         FROM fo CROSS JOIN t"""
    },

    "x_mannwhitney" ->
      """WITH f AS (SELECT o_totalprice AS v,
                CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ya
              FROM orders WHERE o_orderstatus IN ('F', 'O')),
         g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(ya) AS BIGINT) AS ca FROM f GROUP BY v),
         s AS (SELECT cnt, ca,
                CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl FROM g),
         fo AS (SELECT
                CAST(sum(ca * (2 * (cum_incl - cnt) + cnt + 1)) AS BIGINT)
                  AS r2a,
                sum(CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
                    * CAST(cnt AS DECIMAL(12,0))
                    - CAST(cnt AS DECIMAL(12,0))) AS sum_t FROM s),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                CAST(count(*) - sum(ya) AS BIGINT) AS nb FROM f),
         u AS (SELECT na, nb,
                CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_stat,
                CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0 AS mu,
                (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
                  * ((CAST(na + nb AS DOUBLE) + 1.0)
                     - CAST(CAST(sum_t AS VARCHAR) AS DOUBLE)
                       / (CAST(na + nb AS DOUBLE)
                          * (CAST(na + nb AS DOUBLE) - 1.0))) AS sig2
              FROM fo CROSS JOIN t)
         SELECT na, nb, u_stat, (u_stat - mu) / sqrt(sig2) AS z_stat
         FROM u""",

    "x_kruskal" ->
      """WITH base AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                o_totalprice AS v FROM orders),
         perv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
              FROM base GROUP BY v),
         sp AS (SELECT v, cnt,
                CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl
              FROM perv),
         spm AS (SELECT v,
                CAST(2 * (cum_incl - cnt) + cnt + 1 AS BIGINT) AS m2,
                CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
                  * CAST(cnt AS DECIMAL(12,0))
                  - CAST(cnt AS DECIMAL(12,0)) AS tt FROM sp),
         ties AS (SELECT sum(tt) AS sum_t FROM spm),
         perg AS (SELECT g, CAST(sum(cgv * m2) AS BIGINT) AS r2g,
                CAST(sum(cgv) AS BIGINT) AS ng
              FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS cgv
                    FROM base GROUP BY g, v) gv
              JOIN spm USING (v) GROUP BY g),
         fo AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(ng) AS BIGINT) AS n,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(((CAST(r2g AS DOUBLE) / 2.0)
                        * (CAST(r2g AS DOUBLE) / 2.0))
                       / CAST(ng AS DOUBLE) ORDER BY g)),
                  (a, x) -> a + x) AS t_sum
              FROM perg)
         SELECT k, n,
                (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                   * t_sum - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                / (1.0 - CAST(CAST(sum_t AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h_stat
         FROM fo CROSS JOIN ties""",

    "x_spearman" ->
      """WITH base AS (SELECT l_quantity AS x, l_extendedprice AS y
              FROM lineitem),
         sx AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM base
              GROUP BY x),
         mx AS (SELECT x, CAST(2 * (cum - cnt) + cnt + 1
                  AS DECIMAL(19,0)) AS m2_x
              FROM (SELECT x, cnt,
                    CAST(sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM sx)),
         sy AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM base
              GROUP BY y),
         my AS (SELECT y, CAST(2 * (cum - cnt) + cnt + 1
                  AS DECIMAL(19,0)) AS m2_y
              FROM (SELECT y, cnt,
                    CAST(sum(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM sy)),
         r AS (SELECT m2_x, m2_y FROM base JOIN mx USING (x)
               JOIN my USING (y)),
         mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(m2_x) AS sxs, sum(m2_y) AS sys,
                sum(m2_x * m2_x) AS sxx, sum(m2_y * m2_y) AS syy,
                sum(m2_x * m2_y) AS sxy FROM r)
         SELECT n,
                (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(sxs AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(sys AS VARCHAR) AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE)
                        * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(sxs AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(sxs AS VARCHAR) AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE)
                          * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(sys AS VARCHAR) AS DOUBLE)
                            * CAST(CAST(sys AS VARCHAR) AS DOUBLE)))
                  AS rho
         FROM mo""",

    "x_benford" -> {
      val cases = (1 to 9).map { d =>
        s"WHEN digit = $d THEN CAST('${Stats.benfordExpected(d - 1).toString}' AS DOUBLE)"
      }.mkString(" ")
      s"""WITH f AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                  AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
          per AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM f
                  WHERE digit >= 1 GROUP BY digit),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM per)
          SELECT digit, n,
                 CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_frac,
                 CASE $cases ELSE 0.0 END AS exp_frac,
                 (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
                   - (CASE $cases ELSE 0.0 END) AS dev
          FROM per CROSS JOIN t"""
    }
  )
}
