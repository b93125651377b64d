package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Pmath, Text}
import graft.operators.{LangModel, Ranking, Stats}

/** Round-6 wave: the evaluation layer over the engine's own rankings
  * and classifiers — offline IR metrics (NDCG@10, MRR/P/R@10) of a
  * term-frequency ranking against the language label, a trained
  * multinomial Naive Bayes filter scored on a held-out slice, the
  * Brown–Forsythe spread test, and the Zipf-law corpus diagnostic.
  *
  * Oracle discipline: position discounts and reciprocal ranks are
  * driver-precomputed literal doubles shared with the SQL replay
  * ([[graft.operators.Ranking.discountCaseSql]]); every ln is the
  * portable series over integer args; per-doc/per-query double sums
  * fold in explicit rank order; OLS moments are fixed-point integers.
  */
object Ext6 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The four graded query terms for the IR-metric pair (all frequent
    * in the synthetic corpus; relevance = the doc's language label). */
  private val irTerms = Seq("join", "merge", "scan", "filter")

  /** tf-ranked candidates per query term with the binary en-label gain
    * — shared by x_ndcg and x_mrr. */
  private def irCands(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("term"))
      .filter(col("term").isin(irTerms: _*))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        max(when(col("lang") === "en", 1L).otherwise(0L)).as("gain"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NDCG@10 of the per-term tf ranking against the en label: does
    // ranking by raw term frequency surface English documents first?
    // Per-term WindowGroupLimit top-k, rank-ordered literal-discount
    // folds; the ideal ordering re-ranks the same candidate set
    "x_ndcg" -> ((s, d) =>
      Ranking.ndcgAtK(irCands(s, d), "term", "doc_id", "tf", "gain",
        k = 10)),

    // MRR + precision/recall@10 of the same ranking: first relevant
    // position (literal reciprocal), top-10 hit count vs the term's
    // full relevant set
    "x_mrr" -> ((s, d) =>
      Ranking.mrrAtK(
        irCands(s, d).withColumn("rel", col("gain") === 1L),
        "term", "doc_id", "tf", "rel", k = 10)),

    // Multinomial NB en-vs-rest filter: trained on doc_id%10<8,
    // scored on the held-out 20% — portable-ln likelihoods, position-
    // ordered fold, O(vocab) model, no driver loop
    "x_naive_bayes" -> ((s, d) =>
      LangModel.naiveBayesMargin(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", pmod(col("doc_id"), lit(10)) < 8)),

    // Brown–Forsythe spread test: does quantity dispersion differ by
    // return flag? |x − group median| in exact half-cent integers
    // through the ANOVA F identity
    "x_levene" -> ((s, d) =>
      Stats.brownForsythe(t(s, d, "lineitem"), "l_returnflag",
        col("l_quantity"))),

    // Zipf-law fit of the term-frequency distribution: OLS of
    // portable-ln(freq) on portable-ln(rank) over the top 200 terms in
    // 2^-20 fixed point — the "does this corpus look like language"
    // readout
    "x_zipf_fit" -> ((s, d) =>
      LangModel.zipfSlope(t(s, d, "documents"), "doc_id", "text",
        topN = 200)),

    // ε-DP noisy count release of the event-type histogram: Laplace
    // mechanism with a deterministic md5-seeded draw through the
    // portable-ln inverse CDF — replayable across engines by design
    "x_dp_release" -> ((s, d) =>
      graft.operators.Privacy.dpNoisyCounts(t(s, d, "events"),
        "event_type", epsilon = 1.0, salt = "r6")),

    // Dunning G² bigram collocations: 2×2 contingency per adjacent
    // pair, all four cell terms through integer-arg portable lns,
    // top-20 by likelihood ratio
    "x_collocations" -> ((s, d) =>
      LangModel.collocationsG2(t(s, d, "documents"), "doc_id", "text",
        minCount = 5L, k = 20)),

    // DeepWalk corpus generation: one deterministic 4-step uniform
    // walk per node of the supplier-part graph — md5-mod-degree
    // transitions, cached indexed adjacency, per-step hash joins
    "x_random_walks" -> ((s, d) =>
      graft.operators.Graphs.randomWalks(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", steps = 4)),

    // RAKE keyphrases: maximal stopword-free runs scored by summed
    // word deg/freq, phrase folds in word order, global top-20
    "x_rake_keywords" -> ((s, d) =>
      graft.operators.Keywords.rakeKeywords(t(s, d, "documents"),
        "doc_id", "text", stopwords = Seq("a", "the"), maxWords = 3,
        k = 20)),

    // Count-Min sketch probed at the true top-20 terms: 4×256
    // md5-bucketed cell matrix, min-over-rows estimates, exact
    // overcount audit (CMS guarantees overcount >= 0).
    // Skew.spread before the tokenize: the ×depth explode + md5 bucket
    // chain costs ~4 md5/token over every token occurrence, and on the
    // single-row-group documents fixture the whole pass sat in ONE scan
    // task (JobProbe r16: one 1.4 s job dominated the query). Counts,
    // min-over-rows and the (true_n desc, t asc) top-k total order are
    // all partitioning-invariant.
    "x_count_min" -> ((s, d) =>
      graft.operators.Sketches.countMinEstimates(
        graft.operators.Skew.spread(t(s, d, "documents"))
          .select(explode(Text.tokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 256, topK = 20)),

    // Shannon diversity of the language mix per source — the corpus
    // balance monitor; both lns portable over integer counts
    "x_diversity" -> ((s, d) =>
      Stats.shannonDiversity(t(s, d, "documents"), "source", "lang")),

    // Confusion matrix of the heuristic language-ID against the label:
    // per-cell counts with recall (row) and precision (column) shares
    "x_confusion_matrix" -> ((s, d) =>
      Ranking.confusionMatrix(t(s, d, "documents"), col("lang"),
        Text.langId(col("text")))),

    // 5-fold cross-validated OLS (price ~ quantity): leave-one-fold-out
    // coefficients by moment subtraction (one aggregate fits all
    // folds), fixed-point MAE — the generalization readout
    "x_crossval" -> ((s, d) =>
      Stats.cvOls(t(s, d, "lineitem"),
        col("l_orderkey") * lit(7L) + col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), k = 5)),

    // Wald SPRT over the purchase-conversion stream: per md5-half
    // variant the hourly cumulative LLR walks between literal decision
    // boundaries; first decisive hour reported
    "x_sprt" -> ((s, d) =>
      graft.operators.EventOps.sprt(t(s, d, "events"), "user_id", "ts",
        "event_type", successType = "purchase",
        trialTypes = Seq("click", "purchase"),
        p0 = 0.10, p1 = 0.15, alpha = 0.05, beta = 0.05)),

    // Green-list watermark detector: per-doc bigram green counts vs
    // the binomial(n, 1/2) null, z = (2g-n)/sqrt(n) via exact-rounded
    // IEEE sqrt — the synthetic-text gate
    "x_watermark" -> ((s, d) =>
      LangModel.watermarkDetect(t(s, d, "documents"), "doc_id", "text",
        zThreshold = 4.0)),

    // Hill tail-index of the event-value distribution: top-201 order
    // statistics via TakeOrdered, portable-ln ratio fold, alpha = 1/H
    "x_hill_tail" -> ((s, d) =>
      Stats.hillTail(t(s, d, "events"), col("value"), k = 200)),

    // Linear multi-touch attribution: each purchase splits one unit of
    // credit equally (integer fixed-point shares) across the user's
    // clicks in the 7-day horizon — the fair-share ledger next to
    // x_attribution's last-touch
    "x_multi_touch" -> ((s, d) =>
      graft.operators.EventOps.multiTouchLinear(t(s, d, "events"),
        "user_id", "ts", "event_id", "event_type",
        sourceType = "click", targetType = "purchase",
        horizonSec = 7L * 86400)),

    // Cohort LTV curve: purchase cents by (first-event epoch week,
    // age in weeks), running cumulative divided by cohort size
    "x_ltv_curve" -> ((s, d) =>
      graft.operators.EventOps.ltvCurve(t(s, d, "events"), "user_id",
        "ts", "event_type", revenueType = "purchase", col("value"))),

    // Dirichlet query-likelihood top-20 (the LM retrieval model next
    // to BM25): every doc scores, ratio lns integerized by the corpus
    // token count, one aggregate + one broadcast + TakeOrdered
    "x_dirichlet_lm" -> ((s, d) =>
      graft.operators.Retrieval.dirichletTopK(t(s, d, "documents"),
        "doc_id", "text", Seq("join", "merge", "scan"),
        mu = 2000L, k = 20)),

    // Curriculum ordering: global training sequence by (length bucket,
    // md5 shuffle) through the distributed rank — easy docs first,
    // stable across reruns and partitionings
    "x_curriculum" -> ((s, d) => {
      val nTok = size(Text.tokens(col("text")))
      graft.operators.Sampling.curriculumOrder(t(s, d, "documents"),
        "doc_id",
        when(nTok < 110, 0).when(nTok < 130, 1).otherwise(2))
    }),

    // Interpolated Kneser-Ney bigram scoring — the benchmark n-gram
    // smoothing (type-based continuation probabilities, d = 0.75
    // dyadic discount) upgrading x_lm_score's add-one model
    "x_kn_score" -> ((s, d) =>
      LangModel.knScore(t(s, d, "documents"), "doc_id", "text")),

    // Seasonal anomaly flags: each hourly total vs its hour-of-day
    // phase median, scaled by the phase MAD — the 3.5x threshold
    // clears to the integer test 4r > 7*mad2, so no float exists
    "x_seasonal_anomaly" -> ((s, d) =>
      Stats.seasonalAnomaly(t(s, d, "events"), "event_type", col("ts"),
        col("value"))),

    // Referential-integrity audit of orders.o_custkey -> customer:
    // orphans, unreferenced parents, null FKs, fanout — per-key
    // collapse first, one key-level full outer join, one-row report
    "x_fk_audit" -> ((s, d) =>
      graft.sources.Warehouse.fkAudit(t(s, d, "orders"), "o_custkey",
        t(s, d, "customer"), "c_custkey")),

    // MMR diversified re-ranking of the exact-cosine shortlist:
    // lambda=0.7, 5 greedy picks from 10 candidates per query —
    // bounded unrolled rounds, total-order argmax each round
    "x_mmr_diversify" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.Similarity.mmrDiversify(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        "vec_id", "embedding", shortlist = 10, k = 5, lambda = 0.7)
    }),
  )

  private val termList = irTerms.map(x => s"'$x'").mkString(", ")

  /** Candidate + ranking CTEs shared by the two IR-metric oracles. */
  private val irBase =
    s"""tok AS (SELECT doc_id, lang,
                      unnest(string_split(text, ' ')) AS term
               FROM documents),
       c AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
                    max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS gain
             FROM tok WHERE term IN ($termList) GROUP BY term, doc_id),
       r AS (SELECT *,
               row_number() OVER
                 (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn,
               row_number() OVER
                 (PARTITION BY term
                  ORDER BY gain DESC, tf DESC, doc_id) AS rn_i
             FROM c)"""

  val oracle: Map[String, String] = Map(

    "x_ndcg" -> {
      val disc = Ranking.discountCaseSql("rn", 10)
      val discI = Ranking.discountCaseSql("rn_i", 10)
      s"""WITH $irBase,
         tot AS (SELECT term, CAST(count(*) AS BIGINT) AS n_cand,
                        CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_gain
                 FROM c GROUP BY term),
         dv AS (SELECT term,
                  list_sum(list(CAST(gain AS DOUBLE) * ($disc)
                    ORDER BY rn)) AS dcg
                FROM r WHERE rn <= 10 GROUP BY term),
         iv AS (SELECT term,
                  list_sum(list(CAST(gain AS DOUBLE) * ($discI)
                    ORDER BY rn_i)) AS idcg
                FROM r WHERE rn_i <= 10 GROUP BY term)
         SELECT t.term AS query, t.n_cand, t.n_gain,
                coalesce(dv.dcg, 0.0) AS dcg,
                coalesce(iv.idcg, 0.0) AS idcg,
                coalesce(dv.dcg, 0.0) / nullif(coalesce(iv.idcg, 0.0), 0.0)
                  AS ndcg
         FROM tot t LEFT JOIN dv ON t.term = dv.term
                    LEFT JOIN iv ON t.term = iv.term"""
    },

    "x_mrr" -> {
      val rr = Ranking.reciprocalCaseSql("first_pos", 10)
      s"""WITH $irBase,
         tot AS (SELECT term,
                   CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rel
                 FROM c GROUP BY term),
         tk AS (SELECT term,
                  CAST(min(CASE WHEN gain = 1 THEN rn END) AS INTEGER)
                    AS first_pos,
                  CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits
                FROM r WHERE rn <= 10 GROUP BY term)
         SELECT t.term AS query, t.n_rel, tk.first_pos,
                ($rr) AS rr,
                CAST(coalesce(tk.hits, 0) AS DOUBLE)
                  / CAST('10.0' AS DOUBLE) AS p_at_k,
                CAST(coalesce(tk.hits, 0) AS DOUBLE)
                  / CAST(nullif(t.n_rel, 0) AS DOUBLE) AS r_at_k
         FROM tot t LEFT JOIN tk ON t.term = tk.term"""
    },

    "x_naive_bayes" -> {
      val (p1, p2, p3) = Pmath.lnSqlCtes("lnin", "lxp")
      val (q1, q2, q3) = Pmath.lnSqlCtes("lnin", "lxn")
      val (r1, r2, r3) = Pmath.lnSqlCtes("lnin", "lnp")
      val (r4, r5, r6) = Pmath.lnSqlCtes("lnin", "lnn")
      val (e1, e2, e3) = Pmath.lnSqlCtes("lnin", "ldn")
      val (e4, e5, e6) = Pmath.lnSqlCtes("lnin", "ldp")
      s"""WITH w AS (SELECT doc_id, lang = 'en' AS y,
                            doc_id % 10 < 8 AS tr,
                            string_split(text, ' ') AS ws FROM documents),
         tk AS (SELECT doc_id, y, tr, i AS pos, ws[i] AS t
                FROM (SELECT doc_id, y, tr, ws,
                             unnest(range(1, len(ws) + 1)) AS i FROM w)),
         model AS (SELECT t,
                     CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                     CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cn
                   FROM tk WHERE tr GROUP BY t),
         ms AS (SELECT CAST(sum(cp) AS BIGINT) AS tp,
                       CAST(sum(cn) AS BIGINT) AS tn,
                       CAST(count(*) AS BIGINT) AS v FROM model),
         ds AS (SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
                       CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS nn
                FROM w WHERE tr),
         pr0 AS (SELECT np, nn, CAST(np AS DOUBLE) AS lnin FROM ds),
         pr1 AS (SELECT *, $r1 FROM pr0),
         pr2 AS (SELECT *, $r2 FROM pr1),
         pr3 AS (SELECT nn, lnp FROM (SELECT *, $r3 FROM pr2)),
         pn0 AS (SELECT lnp, CAST(nn AS DOUBLE) AS lnin FROM pr3),
         pn1 AS (SELECT *, $r4 FROM pn0),
         pn2 AS (SELECT *, $r5 FROM pn1),
         pn3 AS (SELECT lnp, lnn FROM (SELECT *, $r6 FROM pn2)),
         de0 AS (SELECT tp, v, CAST(tn + v AS DOUBLE) AS lnin FROM ms),
         de1 AS (SELECT *, $e1 FROM de0),
         de2 AS (SELECT *, $e2 FROM de1),
         de3 AS (SELECT tp, v, ldn FROM (SELECT *, $e3 FROM de2)),
         dp0 AS (SELECT ldn, CAST(tp + v AS DOUBLE) AS lnin FROM de3),
         dp1 AS (SELECT *, $e4 FROM dp0),
         dp2 AS (SELECT *, $e5 FROM dp1),
         dp3 AS (SELECT ldn, ldp FROM (SELECT *, $e6 FROM dp2)),
         consts AS (SELECT lnp - lnn AS ln_prior, ldn - ldp AS ln_den
                    FROM pn3 CROSS JOIN dp3),
         s0 AS (SELECT tk.doc_id, tk.y, tk.pos,
                       coalesce(model.cp, 0) AS cp,
                       coalesce(model.cn, 0) AS cn
                FROM tk LEFT JOIN model ON tk.t = model.t
                WHERE NOT tk.tr),
         a0 AS (SELECT doc_id, y, pos, cn,
                       CAST(cp + 1 AS DOUBLE) AS lnin FROM s0),
         a1 AS (SELECT *, $p1 FROM a0),
         a2 AS (SELECT *, $p2 FROM a1),
         a3 AS (SELECT doc_id, y, pos, cn, lxp
                FROM (SELECT *, $p3 FROM a2)),
         b0 AS (SELECT doc_id, y, pos, lxp,
                       CAST(cn + 1 AS DOUBLE) AS lnin FROM a3),
         b1 AS (SELECT *, $q1 FROM b0),
         b2 AS (SELECT *, $q2 FROM b1),
         b3 AS (SELECT doc_id, y, pos, lxp, lxn
                FROM (SELECT *, $q3 FROM b2)),
         per AS (SELECT doc_id, y,
                        list(lxp - lxn ORDER BY pos) AS ls
                 FROM b3 GROUP BY doc_id, y)
         SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_tokens,
                (ln_prior + list_sum(ls))
                  + CAST(len(ls) AS DOUBLE) * ln_den AS margin,
                y AS actual,
                ((ln_prior + list_sum(ls))
                  + CAST(len(ls) AS DOUBLE) * ln_den) > 0 AS pred,
                (((ln_prior + list_sum(ls))
                  + CAST(len(ls) AS DOUBLE) * ln_den) > 0) = y AS correct
         FROM per CROSS JOIN consts"""
    },

    "x_levene" ->
      """WITH cents AS (SELECT l_returnflag AS g,
                          CAST(floor(l_quantity * 100.0) AS BIGINT) AS c
                        FROM lineitem),
         hist AS (SELECT g, c, CAST(count(*) AS BIGINT) AS cnt
                  FROM cents GROUP BY g, c),
         cum AS (SELECT g, c, cnt,
                   sum(cnt) OVER (PARTITION BY g ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum,
                   sum(cnt) OVER (PARTITION BY g) AS n
                 FROM hist),
         med AS (SELECT g,
                   min(CASE WHEN cum * 2 >= n + (n % 2) THEN c END) AS lo,
                   min(CASE WHEN cum * 2 >= n + 2 - (n % 2) THEN c END)
                     AS hi
                 FROM cum GROUP BY g),
         z AS (SELECT cents.g AS g,
                      abs(cents.c * 2 - (med.lo + med.hi)) AS z
               FROM cents JOIN med ON cents.g = med.g),
         per AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
                   sum(CAST(z AS DECIMAL(18,2))) AS sg,
                   sum(CAST(z AS DECIMAL(18,2)) * CAST(z AS DECIMAL(18,2)))
                     AS qg
                 FROM z GROUP BY g),
         pd AS (SELECT g, ng,
                  CAST(CAST(sg AS VARCHAR) AS DOUBLE) AS sgd,
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

    "x_zipf_fit" -> {
      val (x1, x2, x3) = Pmath.lnSqlCtes("lnin", "lnr")
      val (y1, y2, y3) = Pmath.lnSqlCtes("lnin", "lnf")
      s"""WITH tf AS (SELECT t, CAST(count(*) AS BIGINT) AS freq
                      FROM (SELECT unnest(string_split(text, ' ')) AS t
                            FROM documents)
                      WHERE t <> '' GROUP BY t
                      ORDER BY freq DESC, t LIMIT 200),
         r AS (SELECT freq,
                 row_number() OVER (ORDER BY freq DESC, t) AS rank
               FROM tf),
         g0 AS (SELECT freq, CAST(rank AS DOUBLE) AS lnin FROM r),
         g1 AS (SELECT *, $x1 FROM g0),
         g2 AS (SELECT *, $x2 FROM g1),
         g3 AS (SELECT freq, lnr FROM (SELECT *, $x3 FROM g2)),
         h0 AS (SELECT lnr, CAST(freq AS DOUBLE) AS lnin FROM g3),
         h1 AS (SELECT *, $y1 FROM h0),
         h2 AS (SELECT *, $y2 FROM h1),
         h3 AS (SELECT lnr, lnf FROM (SELECT *, $y3 FROM h2)),
         fx AS (SELECT
                  CAST(floor(lnr * CAST('1048576.0' AS DOUBLE)) AS HUGEINT)
                    AS xi,
                  CAST(floor(lnf * CAST('1048576.0' AS DOUBLE)) AS HUGEINT)
                    AS yi
                FROM h3),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                  sum(xi) AS sx, sum(yi) AS sy,
                  sum(xi * yi) AS sxy, sum(xi * xi) AS sxx
                FROM fx),
         sl AS (SELECT n_terms, sx, sy,
                  CAST(CAST(CAST(n_terms AS HUGEINT) * sxy - sx * sy
                    AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(CAST(n_terms AS HUGEINT) * sxx - sx * sx
                    AS VARCHAR) AS DOUBLE) AS slope
                FROM ag)
         SELECT n_terms, slope,
                (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                  - slope * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                / (CAST(CAST(n_terms AS VARCHAR) AS DOUBLE)
                   * CAST('1048576.0' AS DOUBLE)) AS intercept
         FROM sl"""
    },

    "x_dp_release" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("pv", "dp",
        Seq("65536" -> "l64k", "m" -> "lm"),
        carry = Seq("k", "n", "sgn", "m"))
      s"""WITH counts AS (SELECT CAST(event_type AS VARCHAR) AS k,
                            CAST(count(*) AS BIGINT) AS n
                          FROM events GROUP BY 1),
          par AS (SELECT k, n,
                    ('0x' || substr(md5(k || '|r6'), 1, 4))::BIGINT AS h
                  FROM counts),
          pv AS (SELECT k, n,
                   65536 - abs(h * 2 + 1 - 65536) AS m,
                   CASE WHEN h * 2 + 1 > 65536
                        THEN CAST('1.0' AS DOUBLE)
                        ELSE CAST('-1.0' AS DOUBLE) END AS sgn
                 FROM par),
          $chains
          SELECT k AS event_type, n,
                 (CAST('1.0' AS DOUBLE) * sgn) * (l64k - lm) AS noise,
                 CAST(n AS DOUBLE)
                   + (CAST('1.0' AS DOUBLE) * sgn) * (l64k - lm) AS release
          FROM $last"""
    },

    "x_collocations" -> {
      val specs = Seq(
        "greatest(o, 1)" -> "lo", "greatest(o12, 1)" -> "lo12",
        "greatest(o21, 1)" -> "lo21", "greatest(o22, 1)" -> "lo22",
        "greatest(r1, 1)" -> "lr1", "greatest(nn - r1, 1)" -> "lr2",
        "greatest(c1, 1)" -> "lc1", "greatest(nn - c1, 1)" -> "lc2",
        "greatest(nn, 1)" -> "lnn")
      val (chains, last) = Pmath.lnSqlChainCtes("base", "g2", specs,
        carry = Seq("w1", "w2", "o", "o12", "o21", "o22", "r1", "c1", "nn"))
      def term(o: String, lo: String, lr: String, lc: String) =
        s"CASE WHEN $o > 0 THEN CAST($o AS DOUBLE) * (($lo + lnn) - ($lr + $lc)) ELSE 0.0 END"
      s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                 FROM (SELECT ws, unnest(range(1, len(ws))) AS i
                       FROM w WHERE len(ws) >= 2)),
          pair AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS o
                   FROM bg GROUP BY w1, w2),
          lft AS (SELECT w1, CAST(count(*) AS BIGINT) AS r1
                  FROM bg GROUP BY w1),
          rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS c1
                  FROM bg GROUP BY w2),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg),
          base AS (SELECT p.w1, p.w2, o, r1 - o AS o12, c1 - o AS o21,
                          tot.nn - r1 - c1 + o AS o22, r1, c1, tot.nn AS nn
                   FROM pair p JOIN lft USING (w1) JOIN rgt USING (w2)
                   CROSS JOIN tot
                   WHERE o >= 5),
          $chains
          SELECT w1, w2, o AS n_occ,
                 CAST('2.0' AS DOUBLE) *
                   (((${term("o", "lo", "lr1", "lc1")}
                      + ${term("o12", "lo12", "lr1", "lc2")})
                     + ${term("o21", "lo21", "lr2", "lc1")})
                    + ${term("o22", "lo22", "lr2", "lc2")}) AS g2
          FROM $last
          ORDER BY g2 DESC, w1, w2 LIMIT 20"""
    },

    "x_random_walks" -> {
      val steps = (1 to 4).map { i =>
        val prev = if (i == 1) "start" else s"s${i - 1}"
        val prevCte = s"w${i - 1}"
        val cols = "start" +: (1 until i).map(j => s"s$j")
        val colList = cols.map(c => s"$prevCte.$c").mkString(", ")
        s"""w$i AS (SELECT $colList, a.dst AS s$i
               FROM $prevCte
               JOIN deg d ON $prevCte.$prev = d.src
               JOIN adj a ON a.src = $prevCte.$prev
                AND a.idx = ('0x' || substr(md5($prevCte.start || '|$i|'
                      || $prevCte.$prev), 1, 8))::BIGINT % d.deg)"""
      }.mkString(",\n          ")
      s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
                             'p' || l_partkey AS dst FROM lineitem),
          sym AS (SELECT src, dst FROM e0
                  UNION SELECT dst AS src, src AS dst FROM e0),
          adj AS (SELECT src, dst,
                    row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                      AS idx
                  FROM sym),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM sym GROUP BY src),
          w0 AS (SELECT src AS start FROM deg),
          $steps
          SELECT start, s1, s2, s3, s4 FROM w4"""
    },

    "x_rake_keywords" ->
      """WITH tk AS (SELECT doc, pos, t FROM
                      (SELECT doc_id AS doc, i AS pos, ws[i] AS t
                       FROM (SELECT doc_id, ws,
                                    unnest(range(1, len(ws) + 1)) AS i
                             FROM (SELECT doc_id,
                                     string_split(text, ' ') AS ws
                                   FROM documents)))
                    WHERE t <> ''),
         runs AS (SELECT doc, pos, t,
                    pos - row_number() OVER
                      (PARTITION BY doc ORDER BY pos) AS grp
                  FROM tk WHERE t NOT IN ('a', 'the')),
         ph AS (SELECT doc, grp, list(t ORDER BY pos) AS ws
                FROM runs GROUP BY doc, grp),
         ph2 AS (SELECT doc, grp, ws, len(ws) AS len
                 FROM ph WHERE len(ws) <= 3),
         occ AS (SELECT doc, grp, len, i AS wi, ws[i] AS w
                 FROM (SELECT doc, grp, len, ws,
                              unnest(range(1, len(ws) + 1)) AS i
                       FROM ph2)),
         wstats AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
                           CAST(sum(len) AS BIGINT) AS deg
                    FROM occ GROUP BY w),
         sc AS (SELECT doc, grp,
                  list_sum(list(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
                    ORDER BY wi)) AS score
                FROM occ JOIN wstats USING (w) GROUP BY doc, grp),
         par AS (SELECT array_to_string(ws, ' ') AS phrase, score
                 FROM ph2 JOIN sc USING (doc, grp))
         SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
                max(score) AS score
         FROM par GROUP BY phrase ORDER BY score DESC, phrase LIMIT 20""",

    "x_count_min" ->
      """WITH t2 AS (SELECT t FROM
                      (SELECT unnest(string_split(text, ' ')) AS t
                       FROM documents) WHERE t <> ''),
         withb AS (SELECT t, j,
                     ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || t),
                       1, 4))::BIGINT % 256 AS b
                   FROM t2 CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         cells AS (SELECT j, b, CAST(count(*) AS BIGINT) AS cell
                   FROM withb GROUP BY j, b),
         truth AS (SELECT t, CAST(count(*) AS BIGINT) AS true_n
                   FROM t2 GROUP BY t ORDER BY true_n DESC, t LIMIT 20),
         probes AS (SELECT t, true_n, j,
                      ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || t),
                        1, 4))::BIGINT % 256 AS b
                    FROM truth
                    CROSS JOIN (SELECT unnest(range(0, 4)) AS j))
         SELECT p.t AS term, p.true_n, min(c.cell) AS est_n,
                min(c.cell) - p.true_n AS overcount
         FROM probes p JOIN cells c ON p.j = c.j AND p.b = c.b
         GROUP BY p.t, p.true_n""",

    "x_diversity" -> {
      val (ch1, l1) = Pmath.lnSqlChainCtes("cnt", "dv",
        Seq("ni" -> "lni"), carry = Seq("g", "c", "ni"))
      val (ch2, l2) = Pmath.lnSqlChainCtes("per", "dn",
        Seq("n" -> "lnn"), carry = Seq("g", "n_cats", "n", "s"))
      s"""WITH cnt AS (SELECT source AS g, lang AS c,
                         CAST(count(*) AS BIGINT) AS ni
                       FROM documents GROUP BY 1, 2),
          $ch1,
          per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cats,
                    CAST(sum(ni) AS BIGINT) AS n,
                    list_sum(list(CAST(ni AS DOUBLE) * lni ORDER BY c))
                      AS s
                  FROM $l1 GROUP BY g),
          $ch2
          SELECT g AS source, n_cats, n,
                 lnn - s / CAST(n AS DOUBLE) AS entropy
          FROM $l2"""
    },

    "x_confusion_matrix" -> {
      def mk(vs: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), t -> t IN (${
          vs.map(v => s"'$v'").mkString(",")})))"
      val m = Text.langMarkers.toMap
      val ladder =
        s"""CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) > 0.3 THEN 'zh'
               WHEN ${mk(m("es"))} > ${mk(m("en"))}
                AND ${mk(m("es"))} >= ${mk(m("fr"))}
                AND ${mk(m("es"))} >= ${mk(m("de"))} THEN 'es'
               WHEN ${mk(m("fr"))} > ${mk(m("en"))}
                AND ${mk(m("fr"))} > ${mk(m("es"))}
                AND ${mk(m("fr"))} >= ${mk(m("de"))} THEN 'fr'
               WHEN ${mk(m("de"))} > ${mk(m("en"))}
                AND ${mk(m("de"))} > ${mk(m("es"))}
                AND ${mk(m("de"))} > ${mk(m("fr"))} THEN 'de'
               ELSE 'en' END"""
      s"""WITH p AS (SELECT lang AS actual, $ladder AS pred
                     FROM documents),
          cells AS (SELECT actual, pred, CAST(count(*) AS BIGINT) AS n
                    FROM p GROUP BY 1, 2),
          w AS (SELECT actual, pred, n,
                  sum(n) OVER (PARTITION BY actual) AS n_actual,
                  sum(n) OVER (PARTITION BY pred) AS n_pred
                FROM cells)
          SELECT actual, pred, n,
                 CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE) AS row_frac,
                 CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE) AS col_frac
          FROM w"""
    },

    "x_crossval" ->
      """WITH base AS (SELECT (l_orderkey * 7 + l_linenumber) % 5 AS fold,
                         CAST(floor(l_quantity * 100.0) AS HUGEINT) AS xc,
                         CAST(floor(l_extendedprice * 100.0) AS HUGEINT)
                           AS yc
                       FROM lineitem),
         per AS (SELECT fold, CAST(count(*) AS BIGINT) AS nf,
                   sum(xc) AS sxf, sum(yc) AS syf,
                   sum(xc * yc) AS sxyf, sum(xc * xc) AS sxxf
                 FROM base GROUP BY fold),
         tot AS (SELECT CAST(sum(nf) AS BIGINT) AS n, sum(sxf) AS sx,
                   sum(syf) AS sy, sum(sxyf) AS sxy, sum(sxxf) AS sxx
                 FROM per),
         cf0 AS (SELECT fold, nf, CAST(n - nf AS HUGEINT) AS np,
                   sx - sxf AS sxp, sy - syf AS syp,
                   sxy - sxyf AS sxyp, sxx - sxxf AS sxxp
                 FROM per CROSS JOIN tot),
         cf AS (SELECT fold, nf,
                  CAST(CAST(np * sxyp - sxp * syp AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(np * sxxp - sxp * sxp AS VARCHAR) AS DOUBLE)
                    AS slope,
                  np, sxp, syp FROM cf0),
         cf2 AS (SELECT fold, nf, slope,
                   (CAST(CAST(syp AS VARCHAR) AS DOUBLE)
                     - slope * CAST(CAST(sxp AS VARCHAR) AS DOUBLE))
                   / CAST(CAST(np AS VARCHAR) AS DOUBLE) AS intercept
                 FROM cf),
         sc AS (SELECT b.fold, slope, intercept,
                  CAST(floor(abs(CAST(CAST(yc AS VARCHAR) AS DOUBLE)
                    - (intercept + slope
                       * CAST(CAST(xc AS VARCHAR) AS DOUBLE))) * 1024.0)
                    AS HUGEINT) AS q
                FROM base b JOIN cf2 USING (fold))
         SELECT fold, CAST(count(*) AS BIGINT) AS n_test, slope, intercept,
                CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / 1024.0
                  / CAST(count(*) AS DOUBLE) AS mae_cents
         FROM sc GROUP BY fold, slope, intercept""",

    "x_sprt" -> {
      def dl(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
      val (p0, p1, alpha, beta) = (0.10, 0.15, 0.05, 0.05)
      val c1 = math.log(p1 / p0)
      val c2 = math.log((1.0 - p1) / (1.0 - p0))
      val bndA = math.log((1.0 - beta) / alpha)
      val bndB = math.log(beta / (1.0 - alpha))
      s"""WITH hourly AS (SELECT
                  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                    ::BIGINT % 2 AS variant,
                  date_trunc('hour', ts) AS h,
                  CAST(count(*) AS BIGINT) AS th,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS sh
                FROM events
                WHERE event_type IN ('click', 'purchase')
                GROUP BY 1, 2),
          cum AS (SELECT variant, h,
                    sum(th) OVER win AS ct, sum(sh) OVER win AS cs
                  FROM hourly
                  WINDOW win AS (PARTITION BY variant ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          dc AS (SELECT variant, h, ct, cs,
                   CASE WHEN CAST(cs AS DOUBLE) * ${dl(c1)}
                             + CAST(ct - cs AS DOUBLE) * ${dl(c2)}
                             >= ${dl(bndA)} THEN 'accept_h1'
                        WHEN CAST(cs AS DOUBLE) * ${dl(c1)}
                             + CAST(ct - cs AS DOUBLE) * ${dl(c2)}
                             <= ${dl(bndB)} THEN 'accept_h0'
                        ELSE 'continue' END AS decision
                 FROM cum)
          SELECT variant, max(ct)::BIGINT AS n_trials,
                 max(cs)::BIGINT AS n_success,
                 epoch(min(CASE WHEN decision <> 'continue' THEN h END))
                   ::BIGINT AS decided_at_s,
                 arg_min(decision, h)
                   FILTER (WHERE decision <> 'continue') AS decision
          FROM dc GROUP BY variant"""
    },

    "x_watermark" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
                FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                      FROM w WHERE len(ws) >= 2)),
         g AS (SELECT doc_id,
                 ('0x' || substr(md5(b), 1, 4))::BIGINT % 2 AS green
               FROM bg),
         per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(green) AS BIGINT) AS n_green
                 FROM g GROUP BY doc_id)
         SELECT doc_id, n_bigrams, n_green,
                CAST(n_green AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                  AS green_frac,
                CAST(n_green * 2 - n_bigrams AS DOUBLE)
                  / sqrt(CAST(n_bigrams AS DOUBLE)) AS z,
                CAST(n_green * 2 - n_bigrams AS DOUBLE)
                  / sqrt(CAST(n_bigrams AS DOUBLE))
                  > CAST('4.0' AS DOUBLE) AS watermarked
         FROM per""",

    "x_hill_tail" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("base", "ht",
        Seq("c" -> "lc", "xk1" -> "lxk1"), carry = Seq("c", "xk1"))
      s"""WITH top AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS c
                       FROM events WHERE value > 0
                       ORDER BY c DESC LIMIT 201),
          kth AS (SELECT min(c) AS xk1 FROM top),
          base AS (SELECT c, xk1 FROM top CROSS JOIN kth),
          $chains
          SELECT CAST(count(*) AS BIGINT) AS n_top,
                 max(xk1) AS xk1_cents,
                 list_sum(list(lc - lxk1 ORDER BY c))
                   / CAST(count(*) - 1 AS DOUBLE) AS hill_mean,
                 CAST('1.0' AS DOUBLE) /
                   (list_sum(list(lc - lxk1 ORDER BY c))
                    / CAST(count(*) - 1 AS DOUBLE)) AS alpha
          FROM $last"""
    },

    "x_multi_touch" ->
      """WITH src AS (SELECT user_id AS u, epoch_us(ts) AS sus,
                        event_id AS source_id
                      FROM events WHERE event_type = 'click'),
         tgt AS (SELECT user_id AS u, epoch_us(ts) AS tus,
                   event_id AS target_id
                 FROM events WHERE event_type = 'purchase'),
         pairs AS (SELECT t.u, t.target_id, s.source_id
                   FROM tgt t JOIN src s ON t.u = s.u
                    AND s.sus <= t.tus
                    AND t.tus - s.sus <= 604800000000),
         nt AS (SELECT *, count(*) OVER (PARTITION BY target_id)
                  AS n_touch FROM pairs),
         cr AS (SELECT u, source_id, 1048576 // n_touch AS credit_fp
                FROM nt)
         SELECT u AS user_id, source_id,
                CAST(count(*) AS BIGINT) AS n_conversions,
                CAST(sum(credit_fp) AS BIGINT) AS credit_fp,
                CAST(sum(credit_fp) AS DOUBLE) / 1048576.0 AS credit
         FROM cr GROUP BY u, source_id""",

    "x_ltv_curve" ->
      """WITH f AS (SELECT user_id AS u,
                      CAST(min(floor(epoch(ts) / 604800)) AS BIGINT)
                        AS cohort
                    FROM events GROUP BY 1),
         sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
                FROM f GROUP BY 1),
         rev AS (SELECT cohort,
                   CAST(floor(epoch(ts) / 604800) AS BIGINT) - cohort
                     AS age,
                   sum(CAST(floor(value * 100.0) AS HUGEINT)) AS cents
                 FROM events e JOIN f ON e.user_id = f.u
                 WHERE event_type = 'purchase'
                 GROUP BY 1, 2),
         cum AS (SELECT cohort, age, cents,
                   sum(cents) OVER (PARTITION BY cohort ORDER BY age
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_cents
                 FROM rev)
         SELECT c.cohort, age, n_users, cents::BIGINT AS cents,
                cum_cents::BIGINT AS cum_cents,
                CAST(CAST(cum_cents AS VARCHAR) AS DOUBLE) / 100.0
                  / CAST(n_users AS DOUBLE) AS ltv_per_user
         FROM cum c JOIN sz ON c.cohort = sz.cohort""",

    "x_dirichlet_lm" -> {
      val terms = Seq("join", "merge", "scan")
      val tfAggs = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$i"
      }.mkString(", ")
      val cfAggs = terms.indices.map(i =>
        s"CAST(sum(tf_$i) AS BIGINT) AS cf_$i").mkString(", ")
      val carryCols = Seq("doc", "dl") ++ terms.indices.map(i => s"tf_$i") ++
        Seq("cn") ++ terms.indices.map(i => s"cf_$i")
      val specs = terms.indices.map(i =>
        s"greatest(tf_$i * cn + 2000 * cf_$i, 1)" -> s"lnum_$i") :+
        ("(dl + 2000) * cn" -> "lden")
      val (chains, last) = Pmath.lnSqlChainCtes("base", "dq", specs,
        carry = carryCols)
      val total = terms.indices.map(i => s"(lnum_$i - lden)")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""WITH occ AS (SELECT doc_id AS doc,
                         unnest(string_split(text, ' ')) AS term
                       FROM documents),
          pd AS (SELECT doc, CAST(count(*) AS BIGINT) AS dl, $tfAggs
                 FROM occ GROUP BY doc),
          st AS (SELECT CAST(sum(dl) AS BIGINT) AS cn, $cfAggs FROM pd),
          base AS (SELECT ${carryCols.mkString(", ")}
                   FROM pd CROSS JOIN st),
          $chains,
          sc AS (SELECT doc, $total AS score FROM $last),
          top AS (SELECT doc AS doc_id, score FROM sc
                  ORDER BY score DESC, doc LIMIT 20)
          SELECT doc_id, score,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                   AS INTEGER) AS rank
          FROM top"""
    },

    "x_curriculum" ->
      """WITH b AS (SELECT doc_id,
                      CASE WHEN len(string_split(text, ' ')) < 110 THEN 0
                           WHEN len(string_split(text, ' ')) < 130 THEN 1
                           ELSE 2 END AS bucket,
                      md5(CAST(doc_id AS VARCHAR)) AS h
                    FROM documents)
         SELECT doc_id, bucket, h,
                CAST(row_number() OVER (ORDER BY bucket, h, doc_id)
                  AS BIGINT) AS seq
         FROM b""",

    "x_kn_score" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("base0", "kn",
        Seq("CAST('1.0' AS DOUBLE) / p" -> "lnx"),
        carry = Seq("doc", "pos"))
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents),
          bg AS (SELECT doc_id AS doc, i AS pos, ws[i] AS w1,
                        ws[i + 1] AS w2
                 FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                       FROM w WHERE len(ws) >= 2)),
          c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                  FROM bg GROUP BY 1, 2),
          c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM bg GROUP BY 1),
          n1l AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1w1
                  FROM c12 GROUP BY 1),
          n1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1w2
                  FROM c12 GROUP BY 1),
          bt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM c12),
          base0 AS (SELECT doc, pos,
                      (CAST(c12 AS DOUBLE) - CAST('0.75' AS DOUBLE))
                        / CAST(c1 AS DOUBLE)
                      + ((CAST('0.75' AS DOUBLE) * CAST(n1w1 AS DOUBLE))
                          / CAST(c1 AS DOUBLE))
                        * (CAST(n1w2 AS DOUBLE) / CAST(bt AS DOUBLE))
                        AS p
                    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                         JOIN n1l USING (w1) JOIN n1r USING (w2)
                         CROSS JOIN bt),
          $chains,
          per AS (SELECT doc, list(-lnx ORDER BY pos) AS ls
                  FROM $last GROUP BY doc)
          SELECT doc AS doc_id, CAST(len(ls) AS BIGINT) AS n_bigrams,
                 list_sum(ls) / len(ls) AS avg_lnp
          FROM per"""
    },

    "x_seasonal_anomaly" ->
      """WITH h2 AS (SELECT event_type AS k1, date_trunc('hour', ts)
                       AS step,
                       CAST(sum(CAST(floor(value * 100.0) AS BIGINT))
                         AS BIGINT) AS cents,
                       hour(date_trunc('hour', ts)) AS k2
                     FROM events GROUP BY 1, 2, 4),
         hist1 AS (SELECT k1, k2, cents AS v,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM h2 GROUP BY 1, 2, 3),
         cum1 AS (SELECT k1, k2, v, cnt,
                    sum(cnt) OVER (PARTITION BY k1, k2 ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum,
                    sum(cnt) OVER (PARTITION BY k1, k2) AS n
                  FROM hist1),
         med AS (SELECT k1, k2,
                   min(CASE WHEN cum * 2 >= n + (n % 2) THEN v END)
                   + min(CASE WHEN cum * 2 >= n + 2 - (n % 2) THEN v END)
                     AS med2
                 FROM cum1 GROUP BY 1, 2),
         resid AS (SELECT h2.k1, h2.k2, step, cents, med2,
                     abs(cents * 2 - med2) AS r
                   FROM h2 JOIN med USING (k1, k2)),
         hist2 AS (SELECT k1, k2, r AS v, CAST(count(*) AS BIGINT) AS cnt
                   FROM resid GROUP BY 1, 2, 3),
         cum2 AS (SELECT k1, k2, v, cnt,
                    sum(cnt) OVER (PARTITION BY k1, k2 ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum,
                    sum(cnt) OVER (PARTITION BY k1, k2) AS n
                  FROM hist2),
         mad AS (SELECT k1, k2,
                   min(CASE WHEN cum * 2 >= n + (n % 2) THEN v END)
                   + min(CASE WHEN cum * 2 >= n + 2 - (n % 2) THEN v END)
                     AS mad2
                 FROM cum2 GROUP BY 1, 2)
         SELECT k1 AS event_type, epoch(step)::BIGINT AS step_s, cents,
                med2, r, mad2, r * 4 > mad2 * 7 AS is_anomaly
         FROM resid JOIN mad USING (k1, k2)""",

    "x_fk_audit" ->
      """WITH ck AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nc
                     FROM orders GROUP BY 1),
         pk AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS np
                FROM customer GROUP BY 1),
         j AS (SELECT coalesce(ck.k, pk.k) AS k, nc, np
               FROM ck FULL OUTER JOIN pk ON ck.k = pk.k),
         ag AS (SELECT
                  CAST(sum(coalesce(nc, 0)) AS BIGINT) AS n_child,
                  CAST(sum(coalesce(np, 0)) AS BIGINT) AS n_parent,
                  CAST(sum(CASE WHEN np IS NULL AND k IS NOT NULL
                           THEN nc ELSE 0 END) AS BIGINT)
                    AS n_orphan_child,
                  CAST(sum(CASE WHEN nc IS NULL THEN np ELSE 0 END)
                    AS BIGINT) AS n_unreferenced_parent,
                  CAST(count(CASE WHEN nc IS NOT NULL AND np IS NOT NULL
                             THEN 1 END) AS BIGINT) AS n_matched_keys,
                  CAST(sum(CASE WHEN k IS NULL THEN nc ELSE 0 END)
                    AS BIGINT) AS n_null_fk
                FROM j)
         SELECT n_child, n_parent, n_orphan_child, n_unreferenced_parent,
                n_matched_keys, n_null_fk,
                CAST(n_orphan_child AS DOUBLE) / CAST(n_child AS DOUBLE)
                  AS orphan_rate,
                CAST(n_child - n_orphan_child AS DOUBLE)
                  / CAST(n_parent AS DOUBLE) AS fanout
         FROM ag""",

    "x_mmr_diversify" -> {
      val lam = 0.7
      val l = s"CAST('${lam.toString}' AS DOUBLE)"
      val m = s"CAST('${(1.0 - lam).toString}' AS DOUBLE)"
      val rounds = (2 to 5).map { r =>
        s"""ms$r AS (SELECT c.query_id, c.neighbor_id, c.rel,
                 max(p.sim) AS ms
               FROM cands c
               JOIN pairs p ON p.query_id = c.query_id
                AND p.ida = c.neighbor_id
               JOIN acc${r - 1} s ON s.query_id = p.query_id
                AND s.neighbor_id = p.idb
               WHERE NOT EXISTS (SELECT 1 FROM acc${r - 1} x
                     WHERE x.query_id = c.query_id
                       AND x.neighbor_id = c.neighbor_id)
               GROUP BY 1, 2, 3),
          sel$r AS (SELECT query_id, neighbor_id, rel, score, $r AS round
                FROM (SELECT query_id, neighbor_id, rel,
                        $l * rel - $m * ms AS score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY $l * rel - $m * ms DESC, neighbor_id)
                          AS rn
                      FROM ms$r) WHERE rn = 1),
          acc$r AS (SELECT * FROM acc${r - 1}
                UNION ALL SELECT * FROM sel$r)"""
      }.mkString(",\n          ")
      s"""WITH e AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE))
                         AS v
                     FROM embeddings),
          n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                FROM e),
          q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                FROM n WHERE vec_id < 10),
          scored AS (SELECT query_id, n.vec_id AS neighbor_id,
                       CASE WHEN qn * nrm <> 0
                            THEN list_dot_product(qv, v) / (qn * nrm) END
                         AS cos
                     FROM n CROSS JOIN q),
          ranked AS (SELECT *, row_number() OVER
                       (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank
                     FROM scored),
          cands AS (SELECT query_id, neighbor_id, cos AS rel
                    FROM ranked WHERE rank <= 10),
          pairs AS (SELECT a.query_id, a.neighbor_id AS ida,
                      b.neighbor_id AS idb,
                      CASE WHEN na.nrm * nb.nrm <> 0
                           THEN list_dot_product(na.v, nb.v)
                                / (na.nrm * nb.nrm)
                           ELSE 0.0 END AS sim
                    FROM cands a JOIN cands b
                      ON a.query_id = b.query_id
                    JOIN n na ON na.vec_id = a.neighbor_id
                    JOIN n nb ON nb.vec_id = b.neighbor_id),
          sel1 AS (SELECT query_id, neighbor_id, rel, score, 1 AS round
                FROM (SELECT query_id, neighbor_id, rel,
                        $l * rel - $m * 0.0 AS score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY $l * rel - $m * 0.0 DESC, neighbor_id)
                          AS rn
                      FROM cands) WHERE rn = 1),
          acc1 AS (SELECT * FROM sel1),
          $rounds
          SELECT query_id, neighbor_id, rel, score, round FROM acc5"""
    },
  )
}
