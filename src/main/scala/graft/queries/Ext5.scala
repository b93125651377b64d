package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{EventOps, Features, Graphs, Sampling, Stats}

/** Round-6 wave: the training-loop bookends around the engine's
  * existing model-eval and sampling families — sequential pattern
  * mining over the event log (the multi-step behavioral twin of the
  * Markov transition matrix), classifier calibration (the reliability
  * companion to x_auc's discrimination), and class-balanced
  * downsampling (the label-rebalancing step between corpus curation
  * and training).
  *
  * Oracle discipline as everywhere: integer arithmetic until single
  * final divisions, md5 hash order for determinism, window orders
  * totally tied down by (ts, id) tuples.
  */
object Ext5 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Widespread 3-step behaviors: consecutive event triples with both
    // gaps <= 12h, pruned to patterns >= 3 distinct users (GSP with a
    // window constraint; support, not count, is the mining metric)
    "x_seq_patterns" -> ((s, d) =>
      EventOps.seqPatterns3(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", maxGapSec = 43200L, minKeys = 3L)),

    // Reliability curve of the hashed quality classifier against the
    // English label: 10 equal-width margin bins, per-bin mean score
    // (ratio of integer sums) vs positive rate
    "x_calibration" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hc = graft.operators.LangModel.hashedClassifier(
        docs, "doc_id", "text")
      Stats.calibrationCurve(
        hc.join(docs.select(col("doc_id"), (col("lang") === "en").as("lab")),
          Seq("doc_id")),
        col("score"), col("n_tokens"), col("lab"), k = 10)
    }),

    // Label-rebalanced corpus: every language keeps exactly
    // min-class-count documents in md5 hash order (WindowGroupLimit
    // pre-shuffle top-k; the bound is a 1-scalar driver action by
    // design — see Sampling.classBalance)
    "x_class_balance" -> ((s, d) =>
      Sampling.classBalance(t(s, d, "documents"), "lang", "doc_id")
        .select("doc_id", "lang", "rk")),

    // Leave-one-out smoothed target encoding of order priority against
    // the 'F' status label (m=20 pseudo-counts toward the global rate)
    "x_target_encode" -> ((s, d) =>
      Features.targetEncodeLoo(t(s, d, "orders"), "o_orderpriority",
        col("o_orderkey"), col("o_orderstatus") === "F", m = 20.0)),

    // Weight-of-evidence / IV screening of document source against the
    // English label — half-count smoothing cleared to integer ln args
    "x_woe_iv" -> ((s, d) =>
      Features.woeIv(t(s, d, "documents"), "source",
        col("lang") === "en")),

    // Deterministic synchronous LPA communities (3 rounds, min-label
    // ties) over the supplier-part incidence graph — the community
    // view next to x_dedup_clusters' reachability view
    "x_communities" -> ((s, d) =>
      Graphs.labelPropagation(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", rounds = 3)),

    // k-anonymity / l-diversity release audit of the customer table:
    // QI = (nation, segment), sensitive = account balance
    "x_kanon" -> ((s, d) =>
      graft.operators.Privacy.kAnonymityAudit(t(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), col("c_acctbal"), k = 5L, l = 3L)),

    // tokenizer vocab coverage: top-500-by-df vocabulary, per-doc OOV
    // occurrence rate (the pre-BPE corpus coverage check)
    "x_vocab_coverage" -> ((s, d) =>
      graft.operators.LangModel.vocabCoverage(
        t(s, d, "documents"), "doc_id", "text", vocabSize = 500)),

    // grid-blocked radius self-join over md5-derived integer coords
    // (9-cell probe + exact integer distance; the oracle brute-forces
    // the quadratic form — blocking must be lossless)
    "x_grid_join" -> ((s, d) => {
      val pts = t(s, d, "customer").select(col("c_custkey").as("id"),
        (conv(substring(md5(col("c_custkey").cast("string")), 1, 4), 16, 10)
          .cast("long") % 1000).as("x"),
        (conv(substring(md5(col("c_custkey").cast("string")), 5, 4), 16, 10)
          .cast("long") % 1000).as("y"))
      graft.operators.Spatial.gridRadiusJoin(pts, "id", "x", "y", radius = 20L)
    }),

    // Density clustering over the same md5 point cloud: DBSCAN =
    // grid-blocked ε-neighbor join + neighborhood-count cores +
    // connected components over the core-core graph; the oracle
    // brute-forces the quadratic neighbor join and replays the cluster
    // closure as a recursive CTE, proving the whole blocked pipeline
    // (grid join, core census, CC, min-rule border assignment) exact
    "x_dbscan" -> ((s, d) => {
      val pts = t(s, d, "customer").select(col("c_custkey").as("id"),
        (conv(substring(md5(col("c_custkey").cast("string")), 1, 4), 16, 10)
          .cast("long") % 1000).as("x"),
        (conv(substring(md5(col("c_custkey").cast("string")), 5, 4), 16, 10)
          .cast("long") % 1000).as("y"))
      graft.operators.Spatial.dbscan(pts, "id", "x", "y",
        eps = 25L, minPts = 4)
    }),

    // WHEN did each metric move: binary segmentation's first split over
    // the hourly cents series — exact decimal score numerators, one
    // string-mediated division, total (score DESC, k ASC) argmax the
    // oracle replays window-for-window
    "x_changepoint" -> ((s, d) =>
      Stats.changepointSplit(t(s, d, "events"), "event_type",
        date_trunc("hour", col("ts")), col("value"))
        .select(col("key").as("event_type"),
          unix_seconds(col("split_step")).as("split_s"),
          col("k"), col("n"), col("mean_before"), col("mean_after"),
          col("score"))),

    // what a normal day looks like per metric: classical additive
    // seasonal profile — 2x24 centered-MA detrend in exact integers,
    // hour-of-day phase means as single divisions of integer sums
    "x_seasonal_decompose" -> ((s, d) =>
      Stats.seasonalDecompose(t(s, d, "events"), "event_type",
        date_trunc("hour", col("ts")), step => hour(step), col("value"),
        period = 24)
        .select(col("key").as("event_type"), col("phase"), col("n_obs"),
          col("seasonal"))),

    // dominant embedding direction (ABTT de-biasing / whitening probe):
    // exact integer moment matrix -> driver power iteration (param-
    // bounded dim^2, the kmeansCentroids pattern) -> codegen projection.
    // Exact since r7: the 40-round power method replays as a recursive
    // CTE over a DOUBLE[] state (every op IEEE-identical, ordered
    // folds); Wave7Spec anchors the plain-Scala differential too
    "x_pca_project" -> ((s, d) => {
      val (scored, _) = graft.operators.Similarity.pcaTopComponent(
        t(s, d, "embeddings"), "vec_id", "embedding")
      scored
    }),

    // isotropy-fixed similarity: debias every embedding by the fitted
    // top component (ABTT), then exact cosine top-10 for the first 20
    // ids — the de-biased twin of x_cos_topk. Exact since r7 (the PCA
    // recursive-CTE replay feeds the debias + cosine rerank);
    // Wave7Spec pins the residual-variance-zero property
    "x_ann_abtt" -> ((s, d) => {
      // the debiased frame feeds BOTH topK sides; checkpointing it
      // evaluates the dim²-literal projection once and keeps the 4096
      // embedded constants out of both sides' planning/codegen
      // (round 16: 2.47 -> 1.44 s steady-state at sf0.1)
      val deb = graft.operators.Similarity.abttDebias(
        t(s, d, "embeddings"), "vec_id", "embedding").localCheckpoint(true)
      graft.operators.Similarity.bruteForceTopK(
        deb.filter(col("vec_id") < 20), deb,
        "vec_id", "dvec", "vec_id", "dvec", k = 10)
    }),

    // time series as text: each (metric, day) becomes a 6-letter SAX
    // word (4-hour PAA segments, rank-quartile letters with a total
    // tie order) ready for the engine's string dedup/similarity stack
    "x_sax_words" -> ((s, d) =>
      graft.operators.Temporal.saxWords(t(s, d, "events"), "event_type",
        col("ts"), col("value"))
        .select(col("key").as("event_type"),
          unix_seconds(col("day")).as("day_s"), col("sax_word"))),

    // the ENCODE half of BPE: merges learned on a FIXED-size sample
    // (tokenizers train on samples — the learner's k-round driver loop
    // must not grow with the corpus), then the whole corpus encodes
    // row-parallel under the broadcast merge table. Exact since r7: the
    // oracle replays learn + rank-ordered encode with the list_reduce
    // merge fold; PmathSpec holds the plain-Scala differential too
    "x_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.LangModel.bpeMerges(
          docs.filter(col("doc_id") < 1000), "doc_id", "text", k = 8)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.LangModel.bpeEncode(docs, "doc_id", "text", merges)
    }),

    // content-defined chunking: boundaries wherever the md5 of the
    // 2-gram ending at a word starts with a zero nibble — chunking that
    // survives prefix edits where fixed windows shift everything
    "x_cdc_chunks" -> ((s, d) =>
      graft.operators.Dedup.cdcChunks(
        t(s, d, "documents").filter(col("doc_id") < 300),
        "doc_id", "text")),

    // cross-doc census of recurring content-defined chunks — the
    // edit-robust chunk-level dedup readout
    "x_cdc_dedup" -> ((s, d) =>
      graft.operators.Dedup.cdcDedup(t(s, d, "documents"),
        "doc_id", "text")),

    // monotone calibration of the hashed classifier per source: margin
    // deciles via exact integer arithmetic, PAVA pooling with integer
    // cross-multiplied violation tests. Exact since r7: the oracle uses
    // the Robertson-Wright minimax closed form instead of the stack;
    // StatsSpec additionally holds the PAVA differential
    "x_isotonic" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hc = graft.operators.LangModel.hashedClassifier(
        docs, "doc_id", "text")
      val binned = hc.join(
          docs.select(col("doc_id"), col("source"),
            (col("lang") === "en").as("lab")), Seq("doc_id"))
        // decile of margin in [-8, 8] without touching a double:
        // floor((score + 8n) * 10 / (16n)) clamped to [0, 9]
        .withColumn("bin", least(greatest(
          call_function("div",
            (col("score") + lit(8) * col("n_tokens")) * lit(10),
            lit(16) * col("n_tokens")).cast("int"), lit(0)), lit(9)))
      Stats.isotonicRates(binned, "source", "bin",
        when(col("lab"), 1L).otherwise(0L), lit(1L))
    }),

    // the named Gopher rule stack (Rae et al. A1.1) with per-rule
    // verdicts — every rule tests as an integer comparison, ratios are
    // single divisions of the same integers
    "x_gopher_rules" -> ((s, d) =>
      graft.pipelines.Corpus.gopherRules(t(s, d, "documents"),
        "doc_id", "text")),

    // nearest-purchase join (merge_asof direction='nearest'): each
    // click pairs with its closest purchase in EITHER direction, exact
    // micro tie to the earlier purchase; two asof passes + a narrow
    // integer combine — the oracle brute-forces the per-user argmin
    "x_nearest_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("purchase_id"))
      graft.operators.Temporal.nearestJoin(clicks, purchases,
        "user_id", "ts", Seq("purchase_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("_nearest.purchase_id").as("purchase_id"),
          col("nearest_delta_us"), col("nearest_dir"))
    }),

    // HITS authorities over the supplier->part incidence graph: which
    // parts are stocked by the best-connected suppliers — integer
    // mutual-reinforcement rounds, one final max-division
    "x_hits" -> ((s, d) =>
      Graphs.hitsScores(
        t(s, d, "lineitem").select(col("l_suppkey").as("s"),
          col("l_partkey").as("p")),
        "s", "p", topK = 20)),

    // leave-one-out kNN label vote over the proven exact-cosine top-k:
    // 11 nearest incl. self, self dropped, majority label with a total
    // (votes DESC, label ASC) tie order — the embedding-quality probe
    // (label coherence of the neighborhood structure)
    "x_knn_classify" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val knn = graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 100), e,
          "vec_id", "embedding", "vec_id", "embedding", k = 11)
        .filter(col("neighbor_id") =!= col("query_id"))
      val votes = knn.join(
          e.select(col("vec_id").as("neighbor_id"),
            col("label").as("nlabel")), Seq("neighbor_id"))
        .groupBy("query_id", "nlabel")
        .agg(count(lit(1)).as("votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("votes").desc, col("nlabel").asc)
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(e.select(col("vec_id").as("query_id"), col("label")),
          Seq("query_id"))
        .select(col("query_id"), col("label"),
          col("nlabel").as("pred"), col("votes"),
          (col("label") === col("nlabel")).as("correct"))
    }),
  )

  /** Shared CTE chain replaying [[graft.operators.Similarity.pcaTopComponent]]
    * end to end: quantized moment matrix (exact HUGEINT cells), 40
    * power-method rounds as a recursive CTE over a DOUBLE[] state with
    * list_reduce folds in the engine's exact op order, sign pinning,
    * and the correctly-rounded mu list. Ends with one-row CTEs `vsig`
    * (the component) and `mus`, plus per-row `p1` (pc1). Every double
    * op (mult/add/div/sqrt, ordered folds, int→double conversions) is
    * IEEE-identical on both engines, so the 40-round iteration is
    * bit-replayable — the same argument that oracles the k-means
    * chains. */
  private def pcaCommonSql: String = {
    val D1 = 65 // dim + 1 for DuckDB's 1-based range bounds
    s"""q AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
              AS q
            FROM embeddings),
       n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
       ex AS (SELECT vec_id, i, q[i] AS qi FROM
              (SELECT vec_id, q, unnest(range(1, $D1)) AS i FROM q)),
       sxs AS (SELECT i, sum(qi::HUGEINT) AS sx FROM ex GROUP BY i),
       cells AS (SELECT a.i AS i, b.i AS j,
                   sum(a.qi::HUGEINT * b.qi) AS sxy
                 FROM ex a JOIN ex b
                   ON a.vec_id = b.vec_id AND b.i >= a.i
                 GROUP BY 1, 2),
       full_m AS (SELECT i, j, sxy FROM cells
                  UNION ALL
                  SELECT j, i, sxy FROM cells WHERE j > i),
       mvt AS (SELECT f.i, f.j,
                 (n::HUGEINT * sxy - si.sx * sj.sx)::DOUBLE AS mval
               FROM full_m f
               JOIN sxs si ON si.i = f.i
               JOIN sxs sj ON sj.i = f.j
               CROSS JOIN n0),
       mrows AS (SELECT i, list(mval ORDER BY j) AS mrow
                 FROM mvt GROUP BY i),
       mat AS (SELECT list(mrow ORDER BY i) AS M FROM mrows),
       dp(t, v) AS (
         SELECT 0, list_transform(range(1, $D1),
           i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END)
         UNION ALL
         SELECT t + 1,
           CASE WHEN nrm = 0 THEN v
                ELSE list_transform(mvv, x -> x / nrm) END
         FROM (SELECT t, v, mvv,
                 sqrt(list_reduce([CAST(0.0 AS DOUBLE)] ||
                   list_transform(mvv, x -> x * x),
                   (a, x) -> a + x)) AS nrm
               FROM (SELECT t, v,
                       list_transform(range(1, $D1), i ->
                         list_reduce([CAST(0.0 AS DOUBLE)] ||
                           list_transform(range(1, $D1),
                             j -> M[i][j] * v[j]),
                           (a, x) -> a + x)) AS mvv
                     FROM dp, mat WHERE t < 40))),
       vfin AS (SELECT v FROM dp WHERE t = 40),
       vsig AS (SELECT CASE WHEN len(nz) > 0 AND nz[1] < 0
                         THEN list_transform(v, x -> -x) ELSE v END AS v
                FROM (SELECT v, list_filter(v, x -> abs(x) > 1e-12) AS nz
                      FROM vfin)),
       mus AS (SELECT list(CAST(sx AS DOUBLE) /
                 (CAST(n AS DOUBLE) * 1048576.0) ORDER BY i) AS mu
               FROM sxs CROSS JOIN n0),
       p1 AS (SELECT vec_id,
                list_reduce(list_transform(range(1, $D1),
                  j -> (q[j]::DOUBLE / 1048576.0 - mu[j]) * v[j]),
                  (a, x) -> a + x) AS pc1
              FROM q CROSS JOIN vsig CROSS JOIN mus)"""
  }

  val oracle: Map[String, String] = Map(

    // the full BPE pipeline replayed: learn 8 merges on the doc_id<1000
    // sample (Ext.bpeChainSql — per-round SQL argmax + list_reduce
    // rewrite), then encode EVERY distinct corpus word by applying the
    // merges in rank order with the same fold, and reassemble per-doc
    // token counts + the /-joined stream digest
    "x_bpe_encode" -> {
      val k = 8
      val encCtes = (1 to k).map(r =>
        s"""enc$r AS (SELECT w, ${Ext.bpeFold("string_split(acc, chr(31))")}
              AS s
            FROM enc${r - 1} CROSS JOIN best${r}_m b)""").mkString(",\n")
      s"""WITH ${Ext.bpeChainSql("m", "WHERE doc_id < 1000", k)},
         ew0 AS (SELECT DISTINCT w FROM
             (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             WHERE w <> ''),
         enc0 AS (SELECT w, array_to_string(list_transform(
             range(1, len(w) + 1), i -> substr(w, i, 1)), chr(31)) AS s
           FROM ew0),
         $encCtes,
         wd AS (SELECT doc_id, i AS pos, ws[i] AS w
                FROM (SELECT doc_id, ws,
                        unnest(range(1, len(ws) + 1)) AS i
                      FROM (SELECT doc_id, string_split(text, ' ') AS ws
                            FROM documents))
                WHERE ws[i] <> ''),
         per AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(len(string_split(s, chr(31)))) AS BIGINT)
                     AS n_syms,
                   md5(string_agg(replace(s, chr(31), chr(1)), chr(2)
                     ORDER BY pos)) AS enc_digest
                 FROM wd JOIN enc$k ON wd.w = enc$k.w GROUP BY doc_id)
         SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
                coalesce(n_syms, 0) AS n_syms,
                coalesce(enc_digest, md5('')) AS enc_digest
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
    },

    "x_pca_project" ->
      s"""WITH RECURSIVE $pcaCommonSql
         SELECT vec_id, pc1 FROM p1""",

    "x_ann_abtt" ->
      s"""WITH RECURSIVE $pcaCommonSql,
         dv AS (SELECT q.vec_id,
                  list_transform(range(1, 65),
                    j -> (q.q[j]::DOUBLE / 1048576.0 - mu[j])
                      - pc1 * v[j]) AS dvec
                FROM q JOIN p1 ON q.vec_id = p1.vec_id
                CROSS JOIN vsig CROSS JOIN mus),
         nn2 AS (SELECT vec_id, dvec,
                   sqrt(list_dot_product(dvec, dvec)) AS nrm FROM dv),
         qq AS (SELECT vec_id AS query_id, dvec AS qv, nrm AS qn
                FROM nn2 WHERE vec_id < 20),
         scored AS (SELECT query_id, n.vec_id AS neighbor_id,
                      CASE WHEN qn * nrm <> 0
                        THEN list_dot_product(qv, dvec) / (qn * nrm)
                      END AS cos
                    FROM nn2 n CROSS JOIN qq),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank
                    FROM scored)
         SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 10""",

    // PAVA replayed WITHOUT the pooling stack: the weighted-L2 isotonic
    // fit has the closed minimax form ŷ_i = max_{l≤i} min_{r≥i}
    // (P[r]−P[l−1])/(N[r]−N[l−1]) (Robertson–Wright), and since
    // rational→double conversion is monotone, min/max over the DOUBLE
    // rates equals the double of the rational minimax — which is the
    // pooled rate the engine's stack emits. Bins per key ≤ 10, so the
    // (i, l, r) triple join is ≤ 10³ rows per key.
    "x_isotonic" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         wt AS (SELECT doc_id,
                  ('0x' || substr(md5(t), 1, 4))::BIGINT % 17 - 8 AS w
                FROM tok),
         sc AS (SELECT doc_id, count(*) AS n_tokens,
                  CAST(sum(w) AS BIGINT) AS score
                FROM wt GROUP BY doc_id),
         b AS (SELECT d.source AS key,
                 CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS lab,
                 least(greatest((score + 8 * n_tokens) * 10
                   // (16 * n_tokens), 0), 9) AS bin
               FROM sc JOIN documents d USING (doc_id)),
         pb AS (SELECT key, bin, CAST(sum(lab) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS n
                FROM b GROUP BY 1, 2),
         pre AS (SELECT key, bin, p, n,
                   CAST(sum(p) OVER wk AS BIGINT) AS cp,
                   CAST(sum(n) OVER wk AS BIGINT) AS cn,
                   CAST(row_number() OVER wk AS BIGINT) AS idx
                 FROM pb
                 WINDOW wk AS (PARTITION BY key ORDER BY bin
                   ROWS UNBOUNDED PRECEDING)),
         tri AS (SELECT i.key, i.idx, i.bin, i.p, i.n, l.idx AS li,
                   (r.cp - (l.cp - l.p))::DOUBLE /
                     (r.cn - (l.cn - l.n))::DOUBLE AS rate
                 FROM pre i
                 JOIN pre l ON l.key = i.key AND l.idx <= i.idx
                 JOIN pre r ON r.key = i.key AND r.idx >= i.idx),
         inner_min AS (SELECT key, idx, bin, p, n, li,
                         min(rate) AS mn
                       FROM tri GROUP BY 1, 2, 3, 4, 5, 6)
         SELECT key, bin, p AS pos, n, max(mn) AS iso_rate
         FROM inner_min GROUP BY key, bin, p, n, idx""",

    "x_seq_patterns" ->
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
                           event_id AS tie, event_type AS a FROM events),
         w AS (SELECT k, us, a,
                 lead(a, 1)  OVER win AS b,
                 lead(a, 2)  OVER win AS c,
                 lead(us, 1) OVER win AS us_b,
                 lead(us, 2) OVER win AS us_c
               FROM e WINDOW win AS (PARTITION BY k ORDER BY us, tie))
         SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_occ,
                CAST(count(DISTINCT k) AS BIGINT) AS n_keys
         FROM w
         WHERE c IS NOT NULL
           AND us_b - us <= 43200000000
           AND us_c - us_b <= 43200000000
         GROUP BY a, b, c
         HAVING count(DISTINCT k) >= 3""",

    // scoring CTEs identical to the x_auc oracle (the proven
    // hashed-classifier replay), then the equal-width binning: doubles
    // appear only in the bin index and the two final divisions
    "x_calibration" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         w AS (SELECT doc_id,
                      ('0x' || substr(md5(t), 1, 4))::BIGINT % 17 - 8 AS w
               FROM tok),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS den,
                       CAST(sum(w) AS BIGINT) AS num
                FROM w GROUP BY doc_id),
         f AS (SELECT num::DOUBLE / den::DOUBLE AS s, num, den,
                      CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
               FROM sc JOIN documents d USING (doc_id)),
         mm AS (SELECT min(s) AS mn, max(s) AS mx FROM f),
         b AS (SELECT CASE WHEN mx = mn THEN 0
                      ELSE CAST(least(floor((s - mn) / (mx - mn) * 10), 9)
                           AS BIGINT) END AS bin,
                      num, den, y
               FROM f CROSS JOIN mm)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(y) AS BIGINT) AS n_pos,
                CAST(sum(num) AS DOUBLE) / CAST(sum(den) AS DOUBLE)
                  AS mean_score,
                CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS pos_rate
         FROM b GROUP BY bin""",

    "x_class_balance" ->
      """WITH c AS (SELECT min(n) AS m FROM
                      (SELECT count(*) AS n FROM documents GROUP BY lang)),
         r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents)
         SELECT doc_id, lang, rk FROM r CROSS JOIN c WHERE rk <= m""",

    // identical IEEE chain: CAST(sy - y), + m*(gy/gn), / (CAST(nc-1) + m)
    "x_target_encode" ->
      """WITH base AS (SELECT o_orderpriority AS cat, o_orderkey AS id,
                CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
              FROM orders),
         per AS (SELECT cat, CAST(sum(y) AS BIGINT) AS sy,
                CAST(count(*) AS BIGINT) AS nc FROM base GROUP BY cat),
         tot AS (SELECT CAST(sum(y) AS BIGINT) AS gy,
                CAST(count(*) AS BIGINT) AS gn FROM base)
         SELECT id, cat, CAST(y AS BIGINT) AS y,
                (CAST(sy - y AS DOUBLE) +
                  20.0 * (CAST(gy AS DOUBLE) / CAST(gn AS DOUBLE))) /
                (CAST(nc - 1 AS DOUBLE) + 20.0) AS te
         FROM base JOIN per USING (cat) CROSS JOIN tot""",

    // woe via TWO portable-ln CTE chains over integer products (the ½
    // smoothing cleared by doubling); iv_term reuses the woe double
    "x_woe_iv" -> {
      val (n1, n2, n3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnnum")
      val (d1, d2, d3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnden")
      s"""WITH base AS (SELECT source AS cat,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         per AS (SELECT cat, CAST(sum(y) AS BIGINT) AS pos,
                CAST(count(*) - sum(y) AS BIGINT) AS neg
              FROM base GROUP BY cat),
         tot AS (SELECT CAST(sum(y) AS BIGINT) AS pt,
                CAST(count(*) - sum(y) AS BIGINT) AS nt FROM base),
         j AS (SELECT cat, pos, neg, pt, nt,
                CAST((2 * pos + 1) * (2 * nt + 1) AS DOUBLE) AS lnin
              FROM per CROSS JOIN tot),
         a1 AS (SELECT *, $n1 FROM j),
         a2 AS (SELECT *, $n2 FROM a1),
         a3 AS (SELECT *, $n3 FROM a2),
         b0 AS (SELECT cat, pos, neg, pt, nt, lnnum,
                CAST((2 * neg + 1) * (2 * pt + 1) AS DOUBLE) AS lnin
              FROM a3),
         b1 AS (SELECT *, $d1 FROM b0),
         b2 AS (SELECT *, $d2 FROM b1),
         b3 AS (SELECT *, $d3 FROM b2)
         SELECT cat, pos, neg, lnnum - lnden AS woe,
                (CAST(pos AS DOUBLE) / CAST(pt AS DOUBLE) -
                 CAST(neg AS DOUBLE) / CAST(nt AS DOUBLE)) *
                  (lnnum - lnden) AS iv_term
         FROM b3""".stripMargin
    },

    // LPA unrolled: 3 synchronous rounds, argmax by (count DESC, label
    // ASC) — bit-identical to min(struct(-n, lbl)) on the engine side
    "x_communities" -> {
      val rounds = (1 to 3).map { i =>
        s""", c$i AS MATERIALIZED (SELECT e.u AS id, l.lbl,
                count(*) AS n
              FROM e0 e JOIN l${i - 1} l ON e.v = l.id GROUP BY 1, 2),
           l$i AS MATERIALIZED (SELECT id, lbl FROM (
              SELECT id, lbl, row_number() OVER (PARTITION BY id
                ORDER BY n DESC, lbl ASC) AS rn FROM c$i) q$i
              WHERE rn = 1)"""
      }.mkString
      s"""WITH raw AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS u,
                'p' || CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
         e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
              SELECT u, v FROM raw
              UNION ALL SELECT v AS u, u AS v FROM raw) s
              WHERE u <> v),
         l0 AS MATERIALIZED (SELECT id, id AS lbl FROM
              (SELECT DISTINCT u AS id FROM e0) n0)$rounds
         SELECT id, lbl FROM l3"""
    },

    "x_kanon" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
                count(*) >= 5 AS k_ok,
                count(DISTINCT c_acctbal) >= 3 AS l_ok
         FROM customer GROUP BY c_nationkey, c_mktsegment""",

    "x_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df_t FROM
                     (SELECT DISTINCT doc_id, t FROM tok) dt GROUP BY t),
         vocab AS (SELECT t FROM dfreq ORDER BY df_t DESC, t ASC LIMIT 500)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov,
                CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS oov_rate
         FROM tok LEFT JOIN vocab v ON tok.t = v.t
         GROUP BY doc_id""",

    // brute-force quadratic radius join — the differential proof that
    // the engine's 3x3 grid blocking is lossless
    "x_grid_join" ->
      """WITH pts AS (SELECT c_custkey AS id,
                ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
                  % 1000 AS x,
                ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 5, 4))::BIGINT
                  % 1000 AS y
              FROM customer)
         SELECT a.id AS id_a, b.id AS id_b,
                (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400""",

    // quadratic ε-neighbor join, core census (count includes self),
    // transitive closure of the core-core graph as a recursive CTE
    // (min reachable core id = the cluster label), min-rule border
    // assignment — the unblocked ground truth for the grid+CC pipeline
    "x_dbscan" ->
      """WITH RECURSIVE
         pts AS (SELECT c_custkey AS id,
                ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
                  % 1000 AS x,
                ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 5, 4))::BIGINT
                  % 1000 AS y
              FROM customer),
         pairs AS (SELECT a.id AS ia, b.id AS ib
                   FROM pts a JOIN pts b ON a.id <> b.id
                   WHERE (a.x - b.x) * (a.x - b.x) +
                         (a.y - b.y) * (a.y - b.y) <= 625),
         core AS (SELECT ia AS id FROM pairs GROUP BY ia
                  HAVING count(*) + 1 >= 4),
         ce AS (SELECT ia, ib FROM pairs
                WHERE ia IN (SELECT id FROM core)
                  AND ib IN (SELECT id FROM core)),
         reach(id, r) AS (
           SELECT id, id FROM core
           UNION
           SELECT reach.id, ce.ib FROM reach JOIN ce ON ce.ia = reach.r),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         border AS (SELECT p.ia AS id, min(c.cluster) AS bcluster
                    FROM pairs p JOIN comp c ON p.ib = c.id
                    WHERE p.ia NOT IN (SELECT id FROM core)
                    GROUP BY p.ia)
         SELECT pts.id,
                CASE WHEN comp.id IS NOT NULL THEN 'core'
                     WHEN border.id IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                COALESCE(comp.cluster, border.bcluster) AS cluster
         FROM pts
         LEFT JOIN comp ON pts.id = comp.id
         LEFT JOIN border ON pts.id = border.id""",

    // hourly cents series, exact prefix sums, HUGEINT score numerators,
    // one VARCHAR-mediated division, rank-1 by (score DESC, k ASC)
    "x_changepoint" ->
      """WITH hourly AS (SELECT event_type AS key,
                           date_trunc('hour', ts) AS step,
                           sum(CAST(floor(value * 100.0) AS HUGEINT)) AS v
                         FROM events GROUP BY 1, 2),
         pre AS (SELECT key, step,
                   row_number() OVER w AS k,
                   sum(v) OVER (w ROWS UNBOUNDED PRECEDING) AS sk,
                   sum(v) OVER (PARTITION BY key) AS sn,
                   count(*) OVER (PARTITION BY key) AS n
                 FROM hourly
                 WINDOW w AS (PARTITION BY key ORDER BY step)),
         cand AS (SELECT key, step, k, n, sk, sn,
                    sk * sk * (n - k) + (sn - sk) * (sn - sk) * k AS num,
                    k * (n - k) AS den
                  FROM pre WHERE k < n),
         sc AS (SELECT key, step, k, n, sk, sn,
                  CAST(CAST(num AS VARCHAR) AS DOUBLE) /
                    CAST(den AS DOUBLE) AS score
                FROM cand),
         pick AS (SELECT *, row_number() OVER
                    (PARTITION BY key ORDER BY score DESC, k) AS rn
                  FROM sc)
         SELECT key AS event_type, epoch(step)::BIGINT AS split_s, k, n,
                CAST(CAST(sk AS VARCHAR) AS DOUBLE) / (k * 100.0)
                  AS mean_before,
                CAST(CAST(sn - sk AS VARCHAR) AS DOUBLE) /
                  ((n - k) * 100.0) AS mean_after,
                score
         FROM pick WHERE rn = 1""",

    // 2x24 centered moving average as a 48x-scaled integer numerator,
    // full-window rows only, per-phase single-division means
    "x_seasonal_decompose" ->
      """WITH hourly AS (SELECT event_type AS key,
                           date_trunc('hour', ts) AS step,
                           sum(CAST(floor(value * 100.0) AS HUGEINT)) AS v
                         FROM events GROUP BY 1, 2),
         t AS (SELECT key, step, v,
                 row_number() OVER w AS k,
                 count(*) OVER (PARTITION BY key) AS n,
                 2 * sum(v) OVER
                   (w ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) +
                   lag(v, 12) OVER w + lead(v, 12) OVER w AS trend_num
               FROM hourly
               WINDOW w AS (PARTITION BY key ORDER BY step)),
         d AS (SELECT key, hour(step) AS phase, 48 * v - trend_num AS det
               FROM t WHERE k > 12 AND k <= n - 12)
         SELECT key AS event_type, phase, count(*) AS n_obs,
                CAST(CAST(sum(det) AS VARCHAR) AS DOUBLE) /
                  (48.0 * 100.0 * count(*)) AS seasonal
         FROM d GROUP BY 1, 2""",

    // hourly cents, 4-hour PAA segment sums, full days only, totally
    // tie-ordered ntile quartiles, segment-ordered letter join
    "x_sax_words" ->
      """WITH hourly AS (SELECT event_type AS key,
                           date_trunc('day', ts) AS day, hour(ts) AS slot,
                           sum(CAST(floor(value * 100.0) AS HUGEINT)) AS v
                         FROM events GROUP BY 1, 2, 3),
         segs AS (SELECT key, day, slot // 4 AS seg, sum(v) AS s,
                         count(*) AS nslots
                  FROM hourly GROUP BY 1, 2, 3),
         full_d AS (SELECT *, sum(nslots) OVER (PARTITION BY key, day)
                      AS nday FROM segs),
         nt AS (SELECT key, day, seg,
                  ntile(4) OVER (PARTITION BY key ORDER BY s, day, seg) AS b
                FROM full_d WHERE nday = 24)
         SELECT key AS event_type, epoch(day)::BIGINT AS day_s,
                string_agg(chr(CAST(96 + b AS INTEGER)), '' ORDER BY seg) AS sax_word
         FROM nt GROUP BY 1, 2""",

    // word-split, md5 2-gram boundary probe, edge-list chunk rebuild —
    // the winnowing machinery replayed list-for-list
    "x_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id, unnest(range(2, len(ws) + 1)) AS i, ws
               FROM d WHERE len(ws) >= 2),
         b AS (SELECT doc_id, i FROM g
               WHERE substr(md5(array_to_string(ws[i-1:i], ' ')), 1, 1) = '0'),
         bz AS (SELECT doc_id, list_sort(list(i)) AS bs FROM b GROUP BY doc_id),
         bl AS (SELECT d.doc_id, d.ws, len(d.ws) AS n,
                       coalesce(bz.bs, []) AS bs
                FROM d LEFT JOIN bz USING (doc_id)),
         e AS (SELECT doc_id, ws,
                 CASE WHEN len(bs) = 0 OR bs[-1] <> n
                      THEN [0] || bs || [n] ELSE [0] || bs END AS edges
               FROM bl),
         c AS (SELECT doc_id, unnest(range(1, len(edges))) AS j, ws, edges
               FROM e)
         SELECT doc_id, CAST(j - 1 AS INTEGER) AS chunk_idx,
                md5(array_to_string(ws[edges[j]+1:edges[j+1]], ' '))
                  AS chunk_hash,
                CAST(edges[j+1] - edges[j] AS INTEGER) AS n_words
         FROM c""",

    "x_cdc_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, unnest(range(2, len(ws) + 1)) AS i, ws
               FROM d WHERE len(ws) >= 2),
         b AS (SELECT doc_id, i FROM g
               WHERE substr(md5(array_to_string(ws[i-1:i], ' ')), 1, 1) = '0'),
         bz AS (SELECT doc_id, list_sort(list(i)) AS bs FROM b GROUP BY doc_id),
         bl AS (SELECT d.doc_id, d.ws, len(d.ws) AS n,
                       coalesce(bz.bs, []) AS bs
                FROM d LEFT JOIN bz USING (doc_id)),
         e AS (SELECT doc_id, ws,
                 CASE WHEN len(bs) = 0 OR bs[-1] <> n
                      THEN [0] || bs || [n] ELSE [0] || bs END AS edges
               FROM bl),
         c AS (SELECT doc_id, unnest(range(1, len(edges))) AS j, ws, edges
               FROM e),
         ch AS (SELECT doc_id,
                  md5(array_to_string(ws[edges[j]+1:edges[j+1]], ' ')) AS chunk_hash,
                  edges[j+1] - edges[j] AS nw
                FROM c)
         SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_occ, CAST(max(nw) AS INTEGER) AS n_words
         FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",

    // every rule as an integer comparison over list aggregates the
    // engine computes with the same arithmetic
    "x_gopher_rules" ->
      """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws,
             string_split(text, chr(10)) AS ls,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
               CAST((length(text) - length(replace(text, '...', ''))) // 3
                    AS BIGINT) AS n_sym
           FROM documents),
         m AS (SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(coalesce(list_sum(list_transform(ws, w -> length(w))),
                      0) AS BIGINT) AS sum_chars,
                 CAST(len(list_filter(ws,
                      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                 n_sym,
                 CAST(len(ls) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(ls, l -> l LIKE '-%' OR l LIKE '*%'
                      OR l LIKE '•%')) AS BIGINT) AS n_bullet,
                 CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT)
                   AS n_ell,
                 CAST(len(list_filter(['the','a','of','and','to','in','is'],
                      s -> list_contains(ws, s))) AS BIGINT) AS n_stop
               FROM d)
         SELECT doc_id, n_words,
           CAST(sum_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
             AS mean_word_len,
           CAST(n_alpha AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
             AS frac_alpha,
           CAST(n_sym AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
             AS sym_ratio,
           n_stop,
           n_words >= 50 AND n_words <= 100000 AS r_wordcount,
           sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words AS r_wordlen,
           5 * n_alpha >= 4 * n_words AS r_alpha,
           10 * n_sym <= n_words AS r_symbol,
           10 * n_bullet <= 9 * n_lines AS r_bullets,
           10 * n_ell <= 3 * n_lines AS r_ellipsis,
           n_stop >= 2 AS r_stopwords,
           (n_words >= 50 AND n_words <= 100000) AND
           (sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words) AND
           (5 * n_alpha >= 4 * n_words) AND (10 * n_sym <= n_words) AND
           (10 * n_bullet <= 9 * n_lines) AND (10 * n_ell <= 3 * n_lines) AND
           (n_stop >= 2) AS keep
         FROM m""",

    // per-click argmin over the user's purchases by (|delta| ASC,
    // purchase-ts ASC) — the quadratic ground truth for the two-pass
    // asof composition
    "x_nearest_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts,
                           epoch_us(ts) AS us
                         FROM events WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, max(event_id) AS purchase_id,
                          epoch_us(ts) AS rus
                   FROM events WHERE event_type = 'purchase'
                   GROUP BY user_id, ts),
         pairs AS (SELECT c.event_id, c.user_id, c.us, p.purchase_id,
                          p.rus, abs(p.rus - c.us) AS ad
                   FROM clicks c JOIN purch p USING (user_id)),
         pick AS (SELECT *, row_number() OVER
                    (PARTITION BY event_id ORDER BY ad, rus) AS rn
                  FROM pairs)
         SELECT c.event_id, c.user_id, c.us AS ts_us,
                k.purchase_id,
                CASE WHEN k.event_id IS NOT NULL THEN k.ad END
                  AS nearest_delta_us,
                CASE WHEN k.event_id IS NULL THEN NULL
                     WHEN k.rus <= c.us THEN 'back' ELSE 'fwd' END
                  AS nearest_dir
         FROM clicks c
         LEFT JOIN (SELECT * FROM pick WHERE rn = 1) k USING (event_id)""",

    // a1 = indegree, h1 = A a1, a2 = A^T h1 — exact integer CTE rounds,
    // one division by the global max at the end
    "x_hits" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                    FROM lineitem),
         a1 AS (SELECT p, CAST(count(*) AS HUGEINT) AS a1 FROM e GROUP BY p),
         h1 AS (SELECT s, sum(a1.a1) AS h1 FROM e JOIN a1 USING (p)
                GROUP BY s),
         a2 AS (SELECT p, sum(h1.h1) AS a2 FROM e JOIN h1 USING (s)
                GROUP BY p),
         amax AS (SELECT max(a2) AS amax FROM a2),
         top AS (SELECT a1.p, a1.a1, a2.a2 FROM a1 JOIN a2 USING (p)
                 ORDER BY a2.a2 DESC, a1.p ASC LIMIT 20)
         SELECT p, a1::BIGINT AS a1, a2::BIGINT AS a2,
                CAST(CAST(a2 AS VARCHAR) AS DOUBLE) /
                CAST(CAST(amax AS VARCHAR) AS DOUBLE) AS authority
         FROM top CROSS JOIN amax""",

    // the x_cos_topk machinery at k=11, self dropped, label vote with
    // the (votes DESC, label ASC) total order
    "x_knn_classify" ->
      """WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, label, v,
                      sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
               FROM n WHERE vec_id < 100),
         scored AS (SELECT query_id, n.vec_id AS neighbor_id, n.label AS nlabel,
                    CASE WHEN qn * nrm <> 0
                         THEN list_dot_product(qv, v) / (qn * nrm) END AS cos
                    FROM n CROSS JOIN q),
         ranked AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
                      AS rank
                    FROM scored),
         knn AS (SELECT query_id, neighbor_id, nlabel FROM ranked
                 WHERE rank <= 11 AND neighbor_id <> query_id),
         votes AS (SELECT query_id, nlabel, count(*) AS votes
                   FROM knn GROUP BY 1, 2),
         best AS (SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY votes DESC, nlabel ASC) AS rn
                  FROM votes)
         SELECT b.query_id, e.label, b.nlabel AS pred, b.votes,
                e.label = b.nlabel AS correct
         FROM best b JOIN e ON e.vec_id = b.query_id
         WHERE b.rn = 1""",
  )
}
