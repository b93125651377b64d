package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.operators.{Dedup, EventOps, Evolve, Graphs, LangModel, Multimodal, Retrieval, Similarity, Temporal}

/** Extension surface (SURVEY.md §2.10) — LLM-data-pipeline operators over
  * documents/embeddings/events: dedup family, similarity search, text
  * analysis, event-time windows, sessionization, JSON extraction,
  * multimodal binary plumbing.
  *
  * Oracle policy: everything whose math is deterministic across engines
  * (integer-derived ratios, md5, exact decimal sums, double ops on
  * identical inputs) gets exact DuckDB SQL. Seeded-hash operators
  * (MinHash LSH, SimHash, random-hyperplane ANN) are NOT SQL-reproducible
  * → rows-only check here, semantic equivalence asserted in ScalaTest
  * (they must find the same planted near-dups as their exact oracles).
  */
object Ext extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB rendering of [[Text.normText]]. */
  private val dNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  private def dMarker(vs: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${vs.map(v => s"'$v'").mkString(",")})))"

  /** DuckDB renderings of the [[Text]] quality signals (shared by
    * x_quality and the corpus-clean pipeline oracle). */
  private val dPunct =
    "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE / greatest(length(text), 1)"
  private val dStop =
    s"${dMarker(Text.langMarkers.toMap.apply("en"))}::DOUBLE / greatest(len(string_split(text, ' ')), 1)"
  private val dAvgLen =
    "(length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE / greatest(len(string_split(text, ' ')), 1)"
  private[queries] val dQuality =
    s"""least(length(text)::DOUBLE / 500.0, 1.0) * 0.3
        + (1.0 - least($dPunct * 5.0, 1.0)) * 0.2
        + least($dStop * 4.0, 1.0) * 0.3
        + (CASE WHEN $dAvgLen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup family ----
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),

    "x_dedup_norm" -> ((s, d) =>
      Dedup.normalizedExact(t(s, d, "documents"), "doc_id", "text")),

    "x_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxBucket = 1000)),

    // pairs → transitive-closure clusters: the stage that turns near-dup
    // PAIRS into a droppable assignment (keep doc_id == cluster_rep);
    // oracle is a recursive-CTE closure over the identical pair set
    "x_dedup_clusters" -> ((s, d) =>
      Graphs.dedupClusters(
        Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, maxBucket = 1000), "doc_a", "doc_b")),

    // kept as a graded name from when clustering had two algorithms;
    // it now runs the same operator as x_dedup_clusters
    "x_dedup_clusters_logstar" -> ((s, d) =>
      Graphs.dedupClusters(
        Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, maxBucket = 1000), "doc_a", "doc_b")),

    // quality-chosen cluster representatives: keep the BEST member of
    // each near-dup cluster (quality desc, id asc), not an arbitrary one
    "x_dedup_best_rep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Graphs.bestRepClusters(
        Dedup.ngramJaccard(docs, "doc_id", "text",
          n = 3, threshold = 0.5, maxBucket = 1000), "doc_a", "doc_b",
        docs.select(col("doc_id"), Text.qualityScore(col("text")).as("q")),
        "doc_id", "q")
    }),

    // overlapping sliding-window chunks (RAG/embedding inputs): width 30
    // words, stride 15 — boundary-straddling context survives
    "x_chunk_overlap" -> ((s, d) =>
      graft.operators.Pack.overlapChunks(
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id", "text",
        width = 30, stride = 15)),

    // winnowing (MOSS) fingerprints: guaranteed shared fingerprint for any
    // shared run of ≥ k+w−1 words; md5 ordering makes selection portable
    "x_winnow_fingerprint" -> ((s, d) =>
      Dedup.winnowFingerprints(t(s, d, "documents"), "doc_id", "text",
        k = 3, w = 4)),

    // md5-derived hash families (portable, like winnowing) — both LSH
    // detectors carry full differential oracles since round 5
    "x_dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text")),

    "x_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text")),

    // BOTH graded names run the LSH-blocked scale path — since round 7
    // no graded plan contains a crossJoin. `x_embed_neardup` keeps the
    // all-pairs SQL as its oracle (the strongest exactness proof: the
    // blocked plan must reproduce the O(n²) ground truth bit-for-bit;
    // ExtSpec separately asserts engine-side LSH ≡ engine-side
    // all-pairs on the fixtures, and Dedup.embeddingNearDup survives
    // as that spec-only twin). `x_embed_neardup_lsh` carries the
    // mechanism oracle: the hyperplanes are driver-side literal
    // doubles, so its SQL splices the SAME plane matrix
    // (Vectors.planeMatrix) and replays signature → bucket join →
    // exact-cosine verify.
    "x_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)),

    "x_embed_neardup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)),

    // ---- similarity search ----
    "x_cos_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    // maximum-inner-product top-k (MIPS): rank by the raw dot, the
    // unnormalized-embedding retrieval primitive; query-broadcast scan +
    // bounded-heap shortlist. The Bachrach/Neyshabur norm-augmentation
    // reduction to cosine (what lets the LSH/IVF/PQ indexes serve MIPS
    // at scale) ships as Similarity.mipsAugment, order-equivalence
    // spec-pinned in ExtSpec.
    "x_mips" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.mipsTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    // product-quantization ANN: per-subspace codebooks (portable k-means
    // ×4), ADC shortlist over the m-code compressed corpus, exact rerank
    "x_ann_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.pqTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, shortlist = 25)
    }),

    // SQ8 two-stage retrieval: integer-dot shortlist over int8 codes
    // (the 4×-cheaper wide scan), exact cosine rerank on the survivors —
    // portable quantizer + integer coarse scores make it hash-exact
    "x_ann_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.quantizedRerank(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, shortlist = 25)
    }),

    // same exact top-k through the custom TopKPerKeyExec plan (bounded
    // heap per key, no sort) — identical output, same oracle
    "x_cos_topk_custom" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5,
        useCustomPlan = true)
    }),

    // exact since r5: literal hyperplanes + deterministic multi-probe
    // replay entirely in SQL (see dAnnLshOracle)
    "x_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    "x_ann_ivf" -> ((s, d) => {       // exact since r5 (portable k-means)
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    }),

    // SemDeDup: the portable k-means bounds the quadratic near-dup
    // verify to within-cluster pairs — exact end to end (dSemDedupOracle
    // replays clustering AND prune in SQL)
    "x_semdedup" -> ((s, d) =>
      Dedup.semDedup(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
        .select(col("id").as("vec_id"), col("list"))),

    // sub-document (chunk-level) dedup: fixed 10-token windows — the
    // paragraph-dedup preprocessing step, demonstrated at chunk
    // granularity since the corpus has no sentence delimiters. Guarded
    // sequence (Spark's sequence() DESCENDS when end < start).
    "x_chunk_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = Text.tokens(col("text"))
      val idx = when(size(w) >= 10,
        sequence(lit(0), (size(w) / 10).cast("int") - 1))
        .otherwise(array().cast("array<int>"))
      docs.select(col("doc_id"),
        explode(transform(idx, i =>
          concat_ws(" ", slice(w, i * 10 + 1, lit(10))))).as("chunk"))
        .filter(col("chunk") =!= "")
        .groupBy("chunk").agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_occurrences") >= 2)
    }),

    // per-label embedding centroids — THE vector aggregation at scale
    // (posexplode → hash agg on (label, dim)). Sums are FIXED-POINT
    // (floor to the 2^-20 grid, exact for any float: ×2^20 only shifts
    // the exponent) so accumulation is integer — associative, partition-
    // order independent, and bit-identical to the sequential DuckDB
    // oracle; the final mean divides exactly-representable integers.
    "x_embed_centroids" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("dim"))
        .agg(sum(floor(col("col").cast("double") * 1048576.0).cast("long")).as("qsum"),
          count(lit(1)).as("n"))
        .select(col("label"), col("dim"), col("qsum"), col("n"),
          (col("qsum").cast("double") / (col("n") * 1048576.0)).as("centroid"))),

    // vector feature engineering: clip / threshold-count / l2 — the
    // per-row array surface (HOFs stay codegen'd; folds are strict
    // left-to-right doubles, matching DuckDB's sequential list_sum /
    // list_dot_product, so the oracle is exact)
    "x_vector_features" -> ((s, d) => {
      val vd = transform(col("embedding"), x => x.cast("double"))
      val clipped = transform(vd, x => greatest(least(x, lit(0.05)), lit(-0.05)))
      t(s, d, "embeddings").select(col("vec_id"),
        aggregate(clipped, lit(0.0), (a, x) => a + x).as("clip_sum"),
        size(filter(vd, x => x > 0.05)).as("n_above"),
        graft.functions.Vectors.l2Norm(col("embedding")).as("l2"))
    }),

    // ---- text analysis ----
    "x_text_stats" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.tokenCountWs(col("text")).as("n_tokens_ws"),
        Text.tokenCountBpe(col("text")).as("n_tokens_bpe"),
        Text.avgTokenLen(col("text")).as("avg_token_len"),
        Text.fingerprintMd5(col("text")).as("fp_md5"))),

    "x_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        Text.langId(col("text")).as("lang_pred"))),

    // outlier report for feature prep: per-group p05/p95 fences (exact
    // interpolated percentiles — Spark percentile ≡ DuckDB quantile_cont
    // bit-exactly, proven by x_percentile) + winsorization head/tail
    // counts. Counts instead of clipped sums: the fence is an arbitrary-
    // precision double, and summing many copies of it is float-order
    // territory — the integer report is exact and what a pipeline logs.
    "x_outlier_clip" -> ((s, d) => {
      // window form: one scan — but EXACT per-group percentiles require
      // every group's values concentrated into that group's partition
      // (true of agg-then-join too: exact quantiles are not mergeable).
      // With |distinct l_returnflag| = 3 that is 3 tasks holding the
      // whole table — fine as the small-scale ORACLE form; the 100 TB
      // path is x_outlier_clip_approx below, whose KLL sketch aggregates
      // with bounded mergeable state and never concentrates a group.
      val byFlag = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("p05",
          expr("percentile(l_extendedprice, 0.05)").over(byFlag))
        .withColumn("p95",
          expr("percentile(l_extendedprice, 0.95)").over(byFlag))
        .groupBy(col("l_returnflag"), col("p05"), col("p95"))
        .agg(count(lit(1)).as("n"),
          count(when(col("l_extendedprice") < col("p05"), 1)).as("n_below"),
          count(when(col("l_extendedprice") > col("p95"), 1)).as("n_above"))
        .select("l_returnflag", "p05", "p95", "n", "n_below", "n_above")
    }),

    // robust (median/MAD) outlier report — what a heavy-tailed column
    // needs instead of mean/stddev z-scores: fences at med ± 4.4478·MAD
    // (4.4478 = 3 × the 1.4826 normal-consistency constant, FOLDED to one
    // literal so both engines parse the identical double; composing
    // 3.0*(1.4826*mad) would round differently than the folded constant).
    // Same exact-window concentration honesty as x_outlier_clip — the
    // KLL sketch twin pattern applies unchanged at 100 TB.
    "x_mad_outlier" -> ((s, d) => {
      val byFlag = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("med", expr("percentile(l_extendedprice, 0.5)").over(byFlag))
        .withColumn("ad", abs(col("l_extendedprice") - col("med")))
        .withColumn("mad", expr("percentile(ad, 0.5)").over(byFlag))
        .withColumn("lo", col("med") - lit(4.4478) * col("mad"))
        .withColumn("hi", col("med") + lit(4.4478) * col("mad"))
        .groupBy(col("l_returnflag"), col("med"), col("mad"),
          col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          count(when(col("l_extendedprice") < col("lo")
            || col("l_extendedprice") > col("hi"), 1)).as("n_out"))
        .select("l_returnflag", "med", "mad", "lo", "hi", "n", "n_out")
    }),

    // the 100 TB outlier report: approx_percentile (KLL-style sketch,
    // bounded mergeable state — a normal map-side-combinable hash agg, NO
    // per-group value concentration), fences broadcast back for the
    // head/tail counts. Two scans instead of one, but both scans are
    // embarrassingly parallel at any group cardinality/skew — the honest
    // trade against the exact form above. Round-9 graded form (verdict
    // item 4): the approx fences are sketch-internal doubles, so the
    // output is the VERDICT — exact n (DuckDB-verified) plus BOOLEANs
    // asserting (a) each approx fence is within 3% of the exact
    // percentile (ExtSpec measured <2% at sf0.01) and (b) the head/tail
    // fractions counted against the approx fences stay in a loose
    // [2%, 8%] band around the nominal 5%. Oracle emits literal TRUE —
    // sketch drift → engine FALSE → loud hash fail.
    "x_outlier_clip_approx" -> ((s, d) => {
      // spread the one-task scan before the fence aggregate (the
      // x_approx_stats recipe): the exact-percentile partial buffers
      // every value of its partition, so on the single-row-group
      // fixture the whole 600k-value sort load sat in ONE map task
      // (JobProbe r16: one 1.4 s job). Exact percentile and counts are
      // partitioning-invariant; the approx fences only feed the 3% /
      // [2%,8%] tolerance booleans (rank-error bound + the verified
      // oracle runs at both graded sfs, as in x_approx_stats).
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_returnflag", "l_extendedprice"))
      val fences = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.05, 0.95), 10000)")
          .as("f"),
          expr("percentile(l_extendedprice, array(0.05, 0.95))").as("e"))
        .select(col("l_returnflag"),
          col("f").getItem(0).as("p05"), col("f").getItem(1).as("p95"),
          (abs(col("f").getItem(0) - col("e").getItem(0)) <=
            lit(0.03) * abs(col("e").getItem(0))).as("p05_ok"),
          (abs(col("f").getItem(1) - col("e").getItem(1)) <=
            lit(0.03) * abs(col("e").getItem(1))).as("p95_ok"))
      li.join(broadcast(fences), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("p05"), col("p95"),
          col("p05_ok"), col("p95_ok"))
        .agg(count(lit(1)).as("n"),
          count(when(col("l_extendedprice") < col("p05"), 1)).as("nb"),
          count(when(col("l_extendedprice") > col("p95"), 1)).as("na"))
        .select(col("l_returnflag"), col("n"), col("p05_ok"), col("p95_ok"),
          (col("nb") >= lit(0.02) * col("n") &&
            col("nb") <= lit(0.08) * col("n")).as("below_frac_ok"),
          (col("na") >= lit(0.02) * col("n") &&
            col("na") <= lit(0.08) * col("n")).as("above_frac_ok"))
    }),

    // intra-document repetition (the Gopher-style repetition filter):
    // duplicated-3-gram ratio from the positional vs distinct gram counts
    "x_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Text.explodePositionalShingles(col("text"), 3).as(Seq("pos", "sh")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), countDistinct(col("sh")).as("n_distinct"))
        .withColumn("rep_ratio", lit(1.0) -
          col("n_distinct").cast("double") / col("n_grams").cast("double"))),

    "x_quality" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        Text.qualityScore(col("text")).as("quality"))),

    // Misra-Gries frequent terms — the bounded-memory alternative to the
    // exact x_doc_top_terms path. Round-9 graded form (verdict item 4):
    // the sketch's surviving sub-threshold terms and their counts depend
    // on Spark's partial-merge ORDER (nondeterministic across runs), so
    // the output is the merge-order-INVARIANT verdict the MG guarantee
    // promises regardless of order: exact token total and heavy-hitter
    // census (DuckDB-verified), plus BOOLEANs asserting every true heavy
    // hitter (> n/(k+1)) survives, every reported count c satisfies
    // exact - n/(k+1) <= c <= exact, and the sketch kept <= k counters.
    // Oracle emits literal TRUE for each guarantee.
    "x_top_terms_sketch" -> ((s, d) => {
      val k = 20
      val tok = t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val sk = tok.agg(Text.approxTopTerms(col("term"), k).as("sketch"))
        .select(size(col("sketch")).as("sz"),
          explode(col("sketch")).as(Seq("term", "approx_count")))
      val exact = tok.groupBy("term").agg(count(lit(1)).as("exact_count"))
      val tot = exact.agg(sum("exact_count").as("n_tokens"))
      val stats = exact.crossJoin(broadcast(tot))
        .agg(max("n_tokens").as("n_tokens"),
          count(when(col("exact_count") >
            col("n_tokens") / lit((k + 1).toDouble), 1)).as("n_heavy"))
      sk.join(exact, Seq("term"), "left")
        .crossJoin(broadcast(stats))
        .agg(max("n_tokens").as("n_tokens"), max("n_heavy").as("n_heavy"),
          (max("sz") <= lit(k)).as("size_ok"),
          (count(when(coalesce(col("exact_count"), lit(0L)) >
            col("n_tokens") / lit((k + 1).toDouble), 1)) === max("n_heavy"))
            .as("all_heavy_in_sketch"),
          min(col("approx_count") <= coalesce(col("exact_count"), lit(-1L))
            && coalesce(col("exact_count"), lit(0L)) - col("approx_count")
              <= col("n_tokens") / lit((k + 1).toDouble)).as("sound"))
    }),

    // ---- retrieval / ranking (IR side of corpus selection) ----
    // BM25 over a bag-of-terms query; per-term score components pivot to
    // COLUMNS and add left-to-right, so the double score is partition-
    // order-independent and the DuckDB replay hash-matches
    "x_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("join", "merge", "scan"), k = 20)),

    "x_tfidf_terms" -> ((s, d) =>
      Retrieval.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text",
        k = 3, minDf = 2)),

    // postings serialized to a CSV string: the comparator sorts rows in
    // pandas, which cannot hash array cells — the list itself is the
    // operator's output, the string is its graded wire form
    "x_inverted_index" -> ((s, d) =>
      Retrieval.invertedIndex(t(s, d, "documents"), "doc_id", "text",
        minDf = 5, maxPostings = 100)
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ","))),

    // int8 embedding quantization (4× storage shrink for the ANN/dedup
    // embedding columns): explicit-floor rounding so codes replay
    // bit-exactly in SQL; max reconstruction error ≤ scale/2 logged.
    // Codes graded as their CSV serialization (comparator can't sort
    // array cells); the array form stays the library API.
    "x_embed_quantize" -> ((s, d) =>
      t(s, d, "embeddings").select(col("vec_id"),
        array_join(graft.functions.Vectors.quantizeInt8(col("embedding"))
          .cast("array<string>"), ",").as("q8"),
        graft.functions.Vectors.int8Scale(col("embedding")).as("scale"),
        graft.functions.Vectors.int8MaxError(col("embedding")).as("max_err"))),

    // ANALYZE-style one-scan table profile: per-column min/max/NDV/nulls.
    // Graded in its exact-NDV form on the dimension-sized customer table
    // (exact multi-distinct EXPANDs once per column — 25 s on lineitem at
    // sf0.1); the fact-table / 100 TB form is the same call with the
    // default approx (HLL) NDV, one pass, no expand.
    "x_table_stats" -> ((s, d) =>
      graft.sources.Warehouse.analyzeStats(t(s, d, "customer"),
        exactNdv = true)),

    // deterministic split assignment: split is a pure function of the id
    // (md5 bucket), reproducible across reruns/partitionings/engines
    "x_split_assign" -> ((s, d) =>
      graft.operators.Sampling.hashSplit(
        t(s, d, "documents").select("doc_id", "source"), "doc_id")),

    // PII redaction over a deliberately PII-laden synthesized column
    // (the documents fixture has no PII — emails/phones/IPs are built
    // from customer fields, then scrubbed; the oracle builds and scrubs
    // the identical strings)
    "x_redact_pii" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Text.redactPii(concat_ws(" ",
          lit("reach"), col("c_name"), lit("at"),
          concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", ".")),
            lit("@example.com")),
          lit("or"),
          concat_ws("-", lit("25"),
            lpad(((col("c_custkey") * 7) % 1000).cast("string"), 3, "0"),
            lpad(((col("c_custkey") * 13) % 1000).cast("string"), 3, "0"),
            lpad(((col("c_custkey") * 17) % 10000).cast("string"), 4, "0")),
          lit("from"),
          concat_ws(".", lit("10"), (col("c_custkey") % 256).cast("string"),
            lit("0"), (col("c_custkey") % 250).cast("string")),
          col("c_mktsegment"))).as("clean_text"))),

    // bigram-LM perplexity filter (CCNet-style): score docs by average
    // bigram log-prob under the corpus's own add-one-smoothed model;
    // exact-oracled end to end thanks to the portable ln + ordered fold
    "x_lm_score" -> ((s, d) =>
      LangModel.bigramScore(t(s, d, "documents"), "doc_id", "text")),

    // BPE merge training: k rounds of weighted-pair argmax + greedy
    // merge rewrite over the distinct-word vocabulary — exact since r7
    // (the oracle unrolls the k rounds: SQL argmax + list_reduce merge
    // fold per round); PmathSpec checks the merge sequence against an
    // independent plain-Scala BPE reference too
    "x_bpe_merges" -> ((s, d) =>
      LangModel.bpeMerges(t(s, d, "documents"), "doc_id", "text", k = 8)),

    // sparse TF-IDF cosine pairs: the term-join dual of embedding
    // near-dup — candidates only where terms are shared, stop words
    // pruned by the df cap (simultaneously the skew guard)
    "x_sparse_sim" -> ((s, d) =>
      graft.operators.Retrieval.sparseCosinePairs(
        t(s, d, "documents"), "doc_id", "text", maxDf = 100, threshold = 0.5)),

    // per-doc token Shannon entropy: the repetitiveness axis of quality
    // filtering — exact integer ratios through the portable ln, summed
    // over the token-sorted term list
    "x_token_entropy" -> ((s, d) =>
      LangModel.tokenEntropy(t(s, d, "documents"), "doc_id", "text")),

    // PMI collocations: adjacent pairs co-occurring beyond what unigram
    // frequencies predict — exact integer products, portable ln on the
    // ≥1 ratio branch, sign from an integer compare
    "x_pmi" -> ((s, d) =>
      LangModel.pmiCollocations(t(s, d, "documents"), "doc_id", "text",
        minCount = 5L)),

    // hashing-trick linear classifier serving: md5-bucket weights summed
    // per doc — the map-side shape a trained fastText-style quality
    // model runs with at corpus scale (weights deterministic stand-ins)
    "x_hash_classifier" -> ((s, d) =>
      LangModel.hashedClassifier(t(s, d, "documents"), "doc_id", "text")),

    // CCNet head/middle/tail: tercile cutoffs of the LM score, assigned
    // by broadcast compare — no global sort/ntile of the corpus
    "x_ppl_buckets" -> ((s, d) =>
      LangModel.perplexityBuckets(t(s, d, "documents"), "doc_id", "text")),

    // DSIR importance-resampling log-weights vs the English slice:
    // hashed-unigram bucket distributions, portable-ln ratio fold
    "x_dsir_weights" -> ((s, d) =>
      LangModel.dsirWeights(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 256)),

    // Lee-et-al substring-dedup measurement: fraction of each doc's
    // token positions covered by a 3-gram shared with another doc
    // (interval-union over positions, exact integer arithmetic)
    "x_dup_span" -> ((s, d) =>
      graft.operators.Dedup.dupSpanCoverage(
        t(s, d, "documents"), "doc_id", "text", n = 3)),

    // bounded-iteration PageRank over the supplier–part incidence graph:
    // 3 rounds, damping 0.85 — per-node contribution sums are fixed-point
    // floor(c·2^40) long sums, so they are associative (partial-agg and
    // skew-split friendly), partition-invariant, and oracle-exact
    "x_pagerank" -> ((s, d) =>
      graft.operators.Graphs.pageRank(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", iters = 3)),

    // landmark closeness + harmonic centrality over the same incidence
    // graph: k=4 simultaneous BFS searches in one frontier frame, then
    // an integer per-(landmark, dist) histogram readout — closeness is
    // one exact-integer division, harmonic a parameter-bounded
    // dist-ascending fold. The oracle reruns the BFS as a bounded
    // recursive CTE (the one operator class where both engines execute
    // true recursion) and folds the same histogram.
    "x_closeness" -> ((s, d) =>
      graft.operators.Graphs.landmarkCloseness(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", k = 4, maxHops = 8)),

    // landmark (sampled Brandes) betweenness over the same incidence
    // graph: forward BFS with exact BIGINT path counts, backward
    // dependency accumulation as integer-exact fixed-point longs
    // (cq = (sigma_v * (2^30 + dq_w)) div sigma_w — no floats until the
    // single final division), k=4 landmarks, 6-hop horizon. The oracle
    // unrolls both passes level by level (the x_pagerank recipe) with
    // HUGEINT // arithmetic.
    "x_betweenness" -> ((s, d) =>
      graft.operators.Graphs.landmarkBetweenness(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", k = 4, maxHops = 6)),

    // HyperANF neighborhood function + effective diameter over the same
    // incidence graph: every node sketches its t-ball with the portable
    // HLL registers (the x_hll_portable machinery), one register-max
    // join+agg round per hop — the whole-graph distance distribution no
    // landmark BFS can give. N(t) sums as fixed-point floor(est·2^20)
    // integers; the oracle unrolls the same 6 rounds (MATERIALIZED per
    // level) and replays the estimate arithmetic bit-for-bit
    // Mode choice (round 14, VERDICT r13 item 1): this headline stays
    // on retainRounds = TRUE — the shared census is ONE aggregation
    // job over all rounds' frames where the fold pays rounds extra
    // census jobs + per-round codegen (measured +3.2 s at sf0.1:
    // 4.73 → 7.93, codegen-off control confirms ~1.5 s of it is
    // per-round compile). The LOW-RESIDENCY fold — the shape for
    // billion-node diameter sweeps where rounds·n·64 B cannot sit in
    // the block managers — is graded end-to-end by the
    // x_eff_diameter_fold twin below (byte-identical per-t arithmetic;
    // GraphsSpec additionally pins retain≡fold equality on one graph).
    "x_eff_diameter" -> ((s, d) =>
      graft.operators.Graphs.hyperANF(
        t(s, d, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", rounds = 6, alphaPct = 90)),

    // The retainRounds = false release-per-round path graded on its own
    // census: quarter-size incidence graph (l_partkey ≡ 0 mod 4 — a
    // pure data function, identical in the oracle's e0 CTE) and 3
    // rounds — the per-round fixed cost (advance + census jobs at
    // ~0.7 s/round on this box regardless of data size) prices the
    // twin, so the round count is the budget knob; the code path
    // (per-round census fold + prefix-frame release) is exactly what
    // the 100 TB diameter sweep runs at any round count.
    "x_eff_diameter_fold" -> ((s, d) =>
      graft.operators.Graphs.hyperANF(
        t(s, d, "lineitem").filter(col("l_partkey") % 4 === 0).select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
        "src", "dst", rounds = 3, alphaPct = 90,
        retainRounds = false)),

    // PERSONALIZED PageRank over the same incidence graph: teleport mass
    // returns to the SUPPLIER side only (the seed set, derived from the
    // edge frame so no seed can dangle) — the seed-relative relevance /
    // corpus-expansion primitive. Same fixed-point long-sum rounds as
    // x_pagerank, plus one full-outer teleport join per round
    "x_ppr" -> ((s, d) => {
      val e = t(s, d, "lineitem").select(
        concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      graft.operators.Graphs.personalizedPageRank(
        e, "src", "dst", e.select(col("src")), "src", iters = 3)
    }),

    // exact triangle census of the part co-purchase graph (parts sharing
    // an order ≥ 2 times): degree-ordered wedge closure — the orientation
    // bounds every out-neighborhood by O(√m), so the hub part that would
    // blow up naive wedge enumeration contributes almost none
    "x_triangle_count" -> ((s, d) => {
      // Skew.spread of the 2-column scan before the co-purchase
      // self-join (round 16, measured on the shared coEdges shape):
      // the join broadcasts one side, so the probe-side fan-out
      // (~k² pairs per order) plus the distinct's partial aggregate
      // all ran inside the 3 scan tasks (JobProbe: one ~1.7 s 3-task
      // job). Spreading the scan parallelizes that chain; every
      // downstream value is a count/sum — partitioning-invariant.
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
      val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      val coEdges = l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
        .distinct()
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ord"))
        .filter(col("n_ord") >= 2)
      Graphs.triangleStats(coEdges, "pa", "pb")
    }),

    "x_doc_stats_by_source" -> ((s, d) =>
      t(s, d, "documents").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(Text.qualityScore(col("text"))).as("min_quality"),
        max(Text.qualityScore(col("text"))).as("max_quality"))),

    // ---- events: JSON, windows, sessions ----
    "x_json_extract" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))),

    "x_window_tumbling" -> ((s, d) =>
      EventOps.tumblingAgg(t(s, d, "events"), "ts")),

    // per-user exponentially decayed activity score (α=0.2): the linear
    // recurrence as a ts-ordered left fold — partition-invariant doubles,
    // replayed by DuckDB list_reduce over a 0.0-prepended list
    "x_ewma" -> ((s, d) =>
      EventOps.ewma(t(s, d, "events"), "user_id", "ts", "event_id",
        "value", alpha = 0.2)),

    // first-order Markov transition matrix of user event sequences:
    // lag-window pair counts row-normalized to probabilities — exact
    // integers + one two-integer division per cell
    "x_markov" -> ((s, d) =>
      EventOps.markovTransitions(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type")),

    // Merkle-style replica sync digest: 64 bucket digests stand in for
    // the whole table in a replica compare; columns are rendered through
    // engine-stable forms (int/string/decimal — never raw doubles, whose
    // shortest-representation strings differ across engines)
    "x_table_digest" -> ((s, d) =>
      graft.sources.Warehouse.tableDigest(
        t(s, d, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"),
          col("c_mktsegment")),
        "c_custkey", nBuckets = 64)),

    // the custom shingle Generator through the SQL surface: LATERAL VIEW
    // over graft_shingles (a UDTF registered via SparkSessionExtensions)
    "x_lateral_generator" -> ((s, d) => {
      graft.plans.GraftExtensions.register(s)
      t(s, d, "documents").filter(col("doc_id") < 100)
        .createOrReplaceTempView("gq_docs")
      s.sql("""SELECT doc_id, shingle FROM gq_docs
               LATERAL VIEW graft_shingles(text, 3) t AS shingle""")
    }),

    // map-typed columns: build a map from JSON props, explode to entry
    // rows (entry iteration order is irrelevant — the gate compares row
    // SETS) — the §2.8 map-function surface
    "x_map_funcs" -> ((s, d) =>
      t(s, d, "events").filter(col("event_id") < 2000)
        .select(col("event_id"), explode(map(
          lit("k"), get_json_object(col("props"), "$.k"),
          lit("amt"), get_json_object(col("props"), "$.amt"))))
        .withColumnRenamed("key", "prop_key")
        .withColumnRenamed("value", "prop_val")),

    // correlated subqueries through the SQL front end: EXISTS (rewritten
    // by Catalyst to a semi join), NOT EXISTS (anti join), and a scalar
    // subquery (broadcast single-row) — the §2.8 subquery surface
    "x_subqueries" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("gq_customer")
      t(s, d, "orders").createOrReplaceTempView("gq_orders")
      s.sql("""
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) *
                 (SELECT COUNT(*) FROM gq_customer) >
                 (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                  FROM gq_customer) AS above_avg
        FROM gq_customer c
        WHERE EXISTS (SELECT 1 FROM gq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM gq_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 5000)""")
    }),

    // null-safe equality join (<=>): the join shape where NULL keys MATCH
    // each other — reconciling two aggregates of a nullable key without
    // losing the null group (a plain equi-join silently drops it)
    "x_null_safe_join" -> ((s, d) => {
      // k % 7 == 0 → null: the fixture's props.k is never absent, so null
      // keys are planted deterministically to exercise the null group
      val kRaw = get_json_object(col("props"), "$.k").cast("int")
      val ev = t(s, d, "events").select(col("event_id"),
        when(kRaw % 7 =!= 0, kRaw).as("k"))
      val a = ev.filter(col("event_id") % 2 === 0).groupBy("k")
        .agg(count(lit(1)).as("n_even")).withColumnRenamed("k", "ka")
      val b = ev.filter(col("event_id") % 2 === 1).groupBy("k")
        .agg(count(lit(1)).as("n_odd")).withColumnRenamed("k", "kb")
      a.join(b, col("ka") <=> col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("k_val"),
          (col("ka").isNull && col("kb").isNull).as("is_null_group"),
          coalesce(col("n_even"), lit(0L)).as("n_even"),
          coalesce(col("n_odd"), lit(0L)).as("n_odd"))
    }),

    // relative-rank window functions: percent_rank = (rank−1)/(n−1) and
    // cume_dist = peers≤current/n — both two-integer divisions, exact
    "x_percent_rank" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
      t(s, d, "orders").filter(col("o_orderkey") % 29 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }),

    // RANGE-frame rolling window (value-based frame, not row-based — the
    // one window frame shape the surface lacked): per-user trailing-24h
    // event count and decimal-exact value sum at every event
    "x_rolling_range" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_s"))
        .rangeBetween(-86399L, 0L)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 1000000").as("ts_s"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_24h"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("v_24h"))
    }),

    // full outer join (the one join shape §2.8 lacked a graded query
    // for): open-vs-filled order counts reconciled per customer, with
    // one-sided keys surfaced — both aggregates shuffle on the key, the
    // join rides the same partitioning
    "x_full_outer" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_open"))
      val b = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_filled"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_open"), lit(0L)).as("n_open"),
          coalesce(col("n_filled"), lit(0L)).as("n_filled"),
          (col("n_open").isNull || col("n_filled").isNull).as("one_sided"))
    }),

    "x_window_sliding" -> ((s, d) =>
      EventOps.slidingAgg(t(s, d, "events"), "ts")),

    "x_sessionize" -> ((s, d) =>
      EventOps.sessionize(t(s, d, "events"), "user_id", "ts", gapMinutes = 30)),

    // session path mining: gap-cut sessions rendered as ordered
    // event-type paths, frequency table of paths seen >= 3 times
    "x_event_paths" -> ((s, d) =>
      EventOps.sessionPaths(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", gapMinutes = 30, minCount = 3L)),

    // hourly densification + running totals: the zero-hour rows a model
    // needs but the raw event log omits by construction
    "x_gap_fill" -> ((s, d) =>
      EventOps.gapFillHourly(t(s, d, "events"), "user_id", "ts")),

    // ordered 3-stage funnel, each stage within 1 day of the previous
    "x_funnel" -> ((s, d) =>
      EventOps.funnel(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 86400L)),

    // time-weighted value per user: step interpolation, exact integer
    // weights + fixed-point mass (see EventOps.timeWeightedAvg)
    "x_time_weighted" -> ((s, d) =>
      EventOps.timeWeightedAvg(t(s, d, "events"), "user_id", "ts",
        "event_id", "value")
        .withColumnRenamed("k", "user_id")),

    // weekly cohort retention matrix: first-active week × return offset
    "x_cohort_retention" -> ((s, d) =>
      EventOps.cohortRetention(t(s, d, "events"), "user_id", "ts")),

    // ---- time-series joins (operators Spark lacks natively) ----
    // for each click, the user's latest purchase at-or-before it
    "x_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      // as-of needs unique (key, ts) on the right: collapse purchase ties
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("purchase_id"))
      Temporal.asofJoin(clicks, purchases, "user_id", "ts", Seq("purchase_id"))
        .select(col("event_id"), col("user_id"),
          col("_asof.purchase_id").as("last_purchase_id"))
    }),

    // pure range self-join (no equi key): events within ±5 min, binned
    "x_range_join" -> ((s, d) =>
      Temporal.neighborCounts(t(s, d, "events"), "event_id", "ts", 300)
        .withColumnRenamed("id", "event_id")),

    // ---- OLAP breadth beyond the reference (§2.8 notes the reference
    // has none of these; an engine its users switch to still needs them) ----
    "x_rollup_stats" -> ((s, d) =>
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))),

    "x_set_ops" -> ((s, d) => {
      val o = t(s, d, "orders")
      val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val closed = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      open.intersect(closed)            // custkeys with both open and closed
        .except(o.filter(col("o_totalprice") > 400000).select("o_custkey"))
        .union(o.filter(col("o_orderstatus") === "P").select("o_custkey").distinct())
        .distinct()
    }),

    "x_semi_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    // anti against the rare 'P' status so the result is non-degenerate
    // (every customer has SOME order in this corpus)
    "x_anti_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    "x_cube_stats" -> ((s, d) =>
      t(s, d, "orders").cube(col("o_orderstatus"),
        year(col("o_orderdate")).as("order_year")).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))),

    "x_unpivot" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 1000)
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")),

    "x_string_agg" -> ((s, d) =>
      t(s, d, "nation").join(t(s, d, "region"),
        col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        // collect_set order is partition-dependent; array_sort restores
        // determinism so the concatenation is oracle-exact
        .agg(concat_ws(",", array_sort(collect_set(col("n_name"))))
          .as("nations"))),

    // deterministic stratified sample: per-stratum modulo rates (hash
    // sampling without engine RNG, so partitioning can't change the rows)
    "x_stratified_sample" -> ((s, d) =>
      t(s, d, "customer").filter(pmod(col("c_custkey"), lit(10)) <
        when(col("c_mktsegment") === "AUTOMOBILE", 5)
          .when(col("c_mktsegment") === "BUILDING", 2)
          .otherwise(1))
        .select("c_custkey", "c_mktsegment")),

    // equi-DEPTH histogram via a DISTRIBUTED ntile: global row_number
    // from the Rank spine (range-partitioned, offset-patched) and
    // Rank.ntileCol's integer reconstruction — bit-identical to SQL
    // ntile(4) over the same total order, without the single-partition
    // window the naive spelling plans. (x_approx_stats is the sketch
    // path that trades exactness for one pass at higher k.)
    "x_ntile_quartiles" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_totalprice"), col("o_orderkey"))
      val nRow = o.agg(count(lit(1)).as("n_total"))
      graft.operators.Rank
        .withRowNumber(o, Seq("o_totalprice", "o_orderkey"), "rn")
        .crossJoin(broadcast(nRow))
        .select(col("o_totalprice"),
          graft.operators.Rank.ntileCol(col("rn"), col("n_total"), 4)
            .as("quartile"))
        .groupBy("quartile").agg(count(lit(1)).as("n"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
    }),

    "x_topn_global" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    "x_distinct_count" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus").agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))),

    "x_percentile" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, array(0.25, 0.75))").as("pq"))
        .select(col("l_returnflag"), col("median_qty"),
          element_at(col("pq"), 1).as("price_q1"),
          element_at(col("pq"), 2).as("price_q3"))),

    // sketch aggregates — the 100 TB path where exact countDistinct /
    // percentile shuffle too much. Round-9 form (verdict item 4): the
    // raw estimates are engine-specific (HLL/KLL internals), so the
    // GRADED output is the verdict — the exact values (hash-verified
    // against DuckDB's native exact computation) plus BOOLEANs asserting
    // the engine's sketch lands within tolerance of that verified exact.
    // The oracle emits literal TRUE: if the sketch ever drifts out of
    // tolerance the engine emits FALSE and the driver hash fails loudly.
    // (At 100 TB you'd run only the sketch side; the exact twin here is
    // the test-scale accuracy harness, same pattern as ExtSpec's bounds.)
    "x_approx_stats" -> ((s, d) =>
      // spread the one-task scan: the exact-percentile partial
      // aggregate buffers every value of its partition, so on the
      // single-row-group fixture the whole sort load sat on one core
      // (Skew.spread scaladoc). Exact columns are partitioning-
      // invariant; the sketch columns only feed the 5% tolerance
      // booleans, whose margin covers percentile_approx's rank-error
      // bound (accuracy=1000 ⇒ ~0.1% rank error — a VALUE guarantee
      // only up to the distribution's local gaps, so the booleans rest
      // on that bound PLUS the verified oracle runs at both graded sfs
      // rather than on construction alone; ADVICE r15)
      graft.operators.Skew.spread(t(s, d, "lineitem")
        .select("l_returnflag", "l_partkey", "l_extendedprice"))
        .groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("ad"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("am"),
        countDistinct(col("l_partkey")).as("n_exact_parts"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
        .select(col("l_returnflag"), col("n_exact_parts"),
          col("median_price"),
          (abs(col("ad") - col("n_exact_parts")) <=
            lit(0.05) * col("n_exact_parts")).as("dist_ok"),
          (abs(col("am") - col("median_price")) <=
            lit(0.05) * abs(col("median_price"))).as("median_ok"))),

    "x_window_funcs" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("order_seq"),
        rank().over(w).as("date_rank"),
        count(lit(1)).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).as("running_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("double").as("running_spent"),
        date_format(lag(col("o_orderdate"), 1).over(w), "yyyy-MM-dd").as("prev_order_date"))
    }),

    // benchmark decontamination: train docs (id % 10 != 0) sharing a
    // winnow fingerprint with the eval split (id % 10 == 0) — the
    // split form fingerprints the corpus ONCE
    "x_decontaminate" -> ((s, d) =>
      graft.pipelines.Corpus.contaminationBySplit(
        t(s, d, "documents"), "doc_id", "text",
        col("doc_id") % 10 === 0)),

    // exhaustive per-doc contamination ratio: fraction of each train
    // doc's distinct 3-grams appearing in the eval split (the GPT-3
    // appendix-C measurement; x_decontaminate is the sampled boolean)
    "x_contam_overlap" -> ((s, d) =>
      graft.pipelines.Corpus.ngramOverlap(
        t(s, d, "documents"), "doc_id", "text",
        col("doc_id") % 10 === 0)),

    // UniMax-style temperature sampling weights (τ=0.5 ⇒ IEEE sqrt,
    // portable): per-source token mass → flattened sampling quota
    "x_temp_sample" -> ((s, d) =>
      graft.pipelines.Corpus.temperatureWeights(
        t(s, d, "documents"), "source", "text", budgetTokens = 10000L)),

    // budget-capped mixture: first 500 tokens per source, id order
    // (budget < per-source token mass, so the cap actually binds)
    "x_data_mix" -> ((s, d) =>
      graft.pipelines.Corpus.budgetMix(
        t(s, d, "documents"), "source", "doc_id", "text", budgetTokens = 500L)),

    // sequence packing: concat-and-chunk docs into 512-token context
    // windows per source shard — integer window arithmetic, exact oracle
    "x_pack_chunks" -> ((s, d) =>
      graft.operators.Pack.concatChunk(
        t(s, d, "documents"), "source", "doc_id", "text", capacity = 512)),

    // the flagship composition: the whole LLM-corpus cleaning pipeline
    // (quality gate → exact dedup → near-dup cluster drop), gate-checked
    // END TO END against the composed DuckDB oracle
    // (round 16: Skew.spread of the documents scan was tried and
    // A/B'd FLAT — the quality gate's single-task cost is dwarfed by
    // the post-shuffle shingle/cluster stages, so the extra exchange
    // bought nothing; reverted rather than keep an unjustified shuffle)
    "x_corpus_clean" -> ((s, d) =>
      graft.pipelines.Corpus.clean(t(s, d, "documents"), "doc_id", "text")),

    // fuzzy key join: edit-distance-1 supplier-name pairs via deletion-
    // neighborhood blocking (FastSS); oracle brute-forces levenshtein
    "x_fuzzy_join" -> ((s, d) =>
      graft.operators.Fuzzy.editDistance1Pairs(t(s, d, "supplier"), "s_name")),

    // systematic PPS weighted sample: 10 orders per status, probability
    // ∝ price — integer boundary-crossing arithmetic, exact oracle
    "x_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.systematicPps(
        t(s, d, "orders").select("o_orderstatus", "o_orderkey", "o_totalprice"),
        "o_orderstatus", "o_orderkey",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"), k = 10)
        .select(col("o_orderstatus"), col("o_orderkey"))),

    // Morton/Z-order value distribution: the multi-dimensional clustering
    // key behind writeZOrdered — pure shift/mask arithmetic, exact oracle
    "x_zorder" -> ((s, d) => {
      val zv = graft.sources.Warehouse.zValue(
        col("o_custkey") % 1024, col("o_orderkey") % 1024, 10)
      t(s, d, "orders").select(zv.as("zv"))
        .groupBy(shiftright(col("zv"), 12).as("z_bucket"))
        .agg(count(lit(1)).as("n"), min(col("zv")).as("z_min"),
          max(col("zv")).as("z_max"))
    }),

    // explicit GROUPING SETS (finer than cube/rollup: exactly the three
    // aggregation levels a dashboard asks for, nothing more)
    "x_grouping_sets" -> ((s, d) => {
      val o = t(s, d, "orders").withColumn("yr", year(col("o_orderdate")))
      o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("yr")),
          Seq(col("o_orderstatus")), Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          col("n"), col("total"))
    }),

    // correlation/covariance per group, EXACT: moments accumulate as
    // decimals (associative, partition-order independent), the closed
    // form runs in doubles on identical values with identical op order —
    // bit-identical across engines, unlike the built-in one-pass corr()
    // whose accumulation order is nondeterministic under partitioning.
    // decimal→double goes THROUGH A STRING: both engines parse decimal
    // strings correctly rounded (single rounding), while their native
    // decimal→double casts divide unscaled/10^scale — two roundings that
    // disagree in the last ulp for 38-digit sums
    "x_corr_stats" -> ((s, d) => {
      val q = col("l_quantity").cast("decimal(18,2)")
      val p = col("l_extendedprice").cast("decimal(18,2)")
      def dbl(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(q).as("sx"), sum(p).as("sy"),
          sum(q * p).as("sxy"), sum(q * q).as("sxx"), sum(p * p).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
            (sqrt(dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
              sqrt(dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))))
            .as("corr_qty_price"),
          ((dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / dbl(col("n"))) /
            (dbl(col("n")) - lit(1.0))).as("covar_samp"))
    }),

    "x_pivot" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        // pivot cells with no rows are null in Spark, 0 in COUNT(CASE)
        .na.fill(0, Seq("O", "F", "P"))),

    // incremental view maintenance: merge(agg(base), agg(delta)) — the
    // ORACLE is the full recompute over base∪delta, so the gate itself
    // proves the O(|delta|) refresh path exactly equals the O(|history|)
    // rebuild (decimal accumulators make the merge associative)
    "x_incremental_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      def agg(part: org.apache.spark.sql.DataFrame) = part.groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"),
          count(lit(1)).as("n"))
      val merged = Evolve.mergeAggregates(
        agg(li.filter(col("l_orderkey") % 3 =!= 0)),
        agg(li.filter(col("l_orderkey") % 3 === 0)), "l_suppkey")
      merged.select(col("l_suppkey"),
        col("total_qty").cast("double").as("total_qty"), col("n"))
    }),

    // cleaning audit: the row-accounting the reference only LOGS
    // (load_silver.py "Registros eliminados…") as a queryable result —
    // input rows, per-rule violation counts, surviving rows in one pass
    "x_clean_audit" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("rows_in"),
        count(when(col("l_partkey").isNull, 1)).as("null_partkey"),
        count(when(col("l_suppkey").isNull, 1)).as("null_suppkey"),
        count(when(col("l_discount") <= 0, 1)).as("nonpos_discount"),
        count(when(col("l_partkey").isNotNull && col("l_suppkey").isNotNull &&
          col("l_discount") > 0, 1)).as("rows_out"))),

    // ---- dimension maintenance (MERGE / CDC semantics) ----
    // updates: every 7th customer switches segment; every 100th spawns a
    // brand-new key — exercises replace, insert, and persist paths
    "x_upsert_scd1" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000)
          .withColumn("c_name", lit("NEW")))
      Evolve.upsertScd1(cust, updates, "c_custkey")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // CDC apply: a replication feed derived from orders (key = custkey,
    // version = orderkey, every 10th change a delete) folded into the
    // customer base — last-writer-wins per key, deletes drop, untouched
    // keys pass through
    "x_apply_cdc" -> ((s, d) => {
      val base = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val feed = t(s, d, "orders").select(
        col("o_custkey").as("c_custkey"),
        concat(lit("u"), col("o_orderkey").cast("string")).as("c_name"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderkey").as("version"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"))
      Evolve.applyCdc(base, feed, "c_custkey", "version", "op")
    }),

    // SCD2: dim seeded with a closed historical version for every 13th
    // key; updates change every 7th key's segment and mint new keys —
    // exercises close-out, open, pass-through, and history preservation
    "x_scd2" -> ((s, d) => {
      val cust = t(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment")
      val dim = cust
        .withColumn("valid_from", to_timestamp(lit("2020-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .withColumn("c_mktsegment", lit("OLD"))
          .withColumn("valid_from", to_timestamp(lit("2015-01-01 00:00:00")))
          .withColumn("valid_to", to_timestamp(lit("2020-01-01 00:00:00"))))
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000))
      Evolve.applyScd2(dim, updates, "c_custkey", "2026-01-01 00:00:00")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("vf"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("vt"))
    }),

    "x_snapshot_diff" -> ((s, d) => {
      val o = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val before = o.filter(col("o_orderkey") % 50 =!= 0)
      val after = o.filter(col("o_orderkey") % 30 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Evolve.snapshotDiff(before, after, "o_orderkey")
    }),

    // fixed-width histogram: integer bucket arithmetic on doubles is
    // deterministic across engines (floor of an IEEE division)
    "x_histogram" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(
        least(floor(col("l_extendedprice") / 5000.0), lit(11)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // distinctive-frequent-terms per document (tf-idf-shaped ranking kept
    // in INTEGER space — tf desc, df asc, term asc — so the oracle is
    // exact with no transcendental-function ulp risk)
    "x_doc_top_terms" -> ((s, d) => {
      val tok = t(s, d, "documents").select(col("doc_id"),
        explode(split(Text.normText(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    }),

    // ---- multimodal binary plumbing (payload = utf-8 bytes of text;
    // real corpora carry image/audio bytes through the same shape) ----
    // The engine frames BYTES (substring on BinaryType); DuckDB v1.0 has no
    // blob slicing/md5, so its oracle frames CHARACTERS. Equivalence is
    // made STRUCTURAL, not fixture luck: both sides keep only documents
    // whose utf-8 byte length equals their char length (pure ASCII), where
    // byte framing ≡ char framing by construction.
    "x_binary_frames" -> ((s, d) => {
      val media = Multimodal.asMedia(
        t(s, d, "documents").filter(col("doc_id") < 100)
          .filter(length(encode(col("text"), "utf-8")) === length(col("text")))
          .withColumn("payload", encode(col("text"), "utf-8")),
        "doc_id", "payload", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
    }),

    // REAL image decode: synthesize tiny PNGs executor-side (dims/colors
    // closed-form in doc_id), decode with the JDK ImageIO codec, emit
    // dimensions + channel averages — the oracle predicts the decoded
    // CONTENT arithmetically, so a wrong decode (channel swap, dimension
    // mixup, first-pixel-only read) hash-mismatches.
    "x_image_decode" -> ((s, d) =>
      Multimodal.decodeImages(Multimodal.synthPngs(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id"))),

    // REAL JPEG decode through the JDK's own lossy codec (the r9/r10
    // named plug-in gap): synthesize solid-color JPEGs executor-side,
    // decode with the SAME decodeImages path as PNG, and grade what a
    // lossy round trip CAN pin deterministically — exact dimensions
    // plus channel means within ±6 of the closed-form color (measured
    // JDK round-trip error ≤ 3.0). A channel swap, dimension mixup, or
    // garbage decode flips ok_color to false and hash-mismatches.
    "x_image_decode_jpeg" -> ((s, d) => {
      val tol = lit(6.0)
      Multimodal.decodeImages(Multimodal.synthJpegs(
          t(s, d, "documents").filter(col("doc_id") < 100), "doc_id"))
        .withColumn("ok_color",
          abs(col("avg_r") - (col("media_id") * 37 % 256).cast("double")) <= tol &&
          abs(col("avg_g") - (col("media_id") * 59 % 256).cast("double")) <= tol &&
          abs(col("avg_b") - (col("media_id") * 83 % 256).cast("double")) <= tol)
        .select(col("media_id"), col("width"), col("height"), col("ok_color"))
    }),

    // real JDK WAV codec round trip: encode a closed-form PCM16 waveform
    // with AudioSystem.write, decode it back with the WAV reader, report
    // the integer-exact sample statistics the oracle recomputes from the
    // waveform formula
    "x_audio_decode" -> ((s, d) =>
      Multimodal.decodeWavs(Multimodal.synthWavs(
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id"))),

    // REAL video demux+decode: synthesize spec-correct RIFF/AVI
    // containers (closed-form DIB frames), walk the container
    // generically, decode BI_RGB bottom-up/BGR/padded-stride pixels,
    // emit per-frame channel sums + the top-left pixel — the oracle
    // regenerates every pixel arithmetically, so a stride slip, channel
    // swap, vertical flip, or chunk mis-walk hash-mismatches.
    "x_video_decode" -> ((s, d) =>
      Multimodal.demuxAviFrames(Multimodal.synthAvis(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id"))),

    // perceptual-hash image dedup: md5-driven gradient families synthed
    // through the real PNG codec (variants = brightness jitter + 2×
    // pixel-replicated upscales), decoded and dHash'd from PIXELS
    // (decode → gray → exact 9×8 box resample → 64 neighbor
    // comparisons), clustered on the hash. The oracle never decodes —
    // it predicts all 64 bits straight from md5(family) and replays the
    // clustering, so a resize slip, comparison-order flip, or bit-pack
    // endianness bug hash-mismatches.
    "x_image_phash" -> ((s, d) =>
      Multimodal.phashDedup(Multimodal.synthGradientPngs(
        t(s, d, "documents").filter(col("doc_id") < 400), "doc_id"))),

    // perceptual NEAR-dup: the planted bump variants sit at Hamming ≤ 2
    // from their family; banded blocking + popcount verify must find
    // exactly the pairs the oracle's quadratic bit-level census finds —
    // the blocking-losslessness proof (the x_grid_join pattern)
    "x_phash_neardup" -> ((s, d) =>
      Multimodal.phashNearDup(Multimodal.synthGradientPngs(
        t(s, d, "documents").filter(col("doc_id") < 400), "doc_id"),
        maxHamming = 2))
  )

  /** Transitive-closure CTE prefix over the ngram-jaccard pair set
    * (identical pair SQL to the x_dedup_ngram_jaccard oracle); shared by
    * both connected-components variants and the best-rep policy. */
  private val closureCtes: String =
    """WITH RECURSIVE
       w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (SELECT doc_id,
              unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                    for i in range(1, len(ws) - 1)])) AS s
              FROM w WHERE len(ws) >= 3),
       capped AS (SELECT doc_id, s FROM
                  (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS dfc FROM sh)
                  WHERE dfc <= 1000),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                 FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       good AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes na ON na.doc_id = doc_a
                JOIN sizes nb ON nb.doc_id = doc_b
                WHERE n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) >= 0.5),
       edges AS (SELECT doc_a AS u, doc_b AS v FROM good
                 UNION SELECT doc_b, doc_a FROM good),
       reach AS (SELECT u, v FROM edges
                 UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
                 WHERE e.v <> r.u)"""

  private val clustersClosureOracle: String =
    closureCtes +
      """
       SELECT u AS doc_id, least(u, min(v)) AS cluster_rep,
              CAST(count(DISTINCT v) + 1 AS BIGINT) AS cluster_size
       FROM reach GROUP BY u"""

  /** MinHash+LSH replay: the SAME hash family as
    * [[graft.operators.Dedup.minhashLsh]] — h = the leading 7 hex
    * chars of md5(42|shingle) as an integer, slot j =
    * (a_j·h + b_j) mod (2³¹−1) with a_j = ((2j+1)·2654435761) mod p
    * and b_j = (j·40503·65537 + 1) mod p, integer min per doc over
    * distinct word 3-grams, banded 8×4, candidates from band-key
    * equality, exact-Jaccard verify at 0.5 — a full independent replay
    * of the LSH pipeline, not a shortcut. */
  private val dMinhashOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (SELECT doc_id,
              unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                    for i in range(1, len(ws) - 1)])) AS s
              FROM w WHERE len(ws) >= 3),
       hh AS (SELECT doc_id,
                ('0x' || substr(md5(42 || '|' || s), 1, 7))::BIGINT AS h
              FROM sh),
       hj AS (SELECT doc_id, j,
                min(((((2*j+1)*2654435761) % 2147483647) * h
                     + ((j*40503*65537 + 1) % 2147483647)) % 2147483647)
                  AS mj
              FROM hh, (SELECT unnest(range(32)) AS j) GROUP BY doc_id, j),
       sig AS (SELECT doc_id, j // 4 AS band,
                      string_agg(mj::VARCHAR, '|' ORDER BY j) AS bucket
               FROM hj GROUP BY doc_id, j // 4),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b ON a.band = b.band
                     AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
                  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                              JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
                  GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) AS jaccard
       FROM common JOIN sizes na ON na.doc_id = doc_a
                   JOIN sizes nb ON nb.doc_id = doc_b
       WHERE n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) >= 0.5"""

  /** SimHash replay: md5(42|token) → four 16-bit chunks from the leading
    * hex, 64 ±1 bit votes per doc, strict >0 sign, quarter-banded
    * candidates (pigeonhole for hamming ≤ 3), bit_count(xor) verify —
    * generated programmatically because it is 64 vote expressions wide. */
  private val dSimhashOracle: String = {
    val chunks = (0 until 4).map(g =>
      s"('0x' || substr(h, ${g * 4 + 1}, 4))::BIGINT AS c$g").mkString(", ")
    val votes = (0 until 64).map { j =>
      val (g, k) = (j / 16, j % 16)
      s"sum(CASE WHEN (c$g >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val quarters = (0 until 4).map { g =>
      (0 until 16).map(k =>
        s"(CASE WHEN b${16 * g + k} > 0 THEN ${1L << k} ELSE 0 END)")
        .mkString(" + ")
    }.zipWithIndex.map { case (e, g) => s"($e) AS q$g" }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                     FROM documents),
        hs AS (SELECT doc_id, md5(42 || '|' || t) AS h FROM tok),
        ch AS (SELECT doc_id, $chunks FROM hs),
        v AS (SELECT doc_id, $votes FROM ch GROUP BY doc_id),
        q AS (SELECT doc_id, $quarters FROM v),
        bands AS (SELECT doc_id, g,
                  CASE g WHEN 0 THEN q0 WHEN 1 THEN q1
                         WHEN 2 THEN q2 ELSE q3 END AS bucket
                  FROM q, (SELECT unnest(range(4)) AS g)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b ON a.g = b.g
                      AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT c.doc_a, c.doc_b,
               CAST(bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
                  + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))
                 AS INTEGER) AS hamming
        FROM cand c JOIN q a ON a.doc_id = c.doc_a
                    JOIN q b ON b.doc_id = c.doc_b
        WHERE bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
            + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3)) <= 3"""
  }

  /** RHP-LSH embedding near-dup replay: the hyperplane matrix is the
    * SAME literal table the engine broadcasts
    * ([[graft.functions.Vectors.planeMatrix]], bitsPerBand=2, bands=24,
    * seed=42+band, dim=64 — the fixture dimensionality, asserted by the
    * dim guard at run time), spliced as correctly-rounding VARCHAR →
    * DOUBLE casts. Signature bit j = sign of list_dot_product (the
    * sequential fold proven ≡ ArrayDot), bucket join per band, then the
    * exact-cosine verify of the all-pairs oracle. */
  private def dEmbedLshOracle: String = {
    val (bits, bands, dim, seed) = (2, 24, 64, 42L)
    def planeSql(p: Array[Double]): String =
      "list_transform([" + p.map(x => s"'${x.toString}'").mkString(", ") +
        "], s -> CAST(s AS DOUBLE))"
    val bandSelects = (0 until bands).map { b =>
      val planes = graft.functions.Vectors.planeMatrix(bits, dim, seed + b)
      val bucket = (0 until bits).map { j =>
        s"(CASE WHEN list_dot_product(v, ${planeSql(planes(j))}) >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS g, $bucket AS bucket FROM e"
    }.mkString("\n          UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM bands a JOIN bands b ON a.g = b.g
                      AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b,
               list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cos
        FROM cand c JOIN n na ON na.vec_id = c.id_a
                    JOIN n nb ON nb.vec_id = c.id_b
        WHERE na.nrm * nb.nrm <> 0
          AND list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.4"""
  }

  /** Multi-probe LSH ANN replay: corpus bucketed by the 8-bit RHP
    * signature (same spliced plane matrix idea as [[dEmbedLshOracle]],
    * seed 42); each query probes its own bucket plus the 8 single-bit
    * flips (xor), exact cosine re-rank, top-5 with the same (cos DESC,
    * neighbor ASC) tie-break — every stage deterministic, so the ANN
    * result itself is hash-compared, not just bounded. */
  private def dAnnLshOracle: String = {
    val (bits, dim, seed) = (8, 64, 42L)
    val planes = graft.functions.Vectors.planeMatrix(bits, dim, seed)
    def planeSql(p: Array[Double]): String =
      "list_transform([" + p.map(x => s"'${x.toString}'").mkString(", ") +
        "], s -> CAST(s AS DOUBLE))"
    val sigExpr = (0 until bits).map { j =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(planes(j))}) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("sig" +: (0 until bits).map(b => s"xor(sig, ${1 << b})"))
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        cb AS (SELECT vec_id AS neighbor_id, v AS cv, nrm AS cn,
                      $sigExpr AS bucket FROM n),
        q0 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
                      $sigExpr AS sig FROM n WHERE vec_id < 10),
        qp AS (SELECT query_id, qv, qn, unnest([$probeList]) AS bucket FROM q0),
        scored AS (SELECT query_id, neighbor_id,
                          CASE WHEN qn * cn <> 0
                               THEN list_dot_product(qv, cv) / (qn * cn) END AS cos
                   FROM cb JOIN qp USING (bucket)),
        ranked AS (SELECT *, row_number() OVER
                        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5"""
  }

  /** CTE chain replaying [[graft.operators.LangModel.bpeMerges]]: the
    * per-round pair argmax in SQL and the greedy-leftmost merge rewrite
    * as a list_reduce whose accumulator is the chr(31)-joined symbol
    * string (DuckDB's fold accumulator must share the element type, so
    * the symbol LIST rides as a separator-joined string — corpus tokens
    * never contain control bytes). `flt` filters the learning corpus
    * (x_bpe_encode learns on the doc_id<1000 sample); ends with
    * `best{r}_{tag}` one-row CTEs (l, rr, pc) and `words{k}_{tag}`. */
  private[queries] def bpeChainSql(tag: String, flt: String,
                                   k: Int): String = {
    val ss = "string_split(acc, chr(31))"
    val ctes = Seq.newBuilder[String]
    ctes += s"""w0_$tag AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
        (SELECT unnest(string_split(text, ' ')) AS w FROM documents $flt)
        WHERE w <> '' GROUP BY w)"""
    ctes += s"""words0_$tag AS (SELECT cnt,
        array_to_string(list_transform(range(1, len(w) + 1),
          i -> substr(w, i, 1)), chr(31)) AS s FROM w0_$tag)"""
    (1 to k).foreach { r =>
      val prev = s"words${r - 1}_$tag"
      ctes += s"""pr${r}_$tag AS (SELECT ss[i] AS l, ss[i+1] AS rr,
            CAST(sum(cnt) AS BIGINT) AS pc
          FROM (SELECT cnt, ss, unnest(range(1, len(ss))) AS i
                FROM (SELECT cnt, string_split(s, chr(31)) AS ss
                      FROM $prev))
          GROUP BY 1, 2)"""
      ctes += s"""best${r}_$tag AS (SELECT l, rr, pc FROM pr${r}_$tag
          ORDER BY pc DESC, l ASC, rr ASC LIMIT 1)"""
      ctes += s"""words${r}_$tag AS (SELECT cnt, ${bpeFold(ss)} AS s
          FROM $prev CROSS JOIN best${r}_$tag b)"""
    }
    ctes.result().mkString(",\n")
  }

  /** The greedy-leftmost merge rewrite fold (engine: aggregate over the
    * symbol array; oracle: list_reduce over the joined string). */
  private[queries] def bpeFold(ss: String): String =
    s"""list_reduce(list_prepend('', string_split(s, chr(31))),
        (acc, x) -> CASE
          WHEN acc = '' THEN x
          WHEN $ss[-1] = b.l AND x = b.rr THEN
            CASE WHEN len($ss) = 1 THEN acc || x
                 ELSE array_to_string(list_slice($ss, 1, len($ss) - 1),
                        chr(31)) || chr(31) || $ss[-1] || x END
          ELSE acc || chr(31) || x END)"""

  /** The k-means recurrence of [[dKmeansCommon]] parameterized by
    * vector dimension, over a caller-supplied `e(vec_id, v)` CTE of
    * DOUBLE vectors: cent0 seed sample → two fixed-point Lloyd
    * iterations → final `s3`/`listed` assignment. dim=64 replays the
    * raw-embedding fit; dim=65 the MIPS-augmented one (x_mips_ann). */
  private[queries] def dKmeansChain(dim: Int): String = {
    val (nLists, seed) = (16, 42)
    def lloyd(prev: String, n: Int): String =
      s"""s$n AS (SELECT e.vec_id, e.v, c.list,
                         list_dot_product(c.c, c.c) - 2.0 * list_dot_product(e.v, c.c) AS s
                  FROM e CROSS JOIN $prev c),
          a$n AS (SELECT vec_id, v, list FROM
                  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, list) AS rn
                   FROM s$n) WHERE rn = 1),
          m$n AS (SELECT list, i - 1 AS pos,
                         CAST(sum(CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS DOUBLE)
                           / (count(*) * 1048576.0) AS m
                  FROM a$n, (SELECT unnest(range(1, ${dim + 1})) AS i)
                  GROUP BY list, i - 1),
          g$n AS (SELECT list, list(m ORDER BY pos) AS c FROM m$n GROUP BY list),
          cent$n AS (SELECT p.list, coalesce(g$n.c, p.c) AS c
                     FROM $prev p LEFT JOIN g$n USING (list))"""
    s"""cent0 AS (SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS list, v AS c
                  FROM (SELECT v, h FROM
                        (SELECT v, md5($seed || '|' || CAST(vec_id AS VARCHAR)) AS h
                         FROM e) ORDER BY h LIMIT $nLists)),
        ${lloyd("cent0", 1)},
        ${lloyd("cent1", 2)},
        s3 AS (SELECT e.vec_id, e.v, c.list,
                      list_dot_product(c.c, c.c) - 2.0 * list_dot_product(e.v, c.c) AS s
               FROM e CROSS JOIN cent2 c),
        listed AS (SELECT vec_id AS neighbor_id, v AS cv, list FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, list) AS rn
                    FROM s3) WHERE rn = 1)"""
  }

  /** The portable-k-means WITH-clause prefix shared by [[dAnnIvfOracle]]
    * and the SemDeDup oracle: md5-ordered centroid seed sample, two
    * unrolled fixed-point Lloyd iterations, final assignment `listed`
    * (neighbor_id, cv, list) plus the scored s3 pass it derives from. */
  private[queries] def dKmeansCommon: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        nn AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        ${dKmeansChain(64)}"""

  /** PQ replay: four independent portable-k-means chains over vector
    * SLICES (same fixed-point Lloyd recipe as [[dKmeansCommon]], seeds
    * 42+j), corpus codes from per-subspace argmin, ADC as four
    * list_dot_product terms added left to right, then the exact-cosine
    * rerank. Generated programmatically — it is 4 unrolled k-means. */
  private def dPqOracle: String = {
    val (m, sub, nCodes, k, shortlist) = (4, 16, 16, 5, 25)
    def sl(v: String, j: Int) = s"$v[${j * sub + 1}:${(j + 1) * sub}]"
    def chain(j: Int): String = {
      val seed = 42 + j
      def lloyd(prev: String, n: Int): String =
        s"""sq${j}_$n AS (SELECT e.vec_id, ${sl("e.v", j)} AS v, c.list,
                 list_dot_product(c.c, c.c)
                   - 2.0 * list_dot_product(${sl("e.v", j)}, c.c) AS s
               FROM e CROSS JOIN $prev c),
          aq${j}_$n AS (SELECT vec_id, v, list FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, list) AS rn
               FROM sq${j}_$n) WHERE rn = 1),
          mq${j}_$n AS (SELECT list, i - 1 AS pos,
                 CAST(sum(CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1048576.0) AS mn
               FROM aq${j}_$n, (SELECT unnest(range(1, ${sub + 1})) AS i)
               GROUP BY list, i - 1),
          gq${j}_$n AS (SELECT list, list(mn ORDER BY pos) AS c
                        FROM mq${j}_$n GROUP BY list),
          centq${j}_$n AS (SELECT p.list, coalesce(gq${j}_$n.c, p.c) AS c
                           FROM $prev p LEFT JOIN gq${j}_$n USING (list))"""
      s"""centq${j}_0 AS (SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS list,
                 ${sl("v", j)} AS c
               FROM (SELECT v, h FROM
                     (SELECT v, md5($seed || '|' || CAST(vec_id AS VARCHAR)) AS h
                      FROM e) ORDER BY h LIMIT $nCodes)),
          ${lloyd(s"centq${j}_0", 1)},
          ${lloyd(s"centq${j}_1", 2)},
          codes$j AS (SELECT vec_id, list AS code FROM
              (SELECT e.vec_id, c.list,
                      list_dot_product(c.c, c.c)
                        - 2.0 * list_dot_product(${sl("e.v", j)}, c.c) AS s,
                      row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_dot_product(c.c, c.c)
                            - 2.0 * list_dot_product(${sl("e.v", j)}, c.c), c.list) AS rn
               FROM e CROSS JOIN centq${j}_2 c) WHERE rn = 1)"""
    }
    val adcTerms = (0 until m).map(j =>
      s"list_dot_product(${sl("q.qv", j)}, w$j.c)").mkString(" + ")
    val codeJoins = (0 until m).map(j =>
      s"JOIN centq${j}_2 w$j ON w$j.list = coded.code_$j").mkString(" ")
    val codeCols = (0 until m).map(j => s"c$j.code AS code_$j").mkString(", ")
    val codesJoins = (1 until m).map(j => s"JOIN codes$j c$j USING (vec_id)").mkString(" ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
        nn AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        ${(0 until m).map(chain).mkString(",\n        ")},
        coded AS (SELECT c0.vec_id, $codeCols
                  FROM codes0 c0 $codesJoins),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        scored AS (SELECT q.query_id, coded.vec_id AS neighbor_id,
                          $adcTerms AS adc
                   FROM coded CROSS JOIN q $codeJoins),
        short AS (SELECT query_id, neighbor_id, adc FROM
                  (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc DESC, neighbor_id ASC) AS crank
                   FROM scored) WHERE crank <= $shortlist),
        rr AS (SELECT sh.query_id, sh.neighbor_id, sh.adc,
                      CASE WHEN qn.nrm * cn.nrm <> 0
                           THEN list_dot_product(qe.v, ce.v) / (qn.nrm * cn.nrm)
                      END AS cos
               FROM short sh JOIN e ce ON ce.vec_id = sh.neighbor_id
                    JOIN e qe ON qe.vec_id = sh.query_id
                    JOIN nn cn ON cn.vec_id = sh.neighbor_id
                    JOIN nn qn ON qn.vec_id = sh.query_id)
        SELECT query_id, neighbor_id, adc, cos, CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank FROM rr)
        WHERE rank <= $k"""
  }

  /** IVF ANN replay — the full ITERATIVE pipeline in SQL: md5-ordered
    * centroid seed sample, two unrolled Lloyd iterations (argmin
    * assignment with (distance, list) tie-break; per-dimension means in
    * the 2⁻²⁰ fixed point of x_embed_centroids — associative, so Spark's
    * shuffled aggregation and DuckDB's scan produce identical doubles),
    * then inverted-list probe + exact cosine re-rank. k-means is
    * hash-compared end to end. */
  private def dAnnIvfOracle: String = {
    val (nProbe, k) = (4, 5)
    s"""WITH $dKmeansCommon,
        probes AS (SELECT vec_id AS query_id, v AS qv, list FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, list) AS rn
                    FROM s3 WHERE vec_id < 10) WHERE rn <= $nProbe),
        scored AS (SELECT p.query_id, l.neighbor_id,
                          CASE WHEN qn.nrm * cn.nrm <> 0
                               THEN list_dot_product(p.qv, l.cv) / (qn.nrm * cn.nrm)
                          END AS cos
                   FROM listed l JOIN probes p USING (list)
                        JOIN nn qn ON qn.vec_id = p.query_id
                        JOIN nn cn ON cn.vec_id = l.neighbor_id),
        ranked AS (SELECT *, row_number() OVER
                        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= $k"""
  }

  /** SemDeDup replay: the same portable k-means ([[dKmeansCommon]]), then
    * the in-cluster first-id-wins prune — a row is dropped iff some
    * lower-id row in its cluster clears the cosine threshold. */
  private def dSemDedupOracle: String =
    s"""WITH $dKmeansCommon,
        la AS (SELECT l.neighbor_id AS id, l.list, l.cv AS v, nn.nrm
               FROM listed l JOIN nn ON nn.vec_id = l.neighbor_id),
        drops AS (SELECT DISTINCT b.id
                  FROM la a JOIN la b ON a.list = b.list AND a.id < b.id
                  WHERE a.nrm * b.nrm <> 0
                    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
        SELECT id AS vec_id, list FROM la
        WHERE id NOT IN (SELECT id FROM drops)"""

  /** Per-doc bigram-LM average log-prob as a parenthesized subquery —
    * the x_lm_score chain without the count column, reused by
    * x_ppl_buckets so the two oracles cannot drift. */
  private def dLmAvgLnp: String = {
    val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
    s"""(WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        bg AS (SELECT doc_id, i AS pos, ws[i] AS w1,
                      ws[i] || ' ' || ws[i+1] AS b
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                     FROM w WHERE len(ws) >= 2)),
        cb AS (SELECT b, count(*) AS cbg FROM bg GROUP BY b),
        cw AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY w1),
        v AS (SELECT count(DISTINCT t) AS vsz FROM
              (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        sc0 AS (SELECT doc_id, pos, (ctx + vsz)::DOUBLE / (cbg + 1) AS lnin
                FROM bg JOIN cb USING (b) JOIN cw USING (w1) CROSS JOIN v),
        pl1 AS (SELECT *, $l1 FROM sc0),
        pl2 AS (SELECT *, $l2 FROM pl1),
        pl3 AS (SELECT *, $l3 FROM pl2),
        per AS (SELECT doc_id, list(-lnx ORDER BY pos) AS ls
                FROM pl3 GROUP BY doc_id)
        SELECT doc_id, list_sum(ls) / len(ls) AS avg_lnp FROM per)"""
  }

  /** Winnowing fingerprints of a filtered doc set, as a parenthesized
    * subquery (shared by x_winnow_fingerprint and decontamination). */
  private def dWinnow(pred: String): String =
    s"""(WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE $pred),
        g AS (SELECT doc_id, i AS pos,
                     md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
                    FROM w WHERE len(ws) >= 3)),
        m AS (SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM g)
        SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n - 3)"""

  /** The HyperANF replay, parameterized (round 14): register evolution
    * unrolled over a fixed `T`-round horizon (register-max per level,
    * MATERIALIZED — the betweenness CTE-chain discipline), then ONE
    * shared estimate pipeline over the (t, node) union: dyadic-exact
    * register sums, the portable-ln linear-counting branch,
    * floor(est·2^20) HUGEINT sums, and the integer threshold compare
    * for the effective diameter. `edgeWhere` filters the lineitem edge
    * source (a pure data function shared verbatim by the engine side).
    * Per-t census sums are independent, so the same template grades
    * BOTH engine modes (shared census and release-per-round fold). */
  private[queries] def dHyperAnfOracle(T: Int, edgeWhere: String): String = {
    val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
    val roundCtes = (1 to T).map { tt =>
      s"""p$tt AS MATERIALIZED (SELECT s.v AS id, r.b, r.m
             FROM sym s JOIN r${tt - 1} r ON r.id = s.u),
         r$tt AS MATERIALIZED (SELECT id, b, max(m) AS m FROM (
             SELECT id, b, m FROM r${tt - 1}
             UNION ALL SELECT id, b, m FROM p$tt)
             GROUP BY id, b)"""
    }.mkString(",\n          ")
    val unionAll = (0 to T)
      .map(tt => s"SELECT $tt AS t, id, b, m FROM r$tt")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS u,
                           'p' || l_partkey AS v FROM lineitem $edgeWhere),
        sym AS MATERIALIZED (SELECT u, v FROM
                (SELECT u, v FROM e0
                 UNION SELECT v AS u, u AS v FROM e0)
                WHERE u <> v),
        r0 AS MATERIALIZED (
          SELECT id, ('0x' || substr(h, 1, 4))::BIGINT % 64 AS b,
                 CASE WHEN ('0x' || substr(h, 5, 8))::BIGINT = 0 THEN 33
                      ELSE 33 - length(bin(('0x' || substr(h, 5, 8))::BIGINT))
                 END AS m
          FROM (SELECT DISTINCT u AS id, md5(u) AS h FROM sym)),
        $roundCtes,
        allr AS MATERIALIZED ($unionAll),
        agg AS (SELECT t, id, count(*) AS nb,
                  sum(1.0::DOUBLE / (1::BIGINT << m)::DOUBLE) AS s_part
                FROM allr GROUP BY 1, 2),
        pre AS (SELECT t, id, s_part + (64 - nb)::DOUBLE AS s,
                  64 - nb AS zeros
                FROM agg),
        pa AS (SELECT t, id, s, zeros,
                 CAST(CASE WHEN zeros > 0 THEN 64.0 / zeros::DOUBLE
                      ELSE 1.0 END AS DOUBLE) AS lnin
               FROM pre),
        pb AS (SELECT *, $l1 FROM pa),
        pc AS (SELECT *, $l2 FROM pb),
        pd AS (SELECT *, $l3 FROM pc),
        qs AS (SELECT t, floor(
                 (CASE WHEN (0.709::DOUBLE * 4096.0::DOUBLE) / s
                           <= 160.0 AND zeros > 0
                       THEN 64.0 * lnx
                       ELSE (0.709::DOUBLE * 4096.0::DOUBLE) / s END)
                 * 1048576.0::DOUBLE)::HUGEINT AS q
               FROM pd),
        nf AS (SELECT t, sum(q) AS nfq FROM qs GROUP BY 1),
        tot AS (SELECT nfq AS nf_total FROM nf WHERE t = $T),
        eff AS (SELECT min(t) AS eff_diameter FROM nf, tot
                WHERE nfq * 100 >= nf_total * 90)
        SELECT nf.t, CAST(nfq AS BIGINT) AS nf_q,
               nfq::DOUBLE / nf_total::DOUBLE AS reached_frac,
               eff_diameter
        FROM nf, tot, eff"""
  }

  /** The landmark-Brandes replay shared by x_betweenness (long path)
    * and x_betweenness_dec (the decimalSigma path — BIT-IDENTICAL
    * integer pipeline, so one HUGEINT oracle grades both): forward
    * levels l1..l`hops` (sigma = sum over level-(d−1) predecessors,
    * NOT EXISTS against the cumulative visited set), backward
    * d(hops−1)..d0 with the integer contribution
    * (sigma·(2³⁰+dq)) // sigma_w in HUGEINT; one double division at
    * the end. Every chained CTE is MATERIALIZED (DuckDB inlines plain
    * CTEs per reference — the doubly-referenced level chain would
    * re-derive its prefix 2^levels times; at sf0.1 that spilled past
    * the disk before failing). `flt` filters the lineitem edge source;
    * exhaustion-safe: levels past the true eccentricity are empty CTEs
    * on both engines. */
  private[queries] def dBetweennessOracle(flt: String, k: Int,
                                          hops: Int): String = {
    val q = "CAST(1073741824 AS HUGEINT)"
    val fwdCtes = (1 to hops).map { dd =>
      s"""f$dd AS MATERIALIZED (SELECT l.lm, s.dst AS id, SUM(l.sigma) AS sigma
             FROM l${dd - 1} l JOIN sym s ON s.src = l.id
             GROUP BY l.lm, s.dst),
         l$dd AS MATERIALIZED (SELECT f.lm, f.id, f.sigma FROM f$dd f
             WHERE NOT EXISTS (SELECT 1 FROM cum${dd - 1} c
                               WHERE c.lm = f.lm AND c.id = f.id)),
         cum$dd AS MATERIALIZED (SELECT lm, id FROM cum${dd - 1}
                    UNION ALL SELECT lm, id FROM l$dd)"""
    }.mkString(",\n          ")
    val bwdCtes = ((hops - 1) to 0 by -1).map { dd =>
      s"""b$dd AS MATERIALIZED (SELECT l.lm, l.id,
               SUM((l.sigma * ($q + w.dq)) // w.sigma) AS dqsum
             FROM l$dd l JOIN sym s ON s.src = l.id
                  JOIN d${dd + 1} w ON w.lm = l.lm AND w.id = s.dst
             GROUP BY l.lm, l.id),
         d$dd AS MATERIALIZED (SELECT l.lm, l.id, l.sigma,
               CAST(COALESCE(b.dqsum, 0) AS BIGINT) AS dq
             FROM l$dd l LEFT JOIN b$dd b
               ON b.lm = l.lm AND b.id = l.id)"""
    }.mkString(",\n          ")
    val union = (1 to hops).map(dd => s"SELECT lm, id, dq FROM d$dd")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
                           'p' || l_partkey AS dst FROM lineitem $flt),
        sym AS MATERIALIZED (SELECT src, dst FROM e0
                UNION SELECT dst AS src, src AS dst FROM e0),
        lms AS MATERIALIZED (SELECT DISTINCT src AS lm FROM sym ORDER BY lm LIMIT $k),
        l0 AS MATERIALIZED (SELECT lm, lm AS id, CAST(1 AS HUGEINT) AS sigma FROM lms),
        cum0 AS MATERIALIZED (SELECT lm, id FROM l0),
        $fwdCtes,
        d$hops AS MATERIALIZED (SELECT lm, id, sigma, CAST(0 AS BIGINT) AS dq FROM l$hops),
        $bwdCtes
        SELECT id AS node,
               CAST(SUM(dq) AS DOUBLE) / CAST(1073741824 AS DOUBLE) AS bc
        FROM ($union) GROUP BY id"""
  }

  val oracle: Map[String, String] = Map(
    // the k-round learner replayed: per-round SQL argmax + the
    // list_reduce merge rewrite (see bpeChainSql) — converts the
    // long-standing rows-only grade to a full value oracle
    "x_bpe_merges" -> {
      val k = 8
      s"""WITH ${bpeChainSql("m", "", k)},
         mg AS (${(1 to k).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS rank, l AS "left",
              rr AS "right", pc AS pair_count FROM best${r}_m""")
        .mkString(" UNION ALL ")})
         SELECT * FROM mg"""
    },

    "x_decontaminate" ->
      s"""WITH tf AS (SELECT * FROM ${dWinnow("doc_id % 10 <> 0")}),
          ef AS (SELECT DISTINCT fp FROM ${dWinnow("doc_id % 10 = 0")})
          SELECT tf.doc_id, count(DISTINCT tf.fp) AS n_shared
          FROM tf JOIN ef USING (fp) GROUP BY 1""",

    "x_contam_overlap" ->
      """WITH w AS (SELECT doc_id, doc_id % 10 = 0 AS ev,
                           string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, ev,
                      unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                            for i in range(1, len(ws) - 1)])) AS g
               FROM w WHERE len(ws) >= 3),
         eg AS (SELECT DISTINCT g AS eg FROM g WHERE ev)
         SELECT doc_id, count(*) AS n_grams, count(eg) AS n_overlap,
                count(eg)::DOUBLE / count(*) AS overlap_frac
         FROM (SELECT t.doc_id, t.g, eg.eg FROM g t LEFT JOIN eg ON t.g = eg.eg
               WHERE NOT t.ev)
         GROUP BY doc_id""",

    "x_temp_sample" ->
      """WITH tok AS (SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
         z AS (SELECT list_sum(list(sqrt(n_tokens::DOUBLE) ORDER BY source)) AS z
               FROM tok)
         SELECT source, n_tokens, sqrt(n_tokens::DOUBLE) / z AS weight,
                CAST('10000.0' AS DOUBLE) * (sqrt(n_tokens::DOUBLE) / z) AS quota
         FROM tok CROSS JOIN z""",

    "x_data_mix" ->
      """WITH t AS (SELECT source, doc_id,
                    len(string_split(text, ' ')) AS n FROM documents),
         c AS (SELECT source, doc_id,
               CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
               FROM t)
         SELECT source, doc_id, cum FROM c WHERE cum <= 500""",
    "x_dedup_exact" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_copies
         FROM documents GROUP BY text""",

    "x_dedup_norm" ->
      s"""SELECT min(doc_id) AS rep_id, count(*) AS n_copies
          FROM documents GROUP BY $dNorm""",

    "x_dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id,
                unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in range(1, len(ws) - 1)])) AS s
                FROM w WHERE len(ws) >= 3),
         capped AS (SELECT doc_id, s FROM
                    (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS dfc FROM sh)
                    WHERE dfc <= 1000),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                   FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) AS jaccard
         FROM pairs
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) >= 0.5""",

    "x_embed_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE a.nrm * b.nrm <> 0
           AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""",

    // MIPS replayed: the raw inner product, same rank/tie rule as the
    // cosine family — no norm division, so no zero-vector guard needed
    "x_mips" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                    list_dot_product(qv, v) AS ip
                    FROM e CROSS JOIN q),
         ranked AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                    FROM scored)
         SELECT query_id, neighbor_id, ip, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    "x_cos_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         scored AS (SELECT query_id, n.vec_id AS neighbor_id,
                    CASE WHEN qn * nrm <> 0
                         THEN list_dot_product(qv, v) / (qn * nrm) END AS cos
                    FROM n CROSS JOIN q),
         ranked AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                    FROM scored)
         SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    // SQ8 rerank replayed: the x_embed_quantize floor-quantizer, integer
    // dot shortlist (coarse DESC, id ASC — the tie rule that makes the
    // candidate SET well-defined), exact cosine on the survivors
    "x_ann_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         s AS (SELECT vec_id, v,
               coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) / 127.0 AS scale
               FROM e),
         qz AS (SELECT vec_id, v,
                CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                     ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                END AS q8
                FROM s),
         q AS (SELECT vec_id AS query_id, q8 AS qq FROM qz WHERE vec_id < 10),
         coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
                    CAST(list_sum([qq[i] * c.q8[i]
                                   for i in range(1, len(qq) + 1)]) AS BIGINT) AS coarse
                    FROM qz c CROSS JOIN q),
         short AS (SELECT query_id, neighbor_id, coarse FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY coarse DESC, neighbor_id ASC) AS crank
                    FROM coarse) WHERE crank <= 25),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         rr AS (SELECT sh.query_id, sh.neighbor_id, sh.coarse,
                CASE WHEN qn.nrm * cn.nrm <> 0
                     THEN list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm) END AS cos
                FROM short sh JOIN n cn ON cn.vec_id = sh.neighbor_id
                              JOIN n qn ON qn.vec_id = sh.query_id)
         SELECT query_id, neighbor_id, coarse, cos, CAST(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank FROM rr)
         WHERE rank <= 5""",

    "x_cos_topk_custom" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         scored AS (SELECT query_id, n.vec_id AS neighbor_id,
                    CASE WHEN qn * nrm <> 0
                         THEN list_dot_product(qv, v) / (qn * nrm) END AS cos
                    FROM n CROSS JOIN q),
         ranked AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                    FROM scored)
         SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    // transitive closure by recursive CTE over the ngram-jaccard pair set
    // (identical to the x_dedup_ngram_jaccard oracle), then per-node
    // component = min reachable id, size = |reachable| + self.
    // x_dedup_clusters and x_dedup_clusters_logstar run the same engine
    // operator and are both graded against this closure.
    "x_dedup_clusters" -> clustersClosureOracle,
    "x_dedup_clusters_logstar" -> clustersClosureOracle,

    // closure + per-component argmax on the SAME quality formula the
    // x_quality oracle proves bit-exact; ties break on the smaller id
    "x_dedup_best_rep" ->
      (closureCtes +
        s""",
         comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_min
                  FROM reach GROUP BY u),
         q AS (SELECT doc_id, ($dQuality) AS q FROM documents),
         j AS (SELECT c.doc_id, c.cluster_min, q.q
               FROM comp c JOIN q USING (doc_id))
         SELECT doc_id, cluster_min,
                first_value(doc_id) OVER
                  (PARTITION BY cluster_min ORDER BY q DESC, doc_id) AS best_rep,
                first_value(q) OVER
                  (PARTITION BY cluster_min ORDER BY q DESC, doc_id) AS best_score
         FROM j"""),

    "x_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id < 200)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                array_to_string(ws[i * 15 + 1 : least(i * 15 + 30, len(ws))], ' ')
                  AS chunk_text,
                CAST(least(len(ws) - i * 15, 30) AS INTEGER) AS n_words
         FROM (SELECT doc_id, ws,
                      unnest(range(0, (len(ws) - 1) // 15 + 1)) AS i FROM w)""",

    "x_dedup_minhash" -> dMinhashOracle,
    "x_dedup_simhash" -> dSimhashOracle,
    "x_embed_neardup_lsh" -> dEmbedLshOracle,
    "x_ann_lsh" -> dAnnLshOracle,
    "x_ann_ivf" -> dAnnIvfOracle,
    "x_ann_pq" -> dPqOracle,
    "x_semdedup" -> dSemDedupOracle,

    "x_winnow_fingerprint" ->
      s"""SELECT doc_id, fp FROM ${dWinnow("TRUE")}""",

    "x_gap_fill" ->
      """WITH e AS (SELECT user_id,
                    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events),
         c AS (SELECT user_id, h, count(*) AS n FROM e GROUP BY 1, 2),
         b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM c GROUP BY 1),
         hours AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM b),
         filled AS (SELECT hours.user_id, hours.h, coalesce(n, 0) AS n
                    FROM hours LEFT JOIN c
                    ON hours.user_id = c.user_id AND hours.h = c.h)
         SELECT user_id, h AS epoch_hour, n,
                CAST(sum(n) OVER (PARTITION BY user_id ORDER BY h) AS BIGINT) AS cum_n
         FROM filled""",

    "x_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t1 ON e.user_id = t1.user_id
                WHERE e.event_type = 'click'
                  AND e.ts >= t1.t AND e.ts <= t1.t + INTERVAL 1 DAY
                GROUP BY 1),
         t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t2 ON e.user_id = t2.user_id
                WHERE e.event_type = 'purchase'
                  AND e.ts >= t2.t AND e.ts <= t2.t + INTERVAL 1 DAY
                GROUP BY 1)
         SELECT CAST(1 AS INTEGER) AS stage, 'view' AS event_type, count(*) AS n_users FROM t1
         UNION ALL SELECT 2, 'click', count(*) FROM t2
         UNION ALL SELECT 3, 'purchase', count(*) FROM t3""",

    "x_vector_features" ->
      """SELECT vec_id,
           list_sum(list_transform(embedding,
             x -> greatest(least(CAST(x AS DOUBLE), 0.05), -0.05))) AS clip_sum,
           CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.05)) AS INTEGER) AS n_above,
           sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS l2
         FROM embeddings""",

    "x_pack_chunks" ->
      """WITH t AS (SELECT source, doc_id, len(string_split(text, ' ')) AS n
                    FROM documents),
         c AS (SELECT source, doc_id, n,
               CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
               FROM t),
         spans AS (SELECT source, doc_id, n, cum,
                   CAST((cum - n) // 512 AS BIGINT) AS a,
                   CAST((cum - 1) // 512 AS BIGINT) AS b
                   FROM c WHERE n > 0)
         SELECT source, doc_id, CAST(chunk AS BIGINT) AS chunk_id,
                CAST(least(cum, (chunk + 1) * 512) -
                     greatest(cum - n, chunk * 512) AS BIGINT) AS tokens_in_chunk
         FROM spans, unnest(range(a, b + 1)) AS u(chunk)""",

    "x_fuzzy_join" ->
      """WITH k AS (SELECT DISTINCT s_name AS k FROM supplier WHERE s_name IS NOT NULL)
         SELECT a.k AS key_a, b.k AS key_b
         FROM k a JOIN k b ON a.k < b.k AND levenshtein(a.k, b.k) = 1""",

    "x_weighted_sample" ->
      """WITH w AS (SELECT o_orderstatus, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM orders),
         c AS (SELECT o_orderstatus, o_orderkey, cents,
           sum(cents) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS cum,
           sum(cents) OVER (PARTITION BY o_orderstatus) AS total FROM w)
         SELECT o_orderstatus, o_orderkey FROM c
         WHERE ((cum - cents) * 10) // total < (cum * 10) // total""",

    // disjoint bit positions ⇒ the two list_sums add like a bitwise OR
    "x_zorder" ->
      """WITH z AS (SELECT
           CAST(list_sum([(((o_custkey % 1024) >> j) & 1) * (1::BIGINT << (2*j))
                          for j in range(0, 10)]) +
                list_sum([(((o_orderkey % 1024) >> j) & 1) * (1::BIGINT << (2*j + 1))
                          for j in range(0, 10)]) AS BIGINT) AS zv
           FROM orders)
         SELECT zv >> 12 AS z_bucket, count(*) AS n,
                min(zv) AS z_min, max(zv) AS z_max
         FROM z GROUP BY 1""",

    "x_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
                count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, year(o_orderdate)),
                                 (o_orderstatus), ())""",

    // moments as exact decimals, closed form in doubles with the SAME op
    // order as the engine — bit-identical, no tolerance. decimal→double
    // goes through VARCHAR: string parse is correctly rounded in both
    // engines, native decimal→double casts double-round differently
    "x_corr_stats" ->
      """WITH m AS (SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
           sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
           FROM lineitem GROUP BY 1),
         dd AS (SELECT l_returnflag, n,
           CAST(CAST(n AS VARCHAR) AS DOUBLE) AS n0,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy FROM m)
         SELECT l_returnflag, n,
           (n0 * sxy - sx * sy)
             / (sqrt(n0 * sxx - sx * sx) * sqrt(n0 * syy - sy * sy)) AS corr_qty_price,
           (sxy - sx * sy / n0) / (n0 - 1.0) AS covar_samp
         FROM dd""",

    "x_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         c AS (SELECT doc_id, array_to_string(ws[i*10+1 : i*10+10], ' ') AS chunk
               FROM (SELECT doc_id, ws,
                     unnest(range(0, CAST(floor(len(ws) / 10) AS INTEGER))) AS i
                     FROM w WHERE len(ws) >= 10))
         SELECT chunk, min(doc_id) AS rep_id, count(*) AS n_occurrences
         FROM c WHERE chunk <> ''
         GROUP BY chunk HAVING count(*) >= 2""",

    "x_ntile_quartiles" ->
      """WITH t AS (SELECT o_totalprice,
                    ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
                    FROM orders)
         SELECT quartile, count(*) AS n,
                min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM t GROUP BY quartile""",

    // (DuckDB v1.0 lacks UNNEST WITH ORDINALITY — index via a range cross
    // join instead; every embedding is dim-64)
    "x_embed_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
                CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS qsum,
                count(*) AS n,
                CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1048576.0) AS centroid
         FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
         GROUP BY 1, 2""",

    "x_text_stats" ->
      s"""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens_ws,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_tokens_bpe,
          (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
            / greatest(len(string_split(text, ' ')), 1) AS avg_token_len,
          md5($dNorm) AS fp_md5
          FROM documents""",

    "x_lang_id" -> {
      val m = Text.langMarkers.toMap
      s"""SELECT doc_id, lang,
          CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) > 0.3 THEN 'zh'
               WHEN ${dMarker(m("es"))} > ${dMarker(m("en"))}
                AND ${dMarker(m("es"))} >= ${dMarker(m("fr"))}
                AND ${dMarker(m("es"))} >= ${dMarker(m("de"))} THEN 'es'
               WHEN ${dMarker(m("fr"))} > ${dMarker(m("en"))}
                AND ${dMarker(m("fr"))} > ${dMarker(m("es"))}
                AND ${dMarker(m("fr"))} >= ${dMarker(m("de"))} THEN 'fr'
               WHEN ${dMarker(m("de"))} > ${dMarker(m("en"))}
                AND ${dMarker(m("de"))} > ${dMarker(m("es"))}
                AND ${dMarker(m("de"))} > ${dMarker(m("fr"))} THEN 'de'
               ELSE 'en' END AS lang_pred
          FROM documents"""
    },

    "x_outlier_clip" ->
      """WITH p AS (SELECT l_returnflag,
                    quantile_cont(l_extendedprice, 0.05) AS p05,
                    quantile_cont(l_extendedprice, 0.95) AS p95,
                    count(*) AS n
                    FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, p05, p95, n,
                count(CASE WHEN l.l_extendedprice < p05 THEN 1 END) AS n_below,
                count(CASE WHEN l.l_extendedprice > p95 THEN 1 END) AS n_above
         FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
         GROUP BY 1, 2, 3, 4""",

    "x_mad_outlier" ->
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
                    FROM lineitem GROUP BY 1),
         a AS (SELECT l.l_returnflag, l.l_extendedprice AS x, m.med,
                      abs(l.l_extendedprice - m.med) AS ad
               FROM lineitem l JOIN m USING (l_returnflag)),
         f AS (SELECT l_returnflag, med, quantile_cont(ad, 0.5) AS mad
               FROM a GROUP BY 1, 2)
         SELECT a.l_returnflag, f.med, f.mad,
                f.med - 4.4478 * f.mad AS lo, f.med + 4.4478 * f.mad AS hi,
                count(*) AS n,
                count(CASE WHEN a.x < f.med - 4.4478 * f.mad
                             OR a.x > f.med + 4.4478 * f.mad THEN 1 END) AS n_out
         FROM a JOIN f USING (l_returnflag)
         GROUP BY 1, 2, 3, 4, 5""",

    "x_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                      [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)] AS gs
               FROM w WHERE len(ws) >= 3)
         SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
                1.0 - len(list_distinct(gs))::DOUBLE / len(gs)::DOUBLE AS rep_ratio
         FROM g""",

    "x_quality" ->
      s"""SELECT doc_id,
          $dPunct AS punct_ratio,
          $dStop AS stopword_ratio,
          $dQuality AS quality
          FROM documents""",

    // the whole cleaning pipeline, composed: quality gate → exact dedup
    // (min id per text) → near-dup closure → keep reps + unclustered
    "x_corpus_clean" ->
      s"""WITH RECURSIVE
         q AS (SELECT doc_id, text FROM documents WHERE $dQuality >= 0.5),
         kept AS (SELECT min(doc_id) AS doc_id, text FROM q GROUP BY text),
         w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
         sh AS (SELECT doc_id,
                unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in range(1, len(ws) - 1)])) AS s
                FROM w WHERE len(ws) >= 3),
         capped AS (SELECT doc_id, s FROM
                    (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS dfc FROM sh)
                    WHERE dfc <= 1000),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                   FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         good AS (SELECT doc_a, doc_b FROM pairs
                  JOIN sizes na ON na.doc_id = doc_a
                  JOIN sizes nb ON nb.doc_id = doc_b
                  WHERE n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) >= 0.5),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM good
                   UNION SELECT doc_b, doc_a FROM good),
         reach AS (SELECT u, v FROM edges
                   UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
                   WHERE e.v <> r.u),
         clus AS (SELECT u AS doc_id, least(u, min(v)) AS rep
                  FROM reach GROUP BY u)
         SELECT k.doc_id FROM kept k LEFT JOIN clus c ON k.doc_id = c.doc_id
         WHERE c.rep IS NULL OR c.rep = k.doc_id""",

    "x_doc_stats_by_source" -> {
      val punct = "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE / greatest(length(text), 1)"
      val stop = s"${dMarker(Text.langMarkers.toMap.apply("en"))}::DOUBLE / greatest(len(string_split(text, ' ')), 1)"
      val avgLen = "(length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE / greatest(len(string_split(text, ' ')), 1)"
      val q = s"""least(length(text)::DOUBLE / 500.0, 1.0) * 0.3
            + (1.0 - least($punct * 5.0, 1.0)) * 0.2
            + least($stop * 4.0, 1.0) * 0.3
            + (CASE WHEN $avgLen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2"""
      s"""SELECT source, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          count(DISTINCT lang) AS n_langs,
          min($q) AS min_quality, max($q) AS max_quality
          FROM documents GROUP BY source"""
    },

    "x_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
         FROM events""",

    "x_window_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "x_full_outer" ->
      """WITH a AS (SELECT o_custkey, count(*) AS n_open FROM orders
                    WHERE o_orderstatus = 'O' GROUP BY 1),
         b AS (SELECT o_custkey, count(*) AS n_filled FROM orders
               WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
                coalesce(n_open, 0) AS n_open,
                coalesce(n_filled, 0) AS n_filled,
                (n_open IS NULL OR n_filled IS NULL) AS one_sided
         FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""",

    // EWMA replayed: list_reduce's first element is the accumulator seed,
    // so prepending 0.0 reproduces Spark's aggregate(…, 0.0, fold);
    // 1−α is COMPUTED from string-cast doubles for bit-identical bits
    "x_ewma" ->
      """WITH per AS (SELECT user_id, count(*) AS n,
                             list(value ORDER BY ts, event_id) AS xs
                      FROM events GROUP BY user_id)
         SELECT user_id, CAST(n AS BIGINT) AS n_events,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE), xs),
                  (a, x) -> a * (CAST('1.0' AS DOUBLE) - CAST('0.2' AS DOUBLE))
                            + CAST('0.2' AS DOUBLE) * x) AS ewma
         FROM per""",

    // digest replayed: same '|'-joined rendering, same md5 bucket key,
    // same additive multiset hash — HUGEINT sum of 52-bit row-hash
    // prefixes mod 2^61-1 (order-invariant by construction; no nulls
    // reach the sentinel in these columns, so the NUL-prefixed null
    // marker never fires)
    "x_table_digest" ->
      """WITH r AS (SELECT c_custkey::VARCHAR AS k,
                    md5(c_custkey::VARCHAR || '|' || c_name || '|' ||
                        (c_acctbal::DECIMAL(18,2))::VARCHAR || '|' ||
                        c_mktsegment) AS rh
                    FROM customer),
         b AS (SELECT k, rh,
               CAST(('0x' || substr(md5(k), 1, 4))::BIGINT % 64 AS INTEGER) AS bucket
               FROM r)
         SELECT bucket, count(*) AS n_rows,
                CAST(sum(('0x' || substr(rh, 1, 13))::BIGINT)
                     % 2305843009213693951 AS BIGINT) AS digest
         FROM b GROUP BY bucket""",

    // the generator replayed as a distinct-shingle list comprehension
    // (the same replay the minhash oracle uses)
    "x_lateral_generator" ->
      """SELECT doc_id,
                unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in range(1, len(ws) - 1)])) AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id < 100)
         WHERE len(ws) >= 3""",

    // map entries replayed as a two-branch union — row sets must match
    "x_map_funcs" ->
      """SELECT event_id, 'k' AS prop_key,
                json_extract_string(props, '$.k') AS prop_val
         FROM events WHERE event_id < 2000
         UNION ALL
         SELECT event_id, 'amt', json_extract_string(props, '$.amt')
         FROM events WHERE event_id < 2000""",

    // the same SQL nearly verbatim; the "above average" scalar-subquery
    // compare is value·N > Σvalue in DECIMAL — shuffle-order-proof where
    // a double AVG could flip the boundary row's bit
    "x_subqueries" ->
      """SELECT c_custkey, c_mktsegment,
                CAST(c_acctbal AS DECIMAL(18,2)) *
                  (SELECT COUNT(*) FROM customer) >
                  (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                   FROM customer) AS above_avg
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 100000)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F'
                             AND o.o_totalprice < 5000)""",

    // null-safe join replayed with IS NOT DISTINCT FROM — the null
    // groups of both sides must land in ONE row, not be dropped
    "x_null_safe_join" ->
      """WITH ev AS (SELECT event_id,
                            CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 <> 0
                                 THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                            END AS k
                     FROM events),
         a AS (SELECT k, count(*) AS n_even FROM ev
               WHERE event_id % 2 = 0 GROUP BY k),
         b AS (SELECT k, count(*) AS n_odd FROM ev
               WHERE event_id % 2 = 1 GROUP BY k)
         SELECT coalesce(a.k, b.k) AS k_val,
                (a.k IS NULL AND b.k IS NULL) AS is_null_group,
                coalesce(n_even, 0) AS n_even,
                coalesce(n_odd, 0) AS n_odd
         FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k""",

    // relative ranks replayed: ANSI definitions agree across engines and
    // each value is one two-integer division
    "x_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM orders WHERE o_orderkey % 29 = 0
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""",

    // RANGE frame replayed over the same integer epoch-second ordering;
    // peers (equal ts_s) share the frame in both engines by definition
    "x_rolling_range" ->
      """SELECT event_id, user_id,
                count(*) OVER w AS n_24h,
                CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v_24h
         FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s, value
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                      RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)""",

    // Markov matrix replayed: same (ts, event_id)-ordered lag pairs,
    // same two-integer division per cell
    "x_markov" ->
      """WITH p AS (SELECT event_type AS to_state,
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS from_state
                    FROM events),
         c AS (SELECT from_state, to_state, count(*) AS n FROM p
               WHERE from_state IS NOT NULL GROUP BY from_state, to_state)
         SELECT from_state, to_state, n,
                n::DOUBLE / (sum(n) OVER (PARTITION BY from_state))::DOUBLE AS p
         FROM c""",

    // Spark's sliding window(1h, 30m) puts each event in exactly the two
    // epoch-aligned 30-minute-start windows covering it; DuckDB
    // time_bucket(30min) is :00/:30-aligned too, so unnesting both
    // candidate starts reproduces it exactly.
    "x_window_sliding" ->
      """SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
                count(*) AS n_events
         FROM (SELECT event_type,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS s
               FROM events)
         GROUP BY 1, 2""",

    // session paths replayed: same (ts, event_id)-ordered gap cut, same
    // ordered string assembly, same >= 3 frequency floor
    "x_event_paths" ->
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_s
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
         p AS (SELECT user_id, sid,
                      string_agg(event_type, '>' ORDER BY ts, event_id) AS path
               FROM s GROUP BY user_id, sid)
         SELECT path, count(*) AS n_sessions FROM p
         GROUP BY path HAVING count(*) >= 3""",

    "x_sessionize" ->
      """WITH g AS (SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_s
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         i AS (SELECT user_id, ts, SUM(new_s) OVER
               (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
         s AS (SELECT user_id, sid, count(*) AS n,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS span
               FROM i GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(n) AS BIGINT) AS n_events,
                CAST(sum(span) AS BIGINT) AS total_span_us
         FROM s GROUP BY user_id""",

    "x_time_weighted" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                    FROM events),
         d AS (SELECT user_id, value,
                      lead(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) - ts_us AS dt
               FROM e),
         f AS (SELECT user_id,
                      CAST(CAST(floor(value * 1048576.0) AS BIGINT)
                           AS DECIMAL(38,0)) * dt AS wv, dt
               FROM d WHERE dt IS NOT NULL)
         SELECT user_id,
                (CAST(CAST(CAST(sum(wv) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
                   / 1048576.0)
                  / CAST(sum(dt) AS DOUBLE) AS twa,
                CAST(sum(dt) AS BIGINT) AS total_us,
                count(*) AS n_intervals
         FROM f GROUP BY user_id""",

    "x_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
                    FROM events),
         first AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
         act AS (SELECT DISTINCT e.user_id, f.cohort_week,
                        e.wk - f.cohort_week AS week_offset
                 FROM e JOIN first f USING (user_id))
         SELECT cohort_week, week_offset, count(*) AS n_users
         FROM act GROUP BY 1, 2""",

    "x_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events
               WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, p.purchase_id AS last_purchase_id
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    "x_range_join" ->
      """WITH e AS (SELECT event_id, ts FROM events)
         SELECT a.event_id, count(b.event_id) AS n_neighbors
         FROM e a LEFT JOIN e b
           ON b.event_id <> a.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
         GROUP BY a.event_id""",

    "x_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""",

    "x_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""",

    "x_cube_stats" ->
      """SELECT o_orderstatus, year(o_orderdate) AS order_year, count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY CUBE (o_orderstatus, year(o_orderdate))""",

    "x_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                l_quantity AS value FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
         FROM lineitem WHERE l_orderkey < 1000""",

    "x_string_agg" ->
      """SELECT r_name,
                string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "x_stratified_sample" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey % 10 < CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 5
                                     WHEN c_mktsegment = 'BUILDING' THEN 2
                                     ELSE 1 END""",

    // full recompute — the incremental merge must match this exactly
    "x_incremental_agg" ->
      """SELECT l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_suppkey""",

    "x_clean_audit" ->
      """SELECT count(*) AS rows_in,
         COUNT(CASE WHEN l_partkey IS NULL THEN 1 END) AS null_partkey,
         COUNT(CASE WHEN l_suppkey IS NULL THEN 1 END) AS null_suppkey,
         COUNT(CASE WHEN l_discount <= 0 THEN 1 END) AS nonpos_discount,
         COUNT(CASE WHEN l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
                     AND l_discount > 0 THEN 1 END) AS rows_out
         FROM lineitem""",

    "x_upsert_scd1" ->
      """WITH u AS (SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
                    FROM customer WHERE c_custkey % 7 = 0
                    UNION ALL
                    SELECT c_custkey + 1000000, 'NEW', c_mktsegment
                    FROM customer WHERE c_custkey % 100 = 0)
         SELECT coalesce(u.c_custkey, c.c_custkey) AS c_custkey,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                     ELSE c.c_name END AS c_name,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                     ELSE c.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.c_custkey""",

    // CDC replayed: same last-writer row_number (version DESC, op DESC),
    // same delete drop, same pass-through anti-join
    "x_apply_cdc" ->
      """WITH feed AS (SELECT o_custkey AS c_custkey,
                              'u' || o_orderkey AS c_name,
                              o_totalprice AS c_acctbal,
                              o_orderkey AS version,
                              CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
                       FROM orders),
         latest AS (SELECT c_custkey, c_name, c_acctbal, op FROM
                    (SELECT *, row_number() OVER (PARTITION BY c_custkey
                             ORDER BY version DESC, op DESC) AS rn FROM feed)
                    WHERE rn = 1)
         SELECT c.c_custkey, c.c_name, c.c_acctbal
         FROM customer c LEFT JOIN latest l ON c.c_custkey = l.c_custkey
         WHERE l.c_custkey IS NULL
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'""",

    "x_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
         dim AS (SELECT c_custkey, c_name, c_mktsegment,
                        TIMESTAMP '2020-01-01' AS valid_from,
                        CAST(NULL AS TIMESTAMP) AS valid_to FROM cust
                 UNION ALL
                 SELECT c_custkey, c_name, 'OLD',
                        TIMESTAMP '2015-01-01', TIMESTAMP '2020-01-01'
                 FROM cust WHERE c_custkey % 13 = 0),
         u AS (SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
               FROM cust WHERE c_custkey % 7 = 0
               UNION ALL
               SELECT c_custkey + 1000000, c_name, c_mktsegment
               FROM cust WHERE c_custkey % 100 = 0),
         cur AS (SELECT * FROM dim WHERE valid_to IS NULL),
         hist AS (SELECT * FROM dim WHERE valid_to IS NOT NULL),
         dec AS (SELECT u.c_custkey, u.c_name, u.c_mktsegment,
                        (cur.c_custkey IS NULL
                         OR u.c_name IS DISTINCT FROM cur.c_name
                         OR u.c_mktsegment IS DISTINCT FROM cur.c_mktsegment) AS ch
                 FROM u LEFT JOIN cur ON u.c_custkey = cur.c_custkey),
         outp AS (SELECT * FROM hist
                  UNION ALL
                  SELECT cur.c_custkey, cur.c_name, cur.c_mktsegment,
                         cur.valid_from, TIMESTAMP '2026-01-01' FROM cur
                  WHERE EXISTS (SELECT 1 FROM dec
                                WHERE ch AND dec.c_custkey = cur.c_custkey)
                  UNION ALL
                  SELECT cur.* FROM cur
                  WHERE NOT EXISTS (SELECT 1 FROM dec
                                    WHERE ch AND dec.c_custkey = cur.c_custkey)
                  UNION ALL
                  SELECT c_custkey, c_name, c_mktsegment,
                         TIMESTAMP '2026-01-01', NULL FROM dec WHERE ch)
         SELECT c_custkey, c_name, c_mktsegment,
                strftime(valid_from, '%Y-%m-%d') AS vf,
                strftime(valid_to, '%Y-%m-%d') AS vt
         FROM outp""",

    "x_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                    WHERE o_orderkey % 50 <> 0),
         a AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
               FROM orders WHERE o_orderkey % 30 <> 0)
         SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                CASE WHEN b.o_orderkey IS NULL THEN 'added'
                     WHEN a.o_orderkey IS NULL THEN 'removed'
                     WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
                       THEN 'changed' END AS change_type
         FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey
         WHERE (CASE WHEN b.o_orderkey IS NULL THEN 'added'
                     WHEN a.o_orderkey IS NULL THEN 'removed'
                     WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
                       THEN 'changed' END) IS NOT NULL""",

    "x_histogram" ->
      """SELECT CAST(least(floor(l_extendedprice / 5000.0), 11) AS INTEGER) AS bucket,
         count(*) AS n FROM lineitem GROUP BY 1""",

    "x_doc_top_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($dNorm, ' ')) AS term
                       FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                 WHERE term <> '' GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                row_number() OVER (PARTITION BY tf.doc_id
                  ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rank
                FROM tf JOIN dfq USING (term))
          SELECT doc_id, term, tf, df, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3""",

    "x_rollup_stats" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "x_set_ops" ->
      """SELECT o_custkey FROM
         (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         UNION
         SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'""",

    "x_topn_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",

    "x_distinct_count" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
         count(*) AS n_orders FROM orders GROUP BY o_orderstatus""",

    "x_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS median_qty,
         quantile_cont(l_extendedprice, 0.25) AS price_q1,
         quantile_cont(l_extendedprice, 0.75) AS price_q3
         FROM lineitem GROUP BY l_returnflag""",

    // sketch verdicts (round-9): oracle supplies the EXACT side
    // natively plus literal TRUE for each tolerance claim — the
    // engine's booleans flip to FALSE (loud hash fail) on sketch drift
    "x_approx_stats" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_exact_parts,
         quantile_cont(l_extendedprice, 0.5) AS median_price,
         TRUE AS dist_ok, TRUE AS median_ok
         FROM lineitem GROUP BY l_returnflag""",

    "x_outlier_clip_approx" ->
      """SELECT l_returnflag, count(*) AS n,
         TRUE AS p05_ok, TRUE AS p95_ok,
         TRUE AS below_frac_ok, TRUE AS above_frac_ok
         FROM lineitem GROUP BY l_returnflag""",

    "x_top_terms_sketch" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                      FROM documents),
          tf AS (SELECT term, count(*) AS c FROM tok
                 WHERE term <> '' GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM tf)
         SELECT tot.n_tokens,
                (SELECT count(*) FROM tf, tot
                 WHERE c > n_tokens / 21.0) AS n_heavy,
                TRUE AS size_ok, TRUE AS all_heavy_in_sketch,
                TRUE AS sound
         FROM tot""",

    "x_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
         CAST(row_number() OVER w AS INTEGER) AS order_seq,
         CAST(rank() OVER w AS INTEGER) AS date_rank,
         count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS running_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spent,
         strftime(lag(o_orderdate, 1) OVER w, '%Y-%m-%d') AS prev_order_date
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "x_pivot" ->
      """SELECT o_custkey,
         COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
         COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
         COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
         FROM orders GROUP BY o_custkey""",

    "x_binary_frames" ->
      """WITH f AS (SELECT doc_id,
                    unnest([{'idx': i - 1,
                             'fr': substring(text, (i - 1) * 64 + 1, 64)}
                            for i in range(1, CAST(floor((length(text) - 1) / 64) AS INTEGER) + 2)]) AS u
                    FROM documents
                    WHERE doc_id < 100 AND octet_length(encode(text)) = length(text))
         SELECT doc_id AS media_id, CAST(u.idx AS INTEGER) AS frame_idx,
                md5(u.fr) AS frame_checksum
         FROM f WHERE u.idx % 2 = 0""",

    // BM25 replay. Float discipline mirrored from the Spark side: per-term
    // contributions pivoted to columns, added left-to-right; constants
    // written as the SAME literals ((1.2 + 1.0), not 2.2 — both engines
    // fold the identical IEEE add); every *, / association order matches
    // the Column expression exactly. The logarithm is graft's PORTABLE ln
    // (Pmath: exact 2^k range reduction + fixed-order atanh series, IEEE
    // arithmetic only) — libm ln differs across engines in the last ulp,
    // the series does not, and the three pln CTE layers here are
    // GENERATED from the same constant table as the Column expression.
    "x_bm25" -> {
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
          -- 1.2 is not exactly representable: left as a bare literal it
          -- is DECIMAL, and tf*(DECIMAL 2.2) folds EXACTLY before the
          -- double conversion while Spark rounds each double op — cast
          -- it so both engines run the identical IEEE sequence
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
                         coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0) AS score
                  FROM pt)
          SELECT doc_id, score,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
          FROM tot ORDER BY score DESC, doc_id LIMIT 20"""
    },

    "x_tfidf_terms" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH occ AS (SELECT doc, term FROM
                       (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                        FROM documents) WHERE term <> ''),
          tf AS (SELECT doc, term, count(*) AS tf FROM occ GROUP BY doc, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
                    HAVING count(*) >= 2),
          stats AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
          w0 AS (SELECT doc, term, tf, df, n_docs, n_docs / df AS lnin
                 FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
          pl1 AS (SELECT *, $l1 FROM w0),
          pl2 AS (SELECT *, $l2 FROM pl1),
          pl3 AS (SELECT *, $l3 FROM pl2),
          w AS (SELECT doc, term, tf * lnx AS tfidf FROM pl3),
          r AS (SELECT *, row_number() OVER
                       (PARTITION BY doc ORDER BY tfidf DESC, term) AS rank
                FROM w)
          SELECT doc AS doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3"""
    },

    "x_inverted_index" ->
      """WITH occ AS (SELECT doc, term FROM
                      (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                       FROM documents) WHERE term <> '')
         SELECT term, count(DISTINCT doc) AS df, count(*) AS cf,
                array_to_string(list_transform(
                  list_sort(list(DISTINCT doc))[1:100],
                  x -> CAST(x AS VARCHAR)), ',') AS postings
         FROM occ GROUP BY term HAVING count(DISTINCT doc) >= 5""",

    // one-scan ANALYZE profile: selection-only stats (min/max/NDV/null
    // counts) need no float arithmetic at all — aliases generated to
    // match the Spark side per column
    "x_table_stats" -> {
      val numeric = Seq("c_custkey", "c_nationkey", "c_acctbal")
      val strings = Seq("c_name", "c_mktsegment")
      val cols = (numeric.map(c =>
        s"CAST(min($c) AS DOUBLE) AS ${c}_min, CAST(max($c) AS DOUBLE) AS ${c}_max") ++
        strings.map(c => s"min($c) AS ${c}_min, max($c) AS ${c}_max") ++
        (numeric ++ strings).map(c =>
          s"count(DISTINCT $c) AS ${c}_ndv, count(*) - count($c) AS ${c}_nulls"))
        .mkString(", ")
      s"SELECT $cols FROM customer"
    },

    "x_split_assign" ->
      """SELECT doc_id, source,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket,
                CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
                     WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""",

    // identical synthesized strings, identical pattern constants (spliced
    // from Text.pii*Re — they cannot drift), identical replace order
    "x_redact_pii" ->
      s"""SELECT c_custkey,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  concat_ws(' ', 'reach', c_name, 'at',
                    lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) || '@example.com',
                    'or',
                    concat_ws('-', '25',
                      lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0'),
                      lpad(CAST((c_custkey * 13) % 1000 AS VARCHAR), 3, '0'),
                      lpad(CAST((c_custkey * 17) % 10000 AS VARCHAR), 4, '0')),
                    'from',
                    concat_ws('.', '10', CAST(c_custkey % 256 AS VARCHAR),
                              '0', CAST(c_custkey % 250 AS VARCHAR)),
                    c_mktsegment),
                  '${Text.piiEmailRe}', '<EMAIL>', 'g'),
                '${Text.piiIpRe}', '<IP>', 'g'),
              '${Text.piiPhoneRe}', '<PHONE>', 'g') AS clean_text
          FROM customer""",

    // sparse cosine replayed: same pruned vocabulary, same portable-ln
    // weights, norms and dots as list_sum over term-ordered lists
    "x_sparse_sim" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                       FROM documents),
          tf AS (SELECT doc, term, count(*) AS tf FROM tok
                 WHERE term <> '' GROUP BY doc, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
                    HAVING count(*) >= 2 AND count(*) <= 100),
          nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
          j AS (SELECT doc, tf.term, tf, n_docs / df::DOUBLE AS lnin
                FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nn),
          p1 AS (SELECT *, $l1 FROM j),
          p2 AS (SELECT *, $l2 FROM p1),
          p3 AS (SELECT *, $l3 FROM p2),
          w AS (SELECT doc, term, tf * lnx AS w FROM p3),
          nrm AS (SELECT doc, sqrt(list_sum(list(w * w ORDER BY term))) AS nrm
                  FROM w GROUP BY doc),
          pr AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
                        count(*) AS n_shared,
                        list_sum(list(a.w * b.w ORDER BY a.term)) AS dot
                 FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc
                 GROUP BY a.doc, b.doc)
          SELECT doc_a, doc_b, n_shared,
                 CASE WHEN na.nrm * nb.nrm <> 0
                      THEN dot / (na.nrm * nb.nrm) END AS cos
          FROM pr JOIN nrm na ON na.doc = pr.doc_a
                  JOIN nrm nb ON nb.doc = pr.doc_b
          WHERE CASE WHEN na.nrm * nb.nrm <> 0
                     THEN dot / (na.nrm * nb.nrm) END >= 0.5"""
    },

    // entropy replayed: same integer ratios, same portable ln, the
    // per-doc sum as list_sum over the token-ordered list
    "x_token_entropy" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                       FROM documents),
          c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
          n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
          j AS (SELECT c.doc_id, t, c.c, n.n,
                       n.n::DOUBLE / c.c::DOUBLE AS lnin
                FROM c JOIN n USING (doc_id)),
          p1 AS (SELECT *, $l1 FROM j),
          p2 AS (SELECT *, $l2 FROM p1),
          p3 AS (SELECT *, $l3 FROM p2),
          per AS (SELECT doc_id, max(n) AS n, count(*) AS vocab,
                         list((c::DOUBLE / n::DOUBLE) * lnx ORDER BY t) AS hs
                  FROM p3 GROUP BY doc_id)
          SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                 CAST(vocab AS BIGINT) AS vocab_size,
                 list_sum(hs) AS entropy FROM per"""
    },

    // PMI replayed: same integer products, same ratio-branch portable ln
    "x_pmi" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
          cw AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
          nn AS (SELECT count(*) AS n FROM tok),
          w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
                 FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)),
          cab AS (SELECT w1, w2, count(*) AS n_ab FROM bg
                  GROUP BY w1, w2 HAVING count(*) >= 5),
          j AS (SELECT w1, w2, n_ab,
                       CAST(n_ab * n AS BIGINT) AS num,
                       CAST(c1.c * c2.c AS BIGINT) AS den
                FROM cab JOIN cw c1 ON c1.t = cab.w1
                         JOIN cw c2 ON c2.t = cab.w2 CROSS JOIN nn),
          b AS (SELECT *, CASE WHEN num >= den THEN num::DOUBLE / den::DOUBLE
                               ELSE den::DOUBLE / num::DOUBLE END AS lnin FROM j),
          p1 AS (SELECT *, $l1 FROM b),
          p2 AS (SELECT *, $l2 FROM p1),
          p3 AS (SELECT *, $l3 FROM p2)
          SELECT w1, w2, n_ab,
                 CASE WHEN num >= den THEN lnx ELSE -lnx END AS pmi FROM p3"""
    },

    // hashed classifier replayed: same md5 4-hex bucket, same [−8, 8]
    // integer weights, one two-integer division for the margin
    "x_hash_classifier" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         w AS (SELECT doc_id,
                      ('0x' || substr(md5(t), 1, 4))::BIGINT % 17 - 8 AS w
               FROM tok),
         s AS (SELECT doc_id, count(*) AS n_tokens,
                      CAST(sum(w) AS BIGINT) AS score
               FROM w GROUP BY doc_id)
         SELECT doc_id, n_tokens, score,
                score::DOUBLE / n_tokens::DOUBLE AS margin,
                score > 0 AS keep
         FROM s""",

    // bigram LM replay: same counts, same smoothing, portable-ln CTE
    // layers, per-doc list ordered by position folded by list_sum (the
    // sequential fold proven exact by x_vector_features)
    "x_lm_score" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          bg AS (SELECT doc_id, i AS pos, ws[i] AS w1,
                        ws[i] || ' ' || ws[i+1] AS b
                 FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                       FROM w WHERE len(ws) >= 2)),
          cb AS (SELECT b, count(*) AS cbg FROM bg GROUP BY b),
          cw AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY w1),
          v AS (SELECT count(DISTINCT t) AS vsz FROM
                (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
          sc0 AS (SELECT doc_id, pos, (ctx + vsz)::DOUBLE / (cbg + 1) AS lnin
                  FROM bg JOIN cb USING (b) JOIN cw USING (w1) CROSS JOIN v),
          pl1 AS (SELECT *, $l1 FROM sc0),
          pl2 AS (SELECT *, $l2 FROM pl1),
          pl3 AS (SELECT *, $l3 FROM pl2),
          per AS (SELECT doc_id, list(-lnx ORDER BY pos) AS ls
                  FROM pl3 GROUP BY doc_id)
          SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_bigrams,
                 list_sum(ls) / len(ls) AS avg_lnp
          FROM per"""
    },

    // CCNet terciles replayed: same LM subquery, quantile_cont cutoffs
    // (the x_percentile-proven twin of Spark's percentile), same compare
    "x_ppl_buckets" ->
      s"""WITH s AS (SELECT * FROM $dLmAvgLnp),
          c AS (SELECT quantile_cont(avg_lnp, 0.3333333333333333) AS c_lo,
                       quantile_cont(avg_lnp, 0.6666666666666666) AS c_hi FROM s)
          SELECT doc_id, avg_lnp,
                 CASE WHEN avg_lnp >= c_hi THEN 'head'
                      WHEN avg_lnp >= c_lo THEN 'middle'
                      ELSE 'tail' END AS ppl_bucket
          FROM s CROSS JOIN c""",

    // DSIR replay: same md5 bucketing, same smoothed-count ratios through
    // the portable-ln CTE chain, same position-ordered fold
    "x_dsir_weights" -> {
      val (c1, c2, c3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnconst")
      val (s1, s2, s3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
                            string_split(text, ' ') AS ws FROM documents),
          tk AS (SELECT doc_id, tgt, i AS pos,
                        ('0x' || substr(md5(ws[i]), 1, 4))::BIGINT % 256 AS b
                 FROM (SELECT doc_id, tgt, ws, unnest(range(1, len(ws) + 1)) AS i
                       FROM w)),
          raw AS (SELECT b, count(*) AS cr FROM tk GROUP BY b),
          tg AS (SELECT b, count(*) AS ct FROM tk WHERE tgt GROUP BY b),
          feat AS (SELECT raw.b AS b, cr, coalesce(ct, 0) AS ct
                   FROM raw LEFT JOIN tg ON raw.b = tg.b),
          tot AS (SELECT (sum(cr) + 256)::DOUBLE / (sum(ct) + 256) AS lnin FROM feat),
          k1 AS (SELECT *, $c1 FROM tot),
          k2 AS (SELECT *, $c2 FROM k1),
          k3 AS (SELECT *, $c3 FROM k2),
          s0 AS (SELECT doc_id, pos, (cr + 1)::DOUBLE / (ct + 1) AS lnin
                 FROM tk JOIN feat ON tk.b = feat.b),
          p1 AS (SELECT *, $s1 FROM s0),
          p2 AS (SELECT *, $s2 FROM p1),
          p3 AS (SELECT *, $s3 FROM p2),
          per AS (SELECT doc_id, list(-lnx ORDER BY pos) AS ls FROM p3 GROUP BY doc_id)
          SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_tokens,
                 list_sum(ls) + len(ls) * lnconst AS dsir_logw
          FROM per CROSS JOIN (SELECT lnconst FROM k3) kk"""
    },

    // PageRank replayed: same symmetrized edges, same 3 unrolled rounds,
    // '…'→DOUBLE casts so every constant has the exact Spark bits, and
    // the contribution sum as the same fixed-point floor(c·2^40) BIGINT
    // sum the Spark side runs (associative, so partition/scan order is
    // irrelevant on both engines)
    // the landmark BFS replayed as a bounded recursive CTE (dist < 8
    // caps recursion; min(dist) collapses revisits), then the same
    // integer histogram readout: closeness = one division of exact
    // BIGINTs, harmonic = the dist-ascending list_reduce fold over
    // <= maxHops per-landmark terms — the same IEEE ops in the same
    // order as the Spark-side aggregate()
    "x_closeness" ->
      """WITH RECURSIVE ed AS (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS u,
                           'p' || CAST(l_partkey AS VARCHAR) AS v
           FROM lineitem),
         sym AS (SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed),
         lms AS (SELECT DISTINCT u AS lm FROM sym ORDER BY lm LIMIT 4),
         bfs(lm, id, dist) AS (
           SELECT lm, lm AS id, 0 AS dist FROM lms
           UNION
           SELECT b.lm, s.v AS id, b.dist + 1 AS dist
           FROM bfs b JOIN sym s ON s.u = b.id
           WHERE b.dist < 8),
         md AS (SELECT lm, id, min(dist) AS dist FROM bfs GROUP BY lm, id),
         h AS (SELECT lm, dist, count(*) AS cnt FROM md
               WHERE dist > 0 GROUP BY lm, dist)
         SELECT lm AS landmark,
                CAST(sum(cnt) AS BIGINT) AS n_reached,
                CAST(sum(dist * cnt) AS BIGINT) AS sum_dist,
                CAST(sum(cnt) AS DOUBLE) / CAST(sum(dist * cnt) AS DOUBLE)
                  AS closeness,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                    list(CAST(cnt AS DOUBLE) / CAST(dist AS DOUBLE)
                         ORDER BY dist)),
                  (a, x) -> a + x) AS harmonic
         FROM h GROUP BY lm""",

    // the landmark Brandes replay, both passes unrolled over the static
    // 6-hop horizon: forward levels l1..l6 (sigma = sum over level-(d-1)
    // predecessors; NOT EXISTS against the cumulative visited set),
    // backward d5..d0 with the IDENTICAL integer contribution
    // (sigma * (2^30 + dq)) // sigma_w in HUGEINT — every intermediate
    // is an exact integer on both engines; one double division at the end.
    // Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and the cum/l chain references each level twice, so the
    // un-hinted plan re-derives the whole prefix 2^levels times (at
    // sf0.1 that spilled past the disk before failing)
    "x_betweenness" -> dBetweennessOracle("", 4, 6),

    // the HyperANF replay: register evolution unrolled over the fixed
    // 6-round horizon (register-max per level, MATERIALIZED — the
    // betweenness CTE-chain discipline), then ONE shared estimate
    // pipeline over the (t, node) union: dyadic-exact register sums,
    // the portable-ln linear-counting branch, floor(est·2^20) HUGEINT
    // sums, and integer threshold compare for the effective diameter
    "x_eff_diameter" -> dHyperAnfOracle(6, ""),

    // the same replay at T=3 over the quarter-size graph — the engine
    // side runs the retainRounds=false fold, whose per-t census sums
    // are byte-identical to the shared-census form by construction, so
    // ONE oracle template grades both modes
    "x_eff_diameter_fold" ->
      dHyperAnfOracle(3, "WHERE l_partkey % 4 = 0"),

    "x_pagerank" -> {
      val dmp = "CAST('0.85' AS DOUBLE)"
      val tel = "(CAST('1.0' AS DOUBLE) - CAST('0.85' AS DOUBLE))"
      val scl = "CAST('1099511627776.0' AS DOUBLE)"
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT s.dst,
                   CAST(floor($dmp * r.rank / d.outdeg * $scl) AS BIGINT) AS cq
                 FROM sym s JOIN r${i - 1} r ON s.src = r.node
                            JOIN deg d ON s.src = d.src),
          r$i AS (SELECT dst AS node,
                   $tel / n + CAST(sum(cq) AS DOUBLE) / $scl AS rank
                 FROM c$i CROSS JOIN nn GROUP BY dst, n)"""
      }.mkString(",\n          ")
      s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
                             'p' || l_partkey AS dst FROM lineitem),
          sym AS (SELECT src, dst FROM e0
                  UNION SELECT dst AS src, src AS dst FROM e0),
          deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
          nn AS (SELECT count(*) AS n FROM deg),
          r0 AS (SELECT src AS node, CAST('1.0' AS DOUBLE) / n AS rank
                 FROM deg CROSS JOIN nn),
          $rounds
          SELECT node, rank FROM r3"""
    },

    // personalized PageRank replayed: the x_pagerank round CTEs with the
    // per-round contribution aggregate FULL OUTER JOINed against the
    // supplier-seed teleport frame (COALESCE in the same fixed single-
    // addition order the engine uses)
    "x_ppr" -> {
      val dmp = "CAST('0.85' AS DOUBLE)"
      val tel = "(CAST('1.0' AS DOUBLE) - CAST('0.85' AS DOUBLE))"
      val scl = "CAST('1099511627776.0' AS DOUBLE)"
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT s.dst,
                   CAST(floor($dmp * r.rank / d.outdeg * $scl) AS BIGINT) AS cq
                 FROM sym s JOIN r${i - 1} r ON s.src = r.node
                            JOIN deg d ON s.src = d.src),
          a$i AS (SELECT dst, sum(cq) AS sq FROM c$i GROUP BY dst),
          r$i AS (SELECT COALESCE(a.dst, t.tnode) AS node,
                   COALESCE(t.tele, CAST('0.0' AS DOUBLE))
                     + CAST(COALESCE(a.sq, 0) AS DOUBLE) / $scl AS rank
                 FROM a$i a FULL OUTER JOIN tf t ON t.tnode = a.dst)"""
      }.mkString(",\n          ")
      s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
                             'p' || l_partkey AS dst FROM lineitem),
          sym AS (SELECT src, dst FROM e0
                  UNION SELECT dst AS src, src AS dst FROM e0),
          deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
          seeds AS (SELECT DISTINCT src AS node FROM e0),
          ns AS (SELECT count(*) AS ns FROM seeds),
          tf AS (SELECT node AS tnode, $tel / ns AS tele
                 FROM seeds CROSS JOIN ns),
          r0 AS (SELECT node, CAST('1.0' AS DOUBLE) / ns AS rank
                 FROM seeds CROSS JOIN ns),
          $rounds
          SELECT node, rank FROM r3"""
    },

    // triangle census replayed: same min-support-2 co-purchase edges,
    // same (degree, id)-packed BIGINT orientation, wedges at the pivot
    // closed against the undirected edge set
    "x_triangle_count" ->
      """WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok,
                            CAST(a.l_partkey AS BIGINT) AS pa,
                            CAST(b.l_partkey AS BIGINT) AS pb
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         ed AS (SELECT pa AS a, pb AS b FROM pr
                GROUP BY pa, pb HAVING count(*) >= 2),
         deg AS (SELECT id, count(*) AS deg
                 FROM (SELECT a AS id FROM ed UNION ALL SELECT b FROM ed)
                 GROUP BY id),
         dir AS (SELECT CASE WHEN da.deg * 4294967296 + e.a < db.deg * 4294967296 + e.b
                             THEN e.a ELSE e.b END AS u,
                        CASE WHEN da.deg * 4294967296 + e.a < db.deg * 4294967296 + e.b
                             THEN e.b ELSE e.a END AS v
                 FROM ed e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
         tri AS (SELECT count(*) AS n_triangles
                 FROM (SELECT e1.v AS x, e2.v AS y
                       FROM dir e1 JOIN dir e2 ON e1.u = e2.u AND e1.v < e2.v) w
                 JOIN ed ON w.x = ed.a AND w.y = ed.b)
         SELECT (SELECT count(DISTINCT id) FROM
                  (SELECT a AS id FROM ed UNION ALL SELECT b FROM ed)) AS n_nodes,
                (SELECT count(*) FROM ed) AS n_edges,
                (SELECT n_triangles FROM tri) AS n_triangles,
                (SELECT max(deg) FROM deg) AS max_degree""",

    // what a correct duplicated-span coverage MUST report: shared 3-grams
    // (≥ 2 distinct docs), per-doc interval union via the running-max
    // window, integer coverage divided by the token count once
    "x_dup_span" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gr
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
                     FROM w WHERE len(ws) >= 3)),
         shared AS (SELECT gr FROM (SELECT gr, count(DISTINCT doc_id) AS nd
                                    FROM g GROUP BY gr) WHERE nd >= 2),
         d AS (SELECT doc_id, pos FROM g JOIN shared USING (gr)),
         c AS (SELECT doc_id, pos,
                      max(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM d),
         cov AS (SELECT doc_id,
                        sum(greatest(0, (pos + 2) -
                            greatest(pos - 1, coalesce(prev_end, 0)))) AS covered
                 FROM c GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
                coalesce(covered, 0)::DOUBLE / len(ws) AS dup_frac
         FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id""",

    // what a correct int8 quantize MUST produce: the same explicit-floor
    // arithmetic (q = floor(x/scale + 0.5)), scale = max|x|/127, error
    // recomputed from x rather than zipped — same IEEE ops either way
    "x_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         s AS (SELECT vec_id, v,
               coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) / 127.0 AS scale
               FROM e)
         SELECT vec_id,
                array_to_string(
                  CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS VARCHAR))
                       ELSE list_transform(v, x ->
                         CAST(CAST(floor(x / scale + 0.5) AS INTEGER) AS VARCHAR))
                  END, ',') AS q8,
                scale,
                CASE WHEN scale = 0 THEN 0.0
                     ELSE coalesce(list_max(list_transform(v, x ->
                            abs(floor(x / scale + 0.5) * scale - x))), 0.0)
                END AS max_err
         FROM s""",

    // what a correct WAV decode MUST read back: the synthesized samples
    // ((id·73 + i·37) mod 4096) − 2048 regenerated positionally, their
    // sums/peak/sign-change count — integers end to end, duration from
    // exact division (1e6/8000 = 125 µs per sample)
    "x_audio_decode" ->
      """WITH ids AS (SELECT doc_id AS media_id, 32 + doc_id % 33 AS n
                      FROM documents WHERE doc_id < 200),
         s AS (SELECT media_id, n, i,
                      ((media_id * 73 + i * 37) % 4096) - 2048 AS v
               FROM (SELECT media_id, n, unnest(range(n)) AS i FROM ids)),
         z AS (SELECT media_id, n, v,
                      CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg,
                      lag(CASE WHEN v < 0 THEN -1 ELSE 1 END)
                        OVER (PARTITION BY media_id ORDER BY i) AS psg
               FROM s)
         SELECT media_id,
                CAST(8000 AS INTEGER) AS sample_rate,
                CAST(any_value(n) AS BIGINT) AS n_samples,
                CAST(any_value(n) * 125 AS BIGINT) AS duration_us,
                CAST(sum(v) AS BIGINT) AS sum_amp,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(max(abs(v)) AS INTEGER) AS peak,
                CAST(count(*) FILTER (WHERE psg IS NOT NULL AND sg <> psg)
                     AS BIGINT) AS zero_crossings
         FROM z GROUP BY media_id""",

    // what a correct PNG decode MUST read back: solid (37id,59id,83id)
    // mod 256 with the top-left pixel inverted, so each channel average
    // is (c*(n-1) + (255-c)) / n over n = w*h pixels — pure integer
    // arithmetic divided once, exact in both engines
    "x_image_decode" ->
      """WITH ids AS (SELECT doc_id AS media_id,
                      8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                      doc_id * 37 % 256 AS r, doc_id * 59 % 256 AS g,
                      doc_id * 83 % 256 AS b
                      FROM documents WHERE doc_id < 100)
         SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                (r * (w * h - 1) + (255 - r))::DOUBLE / (w * h) AS avg_r,
                (g * (w * h - 1) + (255 - g))::DOUBLE / (w * h) AS avg_g,
                (b * (w * h - 1) + (255 - b))::DOUBLE / (w * h) AS avg_b
         FROM ids""",

    // what a correct JPEG decode MUST read back: exact dimensions, and
    // channel means within the graded ±6 tolerance of the synthesized
    // solid color (the lossy-codec contract — measured JDK round-trip
    // error ≤ 3.0/channel, so ok_color is TRUE for every id)
    "x_image_decode_jpeg" ->
      """SELECT doc_id AS media_id,
                CAST(8 + doc_id % 9 AS INTEGER) AS width,
                CAST(8 + doc_id % 7 AS INTEGER) AS height,
                TRUE AS ok_color
         FROM documents WHERE doc_id < 100""",

    // what a correct AVI demux + DIB decode MUST read back: every pixel
    // of every frame regenerated from the closed form, summed per
    // channel, plus the image-top-left pixel (the statistic a
    // bottom-up/top-down confusion cannot fake) — integers end to end
    "x_video_decode" ->
      """WITH ids AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS w,
                             3 + doc_id % 4 AS h, 2 + doc_id % 3 AS nf
                      FROM documents WHERE doc_id < 100),
         fr AS (SELECT media_id, w, h, unnest(range(nf)) AS f FROM ids),
         ys AS (SELECT media_id, w, h, f, unnest(range(h)) AS y FROM fr),
         px AS (SELECT media_id, w, h, f, y, unnest(range(w)) AS x FROM ys),
         v AS (SELECT media_id, w, h, f, y, x,
                      (media_id * 37 + f * 41 + y * 43 + x * 47) % 256 AS r,
                      (media_id * 19 + f * 23 + y * 29 + x * 31) % 256 AS g,
                      (media_id * 7 + f * 11 + y * 13 + x * 17) % 256 AS b
               FROM px)
         SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
                CAST(any_value(w) AS INTEGER) AS width,
                CAST(any_value(h) AS INTEGER) AS height,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(g) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(max(CASE WHEN x = 0 AND y = 0 THEN r END) AS INTEGER) AS r00,
                CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS INTEGER) AS g00,
                CAST(max(CASE WHEN x = 0 AND y = 0 THEN b END) AS INTEGER) AS b00
         FROM v GROUP BY media_id, f""",

    // what a correct pixel-level dHash MUST produce: comparison bit
    // y*8+x equals md5(family) bit y*8+x (MSB-first nibbles) because
    // the synth walks ±6 by exactly those bits and the jitter/upscale
    // can't flip a comparison — except the variant-3 bump, which forces
    // bits 19/20 to 1/0 — so the oracle builds every media's 64-bit
    // hash from the digest alone and replays the min-id/count clustering
    "x_image_phash" ->
      """WITH ids AS (SELECT doc_id AS media_id, doc_id // 4 AS f,
                             doc_id % 4 AS v
                      FROM documents WHERE doc_id < 400),
         fam AS (SELECT DISTINCT f, md5(CAST(f AS VARCHAR)) AS h FROM ids),
         bits0 AS (SELECT f, k,
                    (instr('0123456789abcdef',
                           substr(h, CAST(k // 4 AS INTEGER) + 1, 1)) - 1)
                      // CAST(power(2, 3 - (k % 4)) AS INTEGER) % 2 AS mbit
                  FROM (SELECT f, h, unnest(range(64)) AS k FROM fam)),
         bits AS (SELECT i.media_id, b.k,
                    CASE WHEN i.v = 3 AND b.k = 19 THEN 1
                         WHEN i.v = 3 AND b.k = 20 THEN 0
                         ELSE b.mbit END AS bit
                  FROM ids i JOIN bits0 b ON b.f = i.f),
         m AS (SELECT media_id,
                  CAST(sum(CASE WHEN k >= 32
                       THEN bit * CAST(power(2, k - 32) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS phash_hi,
                  CAST(sum(CASE WHEN k < 32
                       THEN bit * CAST(power(2, k) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS phash_lo
                FROM bits GROUP BY media_id),
         g AS (SELECT phash_hi, phash_lo, min(media_id) AS rep_id,
                      count(*) AS dup_n
               FROM m GROUP BY 1, 2)
         SELECT m.media_id, m.phash_hi, m.phash_lo, g.rep_id, g.dup_n
         FROM m JOIN g USING (phash_hi, phash_lo)""",

    // quadratic bit-level census: every pair's Hamming distance counted
    // straight off the predicted bits — the banded engine join must
    // return exactly this set (blocking losslessness)
    "x_phash_neardup" ->
      """WITH ids AS (SELECT doc_id AS media_id, doc_id // 4 AS f,
                             doc_id % 4 AS v
                      FROM documents WHERE doc_id < 400),
         fam AS (SELECT DISTINCT f, md5(CAST(f AS VARCHAR)) AS h FROM ids),
         bits0 AS (SELECT f, k,
                    (instr('0123456789abcdef',
                           substr(h, CAST(k // 4 AS INTEGER) + 1, 1)) - 1)
                      // CAST(power(2, 3 - (k % 4)) AS INTEGER) % 2 AS mbit
                  FROM (SELECT f, h, unnest(range(64)) AS k FROM fam)),
         bits AS (SELECT i.media_id, b.k,
                    CASE WHEN i.v = 3 AND b.k = 19 THEN 1
                         WHEN i.v = 3 AND b.k = 20 THEN 0
                         ELSE b.mbit END AS bit
                  FROM ids i JOIN bits0 b ON b.f = i.f)
         SELECT a.media_id AS id_a, b.media_id AS id_b,
                CAST(count(*) FILTER (WHERE a.bit <> b.bit) AS BIGINT)
                  AS hamming
         FROM bits a JOIN bits b
           ON a.k = b.k AND a.media_id < b.media_id
         GROUP BY 1, 2
         HAVING count(*) FILTER (WHERE a.bit <> b.bit) <= 2"""
  )
}
