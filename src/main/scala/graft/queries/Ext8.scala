package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Exact, Pmath, Text, Vectors}
import graft.operators.{Rank, Similarity, Stats}

/** Round-7 wave — ordinal effect sizes, L-moment fingerprints, drift
  * detectors, inequality/entropy readouts, and two LLM-corpus ops
  * (T5-style span corruption, tokenizer fertility). Every query carries
  * a bit-exact DuckDB oracle built from the repo's standing recipes:
  *
  *  - rank-spine integer geometry ([[graft.operators.Rank.withCumSums]])
  *    for Cliff's δ, Jonckheere–Terpstra and Ansari–Bradley — pairwise
  *    statistics WITHOUT pair materialization, decimal(38,0) products,
  *    one string-mediated double division at the end;
  *  - calendar-bounded key-partitioned windows (the seasonal-family
  *    shape) for Page–Hinkley and the Hurst rescaled range;
  *  - the portable ln ([[Pmath.lnColumn]]) replayed via
  *    [[Pmath.lnSqlChainCtes]] for entropy rate, Theil T and Hurst —
  *    with the Theil cross-row Σ x·ln x QUANTIZED to 2⁻²⁰ fixed point
  *    per distinct value so the data-scale sum stays an exact decimal
  *    (no ordered fold over data-sized lists);
  *  - md5-derived block decisions (the x_watermark/x_split_assign
  *    idiom) for span corruption, so masking replays exactly in SQL.
  */
object Ext8 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val eventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  private def cents(c: Column): Column =
    floor(c * lit(100.0)).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cliff's delta ordinal effect size, click vs purchase values —
    // the dominance magnitude next to x_mannwhitney's significance
    "x_cliffs_delta" -> ((s, d) =>
      Stats.cliffsDelta(t(s, d, "events"),
        col("event_type") === "click", col("event_type") === "purchase",
        cents(col("value")))),

    // Jonckheere–Terpstra ordered-trend statistic across the five
    // event types (alphabetical order as the tested ordering)
    "x_jonckheere" -> ((s, d) =>
      Stats.jonckheere(t(s, d, "events"), col("event_type"),
        cents(col("value")), eventTypes)),

    // Ansari–Bradley rank scale test: click vs view dispersion
    "x_ansari_bradley" -> ((s, d) =>
      Stats.ansariBradley(t(s, d, "events"),
        col("event_type") === "click", col("event_type") === "view",
        cents(col("value")))),

    // Page–Hinkley drift detector per event type on the daily cents
    // series (offline form against the series' own mean, λ = 50.0)
    "x_page_hinkley" -> ((s, d) =>
      Stats.pageHinkley(t(s, d, "events"), "event_type", col("ts"),
        col("value"), lambda = 50.0)),

    // First four L-moments (λ1, λ2, L-skew, L-kurt) per event type —
    // the robust distribution fingerprint off per-group order stats
    "x_lmoments" -> ((s, d) =>
      Stats.lMoments(t(s, d, "events"), "event_type",
        cents(col("value")))),

    // Grubbs max-studentized-deviation outlier audit per event type
    "x_grubbs" -> ((s, d) =>
      Stats.grubbs(t(s, d, "events"), "event_type",
        cents(col("value")))),

    // Theil T inequality of value concentration per event type —
    // fixed-point-quantized portable ln keeps Σ x·ln x exact
    "x_theil_index" -> ((s, d) =>
      Stats.theilIndex(t(s, d, "events"), "event_type",
        cents(col("value")))),

    // single-window Hurst rescaled-range per event type on daily cents
    "x_hurst" -> ((s, d) =>
      Stats.hurstRs(t(s, d, "events"), "event_type", col("ts"),
        col("value"))),

    // Markov entropy rate of the user event-type chain: H =
    // (1/N)·Σ_ij n_ij·(ln n_i − ln n_ij) over x_markov's transition
    // counts — k²-bounded ordered fold, portable lns
    "x_entropy_rate" -> ((s, d) => {
      val ord = Window.partitionBy("u").orderBy(col("ts"), col("eid"))
      val steps = t(s, d, "events").select(col("user_id").as("u"),
          col("ts"), col("event_id").as("eid"),
          col("event_type").as("to_s"))
        .withColumn("from_s", lag(col("to_s"), 1).over(ord))
        .filter(col("from_s").isNotNull)
      val nij = steps.groupBy("from_s", "to_s").agg(count(lit(1)).as("nij"))
      val ni = nij.groupBy("from_s").agg(sum("nij").as("ni"))
      val terms = nij.join(ni, Seq("from_s"))
        .select(col("from_s"), col("to_s"), col("nij"),
          (col("nij").cast("double") *
            (Pmath.lnColumn(col("ni")) - Pmath.lnColumn(col("nij"))))
            .as("h"))
      terms.agg(sum("nij").as("n_trans"),
          Exact.orderedSum(col("h"), col("from_s"), col("to_s")).as("h_num"))
        .select(col("n_trans"),
          (col("h_num") / col("n_trans").cast("double")).as("h_rate"))
    }),

    // T5-style span corruption: every 3-word block masks iff
    // md5(doc_id|block) lands in the 1-in-5 bucket; masked text swaps
    // each corrupted block for one <extra_id_k> sentinel, the target
    // lists sentinel + original words. Deterministic, shuffle shape =
    // one doc-keyed aggregate + one doc-partitioned block window
    "x_span_corruption" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id").as("doc"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "word")
        .withColumn("blk", call_function("div", col("pos"), lit(3)))
        .withColumn("corrupt",
          conv(substring(md5(concat_ws("|", col("doc"), col("blk"))), 1, 4),
            16, 10).cast("long") % 5 === 0)
      val wB = Window.partitionBy("doc").orderBy("blk")
      val blocks = toks.select("doc", "blk", "corrupt").distinct()
        .withColumn("sid",
          sum(when(col("corrupt"), 1L).otherwise(0L)).over(wB))
      val j = toks.drop("corrupt").join(blocks, Seq("doc", "blk"))
      def joined(c: Column) = {
        val arr = transform(sort_array(collect_list(c)),
          x => x.getField("tok"))
        when(size(arr) === 0, lit(null).cast("string"))
          .otherwise(array_join(arr, " "))
      }
      val sentinel =
        concat(lit("<extra_id_"), (col("sid") - 1).cast("string"), lit(">"))
      j.groupBy(col("doc").as("doc_id"))
        .agg(max(when(col("corrupt"), col("sid")).otherwise(0L))
            .as("n_spans"),
          joined(when(!col("corrupt"),
              struct(col("pos"), col("word").as("tok")))
            .when(col("pos") % 3 === 0,
              struct(col("pos"), sentinel.as("tok")))).as("masked"),
          joined(when(col("corrupt") && col("pos") % 3 === 0,
              struct(col("pos"),
                concat(sentinel, lit(" "), col("word")).as("tok")))
            .when(col("corrupt"),
              struct(col("pos"), col("word").as("tok")))).as("target"))
    }),

    // two-sample energy distance, click vs purchase — zero iff the
    // distributions coincide; interval-exact off the shared spine
    "x_energy_distance" -> ((s, d) =>
      Stats.energyDistance(t(s, d, "events"),
        col("event_type") === "click", col("event_type") === "purchase",
        cents(col("value")))),

    // GPD parameters per event type by the method of L-moments
    // (Hosking): κ, σ, μ are RATIONAL in (λ1, λ2, t3) — no special
    // functions, so the fit composes x_lmoments exactly
    "x_gpd_fit" -> ((s, d) =>
      Stats.lMoments(t(s, d, "events"), "event_type", cents(col("value")))
        .withColumn("kappa",
          (lit(1.0) - lit(3.0) * col("t3")) / (lit(1.0) + col("t3")))
        .withColumn("sigma", col("l2") * (lit(1.0) - col("kappa")) *
          (lit(2.0) - col("kappa")))
        .withColumn("mu",
          col("l1") - col("sigma") / (lit(2.0) - col("kappa")))
        .select("event_type", "n", "kappa", "sigma", "mu")),

    // per-source KL divergence of the term distribution against the
    // corpus: Σ (c_st/N_s)·ln(c_st·N / (N_s·c_t)) with the four
    // portable lns summed per (source, term) and quantized to 2⁻²⁰
    // fixed point so the cross-row sum stays an exact decimal (the
    // x_theil_index discipline — no data-sized ordered folds)
    "x_kl_source" -> ((s, d) => {
      val occ = t(s, d, "documents").select(col("source"),
        explode(split(col("text"), " ")).as("term"))
      val cst = occ.groupBy("source", "term").agg(count(lit(1)).as("cst"))
      val ct = cst.groupBy("term").agg(sum("cst").as("ct"))
      val ns = cst.groupBy("source").agg(sum("cst").as("ns"))
      val nn = cst.agg(sum("cst").as("nn"))
      cst.join(ct, Seq("term")).join(ns, Seq("source"))
        .crossJoin(broadcast(nn))
        .withColumn("q", floor(
          (Pmath.lnColumn(col("cst")) + Pmath.lnColumn(col("nn")) -
            Pmath.lnColumn(col("ns")) - Pmath.lnColumn(col("ct"))) *
            lit(1048576.0)).cast("long"))
        .groupBy("source").agg(count(lit(1)).as("n_terms"),
          max("ns").as("n_tokens"),
          sum(col("cst").cast("decimal(38,0)") * col("q")).as("klq"))
        .select(col("source"), col("n_terms"), col("n_tokens"),
          (col("klq").cast("string").cast("double") /
            (lit(1048576.0) * col("n_tokens").cast("double"))).as("kl"))
    }),

    // Dickey–Fuller unit-root statistic per event type on daily cents
    "x_adf" -> ((s, d) =>
      Stats.dickeyFuller(t(s, d, "events"), "event_type", col("ts"),
        col("value"))),

    // contrastive hard negatives: per query vector the top-5 by cosine
    // among rows with a DIFFERENT label — the broadcast-query
    // brute-force shape (corpus never shuffles) with the label
    // anti-filter before ranking
    "x_hard_negatives" -> ((s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"), col("label"),
        Vectors.l2Norm(col("embedding")).as("nrm"))
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("label").as("qlabel"), col("nrm").as("qn"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      base.crossJoin(broadcast(q))
        .where(col("label") =!= col("qlabel"))
        .withColumn("neighbor_id", col("vec_id"))
        .withColumn("cos", when(col("qn") * col("nrm") =!= 0.0,
          Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"),
          col("label").as("neg_label"), col("cos"), col("rank"))
    }),

    // cluster purity of the portable-k-means clustering vs the labeled
    // classes — the unsupervised-quality readout that tells a curation
    // pipeline whether its embedding clusters track semantics
    "x_cluster_purity" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nLists = 16, seed = 42, lloydIters = 2)
      val assigned = e.select(col("vec_id"), col("label"),
        array_min(Similarity.centroidScores(cents, col("embedding")))
          .getField("list").as("list"))
      val perLab = assigned.groupBy("list", "label")
        .agg(count(lit(1)).as("nl"))
      val wTop = Window.partitionBy("list")
        .orderBy(col("nl").desc, col("label").asc)
      val top = perLab.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
      assigned.groupBy("list").agg(count(lit(1)).as("n_vecs"))
        .join(top, Seq("list"))
        .select(col("list"), col("n_vecs"), col("label").as("top_label"),
          col("nl").as("n_top"),
          (col("nl").cast("double") / col("n_vecs").cast("double"))
            .as("purity"))
    }),

    // cluster-balanced corpus sampling: per-cluster quotas ∝ √size by
    // largest-remainder apportionment (500 total), then a deterministic
    // md5 pick inside each cluster — the semantic-coverage sampler a
    // pretraining mix uses so head clusters can't drown the tail. The
    // only ordered window over the quota frame is nLists rows —
    // parameter-bounded, never data-sized
    "x_cluster_balance" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nLists = 16, seed = 42, lloydIters = 2)
      val assigned = e.select(col("vec_id"),
        array_min(Similarity.centroidScores(cents, col("embedding")))
          .getField("list").as("list"))
      val sizes = assigned.groupBy("list").agg(count(lit(1)).as("n_vecs"))
        .withColumn("w", sqrt(col("n_vecs").cast("double")))
      val tot = sizes.agg(Exact.orderedSum(col("w"), col("list")).as("wsum"))
      val q0 = sizes.crossJoin(broadcast(tot))
        .withColumn("base",
          floor(lit(500.0) * col("w") / col("wsum")).cast("long"))
        .withColumn("rem", lit(500.0) * col("w") / col("wsum") -
          col("base").cast("double"))
      val sf = q0.agg((lit(500L) - sum("base")).as("shortfall"))
      val wRem = graft.operators.BoundedWindow.orderBy(col("rem").desc, col("list").asc)
      val quota = q0.crossJoin(broadcast(sf))
        .withColumn("tr", row_number().over(wRem).cast("long"))
        .withColumn("quota", col("base") +
          when(col("tr") <= col("shortfall"), 1L).otherwise(0L))
      val wSel = Window.partitionBy("list")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      assigned.join(quota.select("list", "quota", "n_vecs"), Seq("list"))
        .withColumn("pick_rank", row_number().over(wSel).cast("long"))
        .filter(col("pick_rank") <= col("quota"))
        .select(col("list"), col("vec_id"), col("pick_rank"),
          col("quota"), col("n_vecs"))
    }),

    // per-source quality gate: keep each source's top-80% documents by
    // the integer stopword-density score (rank·10 ≤ 8·n — pure integer
    // compare, no percentile estimation); the curation step between
    // scoring and mixing
    "x_quality_gate" -> ((s, d) => {
      val en = Text.langMarkers.toMap.apply("en")
      val f = t(s, d, "documents").select(col("doc_id"), col("source"),
          Text.markerCount(col("text"), en).cast("long").as("stop"),
          Text.tokenCountWs(col("text")).cast("long").as("nw"))
        .withColumn("score",
          call_function("div", col("stop") * lit(1000000L), col("nw")))
      val n = f.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val wR = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").asc)
      f.withColumn("rank", row_number().over(wR).cast("long"))
        .join(n, Seq("source"))
        .filter(col("rank") * 10 <= col("n_docs") * 8)
        .select(col("source"), col("doc_id"), col("score"), col("rank"),
          col("n_docs"))
    }),

    // longest period-3 repetition tiling per document: word_i ==
    // word_{i−3} matches grouped into runs via the islands trick —
    // the "how long does the loop run" readout next to x_repetition's
    // duplicated-gram ratio
    "x_repetition_runs" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
      val wD = Window.partitionBy("doc_id").orderBy("pos")
      val m = toks.withColumn("prev3", lag(col("col"), 3).over(wD))
        .filter(col("prev3").isNotNull && col("col") === col("prev3"))
      val runs = m
        .withColumn("grp", col("pos") - row_number().over(wD))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      val perDoc = runs.groupBy("doc_id")
        .agg(sum("run").as("n_matches"), max("run").as("max_run"))
      t(s, d, "documents").select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("max_run"), lit(0L)).as("max_run"),
          when(coalesce(col("max_run"), lit(0L)) > 0,
            coalesce(col("max_run"), lit(0L)) + lit(3L))
            .otherwise(lit(0L)).as("longest_tile"))
    }),

    // partial correlation of quantity and price given discount — the
    // confounder-adjusted association readout; all three pairwise r's
    // from ONE exact decimal moment aggregate, doubles only at the end
    "x_partial_corr" -> ((s, d) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val f = t(s, d, "lineitem").select(
        floor(col("l_quantity") * 100.0).cast("long").as("x"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("y"),
        floor(col("l_discount") * 100.0).cast("long").as("z"))
      val m = f.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("z"))).as("sz"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"),
        sum(dec(col("z")) * col("z")).as("szz"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("z")).as("sxz"),
        sum(dec(col("y")) * col("z")).as("syz"))
      val dbl = (c: Column) => c.cast("string").cast("double")
      def r(sab: String, a: String, b: String,
            saa: String, sbb: String): Column =
        dbl(dec(col("n")) * col(sab) - col(a) * col(b)) /
          sqrt(dbl(dec(col("n")) * col(saa) - col(a) * col(a)) *
            dbl(dec(col("n")) * col(sbb) - col(b) * col(b)))
      m.select(col("n"),
          r("sxy", "sx", "sy", "sxx", "syy").as("r_xy"),
          r("sxz", "sx", "sz", "sxx", "szz").as("r_xz"),
          r("syz", "sy", "sz", "syy", "szz").as("r_yz"))
        .withColumn("partial_r",
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
              (lit(1.0) - col("r_yz") * col("r_yz"))))
    }),

    // Durbin–Watson serial-correlation of each metric's daily trend
    // residuals — DW ~ 2 means the trend line explains the series
    "x_durbin_watson" -> ((s, d) =>
      Stats.durbinWatson(t(s, d, "events"), "event_type", col("ts"),
        col("value"))),

    // Cook's distance screening of the quantity→price regression: the
    // top-10 most fit-influential line items — per-row closed form
    // from ONE global moment aggregate (leverage via the integer
    // n·x − Σx deviation), TakeOrdered top-k, never a global sort
    "x_cooks_distance" -> ((s, d) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val dbl = (c: Column) => c.cast("string").cast("double")
      val f = t(s, d, "lineitem").select(
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("id"),
        floor(col("l_quantity") * 100.0).cast("long").as("x"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("y"))
      val m = f.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("y")) * col("y")).as("syy"))
      val fit = m.select(col("n"), col("sx"),
          (dbl(dec(col("n")) * col("sxy") - col("sx") * col("sy")) /
            dbl(dec(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("b"),
          dbl(dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .as("den_d"),
          dbl(col("sx")).as("sx_d"), dbl(col("sy")).as("sy_d"),
          dbl(col("sxx")).as("sxx_d"), dbl(col("sxy")).as("sxy_d"),
          dbl(col("syy")).as("syy_d"))
        .withColumn("a", (col("sy_d") - col("b") * col("sx_d")) /
          col("n").cast("double"))
        .withColumn("sse",
          col("syy_d") + col("n").cast("double") * col("a") * col("a") +
            col("b") * col("b") * col("sxx_d") -
            lit(2.0) * col("a") * col("sy_d") -
            lit(2.0) * col("b") * col("sxy_d") +
            lit(2.0) * col("a") * col("b") * col("sx_d"))
        .withColumn("s2", col("sse") / (col("n").cast("double") - lit(2.0)))
      f.crossJoin(broadcast(fit))
        .withColumn("e", col("y").cast("double") - col("a") -
          col("b") * col("x").cast("double"))
        .withColumn("u", dbl(dec(col("n")) * col("x") - col("sx")))
        .withColumn("h", lit(1.0) / col("n").cast("double") +
          col("u") * col("u") /
            (col("n").cast("double") * col("den_d")))
        .withColumn("cook", col("e") * col("e") * col("h") /
          (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
            (lit(1.0) - col("h"))))
        .orderBy(col("cook").desc, col("id").asc).limit(10)
        .select(col("id"), col("e").as("residual"), col("h").as("leverage"),
          col("cook"))
    }),

    // Gumbel fit of weekly block maxima per event type by the method
    // of L-moments: β = λ2/ln 2, μ = λ1 − γ·β — EVT's block-maxima
    // side next to x_gpd_fit's peaks-over-threshold side; ln 2 is the
    // portable ln, γ a shared literal double
    "x_gumbel_fit" -> ((s, d) => {
      val bm = t(s, d, "events")
        .groupBy(col("event_type"),
          floor(unix_seconds(col("ts")) / lit(604800L)).cast("long")
            .as("week"))
        .agg(max(floor(col("value") * lit(100.0)).cast("long")).as("v"))
        .select(col("event_type"), col("v"))
      Stats.lMoments(bm, "event_type", col("v"))
        .withColumn("beta", col("l2") / Pmath.lnColumn(lit(2.0)))
        .withColumn("mu",
          col("l1") - lit(0.5772156649015329) * col("beta"))
        .select("event_type", "n", "beta", "mu")
    }),

    // Bhattacharyya coefficient / Hellinger distance between the click
    // and purchase value distributions: per-distinct-value
    // √(ca·cb) terms quantized to 2⁻²⁰ fixed point (floor of the
    // identical IEEE sqrt on both engines) so the spine sum stays an
    // exact decimal — the x_theil_index discipline for a data-sized
    // support
    "x_bhattacharyya" -> ((s, d) => {
      val f = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(floor(col("value") * lit(100.0)).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("ya"))
        .where(col("v").isNotNull)
      val perV = f.groupBy("v").agg(sum("ya").as("ca"),
        (count(lit(1)) - sum("ya")).as("cb"))
      val tot = f.agg(sum("ya").as("na"),
        (count(lit(1)) - sum("ya")).as("nb"))
      perV
        .select(floor(sqrt(col("ca").cast("double") *
            col("cb").cast("double")) * lit(1048576.0)).cast("long")
          .as("q"))
        .agg(sum(col("q").cast("decimal(38,0)")).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("na"), col("nb"),
          (col("s").cast("string").cast("double") / lit(1048576.0) /
            sqrt(col("na").cast("double") * col("nb").cast("double")))
            .as("bc"))
        .withColumn("hellinger",
          sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))))
    }),

    // empirical upper tail dependence of quantity and price: both 90th
    // percentiles read exactly off the rank spines (10·cum ≥ 9·n), the
    // joint exceedance is one integer count, λ_U one division
    "x_tail_dependence" -> ((s, d) => {
      val f = t(s, d, "lineitem").select(
        floor(col("l_quantity") * 100.0).cast("long").as("x"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("y"))
      def thresh(c: String): DataFrame = {
        val perV = f.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        Rank.withCumSums(perV, Seq("v"), Seq("cnt" -> "cum"))
          .crossJoin(broadcast(f.agg(count(lit(1)).as("n"))))
          .agg(min(when(col("cum") * 10 >= col("n") * 9, col("v")))
            .as(s"q_$c"))
      }
      val th = thresh("x").crossJoin(thresh("y"))
      f.crossJoin(broadcast(th))
        .agg(count(lit(1)).as("n"),
          max(col("q_x")).as("qx_cents"), max(col("q_y")).as("qy_cents"),
          sum(when(col("x") > col("q_x"), 1L).otherwise(0L))
            .as("n_x_exceed"),
          sum(when(col("x") > col("q_x") && col("y") > col("q_y"), 1L)
            .otherwise(0L)).as("n_joint"))
        .select(col("n"), col("qx_cents"), col("qy_cents"),
          col("n_x_exceed"), col("n_joint"),
          (col("n_joint").cast("double") /
            col("n_x_exceed").cast("double")).as("lambda_u"))
    }),

    // simplified silhouette of the portable-k-means clustering
    // (centroid distances instead of pairwise): per row a = dist to own
    // centroid, b = min dist to any other, sil = (b−a)/max(a,b); the
    // per-row sil quantizes to 2⁻²⁰ fixed point so the per-cluster mean
    // is a ratio of exact integers — the cohesion/separation reading
    // next to x_cluster_purity's label agreement
    "x_silhouette" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nLists = 16, seed = 42, lloydIters = 2)
      val scored = e.select(col("vec_id"),
        Vectors.dot(col("embedding"), col("embedding")).as("vv"),
        Similarity.centroidScores(cents, col("embedding")).as("scores"))
        .withColumn("own", array_min(col("scores")).getField("list"))
        .withColumn("a2", array_min(col("scores")).getField("s"))
        .withColumn("b2", array_min(filter(col("scores"),
          x => x.getField("list") =!= col("own"))).getField("s"))
        .withColumn("a", sqrt(greatest(lit(0.0), col("a2") + col("vv"))))
        .withColumn("b", sqrt(greatest(lit(0.0), col("b2") + col("vv"))))
        .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
        .withColumn("q", floor(col("sil") * lit(1048576.0)).cast("long"))
      scored.groupBy(col("own").as("list"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("q").cast("decimal(38,0)")).as("sq"))
        .select(col("list"), col("n_vecs"),
          (col("sq").cast("string").cast("double") /
            (lit(1048576.0) * col("n_vecs").cast("double")))
            .as("mean_sil"))
    }),

    // 2×2 odds ratio of the stopword en-detector against the language
    // label, with the Woolf log-CI — exact cells, the one portable ln,
    // ln-space bounds (no exp: it is not in the portable kernel)
    "x_odds_ratio" -> ((s, d) => {
      val en = Text.langMarkers.toMap.apply("en")
      val f = t(s, d, "documents").select(
        (Text.markerCount(col("text"), en) >= 2).as("det"),
        (col("lang") === "en").as("pos"))
      val dbl = (c: Column) => c.cast("double")
      f.agg(
          sum(when(col("det") && col("pos"), 1L).otherwise(0L)).as("a"),
          sum(when(col("det") && !col("pos"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("det") && col("pos"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("det") && !col("pos"), 1L).otherwise(0L)).as("d"))
        .withColumn("odds_ratio",
          dbl(col("a")) * dbl(col("d")) / (dbl(col("b")) * dbl(col("c"))))
        .withColumn("ln_or", Pmath.lnColumn(col("odds_ratio")))
        .withColumn("se", sqrt(lit(1.0) / dbl(col("a")) +
          lit(1.0) / dbl(col("b")) + lit(1.0) / dbl(col("c")) +
          lit(1.0) / dbl(col("d"))))
        .select(col("a"), col("b"), col("c"), col("d"), col("odds_ratio"),
          col("ln_or"), col("se"),
          (col("ln_or") - lit(1.96) * col("se")).as("ci_lo_ln"),
          (col("ln_or") + lit(1.96) * col("se")).as("ci_hi_ln"))
    }),

    // error-rate comparison of the first week vs the second week of
    // the event log: exact counts, rate ratio, and the conditional
    // score z = (k1 − k2)/√(k1 + k2) for equal exposures
    "x_rate_ratio" -> ((s, d) => {
      val ev = t(s, d, "events")
      val t0 = ev.agg(min(unix_seconds(col("ts"))).as("t0"))
      ev.filter(col("event_type") === "error")
        .crossJoin(broadcast(t0))
        .withColumn("dday", floor((unix_seconds(col("ts")) - col("t0"))
          .cast("double") / lit(86400.0)).cast("long"))
        .agg(
          sum(when(col("dday") >= 0 && col("dday") < 7, 1L)
            .otherwise(0L)).as("k1"),
          sum(when(col("dday") >= 7 && col("dday") < 14, 1L)
            .otherwise(0L)).as("k2"))
        .select(col("k1"), col("k2"),
          (col("k1").cast("double") / col("k2").cast("double"))
            .as("rate_ratio"),
          ((col("k1") - col("k2")).cast("double") /
            sqrt((col("k1") + col("k2")).cast("double"))).as("z_score"))
    }),

    // tokenizer fertility per language: sub-word tokens (letters-run /
    // digits-run / single punctuation regex — the BPE-ish pre-split)
    // per whitespace word
    "x_tokenizer_fertility" -> ((s, d) =>
      t(s, d, "documents").select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nw"),
          expr("size(regexp_extract_all(text, " +
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))").cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
          sum("nt").as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"))),
  )

  // ---------------------------------------------------------------- SQL

  private def perTypeCounts(tag: String): String = eventTypes.map(g =>
    s"CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS ${tag}_$g")
    .mkString(", ")

  /** The x_lmoments SQL over an arbitrary `(g, v)` base selection —
    * shared with x_gpd_fit (raw cents) and x_gumbel_fit (weekly block
    * maxima). */
  private def lmomentsSqlOver(baseSel: String): String = {
    def fF(m: String, r: Int): String = r match {
      case 1 => s"24 * $m::HUGEINT"
      case 2 => s"12 * $m::HUGEINT * ($m - 1)"
      case 3 => s"4 * $m::HUGEINT * ($m - 1) * ($m - 2)"
      case 4 => s"$m::HUGEINT * ($m - 1) * ($m - 2) * ($m - 3)"
    }
    def bNum(k: Int): String =
      s"sum(v::HUGEINT * ((${fF("(p + c)", k + 1)}) - (${fF("p", k + 1)}))) AS b$k"
    val fact = Array(1, 1, 2, 6)
    def den(k: Int): String =
      (1 to k).foldLeft("24 * n::HUGEINT")((acc, t) => s"$acc * (n - $t)")
    // parenthesized: 20.0 * X / Y rounds differently than
    // 20.0 * (X / Y), and the engine computes the ratio first
    def b(k: Int): String =
      s"(CAST(CAST(b$k * ${fact(k)} AS VARCHAR) AS DOUBLE) / " +
        s"CAST(CAST(${den(k)} AS VARCHAR) AS DOUBLE))"
    val l2 = s"2.0 * ${b(1)} - ${b(0)}"
    s"""WITH f AS ($baseSel),
       p AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             FROM f GROUP BY 1, 2),
       sp AS (SELECT g, v, c,
                CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS p
              FROM p),
       a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
               ${bNum(0)}, ${bNum(1)}, ${bNum(2)}, ${bNum(3)}
             FROM sp GROUP BY g)
       SELECT g AS event_type, n,
              (${b(0)}) / 100.0 AS l1,
              ($l2) / 100.0 AS l2,
              (6.0 * ${b(2)} - 6.0 * ${b(1)} + ${b(0)}) / ($l2) AS t3,
              (20.0 * ${b(3)} - 30.0 * ${b(2)} + 12.0 * ${b(1)}
                - ${b(0)}) / ($l2) AS t4
       FROM a"""
  }

  private def lmomentsSql: String = lmomentsSqlOver(
    """SELECT event_type AS g, CAST(floor(value * 100.0) AS BIGINT) AS v
       FROM events WHERE value IS NOT NULL""")

  val oracle: Map[String, String] = Map(

    "x_cliffs_delta" ->
      """WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ya
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL),
         g AS (SELECT v, CAST(sum(ya) AS BIGINT) AS ca,
                 CAST(count(*) - sum(ya) AS BIGINT) AS cb
               FROM f GROUP BY v),
         s AS (SELECT v, ca, cb,
                 CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER w AS BIGINT) AS cumb
               FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                 CAST(count(*) - sum(ya) AS BIGINT) AS nb FROM f),
         o AS (SELECT na, nb,
                 sum(ca::DECIMAL(38,0) * (cumb - cb)) AS n_gt,
                 sum(ca::DECIMAL(38,0) * (nb - cumb)) AS n_lt
               FROM s CROSS JOIN t GROUP BY na, nb)
         SELECT na, nb, n_gt::BIGINT AS n_gt,
                n_lt::BIGINT AS n_lt,
                CAST(CAST(n_gt - n_lt AS VARCHAR) AS DOUBLE) /
                  (na::DOUBLE * nb::DOUBLE) AS delta
         FROM o""",

    "x_jonckheere" -> {
      val pairTerms = (for {
        i <- eventTypes.indices; j <- (i + 1) until eventTypes.size
      } yield {
        val (gi, gj) = (eventTypes(i), eventTypes(j))
        s"c_$gj::DECIMAL(38,0) * (2 * (cum_$gi - c_$gi) + c_$gi)"
      }).mkString(" + ")
      val cums = eventTypes.map(g =>
        s"CAST(sum(c_$g) OVER w AS BIGINT) AS cum_$g").mkString(", ")
      s"""WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                       event_type AS g
                     FROM events WHERE value IS NOT NULL),
         p AS (SELECT v, ${perTypeCounts("c")} FROM f GROUP BY v),
         s AS (SELECT *, $cums FROM p
               WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         a AS (SELECT sum($pairTerms)::DECIMAL(38,0) AS j2 FROM s),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)
         SELECT n, j2::BIGINT AS j2 FROM a CROSS JOIN n"""
    },

    "x_ansari_bradley" ->
      """WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ya
                    FROM events
                    WHERE event_type IN ('click', 'view')
                      AND value IS NOT NULL),
         g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(ya) AS BIGINT) AS ca
               FROM f GROUP BY v),
         s AS (SELECT v, cnt, ca,
                 CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_incl
               FROM g),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                 CAST(count(*) - sum(ya) AS BIGINT) AS nb FROM f),
         o AS (SELECT na, nb,
                 sum(ca::DECIMAL(38,0) *
                   least(2 * (cum_incl - cnt) + cnt + 1,
                     2 * (na + nb + 1)
                       - (2 * (cum_incl - cnt) + cnt + 1))) AS ab2
               FROM s CROSS JOIN t GROUP BY na, nb)
         SELECT na, nb, ab2::BIGINT AS ab2,
                CAST(CAST(ab2 AS VARCHAR) AS DOUBLE) / 2.0 AS ab_stat
         FROM o""",

    "x_page_hinkley" ->
      """WITH daily AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
                 CAST(coalesce(sum(CAST(floor(value * 100.0) AS BIGINT)), 0)
                   AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
         t AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS DECIMAL(38,0)) AS s
               FROM daily GROUP BY k),
         pre AS (SELECT daily.k, day, n,
                   sum((n::HUGEINT * v - s)::DECIMAL(38,0)) OVER
                     (PARTITION BY daily.k ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS m
                 FROM daily JOIN t ON daily.k = t.k),
         ph AS (SELECT k, day, n,
                  m - min(m) OVER (PARTITION BY k ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS ph
                FROM pre)
         SELECT k AS event_type, max(n) AS n_days,
                max(ph)::BIGINT AS ph_num,
                min(CASE WHEN ph >= (n * 100)::DECIMAL(38,0)
                      * CAST('50.0' AS DECIMAL(18,6))
                    THEN epoch(day)::BIGINT END) AS alarm_day_s,
                CAST(CAST(max(ph) AS VARCHAR) AS DOUBLE) /
                  (max(n)::DOUBLE * 100.0) AS ph_max
         FROM ph GROUP BY k""",

    "x_lmoments" -> lmomentsSql,

    "x_grubbs" ->
      """WITH f AS (SELECT event_type AS g,
                      CAST(floor(value * 100.0) AS BIGINT) AS v
                    FROM events WHERE value IS NOT NULL),
         p AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM f GROUP BY 1, 2),
         t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                 sum(v::HUGEINT * c) AS s,
                 sum(v::HUGEINT * v * c) AS q
               FROM p GROUP BY g),
         j AS (SELECT p.g, n, s, q, v,
                 abs(v::HUGEINT * n - s) AS dev
               FROM p JOIN t ON p.g = t.g),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY g ORDER BY dev DESC, v DESC) AS rn
               FROM j)
         SELECT g AS event_type, n,
                CAST(v AS DOUBLE) / 100.0 AS outlier_value,
                CAST(CAST(dev AS VARCHAR) AS DOUBLE) /
                  (n::DOUBLE * 100.0) AS max_abs_dev,
                (CAST(CAST(dev AS VARCHAR) AS DOUBLE) / n::DOUBLE) /
                  sqrt(CAST(CAST(n::HUGEINT * q - s * s AS VARCHAR)
                    AS DOUBLE) / (n::DOUBLE * (n::DOUBLE - 1.0)))
                  AS g_stat
         FROM r WHERE rn = 1""",

    "x_theil_index" -> {
      val (chain1, last1) = Pmath.lnSqlChainCtes("p", "tq",
        Seq("v" -> "lv"), carry = Seq("g", "v", "c"))
      val (chain2, last2) = Pmath.lnSqlChainCtes("a", "tg",
        Seq("CAST(CAST(s AS VARCHAR) AS DOUBLE)" -> "ls",
          "n" -> "ln_n"),
        carry = Seq("g", "n", "s", "xlx"))
      s"""WITH f AS (SELECT event_type AS g,
                       CAST(floor(value * 100.0) AS BIGINT) AS v
                     FROM events WHERE value IS NOT NULL),
         p AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM f WHERE v > 0 GROUP BY 1, 2),
         $chain1,
         q AS (SELECT g, v, c,
                 CAST(floor(lv * 1048576.0) AS BIGINT) AS q
               FROM $last1),
         a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                 sum(v::HUGEINT * c) AS s,
                 sum(v::HUGEINT * c * q) AS xlx
               FROM q GROUP BY g),
         $chain2
         SELECT g AS event_type, n,
                CAST(CAST(s AS VARCHAR) AS DOUBLE) /
                  (n::DOUBLE * 100.0) AS mean_value,
                CAST(CAST(xlx AS VARCHAR) AS DOUBLE) / 1048576.0 /
                  CAST(CAST(s AS VARCHAR) AS DOUBLE) - (ls - ln_n)
                  AS theil_t
         FROM $last2"""
    },

    "x_hurst" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("rr", "hq",
        Seq("r_range / s_std" -> "lrs", "n / 2.0" -> "lnh"),
        carry = Seq("k", "n", "r_range", "s_std"))
      s"""WITH daily AS (SELECT event_type AS k,
                 date_trunc('day', ts) AS day,
                 CAST(coalesce(sum(CAST(floor(value * 100.0) AS BIGINT)), 0)
                   AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
         t AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                 sum(v::HUGEINT) AS s, sum(v::HUGEINT * v) AS q
               FROM daily GROUP BY k),
         pre AS (SELECT daily.k, day, n, s, q,
                   sum((n::HUGEINT * v - s)::DECIMAL(38,0)) OVER
                     (PARTITION BY daily.k ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS m
                 FROM daily JOIN t ON daily.k = t.k),
         ag AS (SELECT k, max(n) AS n, max(s) AS s, max(q) AS q,
                  greatest(max(m), 0::DECIMAL(38,0)) AS mx,
                  least(min(m), 0::DECIMAL(38,0)) AS mn
                FROM pre GROUP BY k),
         rr AS (SELECT k, n,
                  (CAST(CAST(mx AS VARCHAR) AS DOUBLE) -
                    CAST(CAST(mn AS VARCHAR) AS DOUBLE)) / n::DOUBLE
                    / 100.0 AS r_range,
                  sqrt(CAST(CAST(n::HUGEINT * q - s * s AS VARCHAR)
                    AS DOUBLE)) / n::DOUBLE / 100.0 AS s_std
                FROM ag),
         $chains
         SELECT k AS event_type, n, r_range, s_std,
                r_range / s_std AS rs, lrs / lnh AS hurst
         FROM $last"""
    },

    "x_entropy_rate" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("nij", "eq",
        Seq("ni" -> "lni", "nij" -> "lnij"),
        carry = Seq("from_s", "to_s", "nij", "ni"))
      s"""WITH st AS (SELECT event_type AS to_s,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS from_s
               FROM events),
         cts AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS nij
                 FROM st WHERE from_s IS NOT NULL GROUP BY 1, 2),
         ni AS (SELECT from_s, CAST(sum(nij) AS BIGINT) AS ni
                FROM cts GROUP BY 1),
         nij AS (SELECT cts.from_s, to_s, nij, ni
                 FROM cts JOIN ni ON cts.from_s = ni.from_s),
         $chains
         SELECT CAST(sum(nij) AS BIGINT) AS n_trans,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(CAST(nij AS DOUBLE) * (lni - lnij)
                    ORDER BY from_s, to_s)), (a, x) -> a + x)
                  / CAST(CAST(sum(nij) AS BIGINT) AS DOUBLE) AS h_rate
         FROM $last"""
    },

    "x_span_corruption" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         tok AS (SELECT doc_id, ws[i] AS word, i - 1 AS pos,
                   (i - 1) // 3 AS blk
                 FROM (SELECT doc_id, ws,
                         unnest(range(1, len(ws) + 1)) AS i
                       FROM w)),
         cb AS (SELECT doc_id, blk,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                    CAST(blk AS VARCHAR)), 1, 4))::BIGINT % 5 = 0
                    AS corrupt
                FROM (SELECT DISTINCT doc_id, blk FROM tok)),
         sb AS (SELECT doc_id, blk, corrupt,
                  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) OVER
                    (PARTITION BY doc_id ORDER BY blk
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
                FROM cb),
         j AS (SELECT t.doc_id, t.word, t.pos, s.corrupt, s.sid
               FROM tok t JOIN sb s
                 ON t.doc_id = s.doc_id AND t.blk = s.blk)
         SELECT doc_id,
                CAST(max(CASE WHEN corrupt THEN sid ELSE 0 END)
                  AS BIGINT) AS n_spans,
                string_agg(CASE WHEN NOT corrupt THEN word
                    WHEN pos % 3 = 0
                    THEN '<extra_id_' || CAST(sid - 1 AS VARCHAR) || '>'
                  END, ' ' ORDER BY pos) AS masked,
                string_agg(CASE WHEN corrupt AND pos % 3 = 0
                    THEN '<extra_id_' || CAST(sid - 1 AS VARCHAR) || '>'
                      || ' ' || word
                    WHEN corrupt THEN word
                  END, ' ' ORDER BY pos) AS target
         FROM j GROUP BY doc_id""",

    "x_energy_distance" ->
      """WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ya
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL),
         g AS (SELECT v, CAST(sum(ya) AS BIGINT) AS ca,
                 CAST(count(*) - sum(ya) AS BIGINT) AS cb
               FROM f GROUP BY v),
         s AS (SELECT v, ca, cb,
                 CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER w AS BIGINT) AS cumb,
                 lead(v) OVER (ORDER BY v) AS v_next
               FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                 CAST(count(*) - sum(ya) AS BIGINT) AS nb FROM f),
         o AS (SELECT na, nb,
                 sum((v_next - v) * (cuma::DECIMAL(38,0) * (nb - cumb)
                   + cumb::DECIMAL(38,0) * (na - cuma))) AS sab,
                 sum((v_next - v) * (cuma::DECIMAL(38,0) * (na - cuma)))
                   AS saa,
                 sum((v_next - v) * (cumb::DECIMAL(38,0) * (nb - cumb)))
                   AS sbb
               FROM s CROSS JOIN t WHERE v_next IS NOT NULL
               GROUP BY na, nb),
         e AS (SELECT na, nb,
                 CAST(CAST(sab AS VARCHAR) AS DOUBLE) /
                   (na::DOUBLE * nb::DOUBLE * 100.0) AS e_ab,
                 2.0 * CAST(CAST(saa AS VARCHAR) AS DOUBLE) /
                   (na::DOUBLE * na::DOUBLE * 100.0) AS e_aa,
                 2.0 * CAST(CAST(sbb AS VARCHAR) AS DOUBLE) /
                   (nb::DOUBLE * nb::DOUBLE * 100.0) AS e_bb
               FROM o)
         SELECT na, nb, e_ab, e_aa, e_bb,
                2.0 * e_ab - e_aa - e_bb AS energy
         FROM e""",

    "x_gpd_fit" ->
      s"""WITH lm AS ($lmomentsSql),
         k AS (SELECT event_type, n, l1, l2,
                 (1.0 - 3.0 * t3) / (1.0 + t3) AS kappa FROM lm),
         s2 AS (SELECT *, l2 * (1.0 - kappa) * (2.0 - kappa) AS sigma
                FROM k)
         SELECT event_type, n, kappa, sigma,
                l1 - sigma / (2.0 - kappa) AS mu
         FROM s2""",

    "x_kl_source" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("j", "kq",
        Seq("cst" -> "lcst", "nn" -> "lnn", "ns" -> "lns2",
          "ct" -> "lct"),
        carry = Seq("source", "term", "cst", "ct", "ns", "nn"))
      s"""WITH occ AS (SELECT source,
                 unnest(string_split(text, ' ')) AS term
               FROM documents),
         cst AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cst
                 FROM occ GROUP BY 1, 2),
         ct AS (SELECT term, CAST(sum(cst) AS BIGINT) AS ct
                FROM cst GROUP BY 1),
         ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns
                FROM cst GROUP BY 1),
         nn AS (SELECT CAST(sum(cst) AS BIGINT) AS nn FROM cst),
         j AS (SELECT cst.source, cst.term, cst.cst, ct.ct, ns.ns, nn.nn
               FROM cst JOIN ct USING (term) JOIN ns USING (source)
               CROSS JOIN nn),
         $chains,
         q AS (SELECT source, cst, ns,
                 CAST(floor((((lcst + lnn) - lns2) - lct) * 1048576.0)
                   AS BIGINT) AS q
               FROM $last)
         SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                max(ns) AS n_tokens,
                CAST(CAST(sum(cst::DECIMAL(38,0) * q) AS VARCHAR)
                  AS DOUBLE) /
                  (1048576.0 * max(ns)::DOUBLE) AS kl
         FROM q GROUP BY source"""
    },

    "x_adf" ->
      """WITH daily AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
                 CAST(coalesce(sum(CAST(floor(value * 100.0) AS BIGINT)), 0)
                   AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
         lg AS (SELECT k, v,
                  lag(v) OVER (PARTITION BY k ORDER BY day) AS x
                FROM daily),
         pr AS (SELECT k, x, v - x AS y FROM lg WHERE x IS NOT NULL),
         mo AS (SELECT k, CAST(count(*) AS BIGINT) AS m,
                  sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                  sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
                  sum(y::HUGEINT * y) AS syy
                FROM pr GROUP BY k),
         d AS (SELECT k, m,
                 CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
                 CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
                 CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
                 CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy,
                 CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
                 CAST(CAST(m::HUGEINT * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(m::HUGEINT * sxx - sx * sx AS VARCHAR)
                     AS DOUBLE) AS slope,
                 CAST(CAST(m::HUGEINT * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                   AS den_d
               FROM mo),
         ic AS (SELECT *, (sy - slope * sx) / m::DOUBLE AS icept FROM d),
         sr AS (SELECT *, syy + m::DOUBLE * icept * icept
                  + slope * slope * sxx - 2.0 * icept * sy
                  - 2.0 * slope * sxy + 2.0 * icept * slope * sx AS ssr
                FROM ic)
         SELECT k AS event_type, m, slope,
                slope / sqrt(ssr / (m::DOUBLE - 2.0) * m::DOUBLE / den_d)
                  AS df_stat
         FROM sr""",

    "x_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel,
                 nrm AS qn
               FROM n WHERE vec_id < 10),
         scored AS (SELECT query_id, n.vec_id AS neighbor_id,
                      n.label AS neg_label,
                      CASE WHEN qn * nrm <> 0
                        THEN list_dot_product(qv, v) / (qn * nrm) END AS cos
                    FROM n CROSS JOIN q WHERE n.label <> qlabel),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank
                    FROM scored)
         SELECT query_id, neighbor_id, neg_label, cos,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    "x_cluster_purity" ->
      s"""WITH ${Ext.dKmeansCommon},
         lab AS (SELECT l.neighbor_id AS vec_id, l.list, em.label
                 FROM listed l JOIN embeddings em
                   ON em.vec_id = l.neighbor_id),
         pl AS (SELECT list, label, CAST(count(*) AS BIGINT) AS nl
                FROM lab GROUP BY 1, 2),
         tp AS (SELECT list, label, nl FROM
                (SELECT *, row_number() OVER (PARTITION BY list
                   ORDER BY nl DESC, label ASC) AS rn FROM pl)
                WHERE rn = 1),
         sz AS (SELECT list, CAST(count(*) AS BIGINT) AS n_vecs
                FROM lab GROUP BY 1)
         SELECT sz.list, n_vecs, label AS top_label, nl AS n_top,
                nl::DOUBLE / n_vecs::DOUBLE AS purity
         FROM sz JOIN tp ON sz.list = tp.list""",

    "x_cluster_balance" ->
      s"""WITH ${Ext.dKmeansCommon},
         asg AS (SELECT neighbor_id AS vec_id, list FROM listed),
         sz AS (SELECT list, CAST(count(*) AS BIGINT) AS n_vecs,
                  sqrt(CAST(count(*) AS BIGINT)::DOUBLE) AS w
                FROM asg GROUP BY 1),
         ws AS (SELECT list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(w ORDER BY list)), (a, x) -> a + x) AS wsum
                FROM sz),
         q0 AS (SELECT list, n_vecs, w,
                  CAST(floor(500.0 * w / wsum) AS BIGINT) AS base,
                  500.0 * w / wsum
                    - CAST(floor(500.0 * w / wsum) AS BIGINT)::DOUBLE
                    AS rem
                FROM sz CROSS JOIN ws),
         sf AS (SELECT 500 - CAST(sum(base) AS BIGINT) AS shortfall
                FROM q0),
         qt AS (SELECT list, n_vecs, base +
                  (CASE WHEN tr <= shortfall THEN 1 ELSE 0 END) AS quota
                FROM (SELECT *, CAST(row_number() OVER
                        (ORDER BY rem DESC, list ASC) AS BIGINT) AS tr
                      FROM q0) CROSS JOIN sf),
         sel AS (SELECT asg.list, vec_id, quota, n_vecs,
                   CAST(row_number() OVER (PARTITION BY asg.list
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                     AS BIGINT) AS pick_rank
                 FROM asg JOIN qt ON asg.list = qt.list)
         SELECT list, vec_id, pick_rank, CAST(quota AS BIGINT) AS quota,
                n_vecs
         FROM sel WHERE pick_rank <= quota""",

    "x_quality_gate" -> {
      val en = Text.langMarkers.toMap.apply("en")
        .map(v => s"'$v'").mkString(",")
      s"""WITH f AS (SELECT doc_id, source,
                 CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ($en))) AS BIGINT) AS stop,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
               FROM documents),
         sc AS (SELECT doc_id, source, stop, nw,
                  stop * 1000000 // nw AS score FROM f),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM sc GROUP BY 1),
         r AS (SELECT sc.source, doc_id, score,
                 CAST(row_number() OVER (PARTITION BY sc.source
                   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
                 n_docs
               FROM sc JOIN n ON sc.source = n.source)
         SELECT source, doc_id, score, rank, n_docs
         FROM r WHERE rank * 10 <= n_docs * 8"""
    },

    "x_repetition_runs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         tok AS (SELECT doc_id, ws[i] AS word, i - 1 AS pos
                 FROM (SELECT doc_id, ws,
                         unnest(range(1, len(ws) + 1)) AS i
                       FROM w)),
         lg AS (SELECT doc_id, pos, word,
                  lag(word, 3) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS prev3
                FROM tok),
         mt AS (SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id
                    ORDER BY pos) AS grp
                FROM lg WHERE prev3 IS NOT NULL AND word = prev3),
         runs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run
                  FROM mt GROUP BY 1, 2),
         pd AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_matches,
                  CAST(max(run) AS BIGINT) AS max_run
                FROM runs GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_matches, 0) AS n_matches,
                coalesce(max_run, 0) AS max_run,
                CASE WHEN coalesce(max_run, 0) > 0
                  THEN coalesce(max_run, 0) + 3 ELSE 0 END AS longest_tile
         FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""",

    "x_partial_corr" ->
      """WITH f AS (SELECT CAST(floor(l_quantity * 100.0) AS BIGINT) AS x,
                      CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS y,
                      CAST(floor(l_discount * 100.0) AS BIGINT) AS z
                    FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(z::HUGEINT) AS sz,
                 sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
                 sum(z::HUGEINT * z) AS szz,
                 sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * z) AS sxz,
                 sum(y::HUGEINT * z) AS syz
               FROM f),
         r AS (SELECT n,
                 CAST(CAST(n::HUGEINT * sxy - sx * sy AS VARCHAR)
                   AS DOUBLE) /
                 sqrt(CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                     AS DOUBLE) *
                   CAST(CAST(n::HUGEINT * syy - sy * sy AS VARCHAR)
                     AS DOUBLE)) AS r_xy,
                 CAST(CAST(n::HUGEINT * sxz - sx * sz AS VARCHAR)
                   AS DOUBLE) /
                 sqrt(CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                     AS DOUBLE) *
                   CAST(CAST(n::HUGEINT * szz - sz * sz AS VARCHAR)
                     AS DOUBLE)) AS r_xz,
                 CAST(CAST(n::HUGEINT * syz - sy * sz AS VARCHAR)
                   AS DOUBLE) /
                 sqrt(CAST(CAST(n::HUGEINT * syy - sy * sy AS VARCHAR)
                     AS DOUBLE) *
                   CAST(CAST(n::HUGEINT * szz - sz * sz AS VARCHAR)
                     AS DOUBLE)) AS r_yz
               FROM m)
         SELECT n, r_xy, r_xz, r_yz,
                (r_xy - r_xz * r_yz) /
                  sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
                  AS partial_r
         FROM r""",

    "x_durbin_watson" ->
      """WITH daily AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
                 CAST(coalesce(sum(CAST(floor(value * 100.0) AS BIGINT)), 0)
                   AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
         ti AS (SELECT k, v, row_number() OVER
                  (PARTITION BY k ORDER BY day) AS t
                FROM daily),
         mo AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                  sum(t::HUGEINT) AS st, sum(v::HUGEINT) AS sv,
                  sum(t::HUGEINT * t) AS stt, sum(t::HUGEINT * v) AS stv
                FROM ti GROUP BY k),
         fit AS (SELECT k, n,
                   CAST(CAST(n::HUGEINT * stv - st * sv AS VARCHAR)
                     AS DOUBLE) /
                   CAST(CAST(n::HUGEINT * stt - st * st AS VARCHAR)
                     AS DOUBLE) AS b,
                   CAST(CAST(st AS VARCHAR) AS DOUBLE) AS st_d,
                   CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS sv_d
                 FROM mo),
         fa AS (SELECT *, (sv_d - b * st_d) / n::DOUBLE AS a FROM fit),
         re AS (SELECT ti.k, t, n,
                  v::DOUBLE - a - b * t::DOUBLE AS e
                FROM ti JOIN fa ON ti.k = fa.k),
         de AS (SELECT k, t, n, e,
                  e - lag(e) OVER (PARTITION BY k ORDER BY t) AS d
                FROM re)
         SELECT k AS event_type, max(n) AS n,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(CASE WHEN d IS NOT NULL THEN d * d
                            ELSE CAST('0.0' AS DOUBLE) END ORDER BY t)),
                  (acc, x) -> acc + x) /
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(e * e ORDER BY t)), (acc, x) -> acc + x) AS dw
         FROM de GROUP BY k""",

    "x_cooks_distance" ->
      """WITH f AS (SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
                      CAST(l_linenumber AS VARCHAR) AS id,
                      CAST(floor(l_quantity * 100.0) AS BIGINT) AS x,
                      CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS y
                    FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
                 sum(y::HUGEINT * y) AS syy
               FROM f),
         fit AS (SELECT n, sx,
                   CAST(CAST(n::HUGEINT * sxy - sx * sy AS VARCHAR)
                     AS DOUBLE) /
                   CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                     AS DOUBLE) AS b,
                   CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                     AS DOUBLE) AS den_d,
                   CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy_d,
                   CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy_d,
                   CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy_d
                 FROM m),
         fa AS (SELECT *, (sy_d - b * sx_d) / n::DOUBLE AS a FROM fit),
         fs AS (SELECT *, syy_d + n::DOUBLE * a * a + b * b * sxx_d
                  - 2.0 * a * sy_d - 2.0 * b * sxy_d
                  + 2.0 * a * b * sx_d AS sse
                FROM fa),
         f2 AS (SELECT *, sse / (n::DOUBLE - 2.0) AS s2 FROM fs),
         rows_ AS (SELECT id,
                     y::DOUBLE - a - b * x::DOUBLE AS e,
                     CAST(CAST(n::HUGEINT * x - sx AS VARCHAR) AS DOUBLE)
                       AS u,
                     n, den_d, s2
                   FROM f CROSS JOIN f2),
         hk AS (SELECT id, e,
                  1.0 / n::DOUBLE + u * u / (n::DOUBLE * den_d) AS h,
                  s2
                FROM rows_)
         SELECT id, e AS residual, h AS leverage,
                e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS cook
         FROM hk
         ORDER BY cook DESC, id ASC LIMIT 10""",

    "x_gumbel_fit" -> {
      val weeklyBase =
        """SELECT event_type AS g, v FROM (
             SELECT event_type,
               CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
               max(CAST(floor(value * 100.0) AS BIGINT)) AS v
             FROM events GROUP BY 1, 2) WHERE v IS NOT NULL"""
      val (chains, last) = Pmath.lnSqlChainCtes("lmq", "gq",
        Seq("2.0" -> "ln2"), carry = Seq("event_type", "n", "l1", "l2"))
      s"""WITH lmq AS (${lmomentsSqlOver(weeklyBase)}),
         $chains
         SELECT event_type, n, l2 / ln2 AS beta,
                l1 - CAST('0.5772156649015329' AS DOUBLE) * (l2 / ln2)
                  AS mu
         FROM $last"""
    },

    "x_bhattacharyya" ->
      """WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ya
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL),
         g AS (SELECT v, CAST(sum(ya) AS BIGINT) AS ca,
                 CAST(count(*) - sum(ya) AS BIGINT) AS cb
               FROM f GROUP BY v),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                 CAST(count(*) - sum(ya) AS BIGINT) AS nb FROM f),
         q AS (SELECT CAST(floor(sqrt(ca::DOUBLE * cb::DOUBLE)
                 * 1048576.0) AS BIGINT) AS q FROM g),
         s AS (SELECT CAST(sum(q) AS DECIMAL(38,0)) AS s FROM q),
         b AS (SELECT na, nb,
                 CAST(CAST(s AS VARCHAR) AS DOUBLE) / 1048576.0 /
                   sqrt(na::DOUBLE * nb::DOUBLE) AS bc
               FROM s CROSS JOIN t)
         SELECT na, nb, bc,
                sqrt(greatest(CAST('0.0' AS DOUBLE), 1.0 - bc))
                  AS hellinger
         FROM b""",

    "x_tail_dependence" ->
      """WITH f AS (SELECT CAST(floor(l_quantity * 100.0) AS BIGINT) AS x,
                      CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS y
                    FROM lineitem),
         n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         cx AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM (SELECT x AS v, count(*) AS cnt FROM f GROUP BY x)),
         qx AS (SELECT min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS q_x
                FROM cx CROSS JOIN n0),
         cy AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM (SELECT y AS v, count(*) AS cnt FROM f GROUP BY y)),
         qy AS (SELECT min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS q_y
                FROM cy CROSS JOIN n0),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  max(q_x) AS qx_cents, max(q_y) AS qy_cents,
                  CAST(sum(CASE WHEN x > q_x THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_x_exceed,
                  CAST(sum(CASE WHEN x > q_x AND y > q_y THEN 1 ELSE 0
                    END) AS BIGINT) AS n_joint
                FROM f CROSS JOIN qx CROSS JOIN qy)
         SELECT n, qx_cents, qy_cents, n_x_exceed, n_joint,
                n_joint::DOUBLE / n_x_exceed::DOUBLE AS lambda_u
         FROM ag""",

    "x_silhouette" ->
      s"""WITH ${Ext.dKmeansCommon},
         vvt AS (SELECT vec_id, list_dot_product(v, v) AS vv FROM e),
         own AS (SELECT neighbor_id AS vec_id, list AS own FROM listed),
         aa AS (SELECT s3.vec_id, s AS a2 FROM s3
                JOIN own ON s3.vec_id = own.vec_id AND s3.list = own.own),
         bb AS (SELECT s3.vec_id, min(s) AS b2 FROM s3
                JOIN own ON s3.vec_id = own.vec_id AND s3.list <> own.own
                GROUP BY s3.vec_id),
         per AS (SELECT o.vec_id, o.own,
                   sqrt(greatest(CAST('0.0' AS DOUBLE), aa.a2 + vv)) AS a,
                   sqrt(greatest(CAST('0.0' AS DOUBLE), bb.b2 + vv)) AS b
                 FROM own o
                 JOIN aa ON aa.vec_id = o.vec_id
                 JOIN bb ON bb.vec_id = o.vec_id
                 JOIN vvt ON vvt.vec_id = o.vec_id),
         si AS (SELECT own AS list,
                  CASE WHEN greatest(a, b) > 0
                    THEN (b - a) / greatest(a, b)
                    ELSE CAST('0.0' AS DOUBLE) END AS sil
                FROM per),
         q AS (SELECT list, CAST(floor(sil * 1048576.0) AS BIGINT) AS q
               FROM si)
         SELECT list, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(CAST(CAST(sum(q) AS DECIMAL(38,0)) AS VARCHAR)
                  AS DOUBLE) / (1048576.0 * count(*)::DOUBLE) AS mean_sil
         FROM q GROUP BY list""",

    "x_odds_ratio" -> {
      val en = Text.langMarkers.toMap.apply("en")
        .map(v => s"'$v'").mkString(",")
      val (chains, last) = Pmath.lnSqlChainCtes("o", "oq",
        Seq("odds_ratio" -> "ln_or"),
        carry = Seq("a", "b", "c", "d", "odds_ratio"))
      s"""WITH f AS (SELECT
                 len(list_filter(string_split(text, ' '),
                   t -> t IN ($en))) >= 2 AS det,
                 lang = 'en' AS pos
               FROM documents),
         m AS (SELECT
                 CAST(sum(CASE WHEN det AND pos THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
                 CAST(sum(CASE WHEN det AND NOT pos THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
                 CAST(sum(CASE WHEN NOT det AND pos THEN 1 ELSE 0 END)
                   AS BIGINT) AS c,
                 CAST(sum(CASE WHEN NOT det AND NOT pos THEN 1 ELSE 0 END)
                   AS BIGINT) AS d
               FROM f),
         o AS (SELECT *, a::DOUBLE * d::DOUBLE /
                 (b::DOUBLE * c::DOUBLE) AS odds_ratio FROM m),
         $chains,
         se AS (SELECT *, sqrt(1.0 / a::DOUBLE + 1.0 / b::DOUBLE
                  + 1.0 / c::DOUBLE + 1.0 / d::DOUBLE) AS se
                FROM $last)
         SELECT a, b, c, d, odds_ratio, ln_or, se,
                ln_or - CAST('1.96' AS DOUBLE) * se AS ci_lo_ln,
                ln_or + CAST('1.96' AS DOUBLE) * se AS ci_hi_ln
         FROM se"""
    },

    "x_rate_ratio" ->
      """WITH t0 AS (SELECT CAST(min(CAST(floor(epoch(ts)) AS BIGINT))
                 AS BIGINT) AS t0 FROM events),
         e AS (SELECT CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) - t0)
                 ::DOUBLE / 86400.0) AS BIGINT) AS dday
               FROM events CROSS JOIN t0
               WHERE event_type = 'error'),
         m AS (SELECT
                 CAST(sum(CASE WHEN dday >= 0 AND dday < 7 THEN 1
                   ELSE 0 END) AS BIGINT) AS k1,
                 CAST(sum(CASE WHEN dday >= 7 AND dday < 14 THEN 1
                   ELSE 0 END) AS BIGINT) AS k2
               FROM e)
         SELECT k1, k2, k1::DOUBLE / k2::DOUBLE AS rate_ratio,
                (k1 - k2)::DOUBLE / sqrt((k1 + k2)::DOUBLE) AS z_score
         FROM m""",

    "x_tokenizer_fertility" ->
      """WITH f AS (SELECT lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                      CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS nt
                    FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nw) AS BIGINT) AS n_words,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nt) AS BIGINT)::DOUBLE /
                  CAST(sum(nw) AS BIGINT)::DOUBLE AS fertility
         FROM f GROUP BY lang""",
  )
}
