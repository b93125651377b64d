package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Exact, Pmath}
import graft.operators.{Graphs, Rank, Stats, Temporal}

/** Round-8 third wave — nonparametric / categorical-association
  * statistics on the standing exact recipes:
  *
  *  - the distinct-value spine with [[Rank.withCumSums]] (integer
  *    2·midrank) for Brunner–Munzel placements and the Mood median
  *    test's exact lower median;
  *  - bounded-categorical folds ([[Exact.orderedSum]])
  *    for the ≤ k·m-term double sums — fixed op order on both engines;
  *  - the [[Pmath.lnColumn]] portable ln on ≥ 1 integer ratios for the
  *    Theil-U entropies;
  *  - pure integer counting for Goodman–Kruskal λ and l-diversity.
  */
object Ext10 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dbl = (c: Column) => c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brunner–Munzel relative-effect test of document length for
    // lang='en' vs the rest — the variance-robust Mann–Whitney: does
    // one population stochastically dominate, without assuming equal
    // shapes. Placements from ONE value spine, integer accumulation,
    // one-row double epilogue (see Stats.brunnerMunzel scaladoc).
    "x_brunner_munzel" -> ((s, d) =>
      Stats.brunnerMunzel(
        t(s, d, "documents").filter(col("n_chars").isNotNull),
        col("lang") === "en", "n_chars")),

    // Mood's median test of n_chars across languages: exact global
    // lower median off the value spine (cum ≥ (n+1) div 2 — pure
    // integer), k×2 above/≤ contingency, χ² via the sorted ≤ k-term
    // fold. The scale-robust "do groups share a center" screen.
    "x_mood_median" -> ((s, d) => {
      val f = t(s, d, "documents").filter(col("n_chars").isNotNull)
        .select(col("lang").as("g"), col("n_chars").as("v"))
      val perV = f.groupBy("v").agg(count(lit(1)).as("cnt"))
      val sp = Rank.withCumSums(perV, Seq("v"), Seq("cnt" -> "cum"))
      val tot = f.agg(count(lit(1)).as("n"))
      val med = sp.crossJoin(broadcast(tot))
        .filter(expr("cum >= (n + 1) div 2")).agg(min("v").as("med"))
      val perG = f.crossJoin(broadcast(med)).groupBy("g").agg(
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("ag"),
        count(lit(1)).as("ng"))
      val t2 = perG.agg(sum("ag").as("aa"), sum("ng").as("nn"),
        count(lit(1)).as("k"))
      val terms = perG.crossJoin(broadcast(t2))
        .withColumn("ead", dbl(col("ng")) * dbl(col("aa")) / dbl(col("nn")))
        .withColumn("ebd",
          dbl(col("ng")) * dbl(col("nn") - col("aa")) / dbl(col("nn")))
        .withColumn("tg",
          (dbl(col("ag")) - col("ead")) * (dbl(col("ag")) - col("ead")) /
            col("ead") +
          (dbl(col("ng") - col("ag")) - col("ebd")) *
            (dbl(col("ng") - col("ag")) - col("ebd")) / col("ebd"))
      terms.agg(max("k").as("k"), max("nn").as("n"),
          max("aa").as("n_above"),
          Exact.orderedSum(col("tg"), col("g")).as("chi2"))
        .crossJoin(broadcast(med))
        .select(col("med"), col("n"), col("k"), col("n_above"), col("chi2"))
    }),

    // Theil's uncertainty coefficient U(lang | source): how much of
    // the language entropy the source column explains — the asymmetric
    // (directional) categorical association, the feature-screening
    // companion of x_cramers_v / x_mutual_info. Both entropies are
    // ≤ |X|·|Y|-term folds of integer-ratio portable lns.
    "x_theil_u" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .groupBy(col("source").as("x"), col("lang").as("y"))
        .agg(count(lit(1)).as("c"))
      val margY = cells.groupBy("y").agg(sum("c").as("cy"))
      val margX = cells.groupBy("x").agg(sum("c").as("cx"))
      val tot = cells.agg(sum("c").as("n"))
      val hy = margY.crossJoin(broadcast(tot))
        .withColumn("tv", dbl(col("cy")) / dbl(col("n")) *
          Pmath.lnColumn(dbl(col("n")) / dbl(col("cy"))))
        .agg(Exact.orderedSum(col("tv"), col("y")).as("h_y"))
      val hyx = cells.join(margX, Seq("x")).crossJoin(broadcast(tot))
        .withColumn("tv", dbl(col("c")) / dbl(col("n")) *
          Pmath.lnColumn(dbl(col("cx")) / dbl(col("c"))))
        .agg(Exact.orderedSum(col("tv"), col("x"), col("y")).as("h_yx"))
      hy.crossJoin(hyx).crossJoin(broadcast(tot))
        .select(col("n"), col("h_y"), col("h_yx"),
          ((col("h_y") - col("h_yx")) / col("h_y")).as("theil_u"))
    }),

    // Goodman–Kruskal λ(lang | source): proportional reduction in
    // prediction error from knowing the source — the zero-arithmetic
    // categorical association (pure max/sum counting, one division).
    "x_gk_lambda" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .groupBy(col("source").as("x"), col("lang").as("y"))
        .agg(count(lit(1)).as("c"))
      val smax = cells.groupBy("x").agg(max("c").as("mx"))
        .agg(sum("mx").as("sum_max_x"))
      val mm = cells.groupBy("y").agg(sum("c").as("cy"))
        .agg(max("cy").as("max_marg"))
      val tot = cells.agg(sum("c").as("n"))
      smax.crossJoin(mm).crossJoin(tot)
        .select(col("n"), col("sum_max_x"), col("max_marg"),
          (dbl(col("sum_max_x") - col("max_marg")) /
            dbl(col("n") - col("max_marg"))).as("lambda_yx"))
    }),

    // 1-D Kalman denoise of the daily revenue series: exact integer
    // cents per day (the deterministic-sum device), one division to
    // the observation, then the sequential filter fold — engine
    // aggregate-fold vs oracle recursive CTE, bit-exact (only IEEE
    // +,−,×,÷ in fixed order). q=10, r=400, diffuse p0=10000.
    "x_kalman_1d" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day_idx"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("cents"))
        .select(col("day_idx"),
          (col("cents").cast("double") / lit(100.0)).as("z"))
      Temporal.kalman1d(daily, "day_idx", "z",
        q = 10.0, r = 400.0, p0 = 10000.0)
    }),

    // Croston intermittent-demand forecast of daily error counts over
    // the DENSE day spine (zero days left-joined in): size and
    // interval smoothed separately at α=0.1, one row per demand day
    "x_croston" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dayIdx = datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long")
      val perDay = ev.filter(col("event_type") === "error")
        .groupBy(dayIdx.as("day_idx")).agg(count(lit(1)).as("demand"))
      val spine = ev.agg(max(dayIdx).as("mx"))
        .select(explode(sequence(lit(0L), col("mx"))).as("day_idx"))
        .join(perDay, Seq("day_idx"), "left")
        .select(col("day_idx"),
          coalesce(col("demand"), lit(0L)).as("demand"))
      Temporal.croston(spine, "day_idx", "demand", alpha = 0.1)
    }),

    // Aalen–Johansen cumulative incidence: time (hours) from each
    // user's first event to their first purchase vs first error —
    // competing exits, censored at the last event if neither; ties go
    // to purchase. The multi-outcome funnel curve x_survival can't
    // express (1−KM per cause overstates both).
    "x_competing_risks" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_us"),
        min(when(col("event_type") === "error", unix_micros(col("ts"))))
          .as("e_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      Stats.competingRisks(users,
        expr("(coalesce(least(p_us, e_us), last_us) - first_us)" +
          " div 3600000000"),
        col("p_us").isNotNull &&
          (col("e_us").isNull || col("p_us") <= col("e_us")),
        col("e_us").isNotNull &&
          (col("p_us").isNull || col("e_us") < col("p_us")))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): WEIGHTED
    // PageRank over the word co-occurrence graph — candidate words
    // (len ≥ 4), adjacent-candidate edges weighted by co-occurrence
    // count, 3 damped rounds via Graphs.pageRankWeighted's fixed-point
    // fold recipe. Weighted is the paper's form, and on a near-complete
    // co-occurrence graph it is also what keeps the ranking non-uniform.
    "x_textrank" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) >= 4)
      val wnd = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = toks.withColumn("nxt", lead(col("w"), 1).over(wnd))
        .filter(col("nxt").isNotNull && col("w") =!= col("nxt"))
        .groupBy(col("w").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("cw"))
      Graphs.pageRankWeighted(pairs, "src", "dst", "cw", iters = 3)
        .orderBy(desc("rank"), col("node")).limit(20)
        .select(col("node").as("word"), col("rank"))
    }),

    // Kendall's coefficient of concordance W across three deterministic
    // "raters" (total chars / doc count / total words) ranking the
    // sources: 2·midranks off each metric's own value spine (integral,
    // tie-general), Σ(2R)² in decimal, tie correction ΣT per rater,
    // one-row double epilogue with Friedman's χ² = k(n−1)W alongside.
    "x_kendall_w" -> ((s, d) => {
      val dec12 = (c: Column) => c.cast("decimal(12,0)")
      val per = t(s, d, "documents").groupBy("source").agg(
        sum("n_chars").as("v1"), count(lit(1)).as("v2"),
        sum(size(split(col("text"), " ")).cast("long")).as("v3"))
      def spine(c: String) = {
        val sp = per.groupBy(c).agg(count(lit(1)).as("cnt"))
        Rank.withCumSums(sp, Seq(c), Seq("cnt" -> "cum"))
          .select(col(c),
            (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
              .as(s"r2_$c"),
            (dec12(col("cnt")) * dec12(col("cnt")) * dec12(col("cnt")) -
              dec12(col("cnt"))).as(s"tt_$c"))
      }
      // each spine once: withCumSums persists it, so the join and the
      // tie sums share one range-partitioned plan per metric
      val (sp1, sp2, sp3) = (spine("v1"), spine("v2"), spine("v3"))
      val ranked = per
        .join(sp1, Seq("v1")).join(sp2, Seq("v2")).join(sp3, Seq("v3"))
        .select((col("r2_v1") + col("r2_v2") + col("r2_v3")).as("r2s"))
      val tie1 = sp1.agg(sum("tt_v1").as("t1"))
      val tie2 = sp2.agg(sum("tt_v2").as("t2"))
      val tie3 = sp3.agg(sum("tt_v3").as("t3"))
      val dd = (c: Column) => c.cast("string").cast("double")
      ranked.agg(count(lit(1)).as("n"),
          sum(col("r2s").cast("decimal(38,0)") * col("r2s")).as("s4"))
        .crossJoin(broadcast(tie1)).crossJoin(broadcast(tie2))
        .crossJoin(broadcast(tie3))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("kd", lit(3.0))
        .withColumn("sq", dd(col("s4")) / lit(4.0))
        .withColumn("std", dd(col("t1") + col("t2") + col("t3")))
        .withColumn("w_stat",
          (lit(12.0) * col("sq") - lit(3.0) * (col("kd") * col("kd")) *
            col("nd") * ((col("nd") + lit(1.0)) * (col("nd") + lit(1.0)))) /
          ((col("kd") * col("kd")) *
            (col("nd") * col("nd") * col("nd") - col("nd")) -
            col("kd") * col("std")))
        .select(col("n"), lit(3L).as("k"), col("w_stat"),
          (col("kd") * (col("nd") - lit(1.0)) * col("w_stat")).as("chi2_f"))
    }),

    // rank-aggregation readout over the language "candidates": three
    // deterministic metric voters (total chars / docs / words) each
    // produce a strict ballot (row_number, ties to lang name), then
    // Borda points (nc − rank summed) and the Condorcet pairwise-wins
    // census — the LLM-judge-panel aggregation primitive, pure integer
    "x_borda_count" -> ((s, d) => {
      val per = t(s, d, "documents").groupBy("lang").agg(
        sum("n_chars").as("v1"), count(lit(1)).as("v2"),
        sum(size(split(col("text"), " ")).cast("long")).as("v3"))
      val votes = Seq("v1", "v2", "v3").map { m =>
        per.select(lit(m).as("metric"), col("lang"),
          row_number().over(
            graft.operators.BoundedWindow.orderBy(desc(m), col("lang")))
            .cast("long").as("rnk"))
      }.reduce(_ unionByName _)
      val nc = per.agg(count(lit(1)).as("nc"))
      val borda = votes.crossJoin(broadcast(nc)).groupBy("lang")
        .agg(sum(col("nc") - col("rnk")).as("borda"))
      val beats = votes.as("a")
        .join(votes.as("b"), col("a.metric") === col("b.metric") &&
          col("a.lang") =!= col("b.lang"))
        .groupBy(col("a.lang").as("lang"), col("b.lang").as("opp"))
        .agg(sum(when(col("a.rnk") < col("b.rnk"), 1L).otherwise(0L))
          .as("wins"))
        .filter(col("wins") * 2 > 3)
        .groupBy("lang").agg(count(lit(1)).as("n_beats"))
      borda.join(beats, Seq("lang"), "left").crossJoin(broadcast(nc))
        .select(col("lang"), col("borda"),
          coalesce(col("n_beats"), lit(0L)).as("n_beats"),
          (coalesce(col("n_beats"), lit(0L)) === col("nc") - lit(1L))
            .as("condorcet_winner"))
    }),

    // Huber-loss robust regression of price ~ quantity by IRLS: exact
    // decimal-moment OLS seed (the x_linreg recipe), then two reweight
    // rounds where every per-row weighted term is quantized to 2⁻²⁰
    // fixed point and summed in decimal(38,0) (the x_icc device) — the
    // order-free exact-sum trick that makes an iterative double-weight
    // fit bit-replayable. c = 5000 (price-scale residual knee).
    "x_huber_irls" -> ((s, d) => {
      val dd = (c: Column) => c.cast("string").cast("double")
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val li = t(s, d, "lineitem")
        .select(col("l_quantity").as("xd"), col("l_extendedprice").as("yd"))
        .filter(col("xd").isNotNull && col("yd").isNotNull)
      val x18 = col("xd").cast("decimal(18,2)")
      val y18 = col("yd").cast("decimal(18,2)")
      val m0 = li.agg(count(lit(1)).as("n"), sum(x18).as("sx"),
        sum(y18).as("sy"), sum(x18 * y18).as("sxy"),
        sum(x18 * x18).as("sxx"))
      val ols = m0
        .withColumn("b1",
          (dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
            (dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))))
        .withColumn("b0",
          (dd(col("sy")) - col("b1") * dd(col("sx"))) / dd(col("n")))
        .select(col("n"), col("b0"), col("b1"))
      val q = lit(1048576.0)
      var fit = ols
      (1 to 2).foreach { _ =>
        val w0 = li.crossJoin(broadcast(fit.select("b0", "b1")))
          .withColumn("r", col("yd") - (col("b0") + col("b1") * col("xd")))
          .withColumn("w", when(abs(col("r")) <= lit(5000.0), lit(1.0))
            .otherwise(lit(5000.0) / abs(col("r"))))
        val sums = w0.agg(
          sum(dec(floor(col("w") * q))).as("qw"),
          sum(dec(floor((col("w") * col("xd")) * q))).as("qx"),
          sum(dec(floor((col("w") * col("yd")) * q))).as("qy"),
          sum(dec(floor(((col("w") * col("xd")) * col("xd")) * q)))
            .as("qxx"),
          sum(dec(floor(((col("w") * col("xd")) * col("yd")) * q)))
            .as("qxy"))
        fit = sums.crossJoin(broadcast(ols.select(col("n"))))
          .withColumn("swd", dd(col("qw")) / q)
          .withColumn("sxd", dd(col("qx")) / q)
          .withColumn("syd", dd(col("qy")) / q)
          .withColumn("sxxd", dd(col("qxx")) / q)
          .withColumn("sxyd", dd(col("qxy")) / q)
          .withColumn("b1",
            (col("swd") * col("sxyd") - col("sxd") * col("syd")) /
              (col("swd") * col("sxxd") - col("sxd") * col("sxd")))
          .withColumn("b0",
            (col("syd") - col("b1") * col("sxd")) / col("swd"))
          .select(col("n"), col("b0"), col("b1"))
      }
      fit.crossJoin(broadcast(ols.select(col("b1").as("slope_ols"))))
        .select(col("n"), col("slope_ols"), col("b1").as("slope_huber"),
          col("b0").as("intercept_huber"))
    }),

    // two-sample Anderson–Darling (en vs rest on document length):
    // the tail-weighted ECDF-gap integral next to x_ks_drift's max-gap
    // — see Stats.andersonDarling2 for the quantized-spine-sum recipe
    "x_anderson_darling" -> ((s, d) =>
      Stats.andersonDarling2(
        t(s, d, "documents").filter(col("n_chars").isNotNull),
        col("lang") === "en", "n_chars")),

    // Good–Turing frequency smoothing over the corpus TRIGRAM types
    // (the sparse regime the estimator exists for — the unigram
    // vocabulary here has no low-count mass at all): the frequency-of-
    // frequencies census and the adjusted counts r* = (r+1)·N_{r+1}/N_r
    // — the unseen-mass estimator every n-gram LM smoother builds on
    // (x_kn_score's absolute discounting is the fixed-discount shortcut
    // for exactly this). Pure integer counts, one division chain per
    // bounded output row.
    "x_good_turing" -> ((s, d) => {
      val wc = t(s, d, "documents")
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(explode(expr("transform(sequence(0, size(ws) - 3), " +
          "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("r"))
      val fof = wc.groupBy("r").agg(count(lit(1)).as("n_r"))
      val tot = wc.agg(sum("r").as("n_tok"))
      val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
      fof.filter(col("r") <= 10)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("r_star",
          dbl(col("r") + 1) * dbl(coalesce(col("n_r1"), lit(0L))) /
            dbl(col("n_r")))
        .select(col("r"), col("n_r"), col("r_star"),
          (col("r_star") / dbl(col("n_tok"))).as("p_gt"))
    }),

    // Heaps'-law fit V(n) = K·n^β of vocabulary growth: 16 integer
    // checkpoints over the doc_id span (each word bucketed by its
    // FIRST document, each token by its document — two hash aggregates
    // + a 16-row cumulative), then OLS on (ln n, ln V) through the
    // portable ln with ≤16-term ordered folds. The sublinearity
    // readout that says how fast new data stops buying vocabulary.
    "x_heaps_law" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val mx = docs.agg(max("doc_id").as("mxd"))
      val wj = toks.groupBy("w").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(mx))
        .select(expr("(fd * 16) div (mxd + 1) + 1").as("j"))
        .groupBy("j").agg(count(lit(1)).as("dv"))
      val tj = toks.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 16) div (mxd + 1) + 1").as("j"))
        .groupBy("j").agg(count(lit(1)).as("dn"))
      val grid = mx.select(explode(sequence(lit(1L), lit(16L))).as("j"))
      val wnd = graft.operators.BoundedWindow.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
      val pts = grid
        .join(wj, Seq("j"), "left").join(tj, Seq("j"), "left")
        .withColumn("vj", sum(coalesce(col("dv"), lit(0L))).over(wnd))
        .withColumn("nj", sum(coalesce(col("dn"), lit(0L))).over(wnd))
        .filter(col("vj") > 0 && col("nj") > 0)
        .withColumn("lx", Pmath.lnColumn(dbl(col("nj"))))
        .withColumn("ly", Pmath.lnColumn(dbl(col("vj"))))
      pts.agg(count(lit(1)).as("n_points"),
          Exact.orderedSum(col("lx"), col("j")).as("sx"),
          Exact.orderedSum(col("ly"), col("j")).as("sy"),
          Exact.orderedSum(col("lx") * col("ly"), col("j")).as("sxy"),
          Exact.orderedSum(col("lx") * col("lx"), col("j")).as("sxx"))
        .withColumn("kd", dbl(col("n_points")))
        .withColumn("beta",
          (col("kd") * col("sxy") - col("sx") * col("sy")) /
            (col("kd") * col("sxx") - col("sx") * col("sx")))
        .select(col("n_points"), col("beta"),
          ((col("sy") - col("beta") * col("sx")) / col("kd")).as("ln_k"))
    }),

    // Lincoln–Petersen / Chapman capture–recapture over two
    // independent 30% hash samples of the documents: the classic
    // population estimator, repurposed as "how big is the true
    // deduplicated universe" — overlap of two cheap samples estimates
    // the total without scanning for it. Pure integers + 2 divisions;
    // true_n alongside shows the estimator's accuracy.
    "x_capture_recapture" -> ((s, d) => {
      def h(salt: String) =
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(salt))), 1, 13), 16, 10).cast("long") % 10
      t(s, d, "documents")
        .select((h("cap_a") < 3).as("ina"), (h("cap_b") < 3).as("inb"))
        .agg(sum(when(col("ina"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("inb"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("m"),
          count(lit(1)).as("true_n"))
        .select(col("n1"), col("n2"), col("m"), col("true_n"),
          (dbl(col("n1")) * dbl(col("n2")) / dbl(col("m"))).as("lp_est"),
          ((dbl(col("n1")) + lit(1.0)) * (dbl(col("n2")) + lit(1.0)) /
            (dbl(col("m")) + lit(1.0)) - lit(1.0)).as("chapman_est"))
    }),

    // distinct-l-diversity audit: the k-anonymity companion — for each
    // (source, length-bucket) quasi-identifier group, how many DISTINCT
    // sensitive values (lang) appear; reported as the l histogram. A
    // group with l = 1 leaks its members' language outright.
    "x_ldiversity" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"), expr("n_chars div 500").as("bkt"))
        .agg(countDistinct("lang").as("l_distinct"), count(lit(1)).as("n"))
        .groupBy("l_distinct")
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_rows"))),
  )

  // ---------------------------------------------------------------- SQL

  val oracle: Map[String, String] = Map(

    // mirrors Stats.brunnerMunzel: value spine with two cumulative
    // sums, integer placement cores in HUGEINT, the identical
    // fixed-order double epilogue (decimal→double via VARCHAR)
    "x_brunner_munzel" ->
      """WITH f AS (SELECT n_chars AS v,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ya
              FROM documents WHERE n_chars IS NOT NULL),
         g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(ya) AS BIGINT) AS ca FROM f GROUP BY v),
         s AS (SELECT cnt, ca,
                CAST(sum(cnt) OVER w AS BIGINT) AS cum,
                CAST(sum(ca) OVER w AS BIGINT) AS cuma
              FROM g WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)),
         m AS (SELECT cnt, ca, cnt - ca AS cb, cum, cuma,
                2 * (cum - cnt) + cnt + 1 AS mm2,
                2 * (cuma - ca) + ca + 1 AS ma2,
                2 * ((cum - cuma) - (cnt - ca)) + (cnt - ca) + 1 AS mb2
              FROM s),
         acc AS (SELECT
                sum(ca::HUGEINT * mm2) AS sra,
                sum(cb::HUGEINT * mm2) AS srb,
                sum(ca::HUGEINT * (mm2 - ma2)) AS ua,
                sum(cb::HUGEINT * (mm2 - mb2)) AS ub,
                sum(ca::HUGEINT * (mm2 - ma2)::HUGEINT * (mm2 - ma2))
                  AS qa,
                sum(cb::HUGEINT * (mm2 - mb2)::HUGEINT * (mm2 - mb2))
                  AS qb
              FROM m),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS n1,
                CAST(count(*) - sum(ya) AS BIGINT) AS n2 FROM f),
         e AS (SELECT *, CAST(n1 AS DOUBLE) AS n1d,
                CAST(n2 AS DOUBLE) AS n2d FROM acc CROSS JOIN t),
         e2 AS (SELECT *,
                CAST(CAST(sra AS VARCHAR) AS DOUBLE) / (2.0 * n1d) AS m1d,
                CAST(CAST(srb AS VARCHAR) AS DOUBLE) / (2.0 * n2d) AS m2d
              FROM e),
         e3 AS (SELECT *, (n1d + 1.0) - 2.0 * m1d AS ka,
                (n2d + 1.0) - 2.0 * m2d AS kb FROM e2),
         e4 AS (SELECT *,
                (CAST(CAST(qa AS VARCHAR) AS DOUBLE)
                 + 2.0 * ka * CAST(CAST(ua AS VARCHAR) AS DOUBLE)
                 + n1d * ka * ka) / (4.0 * (n1d - 1.0)) AS v1,
                (CAST(CAST(qb AS VARCHAR) AS DOUBLE)
                 + 2.0 * kb * CAST(CAST(ub AS VARCHAR) AS DOUBLE)
                 + n2d * kb * kb) / (4.0 * (n2d - 1.0)) AS v2
              FROM e3),
         e5 AS (SELECT *, n1d * v1 + n2d * v2 AS vs FROM e4)
         SELECT n1, n2,
                (m2d - (n2d + 1.0) / 2.0) / n1d AS p_hat,
                n1d * n2d * (m2d - m1d) / ((n1d + n2d) * sqrt(vs))
                  AS w_stat,
                vs * vs / ((n1d * v1) * (n1d * v1) / (n1d - 1.0)
                         + (n2d * v2) * (n2d * v2) / (n2d - 1.0))
                  AS df_hat
         FROM e5""",

    "x_mood_median" ->
      """WITH f AS (SELECT lang AS g, n_chars AS v FROM documents
              WHERE n_chars IS NOT NULL),
         perv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
              FROM f GROUP BY v),
         sp AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              FROM perv),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         med AS (SELECT min(v) AS med FROM sp CROSS JOIN tot
              WHERE cum >= (n + 1) // 2),
         perg AS (SELECT g,
                CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
                  AS ag,
                CAST(count(*) AS BIGINT) AS ng
              FROM f CROSS JOIN med GROUP BY g),
         t2 AS (SELECT CAST(sum(ag) AS BIGINT) AS aa,
                CAST(sum(ng) AS BIGINT) AS nn,
                CAST(count(*) AS BIGINT) AS k FROM perg),
         tm AS (SELECT g, ag, ng, aa, nn, k,
                CAST(ng AS DOUBLE) * CAST(aa AS DOUBLE)
                  / CAST(nn AS DOUBLE) AS ead,
                CAST(ng AS DOUBLE) * CAST(nn - aa AS DOUBLE)
                  / CAST(nn AS DOUBLE) AS ebd
              FROM perg CROSS JOIN t2),
         tg AS (SELECT g, aa, nn, k,
                (CAST(ag AS DOUBLE) - ead) * (CAST(ag AS DOUBLE) - ead)
                  / ead
              + (CAST(ng - ag AS DOUBLE) - ebd)
                * (CAST(ng - ag AS DOUBLE) - ebd) / ebd AS tg
              FROM tm),
         fo AS (SELECT max(k) AS k, max(nn) AS n, max(aa) AS n_above,
                list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                  list(tg ORDER BY g)), (a, x) -> a + x) AS chi2
              FROM tg)
         SELECT med, n, k, n_above, chi2 FROM fo CROSS JOIN med""",

    "x_theil_u" -> {
      val (chainY, lastY) = Pmath.lnSqlChainCtes("my", "thy",
        Seq("CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)" -> "ln_y"),
        carry = Seq("y", "cy", "n"))
      val (chainC, lastC) = Pmath.lnSqlChainCtes("cl", "thc",
        Seq("CAST(cx AS DOUBLE) / CAST(c AS DOUBLE)" -> "ln_c"),
        carry = Seq("x", "y", "c", "cx", "n"))
      s"""WITH cells AS (SELECT source AS x, lang AS y,
                CAST(count(*) AS BIGINT) AS c
              FROM documents GROUP BY source, lang),
         mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx
              FROM cells GROUP BY x),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy, n
              FROM cells CROSS JOIN tot GROUP BY y, n),
         cl AS (SELECT c0.x, c0.y, c0.c, mx.cx, tot.n
              FROM cells c0 JOIN mx USING (x) CROSS JOIN tot),
         $chainY,
         $chainC,
         hy AS (SELECT list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                list(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE) * ln_y
                  ORDER BY y)), (a, x) -> a + x) AS h_y FROM $lastY),
         hyx AS (SELECT list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                list(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * ln_c
                  ORDER BY x, y)), (a, x) -> a + x) AS h_yx FROM $lastC)
         SELECT n, h_y, h_yx, (h_y - h_yx) / h_y AS theil_u
         FROM hy CROSS JOIN hyx CROSS JOIN tot"""
    },

    "x_gk_lambda" ->
      """WITH cells AS (SELECT source AS x, lang AS y,
                CAST(count(*) AS BIGINT) AS c
              FROM documents GROUP BY source, lang),
         smax AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_max_x FROM
                (SELECT max(c) AS mx FROM cells GROUP BY x)),
         mm AS (SELECT CAST(max(cy) AS BIGINT) AS max_marg FROM
                (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells
                 GROUP BY y)),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
         SELECT n, sum_max_x, max_marg,
                CAST(sum_max_x - max_marg AS DOUBLE)
                  / CAST(n - max_marg AS DOUBLE) AS lambda_yx
         FROM smax CROSS JOIN mm CROSS JOIN tot""",

    // the word-graph WEIGHTED PageRank replayed with the x_pagerank
    // round CTEs (damped contributions scaled by w/wdeg, summed as the
    // same fixed-point floor(c·2^40) BIGINT sums the Spark side runs)
    // on the candidate-token windowed pairing
    "x_textrank" -> {
      val dmp = "CAST('0.85' AS DOUBLE)"
      val tel = "(CAST('1.0' AS DOUBLE) - CAST('0.85' AS DOUBLE))"
      val scl = "CAST('1099511627776.0' AS DOUBLE)"
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT s.dst,
                   CAST(floor($dmp * r.rank * (CAST(s.w AS DOUBLE)
                     / CAST(d.wdeg AS DOUBLE)) * $scl) AS BIGINT) AS cq
                 FROM sym s JOIN r${i - 1} r ON s.src = r.node
                            JOIN deg d ON s.src = d.src),
          r$i AS (SELECT dst AS node,
                    $tel / n + CAST(sum(cq) AS DOUBLE) / $scl AS rank
                 FROM c$i CROSS JOIN nn GROUP BY dst, n)"""
      }.mkString(",\n          ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents),
          tk AS (SELECT doc_id, i AS pos, ws[i] AS w
                 FROM (SELECT doc_id, ws,
                         unnest(range(1, len(ws) + 1)) AS i FROM w)
                 WHERE len(ws[i]) >= 4),
          pr0 AS (SELECT w AS src, lead(w) OVER
                    (PARTITION BY doc_id ORDER BY pos) AS dst FROM tk),
          e0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM pr0
                 WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
          sym AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM
                    (SELECT src, dst, w FROM e0
                     UNION ALL SELECT dst AS src, src AS dst, w FROM e0)
                  GROUP BY src, dst),
          deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
                  FROM sym GROUP BY src),
          nn AS (SELECT count(*) AS n FROM deg),
          r0 AS (SELECT src AS node, CAST('1.0' AS DOUBLE) / n AS rank
                 FROM deg CROSS JOIN nn),
          $rounds
          SELECT node AS word, rank FROM r3
          ORDER BY rank DESC, node LIMIT 20"""
    },

    "x_kendall_w" ->
      """WITH per AS (SELECT source,
                CAST(sum(n_chars) AS BIGINT) AS v1,
                CAST(count(*) AS BIGINT) AS v2,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS v3
              FROM documents GROUP BY source),
         sp1 AS (SELECT v1, cnt, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT)
                   AS r2_v1
                 FROM (SELECT v1, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(sum(count(*)) OVER (ORDER BY v1 ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cum
                       FROM per GROUP BY v1)),
         sp2 AS (SELECT v2, cnt, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT)
                   AS r2_v2
                 FROM (SELECT v2, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(sum(count(*)) OVER (ORDER BY v2 ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cum
                       FROM per GROUP BY v2)),
         sp3 AS (SELECT v3, cnt, CAST(2 * (cum - cnt) + cnt + 1 AS BIGINT)
                   AS r2_v3
                 FROM (SELECT v3, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(sum(count(*)) OVER (ORDER BY v3 ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cum
                       FROM per GROUP BY v3)),
         t1 AS (SELECT sum(CAST(cnt AS DECIMAL(12,0))
                  * CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
                  - CAST(cnt AS DECIMAL(12,0))) AS t1 FROM sp1),
         t2 AS (SELECT sum(CAST(cnt AS DECIMAL(12,0))
                  * CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
                  - CAST(cnt AS DECIMAL(12,0))) AS t2 FROM sp2),
         t3 AS (SELECT sum(CAST(cnt AS DECIMAL(12,0))
                  * CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
                  - CAST(cnt AS DECIMAL(12,0))) AS t3 FROM sp3),
         rk AS (SELECT r2_v1 + r2_v2 + r2_v3 AS r2s
                FROM per JOIN sp1 USING (v1) JOIN sp2 USING (v2)
                         JOIN sp3 USING (v3)),
         fo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(r2s::HUGEINT * r2s) AS s4 FROM rk),
         e AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(3.0 AS DOUBLE) AS kd,
                 CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / 4.0 AS sq,
                 CAST(CAST(t1 + t2 + t3 AS VARCHAR) AS DOUBLE) AS std
               FROM fo CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN t3),
         e2 AS (SELECT n,
                 (12.0 * sq - 3.0 * (kd * kd) * nd
                    * ((nd + 1.0) * (nd + 1.0)))
                 / ((kd * kd) * (nd * nd * nd - nd) - kd * std) AS w_stat,
                 nd, kd
               FROM e)
         SELECT n, CAST(3 AS BIGINT) AS k, w_stat,
                kd * (nd - 1.0) * w_stat AS chi2_f
         FROM e2""",

    "x_borda_count" ->
      """WITH per AS (SELECT lang,
                CAST(sum(n_chars) AS BIGINT) AS v1,
                CAST(count(*) AS BIGINT) AS v2,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS v3
              FROM documents GROUP BY lang),
         votes AS (
           SELECT 'v1' AS metric, lang,
             CAST(row_number() OVER (ORDER BY v1 DESC, lang) AS BIGINT)
               AS rnk FROM per
           UNION ALL
           SELECT 'v2', lang,
             CAST(row_number() OVER (ORDER BY v2 DESC, lang) AS BIGINT)
             FROM per
           UNION ALL
           SELECT 'v3', lang,
             CAST(row_number() OVER (ORDER BY v3 DESC, lang) AS BIGINT)
             FROM per),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM per),
         borda AS (SELECT lang, CAST(sum(nc - rnk) AS BIGINT) AS borda
                   FROM votes CROSS JOIN nc GROUP BY lang),
         beats AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_beats
                   FROM (SELECT a.lang AS lang, b.lang AS opp,
                         sum(CASE WHEN a.rnk < b.rnk THEN 1 ELSE 0 END)
                           AS wins
                         FROM votes a JOIN votes b
                           ON a.metric = b.metric AND a.lang <> b.lang
                         GROUP BY a.lang, b.lang) w
                   WHERE wins * 2 > 3 GROUP BY lang)
         SELECT p.lang, b.borda,
                CAST(COALESCE(bt.n_beats, 0) AS BIGINT) AS n_beats,
                COALESCE(bt.n_beats, 0) = nc - 1 AS condorcet_winner
         FROM per p JOIN borda b ON p.lang = b.lang
         LEFT JOIN beats bt ON p.lang = bt.lang CROSS JOIN nc""",

    "x_huber_irls" ->
      """WITH li AS (SELECT l_quantity AS xd, l_extendedprice AS yd
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
         m0 AS (SELECT count(*) AS n,
                sum(CAST(xd AS DECIMAL(18,2))) AS sx,
                sum(CAST(yd AS DECIMAL(18,2))) AS sy,
                sum(CAST(xd AS DECIMAL(18,2)) * CAST(yd AS DECIMAL(18,2)))
                  AS sxy,
                sum(CAST(xd AS DECIMAL(18,2)) * CAST(xd AS DECIMAL(18,2)))
                  AS sxx
              FROM li),
         d0 AS (SELECT n, CAST(CAST(n AS VARCHAR) AS DOUBLE) AS n0,
                CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
              FROM m0),
         f0a AS (SELECT n, n0, sxd, syd,
                (n0 * sxyd - sxd * syd) / (n0 * sxxd - sxd * sxd) AS b1
              FROM d0),
         f0 AS (SELECT n, b1, (syd - b1 * sxd) / n0 AS b0 FROM f0a),
         w1 AS (SELECT xd, yd,
                CASE WHEN abs(yd - (b0 + b1 * xd)) <= 5000.0 THEN 1.0
                     ELSE 5000.0 / abs(yd - (b0 + b1 * xd)) END AS w
              FROM li CROSS JOIN f0),
         s1 AS (SELECT
                sum(CAST(floor(w * 1048576.0) AS HUGEINT)) AS qw,
                sum(CAST(floor((w * xd) * 1048576.0) AS HUGEINT)) AS qx,
                sum(CAST(floor((w * yd) * 1048576.0) AS HUGEINT)) AS qy,
                sum(CAST(floor(((w * xd) * xd) * 1048576.0) AS HUGEINT))
                  AS qxx,
                sum(CAST(floor(((w * xd) * yd) * 1048576.0) AS HUGEINT))
                  AS qxy
              FROM w1),
         g1 AS (SELECT
                CAST(CAST(qw AS VARCHAR) AS DOUBLE) / 1048576.0 AS swd,
                CAST(CAST(qx AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxd,
                CAST(CAST(qy AS VARCHAR) AS DOUBLE) / 1048576.0 AS syd,
                CAST(CAST(qxx AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxxd,
                CAST(CAST(qxy AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxyd
              FROM s1),
         f1a AS (SELECT swd, sxd, syd,
                (swd * sxyd - sxd * syd) / (swd * sxxd - sxd * sxd) AS b1
              FROM g1),
         f1 AS (SELECT b1, (syd - b1 * sxd) / swd AS b0 FROM f1a),
         w2 AS (SELECT xd, yd,
                CASE WHEN abs(yd - (b0 + b1 * xd)) <= 5000.0 THEN 1.0
                     ELSE 5000.0 / abs(yd - (b0 + b1 * xd)) END AS w
              FROM li CROSS JOIN f1),
         s2 AS (SELECT
                sum(CAST(floor(w * 1048576.0) AS HUGEINT)) AS qw,
                sum(CAST(floor((w * xd) * 1048576.0) AS HUGEINT)) AS qx,
                sum(CAST(floor((w * yd) * 1048576.0) AS HUGEINT)) AS qy,
                sum(CAST(floor(((w * xd) * xd) * 1048576.0) AS HUGEINT))
                  AS qxx,
                sum(CAST(floor(((w * xd) * yd) * 1048576.0) AS HUGEINT))
                  AS qxy
              FROM w2),
         g2 AS (SELECT
                CAST(CAST(qw AS VARCHAR) AS DOUBLE) / 1048576.0 AS swd,
                CAST(CAST(qx AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxd,
                CAST(CAST(qy AS VARCHAR) AS DOUBLE) / 1048576.0 AS syd,
                CAST(CAST(qxx AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxxd,
                CAST(CAST(qxy AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxyd
              FROM s2),
         f2a AS (SELECT swd, sxd, syd,
                (swd * sxyd - sxd * syd) / (swd * sxxd - sxd * sxd) AS b1
              FROM g2),
         f2 AS (SELECT b1, (syd - b1 * sxd) / swd AS b0 FROM f2a)
         SELECT m0.n AS n, f0.b1 AS slope_ols, f2.b1 AS slope_huber,
                f2.b0 AS intercept_huber
         FROM f2 CROSS JOIN f0 CROSS JOIN m0""",

    // the filter trajectory replayed as a bounded recursive CTE: base
    // branch literals CAST AS DOUBLE (DuckDB would otherwise unify the
    // union type to DECIMAL), recursive arm repeats the engine's exact
    // op order with P⁺ = p + 10.0 spelled out textually
    "x_kalman_1d" ->
      """WITH RECURSIVE daily AS (
           SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                    AS day_idx,
                  CAST(sum(CAST(floor(value * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
           FROM events GROUP BY 1),
         sp AS (SELECT row_number() OVER (ORDER BY day_idx) AS i, day_idx,
                CAST(cents AS DOUBLE) / 100.0 AS z FROM daily),
         kal AS (
           SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS day_idx,
                  CAST(0.0 AS DOUBLE) AS z, CAST(0.0 AS DOUBLE) AS x,
                  CAST(10000.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS kg
           UNION ALL
           SELECT s2.i, s2.day_idx, s2.z,
                  k.x + ((k.p + 10.0) / ((k.p + 10.0) + 400.0))
                    * (s2.z - k.x) AS x,
                  (1.0 - (k.p + 10.0) / ((k.p + 10.0) + 400.0))
                    * (k.p + 10.0) AS p,
                  (k.p + 10.0) / ((k.p + 10.0) + 400.0) AS kg
           FROM kal k JOIN sp s2 ON s2.i = k.i + 1)
         SELECT day_idx, z, x AS x_filt, p AS p_var, kg AS k_gain
         FROM kal WHERE i >= 1""",

    "x_croston" ->
      """WITH RECURSIVE err AS (
           SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                    AS day_idx,
                  CAST(count(*) AS BIGINT) AS demand
           FROM events WHERE event_type = 'error' GROUP BY 1),
         mxd AS (SELECT CAST(max(CAST(ts AS DATE) - DATE '2024-01-01')
                   AS BIGINT) AS mx FROM events),
         sp AS (SELECT CAST(g.i AS BIGINT) AS day_idx,
                CAST(COALESCE(e.demand, 0) AS BIGINT) AS demand
                FROM (SELECT unnest(range(0, mx + 1)) AS i FROM mxd) g
                LEFT JOIN err e ON e.day_idx = g.i),
         c AS (
           SELECT CAST(-1 AS BIGINT) AS day_idx, CAST(0 AS BIGINT)
                    AS demand,
                  false AS seen, CAST(0.0 AS DOUBLE) AS zh,
                  CAST(0.0 AS DOUBLE) AS ph, CAST(1.0 AS DOUBLE) AS qq
           UNION ALL
           SELECT s.day_idx, s.demand,
                  k.seen OR s.demand > 0 AS seen,
                  CASE WHEN s.demand > 0 THEN
                    CASE WHEN k.seen THEN
                      k.zh + 0.1 * (CAST(s.demand AS DOUBLE) - k.zh)
                    ELSE CAST(s.demand AS DOUBLE) END
                  ELSE k.zh END AS zh,
                  CASE WHEN s.demand > 0 THEN
                    CASE WHEN k.seen THEN k.ph + 0.1 * (k.qq - k.ph)
                    ELSE k.qq END
                  ELSE k.ph END AS ph,
                  CASE WHEN s.demand > 0 THEN CAST(1.0 AS DOUBLE)
                  ELSE k.qq + 1.0 END AS qq
           FROM c k JOIN sp s ON s.day_idx = k.day_idx + 1)
         SELECT day_idx, demand, zh AS z_hat, ph AS p_hat,
                zh / ph AS forecast
         FROM c WHERE demand > 0""",

    "x_competing_risks" ->
      """WITH RECURSIVE u AS (SELECT user_id,
                min(epoch_us(ts)) AS first_us,
                min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS p_us,
                min(CASE WHEN event_type = 'error'
                    THEN epoch_us(ts) END) AS e_us,
                max(epoch_us(ts)) AS last_us
              FROM events GROUP BY user_id),
         f AS (SELECT CAST((COALESCE(least(p_us, e_us), last_us)
                  - first_us) // 3600000000 AS BIGINT) AS t,
               CASE WHEN p_us IS NOT NULL
                    AND (e_us IS NULL OR p_us <= e_us)
                    THEN 1 ELSE 0 END AS e1,
               CASE WHEN e_us IS NOT NULL
                    AND (p_us IS NULL OR e_us < p_us)
                    THEN 1 ELSE 0 END AS e2
               FROM u),
         pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_all,
                CAST(sum(e1) AS BIGINT) AS d1,
                CAST(sum(e2) AS BIGINT) AS d2 FROM f GROUP BY t),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM f),
         ev AS (SELECT t, n_risk, d1, d2 FROM (
                SELECT t, d1, d2,
                  n_total - COALESCE(CAST(sum(n_all) OVER
                    (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
                FROM pt CROSS JOIN tt) rk
                WHERE d1 + d2 > 0),
         sp AS (SELECT row_number() OVER (ORDER BY t) AS i, t,
                n_risk, d1, d2 FROM ev),
         c AS (
           SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS t,
                  CAST(0 AS BIGINT) AS n_risk, CAST(0 AS BIGINT) AS d1,
                  CAST(0 AS BIGINT) AS d2, CAST(1.0 AS DOUBLE) AS s,
                  CAST(0.0 AS DOUBLE) AS c1, CAST(0.0 AS DOUBLE) AS c2
           UNION ALL
           SELECT s2.i, s2.t, s2.n_risk, s2.d1, s2.d2,
                  k.s * (1.0 - CAST(s2.d1 + s2.d2 AS DOUBLE)
                    / CAST(s2.n_risk AS DOUBLE)) AS s,
                  k.c1 + k.s * (CAST(s2.d1 AS DOUBLE)
                    / CAST(s2.n_risk AS DOUBLE)) AS c1,
                  k.c2 + k.s * (CAST(s2.d2 AS DOUBLE)
                    / CAST(s2.n_risk AS DOUBLE)) AS c2
           FROM c k JOIN sp s2 ON s2.i = k.i + 1)
         SELECT t AS t_dur, n_risk, d1 AS d_cause1, d2 AS d_cause2,
                c1 AS cif_cause1, c2 AS cif_cause2, s AS surv_all
         FROM c WHERE i >= 1""",

    // mirrors Stats.andersonDarling2: same spine, same fixed double
    // chain per term, same 2⁻²⁰ quantize-then-decimal-sum
    "x_anderson_darling" ->
      """WITH f AS (SELECT n_chars AS v,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ya
              FROM documents WHERE n_chars IS NOT NULL),
         g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(ya) AS BIGINT) AS ca FROM f GROUP BY v),
         s AS (SELECT cnt, ca,
                CAST(sum(cnt) OVER w AS BIGINT) AS cum,
                CAST(sum(ca) OVER w AS BIGINT) AS cuma
              FROM g WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)),
         t AS (SELECT CAST(sum(ya) AS BIGINT) AS n1,
                CAST(count(*) - sum(ya) AS BIGINT) AS n2,
                CAST(count(*) AS BIGINT) AS nn FROM f),
         e AS (SELECT cnt, ca, cum, cuma, n1, n2, nn,
                CAST(nn AS DOUBLE) AS nd, CAST(cum AS DOUBLE) AS bd
              FROM s CROSS JOIN t WHERE cum < nn),
         e2 AS (SELECT *,
                nd * CAST(cuma AS DOUBLE) - CAST(n1 AS DOUBLE) * bd
                  AS num1,
                nd * CAST(cum - cuma AS DOUBLE) - CAST(n2 AS DOUBLE) * bd
                  AS num2,
                nd * (bd * (nd - bd)) AS den FROM e),
         e3 AS (SELECT *,
                CAST(cnt AS DOUBLE) * ((num1 * num1) / den) AS t1,
                CAST(cnt AS DOUBLE) * ((num2 * num2) / den) AS t2
              FROM e2),
         fo AS (SELECT max(n1) AS n1, max(n2) AS n2,
                CAST(count(*) AS BIGINT) AS n_terms,
                sum(CAST(floor(t1 * 1048576.0) AS HUGEINT)) AS q1,
                sum(CAST(floor(t2 * 1048576.0) AS HUGEINT)) AS q2
              FROM e3)
         SELECT n1, n2, n_terms,
                (CAST(CAST(q1 AS VARCHAR) AS DOUBLE) / 1048576.0)
                  / CAST(n1 AS DOUBLE)
              + (CAST(CAST(q2 AS VARCHAR) AS DOUBLE) / 1048576.0)
                  / CAST(n2 AS DOUBLE) AS a2_stat
         FROM fo""",

    "x_good_turing" ->
      """WITH d0 AS (SELECT string_split(text, ' ') AS ws FROM documents),
         wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM
                (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
                 FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i
                       FROM d0 WHERE len(ws) >= 3))
              GROUP BY w),
         fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
              FROM wc GROUP BY r),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_tok FROM wc),
         j AS (SELECT a.r, a.n_r,
                CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r1
              FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
              WHERE a.r <= 10)
         SELECT r, n_r,
                CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                  / CAST(n_r AS DOUBLE) AS r_star,
                (CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                  / CAST(n_r AS DOUBLE)) / CAST(n_tok AS DOUBLE) AS p_gt
         FROM j CROSS JOIN tot""",

    "x_heaps_law" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("pts", "hl",
        Seq("CAST(nj AS DOUBLE)" -> "lx", "CAST(vj AS DOUBLE)" -> "ly"),
        carry = Seq("j", "vj", "nj"))
      s"""WITH toks AS (SELECT doc_id, w FROM
                (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents) WHERE w <> ''),
         mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mxd FROM documents),
         wj AS (SELECT (fd * 16) // (mxd + 1) + 1 AS j,
                CAST(count(*) AS BIGINT) AS dv
              FROM (SELECT w, CAST(min(doc_id) AS BIGINT) AS fd
                    FROM toks GROUP BY w) CROSS JOIN mx GROUP BY 1),
         tj AS (SELECT (doc_id * 16) // (mxd + 1) + 1 AS j,
                CAST(count(*) AS BIGINT) AS dn
              FROM toks CROSS JOIN mx GROUP BY 1),
         grid AS (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS j),
         pts0 AS (SELECT g.j,
                CAST(sum(COALESCE(w.dv, 0)) OVER (ORDER BY g.j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS vj,
                CAST(sum(COALESCE(t.dn, 0)) OVER (ORDER BY g.j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS nj
              FROM grid g LEFT JOIN wj w ON w.j = g.j
                          LEFT JOIN tj t ON t.j = g.j),
         pts AS (SELECT j, vj, nj FROM pts0 WHERE vj > 0 AND nj > 0),
         $chains,
         fo AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                list_sum(list(lx ORDER BY j)) AS sx,
                list_sum(list(ly ORDER BY j)) AS sy,
                list_sum(list(lx * ly ORDER BY j)) AS sxy,
                list_sum(list(lx * lx ORDER BY j)) AS sxx FROM $last),
         e AS (SELECT n_points, CAST(n_points AS DOUBLE) AS kd,
                sx, sy, sxy, sxx,
                (CAST(n_points AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS beta
              FROM fo)
         SELECT n_points, beta, (sy - beta * sx) / kd AS ln_k FROM e"""
    },

    "x_capture_recapture" ->
      """WITH s AS (SELECT
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap_a'),
                  1, 13))::BIGINT % 10 < 3 AS ina,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap_b'),
                  1, 13))::BIGINT % 10 < 3 AS inb
              FROM documents),
         m AS (SELECT
                CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT)
                  AS n1,
                CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT)
                  AS n2,
                CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)
                  AS BIGINT) AS m,
                CAST(count(*) AS BIGINT) AS true_n FROM s)
         SELECT n1, n2, m, true_n,
                CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  / CAST(m AS DOUBLE) AS lp_est,
                (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
                  / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS chapman_est
         FROM m""",

    "x_ldiversity" ->
      """WITH g AS (SELECT source, n_chars // 500 AS bkt,
                CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
                CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY source, n_chars // 500)
         SELECT l_distinct, CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(n) AS BIGINT) AS n_rows
         FROM g GROUP BY l_distinct""",
  )
}
