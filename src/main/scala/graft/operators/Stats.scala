package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Exact, Pmath, Text}

/** Distribution-drift and association statistics — the monitoring side
  * of a data pipeline: did this batch's value distribution move against
  * the reference corpus (KS, PSI), which features associate with a
  * label (chi-square), is the series self-correlated (lag
  * autocorrelation), and do the amounts look organic (Benford digit
  * audit). The reference's pipeline logs row counts only
  * (`load_silver.py`'s "Registros eliminados…" prints); these operators
  * are the statistical upgrade of that audit surface.
  *
  * Float discipline (the differential-oracle requirement): every score
  * here is derived from exact integer/decimal aggregates; doubles enter
  * only through (a) single correctly-rounded divisions of exact
  * operands, (b) the portable ln ([[Pmath.lnColumn]]) on a ≥ 1 ratio,
  * (c) fixed-order folds, or (d) literals emitted from the SAME Scala
  * value on both engines — so results are partition-invariant and
  * bit-replayable by a SQL oracle.
  */
object Stats {

  /** Two-sample Kolmogorov–Smirnov statistic between the rows matching
    * `inA` and those matching `inB`:
    * D = max over v of |ECDF_A(v) − ECDF_B(v)|, computed as the exact
    * integer max of |c1·n2 − c2·n1| over the merged distinct values
    * (cross-multiplied ECDFs — no per-step division, so the max is
    * chosen over integers and only the FINAL statistic divides).
    *
    * Scale shape: one hash aggregate to distinct values, then one
    * ordered cumulative window. The window is global (the ECDF is a
    * global object) — exact KS at 100 TB should run on the binned
    * distribution ([[psiDrift]]'s shape) or a coarse value
    * discretization first; this form is the exact-oracle variant. */
  def ksTwoSample(df: DataFrame, valueCol: String,
                  inA: Column, inB: Column): DataFrame = {
    ecdfGapSpine(df, valueCol, inA, inB)
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("d_stat"))
  }

  /** The merged distinct-value spine [[ksTwoSample]] and
    * [[kuiperTwoSample]] share: per value of `valueCol`, the running
    * counts (c1, c2) of samples A and B up to and including it, with the
    * sample sizes (n1, n2) broadcast onto every row. Rows in neither
    * sample are dropped first. */
  private def ecdfGapSpine(df: DataFrame, valueCol: String,
                           inA: Column, inB: Column): DataFrame = {
    val f = df.select(col(valueCol).as("v"),
        when(inA, 1L).otherwise(0L).as("in1"),
        when(inB, 1L).otherwise(0L).as("in2"))
      .where(col("in1") === 1L || col("in2") === 1L)
    val perV = f.groupBy("v").agg(sum("in1").as("a1"), sum("in2").as("a2"))
    val cum = Rank.withCumSums(perV, Seq("v"),
      Seq("a1" -> "c1", "a2" -> "c2")).select("c1", "c2")
    val tot = f.agg(sum("in1").as("n1"), sum("in2").as("n2"))
    cum.crossJoin(broadcast(tot))
  }

  /** Population Stability Index between a reference and a current
    * cohort over a caller-supplied integer binning:
    * PSI = Σ_bins (p − q)·ln(p/q), with add-one smoothing over the
    * observed-bin count so empty-on-one-side bins stay finite
    * (p = (c_ref+1)/(n_ref+B), the standard guard).
    *
    * Returns one row per bin with its contribution plus the folded
    * total (`psi_total`, identical on every row) — the per-bin profile
    * IS the drift diagnosis; the scalar is the alert threshold.
    *
    * Scale shape: one hash aggregate over bins + a 1-row broadcast of
    * the totals; the ln runs on the ≥ 1 ratio branch
    * ([[Pmath.lnColumn]]'s domain) with the sign from the exact double
    * compare, and the total is a bin-ordered fold, never an unordered
    * double sum. */
  def psiDrift(df: DataFrame, binExpr: Column,
               isRef: Column, isCur: Column): DataFrame = {
    val f = df.select(binExpr.as("bin"),
        when(isRef, 1L).otherwise(0L).as("r"),
        when(isCur, 1L).otherwise(0L).as("c"))
      .where(col("r") === 1L || col("c") === 1L)
    val perBin = f.groupBy("bin")
      .agg(sum("r").as("c_ref"), sum("c").as("c_cur"))
    val tot = f.agg(sum("r").as("n_ref"), sum("c").as("n_cur"),
      countDistinct("bin").as("n_bins"))
    val pq = perBin.crossJoin(broadcast(tot)).select(
      col("bin"), col("c_ref"), col("c_cur"),
      ((col("c_ref") + lit(1L)).cast("double") /
        (col("n_ref") + col("n_bins")).cast("double")).as("p"),
      ((col("c_cur") + lit(1L)).cast("double") /
        (col("n_cur") + col("n_bins")).cast("double")).as("q"))
    val lnx = Pmath.lnColumn(
      when(col("p") >= col("q"), col("p") / col("q"))
        .otherwise(col("q") / col("p")))
    val bins = pq.withColumn("psi_contrib",
      when(col("p") >= col("q"), (col("p") - col("q")) * lnx)
        .otherwise((col("q") - col("p")) * lnx))
      .select("bin", "c_ref", "c_cur", "psi_contrib")
    val total = bins
      .agg(Exact.orderedSum(col("psi_contrib"), col("bin")).as("psi_total"))
    bins.crossJoin(broadcast(total))
  }

  /** Chi-square term–label association over a document corpus: for each
    * term (document-level presence, not frequency) vs a boolean class,
    * χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) from the 2×2
    * presence/class contingency table. The classic feature-selection /
    * domain-signature score (which vocabulary separates `cls` docs from
    * the rest). Returns the `topK` highest-χ² terms, df-bounded to
    * [minDf, 0.9·N] so near-universal stopwords and hapaxes never rank.
    *
    * Scale shape: distinct-per-doc tokenize → ONE term-keyed hash
    * aggregate; totals are a 1-row broadcast. All four cell counts are
    * exact int64; χ² is formed in double with a FIXED operation order
    * (every product of exact operands, one final division) so the
    * ranking replays bit-identically in SQL. */
  def chi2Terms(df: DataFrame, idCol: String, textCol: String,
                cls: Column, minDf: Long = 10L, topK: Int = 50): DataFrame = {
    val docs = df.select(col(idCol).as("doc"),
      when(cls, 1L).otherwise(0L).as("y"), col(textCol).as("txt"))
    val tot = docs.agg(count(lit(1)).as("nd"), sum("y").as("npos"))
    val terms = docs.select(col("doc"), col("y"),
        explode(array_distinct(Text.tokens(col("txt")))).as("term"))
      .where(col("term") =!= "")
    val perTerm = terms.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("y").as("a"))
    def dbl(c: Column) = c.cast("double")
    perTerm.crossJoin(broadcast(tot))
      .where(col("df") >= minDf && col("df") * lit(10L) <= col("nd") * lit(9L))
      // ad−bc with b = df−a, c = npos−a, d = nd−npos−(df−a): integer
      // differences first (exact), then double products (exact: < 2⁵³)
      .withColumn("ad_bc",
        dbl(col("a")) * dbl(col("nd") - col("npos") - (col("df") - col("a")))
          - dbl(col("df") - col("a")) * dbl(col("npos") - col("a")))
      .withColumn("chi2",
        (dbl(col("nd")) * (col("ad_bc") * col("ad_bc"))) /
          (((dbl(col("df")) * dbl(col("nd") - col("df"))) * dbl(col("npos")))
            * dbl(col("nd") - col("npos"))))
      .select(col("term"), col("df"), col("a").as("df_pos"), col("chi2"))
      .orderBy(desc("chi2"), asc("term")).limit(topK)
  }

  /** Lag-1 autocorrelation of a keyless series: group `df` to one value
    * per `orderExpr` step (decimal(18,2) sum of `valueExpr`), pair each
    * step with its predecessor, and compute Pearson r over the
    * (previous, current) pairs via exact decimal moments with the
    * string-mediated double cast (the [[graft.queries.Ext]] corr
    * recipe — single rounding per moment, engine-portable).
    *
    * The pairing window is global but runs over the AGGREGATED series
    * (one row per step — days, hours), not the raw table; the moments
    * are then a single hash aggregate. */
  def lagAutocorr(df: DataFrame, orderExpr: Column,
                  valueExpr: Column): DataFrame = {
    val series = df.groupBy(orderExpr.as("step"))
      .agg(sum(valueExpr.cast("decimal(18,2)")).as("r0"))
      .select(col("step"), col("r0").cast("decimal(18,2)").as("r"))
    val w = BoundedWindow.orderBy("step")
    val pairs = series
      .select(lag(col("r"), 1).over(w).as("x"), col("r").as("y"))
      .where(col("x").isNotNull)
    def dbl(c: Column) = c.cast("string").cast("double")
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n_pairs"),
        ((dbl(col("n_pairs")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (sqrt(dbl(col("n_pairs")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
            sqrt(dbl(col("n_pairs")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))))
          .as("autocorr_lag1"))
  }

  /** Deterministic subsampling bootstrap (the m-out-of-n bootstrap,
    * Politis–Romano–Wolf) for the per-group mean: `b` replicates, each
    * keeping the rows whose md5(id ⊕ replicate) is even (≈ half the
    * group, without replacement), then the spread of the replicate
    * means. Returns per group: the full-sample mean, the replicate
    * count, the bootstrap mean-of-means, and the bootstrap standard
    * error — the uncertainty attached to every per-segment metric a
    * pipeline reports.
    *
    * Everything replays exactly: replicate membership is bit `b` of the
    * row's single 52-bit md5 prefix (ONE hash per row, never rand();
    * distinct hash bits are independent, so the replicates are
    * independent half-samples), per-replicate means are decimal sums
    * with ONE string-mediated division, and the across-replicate
    * moments are replicate-ordered folds. Scale shape: the b-way fanout
    * is a generator over a narrow 3-column projection whose bit test is
    * codegen integer ops, then two hash aggregates (map-side partials
    * collapse the fanout to (group, replicate) rows) — no window, no
    * collect of raw rows. */
  def bootstrapMeanCi(df: DataFrame, groupCol: String, idCol: Column,
                      valueCol: Column, b: Int = 32): DataFrame = {
    require(b >= 2 && b <= 52,
      s"bootstrapMeanCi: replicates must be in [2, 52] (hash bits), got $b")
    val base = df.select(col(groupCol).as("g"),
      conv(substring(md5(idCol.cast("string")), 1, 13), 16, 10)
        .cast("long").as("hx"),
      valueCol.cast("decimal(18,2)").as("v"))
    def meanCol = col("sv").cast("string").cast("double") /
      col("m").cast("double")
    val full = base.groupBy("g")
      .agg(sum("v").as("sv"), count(lit(1)).as("m"))
      .select(col("g"), col("m").as("n"), meanCol.as("mean_full"))
    val reps = base
      .select(col("g"), col("hx"), col("v"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .where(col("hx")
        .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), b)")) === 0)
    val perRep = reps.groupBy("g", "b")
      .agg(sum("v").as("sv"), count(lit(1)).as("m"))
      .select(col("g"), col("b"), meanCol.as("mb"))
    val nr = col("n_reps").cast("double")
    val folded = perRep.groupBy("g").agg(
        count(lit(1)).as("n_reps"),
        Exact.orderedSum(col("mb"), col("b")).as("s1"),
        Exact.orderedSum(col("mb") * col("mb"), col("b"), col("mb")).as("s2"))
      .select(col("g"), col("n_reps"),
        (col("s1") / nr).as("boot_mean"),
        sqrt((col("s2") - col("s1") * col("s1") / nr) / (nr - lit(1.0)))
          .as("boot_se"))
    full.join(folded, Seq("g"))
  }

  /** ROC AUC of a score column against a boolean label, with exact
    * midrank tie handling (the Mann–Whitney U identity):
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with R⁺ the positive midrank
    * sum. Every term stays INTEGER by carrying 2·R⁺
    * (2·midrank = 2·cum_before + cnt + 1 is always integral), so the
    * whole statistic is exact integers until one final division — the
    * model-eval gate a quality-classifier pipeline needs next to its
    * training ops.
    *
    * Scale shape: one hash aggregate to distinct score values (ties
    * collapse there), one cumulative window over the distinct-value
    * spine (not the raw rows), one 1-row broadcast of totals. */
  def rocAuc(scored: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val f = scored.select(scoreCol.as("s"),
      when(labelCol, 1L).otherwise(0L).as("y"))
    val perV = f.groupBy("s").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val rs2 = Rank.withCumSums(perV, Seq("s"), Seq("cnt" -> "cum_incl"))
      .select((col("pos") * (lit(2L) * (col("cum_incl") - col("cnt"))
        + col("cnt") + lit(1L))).as("rs2"))
      .agg(sum("rs2").as("rs2"))
    val tot = f.agg(sum("y").as("npos"), count(lit(1)).as("n"))
    rs2.crossJoin(broadcast(tot))
      .select(col("npos"), (col("n") - col("npos")).as("nneg"),
        ((col("rs2") - col("npos") * (col("npos") + lit(1L))).cast("double") /
          (lit(2L) * col("npos") * (col("n") - col("npos"))).cast("double"))
          .as("auc"))
  }

  /** Calibration (reliability) curve for a classifier whose score is a
    * ratio of integers (numerator `numCol` / denominator `denCol`, e.g.
    * the hashed classifier's token-sum margin): scores are split into
    * `k` equal-WIDTH bins over the observed [min, max], and each bin
    * reports its row count, positive count, mean score and positive
    * rate — the "is 0.8 confidence right 80% of the time" companion to
    * [[rocAuc]] (Murphy/DeGroot–Fienberg reliability decomposition).
    *
    * Exactness discipline: the bin index is the ONLY place doubles
    * enter — (s−mn)/(mx−mn)·k then floor, an identical IEEE chain on
    * both engines because s, mn, mx are each single divisions of
    * integers. Per-bin means divide integer SUMS once (Σnum/Σden and
    * pos/n), never average pre-divided doubles (whose summation order
    * would be partition-dependent).
    *
    * Scale shape: one hash aggregate for the 1-row min/max (broadcast
    * back), one hash aggregate keyed on the bin (≤ k rows out) — no
    * window, no data-sized partition anywhere. */
  def calibrationCurve(df: DataFrame, numCol: Column, denCol: Column,
                       labelCol: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000,
      s"calibrationCurve: bins must be in [2, 1000], got $k")
    val f = df.select(
      (numCol.cast("double") / denCol.cast("double")).as("s"),
      numCol.cast("long").as("num"), denCol.cast("long").as("den"),
      when(labelCol, 1L).otherwise(0L).as("y"))
    val mm = f.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
    f.crossJoin(broadcast(mm))
      .select(
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("s") - col("mn")) / (col("mx") - col("mn")) * k),
            lit(k - 1L))).cast("long").as("bin"),
        col("num"), col("den"), col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("num")).as("snum"), sum(col("den")).as("sden"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("snum").cast("double") / col("sden").cast("double"))
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"))
  }

  /** Split-conformal prediction interval for a simple regression
    * (Vovk et al.; the distribution-free uncertainty wrapper): fit OLS
    * on the hash-even half, take absolute residuals on the hash-odd
    * calibration half, and return the ⌈coverage·(n_cal+1)⌉-th smallest
    * residual — the half-width q̂ such that prediction ± q̂ covers a
    * fresh point with probability ≥ `coverage`, no distributional
    * assumptions.
    *
    * Exactness: the split is a hash-parity test; slope/intercept follow
    * the x_linreg decimal-moment recipe; residuals are fixed-order
    * double ops; the order statistic is a row_number pick (ties broken
    * by id — the VALUE picked is unaffected). The ranking window is
    * global — the honest 100 TB path reads q̂ off a KLL/DDSketch of the
    * residuals instead of an exact sort; this form is the exact-oracle
    * variant. */
  def conformalInterval(df: DataFrame, idCol: Column, xCol: Column,
                        yCol: Column, coverage: Double = 0.9): DataFrame = {
    require(coverage > 0.0 && coverage < 1.0,
      s"conformalInterval: coverage must be in (0,1), got $coverage")
    def dbl(c: Column) = c.cast("string").cast("double")
    // spread before the per-row md5 split + decimal casts (one-task
    // single-row-group scan otherwise — Skew.spread scaladoc)
    val base = Skew.spread(df.select(idCol.cast("string").as("id"),
      xCol.cast("decimal(18,2)").as("x"), yCol.cast("decimal(18,2)").as("y"),
      (conv(substring(md5(idCol.cast("string")), 1, 13), 16, 10).cast("long")
        % 2 === 0).as("is_fit")))
    val slopeExpr = (dbl(col("n_fit")) * dbl(col("sxy"))
      - dbl(col("sx")) * dbl(col("sy"))) /
      (dbl(col("n_fit")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
    // ONE conditional aggregate computes the fit moments AND the
    // calibration count (round 15): the separate fit/nCal aggregations
    // each scanned base and each cost a broadcast-exchange job; the
    // conditional sums run over exactly the same row sets, so every
    // derived value is bit-identical
    val fit = base
      .agg(count(when(col("is_fit"), lit(1))).as("n_fit"),
        sum(when(col("is_fit"), col("x"))).as("sx"),
        sum(when(col("is_fit"), col("y"))).as("sy"),
        sum(when(col("is_fit"), col("x") * col("y"))).as("sxy"),
        sum(when(col("is_fit"), col("x") * col("x"))).as("sxx"),
        count(when(!col("is_fit"), lit(1))).as("n_cal"))
      .select(col("n_fit"), col("n_cal"), slopeExpr.as("slope"),
        ((dbl(col("sy")) - slopeExpr * dbl(col("sx"))) / dbl(col("n_fit")))
          .as("intercept"))
    val cal = base.where(!col("is_fit"))
    val resid = cal.crossJoin(broadcast(fit))
      .withColumn("r",
        abs(dbl(col("y")) - (col("intercept") + col("slope") * dbl(col("x")))))
    Rank.withRowNumber(resid, Seq("r", "id"), "rk")
      .withColumn("k",
        ceil(lit(coverage) * (col("n_cal") + lit(1L)).cast("double")))
      .where(col("rk") === col("k"))
      .select(col("n_fit"), col("n_cal"), col("k"), col("slope"),
        col("intercept"), col("r").as("qhat"))
  }

  /** Kaplan–Meier survival curve over integer durations with right
    * censoring: S(t) = Π over event times t_i ≤ t of (1 − d_i/n_i),
    * d_i = events at t_i, n_i = subjects still at risk — the standard
    * retention / time-to-event estimator (censored subjects leave the
    * risk set without registering an event). Returns one row per event
    * time: (t_dur, n_risk, d_events, surv); the duration unit is
    * whatever `durCol` is expressed in.
    *
    * Exactness: risk sets are integer cumulative windows over the
    * DISTINCT duration spine; each factor is one division; the running
    * product is an index-sliced left fold over the ordered factor array
    * (the x_embed_centroids index pattern) — never pow/exp(sum(ln)).
    * The spine is small by construction (distinct durations), so the
    * collect-to-array is bounded; at 100 TB durations bucket to
    * days/weeks first, which this form already assumes. */
  def kaplanMeier(df: DataFrame, durCol: Column,
                  observedCol: Column): DataFrame = {
    val f = df.select(durCol.cast("long").as("t"),
      when(observedCol, 1L).otherwise(0L).as("obs"))
    val perT = f.groupBy("t").agg(count(lit(1)).as("n_all"), sum("obs").as("d"))
    val tot = f.agg(count(lit(1)).as("n_total"))
    val ev = Rank.withCumSums(perT, Seq("t"), Seq("n_all" -> "cum_b"),
        inclusive = false)
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_total") - col("cum_b"))
      .where(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d"),
        (lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
          .as("factor"))
    val spine = ev.agg(sort_array(collect_list(
      struct(col("t"), col("n_risk"), col("d"), col("factor")))).as("xs"))
    spine.select(col("xs"), posexplode(col("xs")))
      .select(col("col.t").as("t_dur"), col("col.n_risk").as("n_risk"),
        col("col.d").as("d_events"),
        aggregate(
          transform(slice(col("xs"), lit(1), col("pos") + lit(1)),
            x => x.getField("factor")),
          lit(1.0), (a, x) => a * x).as("surv"))
  }

  /** Aalen–Johansen cumulative incidence under two competing risks:
    * the [[kaplanMeier]] generalization when units can exit via either
    * of two mutually-exclusive event types (first purchase vs first
    * error, churn vs conversion). Naive per-cause 1−KM overstates both
    * curves; the CIF weights each cause's hazard by the overall
    * survival: CIFₖ(tᵢ) = Σ_{l≤i} S(t_{l−1})·d_{k,l}/n_l.
    *
    * Shape: distinct-time spine + [[Rank.withCumSums]] risk sets (the
    * KM device, one extra event-type split), then ONE sequential fold
    * over the ≤ |distinct times| spine carrying (S, CIF₁, CIF₂) —
    * pure fixed-order +,×,÷ doubles, recursive-CTE replayable.
    *
    * @param type1Col unit exited via cause 1 (exclusive with type2)
    * @param type2Col unit exited via cause 2; neither ⇒ censored */
  def competingRisks(df: DataFrame, durCol: Column, type1Col: Column,
                     type2Col: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val f = df.select(durCol.cast("long").as("t"),
      when(type1Col, 1L).otherwise(0L).as("e1"),
      when(type2Col, 1L).otherwise(0L).as("e2"))
    val perT = f.groupBy("t").agg(count(lit(1)).as("n_all"),
      sum("e1").as("d1"), sum("e2").as("d2"))
    val tot = f.agg(count(lit(1)).as("n_total"))
    val ev = Rank.withCumSums(perT, Seq("t"), Seq("n_all" -> "cum_b"),
        inclusive = false)
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_total") - col("cum_b"))
      .where(col("d1") + col("d2") > 0)
    val sorted = sort_array(collect_list(struct(col("t"), col("n_risk"),
      col("d1"), col("d2"))))
    val packed = ev.groupBy().agg(
      transform(sorted, x => x.getField("t")).as("ts"),
      transform(sorted, x => x.getField("n_risk")).as("ns"),
      transform(sorted, x => x.getField("d1")).as("d1s"),
      transform(sorted, x => x.getField("d2")).as("d2s"))
    val st0 = struct(lit(1.0).as("s"),
      lit(0.0).as("v1"), lit(0.0).as("v2"),
      expr("cast(array() as array<double>)").as("c1"),
      expr("cast(array() as array<double>)").as("c2"),
      expr("cast(array() as array<double>)").as("ss"))
    val dp = aggregate(
      Temporal.idx1(size(col("ts"))),
      st0,
      (st, tc) => {
        val i = tc.cast("int")
        val n = element_at(col("ns"), i)
        val d1 = element_at(col("d1s"), i)
        val d2 = element_at(col("d2s"), i)
        val c1n = st.getField("v1") + st.getField("s") * (dbl(d1) / dbl(n))
        val c2n = st.getField("v2") + st.getField("s") * (dbl(d2) / dbl(n))
        val sn = st.getField("s") * (lit(1.0) - dbl(d1 + d2) / dbl(n))
        struct(sn.as("s"), c1n.as("v1"), c2n.as("v2"),
          concat(st.getField("c1"), array(c1n)).as("c1"),
          concat(st.getField("c2"), array(c2n)).as("c2"),
          concat(st.getField("ss"), array(sn)).as("ss"))
      })
    packed.select(col("ts"), col("ns"), col("d1s"), col("d2s"),
        dp.getField("c1").as("c1"), dp.getField("c2").as("c2"),
        dp.getField("ss").as("ss"))
      .select(posexplode(col("ts")).as(Seq("i", "t_dur")),
        col("ns"), col("d1s"), col("d2s"), col("c1"), col("c2"), col("ss"))
      .select(col("t_dur"),
        element_at(col("ns"), col("i") + 1).as("n_risk"),
        element_at(col("d1s"), col("i") + 1).as("d_cause1"),
        element_at(col("d2s"), col("i") + 1).as("d_cause2"),
        element_at(col("c1"), col("i") + 1).as("cif_cause1"),
        element_at(col("c2"), col("i") + 1).as("cif_cause2"),
        element_at(col("ss"), col("i") + 1).as("surv_all"))
  }

  /** Two-proportion A/B test readout: deterministic hash-half variant
    * assignment upstream, pooled two-proportion z statistic here —
    * the experimentation primitive every event warehouse serves.
    * One conditional aggregate row; every derived number is a fixed
    * sequence of single divisions/products over exact integers, ending
    * in one sqrt. */
  def abTest(units: DataFrame, variantACol: Column,
             convertedCol: Column): DataFrame = {
    val f = units.select(when(variantACol, 1L).otherwise(0L).as("va"),
      when(convertedCol, 1L).otherwise(0L).as("conv"))
    def dbl(c: Column) = c.cast("double")
    f.agg(sum("va").as("n_a"),
        sum(lit(1L) - col("va")).as("n_b"),
        sum(col("va") * col("conv")).as("conv_a"),
        sum((lit(1L) - col("va")) * col("conv")).as("conv_b"))
      .withColumn("p_a", dbl(col("conv_a")) / dbl(col("n_a")))
      .withColumn("p_b", dbl(col("conv_b")) / dbl(col("n_b")))
      .withColumn("p_pool",
        dbl(col("conv_a") + col("conv_b")) / dbl(col("n_a") + col("n_b")))
      .withColumn("z",
        (col("p_a") - col("p_b")) /
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / dbl(col("n_a")) + lit(1.0) / dbl(col("n_b")))))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust the
    * experiment metric by the pre-exposure covariate,
    * Y′ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) estimated pooled, and
    * report the adjusted per-variant means plus the variance-reduction
    * factor var(Y′)/var(Y) = 1 − θ²·var(X)/var(Y) (the algebraic
    * identity — no per-unit adjusted values are materialized, so no
    * unordered double sums exist anywhere).
    *
    * Exactness: all moments are decimal sums over (va-conditional)
    * exact inputs; θ is the x_linreg slope formula; adjusted means and
    * the reduction factor are fixed sequences of string-mediated-cast
    * divisions. One conditional-aggregate row. */
  def cupedAdjust(units: DataFrame, variantACol: Column,
                  preCol: Column, postCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val f = units.select(when(variantACol, 1L).otherwise(0L).as("va"),
      preCol.cast("decimal(18,2)").as("x"), postCol.cast("decimal(18,2)").as("y"))
    val m = f.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum("va").as("n_a"),
      sum(when(col("va") === 1L, col("x"))).as("sx_a"),
      sum(when(col("va") === 1L, col("y"))).as("sy_a"),
      sum(when(col("va") === 0L, col("x"))).as("sx_b"),
      sum(when(col("va") === 0L, col("y"))).as("sy_b"))
    val theta = (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
      (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
    val varX = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n"))) /
      (dbl(col("n")) - lit(1.0))
    val varY = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / dbl(col("n"))) /
      (dbl(col("n")) - lit(1.0))
    m.withColumn("theta", theta)
      .withColumn("mean_adj_a",
        dbl(col("sy_a")) / dbl(col("n_a")) - col("theta") *
          (dbl(col("sx_a")) / dbl(col("n_a")) - dbl(col("sx")) / dbl(col("n"))))
      .withColumn("mean_adj_b",
        dbl(col("sy_b")) / dbl(col("n") - col("n_a")) - col("theta") *
          (dbl(col("sx_b")) / dbl(col("n") - col("n_a"))
            - dbl(col("sx")) / dbl(col("n"))))
      .select(col("n"), col("n_a"), col("theta"),
        col("mean_adj_a"), col("mean_adj_b"),
        (col("mean_adj_a") - col("mean_adj_b")).as("diff_adj"),
        (lit(100.0) * (col("theta") * col("theta") * varX) / varY)
          .as("var_reduction_pct"))
  }

  /** Per-group trimmed mean: drop the lowest and highest ⌊f·n⌋ values,
    * average the rest — the robust location metric dashboards want when
    * a handful of outliers poison the plain mean. Rank cut-points are
    * integers; ties at the boundary are value-equal, so WHICH tied row
    * is cut cannot change the kept sum (the sum is order-invariant by
    * construction). One group-keyed shuffle: two windows (rank, count)
    * + one decimal aggregate. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: Column,
                  trimFrac: Double = 0.1): DataFrame = {
    require(trimFrac >= 0.0 && trimFrac < 0.5,
      s"trimmedMean: trimFrac must be in [0, 0.5), got $trimFrac")
    val base = df.select(col(groupCol).as("g"),
      valueCol.cast("decimal(18,2)").as("v"))
    val w = Window.partitionBy("g")
    val ranked = base
      .withColumn("rk", row_number().over(w.orderBy("v")))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("k", floor(lit(trimFrac) * col("n").cast("double"))
        .cast("long"))
    ranked.where(col("rk") > col("k") && col("rk") <= col("n") - col("k"))
      .groupBy("g")
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_kept"),
        sum("v").as("sv"))
      .select(col("g"), col("n"), col("n_kept"),
        (col("sv").cast("string").cast("double") /
          col("n_kept").cast("double")).as("trimmed_mean"))
  }

  /** Quantile normalization: re-express every group's values on the
    * POOLED distribution (the batch-effect removal standard in
    * bioinformatics, and the cross-source score harmonizer in data
    * pipelines) — each group's rank-r value maps to the pooled value at
    * the proportional rank, linearly interpolated. Returns a per-group
    * decile summary of the NORMALIZED values (count/lo/hi per decile —
    * min/max are order-invariant, so nothing unordered is summed);
    * after normalization the groups' deciles coincide by construction,
    * which makes the output self-evidencing.
    *
    * Scale shape: one rank window per group + one over the pooled
    * spine, then an integer-division join of proportional positions
    * against the pooled ranks (two joins instead of any per-row search).
    * The lerp is the lower·(1−f)+upper·f form both engines agree on. */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
      valueCol.cast("decimal(18,2)").as("v"))
    // per-group rank: tie order within equal values is arbitrary, but
    // the RANK MULTISET 1..ng is fixed, so the multiset of normalized
    // values — and every aggregate below — is deterministic
    val wg = Window.partitionBy("g").orderBy("v")
    val ranked = base.select(col("g"), col("v"),
      row_number().over(wg).as("r"),
      count(lit(1)).over(Window.partitionBy("g")).as("ng"))
    // pooled rank: distinct-value spine + distributed cum-before, then
    // each value's tied rows expand to their consecutive rank positions
    // (sequence over the tie count) — the row_number multiset without
    // ranking raw rows through one task
    val pooled = Rank.withCumSums(
        df.select(valueCol.cast("decimal(18,2)").as("pv"))
          .groupBy("pv").agg(count(lit(1)).as("tc")),
        Seq("pv"), Seq("tc" -> "cum_b"), inclusive = false)
      .select(col("pv"), col("cum_b"),
        explode(sequence(lit(1L), col("tc"))).as("off"))
      .select(col("pv"), (col("cum_b") + col("off")).as("pr"))
    val nPool = pooled.agg(count(lit(1)).as("np"))
    def dbl(c: Column) = c.cast("string").cast("double")
    val pos = ranked.crossJoin(broadcast(nPool))
      // p in [1, np]: 1 + (r-1)(np-1)/(ng-1); single-row groups pin to 1
      .withColumn("p", when(col("ng") === 1L, lit(1.0))
        .otherwise(lit(1.0) +
          ((col("r") - lit(1L)) * (col("np") - lit(1L))).cast("double") /
            (col("ng") - lit(1L)).cast("double")))
      .withColumn("p_lo", floor(col("p")).cast("long"))
      .withColumn("p_hi", least(col("p_lo") + lit(1L), col("np")))
      .withColumn("frac", col("p") - col("p_lo").cast("double"))
    val qn = pos
      .join(pooled.select(col("pr").as("p_lo"), col("pv").as("v_lo")),
        Seq("p_lo"))
      .join(pooled.select(col("pr").as("p_hi"), col("pv").as("v_hi")),
        Seq("p_hi"))
      .withColumn("qn",
        dbl(col("v_lo")) * (lit(1.0) - col("frac")) +
          dbl(col("v_hi")) * col("frac"))
    qn.withColumn("decile",
        ntile(10).over(Window.partitionBy("g").orderBy(col("qn"), col("r"))))
      .groupBy("g", "decile")
      .agg(count(lit(1)).as("n"), min("qn").as("lo"), max("qn").as("hi"))
  }

  /** Theil–Sen robust slope over hash-bucketed pair sampling: the
    * median of pairwise slopes resists outliers OLS chases, but the
    * full pair set is O(n²) — so pairs form only WITHIN md5 buckets of
    * expected size ~`bucketSize` (a deterministic O(n·bucketSize)
    * subsample of the slope distribution; the estimator is still a
    * median over Θ(n) slopes). Returns the lower/upper median slopes
    * and their lerp (the rolling-median convention), plus the pair
    * count.
    *
    * Everything replays: bucket assignment is md5 mod a count-derived
    * bucket total, slopes are single divisions of string-cast decimals,
    * and the median is a row_number order-statistic pick with a full
    * tiebreak. `keepEvery` > 1 thins the sample further by keeping one
    * bucket in `keepEvery` (still hash-deterministic) — the order
    * statistic is a GLOBAL sort, so the slope sample, not the input,
    * is what must stay bounded. */
  def theilSenSlope(df: DataFrame, idCol: Column, xCol: Column,
                    yCol: Column, bucketSize: Int = 16,
                    keepEvery: Int = 1): DataFrame = {
    require(bucketSize >= 2, s"theilSenSlope: bucketSize >= 2 required")
    require(keepEvery >= 1, s"theilSenSlope: keepEvery >= 1 required")
    def dbl(c: Column) = c.cast("string").cast("double")
    // NOT spread (round 15, measured): the per-row md5 here is cheap
    // relative to the bucket self-join + global slope rank that follow
    // their own exchanges — adding the rescue shuffle cost 3 jobs and
    // lost ~0.5 s at matched latency, so the scan stays as-is
    val base = df.select(idCol.cast("string").as("id"),
      xCol.cast("decimal(18,2)").as("x"), yCol.cast("decimal(18,2)").as("y"))
    val n = base.agg(count(lit(1)).as("n_rows"))
    val bucketed = base.crossJoin(broadcast(n))
      .withColumn("nb", greatest(expr(s"n_rows div $bucketSize"), lit(1L)))
      .withColumn("b",
        conv(substring(md5(col("id")), 1, 13), 16, 10).cast("long") % col("nb"))
      .where(col("b") % lit(keepEvery.toLong) === 0L)
    val pairs = bucketed.as("a")
      .join(bucketed.as("c"), Seq("b"))
      .where(col("a.id") < col("c.id") && col("a.x") =!= col("c.x"))
      .select(col("a.id").as("id1"), col("c.id").as("id2"),
        ((dbl(col("c.y")) - dbl(col("a.y"))) /
          (dbl(col("c.x")) - dbl(col("a.x")))).as("slope"))
    val m = pairs.agg(count(lit(1)).as("m"))
    Rank.withRowNumber(pairs.crossJoin(broadcast(m)),
        Seq("slope", "id1", "id2"), "rk")
      .where(col("rk") === expr("(m + 1) div 2")
        || col("rk") === expr("(m + 2) div 2"))
      .groupBy("m")
      .agg(min("slope").as("slope_lo"), max("slope").as("slope_hi"))
      .select(col("m").as("n_pairs"), col("slope_lo"), col("slope_hi"),
        (col("slope_lo") * lit(0.5) + col("slope_hi") * lit(0.5))
          .as("slope_ts"))
  }

  /** Concentration indices over per-key value mass: the Gini
    * coefficient G = (2·Σᵢ i·sᵢ − (n+1)·Σ sᵢ) / (n·Σ sᵢ) over the
    * value-sorted keys, the Herfindahl index H = Σ sᵢ² / (Σ sᵢ)², and
    * the top-share — the standard "is our revenue / corpus / traffic
    * dangerously concentrated" audit.
    *
    * Exactness: every sum is decimal over exact cents (i·sᵢ is
    * long×decimal — still decimal), so all three statistics are exact
    * integers/decimals until ONE string-mediated division each. One
    * group aggregate + one global rank window over the KEYS (not raw
    * rows); at 100 TB the key spine is what must fit a sort, which is
    * exactly the regime where concentration is worth asking about. */
  def concentration(df: DataFrame, keyCol: Column,
                    valueCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val per = df.groupBy(keyCol.as("k"))
      .agg(sum(valueCol.cast("decimal(18,2)")).as("s0"))
      .select(col("k"), col("s0").cast("decimal(18,2)").as("s"))
    val ranked = Rank.withRowNumber(per, Seq("s", "k"), "i")
    ranked.agg(count(lit(1)).as("n"), sum("s").as("ts"),
        sum(col("i") * col("s")).as("is_sum"),
        sum(col("s") * col("s")).as("sq"), max("s").as("smax"))
      .select(col("n"),
        ((lit(2.0) * dbl(col("is_sum")) -
          (col("n") + lit(1L)).cast("double") * dbl(col("ts"))) /
          (col("n").cast("double") * dbl(col("ts")))).as("gini"),
        (dbl(col("sq")) / (dbl(col("ts")) * dbl(col("ts")))).as("hhi"),
        (dbl(col("smax")) / dbl(col("ts"))).as("top_share"))
  }

  /** Exact permutation test for a two-group rate difference: re-split
    * the units `b` times by bits 1..b of their single 52-bit md5 prefix
    * (bit 0 is the OBSERVED assignment, so every permutation is
    * independent of it and of each other), and report
    * p = (1 + #{|d_perm| ≥ |d_obs|}) / (b + 1) — the distribution-free
    * significance readout that backs [[abTest]] without a normality
    * assumption.
    *
    * The p-value is a ratio of exact integers; each permuted difference
    * is two single divisions and one subtraction, and the ≥ compare is
    * on bit-identical doubles — so the whole test replays. Scale shape:
    * the b-way fanout is a generator over a 2-column projection with
    * codegen bit tests, collapsed map-side by the (replicate) hash
    * aggregate. */
  def permutationTest(units: DataFrame, idCol: Column,
                      convertedCol: Column, b: Int = 32): DataFrame = {
    require(b >= 2 && b <= 51,
      s"permutationTest: permutations must be in [2, 51] (hash bits), got $b")
    def dbl(c: Column) = c.cast("double")
    val hx = conv(substring(md5(idCol.cast("string")), 1, 13), 16, 10)
      .cast("long")
    val f = units.select(
      when(hx.bitwiseAND(lit(1L)) === 0L, 1L).otherwise(0L).as("va"),
      when(convertedCol, 1L).otherwise(0L).as("conv"), hx.as("hx"))
    val dObs = f.agg(count(lit(1)).as("n"),
        sum("conv").as("conv_total"), sum("va").as("n_a"),
        sum(col("va") * col("conv")).as("c_a"))
      .select(col("n"), col("conv_total"),
        abs(dbl(col("c_a")) / dbl(col("n_a")) -
          dbl(col("conv_total") - col("c_a")) / dbl(col("n") - col("n_a")))
          .as("d_obs"))
    val perms = f
      .select(col("hx"), col("conv"),
        explode(sequence(lit(1), lit(b))).as("p"))
      .withColumn("ga",
        when(col("hx").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), p)"))
          === 0, 1L).otherwise(0L))
      .groupBy("p").agg(count(lit(1)).as("np"), sum("ga").as("na"),
        sum(col("ga") * col("conv")).as("ca"),
        sum(col("conv")).as("ct"))
      .select(col("p"),
        abs(dbl(col("ca")) / dbl(col("na")) -
          dbl(col("ct") - col("ca")) / dbl(col("np") - col("na")))
          .as("d_perm"))
    perms.crossJoin(broadcast(dObs))
      .agg(max("n").as("n"), max("conv_total").as("conv_total"),
        max("d_obs").as("d_obs"), count(lit(1)).as("n_perm"),
        sum(when(col("d_perm") >= col("d_obs"), 1L).otherwise(0L))
          .as("n_ge"))
      .select(col("n"), col("conv_total"), col("d_obs"), col("n_perm"),
        col("n_ge"),
        ((col("n_ge") + lit(1L)).cast("double") /
          (col("n_perm") + lit(1L)).cast("double")).as("p_value"))
  }

  /** Maximum drawdown of an ordered series (peak-to-trough loss): the
    * largest drop from a running peak, absolute (exact decimal) and
    * relative (per-row single division, max of bit-identical doubles).
    * The risk metric for any cumulative KPI — revenue run-rate, model
    * quality over releases, cache hit rate. One ordered window over the
    * step-aggregated series. */
  def maxDrawdown(df: DataFrame, orderExpr: Column,
                  valueExpr: Column): DataFrame = {
    val series = df.groupBy(orderExpr.as("step"))
      .agg(sum(valueExpr.cast("decimal(18,2)")).as("v0"))
      .select(col("step"), col("v0").cast("decimal(18,2)").as("v"))
    val w = BoundedWindow.orderBy("step")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.select(col("v"), max(col("v")).over(w).as("peak"))
      .select(col("v"), col("peak"), (col("peak") - col("v")).as("dd"),
        ((col("peak") - col("v")).cast("string").cast("double") /
          col("peak").cast("string").cast("double")).as("dd_pct"))
      .agg(count(lit(1)).as("n_steps"),
        max(col("dd")).cast("string").cast("double").as("max_dd"),
        max(col("dd_pct")).as("max_dd_pct"))
  }

  /** One-way ANOVA F statistic: does the metric's mean differ across
    * groups more than within-group noise explains?
    * F = (SSB/(k−1)) / (SSW/(n−k)), with SSB/SSW derived from
    * per-group decimal sums via the computational identity
    * SS = Σx² − (Σx)²/n — every sum-of-squares is a fixed sequence of
    * string-mediated-cast double ops over exact decimal aggregates, so
    * the statistic replays exactly. One hash aggregate to the group
    * spine + one 1-row reduce; the classic "do these segments really
    * differ" readout over any per-group metric. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val per = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("ng"),
        sum(valueCol.cast("decimal(18,2)")).as("sg"),
        sum(valueCol.cast("decimal(18,2)") * valueCol.cast("decimal(18,2)"))
          .as("qg"))
    // per-group (Σx)²/n in double (one product + one division each),
    // summed in GROUP-KEY order via an ordered fold — k is small but the
    // discipline holds regardless
    val folded = per.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").as("s_all"), sum("qg").as("q_all"),
        Exact.orderedSum((dbl(col("sg")) * dbl(col("sg"))) / dbl(col("ng")),
          col("g")).as("t_sum"))
    folded.select(col("k"), col("n"),
        (col("t_sum") - (dbl(col("s_all")) * dbl(col("s_all"))) /
          dbl(col("n"))).as("ssb"),
        (dbl(col("q_all")) - col("t_sum")).as("ssw"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        ((col("ssb") / (col("k") - lit(1L)).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Welch's unequal-variance t-test between the rows matching `inA`
    * and those matching `inB`, plus Cohen's d effect size — the
    * two-sample companion of [[anovaF]] (and the mean-difference twin
    * of the proportion test in [[abTest]]).
    *
    * t = (m̄A − m̄B) / √(vA/nA + vB/nB), with Welch–Satterthwaite
    * degrees of freedom and d = (m̄A − m̄B)/s_pooled. Means and
    * variances come from per-side decimal Σx / Σx² (the SS identity),
    * so everything after the aggregate is a fixed sequence of
    * string-mediated-cast double ops plus two correctly-rounded
    * `sqrt`s — bit-replayable. ONE conditional hash aggregate over the
    * data (no shuffle beyond the 1-row reduce). */
  def welchT(df: DataFrame, inA: Column, inB: Column,
             valueCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val dec = valueCol.cast("decimal(18,2)")
    val agg1 = df.agg(
      count(when(inA, 1)).as("na"), count(when(inB, 1)).as("nb"),
      sum(when(inA, dec)).as("sa"), sum(when(inB, dec)).as("sb"),
      sum(when(inA, dec * dec)).as("qa"), sum(when(inB, dec * dec)).as("qb"))
    val m = agg1.select(col("na"), col("nb"),
      (dbl(col("sa")) / dbl(col("na"))).as("mean_a"),
      (dbl(col("sb")) / dbl(col("nb"))).as("mean_b"),
      ((dbl(col("qa")) - (dbl(col("sa")) * dbl(col("sa"))) / dbl(col("na"))) /
        (col("na") - lit(1L)).cast("double")).as("va"),
      ((dbl(col("qb")) - (dbl(col("sb")) * dbl(col("sb"))) / dbl(col("nb"))) /
        (col("nb") - lit(1L)).cast("double")).as("vb"))
    m.select(col("na"), col("nb"), col("mean_a"), col("mean_b"),
        (col("va") / dbl(col("na"))).as("ua"),
        (col("vb") / dbl(col("nb"))).as("ub"),
        col("va"), col("vb"))
      .select(col("na"), col("nb"), col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) / sqrt(col("ua") + col("ub")))
          .as("t_stat"),
        (((col("ua") + col("ub")) * (col("ua") + col("ub"))) /
          ((col("ua") * col("ua")) / (col("na") - lit(1L)).cast("double") +
           (col("ub") * col("ub")) / (col("nb") - lit(1L)).cast("double")))
          .as("df_welch"),
        ((col("mean_a") - col("mean_b")) /
          sqrt(((col("na") - lit(1L)).cast("double") * col("va") +
                (col("nb") - lit(1L)).cast("double") * col("vb")) /
               (col("na") + col("nb") - lit(2L)).cast("double")))
          .as("cohens_d"))
  }

  /** Pearson chi-square test of independence over the `rowCol` ×
    * `colCol` contingency table, with Cramér's V effect size — "are
    * these two categorical columns associated, and how strongly"
    * (V ∈ [0,1] is comparable across table shapes, unlike raw χ²).
    *
    * χ² = Σ (o − e)²/e with e = rowTot·colTot/n, summed over the FULL
    * R×C cross — a structurally-zero cell still contributes
    * (0 − e)²/e = e, so the spine is the cross join of the two marginal
    * spines with observed counts left-joined in (the observed-cells-only
    * shortcut understates χ² whenever any combination is absent). Cell
    * counts and marginals are exact integers; each cell term is a fixed
    * double sequence over exact operands, and the total is a fold in
    * (r,c) cell order. V = √(χ²/(n·(min(R,C)−1))).
    * One hash aggregate to the cell spine (tiny), then 1-row. */
  def cramersV(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val cells = df.groupBy(rowCol.cast("string").as("r"),
      colCol.cast("string").as("c")).agg(count(lit(1)).as("o"))
    val rmarg = cells.groupBy("r").agg(sum("o").as("rt"))
    val cmarg = cells.groupBy("c").agg(sum("o").as("ct"))
    val tot = cells.agg(sum("o").as("n"))
    val full = rmarg.crossJoin(cmarg).crossJoin(broadcast(tot))
      .join(cells, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val term = full.select(col("r"), col("c"), col("o"), col("n"),
      ((dbl(col("rt")) * dbl(col("ct"))) / dbl(col("n"))).as("e"))
      .select(col("r"), col("c"), col("n"),
        ((dbl(col("o")) - col("e")) * (dbl(col("o")) - col("e")) / col("e"))
          .as("term"))
    term.agg(max("n").as("n"),
        countDistinct("r").as("rk"), countDistinct("c").as("ck"),
        Exact.orderedSum(col("term"), col("r"), col("c")).as("chi2"))
      .select(col("n"), col("rk"), col("ck"), col("chi2"),
        sqrt(col("chi2") / (dbl(col("n")) *
          dbl(least(col("rk"), col("ck")) - lit(1L)))).as("cramers_v"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between the rows matching
    * `inA` and those matching `inB` — the nonparametric twin of
    * [[welchT]]: does one side stochastically dominate, regardless of
    * distribution shape.
    *
    * Midranks come from the distinct-value spine (the [[rocAuc]]
    * device: 2·midrank = 2·cum_before + cnt + 1 is always integral), so
    * U is exact integer arithmetic until one halving; the tie-corrected
    * normal z uses Σ(t³−t) accumulated in decimal (t³ overflows int64
    * once a single value repeats ~2M times). Doubles enter only through
    * correctly-rounded casts/divisions and one `sqrt`.
    *
    * Scale shape: one hash aggregate to distinct values, one cumulative
    * window over the value spine (global — at 100 TB run it on a binned
    * or discretized value like [[ksTwoSample]]), one 1-row reduce. */
  def mannWhitneyU(df: DataFrame, inA: Column, inB: Column,
                   valueCol: String): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val f = df.filter(inA || inB).select(col(valueCol).as("v"),
      when(inA, 1L).otherwise(0L).as("ya"))
    val perV = f.groupBy("v").agg(count(lit(1)).as("cnt"), sum("ya").as("ca"))
    val c12 = col("cnt").cast("decimal(12,0)")
    val folded = Rank.withCumSums(perV, Seq("v"), Seq("cnt" -> "cum_incl"))
      .select((col("ca") * (lit(2L) * (col("cum_incl") - col("cnt"))
          + col("cnt") + lit(1L))).as("r2a"),
        (c12 * c12 * c12 - c12).as("tt"))
      .agg(sum("r2a").as("r2a"), sum("tt").as("sum_t"))
    val tot = f.agg(sum("ya").as("na"), (count(lit(1)) - sum("ya")).as("nb"))
    folded.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        ((col("r2a") - col("na") * (col("na") + lit(1L))).cast("double") /
          lit(2.0)).as("u_stat"),
        (dbl(col("na")) * dbl(col("nb")) / lit(2.0)).as("mu"),
        ((dbl(col("na")) * dbl(col("nb")) / lit(12.0)) *
          ((dbl(col("na") + col("nb")) + lit(1.0)) -
            col("sum_t").cast("string").cast("double") /
              (dbl(col("na") + col("nb")) *
                (dbl(col("na") + col("nb")) - lit(1.0))))).as("sig2"))
      .select(col("na"), col("nb"), col("u_stat"),
        ((col("u_stat") - col("mu")) / sqrt(col("sig2"))).as("z_stat"))
  }

  /** Brunner–Munzel test: the heteroscedasticity-robust generalization
    * of [[mannWhitneyU]] (the "generalized Wilcoxon" — valid when the
    * two groups have different variances/shapes, the realistic corpus
    * case). Statistic per Brunner & Munzel (2000): the placement-based
    * relative effect p̂ = (R̄₂ − (n₂+1)/2)/n₁ with the Satterthwaite-
    * style studentization from within-group placement variances.
    *
    * Exactness: combined AND within-group midranks both come off ONE
    * distinct-value spine (2·midrank integral, the [[mannWhitneyU]]
    * device, extended with a second cumulative sum for the group-A
    * prefix). The variance Σ(R − R⁽ⁱ⁾ − R̄ᵢ + (nᵢ+1)/2)² expands around
    * the integer core u = 2R − 2R⁽ⁱ⁾: Σc·u and Σc·u² accumulate in
    * decimal(38,0) (u is O(n), so u² passes 2⁶³ near ~3×10⁹ rows —
    * never an output column), and the mean shift enters only in the
    * one-row double epilogue, fixed op order on both engines.
    *
    * Scale shape: value-spine aggregate + [[Rank.withCumSums]]
    * (distributed, two sums in one pass) + a 1-row reduce. */
  def brunnerMunzel(df: DataFrame, inA: Column,
                    valueCol: String): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val f = df.select(col(valueCol).as("v"),
      when(inA, 1L).otherwise(0L).as("ya"))
    val perV = f.groupBy("v").agg(count(lit(1)).as("cnt"), sum("ya").as("ca"))
    val sp = Rank
      .withCumSums(perV, Seq("v"), Seq("cnt" -> "cum", "ca" -> "cuma"))
      .withColumn("cb", col("cnt") - col("ca"))
      .withColumn("cumb", col("cum") - col("cuma"))
      // 2·midrank of value v: combined, within-A, within-B (integers)
      .withColumn("mm2",
        lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
      .withColumn("ma2",
        lit(2L) * (col("cuma") - col("ca")) + col("ca") + lit(1L))
      .withColumn("mb2",
        lit(2L) * (col("cumb") - col("cb")) + col("cb") + lit(1L))
    // integer placement cores u = 2R − 2R⁽ⁱ⁾ (≥ 0: the combined prefix
    // dominates the within-group prefix pointwise)
    val sums = sp.agg(
      sum(dec(col("ca")) * col("mm2")).as("sra"),
      sum(dec(col("cb")) * col("mm2")).as("srb"),
      sum(dec(col("ca")) * (col("mm2") - col("ma2"))).as("sua"),
      sum(dec(col("cb")) * (col("mm2") - col("mb2"))).as("sub"),
      sum(dec(col("ca")) * dec(col("mm2") - col("ma2")) *
        (col("mm2") - col("ma2"))).as("squa"),
      sum(dec(col("cb")) * dec(col("mm2") - col("mb2")) *
        (col("mm2") - col("mb2"))).as("squb"))
    val tot = f.agg(sum("ya").as("n1"), (count(lit(1)) - sum("ya")).as("n2"))
    sums.crossJoin(broadcast(tot))
      .withColumn("n1d", dbl(col("n1")))
      .withColumn("n2d", dbl(col("n2")))
      .withColumn("m1d", ddec(col("sra")) / (lit(2.0) * col("n1d")))
      .withColumn("m2d", ddec(col("srb")) / (lit(2.0) * col("n2d")))
      .withColumn("ka", (col("n1d") + lit(1.0)) - lit(2.0) * col("m1d"))
      .withColumn("kb", (col("n2d") + lit(1.0)) - lit(2.0) * col("m2d"))
      .withColumn("v1",
        (ddec(col("squa")) + lit(2.0) * col("ka") * ddec(col("sua")) +
          col("n1d") * col("ka") * col("ka")) /
          (lit(4.0) * (col("n1d") - lit(1.0))))
      .withColumn("v2",
        (ddec(col("squb")) + lit(2.0) * col("kb") * ddec(col("sub")) +
          col("n2d") * col("kb") * col("kb")) /
          (lit(4.0) * (col("n2d") - lit(1.0))))
      .withColumn("vs", col("n1d") * col("v1") + col("n2d") * col("v2"))
      .select(col("n1"), col("n2"),
        ((col("m2d") - (col("n2d") + lit(1.0)) / lit(2.0)) / col("n1d"))
          .as("p_hat"),
        (col("n1d") * col("n2d") * (col("m2d") - col("m1d")) /
          ((col("n1d") + col("n2d")) * sqrt(col("vs")))).as("w_stat"),
        (col("vs") * col("vs") /
          ((col("n1d") * col("v1")) * (col("n1d") * col("v1")) /
            (col("n1d") - lit(1.0)) +
           (col("n2d") * col("v2")) * (col("n2d") * col("v2")) /
            (col("n2d") - lit(1.0)))).as("df_hat"))
  }

  /** Two-sample Anderson–Darling statistic (Scholz & Stephens 1987,
    * right-continuous-ECDF form with ties): the tail-sensitive
    * alternative to [[ksTwoSample]] — KS sees only the max ECDF gap,
    * AD integrates the squared gap with 1/(F(1−F)) weights, so
    * distributional differences in the tails actually register.
    *
    * A²₂N = Σᵢ (1/nᵢ) Σⱼ<L lⱼ·(N·Mᵢⱼ − nᵢ·Bⱼ)² / (N·Bⱼ·(N−Bⱼ))
    * over the distinct-value spine (Bⱼ pooled cumulative, Mᵢⱼ
    * per-sample cumulative, lⱼ ties at j; last value excluded).
    *
    * Exactness: spine counts are exact integers off ONE
    * [[Rank.withCumSums]] pass; the per-spine-row term is a fixed
    * double chain (deterministic on both engines), quantized to 2⁻²⁰
    * fixed point and summed in decimal(38,0) — the x_icc/x_huber
    * device, which is what makes a data-sized Σ of doubles
    * order-free. One-row double epilogue.
    *
    * Scale shape: value-spine aggregate + distributed cumulative
    * ranks + 1-row reduce ([[mannWhitneyU]]'s shape). */
  def andersonDarling2(df: DataFrame, inA: Column,
                       valueCol: String): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val f = df.select(col(valueCol).as("v"),
      when(inA, 1L).otherwise(0L).as("ya"))
    val perV = f.groupBy("v").agg(count(lit(1)).as("cnt"), sum("ya").as("ca"))
    val sp = Rank.withCumSums(perV, Seq("v"),
      Seq("cnt" -> "cum", "ca" -> "cuma"))
    val tot = f.agg(sum("ya").as("n1"), (count(lit(1)) - sum("ya")).as("n2"),
      count(lit(1)).as("nn"))
    val terms = sp.crossJoin(broadcast(tot))
      .filter(col("cum") < col("nn"))
      .withColumn("nd", dbl(col("nn")))
      .withColumn("bd", dbl(col("cum")))
      .withColumn("num1", col("nd") * dbl(col("cuma")) -
        dbl(col("n1")) * col("bd"))
      .withColumn("num2", col("nd") * dbl(col("cum") - col("cuma")) -
        dbl(col("n2")) * col("bd"))
      .withColumn("den", col("nd") * (col("bd") * (col("nd") - col("bd"))))
      .withColumn("t1",
        dbl(col("cnt")) * ((col("num1") * col("num1")) / col("den")))
      .withColumn("t2",
        dbl(col("cnt")) * ((col("num2") * col("num2")) / col("den")))
    terms.agg(max("n1").as("n1"), max("n2").as("n2"),
        count(lit(1)).as("n_terms"),
        sum(dec(floor(col("t1") * q))).as("q1"),
        sum(dec(floor(col("t2") * q))).as("q2"))
      .select(col("n1"), col("n2"), col("n_terms"),
        ((ddec(col("q1")) / q) / dbl(col("n1")) +
          (ddec(col("q2")) / q) / dbl(col("n2"))).as("a2_stat"))
  }

  /** Two-sample Kuiper statistic V = D⁺ + D⁻: the cyclic-alignment
    * cousin of [[ksTwoSample]] — KS's single max-gap is blind to a
    * distribution pair whose ECDFs cross (one gap up, one gap down,
    * both large, max unchanged); Kuiper adds the two one-sided
    * extremes, so shifts in EITHER direction register equally.
    *
    * Exactness: the same cross-multiplied integer trick as KS — D⁺ and
    * D⁻ numerators are integer maxima of (c1·n2 − c2·n1) and its
    * negation over the merged distinct-value spine; only the final
    * statistic divides. Scale shape identical to [[ksTwoSample]]:
    * hash-agg to distinct values + [[Rank.withCumSums]]. */
  def kuiperTwoSample(df: DataFrame, valueCol: String,
                      inA: Column, inB: Column): DataFrame = {
    ecdfGapSpine(df, valueCol, inA, inB)
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max(col("c1") * col("n2") - col("c2") * col("n1")).as("d_plus_num"),
        max(col("c2") * col("n1") - col("c1") * col("n2")).as("d_minus_num"))
      .select(col("n1"), col("n2"), col("d_plus_num"), col("d_minus_num"),
        ((col("d_plus_num") + col("d_minus_num")).cast("double") /
          (col("n1") * col("n2")).cast("double")).as("v_stat"))
  }

  /** Tukey HSD post-hoc: after an ANOVA says "the k group means are
    * not all equal", which PAIRS differ — the studentized-range q for
    * every group pair against the pooled within-group mean square.
    * Input values must be exact integers (cents); k is bounded (a
    * categorical grouping), so the pair set is k²-bounded.
    *
    * Exactness: per-group Σx and Σx² accumulate in decimal(38,0)
    * (order-free, overflow-proof at 100 TB); means and within-group SS
    * are per-group fixed double chains; the k-term SSW total is a
    * group-ordered bounded fold; sqrt is IEEE-correctly-rounded on
    * both engines. Scale shape: ONE hash aggregate over the data, then
    * k-row arithmetic and a k²-row broadcast self-join. */
  def tukeyHsd(df: DataFrame, groupCol: Column, valueCents: Column)
      : DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val f = df.select(groupCol.as("g"), valueCents.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
    val grp = f.groupBy("g").agg(count(lit(1)).as("n_g"),
      sum(dec(col("x"))).as("s_g"), sum(dec(col("x")) * col("x")).as("ss_g"))
    val terms = grp.select(col("g"), col("n_g"),
      (ddec(col("ss_g")) -
        ddec(col("s_g")) * ddec(col("s_g")) / dbl(col("n_g"))).as("ssw_g"),
      (ddec(col("s_g")) / dbl(col("n_g"))).as("mean_g"))
    val msw = terms.agg(sum("n_g").as("n_tot"), count(lit(1)).as("k_grp"),
        Exact.orderedSum(col("ssw_g"), col("g")).as("ssw"))
      .select(col("n_tot"), col("k_grp"),
        (col("ssw") / dbl(col("n_tot") - col("k_grp"))).as("msw"))
    val t1 = terms.select(col("g").as("g1"), col("n_g").as("n1"),
      col("mean_g").as("mean1"))
    val t2 = terms.select(col("g").as("g2"), col("n_g").as("n2"),
      col("mean_g").as("mean2"))
    t1.join(t2, col("g1") < col("g2"))
      .crossJoin(broadcast(msw))
      .withColumn("se", sqrt(col("msw") / lit(2.0) *
        (lit(1.0) / dbl(col("n1")) + lit(1.0) / dbl(col("n2")))))
      .select(col("g1"), col("g2"), col("n1"), col("n2"), col("msw"),
        (col("mean1") - col("mean2")).as("mean_diff"), col("se"),
        (abs(col("mean1") - col("mean2")) / col("se")).as("q_stat"))
  }

  /** Cronbach's alpha internal-consistency coefficient over k bounded
    * integer item scores: α = k/(k−1) · (1 − Σᵢ Var(itemᵢ) /
    * Var(total)). The reliability readout for any battery of derived
    * per-row metrics — here the "do these k quality signals measure
    * one construct" check a feature pipeline wants before averaging
    * signals into a single score.
    *
    * Exactness: every Σx / Σx² accumulates in decimal(38,0) off ONE
    * hash-free global aggregate; population variances are per-item
    * fixed double chains; the k-term variance sum is written in item
    * order (k is a code constant). */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val k = items.size
    val named = items.zipWithIndex.map { case (c, i) =>
      c.cast("long").as(s"i$i")
    }
    val withTot = df.select(named: _*)
      .withColumn("t", (0 until k).map(i => col(s"i$i")).reduce(_ + _))
    val aggs = (0 until k).flatMap { i =>
      Seq(sum(dec(col(s"i$i"))).as(s"s$i"),
        sum(dec(col(s"i$i")) * col(s"i$i")).as(s"ss$i"))
    } ++ Seq(sum(dec(col("t"))).as("st"),
      sum(dec(col("t")) * col("t")).as("sst"))
    val a = withTot.agg(count(lit(1)).as("n"), aggs: _*)
    def popVar(s: Column, ss: Column) =
      ddec(ss) / dbl(col("n")) -
        (ddec(s) / dbl(col("n"))) * (ddec(s) / dbl(col("n")))
    val sumVi = (0 until k).map(i => popVar(col(s"s$i"), col(s"ss$i")))
      .reduce(_ + _)
    a.select(col("n"), lit(k.toLong).as("k_items"),
        sumVi.as("sum_item_var"),
        popVar(col("st"), col("sst")).as("var_total"))
      .withColumn("alpha", lit(k.toDouble / (k - 1.0)) *
        (lit(1.0) - col("sum_item_var") / col("var_total")))
  }

  /** Logistic regression (intercept + one feature) by IRLS/Newton from
    * the β = 0 seed, `rounds` full Newton steps. The classifier-
    * training primitive a 100 TB pipeline fits distributed: each round
    * is ONE data pass producing five sufficient statistics (gradient
    * and Hessian entries), then a 2×2 solve on one row.
    *
    * Exactness: μ = 1/(1+exp(−η)) uses [[Pmath.expColumn]] (portable,
    * bit-identical across engines; η clamped to ±30 so the exp domain
    * is bounded); every per-row term is quantized to 2⁻²⁰ fixed point
    * and summed in decimal(38,0) — the x_icc/x_huber device that makes
    * a data-sized double sum order-free. Callers pre-scale the feature
    * to O(1) so the quantization grid is fine relative to the values. */
  def logisticIrls(df: DataFrame, xCol: Column, yCol: Column,
                   rounds: Int = 2): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val o = df.select(xCol.cast("double").as("xd"), yCol.cast("double").as("y"))
      .filter(col("xd").isNotNull && col("y").isNotNull)
    var fit = o.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(0.0).as("b0"), lit(0.0).as("b1"))
    (1 to rounds).foreach { _ =>
      val w0 = o.crossJoin(broadcast(fit))
        .withColumn("eta", least(greatest(col("b0") + col("b1") * col("xd"),
          lit(-30.0)), lit(30.0)))
        .withColumn("mu",
          lit(1.0) / (lit(1.0) + Pmath.expColumn(-col("eta"))))
        .withColumn("w", col("mu") * (lit(1.0) - col("mu")))
      val sums = w0.agg(max("n").as("n"), max("b0").as("pb0"),
        max("b1").as("pb1"),
        sum(dec(floor((col("y") - col("mu")) * q))).as("qg0"),
        sum(dec(floor(((col("y") - col("mu")) * col("xd")) * q))).as("qg1"),
        sum(dec(floor(col("w") * q))).as("qh00"),
        sum(dec(floor((col("w") * col("xd")) * q))).as("qh01"),
        sum(dec(floor(((col("w") * col("xd")) * col("xd")) * q))).as("qh11"))
      fit = sums
        .withColumn("g0", ddec(col("qg0")) / q)
        .withColumn("g1", ddec(col("qg1")) / q)
        .withColumn("h00", ddec(col("qh00")) / q)
        .withColumn("h01", ddec(col("qh01")) / q)
        .withColumn("h11", ddec(col("qh11")) / q)
        .withColumn("det",
          col("h00") * col("h11") - col("h01") * col("h01"))
        .select(col("n"),
          (col("pb0") + (col("h11") * col("g0") - col("h01") * col("g1")) /
            col("det")).as("b0"),
          (col("pb1") + (col("h00") * col("g1") - col("h01") * col("g0")) /
            col("det")).as("b1"))
    }
    fit.select(col("n"), col("b0").as("beta0"), col("b1").as("beta1"))
  }

  /** Poisson regression (log link, intercept + one feature) by IRLS
    * from the β = 0 seed — the count-data GLM next to
    * [[logisticIrls]]: same one-pass sufficient statistics (score
    * Σ(y−μ), Σ(y−μ)x; information Σμ, Σμx, Σμx²), same 2×2 Newton
    * solve, with μ = exp(η) through [[Pmath.expColumn]] (η clamped to
    * ±30). Same exactness discipline: 2⁻²⁰-quantized decimal(38,0)
    * sums, so the distributed pass replays bit-identically. */
  def poissonIrls(df: DataFrame, xCol: Column, yCol: Column,
                  rounds: Int = 2): DataFrame = {
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val o = df.select(xCol.cast("double").as("xd"), yCol.cast("double").as("y"))
      .filter(col("xd").isNotNull && col("y").isNotNull)
    var fit = o.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(0.0).as("b0"), lit(0.0).as("b1"))
    (1 to rounds).foreach { _ =>
      val w0 = o.crossJoin(broadcast(fit))
        .withColumn("eta", least(greatest(col("b0") + col("b1") * col("xd"),
          lit(-30.0)), lit(30.0)))
        .withColumn("mu", Pmath.expColumn(col("eta")))
      val sums = w0.agg(max("n").as("n"), max("b0").as("pb0"),
        max("b1").as("pb1"),
        sum(dec(floor((col("y") - col("mu")) * q))).as("qg0"),
        sum(dec(floor(((col("y") - col("mu")) * col("xd")) * q))).as("qg1"),
        sum(dec(floor(col("mu") * q))).as("qh00"),
        sum(dec(floor((col("mu") * col("xd")) * q))).as("qh01"),
        sum(dec(floor(((col("mu") * col("xd")) * col("xd")) * q)))
          .as("qh11"))
      fit = sums
        .withColumn("g0", ddec(col("qg0")) / q)
        .withColumn("g1", ddec(col("qg1")) / q)
        .withColumn("h00", ddec(col("qh00")) / q)
        .withColumn("h01", ddec(col("qh01")) / q)
        .withColumn("h11", ddec(col("qh11")) / q)
        .withColumn("det",
          col("h00") * col("h11") - col("h01") * col("h01"))
        .select(col("n"),
          (col("pb0") + (col("h11") * col("g0") - col("h01") * col("g1")) /
            col("det")).as("b0"),
          (col("pb1") + (col("h00") * col("g1") - col("h01") * col("g0")) /
            col("det")).as("b1"))
    }
    fit.select(col("n"), col("b0").as("beta0"), col("b1").as("beta1"))
  }

  /** Cox proportional-hazards fit (one covariate, Breslow ties) by
    * `rounds` Newton steps from β = 0 — the survival-regression
    * companion to [[kaplanMeier]]/the log-rank test: how much does the
    * covariate scale the hazard, not just "do the arms differ".
    *
    * Inputs: integer day-binned duration (the CALENDAR-BOUNDED spine
    * the survival family already rides), 0/1 event indicator, and an
    * INTEGER covariate that is pre-scaled by 2⁻⁷ (an exact exponent
    * shift, so x is an exact double and death-side Σx is an exact
    * integer sum ÷ 128).
    *
    * Per round: per-row w = exp(βx) ([[Pmath.expColumn]], clamped ±30)
    * quantized to 2⁻²⁰ decimal; per-duration decimal sums of (w, wx,
    * wx²); EXACT decimal reverse-cumulatives over the bounded spine
    * give the risk-set S₀/S₁/S₂; score U = Σ_t [Σx_dead − d·S₁/S₀] and
    * information I = Σ_t d·[S₂/S₀ − (S₁/S₀)²] are spine-ordered
    * bounded folds; β ← β + U/I. Scale shape: one data pass per round
    * + calendar-bounded spine work ([[kaplanMeier]]'s shape). */
  def coxNewton(df: DataFrame, durCol: Column, obsCol: Column,
                xIntCol: Column, rounds: Int = 2): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val u = df.select(durCol.cast("long").as("dur"),
        obsCol.cast("long").as("obs"), xIntCol.cast("long").as("xn"))
      .filter(col("dur").isNotNull && col("obs").isNotNull &&
        col("xn").isNotNull)
      .withColumn("xd", dbl(col("xn")) / lit(128.0))
    var fit = u.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(0.0).as("beta"))
    (1 to rounds).foreach { _ =>
      val w0 = u.crossJoin(broadcast(fit))
        .withColumn("eta", least(greatest(col("beta") * col("xd"),
          lit(-30.0)), lit(30.0)))
        .withColumn("w", Pmath.expColumn(col("eta")))
      val perDur = w0.groupBy("dur").agg(
        max("n").as("n"), max("beta").as("pbeta"),
        sum(dec(floor(col("w") * q))).as("qw"),
        sum(dec(floor((col("w") * col("xd")) * q))).as("qwx"),
        sum(dec(floor(((col("w") * col("xd")) * col("xd")) * q)))
          .as("qwxx"),
        sum(col("obs")).as("d"),
        sum(col("obs") * col("xn")).as("sxd"))
      // reverse cumulatives over the calendar-bounded day spine: the
      // at-risk set is everyone with dur >= t (bounded window — the
      // x_logrank precedent)
      val w = BoundedWindow.orderBy("dur")
        .rowsBetween(0, Window.unboundedFollowing)
      val spine = perDur
        .withColumn("cqw", sum("qw").over(w))
        .withColumn("cqwx", sum("qwx").over(w))
        .withColumn("cqwxx", sum("qwxx").over(w))
        .filter(col("d") > 0L)
        .withColumn("s0", ddec(col("cqw")) / q)
        .withColumn("s1", ddec(col("cqwx")) / q)
        .withColumn("s2", ddec(col("cqwxx")) / q)
        .withColumn("rat", col("s1") / col("s0"))
        .withColumn("tu", dbl(col("sxd")) / lit(128.0) -
          dbl(col("d")) * col("rat"))
        .withColumn("ti", dbl(col("d")) *
          (col("s2") / col("s0") - col("rat") * col("rat")))
      fit = spine.agg(max("n").as("n"), max("pbeta").as("pbeta"),
          Exact.orderedSum(col("tu"), col("dur")).as("usum"),
          Exact.orderedSum(col("ti"), col("dur")).as("isum"))
        .select(col("n"), col("usum"), col("isum"),
          (col("pbeta") + col("usum") / col("isum")).as("beta"))
    }
    fit.select(col("n"), col("beta"), col("usum").as("score_last"),
      col("isum").as("info_last"))
  }

  /** 1-D two-component Gaussian-mixture EM, `rounds` full EM steps
    * from a deterministic moment seed (μ = mean ∓ sd, equal variances,
    * π = ½). The soft-clustering / bimodality primitive (quality-score
    * mixtures, length mixtures) in its scale shape: each round is ONE
    * data pass producing six sufficient statistics.
    *
    * Exactness: the seed comes off exact decimal(38,0) integer
    * moments; responsibilities r₁ = 1/(1 + (π₂/π₁)·√(v₁/v₂)·
    * exp(q₁−q₂)) use [[Pmath.expColumn]] on the ±30-clamped exponent
    * difference; every per-row weighted term is 2⁻²⁰-quantized and
    * decimal-summed (the [[logisticIrls]] device). Input must be an
    * integer column (exact seed moments). */
  def gmmEm1d(df: DataFrame, xCol: Column, rounds: Int = 2): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val docs = df.select(xCol.cast("long").as("x"))
      .filter(col("x").isNotNull)
    val m0 = docs.agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
      sum(dec(col("x")) * col("x")).as("sxx"))
    var fit = m0
      .withColumn("mean", ddec(col("sx")) / dbl(col("n")))
      .withColumn("vr",
        ddec(col("sxx")) / dbl(col("n")) - col("mean") * col("mean"))
      .withColumn("sd", sqrt(col("vr")))
      .select(col("n"), lit(0.5).as("pi1"),
        (col("mean") - col("sd")).as("mu1"),
        (col("mean") + col("sd")).as("mu2"),
        col("vr").as("v1"), col("vr").as("v2"))
    (1 to rounds).foreach { _ =>
      val e = docs.crossJoin(broadcast(fit))
        .withColumn("xdd", dbl(col("x")))
        .withColumn("q1", ((col("xdd") - col("mu1")) *
          (col("xdd") - col("mu1"))) / (lit(2.0) * col("v1")))
        .withColumn("q2", ((col("xdd") - col("mu2")) *
          (col("xdd") - col("mu2"))) / (lit(2.0) * col("v2")))
        .withColumn("lr", least(greatest(col("q1") - col("q2"),
          lit(-30.0)), lit(30.0)))
        .withColumn("ratio", ((lit(1.0) - col("pi1")) / col("pi1")) *
          sqrt(col("v1") / col("v2")))
        .withColumn("r1",
          lit(1.0) / (lit(1.0) + col("ratio") * Pmath.expColumn(col("lr"))))
        .withColumn("r2", lit(1.0) - col("r1"))
      val sums = e.agg(max("n").as("n"),
        sum(dec(floor(col("r1") * q))).as("qr1"),
        sum(dec(floor((col("r1") * col("xdd")) * q))).as("qr1x"),
        sum(dec(floor(((col("r1") * col("xdd")) * col("xdd")) * q)))
          .as("qr1xx"),
        sum(dec(floor(col("r2") * q))).as("qr2"),
        sum(dec(floor((col("r2") * col("xdd")) * q))).as("qr2x"),
        sum(dec(floor(((col("r2") * col("xdd")) * col("xdd")) * q)))
          .as("qr2xx"))
      fit = sums
        .withColumn("sr1", ddec(col("qr1")) / q)
        .withColumn("sr1x", ddec(col("qr1x")) / q)
        .withColumn("sr1xx", ddec(col("qr1xx")) / q)
        .withColumn("sr2", ddec(col("qr2")) / q)
        .withColumn("sr2x", ddec(col("qr2x")) / q)
        .withColumn("sr2xx", ddec(col("qr2xx")) / q)
        .withColumn("nmu1", col("sr1x") / col("sr1"))
        .withColumn("nmu2", col("sr2x") / col("sr2"))
        .select(col("n"),
          (col("sr1") / (col("sr1") + col("sr2"))).as("pi1"),
          col("nmu1").as("mu1"), col("nmu2").as("mu2"),
          (col("sr1xx") / col("sr1") - col("nmu1") * col("nmu1")).as("v1"),
          (col("sr2xx") / col("sr2") - col("nmu2") * col("nmu2")).as("v2"))
    }
    fit.select(col("n"), col("pi1"), col("mu1"), col("mu2"),
      col("v1").as("var1"), col("v2").as("var2"))
  }

  /** Dominant eigenpair of the 4×4 population covariance of four
    * integer features, by `iters` unrolled power iterations from the
    * fixed seed v = (0.5, 0.5, 0.5, 0.5) — the "one strongest factor"
    * readout (and the PCA building block) in its distributed shape:
    * ONE data pass for exact decimal(38,0) cross-moments, then a
    * 1-row scalar epilogue of fixed IEEE chains (matvec entries
    * left-associated, λ = √(ΣuĮ) in index order, v ← u/λ). */
  def powerIterCov4(df: DataFrame, items: Seq[Column],
                    iters: Int = 3): DataFrame = {
    require(items.size == 4, "powerIterCov4: exactly 4 features")
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val named = items.zipWithIndex.map { case (c, i) =>
      c.cast("long").as(s"i$i")
    }
    val f = df.select(named: _*)
    val aggs = (0 until 4).map(a => sum(dec(col(s"i$a"))).as(s"s$a")) ++
      (for { a <- 0 until 4; b <- a until 4 } yield
        sum(dec(col(s"i$a")) * col(s"i$b")).as(s"p$a$b"))
    var row = f.agg(count(lit(1)).as("n"), aggs: _*)
    (0 until 4).foreach { a =>
      row = row.withColumn(s"m$a", ddec(col(s"s$a")) / dbl(col("n")))
    }
    for { a <- 0 until 4; b <- a until 4 } {
      row = row.withColumn(s"c$a$b",
        ddec(col(s"p$a$b")) / dbl(col("n")) - col(s"m$a") * col(s"m$b"))
    }
    def cc(a: Int, b: Int) = if (a <= b) col(s"c$a$b") else col(s"c$b$a")
    (0 until 4).foreach { a =>
      row = row.withColumn(s"v$a", lit(0.5))
    }
    var lamCol = "lam"
    (1 to iters).foreach { it =>
      (0 until 4).foreach { a =>
        row = row.withColumn(s"u${a}_$it",
          (1 until 4).foldLeft(cc(a, 0) * col("v0")) { (acc, b) =>
            acc + cc(a, b) * col(s"v$b")
          })
      }
      row = row.withColumn(s"lam_$it",
        sqrt((1 until 4).foldLeft(col(s"u0_$it") * col(s"u0_$it")) {
          (acc, a) => acc + col(s"u${a}_$it") * col(s"u${a}_$it")
        }))
      (0 until 4).foreach { a =>
        row = row.withColumn(s"v$a",
          col(s"u${a}_$it") / col(s"lam_$it"))
      }
      lamCol = s"lam_$it"
    }
    row.select(col("n"), col(lamCol).as("lambda1"),
      col("v0").as("ev1"), col("v1").as("ev2"),
      col("v2").as("ev3"), col("v3").as("ev4"))
  }

  /** Mahalanobis outlier census over two features: exact quantized
    * covariance (2⁻²⁰ fixed-point decimal sums — the standing device
    * for double features), closed-form 2×2 inverse, per-row
    * d² = zᵀΣ⁻¹z, and the χ²(2)-tail outlier count. The multivariate
    * answer to "how many rows are jointly, not marginally, anomalous".
    * ONE pass for moments + ONE pass for the census. */
  def mahalanobis2d(df: DataFrame, xCol: Column, yCol: Column,
                    d2Threshold: Double): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val f = df.select(xCol.cast("double").as("x"),
        yCol.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val m = f.agg(count(lit(1)).as("n"),
        sum(dec(floor(col("x") * q))).as("qx"),
        sum(dec(floor(col("y") * q))).as("qy"),
        sum(dec(floor((col("x") * col("x")) * q))).as("qxx"),
        sum(dec(floor((col("x") * col("y")) * q))).as("qxy"),
        sum(dec(floor((col("y") * col("y")) * q))).as("qyy"))
      .withColumn("mx", (ddec(col("qx")) / q) / dbl(col("n")))
      .withColumn("my", (ddec(col("qy")) / q) / dbl(col("n")))
      .withColumn("vx", (ddec(col("qxx")) / q) / dbl(col("n")) -
        col("mx") * col("mx"))
      .withColumn("vy", (ddec(col("qyy")) / q) / dbl(col("n")) -
        col("my") * col("my"))
      .withColumn("cxy", (ddec(col("qxy")) / q) / dbl(col("n")) -
        col("mx") * col("my"))
      .withColumn("det", col("vx") * col("vy") - col("cxy") * col("cxy"))
      .select("n", "mx", "my", "vx", "vy", "cxy", "det")
    val d2 = f.crossJoin(broadcast(m))
      .withColumn("zx", col("x") - col("mx"))
      .withColumn("zy", col("y") - col("my"))
      .withColumn("d2",
        (col("vy") * (col("zx") * col("zx")) -
          lit(2.0) * (col("cxy") * (col("zx") * col("zy"))) +
          col("vx") * (col("zy") * col("zy"))) / col("det"))
    d2.agg(max("n").as("n"), max("mx").as("mean_x"),
        max("my").as("mean_y"), max("vx").as("var_x"),
        max("vy").as("var_y"), max("cxy").as("cov_xy"),
        sum(when(col("d2") > lit(d2Threshold), 1L).otherwise(0L))
          .as("n_outliers"),
        max("d2").as("max_d2"))
  }

  /** Deterministic RANSAC line fit. RANSAC's minimal-sample principle
    * — candidate lines through point PAIRS, so an all-inlier candidate
    * exists with overwhelming probability even under gross
    * contamination (an OLS fit on any large subset would inherit the
    * outliers' bias) — made seed-free and distributed: rows hash into
    * 2·nCand buckets, each bucket elects its argmin-hash row(s) (one
    * min(struct) hash aggregate + one broadcast join, no sort; ties on
    * duplicate ids all survive, as the oracle replays), bucket pair
    * (2c, 2c+1)
    * defines candidate line c, every candidate is scored by its
    * FULL-data inlier count (|residual| ≤ `tol`), and the winner
    * (most inliers, lowest id on ties) is refit on its inliers with an
    * exact decimal(18,2)-moment OLS.
    *
    * Scale shape: every stage is one hash-aggregate or broadcast-join
    * pass; candidates are a parameter-bounded broadcast. Exactness:
    * hash election and the 2-point lines are integer/fixed-chain
    * deterministic; the refit uses exact decimal moments. */
  def ransacLine(df: DataFrame, xCol: Column, yCol: Column,
                 idCol: Column, nCand: Int, tol: Double): DataFrame = {
    def ddec(c: Column) = c.cast("string").cast("double")
    // downstream passes (election agg + join, the vote, the refit) all
    // read this frame — persist so the per-row md5 is computed once,
    // not once per pass (measured 7.1 s → the md5 dominated)
    val f = df.select(xCol.cast("double").as("xd"),
        yCol.cast("double").as("yd"), idCol.cast("string").as("rid"))
      .filter(col("xd").isNotNull && col("yd").isNotNull)
      .withColumn("hv",
        conv(substring(md5(concat(col("rid"), lit("_ransac"))),
          1, 13), 16, 10).cast("long"))
      .withColumn("bkt", pmod(col("hv"), lit((2L * nCand))))
      .persist()
    // per-bucket argmin-hash election in ONE hash aggregate + ONE
    // broadcast join (round 16, was two aggregates + two joins):
    // min(struct(hv, rid)) is the lexicographic (hv, rid) argmin —
    // its hv is the bucket's min hv, its rid the min rid among the
    // min-hv rows, exactly the two-step election's winner pair. The
    // join then keeps EVERY row tied at that (hv, rid) pair: rid is
    // an id STRING that the input may repeat (duplicate source rows
    // elect duplicate representatives), and the old two-election form
    // kept all of them — a pick-one aggregate changes the candidate
    // set and fails the oracle (measured at sf0.01).
    val m = f.groupBy("bkt")
      .agg(min(struct(col("hv"), col("rid"))).as("m"))
      .select(col("bkt").as("mbk"), col("m.hv").as("mhv"),
        col("m.rid").as("mrid"))
    val reps = f.join(broadcast(m),
        col("bkt") === col("mbk") && col("hv") === col("mhv") &&
          col("rid") === col("mrid"))
      .select("bkt", "xd", "yd")
    val pa = reps.filter(pmod(col("bkt"), lit(2L)) === 0L)
      .select((col("bkt") / 2).cast("long").as("csid"),
        col("xd").as("x1"), col("yd").as("y1"))
    val pb = reps.filter(pmod(col("bkt"), lit(2L)) === 1L)
      .select(((col("bkt") - 1) / 2).cast("long").as("csid"),
        col("xd").as("x2"), col("yd").as("y2"))
    val cand = pa.join(pb, Seq("csid")).filter(col("x1") =!= col("x2"))
      .withColumn("b1", (col("y2") - col("y1")) / (col("x2") - col("x1")))
      .withColumn("b0", col("y1") - col("b1") * col("x1"))
      .select("csid", "b0", "b1")
    val scored = f.crossJoin(broadcast(cand))
      .filter(abs(col("yd") - (col("b0") + col("b1") * col("xd"))) <=
        lit(tol))
      .groupBy("csid", "b0", "b1").agg(count(lit(1)).as("n_inl"))
    val best = scored
      .withColumn("rk", row_number().over(
        BoundedWindow.orderBy(desc("n_inl"), col("csid"))))
      .filter(col("rk") === 1)
      .select(col("csid").as("best_sid"), col("b0").as("cb0"),
        col("b1").as("cb1"), col("n_inl"))
    val x18 = col("xd").cast("decimal(18,2)")
    val y18 = col("yd").cast("decimal(18,2)")
    val refit = f.crossJoin(broadcast(best))
      .filter(abs(col("yd") - (col("cb0") + col("cb1") * col("xd"))) <=
        lit(tol))
      .groupBy("best_sid", "n_inl").agg(count(lit(1)).as("cn"),
        sum(x18).as("sx"), sum(y18).as("sy"),
        sum(x18 * y18).as("sxy"), sum(x18 * x18).as("sxx"))
      .withColumn("b1",
        (ddec(col("cn")) * ddec(col("sxy")) - ddec(col("sx")) * ddec(col("sy"))) /
          (ddec(col("cn")) * ddec(col("sxx")) - ddec(col("sx")) * ddec(col("sx"))))
      .withColumn("b0",
        (ddec(col("sy")) - col("b1") * ddec(col("sx"))) / ddec(col("cn")))
    refit.select(col("best_sid"), col("n_inl"),
      col("b1").as("slope_refit"), col("b0").as("intercept_refit"))
  }

  /** Deterministic 1-D isolation forest census: `nTrees` random-
    * binary-search trees of fixed `depth` over one integer feature —
    * each tree splits the CURRENT interval at a per-(tree, level)
    * pseudo-random fraction (Knuth-hash constants, embedded as
    * literals on both engines), every row walks its 2^depth leaf id
    * through per-row interval tracking, and the per-tree leaf-
    * population census is the anomaly readout (sparse leaves =
    * isolated rows — the data-quality filter shape: rows that isolate
    * fast are the distribution's outliers).
    *
    * Scale shape: rows × nTrees via one explode, `depth` fixed chained
    * projections (no joins), ONE hash aggregate to leaves, one bounded
    * aggregate per tree. Everything is a fixed IEEE chain off exact
    * integer min/max bounds → oracle-replayable. */
  def isolationCensus(df: DataFrame, xCol: Column, nTrees: Int,
                      depth: Int): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val f = df.select(xCol.cast("long").as("x")).filter(col("x").isNotNull)
    val b = f.agg((dbl(min("x")) - lit(0.5)).as("lo0"),
      (dbl(max("x")) + lit(0.5)).as("hi0"))
    var g = f.crossJoin(broadcast(b))
      .select(col("x"), col("lo0").as("lo"), col("hi0").as("hi"),
        explode(sequence(lit(1L), lit(nTrees.toLong))).as("t"))
      .withColumn("leaf", lit(0L))
    (1 to depth).foreach { l =>
      val thr = (1 to nTrees).foldLeft(when(lit(false), lit(0.0))) {
        (w, t) => w.when(col("t") === t,
          col("lo") + lit(isoFrac(t, l)) * (col("hi") - col("lo")))
      }.otherwise(lit(0.0))
      g = g.withColumn("thr", thr)
        .select(col("x"), col("t"),
          when(col("x") < col("thr"), col("lo")).otherwise(col("thr"))
            .as("lo"),
          when(col("x") < col("thr"), col("thr")).otherwise(col("hi"))
            .as("hi"),
          (col("leaf") + when(col("x") < col("thr"), 0L)
            .otherwise(lit(1L << (l - 1)))).as("leaf"))
    }
    val leaves = g.groupBy("t", "leaf").agg(count(lit(1)).as("sz"))
    leaves.groupBy("t").agg(count(lit(1)).as("n_leaves"),
        max("sz").as("max_leaf_size"),
        sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("sz") <= 4L, col("sz")).otherwise(0L))
          .as("n_rows_isolated"))
      .select(col("t"), col("n_leaves"), col("max_leaf_size"),
        col("n_singletons"), col("n_rows_isolated"))
  }

  /** Per-(tree, level) split fraction: a fixed Knuth multiplicative
    * hash, computed once here and embedded as the same literal in the
    * engine plan and the SQL oracle. */
  private[graft] def isoFrac(t: Int, l: Int): Double =
    (((t * 31 + l).toLong * 2654435761L) & 0xffffffffL).toDouble /
      4294967296.0

  /** Log-log OLS (elasticity regression): slope of ln y on ln x over
    * POSITIVE pairs — the constant-elasticity readout (demand vs
    * price, size vs rank). Regression on a transformed feature at
    * scale: both lns are [[Pmath.lnColumn]] (portable, ≥ 1 domain —
    * callers feed ratios ≥ 1 or pre-scale), the four moment sums are
    * 2⁻²⁰-quantized decimal(38,0) (order-free), and the slope/
    * intercept are one fixed chain. ONE pass over the rows. */
  def lnLnOls(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val f = df.select(xCol.cast("double").as("xr"),
        yCol.cast("double").as("yr"))
      .filter(col("xr") >= 1.0 && col("yr") >= 1.0)
      .withColumn("lx", Pmath.lnColumn(col("xr")))
      .withColumn("ly", Pmath.lnColumn(col("yr")))
    f.agg(count(lit(1)).as("n"),
        sum(dec(floor(col("lx") * q))).as("qx"),
        sum(dec(floor(col("ly") * q))).as("qy"),
        sum(dec(floor((col("lx") * col("ly")) * q))).as("qxy"),
        sum(dec(floor((col("lx") * col("lx")) * q))).as("qxx"))
      .withColumn("sx", ddec(col("qx")) / q)
      .withColumn("sy", ddec(col("qy")) / q)
      .withColumn("sxy", ddec(col("qxy")) / q)
      .withColumn("sxx", ddec(col("qxx")) / q)
      .withColumn("slope",
        (dbl(col("n")) * col("sxy") - col("sx") * col("sy")) /
          (dbl(col("n")) * col("sxx") - col("sx") * col("sx")))
      .select(col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / dbl(col("n")))
          .as("intercept"))
  }

  /** Weibull probability-plot fit over positive integer durations:
    * median-rank ECDF off the distinct-value spine
    * (F = (cum − 0.3)/(n + 0.4), [[Rank.withCumSums]]), plot
    * coordinates x = ln t and w = ln(−ln(1−F)) — the inner ln runs on
    * 1/(1−F) ≥ 1, the outer on a sign-folded |·| ≥ 1 branch (both
    * [[Pmath.lnColumn]]) — then a count-weighted quantized OLS gives
    * the shape k̂ (slope) and scale λ̂ = exp(−intercept/k̂) via
    * [[Pmath.expColumn]]. The parametric-survival companion to
    * [[kaplanMeier]]: two moments pass + spine work, all portable. */
  def weibullPlotFit(df: DataFrame, durCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val f = df.select(durCol.cast("long").as("t"))
      .filter(col("t").isNotNull && col("t") >= 1L)
    val perV = f.groupBy("t").agg(count(lit(1)).as("cnt"))
    val spine = Rank.withCumSums(perV, Seq("t"), Seq("cnt" -> "cum"))
    val tot = f.agg(count(lit(1)).as("n"))
    val pts = spine.crossJoin(broadcast(tot))
      .withColumn("ff", (dbl(col("cum")) - lit(0.3)) /
        (dbl(col("n")) + lit(0.4)))
      .withColumn("u", lit(1.0) / (lit(1.0) - col("ff")))
      .withColumn("l1", Pmath.lnColumn(col("u")))
      .withColumn("m", when(col("l1") >= 1.0, col("l1"))
        .otherwise(lit(1.0) / col("l1")))
      .withColumn("l2", Pmath.lnColumn(col("m")))
      .withColumn("w", when(col("l1") >= 1.0, col("l2"))
        .otherwise(-col("l2")))
      .withColumn("lx", Pmath.lnColumn(dbl(col("t"))))
      .withColumn("cd", dbl(col("cnt")))
    val s = pts.agg(max("n").as("n"),
        sum(dec(floor(col("cd") * q))).as("qc"),
        sum(dec(floor((col("cd") * col("lx")) * q))).as("qx"),
        sum(dec(floor((col("cd") * col("w")) * q))).as("qy"),
        sum(dec(floor(((col("cd") * col("lx")) * col("w")) * q)))
          .as("qxy"),
        sum(dec(floor(((col("cd") * col("lx")) * col("lx")) * q)))
          .as("qxx"))
      .withColumn("sc", ddec(col("qc")) / q)
      .withColumn("sx", ddec(col("qx")) / q)
      .withColumn("sy", ddec(col("qy")) / q)
      .withColumn("sxy", ddec(col("qxy")) / q)
      .withColumn("sxx", ddec(col("qxx")) / q)
      .withColumn("shape",
        (col("sc") * col("sxy") - col("sx") * col("sy")) /
          (col("sc") * col("sxx") - col("sx") * col("sx")))
      .withColumn("icpt",
        (col("sy") - col("shape") * col("sx")) / col("sc"))
    s.select(col("n"), col("shape"),
      Pmath.expColumn(least(greatest(-(col("icpt") / col("shape")),
        lit(-30.0)), lit(30.0))).as("scale_hat"))
  }

  /** Gaussian kernel-density estimate on a fixed `nGrid`-point grid
    * over the integer feature's exact [min, max] span: p̂(g) =
    * Σᵢ K((xᵢ−g)/h) / (n·h·√2π), bandwidth h = span/32. The
    * distribution-shape readout a histogram quantizes away — done as
    * ONE pass (rows × bounded grid explode), [[Pmath.expColumn]]
    * kernels with clamped exponent, per-grid 2⁻²⁰-quantized
    * decimal(38,0) sums. */
  def kdeGrid(df: DataFrame, xCol: Column, nGrid: Int = 16): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    val sqrt2pi = math.sqrt(2.0 * math.Pi)
    val f = df.select(xCol.cast("long").as("x")).filter(col("x").isNotNull)
    val b = f.agg(count(lit(1)).as("n"), dbl(min("x")).as("lo"),
      dbl(max("x")).as("hi"))
      .withColumn("h", (col("hi") - col("lo")) / lit(32.0))
    val g = f.crossJoin(broadcast(b))
      .select(col("x"), col("n"), col("lo"), col("hi"), col("h"),
        explode(sequence(lit(1L), lit(nGrid.toLong))).as("j"))
      .withColumn("g", col("lo") + dbl(col("j")) *
        ((col("hi") - col("lo")) / lit((nGrid + 1).toDouble)))
      .withColumn("u", (dbl(col("x")) - col("g")) / col("h"))
      .withColumn("k", Pmath.expColumn(
        greatest(-((col("u") * col("u")) / lit(2.0)), lit(-30.0))))
    g.groupBy("j").agg(max("n").as("n"), max("g").as("g"),
        max("h").as("h"),
        sum(dec(floor(col("k") * q))).as("qk"))
      .select(col("j"), col("g"),
        ((ddec(col("qk")) / q) /
          (dbl(col("n")) * (col("h") * lit(sqrt2pi)))).as("density"))
  }

  /** LOESS (local linear regression) at a fixed `nGrid`-point anchor
    * grid: tricube weights w = (1−|u|³)³ over bandwidth h = span/4,
    * per-anchor weighted least squares, ŷ(g) = b₀ + b₁·g. The
    * nonparametric trend curve, distributed as ONE pass (rows ×
    * bounded anchors, zero-weight rows filtered before the shuffle)
    * with per-anchor quantized decimal moment sums and fixed solve
    * chains. */
  def loessGrid(df: DataFrame, xCol: Column, yCol: Column,
                nGrid: Int = 16): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    def ddec(c: Column) = c.cast("string").cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = lit(1048576.0)
    // spread before the ×nGrid explode + tricube/decimal-moment chain:
    // ~10² FLOPs/row × nGrid on a 1-task single-row-group scan was the
    // whole cost of this operator at test scale (Skew.spread scaladoc)
    val f = Skew.spread(df.select(xCol.cast("double").as("x"),
        yCol.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull))
    val b = f.agg(count(lit(1)).as("n"), min("x").as("lo"),
      max("x").as("hi"))
      .withColumn("h", (col("hi") - col("lo")) / lit(4.0))
    val g = f.crossJoin(broadcast(b))
      .select(col("x"), col("y"), col("lo"), col("hi"), col("h"),
        explode(sequence(lit(1L), lit(nGrid.toLong))).as("j"))
      .withColumn("g", col("lo") + dbl(col("j")) *
        ((col("hi") - col("lo")) / lit((nGrid + 1).toDouble)))
      .withColumn("au", abs((col("x") - col("g")) / col("h")))
      .filter(col("au") < 1.0)
      .withColumn("a3", (col("au") * col("au")) * col("au"))
      .withColumn("w", ((lit(1.0) - col("a3")) * (lit(1.0) - col("a3"))) *
        (lit(1.0) - col("a3")))
    val s = g.groupBy("j").agg(max("g").as("g"),
        count(lit(1)).as("n_local"),
        sum(dec(floor(col("w") * q))).as("qw"),
        sum(dec(floor((col("w") * col("x")) * q))).as("qx"),
        sum(dec(floor((col("w") * col("y")) * q))).as("qy"),
        sum(dec(floor(((col("w") * col("x")) * col("x")) * q))).as("qxx"),
        sum(dec(floor(((col("w") * col("x")) * col("y")) * q))).as("qxy"))
      .withColumn("sw", ddec(col("qw")) / q)
      .withColumn("sx", ddec(col("qx")) / q)
      .withColumn("sy", ddec(col("qy")) / q)
      .withColumn("sxx", ddec(col("qxx")) / q)
      .withColumn("sxy", ddec(col("qxy")) / q)
      .withColumn("b1",
        (col("sw") * col("sxy") - col("sx") * col("sy")) /
          (col("sw") * col("sxx") - col("sx") * col("sx")))
      .withColumn("b0", (col("sy") - col("b1") * col("sx")) / col("sw"))
    s.select(col("j"), col("g"), col("n_local"),
      (col("b0") + col("b1") * col("g")).as("y_hat"))
  }

  /** Kruskal–Wallis H test: the rank-based (distribution-free) analog
    * of [[anovaF]] across k groups. Global midranks from the
    * distinct-value spine (integer 2·midrank), per-group rank sums via
    * an exact integer join-aggregate, then
    * H = 12/(n(n+1))·Σ R²_g/n_g − 3(n+1), divided by the tie
    * correction 1 − Σ(t³−t)/(n³−n). The per-group term sum is a fold in
    * group-key order; Σ(t³−t) accumulates in decimal.
    *
    * Scale shape: value-spine aggregate + cumulative window (global —
    * bin first at 100 TB), one join of the (g,v) spine to the value
    * spine, one k-row fold. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val base = df.select(col(groupCol).cast("string").as("g"),
      col(valueCol).as("v"))
    val perV = base.groupBy("v").agg(count(lit(1)).as("cnt"))
    val c12 = col("cnt").cast("decimal(12,0)")
    val sp = Rank.withCumSums(perV, Seq("v"), Seq("cnt" -> "cum_incl"))
      .select(col("v"),
        (lit(2L) * (col("cum_incl") - col("cnt")) + col("cnt") + lit(1L))
          .as("m2"),
        (c12 * c12 * c12 - c12).as("tt"))
    val ties = sp.agg(sum("tt").as("sum_t"))
    val perG = base.groupBy("g", "v").agg(count(lit(1)).as("cgv"))
      .join(sp.select("v", "m2"), Seq("v"))
      .groupBy("g").agg(sum(col("cgv") * col("m2")).as("r2g"),
        sum("cgv").as("ng"))
    val folded = perG.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      Exact.orderedSum(
        ((col("r2g").cast("double") / lit(2.0)) *
          (col("r2g").cast("double") / lit(2.0))) /
          col("ng").cast("double"), col("g")).as("t_sum"))
    folded.crossJoin(broadcast(ties))
      .select(col("k"), col("n"),
        ((lit(12.0) / (dbl(col("n")) * (dbl(col("n")) + lit(1.0))) *
          col("t_sum") - lit(3.0) * (dbl(col("n")) + lit(1.0))) /
          (lit(1.0) - col("sum_t").cast("string").cast("double") /
            (dbl(col("n")) * dbl(col("n")) * dbl(col("n")) - dbl(col("n")))))
          .as("h_stat"))
  }

  /** Spearman rank correlation: Pearson correlation of midranks —
    * monotone association robust to outliers and nonlinearity, the
    * feature-screening companion of the exact-corr recipe.
    *
    * Each column gets integer 2·midranks from its own distinct-value
    * spine; the moment sums accumulate in decimal (Σ(2r)² passes 2⁶³
    * near a billion rows), and ρ is the textbook moment formula over
    * string-mediated double casts — identical fixed op order on both
    * engines.
    *
    * Scale shape: two value-spine aggregates + DISTRIBUTED cumulative
    * ranks ([[Rank.withCumSums]] — range-partitioned, no
    * single-partition window even when the column is ~unique per row),
    * two spine joins back to the fact rows, one 1-row moment reduce. */
  def spearmanRho(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val base = df.select(xCol.as("x"), yCol.as("y"))
    def spine(c: String) = {
      val per = base.groupBy(c).agg(count(lit(1)).as("cnt"))
      Rank.withCumSums(per, Seq(c), Seq("cnt" -> "cum"))
        .select(col(c),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
            .cast("decimal(19,0)").as(s"m2_$c"))
    }
    val ranked = base.join(spine("x"), Seq("x")).join(spine("y"), Seq("y"))
    ranked.agg(count(lit(1)).as("n"),
        sum("m2_x").as("sx"), sum("m2_y").as("sy"),
        sum(col("m2_x") * col("m2_x")).as("sxx"),
        sum(col("m2_y") * col("m2_y")).as("syy"),
        sum(col("m2_x") * col("m2_y")).as("sxy"))
      .select(col("n"),
        ((col("n").cast("double") * dbl(col("sxy")) -
          dbl(col("sx")) * dbl(col("sy"))) /
          (sqrt(col("n").cast("double") * dbl(col("sxx")) -
            dbl(col("sx")) * dbl(col("sx"))) *
           sqrt(col("n").cast("double") * dbl(col("syy")) -
            dbl(col("sy")) * dbl(col("sy"))))).as("rho"))
  }

  /** Signed portable ln of an integer ratio num/den (both > 0):
    * ln(num/den) computed as ±ln(max/min) so the [[Pmath.lnColumn]]
    * domain constraint (x ≥ 1) always holds — the x_pmi convention. */
  private def signedLnRatio(num: Column, den: Column): Column =
    when(num >= den,
      Pmath.lnColumn(num.cast("double") / den.cast("double")))
      .otherwise(-Pmath.lnColumn(den.cast("double") / num.cast("double")))

  /** Mutual information (nats) between two categorical columns:
    * MI = Σ_cells (c_xy/n)·ln(c_xy·n / (c_x·c_y)) — the
    * feature-relevance / redundancy readout ([[cramersV]] measures
    * association strength; MI measures it in information units and
    * plugs into mRMR-style feature selection). Returns the per-cell
    * contribution profile plus the folded total on every row
    * (the [[psiDrift]] shape — the profile IS the diagnosis).
    *
    * Zero cells contribute exactly 0 (the p·ln p limit), so only
    * observed cells participate — no full cross needed, unlike χ².
    * All ratios are integer/integer; ln is the portable series on the
    * ≥ 1 side with sign flip; the total folds in (x,y) cell order.
    * Scale shape: one cell aggregate, two marginal aggregates off the
    * cell spine, one 1-row broadcast. */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val cells = df.groupBy(xCol.cast("string").as("x"),
      yCol.cast("string").as("y")).agg(count(lit(1)).as("c"))
    val xm = cells.groupBy("x").agg(sum("c").as("cx"))
    val ym = cells.groupBy("y").agg(sum("c").as("cy"))
    val tot = cells.agg(sum("c").as("n"))
    val contrib = cells.join(xm, Seq("x")).join(ym, Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("c"),
        ((dbl(col("c")) / dbl(col("n"))) *
          signedLnRatio(col("c") * col("n"), col("cx") * col("cy")))
          .as("mi_contrib"))
    val total = contrib.agg(
      Exact.orderedSum(col("mi_contrib"), col("x"), col("y")).as("mi_total"))
    contrib.crossJoin(broadcast(total))
  }

  /** Jensen–Shannon divergence (nats) between the `keyCol`
    * distributions of two cohorts — the symmetric, always-finite drift
    * measure ([[psiDrift]] needs smoothing for empty bins; JS does
    * not). JS = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2; bounded by
    * ln 2, zero iff identical.
    *
    * p/m = 2aB/(aB+bA) is an integer ratio, so both KL legs stack into
    * ONE portable-ln pass (side-tagged rows), and the sum folds in
    * (side, key) order. Absent-on-one-side keys contribute only to the
    * other leg — exactly, no smoothing. One aggregate to the key spine,
    * one 1-row broadcast of totals, one fold. */
  def jsDivergence(df: DataFrame, keyCol: Column, inA: Column,
                   inB: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val f = df.filter(inA || inB).select(keyCol.cast("string").as("k"),
      when(inA, 1L).otherwise(0L).as("a"),
      when(inB, 1L).otherwise(0L).as("b"))
    val cells = f.groupBy("k").agg(sum("a").as("ca"), sum("b").as("cb"))
    val tot = f.agg(sum("a").as("na"), sum("b").as("nb"))
    val j = cells.crossJoin(broadcast(tot))
    val den = col("ca") * col("nb") + col("cb") * col("na")
    val pSide = j.filter(col("ca") > 0)
      .select(lit("p").as("s"), col("k"),
        ((dbl(col("ca")) / dbl(col("na"))) *
          signedLnRatio(lit(2L) * col("ca") * col("nb"), den)).as("term"))
    val qSide = j.filter(col("cb") > 0)
      .select(lit("q").as("s"), col("k"),
        ((dbl(col("cb")) / dbl(col("nb"))) *
          signedLnRatio(lit(2L) * col("cb") * col("na"), den)).as("term"))
    val folded = pSide.union(qSide).agg(
      count(lit(1)).as("legs"),
      Exact.orderedSum(col("term"), col("s"), col("k")).as("t_sum"))
    folded.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("legs"),
        (lit(0.5) * col("t_sum")).as("js_nats"))
  }

  /** Benford's-law expected fraction of leading digit d, computed ONCE
    * in Scala and emitted as the same literal into both the Spark plan
    * and the SQL oracle — no cross-engine transcendental math. */
  val benfordExpected: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d.toDouble))

  /** Benford first-digit audit of a positive amount column: observed
    * leading-digit fractions vs the log₁₀(1+1/d) law — the standard
    * fabricated-amounts screen. One narrow projection + a 9-group hash
    * aggregate; amounts < 1 (no leading digit in the integer part) are
    * excluded. Deviations (`dev`) are single subtractions of
    * single-division doubles. */
  def benfordDigits(df: DataFrame, amount: Column): DataFrame = {
    val digit = substring(floor(amount).cast("long").cast("string"), 1, 1)
      .cast("int")
    val per = df.select(digit.as("digit")).where(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = per.agg(sum("n").as("n_total"))
    val expCase = (1 to 9).foldLeft(when(lit(false), 0.0)) { (w, d) =>
      w.when(col("digit") === d, lit(benfordExpected(d - 1)))
    }.otherwise(lit(0.0))
    per.crossJoin(broadcast(tot)).select(
      col("digit"), col("n"),
      (col("n").cast("double") / col("n_total").cast("double")).as("obs_frac"),
      expCase.as("exp_frac"),
      ((col("n").cast("double") / col("n_total").cast("double")) - expCase)
        .as("dev"))
  }

  /** Single changepoint per key — binary segmentation's first split
    * (Scott & Knott / CUSUM-of-squares family): over the step-
    * aggregated series x₁..xₙ choose the split k maximizing the
    * between-segment fit S²ₖ/k + (Sₙ−Sₖ)²/(n−k) (equivalently the SSE
    * drop; the constant S²ₙ/n is omitted from the reported score since
    * it cannot move the argmax). The drift localizer that answers
    * "WHEN did this metric move", next to x_cusum's "did it move".
    *
    * Exactness: the series is integer cents, prefix sums are exact
    * decimals, and each candidate's score numerator
    * S²ₖ(n−k) + (Sₙ−Sₖ)²k stays an exact decimal — doubles appear only
    * via the repo's string-mediated cast followed by one division, so
    * both engines derive bit-identical scores; the argmax is a total
    * order (score DESC, k ASC).
    *
    * Scale shape: one hash aggregate to the (key, step) spine, then
    * key-partitioned windows over AGGREGATED rows only (the spine is
    * calendar-sized, not data-sized), and a rank-1 filter Spark plans
    * as WindowGroupLimit. Keys with a single step emit nothing (no
    * candidate split exists). */
  def changepointSplit(df: DataFrame, keyCol: String, orderExpr: Column,
                       valueExpr: Column): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val series = df.groupBy(col(keyCol).as("key"), orderExpr.as("step"))
      .agg(sum(floor(valueExpr * lit(100.0)).cast("decimal(38,0)")).as("v"))
    val wOrd = Window.partitionBy("key").orderBy("step")
    val wAll = Window.partitionBy("key")
    val pre = series.select(col("key"), col("step"),
      row_number().over(wOrd).as("k"),
      sum(col("v")).over(wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("sk"),
      sum(col("v")).over(wAll).as("sn"),
      count(lit(1)).over(wAll).as("n"))
    val cand = pre.filter(col("k") < col("n"))
      .select(col("key"), col("step"), col("k"), col("n"), col("sk"), col("sn"),
        (col("sk") * col("sk") * (col("n") - col("k")).cast("decimal(38,0)") +
          (col("sn") - col("sk")) * (col("sn") - col("sk")) *
            col("k").cast("decimal(38,0)")).as("num"),
        (col("k") * (col("n") - col("k"))).as("den"))
      .withColumn("score", dbl(col("num")) / col("den").cast("double"))
    val pick = Window.partitionBy("key").orderBy(col("score").desc, col("k"))
    cand.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("key"), col("step").as("split_step"), col("k"), col("n"),
        (dbl(col("sk")) / (col("k").cast("double") * 100.0)).as("mean_before"),
        (dbl(col("sn") - col("sk")) /
          ((col("n") - col("k")).cast("double") * 100.0)).as("mean_after"),
        col("score"))
  }

  /** Classical additive seasonal decomposition — the seasonal PROFILE
    * per key: detrend the step series with the standard 2×m centered
    * moving average (even period m ⇒ half-weight endpoints: trend·2m =
    * v₋ₘ/₂ + 2Σ|i|<m/2 vᵢ + vₘ/₂), then average the detrended values by
    * phase (step index mod m). The "what does a normal day look like"
    * readout that x_seasonal_baseline's per-hour z-scores assume.
    *
    * Exactness: the series is integer cents and the 2m-scaled trend
    * numerator stays integral, so detrended·2m = 2m·v − trendNum is an
    * exact integer per row; per-phase seasonal = one division of its
    * integer sum. No unordered double sums anywhere.
    *
    * Scale shape: one hash aggregate to the (key, step) spine, one
    * key-partitioned frame window over aggregated rows, one phase
    * aggregate. Rows without a full ±m/2 trend window are excluded
    * (textbook edge handling), so keys need > m steps to contribute. */
  def seasonalDecompose(df: DataFrame, keyCol: String, orderExpr: Column,
                        phaseExpr: Column => Column, valueExpr: Column,
                        period: Int): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      s"seasonalDecompose: need an even period >= 2, got $period")
    def dbl(c: Column) = c.cast("string").cast("double")
    val half = period / 2
    val series = df.groupBy(col(keyCol).as("key"), orderExpr.as("step"))
      .agg(sum(floor(valueExpr * lit(100.0)).cast("decimal(38,0)")).as("v"))
    val wOrd = Window.partitionBy("key").orderBy("step")
    val inner = sum(col("v")).over(
      wOrd.rowsBetween(-(half - 1), half - 1)) * lit(2)
    val trended = series.select(col("key"), col("step"), col("v"),
      row_number().over(wOrd).as("k"),
      count(lit(1)).over(Window.partitionBy("key")).as("n"),
      (inner + lag(col("v"), half).over(wOrd) +
        lead(col("v"), half).over(wOrd)).as("trend_num"))
    trended
      .filter(col("k") > half && col("k") <= col("n") - half)
      .select(col("key"), phaseExpr(col("step")).as("phase"),
        (col("v") * lit(2 * period) - col("trend_num")).as("det_num"))
      .groupBy("key", "phase")
      .agg(count(lit(1)).as("n_obs"),
        (dbl(sum(col("det_num"))) /
          (lit(2.0 * period) * lit(100.0) * count(lit(1)).cast("double")))
          .as("seasonal"))
  }

  /** Isotonic calibration — PAVA (pool-adjacent-violators) per key over
    * binned (positives, total) counts: the classic monotone regression
    * that turns a classifier's raw bin rates into the best
    * non-decreasing fit (squared error), the calibration step after
    * x_calibration's diagnosis. Violating neighbors pool until rates
    * are monotone; every pooled rate is ONE division of exact integer
    * sums and violation tests are integer cross-multiplications
    * (p_prev·n_cur > p_cur·n_prev — no doubles in control flow), so the
    * output is a pure data function.
    *
    * Scale shape: one hash aggregate to the (key, bin) spine, then a
    * typed mapGroups whose per-key state is the BIN list (bins are a
    * modeling constant, ≤ ~10²; the group iterator never holds raw
    * rows). SQL-replayable after all — NOT via the stack but via the
    * Robertson–Wright minimax closed form ŷᵢ = max_{l≤i} min_{r≥i}
    * pooled-rate(l,r), which the x_isotonic oracle uses (rational→
    * double conversion is monotone, so min/max over the double rates
    * equals the double of the rational minimax = the pooled rate this
    * stack emits); the StatsSpec plain-Scala differential anchors it
    * independently.
    * Integer bound: p·n products must fit int64 — fine to ~3·10⁹ rows
    * per (key, bin), beyond which pre-scale counts. */
  def isotonicRates(df: DataFrame, keyCol: String, binCol: String,
                    posExpr: Column, cntExpr: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.groupBy(col(keyCol).cast("string").as("key"),
        col(binCol).cast("int").as("bin"))
      .agg(sum(posExpr.cast("long")).as("p"), sum(cntExpr.cast("long")).as("n"))
      .as[(String, Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val arr = it.toArray.sortBy(_._2)
        val pools = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        arr.foreach { case (_, _, p, n) =>
          var (cp, cn, cc) = (p, n, 1)
          while (pools.nonEmpty && pools.last._1 * cn > cp * pools.last._2) {
            val (pp, pn, pc) = pools.remove(pools.size - 1)
            cp += pp; cn += pn; cc += pc
          }
          pools += ((cp, cn, cc))
        }
        var idx = 0
        pools.iterator.flatMap { case (p, n, c) =>
          val rate = p.toDouble / n.toDouble
          (0 until c).map { _ =>
            val (_, bin, bp, bn) = arr(idx); idx += 1
            (key, bin, bp, bn, rate)
          }
        }
      }
      .toDF("key", "bin", "pos", "n", "iso_rate")
  }

  /** Brown–Forsythe test (the robust Levene variant): does the SPREAD
    * of the metric differ across groups? z_ij = |x_ij − median_g| fed
    * through the one-way ANOVA F identity — the variance-homogeneity
    * companion to [[anovaF]]'s mean test (an assumption check before
    * trusting that F, and a per-segment volatility audit in its own
    * right).
    *
    * Exactness: values quantize to integer cents (floor(x·100), the
    * grain-rollup recipe), group medians come off the per-group
    * distinct-VALUE histogram (exact low/high central elements; med2 =
    * lo+hi so the half stays integral), and z_ij = |2·cents − med2| is
    * an exact integer in half-cent units — the scale cancels in the F
    * ratio. The ANOVA reduction is [[anovaF]] itself (decimal moment
    * sums, group-key-ordered fold, string-mediated final doubles).
    *
    * Scale shape: one (group, value)-keyed count aggregate builds the
    * histogram; the cumulative-count window runs per group over
    * DISTINCT quantized values — for bounded-cardinality measures
    * (prices, quantities, scores) that spine is histogram-sized, not
    * row-sized. For genuinely continuous measures, pre-bin the value
    * (the PSI discipline) before calling. */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: Column): DataFrame = {
    val cents = df.select(col(groupCol).as("g"),
      floor(valueCol * lit(100.0)).cast("long").as("c"))
    val hist = cents.groupBy("g", "c").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("g").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("g")))
    // lo = value at position ceil(n/2), hi at floor(n/2)+1 (equal when
    // n is odd): cum ≥ (n+1) div 2 and cum ≥ n div 2 + 1 respectively
    val med = cum.groupBy("g").agg(
      min(when(col("cum") * 2 >= col("n") + pmod(col("n"), lit(2)),
        col("c"))).as("lo"),
      min(when(col("cum") * 2 >= col("n") + 2 - pmod(col("n"), lit(2)),
        col("c"))).as("hi"))
    val z = cents.join(med, Seq("g"))
      .select(col("g"), abs(col("c") * 2 - (col("lo") + col("hi"))).as("z"))
    anovaF(z, "g", col("z"))
  }

  /** (k1, k2)-grouped exact median pair over the distinct-value
    * histogram of integer column `v`: lo/hi central elements (equal
    * when the count is odd), so med2 = lo + hi keeps halves integral.
    * The brownForsythe median, factored for two-key callers. */
  private def pairMed(df: DataFrame, v: String): DataFrame = {
    val hist = df.groupBy("k1", "k2", v).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("k1", "k2").orderBy(v)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("k1", "k2")))
    cum.groupBy("k1", "k2").agg(
      min(when(col("cum") * 2 >= col("n") + pmod(col("n"), lit(2)),
        col(v))).as("lo"),
      min(when(col("cum") * 2 >= col("n") + 2 - pmod(col("n"), lit(2)),
        col(v))).as("hi"))
  }

  /** Seasonal anomaly flags — the monitoring composition over the
    * hourly series: each (key, hour) total compares against its
    * hour-of-day PHASE's median, scaled by the phase's MAD, flagging
    * |x − med| > 3.5·MAD. Robust (median/MAD, not mean/σ) and fully
    * INTEGER: cents totals, med2 = lo+hi central pair, residuals in
    * double-cents, and the flag test 4·r > 7·m2 clears the 3.5
    * threshold to an exact integer comparison — no float enters at
    * all, so the replay is trivially exact.
    *
    * Scale shape: one (key, hour) aggregate collapses the events; both
    * median windows run per (key, phase) over day-count-sized spines;
    * flags are a map-side join compare. A constant series has MAD 0 —
    * any nonzero residual flags, the documented razor. */
  def seasonalAnomaly(df: DataFrame, keyCol: String, tsCol: Column,
                      valueCol: Column): DataFrame = {
    val hourly = df.groupBy(col(keyCol).as("k1"),
        date_trunc("hour", tsCol).as("step"))
      .agg(sum(floor(valueCol * lit(100.0)).cast("long")).as("cents"))
      .withColumn("k2", hour(col("step")))
    val med = pairMed(hourly, "cents")
      .select(col("k1"), col("k2"), (col("lo") + col("hi")).as("med2"))
    val resid = hourly.join(med, Seq("k1", "k2"))
      .withColumn("r", abs(col("cents") * 2 - col("med2")))
    val mad = pairMed(resid, "r")
      .select(col("k1"), col("k2"), (col("lo") + col("hi")).as("mad2"))
    resid.join(mad, Seq("k1", "k2"))
      .select(col("k1").as(keyCol), unix_seconds(col("step")).as("step_s"),
        col("cents"), col("med2"), col("r"), col("mad2"),
        (col("r") * 4 > col("mad2") * 7).as("is_anomaly"))
  }

  /** Hill estimator of the tail index (Hill 1975) — how heavy is the
    * upper tail of the metric? H = (1/k)·Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over
    * the k largest values; α = 1/H is the Pareto exponent. The
    * tail-risk readout for value/latency/size distributions (α ≤ 2
    * means infinite variance — sampling and skew planning must change).
    *
    * Exactness: values quantize to cents; the top k+1 come from a
    * global TakeOrdered (never a full sort — and the estimator reads
    * VALUES only, so ties at the boundary cannot change it); both lns
    * are portable over integer cents; the Σ folds in value order (the
    * x₍ₖ₊₁₎ term is exactly 0, so summing all k+1 terms equals the
    * textbook k-term sum). One aggregate + a (k+1)-row reduce. */
  def hillTail(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    val top = df.filter(valueCol > 0)
      .select(floor(valueCol * lit(100.0)).cast("long").as("c"))
      .orderBy(col("c").desc).limit(k + 1)
    val kth = top.agg(min(col("c")).as("xk1"))
    top.crossJoin(broadcast(kth))
      .withColumn("term",
        Pmath.lnColumn(col("c")) - Pmath.lnColumn(col("xk1")))
      .agg(count(lit(1)).as("n_top"), max(col("xk1")).as("xk1_cents"),
        Exact.orderedSum(col("term"), col("c")).as("s"))
      // divide by the ACTUAL top count minus the x_(k+1) row, not the
      // requested k — an input with fewer than k+1 positive values
      // would otherwise silently deflate hill_mean; n_top == 1 (a
      // degenerate single-value input) yields NULL rather than a
      // division by zero
      .select(col("n_top"), col("xk1_cents"),
        when(col("n_top") > 1,
          col("s") / (col("n_top") - 1).cast("double")).as("hill_mean"))
      .withColumn("alpha", lit(1.0) / col("hill_mean"))
  }

  /** k-fold cross-validated simple OLS — the honest generalization
    * readout for the engine's regression family: fold assignment is a
    * pure function of the id column, each fold's model is fit on the
    * COMPLEMENT via the subtraction trick (complement moments = totals
    * − fold moments, so one per-fold aggregate covers all k fits —
    * no k passes over the data), and each row scores against its own
    * fold's held-out coefficients.
    *
    * Exactness: x/y quantize to integer cents; all OLS moments are
    * exact decimals; slope/intercept are string-mediated divisions
    * (the x_linreg recipe); per-row |residual| quantizes to 2⁻¹⁰
    * fixed point so the MAE numerator is an exact integer sum.
    *
    * Scale shape: one cents projection, one k-row fold aggregate, a
    * k-row broadcast coefficient join back, one fold-keyed final
    * aggregate. Two passes over the data total, independent of k. */
  def cvOls(df: DataFrame, idCol: Column, xCol: Column, yCol: Column,
            k: Int): DataFrame = {
    def dbl(c: Column) = c.cast("string").cast("double")
    val base = df.select(pmod(idCol, lit(k.toLong)).as("fold"),
      floor(xCol * lit(100.0)).cast("decimal(38,0)").as("xc"),
      floor(yCol * lit(100.0)).cast("decimal(38,0)").as("yc"))
    val per = base.groupBy("fold").agg(count(lit(1)).as("nf"),
      sum(col("xc")).as("sxf"), sum(col("yc")).as("syf"),
      sum(col("xc") * col("yc")).as("sxyf"),
      sum(col("xc") * col("xc")).as("sxxf"))
    val tot = per.agg(sum(col("nf")).as("n"), sum(col("sxf")).as("sx"),
      sum(col("syf")).as("sy"), sum(col("sxyf")).as("sxy"),
      sum(col("sxxf")).as("sxx"))
    val coef = per.crossJoin(broadcast(tot))
      .select(col("fold"), col("nf"),
        (col("n") - col("nf")).as("np"),
        (col("sx") - col("sxf")).as("sxp"),
        (col("sy") - col("syf")).as("syp"),
        (col("sxy") - col("sxyf")).as("sxyp"),
        (col("sxx") - col("sxxf")).as("sxxp"))
      .select(col("fold"), col("nf"),
        (dbl(col("np") * col("sxyp") - col("sxp") * col("syp")) /
          dbl(col("np") * col("sxxp") - col("sxp") * col("sxp")))
          .as("slope"),
        col("np"), col("sxp"), col("syp"))
      .select(col("fold"), col("nf"), col("slope"),
        ((dbl(col("syp")) - col("slope") * dbl(col("sxp"))) /
          dbl(col("np"))).as("intercept"))
    base.join(broadcast(coef), Seq("fold"))
      .withColumn("q",
        floor(abs(dbl(col("yc")) -
          (col("intercept") + col("slope") * dbl(col("xc")))) *
          lit(1024.0)).cast("decimal(38,0)"))
      .groupBy("fold", "slope", "intercept")
      .agg(count(lit(1)).as("n_test"), sum(col("q")).as("sq"))
      .select(col("fold"), col("n_test"), col("slope"), col("intercept"),
        (dbl(col("sq")) / lit(1024.0) / col("n_test").cast("double"))
          .as("mae_cents"))
  }

  /** Shannon diversity of a categorical column per group —
    * H = ln N − (Σᵢ nᵢ·ln nᵢ)/N in nats over the category counts: the
    * standard "how balanced is this slice" readout (language mix per
    * source, domain mix per shard) a corpus-mixing stage monitors.
    *
    * Float discipline: both lns are portable over integer counts; the
    * per-group Σ nᵢ·ln nᵢ folds in category order (each term one exact
    * int→double product), and the division by N is single. Scale
    * shape: one (group, category) hash aggregate, then a group-level
    * aggregate whose fold state is the group's category list —
    * bounded by the category domain, never by rows. */
  def shannonDiversity(df: DataFrame, groupCol: String,
                       catCol: String): DataFrame = {
    val cnt = df.groupBy(col(groupCol).as("g"), col(catCol).as("c"))
      .agg(count(lit(1)).as("ni"))
    cnt.withColumn("term",
        col("ni").cast("double") * Pmath.lnColumn(col("ni")))
      .groupBy("g")
      .agg(count(lit(1)).as("n_cats"), sum(col("ni")).as("n"),
        Exact.orderedSum(col("term"), col("c")).as("s"))
      .select(col("g").as(groupCol), col("n_cats"), col("n"),
        (Pmath.lnColumn(col("n")) - col("s") / col("n").cast("double"))
          .as("entropy"))
  }

  /** Bradley–Terry strength fitting by `iters` unrolled MM rounds
    * (Bradley & Terry 1952; Hunter 2004's minorization update
    * θ'_i = W_i / Σ_{j≠i} n_ij/(θ_i+θ_j), unnormalized between
    * rounds): the arena-ranking fit over pairwise win counts.
    *
    * Scale contract: `wins` is ITEM-pair-bounded (both directions
    * present, zero-win rows included) — the row-scale comparison work
    * happens upstream (e.g. all pairwise strict-win counts from ONE
    * value spine via [[Rank.withCumSums]]); every MM round is joins +
    * ordered folds over the ≤ items² frame. Doubles follow the
    * standing fold discipline (per-i sums fold in j order, final
    * normalizer folds in i order), so the fit replays bit-exactly as
    * unrolled SQL rounds.
    *
    * @param wins (i, j, w) strict win counts, both ordered directions
    * @return (i, theta, p) — round-`iters` strength and its
    *         normalized share */
  def bradleyTerry(wins: DataFrame, iters: Int = 3): DataFrame = {
    // each MM round references θ twice (θ_i, θ_j) and nij once; without
    // lineage truncation the upstream win-count plan re-executes
    // O(2^iters) times — checkpoint the ITEM-pair-bounded frames once
    // and the tiny θ each round (the logstar/kCore discipline)
    val nij = wins.as("x").join(wins.as("y"),
        col("x.i") === col("y.j") && col("x.j") === col("y.i"))
      .select(col("x.i").as("i"), col("x.j").as("j"),
        (col("x.w") + col("y.w")).as("n"))
      .localCheckpoint(true)
    val wi = wins.groupBy("i").agg(sum("w").as("wi")).localCheckpoint(true)
    var th = wi.select(col("i"), lit(1.0).as("th"))
    for (_ <- 1 to iters) {
      val terms = nij
        .join(th.select(col("i").as("ii"), col("th").as("thi")),
          col("i") === col("ii"))
        .join(th.select(col("i").as("jj"), col("th").as("thj")),
          col("j") === col("jj"))
        .select(col("i"), col("j"),
          (col("n").cast("double") / (col("thi") + col("thj")))
            .as("term"))
      val den = terms.groupBy("i")
        .agg(Exact.orderedSum(col("term"), col("j")).as("den"))
      th = wi.join(den, Seq("i"))
        .select(col("i"), (col("wi").cast("double") / col("den")).as("th"))
        .localCheckpoint(true)
    }
    val z = th.groupBy().agg(Exact.orderedSum(col("th"), col("i")).as("z"))
    th.crossJoin(broadcast(z))
      .select(col("i"), col("th").as("theta"),
        (col("th") / col("z")).as("p"))
  }

  /** Pairwise exact 1-D Wasserstein-1 (earth mover's) distances
    * between the per-group empirical distributions of an integer-
    * quantized value (callers pass cents — `floor(value·100)` — so
    * every interval width is an integer):
    * W1(A,B) = ∫ |F_A − F_B| dv
    *         = Σ_i |F_A(v_i) − F_B(v_i)| · (v_{i+1} − v_i),
    * computed over the merged distinct-value spine with
    * cross-multiplied ECDFs — the per-interval contribution
    * |c_A·n_B − c_B·n_A| · gap is computed in decimal(38,0) from the
    * first cross-multiplication (at 100 TB the cumulative-count ×
    * group-count product exceeds 2⁶³, so a long intermediate would
    * silently wrap while DuckDB's HUGEINT raises), the total a decimal
    * sum, and the one division happens at the very end
    * (string-mediated decimal→double, the x_grain_rollup recipe).
    *
    * Scale shape: ONE spine serves every requested pair — a single
    * hash aggregate to distinct values carrying one count column per
    * group, the FUSED [[Rank.withCumSumsLead1]] for all CDFs and the
    * interval widths in one distributed pass, then an explode to
    * (pair, contribution) rows and one hash aggregate. No
    * single-partition window anywhere; the spine is bounded by the
    * distinct quantized values, not by rows. */
  def wassersteinPairs(df: DataFrame, groupCol: String,
                       valueCents: Column,
                       pairs: Seq[(String, String)]): DataFrame = {
    val groups = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val f = df.select(valueCents.as("v"), col(groupCol).as("g"))
      .where(col("g").isin(groups: _*) && col("v").isNotNull)
    val aCols = groups.map(g =>
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"a_$g"))
    val perV = f.groupBy("v").agg(aCols.head, aCols.tail: _*)
    // fused cum+lead: one range exchange, one pin, one WindowExec for
    // all CDFs AND the interval widths (bit-identical to the chain)
    val led = Rank.withCumSumsLead1(perV, "v",
      groups.map(g => s"a_$g" -> s"c_$g"), "v", "v_next")
    val nCols = groups.map(g =>
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"n_$g"))
    val tot = f.groupBy().agg(nCols.head, nCols.tail: _*)
    val pairRows = led.crossJoin(broadcast(tot))
      .where(col("v_next").isNotNull)
      .select(explode(array(pairs.map { case (ga, gb) =>
        struct(lit(ga).as("g_a"), lit(gb).as("g_b"),
          col(s"n_$ga").as("n_a"), col(s"n_$gb").as("n_b"),
          (abs(col(s"c_$ga").cast("decimal(38,0)") * col(s"n_$gb") -
            col(s"c_$gb").cast("decimal(38,0)") * col(s"n_$ga")) *
            (col("v_next") - col("v"))).as("contrib"))
      }: _*)).as("p"))
      .select(col("p.g_a"), col("p.g_b"), col("p.n_a"), col("p.n_b"),
        col("p.contrib"))
    pairRows.groupBy("g_a", "g_b", "n_a", "n_b")
      .agg(sum(col("contrib").cast("decimal(38,0)")).as("w_num"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        (col("w_num").cast("string").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double") *
            lit(100.0))).as("w1"))
  }

  /** Cliff's delta ordinal effect size between the rows matching `inA`
    * and those matching `inB`: δ = (#{a>b} − #{a<b}) / (n_a·n_b) — the
    * distribution-free companion readout to [[mannWhitneyU]]'s z (how
    * BIG is the stochastic dominance, not just how significant).
    *
    * Exact: pair counts come from the shared distinct-value spine —
    * for each value v, A-rows at v beat exactly the B-rows strictly
    * below v (the exclusive B-cumulative), so
    * #{a>b} = Σ_v ca_v · cumB_excl_v, and symmetrically for `<` with
    * the B-rows strictly above. Products accumulate in decimal(38,0)
    * (n_a·n_b passes 2⁶³ near 10¹⁰ rows); the single division lands at
    * the very end, and the n_gt/n_lt READOUT casts back to BIGINT
    * (exact below ~10⁹·10⁹ pairs ≈ 2⁶³; past that read the decimal
    * accumulators upstream of the final select). Scale shape: one
    * value-spine aggregate + [[Rank.withCumSums]] + a 1-row reduce —
    * no pair materialization, no single-partition window. */
  def cliffsDelta(df: DataFrame, inA: Column, inB: Column,
                  valueCol: Column): DataFrame = {
    val f = df.filter(inA || inB).select(valueCol.as("v"),
      when(inA, 1L).otherwise(0L).as("ya")).where(col("v").isNotNull)
    val perV = f.groupBy("v").agg(sum("ya").as("ca"),
      (count(lit(1)) - sum("ya")).as("cb"))
    val cum = Rank.withCumSums(perV, Seq("v"),
      Seq("ca" -> "cuma", "cb" -> "cumb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tot = f.agg(sum("ya").as("na"), (count(lit(1)) - sum("ya")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .select(
        (dec(col("ca")) * (col("cumb") - col("cb"))).as("gt"),
        (dec(col("ca")) * (col("nb") - col("cumb"))).as("lt"),
        col("na"), col("nb"))
      .groupBy("na", "nb")
      .agg(sum("gt").as("n_gt"), sum("lt").as("n_lt"))
      .select(col("na"), col("nb"), col("n_gt").cast("long").as("n_gt"),
        col("n_lt").cast("long").as("n_lt"),
        ((col("n_gt") - col("n_lt")).cast("string").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")))
          .as("delta"))
  }

  /** Jonckheere–Terpstra trend statistic across ordered groups (the
    * ordered-alternative upgrade of [[kruskalWallis]]): J = Σ_{i<j}
    * U_ij where U_ij counts G_i-rows below G_j-rows (ties ½). Reported
    * doubled (j2 = 2J) so ties stay integer. `groups` supplies the
    * ordering — engine and oracle must enumerate the same sequence.
    *
    * Exact: ONE distinct-value spine carries a count column per group;
    * [[Rank.withCumSums]] yields every group's inclusive cumulative in
    * a single distributed pass, and each spine row contributes
    * Σ_{i<j} (2·c_j·cumExcl_i + c_i·c_j) in decimal(38,0); the 1-row
    * j2 READOUT casts to BIGINT (j2 ≤ n² — exact below ~3×10⁹ rows,
    * past which read the decimal sum upstream). Scale shape: spine
    * aggregate + cum pass + 1-row reduce, groups² terms per spine row
    * (parameter-bounded). */
  def jonckheere(df: DataFrame, groupCol: Column, valueCol: Column,
                 groups: Seq[String]): DataFrame = {
    val f = df.select(groupCol.as("g"), valueCol.as("v"))
      .where(col("g").isin(groups: _*) && col("v").isNotNull)
    val cnts = groups.map(g =>
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c_$g"))
    val perV = f.groupBy("v").agg(cnts.head, cnts.tail: _*)
    val cum = Rank.withCumSums(perV, Seq("v"),
      groups.map(g => s"c_$g" -> s"cum_$g"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairTerms = for {
      i <- groups.indices; j <- (i + 1) until groups.size
    } yield {
      val (gi, gj) = (groups(i), groups(j))
      dec(col(s"c_$gj")) * (lit(2L) * (col(s"cum_$gi") - col(s"c_$gi")) +
        col(s"c_$gi"))
    }
    cum.select(pairTerms.reduce(_ + _).as("term"))
      .agg(sum("term").as("j2"))
      .crossJoin(broadcast(f.agg(count(lit(1)).as("n"))))
      .select(col("n"), col("j2").cast("long").as("j2"))
  }

  /** Ansari–Bradley scale statistic between two groups: each row
    * scores min(rank, N+1−rank) (midranks under ties) and AB = the
    * A-group score sum — small AB means A sits in the tails (larger
    * dispersion). Doubled scores (2·score, integer under midranks) off
    * the shared spine: s2_v = min(m2_v, 2(N+1) − m2_v) with m2 the
    * doubled midrank; ab2 = Σ_v ca_v·s2_v in decimal, cast to BIGINT
    * only in the 1-row readout (ab2 ≤ n_a·(N+1) — exact below ~10⁹
    * rows per side). Same spine + cum + reduce shape as
    * [[cliffsDelta]]. */
  def ansariBradley(df: DataFrame, inA: Column, inB: Column,
                    valueCol: Column): DataFrame = {
    val f = df.filter(inA || inB).select(valueCol.as("v"),
      when(inA, 1L).otherwise(0L).as("ya")).where(col("v").isNotNull)
    val perV = f.groupBy("v").agg(count(lit(1)).as("cnt"),
      sum("ya").as("ca"))
    val cum = Rank.withCumSums(perV, Seq("v"), Seq("cnt" -> "cum_incl"))
    val tot = f.agg(sum("ya").as("na"),
      (count(lit(1)) - sum("ya")).as("nb"))
    val m2 = lit(2L) * (col("cum_incl") - col("cnt")) + col("cnt") + lit(1L)
    cum.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (col("ca").cast("decimal(38,0)") *
          least(m2, lit(2L) * (col("na") + col("nb") + lit(1L)) - m2))
          .as("s"))
      .groupBy("na", "nb").agg(sum("s").as("ab2"))
      .select(col("na"), col("nb"), col("ab2").cast("long").as("ab2"),
        (col("ab2").cast("string").cast("double") / lit(2.0)).as("ab_stat"))
  }

  /** Page–Hinkley drift detector per key over a daily value series,
    * run against the key's own global mean (the offline form: the
    * monitored statistic is m_t = Σ_{u≤t}(x_u − x̄), and drift fires
    * when m_t − min_{s≤t} m_s exceeds λ). Everything is integer:
    * deviations scale by n (n·x_u − S), prefix sums and prefix mins
    * stay in decimal(38,0), and the readout divides once — ph_max =
    * max_t(m_t − min m)/(n·100) in value units, with the first alarm
    * day where the scaled excess passes λ·n·100. The per-key ph_num
    * READOUT casts to BIGINT: ph ≤ n·Σ|x−x̄|·100 — exact below ~2⁶³
    * scaled deviation units per key (≈ 10¹⁴ cent-days), past which
    * read the decimal window frame upstream of the final select.
    *
    * Scale shape: one (key, day) aggregate, a 1-row-per-key totals
    * join, and ONE key-partitioned ordered window over the calendar-
    * bounded daily series — the seasonal-family shape, never a global
    * or data-sized window. */
  def pageHinkley(df: DataFrame, keyCol: String, tsCol: Column,
                  valueCol: Column, lambda: Double): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"),
        date_trunc("day", tsCol).as("day"))
      .agg(coalesce(sum(floor(valueCol * lit(100.0)).cast("long")),
        lit(0L)).as("v"))
    val tot = daily.groupBy("k").agg(count(lit(1)).as("n"),
      sum("v").as("s"))
    val w = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = daily.join(tot, Seq("k"))
      .withColumn("m",
        sum((col("n") * col("v") - col("s")).cast("decimal(38,0)")).over(w))
      .withColumn("ph", col("m") - min(col("m")).over(w))
    val thresh = (col("n") * lit(100L)).cast("decimal(38,0)") *
      lit(lambda).cast("decimal(18,6)")
    dev.groupBy(col("k").as(keyCol)).agg(
        max("n").as("n_days"),
        max("ph").as("ph_num"),
        min(when(col("ph") >= thresh, unix_seconds(col("day"))))
          .as("alarm_day_s"))
      .select(col(keyCol), col("n_days"),
        col("ph_num").cast("long").as("ph_num"), col("alarm_day_s"),
        (col("ph_num").cast("string").cast("double") /
          (col("n_days").cast("double") * lit(100.0))).as("ph_max"))
  }

  /** First four sample L-moments per group (Hosking 1990) from the
    * group's order statistics — the robust distribution fingerprint
    * (λ1 location, λ2 scale, t3 = λ3/λ2 L-skewness, t4 L-kurtosis)
    * that trains EVT/quantile models without any higher-power moment
    * blowup.
    *
    * Exactness: b_k needs Σ_i x_(i)·C(i−1,k); under ties a value v
    * occupying positions p+1..p+c contributes the hockey-stick-closed
    * form C(p+c,k+1) − C(p,k+1), so everything reads off the
    * per-group distinct-value spine with exclusive cumulatives. The
    * binomials are scaled by 24 = lcm(1..4) so they stay products (no
    * divisions): F₁=24m, F₂=12m(m−1), F₃=4m(m−1)(m−2),
    * F₄=m(m−1)(m−2)(m−3), accumulated in decimal(38,0). Headroom
    * bound: v·F₄ ≈ v·n⁴ must stay under 10³⁸ — exact up to ~10⁷ rows
    * per group at cent scale; beyond that, pre-bin the values (the
    * ksTwoSample discipline). Final λ/τ readouts are string-mediated
    * double divisions of exact decimals.
    *
    * Scale shape: one (group, value) aggregate, one key-partitioned
    * cumulative window over each group's value spine, a groups-row
    * reduce. */
  def lMoments(df: DataFrame, groupCol: String,
               valueCents: Column): DataFrame = {
    val perV = df.select(col(groupCol).as("g"), valueCents.as("v"))
      .where(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sp = perV.withColumn("p", coalesce(sum("c").over(w), lit(0L)))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def scaled(m: Column, r: Int): Column = r match {
      case 1 => dec(m) * lit(24L)
      case 2 => dec(m) * (m - lit(1L)) * lit(12L)
      case 3 => dec(m) * (m - lit(1L)) * (m - lit(2L)) * lit(4L)
      case 4 => dec(m) * (m - lit(1L)) * (m - lit(2L)) * (m - lit(3L))
    }
    def bNum(k: Int): Column =
      sum(dec(col("v")) *
        (scaled(col("p") + col("c"), k + 1) - scaled(col("p"), k + 1)))
        .as(s"b$k")
    val agg = sp.groupBy("g").agg(sum("c").as("n"),
      bNum(0), bNum(1), bNum(2), bNum(3))
    // b_k = B_k·k! / (24·n·(n−1)···(n−k)) — multiplied through by k!
    // so BOTH sides stay pure decimal products (no decimal division
    // anywhere), then ONE string-mediated double division per b_k
    val fact = Array(1L, 1L, 2L, 6L)
    def den(k: Int): Column = {
      val n = col("n")
      (1 to k).foldLeft(lit(24L).cast("decimal(38,0)") * n)(
        (acc, t) => acc * (n - lit(t.toLong)))
    }
    def b(k: Int): Column =
      (col(s"b$k") * lit(fact(k))).cast("string").cast("double") /
        den(k).cast("string").cast("double")
    val l1 = b(0)
    val l2 = lit(2.0) * b(1) - b(0)
    val l3 = lit(6.0) * b(2) - lit(6.0) * b(1) + b(0)
    val l4 = lit(20.0) * b(3) - lit(30.0) * b(2) + lit(12.0) * b(1) - b(0)
    agg.select(col("g").as(groupCol), col("n"),
      (l1 / lit(100.0)).as("l1"), (l2 / lit(100.0)).as("l2"),
      (l3 / l2).as("t3"), (l4 / l2).as("t4"))
  }

  /** Grubbs outlier statistic per group: G = max|x − x̄|/s (sample
    * std) plus the offending value — the "is the extreme point
    * believable" audit next to [[madOutliers]]' robust flags. Exact:
    * the deviation maximum runs over integers (|n·v − S|, cents), the
    * variance numerator n·Σv² − S² is decimal, G is one double
    * expression of exact operands; the argmax value rides the same
    * max(struct) so ties break on the larger value deterministically.
    * Scale: per-(group, value) aggregate + a groups-row reduce. */
  def grubbs(df: DataFrame, groupCol: String,
             valueCents: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perV = df.select(col(groupCol).as("g"), valueCents.as("v"))
      .where(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val tot = perV.groupBy("g").agg(sum(col("c")).as("n"),
      sum(dec(col("v")) * col("c")).as("s"),
      sum(dec(col("v")) * col("v") * col("c")).as("q"))
    perV.join(tot, Seq("g"))
      .select(col("g"), col("n"), col("s"), col("q"),
        struct(abs(dec(col("v")) * col("n") - col("s")).as("dev"),
          col("v").as("v")).as("dv"))
      .groupBy("g").agg(max("n").as("n"), max("s").as("s"),
        max("q").as("q"), max("dv").as("dv"))
      .select(col("g").as(groupCol), col("n"),
        (col("dv.v").cast("double") / lit(100.0)).as("outlier_value"),
        (col("dv.dev").cast("string").cast("double") /
          (col("n").cast("double") * lit(100.0))).as("max_abs_dev"),
        ((col("dv.dev").cast("string").cast("double") /
          col("n").cast("double")) /
          sqrt((col("n").cast("decimal(38,0)") * col("q") -
            col("s") * col("s")).cast("string").cast("double") /
            (col("n").cast("double") *
              (col("n").cast("double") - lit(1.0))))).as("g_stat"))
  }

  /** Theil T inequality index per group over positive cents:
    * T = (1/n)Σ (x/μ)·ln(x/μ) = [Σ x·ln x]/(n·μ) − ln μ. The cross-row
    * Σ x·ln x cannot fold ordered at data scale, so the portable ln
    * quantizes to 2⁻²⁰ fixed point per DISTINCT value (floor of the
    * identical [[Pmath.lnColumn]] double on both engines) and the
    * weighted sum Σ c_v·v·⌊2²⁰·ln v⌋ accumulates as an exact decimal —
    * associative, partition-invariant, SQL-replayable. Two portable
    * lns on the 1-row-per-group aggregate finish the formula.
    * Scale: per-(group, value) aggregate + groups-row reduce. */
  def theilIndex(df: DataFrame, groupCol: String,
                 valueCents: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perV = df.select(col(groupCol).as("g"), valueCents.as("v"))
      .where(col("v") > 0)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .withColumn("q", floor(Pmath.lnColumn(col("v")) * lit(1048576.0))
        .cast("long"))
    val agg = perV.groupBy("g").agg(sum("c").as("n"),
      sum(dec(col("v")) * col("c")).as("s"),
      sum(dec(col("v")) * col("c") * col("q")).as("xlx"))
    agg.select(col("g").as(groupCol), col("n"),
      (col("s").cast("string").cast("double") /
        (col("n").cast("double") * lit(100.0))).as("mean_value"),
      (col("xlx").cast("string").cast("double") / lit(1048576.0) /
        col("s").cast("string").cast("double") -
        (Pmath.lnColumn(col("s").cast("string").cast("double")) -
          Pmath.lnColumn(col("n").cast("double")))).as("theil_t"))
  }

  /** Exact two-sample energy distance on an integer-quantized value:
    * D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the distribution-distance
    * companion of [[wassersteinPairs]] that is zero iff the
    * distributions coincide, with every expectation an EXACT interval
    * sum off the shared distinct-value spine:
    * ΣΣ|x−y| = Σ_intervals gap·[cumA·(nB−cumB) + cumB·(nA−cumA)]
    * (ordered pairs), within-group likewise with 2·cum·(n−cum).
    * decimal(38,0) cross-products, three string-mediated double
    * divisions at the very end. Same scale shape as Wasserstein: one
    * spine aggregate, the fused [[Rank.withCumSumsLead1]], one
    * 1-row reduce. */
  def energyDistance(df: DataFrame, inA: Column, inB: Column,
                     valueCents: Column): DataFrame = {
    val f = df.filter(inA || inB).select(valueCents.as("v"),
      when(inA, 1L).otherwise(0L).as("ya")).where(col("v").isNotNull)
    val perV = f.groupBy("v").agg(sum("ya").as("ca"),
      (count(lit(1)) - sum("ya")).as("cb"))
    val led = Rank.withCumSumsLead1(perV, "v",
      Seq("ca" -> "cuma", "cb" -> "cumb"), "v", "v_next")
    val tot = f.agg(sum("ya").as("na"), (count(lit(1)) - sum("ya")).as("nb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gap = (col("v_next") - col("v"))
    val agg = led.crossJoin(broadcast(tot))
      .where(col("v_next").isNotNull)
      .select(col("na"), col("nb"),
        (gap * (dec(col("cuma")) * (col("nb") - col("cumb")) +
          dec(col("cumb")) * (col("na") - col("cuma")))).as("tab"),
        (gap * (dec(col("cuma")) * (col("na") - col("cuma")))).as("taa"),
        (gap * (dec(col("cumb")) * (col("nb") - col("cumb")))).as("tbb"))
      .groupBy("na", "nb")
      .agg(sum("tab").as("sab"), sum("taa").as("saa"),
        sum("tbb").as("sbb"))
    val dbl = (c: Column) => c.cast("string").cast("double")
    agg.select(col("na"), col("nb"),
        (dbl(col("sab")) /
          (col("na").cast("double") * col("nb").cast("double") *
            lit(100.0))).as("e_ab"),
        (lit(2.0) * dbl(col("saa")) /
          (col("na").cast("double") * col("na").cast("double") *
            lit(100.0))).as("e_aa"),
        (lit(2.0) * dbl(col("sbb")) /
          (col("nb").cast("double") * col("nb").cast("double") *
            lit(100.0))).as("e_bb"))
      .withColumn("energy",
        lit(2.0) * col("e_ab") - col("e_aa") - col("e_bb"))
  }

  /** Dickey–Fuller unit-root statistic per key on the daily cents
    * series (no lag augmentation): regress Δv_t on v_{t−1}; DF =
    * b̂/se(b̂). All six regression moments are exact decimals off ONE
    * key-partitioned lag window (calendar-bounded, the
    * [[pageHinkley]] shape); slope is the cross-multiplied integer
    * ratio (the x_linreg recipe), the residual sum of squares expands
    * to moment arithmetic in a fixed double order, and the one sqrt
    * closes the statistic. */
  def dickeyFuller(df: DataFrame, keyCol: String, tsCol: Column,
                   valueCol: Column): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"),
        date_trunc("day", tsCol).as("day"))
      .agg(coalesce(sum(floor(valueCol * lit(100.0)).cast("long")),
        lit(0L)).as("v"))
    val w = Window.partitionBy("k").orderBy("day")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairs = daily.withColumn("x", lag(col("v"), 1).over(w))
      .where(col("x").isNotNull)
      .select(col("k"), col("x"), (col("v") - col("x")).as("y"))
    val m = pairs.groupBy("k").agg(count(lit(1)).as("m"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val dbl = (c: Column) => c.cast("string").cast("double")
    val num = dec(col("m")) * col("sxy") - col("sx") * col("sy")
    val den = dec(col("m")) * col("sxx") - col("sx") * col("sx")
    m.select(col("k").as(keyCol), col("m"),
        dbl(col("sx")).as("sx"), dbl(col("sy")).as("sy"),
        dbl(col("sxx")).as("sxx"), dbl(col("sxy")).as("sxy"),
        dbl(col("syy")).as("syy"),
        (dbl(num) / dbl(den)).as("slope"), dbl(den).as("den_d"))
      .withColumn("icept",
        (col("sy") - col("slope") * col("sx")) / col("m").cast("double"))
      .withColumn("ssr",
        col("syy") + col("m").cast("double") * col("icept") * col("icept") +
          col("slope") * col("slope") * col("sxx") -
          lit(2.0) * col("icept") * col("sy") -
          lit(2.0) * col("slope") * col("sxy") +
          lit(2.0) * col("icept") * col("slope") * col("sx"))
      .select(col(keyCol), col("m"), col("slope"),
        (col("slope") /
          sqrt((col("ssr") / (col("m").cast("double") - lit(2.0))) *
            col("m").cast("double") / col("den_d"))).as("df_stat"))
  }

  /** Durbin–Watson serial-correlation statistic of the residuals of
    * each key's daily trend line: fit v_t = a + b·t by OLS (exact
    * decimal moments, the x_linreg recipe — t is the per-key day
    * index), then DW = Σ(e_t−e_{t−1})² / Σe_t² with both residual
    * sums folded t-ordered (residuals are doubles of exact operands;
    * the series is calendar-bounded per key, so the ordered fold state
    * is a bounded list — the EWMA discipline). DW ≈ 2 means
    * uncorrelated residuals; → 0 positive serial correlation. */
  def durbinWatson(df: DataFrame, keyCol: String, tsCol: Column,
                   valueCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("string").cast("double")
    val daily = df.groupBy(col(keyCol).as("k"),
        date_trunc("day", tsCol).as("day"))
      .agg(coalesce(sum(floor(valueCol * lit(100.0)).cast("long")),
        lit(0L)).as("v"))
      .withColumn("t",
        row_number().over(Window.partitionBy("k").orderBy("day")))
    val mo = daily.groupBy("k").agg(count(lit(1)).as("n"),
      sum(dec(col("t"))).as("st"), sum(dec(col("v"))).as("sv"),
      sum(dec(col("t")) * col("t")).as("stt"),
      sum(dec(col("t")) * col("v")).as("stv"))
    val fit = mo.select(col("k"), col("n"),
      (dbl(dec(col("n")) * col("stv") - col("st") * col("sv")) /
        dbl(dec(col("n")) * col("stt") - col("st") * col("st"))).as("b"),
      dbl(col("st")).as("st_d"), dbl(col("sv")).as("sv_d"))
      .withColumn("a", (col("sv_d") - col("b") * col("st_d")) /
        col("n").cast("double"))
    daily.join(fit, Seq("k"))
      .withColumn("e", col("v").cast("double") - col("a") -
        col("b") * col("t").cast("double"))
      .withColumn("de",
        col("e") - lag(col("e"), 1).over(
          Window.partitionBy("k").orderBy("t")))
      .groupBy(col("k").as(keyCol))
      .agg(max("n").as("n"), Exact.orderedSum(col("e") * col("e"), col("t")).as("sse"),
        Exact.orderedSum(when(col("de").isNotNull, col("de") * col("de"))
          .otherwise(lit(0.0)), col("t")).as("ssd"))
      .select(col(keyCol), col("n"), (col("ssd") / col("sse")).as("dw"))
  }

  /** Single-window Hurst rescaled-range readout per key on the daily
    * series: R/S over the whole span (R = range of the mean-centered
    * prefix sums, S = population std) and the point estimate
    * H = ln(R/S)/ln(n/2). Deviations scale by n so prefixes stay
    * integer (decimal(38,0)); R and S meet in one double expression;
    * both lns are the portable [[Pmath.lnColumn]]. Same
    * key-partitioned calendar-bounded window shape as
    * [[pageHinkley]]. */
  def hurstRs(df: DataFrame, keyCol: String, tsCol: Column,
              valueCol: Column): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"),
        date_trunc("day", tsCol).as("day"))
      .agg(coalesce(sum(floor(valueCol * lit(100.0)).cast("long")),
        lit(0L)).as("v"))
    val tot = daily.groupBy("k").agg(count(lit(1)).as("n"),
      sum("v").as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("q"))
    val w = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = daily.join(tot, Seq("k"))
      .withColumn("m",
        sum((col("n") * col("v") - col("s")).cast("decimal(38,0)")).over(w))
    val dbl = (c: Column) => c.cast("string").cast("double")
    pre.groupBy(col("k").as(keyCol))
      .agg(max("n").as("n"), max("s").as("s"), max("q").as("q"),
        greatest(max("m"), lit(0L).cast("decimal(38,0)")).as("mx"),
        least(min("m"), lit(0L).cast("decimal(38,0)")).as("mn"))
      .select(col(keyCol), col("n"),
        ((dbl(col("mx")) - dbl(col("mn"))) / col("n").cast("double") /
          lit(100.0)).as("r_range"),
        (sqrt((col("n").cast("decimal(38,0)") * col("q") -
          col("s") * col("s")).cast("string").cast("double")) /
          col("n").cast("double") / lit(100.0)).as("s_std"))
      .withColumn("rs", col("r_range") / col("s_std"))
      .withColumn("hurst",
        Pmath.lnColumn(col("rs")) /
          Pmath.lnColumn(col("n").cast("double") / lit(2.0)))
  }
}
