package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{Dedup, EventOps, Graphs, Prune, Sampling, Skew, Skyline}

/** Round-6 extension wave: scan-side join pruning, deterministic
  * sampling, market-basket association mining, and seasonal anomaly
  * baselines — operators a warehouse-plus-training-pipeline engine needs
  * that the earlier waves didn't cover.
  *
  * Oracle policy follows [[Ext]]: exact DuckDB SQL wherever the math is
  * portable (integer/decimal accumulation, md5 ordering, straight-line
  * double ops), rows-only + ScalaTest bounds where internals are
  * engine-specific (sketch bytes).
  */
object Ext2 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB rendering of [[Text.normText]] (same string as [[Ext]]'s). */
  private val dNorm6 =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bloom-pruned semi-join: sketch the filtered supplier key set, scan-
    // filter lineitem with the codegen'd membership probe (false
    // positives only — never drops a match), then the exact residual
    // semi-join. Result ≡ plain semi-join; the plan difference is that
    // the fact scan discards ~half its rows BEFORE any exchange. At
    // 100 TB the sketch is MBs while the key set is too large to inline
    // into a scan predicate.
    "x_bloom_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier").where(col("s_acctbal") > 5000)
      Prune.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey", fpp = 0.01)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),

    // Deterministic uniform k-per-source document sample (the
    // "reservoir" every corpus QA loop needs — inspect 5 random-but-
    // reproducible docs per source). Hash-order selection, pre-shuffle
    // top-k via WindowGroupLimit.
    "x_reservoir" -> ((s, d) =>
      Sampling.hashReservoir(t(s, d, "documents"), "source", "doc_id", k = 5)
        .select("source", "doc_id", "rk")),

    // Association rules over order baskets: distinct (order, part) items,
    // same-order pair derivation (fanout ≤ C(13,2) per order — bounded by
    // basket size, the skew guard), then support / confidence / lift per
    // directed rule x→y with min pair support 3. The basket count joins
    // in as a 1-row broadcast frame, not a driver action.
    "x_assoc_rules" -> ((s, d) => {
      val items = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = items.as("a").join(items.as("b"), Seq("o"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("x"), col("b.p").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
        .where(col("n_xy") >= 3)
      val directed = pairs.union(
        pairs.select(col("y").as("x"), col("x").as("y"), col("n_xy")))
      val itemSup = items.groupBy("p").agg(count(lit(1)).as("n_p"))
      val baskets = items.select("o").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      directed
        .join(itemSup.select(col("p").as("x"), col("n_p").as("n_x")), Seq("x"))
        .join(itemSup.select(col("p").as("y"), col("n_p").as("n_y")), Seq("y"))
        .crossJoin(broadcast(baskets))
        .select(col("x"), col("y"), col("n_xy"),
          (col("n_xy").cast("double") / col("n_x").cast("double"))
            .as("confidence"),
          (col("n_xy").cast("double") * col("n_baskets").cast("double") /
            (col("n_x").cast("double") * col("n_y").cast("double")))
            .as("lift"))
    }),

    // Seasonal anomaly baseline: hour-of-day × event-type profile
    // (decimal-exact sums → straight-line double mean/std), events
    // flagged at |z| > 3 against their own season. Two hash aggregates +
    // one broadcast-sized join back onto the stream — the shape that
    // stays two-pass at any scale.
    "x_seasonal_baseline" -> ((s, d) => {
      val dec = col("value").cast("decimal(18,2)")
      def dbl(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      val ev = t(s, d, "events")
        .withColumn("hod", hour(col("ts")))
      val prof = ev.groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n"), sum(dec).as("sx"), sum(dec * dec).as("sxx"))
        .select(col("event_type"), col("hod"), col("n"),
          (dbl(col("sx")) / dbl(col("n"))).as("mu"),
          sqrt((dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n"))) /
            (dbl(col("n")) - lit(1.0))).as("sigma"))
      ev.join(broadcast(prof), Seq("event_type", "hod"))
        .where(col("sigma") > 0 &&
          abs((col("value") - col("mu")) / col("sigma")) > lit(3.0))
        .select(col("event_id"), col("event_type"), col("hod"), col("value"),
          col("mu"), col("sigma"),
          ((col("value") - col("mu")) / col("sigma")).as("z"))
    }),

    // Hierarchy walk through Spark's OWN SQL front end (WITH RECURSIVE,
    // new in Spark 4): depth of every node in the heap-numbered binary
    // tree derived from part keys (parent p → children 2p, 2p+1). Both
    // engines run the same recursive skeleton over the same edge SQL —
    // the one operator class where both execute true recursion. DuckDB
    // inlines the edges; Spark's UnionLoop would re-plan and re-run them
    // (two part scans, a MAX scalar subquery, a broadcast) at every
    // level, so here they are localCheckpoint'ed once per call into a
    // view that each level reads. CheckpointBlocks.releaseAll frees it.
    "x_recursive_cte" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("gq6_part")
      s.sql(heapEdgesSql("gq6_part")).localCheckpoint()
        .createOrReplaceTempView("gq6_edges")
      s.sql(recursiveWalkSql("gq6_edges"))
    }),

    // The same reachability computed by the GENERIC iterative BFS
    // operator (frontier expansion, per-round checkpoints) — the form
    // that scales past SQL recursion limits; graded against the DuckDB
    // recursive CTE.
    "x_shortest_path" -> ((s, d) => {
      val part = t(s, d, "part")
        .select(col("p_partkey").cast("long").as("p"))
      val m = part.agg(max(col("p")).as("m"))
      val base = part.crossJoin(broadcast(m)).where(col("p") >= 1)
      val edges = base.where(col("p") * 2 <= col("m"))
        .select(col("p").as("src"), (col("p") * 2).as("dst"))
        .union(base.where(col("p") * 2 + 1 <= col("m"))
          .select(col("p").as("src"), (col("p") * 2 + 1).as("dst")))
      val sources = part.where(col("p") === 1).select(col("p").as("id"))
      Graphs.shortestPaths(edges, "src", "dst", sources, "id",
        maxHops = 16, directed = true)
        .select(col("id").as("node"), col("dist"))
    }),

    // Sorted-neighborhood near-dup pass: the lexicographic blocking
    // family (complement to the inverted-index / LSH passes) — one sort
    // shuffle, window-local comparisons only.
    "x_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(t(s, d, "documents"), "doc_id", "text",
        window = 4, threshold = 0.5)),

    // Unicode ingest normalization through the custom codegen
    // expressions: decompose vowels with combining marks (the dirty-
    // ingest shape), NFC-recompose, accent-fold. The corpus is ASCII, so
    // the accented forms are derived in-query — identically in the
    // oracle — to exercise the real normalization path.
    "x_unicode_norm" -> ((s, d) => {
      val dirty = regexp_replace(
        regexp_replace(col("c_name"), "e", "e\u0301"),
        "o", "o\u0302")
      t(s, d, "customer").select(col("c_custkey"),
        Text.nfcUnicode(dirty).as("composed"),
        Text.stripAccents(Text.nfcUnicode(dirty)).as("stripped"))
    }),

    // Pareto frontier (max price, min size): two-phase local/global
    // skyline — each partition reduces to its own frontier before one
    // task folds the survivors.
    "x_skyline" -> ((s, d) =>
      Skyline.skyline2D(t(s, d, "part"), "p_retailprice", "p_size")),

    // One-sided CUSUM drift statistic per user — the sequential
    // change-point tripwire; ts-ordered left-to-right fold (the ewma
    // skeleton), bit-replayable by the oracle's list_reduce.
    "x_cusum" -> ((s, d) =>
      EventOps.cusumDrift(t(s, d, "events"), "user_id", "ts", "event_id",
        "value", target = 50.0, slack = 5.0, threshold = 500.0)),

    // Last-touch attribution: each purchase credited to the same user's
    // latest click within 7 days — one keyed window pass, no self-join.
    "x_attribution" -> ((s, d) =>
      EventOps.lastTouch(t(s, d, "events"), "user_id", "ts", "event_id",
        "event_type", sourceType = "click", targetType = "purchase",
        horizonSec = 7L * 86400)
        .select(col("user_id"), col("target_id"),
          unix_micros(col("target_ts")).as("target_us"),
          col("source_id"), col("lag_us"))),

    // Hourly spine with LINEAR interpolation between observed neighbor
    // means (LOCF's numeric twin; edges extend flat).
    "x_interpolate" -> ((s, d) =>
      EventOps.interpolateHourly(
        t(s, d, "events").where(col("user_id") % 10 === 0),
        "user_id", "ts", "value")),

    // Per-group OLS regression line (extended price ~ quantity) from
    // decimal-exact moment sums — the analytics sibling of
    // x_corr_stats; one hash aggregate, straight-line double math.
    "x_linreg" -> ((s, d) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def dbl(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          ((dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
            (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))))
            .as("slope"),
          ((dbl(col("sy")) - ((dbl(col("n")) * dbl(col("sxy")) -
            dbl(col("sx")) * dbl(col("sy"))) /
            (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))) *
            dbl(col("sx"))) / dbl(col("n"))).as("intercept"))
    }),

    // Multi-grain time rollup where the coarse grain derives from the
    // FINE grain's partials, never from raw rows — the pre-aggregation
    // reuse pattern that turns a daily report at 100 TB into a sum over
    // 24 hourly partials. Partials are fixed-point CENTS (the
    // timeWeightedAvg recipe): floor(value·100) is the same IEEE op in
    // every engine, integer sums are exact at every grain, and the one
    // decimal→double hop at the end is string-mediated — native wide-
    // decimal→double casts tie-round differently across engines (Spark
    // HALF_UP vs DuckDB half-even), which is exactly the bug a
    // per-value decimal(18,2) cast had here.
    "x_grain_rollup" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(100.0)).cast("decimal(38,0)"))
            .as("cents"))
      val daily = hourly
        .groupBy(col("event_type"), date_trunc("day", col("bucket")).as("bucket"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      hourly.withColumn("grain", lit("hour"))
        .unionByName(daily.withColumn("grain", lit("day")))
        .select(col("grain"), col("event_type"),
          unix_seconds(col("bucket")).as("bucket_s"), col("n"),
          (col("cents").cast("string").cast("double") / lit(100.0))
            .as("total"))
    }),

    // Incremental corpus dedup: which NEW docs (the batch) open with a
    // leading chunk already present in the historical corpus — the
    // bloom operator composed over STRING keys (UTF-8-byte probes, no
    // hash truncation): the history's fingerprint sketch prunes the
    // batch scan, the residual semi-join keeps it exact. The key is the
    // first-5-word normalized prefix (a chunk fingerprint), the shape an
    // ingest job ships to the NEXT day's run instead of the corpus.
    "x_incremental_dedup" -> ((s, d) => {
      val n = t(s, d, "documents").withColumn("k",
        concat_ws(" ", slice(split(Text.normText(col("text")), " "), 1, 5)))
      val hist = n.where(col("doc_id") % 10 =!= 0).select("k")
      val batch = n.where(col("doc_id") % 10 === 0)
      Prune.bloomSemiJoin(batch, "k", hist, "k").select("doc_id")
    }),

    // Deterministic MODE per group (count desc, value asc — Spark's and
    // DuckDB's built-in mode()s both break ties arbitrarily, which can
    // never pass a hash gate): one count aggregate + one tiny window
    // over the distinct-value frame.
    "x_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("n").desc, col("l_quantity").asc)
      counts.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"),
          col("n").as("mode_count"))
    }),

    // Deterministic argmax/argmin: the order whose total price is the
    // group max (ties broken on the smaller key by packing (value, -key)
    // into an ordered struct) — built-in max_by/arg_max tie-break is
    // engine-arbitrary, the struct-max form is total and portable.
    "x_argmax" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          max(struct(col("o_totalprice").cast("decimal(18,2)").as("v"),
            (-col("o_orderkey")).as("nk"))).as("mx"),
          min(struct(col("o_totalprice").cast("decimal(18,2)").as("v"),
            col("o_orderkey").as("k"))).as("mn"))
        .select(col("o_orderstatus"),
          col("mx.v").cast("double").as("max_price"),
          (-col("mx.nk")).as("max_orderkey"),
          col("mn.v").cast("double").as("min_price"),
          col("mn.k").as("min_orderkey"))),

    // Gaps-and-islands: consecutive runs of high-value order keys per
    // status, via the row_number difference trick — the classic SQL
    // islands pattern (one sort window + one aggregate); the price
    // filter is what creates the gaps.
    "x_islands" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("bucket").orderBy("k")
      t(s, d, "orders")
        .where(col("o_totalprice") > 150000)
        .select(col("o_orderstatus").as("bucket"), col("o_orderkey").as("k"))
        .withColumn("grp", col("k") - row_number().over(w))
        .groupBy("bucket", "grp")
        .agg(min(col("k")).as("island_start"), max(col("k")).as("island_end"),
          count(lit(1)).as("island_len"))
        .drop("grp")
    }),

    // Rolling exact median over the trailing 5-event ROWS frame per
    // user: collect the frame's values in-row (state = frame width,
    // never the stream), sort, interpolate the middle — the exact
    // windowed-percentile shape; DuckDB replays it with windowed
    // quantile_cont.
    "x_rolling_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      val xs = array_sort(collect_list(col("value")).over(w))
      val n = size(xs)
      val lo = element_at(xs, ((n + 1) / 2).cast("int"))
      val hi = element_at(xs, (n / 2).cast("int") + 1)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          // lo*0.5 + hi*0.5, NOT lo+(hi-lo)*0.5: DuckDB's quantile_cont
          // lerps as lower*(1-f) + upper*f, and the delta form differs
          // by an ulp on some doubles (e.g. 6.38/18.18 → …001)
          (lo * 0.5 + hi * 0.5).as("rolling_median"))
    }),

    // Per-group min-max feature scaling — one tiny profile aggregate
    // broadcast back; constant groups scale to 0 (guarded divide).
    "x_minmax_scale" -> ((s, d) => {
      val ev = t(s, d, "events")
      val prof = ev.groupBy("event_type")
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      ev.join(broadcast(prof), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("vmax") > col("vmin"),
            (col("value") - col("vmin")) / (col("vmax") - col("vmin")))
            .otherwise(lit(0.0)).as("scaled"))
    }),

    // Skew mitigation graded end-to-end: the salted join splits each hot
    // key across 8 reducers (salt affects PLACEMENT only), and the
    // result is row-identical to the plain join — which is exactly what
    // the oracle replays.
    "x_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_acctbal"))
      Skew.saltedJoin(li, sup, "l_suppkey", factor = 8)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          max(col("s_acctbal")).as("acctbal"))
    }),

    // Two-phase salted aggregation: partial on (key, salt), final on
    // key — decimal partials make the re-association exact, so the
    // skew-split plan hash-matches the single-phase oracle.
    "x_salted_agg" -> ((s, d) =>
      Skew.saltedSumCount(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", factor = 8)),

    // Exact weighted median (revenue-weighted quantity): per-group cum-
    // weight crossing in INTEGER cents — one aggregate + one window over
    // the (group, value) frame, never a per-group sort of raw rows.
    "x_weighted_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val byQ = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(sum(w).as("wq"))
      val cum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      val tot = Window.partitionBy("l_returnflag")
      byQ.withColumn("cum", sum(col("wq")).over(cum))
        .withColumn("total", sum(col("wq")).over(tot))
        .where(col("cum") * 2 >= col("total"))
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("weighted_median"),
          max(col("total")).as("total_cents"))
    }),

    // k-core of the co-purchase graph: iterative peeling to the maximal
    // subgraph of min-degree k — the graph-density filter. The oracle
    // UNROLLS the peel (simultaneous-removal rounds are idempotent past
    // the fixpoint, so a fixed over-provisioned round count replays the
    // iteration exactly); GraphsSpec additionally proves ≡ a brute-force
    // sequential peel.
    "x_kcore" -> ((s, d) => {
      val items = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"), Seq("o"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      Graphs.kCore(edges, "u", "v", k = 80)
    }),

    // Prefix-filtered EXACT set-similarity join (PPJoin family):
    // candidates only from each doc's rarest-token prefix — lossless
    // recall by the pigeonhole bound, and hot tokens never generate
    // candidates (the free version of the inverted index's maxBucket
    // trade-off).
    "x_ppjoin" -> ((s, d) =>
      Dedup.prefixFilterJoin(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.8)),

    // Asymmetric containment near-dup pairs (|A∩B|/|A|): the "document
    // swallowed inside a bigger one" detector Jaccard under-scores;
    // same inverted-index single-shuffle shape as the Jaccard pass.
    "x_containment" -> ((s, d) =>
      Dedup.shingleContainment(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, maxBucket = 1000)),

    // Declarative data-quality audit: FK integrity (anti-joins), key
    // uniqueness, domain/range rules — one queryable violations table,
    // the dbt-tests/Great-Expectations surface as a single plan. Each
    // check is an independent branch (shared scans dedupe via AQE
    // exchange reuse); at 100 TB the anti-join side is the bloom-
    // pruning use case (Prune.bloomSemiJoin with exact=false inverted).
    "x_dq_audit" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val p = t(s, d, "part")
      val su = t(s, d, "supplier"); val ev = t(s, d, "events")
      def check(name: String, viol: DataFrame): DataFrame =
        viol.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("chk"), col("n_violations"))
      check("fk_lineitem_orders",
        li.join(o.select("o_orderkey"),
          li("l_orderkey") === o("o_orderkey"), "left_anti"))
        .unionByName(check("fk_lineitem_part",
          li.join(p.select("p_partkey"),
            li("l_partkey") === p("p_partkey"), "left_anti")))
        .unionByName(check("fk_lineitem_supplier",
          li.join(su.select("s_suppkey"),
            li("l_suppkey") === su("s_suppkey"), "left_anti")))
        .unionByName(check("fk_orders_customer",
          o.join(c.select("c_custkey"),
            o("o_custkey") === c("c_custkey"), "left_anti")))
        .unionByName(check("dup_custkey",
          c.groupBy("c_custkey").agg(count(lit(1)).as("n"))
            .where(col("n") > 1)))
        .unionByName(check("nonpositive_quantity",
          li.where(col("l_quantity") <= 0)))
        .unionByName(check("negative_acctbal",
          c.where(col("c_acctbal") < 0)))
        .unionByName(check("null_event_value",
          ev.where(col("value").isNull)))
    }),

    // Mergeable distinct-count sketches (Apache DataSketches HLL via
    // Spark's hll_* functions): per-source sketches roll up to the
    // global estimate by sketch UNION — the one-pass architecture that
    // answers "distinct per partition AND overall" without rescanning.
    // Round-9 graded form (verdict item 4): the raw estimates are
    // DataSketches-internal, so the output is the verdict — exact
    // distinct counts (DuckDB-verified) plus a BOOLEAN asserting each
    // estimate (including the UNION-merged __all__ row) lands within 5%
    // of exact (Wave6Spec measured the same bound). Oracle emits TRUE.
    "x_hll_rollup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sk = docs.groupBy("source")
        .agg(hll_sketch_agg(col("text")).as("sk"),
          countDistinct(col("text")).as("n_exact"))
      val per = sk.select(col("source"), col("n_exact"),
        hll_sketch_estimate(col("sk")).as("est"))
      val allRow = sk.agg(hll_union_agg(col("sk")).as("g"))
        .select(hll_sketch_estimate(col("g")).as("est"))
        .crossJoin(broadcast(
          docs.agg(countDistinct(col("text")).as("n_exact"))))
        .select(lit("__all__").as("source"), col("n_exact"), col("est"))
      per.unionByName(allRow)
        .select(col("source"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <=
            lit(0.05) * col("n_exact")).as("hll_ok"))
    }))

  /** The (parent, child) edges of the heap-numbered tree over
    * `partTable`'s keys, as a parenthesized relation: children 2p and
    * 2p+1 of every key p ≥ 1, kept while ≤ the largest key. */
  private def heapEdgesSql(partTable: String): String =
    s"""(SELECT parent, child FROM (
                  SELECT CAST(p_partkey AS BIGINT) AS parent,
                         CAST(p_partkey AS BIGINT) * 2 AS child
                  FROM $partTable WHERE p_partkey >= 1
                  UNION ALL
                  SELECT CAST(p_partkey AS BIGINT),
                         CAST(p_partkey AS BIGINT) * 2 + 1
                  FROM $partTable WHERE p_partkey >= 1) c
                WHERE child <= (SELECT MAX(CAST(p_partkey AS BIGINT))
                                FROM $partTable))"""

  /** The recursive tree walk from node 1 over the `edges` relation (a
    * table name or a parenthesized [[heapEdgesSql]]), shared by both
    * engines. */
  private def recursiveWalkSql(edges: String): String =
    s"""WITH RECURSIVE walk (node, depth) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM walk w
          JOIN $edges e
            ON e.parent = w.node)
        SELECT node, depth FROM walk"""

  val oracle: Map[String, String] = Map(

    // sketch verdict (round-9): exact distinct counts natively, literal
    // TRUE for the 5% tolerance claim — engine flips FALSE on drift
    "x_hll_rollup" ->
      """SELECT source, count(DISTINCT text) AS n_exact, TRUE AS hll_ok
         FROM documents GROUP BY source
         UNION ALL
         SELECT '__all__' AS source, count(DISTINCT text) AS n_exact,
                TRUE AS hll_ok
         FROM documents""",

    // the peel unrolled: measured fixpoint at sf0.01 is 6 rounds; 16
    // MATERIALIZED rounds give margin (idempotent once stable, so extra
    // rounds cannot change the result — only miss a too-deep fixpoint,
    // which would fail the hash gate loudly, not silently)
    "x_kcore" -> {
      val k = 80
      val rounds = 16
      val peel = (1 to rounds).map { i =>
        s""", k$i AS MATERIALIZED (SELECT id FROM (
              SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e${i - 1}
                UNION ALL SELECT v AS id FROM e${i - 1}) b$i
              GROUP BY id) d$i WHERE deg >= $k),
          e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
            WHERE u IN (SELECT id FROM k$i) AND v IN (SELECT id FROM k$i))"""
      }.mkString
      s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
              l_partkey AS p FROM lineitem),
          e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p)$peel
          SELECT id, count(*) AS deg FROM (
            SELECT u AS id FROM e$rounds
            UNION ALL SELECT v AS id FROM e$rounds) fin
          GROUP BY id"""
    },

    "x_bloom_join" ->
      """SELECT l_suppkey, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
         GROUP BY l_suppkey""",

    "x_reservoir" ->
      """SELECT source, doc_id, rk FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5""",

    "x_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                        FROM lineitem),
         pairs AS (SELECT a.p AS x, b.p AS y, count(*) AS n_xy
                   FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
                   GROUP BY 1, 2 HAVING count(*) >= 3),
         directed AS (SELECT x, y, n_xy FROM pairs
                      UNION ALL SELECT y, x, n_xy FROM pairs),
         sup AS (SELECT p, count(*) AS n_p FROM items GROUP BY 1),
         nb AS (SELECT count(DISTINCT o) AS n_baskets FROM items)
         SELECT d.x, d.y, d.n_xy,
                d.n_xy::DOUBLE / sx.n_p::DOUBLE AS confidence,
                d.n_xy::DOUBLE * nb.n_baskets::DOUBLE /
                  (sx.n_p::DOUBLE * sy.n_p::DOUBLE) AS lift
         FROM directed d
         JOIN sup sx ON sx.p = d.x
         JOIN sup sy ON sy.p = d.y
         CROSS JOIN nb""",

    "x_seasonal_baseline" ->
      """WITH ev AS (SELECT *, hour(ts) AS hod FROM events),
         m AS (SELECT event_type, hod, count(*) AS n,
                      sum(CAST(value AS DECIMAL(18,2))) AS sx,
                      sum(CAST(value AS DECIMAL(18,2)) *
                          CAST(value AS DECIMAL(18,2))) AS sxx
               FROM ev GROUP BY 1, 2),
         prof AS (SELECT event_type, hod, n,
                  CAST(CAST(sx AS VARCHAR) AS DOUBLE) /
                    CAST(CAST(n AS VARCHAR) AS DOUBLE) AS mu,
                  sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) -
                        CAST(CAST(sx AS VARCHAR) AS DOUBLE) *
                        CAST(CAST(sx AS VARCHAR) AS DOUBLE) /
                        CAST(CAST(n AS VARCHAR) AS DOUBLE)) /
                       (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0)) AS sigma
                  FROM m)
         SELECT ev.event_id, ev.event_type, ev.hod, ev.value, prof.mu,
                prof.sigma, (ev.value - prof.mu) / prof.sigma AS z
         FROM ev JOIN prof USING (event_type, hod)
         WHERE prof.sigma > 0
           AND abs((ev.value - prof.mu) / prof.sigma) > 3.0""",

    "x_sorted_neighborhood" ->
      s"""WITH b AS (SELECT doc_id AS id, $dNorm6 AS k,
                     list_distinct(string_split($dNorm6, ' ')) AS ws
              FROM documents),
         l AS (SELECT id, ws,
                 lead(struct_pack(id := id, ws := ws), 1) OVER w AS n1,
                 lead(struct_pack(id := id, ws := ws), 2) OVER w AS n2,
                 lead(struct_pack(id := id, ws := ws), 3) OVER w AS n3
               FROM b WINDOW w AS (PARTITION BY substr(k, 1, 1)
                                   ORDER BY k, id)),
         p AS (SELECT id, ws, unnest([n1, n2, n3]) AS nb FROM l),
         j AS (SELECT id, nb.id AS nid,
                      len(list_intersect(ws, nb.ws)) AS i,
                      len(ws) + len(nb.ws) AS s
               FROM p WHERE nb.id IS NOT NULL)
         SELECT least(id, nid) AS doc_a, greatest(id, nid) AS doc_b,
                i::DOUBLE / (s - i)::DOUBLE AS jaccard
         FROM j WHERE s - i > 0 AND i::DOUBLE / (s - i)::DOUBLE >= 0.5""",

    "x_unicode_norm" ->
      """SELECT c_custkey,
           nfc_normalize(replace(replace(c_name, 'e', 'e' || chr(769)),
                                 'o', 'o' || chr(770))) AS composed,
           strip_accents(
             nfc_normalize(replace(replace(c_name, 'e', 'e' || chr(769)),
                                   'o', 'o' || chr(770)))) AS stripped
         FROM customer""",

    "x_skyline" ->
      """SELECT CAST(p_retailprice AS DOUBLE) AS x,
                CAST(p_size AS DOUBLE) AS y
         FROM part p1
         WHERE NOT EXISTS (
           SELECT 1 FROM part p2
           WHERE p2.p_retailprice >= p1.p_retailprice
             AND p2.p_size <= p1.p_size
             AND (p2.p_retailprice > p1.p_retailprice
                  OR p2.p_size < p1.p_size))""",

    "x_cusum" ->
      """WITH per AS (SELECT user_id,
                      list(value ORDER BY ts, event_id) AS xs,
                      count(*) AS n FROM events GROUP BY user_id),
         c AS (SELECT user_id, n AS n_events,
                 list_reduce(list_prepend(CAST('0.0' AS DOUBLE), xs),
                   (a, x) -> greatest(CAST('0.0' AS DOUBLE),
                                      a + x - CAST('55.0' AS DOUBLE))) AS cusum
               FROM per)
         SELECT user_id, n_events, cusum,
                cusum > CAST('500.0' AS DOUBLE) AS alarm FROM c""",

    "x_attribution" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
                    WHERE event_type IN ('click', 'purchase')),
         w AS (SELECT user_id, ts, event_id, event_type,
                 last_value(CASE WHEN event_type = 'click'
                     THEN struct_pack(sts := ts, sid := event_id) END
                   IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS src
               FROM e)
         SELECT user_id, event_id AS target_id, epoch_us(ts) AS target_us,
                CASE WHEN src IS NOT NULL
                      AND epoch_us(ts) - epoch_us(src.sts) <= 604800000000
                     THEN src.sid END AS source_id,
                CASE WHEN src IS NOT NULL
                      AND epoch_us(ts) - epoch_us(src.sts) <= 604800000000
                     THEN epoch_us(ts) - epoch_us(src.sts) END AS lag_us
         FROM w WHERE event_type = 'purchase'""",

    "x_interpolate" ->
      """WITH base AS (SELECT user_id,
                       epoch_us(ts) // 3600000000 -
                         CASE WHEN epoch_us(ts) % 3600000000 < 0
                              THEN 1 ELSE 0 END AS h,
                       CAST(value AS DECIMAL(18,2)) AS v
                FROM events WHERE user_id % 10 = 0),
         hourly AS (SELECT user_id, h,
                      CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) /
                        CAST(CAST(count(*) AS VARCHAR) AS DOUBLE) AS v
                    FROM base GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1
                    FROM hourly GROUP BY 1),
         spine AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds),
         j AS (SELECT s.user_id, s.h, hourly.v
               FROM spine s LEFT JOIN hourly USING (user_id, h)),
         f AS (SELECT user_id, h, v,
                 last_value(CASE WHEN v IS NOT NULL
                     THEN struct_pack(oh := h, ov := v) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                 first_value(CASE WHEN v IS NOT NULL
                     THEN struct_pack(oh := h, ov := v) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
               FROM j)
         SELECT user_id, h AS epoch_hour,
                CASE WHEN v IS NOT NULL THEN v
                     WHEN p IS NOT NULL AND nx IS NOT NULL
                     THEN p.ov + (nx.ov - p.ov) *
                          (h - p.oh)::DOUBLE / (nx.oh - p.oh)::DOUBLE
                     WHEN p IS NOT NULL THEN p.ov
                     ELSE nx.ov END AS value,
                CASE WHEN v IS NOT NULL THEN 'observed'
                     WHEN p IS NOT NULL AND nx IS NOT NULL THEN 'interp'
                     WHEN p IS NOT NULL THEN 'carry'
                     ELSE 'backfill' END AS src
         FROM f""",

    "x_linreg" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
           sum(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
           sum(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_quantity AS DECIMAL(18,2))) AS sxx
           FROM lineitem GROUP BY 1),
         dd AS (SELECT l_returnflag, n,
           CAST(CAST(n AS VARCHAR) AS DOUBLE) AS n0,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx
           FROM m)
         SELECT l_returnflag, n,
                (n0 * sxy - sx * sy) / (n0 * sxx - sx * sx) AS slope,
                (sy - ((n0 * sxy - sx * sy) / (n0 * sxx - sx * sx)) * sx) / n0
                  AS intercept
         FROM dd""",

    "x_grain_rollup" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                           count(*) AS n,
                           sum(CAST(floor(value * 100.0) AS HUGEINT)) AS cents
                         FROM events GROUP BY 1, 2),
         daily AS (SELECT event_type, date_trunc('day', bucket) AS bucket,
                     sum(n) AS n, sum(cents) AS cents
                   FROM hourly GROUP BY 1, 2)
         SELECT 'hour' AS grain, event_type, epoch(bucket)::BIGINT AS bucket_s,
                n::BIGINT AS n,
                CAST(CAST(cents AS VARCHAR) AS DOUBLE) / 100.0 AS total
         FROM hourly
         UNION ALL
         SELECT 'day', event_type, epoch(bucket)::BIGINT, n::BIGINT,
                CAST(CAST(cents AS VARCHAR) AS DOUBLE) / 100.0 FROM daily""",

    "x_incremental_dedup" ->
      s"""WITH n AS (SELECT doc_id,
            array_to_string((string_split($dNorm6, ' '))[1:5], ' ') AS k
            FROM documents)
          SELECT doc_id FROM n
          WHERE doc_id % 10 = 0
            AND k IN (SELECT k FROM n WHERE doc_id % 10 <> 0)""",

    "x_mode" ->
      """SELECT l_returnflag, mode_quantity, mode_count FROM (
           SELECT l_returnflag, l_quantity AS mode_quantity, n AS mode_count,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY n DESC, l_quantity ASC) AS rk
           FROM (SELECT l_returnflag, l_quantity, count(*) AS n
                 FROM lineitem GROUP BY 1, 2))
         WHERE rk = 1""",

    "x_argmax" ->
      """WITH mx AS (SELECT o_orderstatus,
                       max(CAST(o_totalprice AS DECIMAL(18,2))) AS v
                     FROM orders GROUP BY 1),
         mn AS (SELECT o_orderstatus,
                  min(CAST(o_totalprice AS DECIMAL(18,2))) AS v
                FROM orders GROUP BY 1)
         SELECT o.o_orderstatus,
                CAST(mx.v AS DOUBLE) AS max_price,
                min(CASE WHEN CAST(o.o_totalprice AS DECIMAL(18,2)) = mx.v
                         THEN o.o_orderkey END) AS max_orderkey,
                CAST(mn.v AS DOUBLE) AS min_price,
                min(CASE WHEN CAST(o.o_totalprice AS DECIMAL(18,2)) = mn.v
                         THEN o.o_orderkey END) AS min_orderkey
         FROM orders o
         JOIN mx ON mx.o_orderstatus = o.o_orderstatus
         JOIN mn ON mn.o_orderstatus = o.o_orderstatus
         GROUP BY o.o_orderstatus, mx.v, mn.v""",

    "x_islands" ->
      """WITH b AS (SELECT o_orderstatus AS bucket, o_orderkey AS k
                    FROM orders WHERE o_totalprice > 150000),
         g AS (SELECT bucket, k,
                 k - row_number() OVER (PARTITION BY bucket ORDER BY k) AS grp
               FROM b)
         SELECT bucket, min(k) AS island_start, max(k) AS island_end,
                count(*) AS island_len
         FROM g GROUP BY bucket, grp""",

    "x_rolling_median" ->
      """SELECT user_id, event_id, value,
           quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_median
         FROM events""",

    "x_minmax_scale" ->
      """WITH prof AS (SELECT event_type, min(value) AS vmin,
                        max(value) AS vmax
                      FROM events GROUP BY 1)
         SELECT event_id, e.event_type, value,
                CASE WHEN vmax > vmin
                     THEN (value - vmin) / (vmax - vmin)
                     ELSE 0.0 END AS scaled
         FROM events e JOIN prof USING (event_type)""",

    "x_salted_join" ->
      """SELECT l_suppkey, count(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           max(s_acctbal) AS acctbal
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY l_suppkey""",

    "x_salted_agg" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_l_extendedprice,
           COUNT(l_extendedprice) AS count_l_extendedprice
         FROM lineitem GROUP BY 1""",

    "x_weighted_median" ->
      """WITH byq AS (SELECT l_returnflag, l_quantity,
                      sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS wq
                      FROM lineitem GROUP BY 1, 2),
         c AS (SELECT l_returnflag, l_quantity, wq,
                 sum(wq) OVER (PARTITION BY l_returnflag
                               ORDER BY l_quantity) AS cum,
                 sum(wq) OVER (PARTITION BY l_returnflag) AS total
               FROM byq)
         SELECT l_returnflag, min(l_quantity) AS weighted_median,
                CAST(max(total) AS BIGINT) AS total_cents
         FROM c WHERE cum * 2 >= total GROUP BY 1""",

    "x_ppjoin" ->
      s"""WITH toks AS (SELECT doc_id AS doc,
                        list_distinct(string_split($dNorm6, ' ')) AS ws
                 FROM documents WHERE doc_id % 5 = 0),
         tok AS (SELECT doc, unnest(ws) AS w FROM toks),
         dfreq AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
         rk AS (SELECT doc, w,
                  row_number() OVER (PARTITION BY doc ORDER BY df, w) AS rk
                FROM tok JOIN dfreq USING (w)),
         pre AS (SELECT rk.doc, w
                 FROM rk JOIN (SELECT doc, len(ws) AS n FROM toks) s
                   ON s.doc = rk.doc
                 WHERE rk <= n - ceil(0.8 * n) + 1),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                  FROM pre a JOIN pre b ON a.w = b.w AND a.doc < b.doc),
         v AS (SELECT doc_a, doc_b,
                 len(list_intersect(ta.ws, tb.ws)) AS i,
                 len(ta.ws) AS na, len(tb.ws) AS nb
               FROM cand
               JOIN toks ta ON ta.doc = doc_a
               JOIN toks tb ON tb.doc = doc_b)
         SELECT doc_a, doc_b,
                i::DOUBLE / (na + nb - i)::DOUBLE AS jaccard
         FROM v WHERE i::DOUBLE / (na + nb - i)::DOUBLE >= 0.8""",

    "x_containment" ->
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
                n_common::DOUBLE / na.n_sh AS cont_a_in_b,
                n_common::DOUBLE / nb.n_sh AS cont_b_in_a
         FROM pairs
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE n_common::DOUBLE / na.n_sh >= 0.8
            OR n_common::DOUBLE / nb.n_sh >= 0.8""",

    "x_dq_audit" ->
      """SELECT 'fk_lineitem_orders' AS chk, count(*) AS n_violations
           FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey)
         UNION ALL
         SELECT 'fk_lineitem_part', count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM part p
                             WHERE p.p_partkey = l.l_partkey)
         UNION ALL
         SELECT 'fk_lineitem_supplier', count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM supplier s
                             WHERE s.s_suppkey = l.l_suppkey)
         UNION ALL
         SELECT 'fk_orders_customer', count(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)
         UNION ALL
         SELECT 'dup_custkey', count(*) FROM
           (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
         UNION ALL
         SELECT 'nonpositive_quantity', count(*) FROM lineitem
           WHERE l_quantity <= 0
         UNION ALL
         SELECT 'negative_acctbal', count(*) FROM customer
           WHERE c_acctbal < 0
         UNION ALL
         SELECT 'null_event_value', count(*) FROM events
           WHERE value IS NULL""",

    "x_recursive_cte" -> recursiveWalkSql(heapEdgesSql("part")),

    // the BFS result over the heap tree IS the recursive walk's depth
    // table (cast to match the operator's output types)
    "x_shortest_path" ->
      s"""SELECT node, CAST(depth AS INT) AS dist
          FROM (${recursiveWalkSql(heapEdgesSql("part"))})""")
}
