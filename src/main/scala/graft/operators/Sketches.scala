package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Pmath

/** Deterministic sketch structures whose CONTENT (not just their
  * estimates) replays bit-exactly in a SQL oracle — the same md5-derived
  * portability trick the winnowing fingerprints established. The
  * engine's other sketches (Misra-Gries, HLL, KLL) carry engine-specific
  * bytes and grade rows-only; these two are built from portable
  * primitives end to end, so the differential gate covers the sketch
  * itself:
  *
  *  - [[kmvDistinct]]: the K-Minimum-Values distinct sketch (the
  *    bottom-k of a uniform hash). The k smallest md5 hex strings of the
  *    distinct values are a pure order statistic — any engine that can
  *    md5 and sort replays them exactly.
  *  - [[ddsketchBuckets]]: relative-error log-bucketed histogram
  *    (DDSketch-style). The bucket index floor(ln x / ln γ) runs on the
  *    portable ln with the γ constant emitted from ONE Scala value, so
  *    bucket boundaries agree across engines bit-for-bit.
  */
object Sketches {

  /** K-Minimum-Values distinct-count sketch per group (Bar-Yossef et
    * al. 2002): hash every distinct value, keep the k smallest hashes;
    * if fewer than k distinct values exist the sketch IS the exact
    * distinct set, otherwise the kth hash's position estimates the
    * distinct count as (k−1)/F(h_k) with F the hash's fraction of the
    * hash space.
    *
    * Mergeable by construction (bottom-k of a union = bottom-k of the
    * merged bottom-k sets — SketchesSpec proves it); the 100 TB shape
    * is one distinct + one per-group top-k (WindowGroupLimit pushes the
    * rank filter pre-shuffle, nothing concentrates more than k rows per
    * group past the scan).
    *
    * The estimate divides exact integers (the first 13 hex chars = 52
    * bits of the hash, the 2⁵² space constant) in a fixed order, so it
    * replays exactly. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvDistinct: k must be >= 2, got $k")
    val dv = df.select(col(groupCol).as("g"),
      col(valueCol).cast("string").as("v")).distinct()
    val h = dv.select(col("g"), md5(col("v")).as("h"))
    val rk = row_number().over(Window.partitionBy("g").orderBy("h"))
    val sketch = h.withColumn("rk", rk).where(col("rk") <= k)
      .groupBy("g")
      .agg(count(lit(1)).as("n_in_sketch"), max(col("h")).as("kth"))
    val hx = conv(substring(col("kth"), 1, 13), 16, 10).cast("long")
    sketch.select(col("g"), col("n_in_sketch"),
      when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (hx.cast("double") / lit(4503599627370496.0)))
        .as("est_distinct"))
  }

  /** KMV set operations: union / intersection / Jaccard estimates
    * between two keyed populations from their bottom-k sketches alone —
    * the mergeable-sketch answer to "how much do these two corpora
    * overlap?" when neither side fits anywhere (Beyer et al., SIGMOD'07).
    *
    * Soundness of the membership trick: K = the k smallest hashes of
    * A ∪ B. Any h ∈ K that belongs to underlying B must already be in
    * B's OWN bottom-k (fewer than k union hashes sit below it, so fewer
    * than k B-hashes do) — so intersecting the two k-row sketches loses
    * nothing, and n_both/|K| is the standard Jaccard estimator with
    * est_inter = J · est_union.
    *
    * Scale shape: one distinct per side (the only corpus-sized
    * shuffles), then `ORDER BY h LIMIT k` — Spark plans TakeOrdered
    * (per-partition bounded heaps + a k-row driver merge), never a
    * global sort — and everything after operates on ≤ 2k rows. Every
    * estimate is order statistics + integer counts + one fixed-order
    * division, so the whole row replays bit-exactly in DuckDB. */
  def kmvSetOps(a: DataFrame, b: DataFrame, valueCol: String,
                k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvSetOps: k must be >= 2, got $k")
    def sketch(df: DataFrame): DataFrame =
      df.select(md5(col(valueCol).cast("string")).as("h"))
        .distinct().orderBy("h").limit(k)
    val merged = sketch(a).select(col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(sketch(b).select(col("h"), lit(0).as("in_a"), lit(1).as("in_b")))
      .groupBy("h").agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val unionK = merged.orderBy("h").limit(k)
    val s = unionK.agg(
      count(lit(1)).as("n_union_sketch"),
      max(col("h")).as("kth"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("n_both"))
    val estUnion =
      when(col("n_union_sketch") < k, col("n_union_sketch").cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (conv(substring(col("kth"), 1, 13), 16, 10).cast("long")
            .cast("double") / lit(4503599627370496.0)))
    s.select(col("n_union_sketch"), col("kth"), col("n_both"))
      .withColumn("est_union", estUnion)
      .withColumn("jaccard_est",
        col("n_both").cast("double") / col("n_union_sketch").cast("double"))
      .withColumn("est_intersection", col("jaccard_est") * col("est_union"))
  }

  /** ln γ for [[ddsketchBuckets]], computed ONCE here and emitted into
    * both engines as the same literal (the Benford convention). */
  def lnGamma(gamma: Double): Double = math.log(gamma)

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) frequency
    * estimates: a depth×width integer matrix (bucket j-th row =
    * md5(j|term) mod width), point estimate = min over rows — the
    * fixed-size mergeable heavy-hitter structure next to the
    * Misra-Gries sketch, here probed for the true top-`topK` terms so
    * the oracle can grade estimate AND overcount exactly (the hash
    * family is the same md5 on both engines, so the sketch content
    * replays bit-for-bit; overcount ≥ 0 is the CMS guarantee).
    *
    * Scale shape: the matrix is depth·width cells regardless of corpus
    * size — the explode-by-depth pass combines map-side onto ≤ d·w
    * keys, the probe side is topK·depth rows joined against the tiny
    * cell frame (broadcast). Merging shards = summing cell frames. */
  def countMinEstimates(df: DataFrame, termCol: Column, depth: Int,
                        width: Int, topK: Int): DataFrame = {
    val terms = df.select(termCol.as("t")).filter(col("t") =!= "")
    def bucket(j: Column, t: Column): Column =
      conv(substring(md5(concat(j.cast("string"), lit("|"), t)), 1, 4),
        16, 10).cast("long") % width
    val cells = terms
      .select(col("t"), explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("b", bucket(col("j"), col("t")))
      .groupBy("j", "b").agg(count(lit(1)).as("cell"))
    val truth = terms.groupBy("t").agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("t").asc).limit(topK)
    truth
      .select(col("t"), col("true_n"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("b", bucket(col("j"), col("t")))
      .join(cells, Seq("j", "b"))
      .groupBy("t", "true_n")
      .agg(min(col("cell")).as("est_n"))
      .select(col("t").as("term"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overcount"))
  }

  /** DDSketch-style relative-error histogram (Masson et al., VLDB'19):
    * values bucket by floor(ln x / ln γ), so every bucket spans a
    * constant RELATIVE width — the quantile sketch monitoring systems
    * ship because a q99 read off the bucket boundaries is within γ−1
    * relative error at any scale, and bucket counts merge by addition.
    *
    * This form returns the full (bucket, n) table — the sketch content
    * itself, exact-oracle-able because ln is the portable series and
    * ln γ is a shared literal. Quantile reads are a cumulative scan over
    * ≤ a few hundred buckets (SketchesSpec derives q50/q95/q99 and
    * bounds them against the exact percentiles). Values below 1 (outside
    * the portable ln domain) are clamped into bucket 0 — fine for the
    * price/amount domains this targets. One narrow projection + one
    * bucket-keyed hash aggregate; merging shards is `GROUP BY bucket`
    * again. */
  def ddsketchBuckets(df: DataFrame, valueCol: Column,
                      gamma: Double = 1.02): DataFrame = {
    require(gamma > 1.0, s"ddsketchBuckets: gamma must be > 1, got $gamma")
    val lnx = Pmath.lnColumn(greatest(valueCol.cast("double"), lit(1.0)))
    val bucket = floor(lnx / lit(lnGamma(gamma))).cast("long")
    df.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** Portable HyperLogLog (Flajolet et al. 2007) whose REGISTERS —
    * not just the estimate — replay bit-exactly in SQL: the item hash
    * is md5, bucket = low 6 bits of the first 16, rho = leading-zero
    * rank of the next 32 (via the binary-string length, the bin()
    * both engines share), registers are per-(key, bucket) maxima, and
    * the union rollup (`__all__`) is the bucket-wise max across keys —
    * the mergeability that makes HLL THE distributed distinct sketch.
    *
    * Exactness of the estimate arithmetic: every 2^(−M) term is an
    * exact dyadic rational and the 64-term sum spans < 53 mantissa
    * bits, so S is EXACT in any summation order; the bias constant
    * multiplies as ::DOUBLE-cast literals; the small-range linear-
    * counting branch runs the portable ln on the ≥ 1 ratio. m = 64
    * registers (α = 0.709), the standard small-m configuration.
    *
    * Scale shape: one distinct + two hash aggregates; register frames
    * are (keys × 64)-bounded. */
  def hllPortable(df: DataFrame, keyCol: String,
                  item: Column): DataFrame = {
    val h = df.select(col(keyCol).as("k"), md5(item).as("h")).distinct()
    val reg0 = h.select(col("k"),
        (conv(substring(col("h"), 1, 4), 16, 10).cast("long") % 64)
          .as("b"),
        conv(substring(col("h"), 5, 8), 16, 10).cast("long").as("v"))
      .select(col("k"), col("b"),
        when(col("v") === 0L, lit(33L))
          .otherwise(lit(33L) - length(bin(col("v"))).cast("long"))
          .as("rho"))
    val regs = reg0.groupBy("k", "b").agg(max("rho").as("m"))
    val allRegs = regs.unionByName(
      regs.groupBy("b").agg(max("m").as("m"))
        .select(lit("__all__").as("k"), col("b"), col("m")))
    val ex = h.groupBy("k").agg(count(lit(1)).as("n_exact"))
      .unionByName(h.agg(countDistinct(col("h")).as("n_exact"))
        .select(lit("__all__").as("k"), col("n_exact")))
    val agg = allRegs.groupBy("k").agg(count(lit(1)).as("nb"),
      sum(lit(1.0) /
        expr("shiftleft(1L, cast(m as int))").cast("double")).as("s_part"))
    val pre = agg.select(col("k"), col("nb"),
      (col("s_part") + (lit(64L) - col("nb")).cast("double")).as("s"),
      (lit(64L) - col("nb")).as("zeros"))
    val raw = (lit(0.709) * lit(4096.0)) / col("s")
    val lnx = Pmath.lnColumn(
      when(col("zeros") > 0L, lit(64.0) / col("zeros").cast("double"))
        .otherwise(lit(1.0)))
    pre.join(ex, Seq("k"))
      .select(col("k").as(keyCol), col("n_exact"), col("nb"),
        when(raw <= lit(160.0) && col("zeros") > 0L, lit(64.0) * lnx)
          .otherwise(raw).as("est"))
  }
}
