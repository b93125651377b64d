package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Entity resolution (MDM / record linkage) — the insurance-CRM job the
  * reference's silver layer feeds (dirty customer rows:
  * /root/reference/scripts/silver/load_silver.py:40-78): find the
  * records that ARE the same real-world entity despite formatting noise
  * and typos, cluster them transitively, and elect a golden record.
  *
  * The pipeline composes the engine's audited parts:
  *
  *   1. canonicalize  — lowercase, strip non-alphanumerics (narrow)
  *   2. block         — records sharing a caller-chosen key (default:
  *                      the DIGIT SKELETON — numeric tokens like
  *                      policy/customer numbers survive textual noise
  *                      and are the discriminative core of CRM strings)
  *   3. verify        — Levenshtein over the full canonical form ≤
  *                      maxEdits within a block (never across blocks)
  *   4. cluster       — transitive closure via
  *                      [[Graphs.connectedComponents]] (A≈B, B≈C ⇒ one
  *                      entity even when A, C differ by 2·maxEdits)
  *   5. golden record — min id per cluster (stable, deterministic;
  *                      callers wanting quality-based election compose
  *                      with [[Graphs]]' best-rep policy instead)
  *
  * Scale shape: blocking is ONE equi-join key (no all-pairs anywhere);
  * a block-size cap drops pathological keys (the [[Fuzzy]] /
  * ngram-Jaccard `maxBucket` discipline: a pair is missed only if its
  * ONLY shared block is hotter than the cap — documented coverage, not
  * a silent blowup); pair verification is codegen'd Levenshtein on
  * ≤ cap² candidates per block; clustering is the join-per-round
  * label propagation with lineage truncation. Nothing is collected.
  */
object Resolve {

  /** Canonical comparison form: case/punctuation/whitespace-free. */
  def canon(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** Digit skeleton: the record's numeric tokens, concatenated — the
    * default blocking key (textual noise leaves it intact; a digit typo
    * moves the record to another block, which is the standard
    * miss-class of skeleton blocking and why multi-pass blocking
    * exists — pass any `blockKeys` you need). */
  def digitSkeleton(c: Column): Column =
    regexp_replace(c, "[^0-9]", "")

  /** Resolve entities: one output row per input record —
    * (id, component, golden_id, cluster_size). Unmatched records are
    * their own singleton cluster.
    *
    * `blockKeys`: one or more blocking passes (Column on the CANONICAL
    * form → key); a candidate pair needs agreement on `groupCol` plus
    * ANY pass's key. `maxBlock` caps each (pass, group, key) bucket. */
  def entityResolve(entities: DataFrame, idCol: String, nameCol: String,
                    groupCol: String,
                    blockKeys: Seq[Column => Column] = Seq(digitSkeleton),
                    maxEdits: Int = 1, maxBlock: Int = 1000): DataFrame =
    entityResolveScored(entities, idCol, nameCol, groupCol, blockKeys,
      (a, b) => levenshtein(a, b) <= maxEdits, maxBlock)

  /** [[entityResolve]] with a caller-chosen pairwise verifier over the
    * canonical forms — e.g. Jaro-Winkler ≥ θ
    * ([[graft.functions.Text.jaroWinkler]]), the standard linkage
    * scorer when edit-count thresholds are too coarse (it weighs
    * prefix agreement and tolerates proportionally more noise in long
    * names). Same blocking, capping, clustering, and golden-record
    * machinery. */
  def entityResolveScored(entities: DataFrame, idCol: String,
                          nameCol: String, groupCol: String,
                          blockKeys: Seq[Column => Column],
                          verify: (Column, Column) => Column,
                          maxBlock: Int = 1000): DataFrame = {
    require(blockKeys.nonEmpty, "entityResolve: need at least one blocking pass")
    val base = entities.select(col(idCol).as("id"),
      col(groupCol).cast("string").as("grp"),
      canon(col(nameCol)).as("canon"))
    // Key parts joined with \u0001 separators — a byte that cannot
    // appear in grp (string cast of a domain column) or the blocking
    // key (canon is [a-z0-9]-filtered) — so (pass, grp, key) is
    // injective: bare concatenation would collide grp "2" + key "5100"
    // with grp "25" + key "100" and falsely merge across groups. Plain
    // concat (not concat_ws) null-PROPAGATES: a NULL grp yields a NULL
    // bkey, which the bkey equi-joins never match — a record of unknown
    // group pairs with nothing, exactly the SQL '||' oracle semantics
    // (concat_ws would silently DROP the null part and pair all
    // null-group records with each other).
    val keyed = blockKeys.zipWithIndex.map { case (f, i) =>
      base.select(col("id"), col("canon"),
        concat(lit(i.toString), lit("\u0001"), col("grp"),
          lit("\u0001"), f(col("canon"))).as("bkey"))
    }.reduce(_ unionByName _)
    val okKeys = keyed.groupBy("bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBlock).select("bkey")
    val inBlock = keyed.join(okKeys, Seq("bkey"))
    // distinct BEFORE the edit-distance verify: a pair surfacing from
    // several passes is verified once
    val cand = inBlock.as("a").join(inBlock.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.canon").as("ca"), col("b.canon").as("cb"))
      .distinct()
    val edges = cand.filter(verify(col("ca"), col("cb")))
      .select("id_a", "id_b")
    val cc = Graphs.connectedComponents(edges, "id_a", "id_b")
    val labeled = base.select("id").distinct()
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val stats = labeled.groupBy("component")
      .agg(min(col("id")).as("golden_id"), count(lit(1)).as("cluster_size"))
    labeled.join(stats, Seq("component"))
      .select("id", "component", "golden_id", "cluster_size")
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    * 1969) fitted by EM (Winkler 1988): a two-class mixture of
    * independent Bernoullis over the 3-bit field-agreement vector of
    * candidate pairs.
    *
    * The decisive scale property: the EM never touches pairs — pairs
    * aggregate ONCE to the ≤ 2³ agreement-pattern counts, and every
    * E/M step runs on that parameter-bounded frame (8 rows: tiny
    * ordered-fold aggregates + broadcast cross joins, the x_shapley
    * shape). `iters` rounds are unrolled deterministically; every
    * cross-pattern sum folds in pattern-id order and every double op
    * is a fixed-order single operation, so the whole fit replays
    * bit-exactly as unrolled SQL CTEs.
    *
    * @param pairs candidate pairs with INTEGER 0/1 columns d1, d2, d3
    *              (callers block and compare upstream)
    * @return one row per observed pattern: d1, d2, d3, n,
    *         gamma (match posterior after `iters` rounds)
    */
  def fellegiSunterEm(pairs: DataFrame, iters: Int = 3,
                      pi0: Double = 0.1, m0: Double = 0.8,
                      u0: Double = 0.3): DataFrame = {
    val bits = Seq("d1", "d2", "d3")
    val pat = pairs.groupBy(bits.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("pid",
        col("d1") * lit(4L) + col("d2") * lit(2L) + col("d3"))
    def bern(d: String, p: Column): Column =
      when(col(d) === 1, p).otherwise(lit(1.0) - p)
    val par0 = Seq(("pi", pi0), ("m1", m0), ("m2", m0), ("m3", m0),
      ("u1", u0), ("u2", u0), ("u3", u0))
    var par: DataFrame = pat.sparkSession.range(1).select(
      par0.map { case (c, v) => lit(v).as(c) }: _*)
    var g: DataFrame = null
    for (_ <- 1 to iters) {
      val j = pat.crossJoin(broadcast(par))
      val wm = col("pi") * bern("d1", col("m1")) *
        bern("d2", col("m2")) * bern("d3", col("m3"))
      val wu = (lit(1.0) - col("pi")) * bern("d1", col("u1")) *
        bern("d2", col("u2")) * bern("d3", col("u3"))
      g = j.select(col("pid"), col("d1"), col("d2"), col("d3"), col("n"),
        (wm / (wm + wu)).as("gam"))
      val ng = col("n").cast("double") * col("gam")
      val nu = col("n").cast("double") * (lit(1.0) - col("gam"))
      // ordered cross-pattern folds (≤ 8 rows): sums in pid order
      val pid = col("pid")
      def share(d: String, w: Column): Column =
        Exact.orderedSum(when(col(d) === 1, w).otherwise(lit(0.0)), pid) /
          Exact.orderedSum(w, pid)
      par = g.groupBy().agg(
        (Exact.orderedSum(ng, pid) /
          Exact.orderedSum(col("n").cast("double"), pid)).as("pi"),
        share("d1", ng).as("m1"), share("d2", ng).as("m2"),
        share("d3", ng).as("m3"), share("d1", nu).as("u1"),
        share("d2", nu).as("u2"), share("d3", nu).as("u3"))
    }
    g.select("d1", "d2", "d3", "n", "gam")
  }
}
