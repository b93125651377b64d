package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.plans.CheckpointBlocks

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.10).
  *
  * Two plans:
  *  - [[bruteForceTopK]]: queries × corpus with a broadcast on the query
  *    side — the exact baseline. At 100 TB the corpus stays partitioned
  *    and never shuffles; each partition scores the broadcast queries
  *    locally and a single top-k-per-query aggregation follows. Correct,
  *    and linear in |corpus|·|queries|.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by a b-bit
  *    signature (one narrow pass + one shuffle on the bucket key); probes
  *    only matching buckets (multi-probe over Hamming-1 neighbors), then
  *    exact re-rank inside candidates. Sub-linear probe cost; recall
  *    measured against the brute-force baseline in ScalaTest.
  */
object Similarity {

  /** Exact top-k neighbors per query vector. Deterministic ordering:
    * (cosine desc, corpus id asc) so equal scores can't flip ranks. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int, useCustomPlan: Boolean = false): DataFrame = {
    // norms once per side BEFORE the join: one dot per scored pair
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"),
      Vectors.l2Norm(col(qVec)).as("qn"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"),
      Vectors.l2Norm(col(cVec)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", when(col("qn") * col("cn") =!= 0.0,
        Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val ranked =
      if (useCustomPlan)
        // native TopKPerKeyExec: bounded heap per key, no sort
        graft.plans.TopKPerKey(scored, Seq("query_id"),
          Seq("cos" -> false, "neighbor_id" -> true), k)
      else {
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w))
      }
    ranked.filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval primitive over
    * UNNORMALIZED embeddings (recommender dot-product scores, learned
    * retrieval heads): rank by q·x, where cosine's norm division would
    * reorder. Exact scoring rides the [[bruteForceTopK]] shape —
    * queries broadcast, corpus never shuffled, one ArrayDot per pair —
    * shortlisted by the bounded-heap [[graft.plans.TopKPerKey]] (ties
    * on the neighbor id, so the result set is well-defined and the
    * oracle replays it verbatim; the raw dot needs no float guard).
    *
    * The SCALE path is the classic order-preserving reduction to
    * cosine (Bachrach et al., RecSys 2014; Neyshabur & Srebro 2015),
    * shipped as [[mipsAugment]]: append sqrt(M² − ‖x‖²) to every
    * corpus vector (M² = max corpus ‖x‖², ONE 1-row broadcast
    * aggregate) and a literal 0 to every query — every augmented
    * corpus norm is exactly M, so augmented-cosine order IS
    * inner-product order and the LSH/IVF/PQ indexes above serve MIPS
    * unchanged. ExtSpec pins the order equivalence on a mixed-norm
    * fixture; the GRADED ranking keys on the exact dot directly so
    * the tie-break is float-trivial on both engines. */
  def mipsTopK(queries: DataFrame, corpus: DataFrame,
               qId: String, qVec: String, cId: String, cVec: String,
               k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("ip", Vectors.dot(col("qv"), col("cv")))
      .select("query_id", "neighbor_id", "ip")
    graft.plans.TopKPerKey(scored, Seq("query_id"),
        Seq("ip" -> false, "neighbor_id" -> true), k)
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "ip", "rank")
  }

  /** The MIPS→cosine reduction's corpus transform (see [[mipsTopK]]):
    * (id, v_aug) with v_aug = [v as double…, sqrt(M² − ‖v‖²)], M² the
    * max corpus ‖v‖² (1-row broadcast; `greatest(…, 0)` guards the
    * float residue on the max-norm row itself). Queries take
    * [[mipsAugmentQuery]]'s zero pad instead. */
  def mipsAugment(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("n2", Vectors.dot(col("v"), col("v")))
    val mx = base.agg(max(col("n2")).as("m2"))
    base.crossJoin(broadcast(mx))
      .select(col("id"),
        concat(col("v"),
          array(sqrt(greatest(col("m2") - col("n2"), lit(0.0))))).as("v_aug"))
  }

  /** Query-side augmentation twin of [[mipsAugment]]: a zero pad, so
    * q_aug·x_aug = q·x while ‖x_aug‖ = M for every corpus row. */
  def mipsAugmentQuery(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      concat(transform(col(vecCol), x => x.cast("double")),
        array(lit(0.0))).as("v_aug"))

  /** Corpus bucketed by b-bit random-hyperplane signature. `dim` ≤ 0
    * derives the dimensionality from the data; any value is VERIFIED per
    * row (a mismatched vector would null its projections and silently
    * collapse into bucket 0 — fail fast instead). */
  def lshBuckets(corpus: DataFrame, cId: String, cVec: String,
                 bits: Int, seed: Long, dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else Vectors.deriveDim(corpus, cVec)
    corpus.select(col(cId).as("neighbor_id"),
      Vectors.requireDim(col(cVec), d, "lshBuckets").as("cv"))
      .withColumn("bucket", Vectors.rhpSignature(col("cv"), bits, d, seed))
  }

  /** ANN top-k: score only corpus rows whose signature is within Hamming
    * distance `probeHamming` of the query's signature (multi-probe), exact
    * re-rank inside that candidate set. Recall/selectivity trade-off is
    * (bits, probeHamming): more bits → smaller buckets, deeper probes →
    * higher recall at more candidates. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, bits: Int = 8, probeHamming: Int = 1,
              seed: Long = 42, dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else Vectors.deriveDim(corpus, cVec)
    val buckets = lshBuckets(corpus, cId, cVec, bits, seed, d)
    val sig = col("sig")
    val probes = Seq(sig) ++
      (if (probeHamming >= 1) (0 until bits).map(b => sig.bitwiseXOR(lit(1 << b))) else Nil) ++
      (if (probeHamming >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits }
          yield sig.bitwiseXOR(lit((1 << i) | (1 << j)))
      else Nil)
    val q = queries.select(col(qId).as("query_id"),
      Vectors.requireDim(col(qVec), d, "lshTopK").as("qv"))
      .withColumn("sig", Vectors.rhpSignature(col("qv"), bits, d, seed))
      .withColumn("bucket", explode(array(probes: _*)))
    val cand = buckets.join(broadcast(q), Seq("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** IVF-style ANN: the corpus is inverted-listed by nearest centroid
    * (one narrow scoring pass against nLists literal centroids — argmin of
    * ‖v−c‖² ≡ argmin of (c·c − 2 v·c)); queries probe their nProbe nearest
    * lists and re-rank exactly inside them. Centroids start as a
    * deterministic hash-sample of the corpus (k-means init) and are
    * refined with `lloydIters` Lloyd iterations, each a pure DataFrame
    * pass: assign → per-(list, dim) mean via posexplode → collect the
    * nLists×dim means (bounded by PARAMETERS, not data — the only
    * driver-side data this operator ever holds). Probe cost ≈
    * nProbe/nLists of the corpus per query vs 1.0 for brute force.
    *
    * Every stage is engine-portable, so the WHOLE iterative pipeline
    * replays in SQL (x_ann_ivf is hash-compared): the seed sample orders
    * by md5 hex (not a Spark-only hash), Lloyd means accumulate in
    * 2⁻²⁰ fixed point (associative long sums — partition-order-
    * independent AND exactly reproducible, the x_embed_centroids
    * recipe), and argmin ties break on the list id. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4,
              seed: Long = 42, lloydIters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, cId, cVec, nLists, seed, lloydIters)
    def scores(v: org.apache.spark.sql.Column) = centroidScores(cents, v)

    // Skew.spread (round 16): routing scores nLists ArrayDots per row
    // and ran as one task on a single-row-group scan; the downstream
    // rank is a (cos desc, id asc) total order, so spreading cannot
    // move a result row
    val listed = Skew.spread(corpus)
      .select(col(cId).as("neighbor_id"), col(cVec).as("cv"),
        array_min(scores(col(cVec))).getField("list").as("list"))
    val probes = queries.select(col(qId).as("query_id"), col(qVec).as("qv"),
      explode(transform(slice(array_sort(scores(col(qVec))), 1, nProbe),
        p => p.getField("list"))).as("list"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    listed.join(broadcast(probes), Seq("list"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Two-stage retrieval over a scalar-quantized corpus — the SQ8
    * serving pattern of production vector stores: stage 1 scans the
    * 4×-smaller int8 codes and scores every row with the INTEGER dot
    * product (exact long arithmetic — no floats anywhere in the wide
    * scan, codegen-friendly multiply-adds), keeping `shortlist`
    * candidates per query; stage 2 fetches full-precision vectors for
    * the |queries|·shortlist survivors only and re-ranks them with the
    * exact double cosine.
    *
    * Determinism: coarse ties break on the neighbor id, so the
    * candidate SET (not just its order) is well-defined — and because
    * the quantizer ([[Vectors.quantizeInt8]]) and the integer dot are
    * engine-portable, the whole two-stage pipeline replays in SQL
    * (x_ann_rerank is hash-compared, not rows-only).
    *
    * Scale shape: the stage-1 scan reads ONLY the int8 code column (4×
    * bandwidth cut — at 100 TB of embeddings that is the difference
    * between a day and an afternoon); queries broadcast; the shortlist
    * join back to full vectors is |queries|·shortlist rows keyed on the
    * corpus id — a sliver of the corpus, never a second full scan
    * shuffle. */
  def quantizedRerank(queries: DataFrame, corpus: DataFrame,
                      qId: String, qVec: String, cId: String, cVec: String,
                      k: Int, shortlist: Int): DataFrame = {
    val cQ = corpus.select(col(cId).as("neighbor_id"),
      Vectors.quantizeInt8(col(cVec)).as("cq"))
    val qQ = queries.select(col(qId).as("query_id"),
      Vectors.quantizeInt8(col(qVec)).as("qq"))
    val coarse = cQ.crossJoin(broadcast(qQ))
      .withColumn("coarse", aggregate(
        zip_with(col("qq"), col("cq"), (a, b) => a.cast("long") * b.cast("long")),
        lit(0L), (s, x) => s + x))
      .select("query_id", "neighbor_id", "coarse")
    // sort-free shortlist: the coarse frame is CORPUS-sized, and the
    // row_number window would fully sort every query's copy of it —
    // TopKPerKeyExec keeps a bounded shortlist-heap per query instead
    // (identical rows and tie-breaks; TopKSpec proves window ≡ heap)
    val short = graft.plans.TopKPerKey(coarse, Seq("query_id"),
        Seq("coarse" -> false, "neighbor_id" -> true), shortlist, "crank")
      .filter(col("crank") <= shortlist).drop("crank")
    val cFull = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"),
      Vectors.l2Norm(col(cVec)).as("cn"))
    val qFull = queries.select(col(qId).as("query_id"), col(qVec).as("qv"),
      Vectors.l2Norm(col(qVec)).as("qn"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short.join(cFull, Seq("neighbor_id")).join(broadcast(qFull), Seq("query_id"))
      .withColumn("cos", when(col("qn") * col("cn") =!= 0.0,
        Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "coarse", "cos", "rank")
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the third quantization
    * family next to IVF (routing) and SQ8 (scalar): the vector splits
    * into `m` subspaces, each with its own `nCodes`-word codebook
    * (portable k-means per subspace, seeds `seed+j`), and every corpus
    * vector compresses to m small codes. Stage 1 scores every row with
    * the ADC approximation Σ_j qⱼ·codewordⱼ(codeⱼ) — the dots fold left
    * to right and the m terms add in a FIXED subspace order (the BM25
    * pivoted-column recipe), so ADC scores are partition-invariant and
    * the whole pipeline replays in SQL. Stage 2 reranks the `shortlist`
    * survivors with the exact cosine (ties on the id throughout, so the
    * candidate SET is well-defined).
    *
    * Scale shape: codebooks are m·nCodes·(dim/m) doubles — PARAM-bounded
    * driver state broadcast as literals (the IVF centroid contract); the
    * stage-1 scan reads only the m byte-sized codes per row; full
    * vectors are fetched for |queries|·shortlist rows. At 100 TB the
    * compressed corpus is dim/m·(64/8)× smaller than float32 — the
    * difference between scanning embeddings and scanning codes.
    *
    * Cache lifetime: the returned frame reads a persist()-pinned code
    * table (it is both the reusable product of PQ and a codegen fence —
    * see the inline note). The pin lives until the CALLER releases it:
    * materialize the result, then `CheckpointBlocks.releaseAll(spark)`
    * (what Verify/Bench do between queries) or `spark.catalog
    * .clearCache()`. A long-lived session invoking this repeatedly
    * without releasing accumulates one corpus-sized code cache per
    * call. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, qVec: String, cId: String, cVec: String,
             k: Int, shortlist: Int, m: Int = 4, nCodes: Int = 16,
             seed: Long = 42, lloydIters: Int = 2): DataFrame = {
    val dim = Vectors.deriveDim(corpus, cVec)
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m=$m")
    val sub = dim / m
    val books: Seq[Array[Array[Double]]] =
      pqCodebooks(corpus, cId, cVec, m, sub, nCodes, seed, lloydIters).toSeq
    def codeOf(v: org.apache.spark.sql.Column, j: Int) =
      array_min(centroidScores(books(j), slice(v, j * sub + 1, sub)))
        .getField("list")
    def codeword(j: Int, code: org.apache.spark.sql.Column) =
      element_at(typedlit(books(j).map(_.toSeq).toSeq), code + 1)
    // The code table is MATERIALIZED (persist, the Rank.pinned
    // discipline — freed by CheckpointBlocks.releaseAll): (a) it IS the
    // product of PQ — the m-byte compressed corpus you keep and scan
    // instead of the float vectors — and (b) the cache boundary keeps
    // the 64-ArrayDot assignment expressions and the ADC lookup in
    // SEPARATE whole-stage-codegen units. Fused, the combined generated
    // method crosses Janino's superlinear-compile threshold and every
    // action re-pays ~4 s of codegen at ANY data size (profiled r12:
    // scored stage 4.1 s fused vs 0.2 s fenced on a 2000-row corpus,
    // codegen-off control 0.23 s — see SCALE.md).
    // Skew.spread (round 16): encoding costs m·nCodes ArrayDots per row
    // and ran as one task on a single-row-group scan; codes are a pure
    // per-row function, so spreading cannot move a value
    val coded = Skew.spread(corpus)
      .select(col(cId).as("neighbor_id") +:
        (0 until m).map(j => codeOf(col(cVec), j).as(s"code_$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
    val adc = (0 until m).map(j =>
      Vectors.dot(slice(col("qv"), j * sub + 1, sub),
        codeword(j, col(s"code_$j")))).reduce(_ + _)
    val scored = coded.crossJoin(broadcast(q)).withColumn("adc", adc)
      .select("query_id", "neighbor_id", "adc")
    // sort-free shortlist over the corpus-sized ADC frame (see
    // quantizedRerank): bounded heap per query, no per-query full sort
    val short = graft.plans.TopKPerKey(scored, Seq("query_id"),
        Seq("adc" -> false, "neighbor_id" -> true), shortlist, "crank")
      .filter(col("crank") <= shortlist).drop("crank")
    val cFull = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"),
      Vectors.l2Norm(col(cVec)).as("cn"))
    val qFull = queries.select(col(qId).as("query_id"), col(qVec).as("qv2"),
      Vectors.l2Norm(col(qVec)).as("qn"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short.join(cFull, Seq("neighbor_id")).join(broadcast(qFull), Seq("query_id"))
      .withColumn("cos", when(col("qn") * col("cn") =!= 0.0,
        Vectors.dot(col("qv2"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc", "cos", "rank")
  }

  /** Hard cap on k-means lists: the Lloyd update collects nLists×dim
    * means to the driver and re-broadcasts the centroids as literal
    * arrays, so the driver round-trip and the generated centroidScores
    * expression are both Θ(nLists·dim). At the cap (4096 lists × a
    * 1024-dim embedding) that is ~32 MB of doubles — comfortably
    * driver-sized and plenty of routing fan-out for a 100 TB corpus
    * (IVF quality wants nLists ≈ √n *per executor shard*, not global;
    * beyond ~10³–10⁴ the win flattens while the driver loop and the
    * per-row scoring expression grow linearly). A corpus that truly
    * needs more lists should shard first (partition the corpus, run
    * per-shard IVF) rather than grow a single global centroid table. */
  val MaxLists = 4096

  /** The portable k-means behind [[ivfTopK]] and `Dedup.semDedup`:
    * deterministic md5-sampled init (smallest md5(seed|id) wins — a tiny,
    * PARAM-bounded driver collect of nLists rows) refined by `lloydIters`
    * Lloyd iterations, each a pure DataFrame pass: assign → per-(list,
    * dim) fixed-point mean via posexplode (floor to 2⁻²⁰, exact long
    * sums — associative, so independent of partition order AND
    * bit-replayable in SQL; a plain avg() of doubles is neither) →
    * collect the ≤ nLists×dim means. Empty lists keep their centroid.
    * nLists is capped at [[MaxLists]] — see its doc for why the driver
    * loop must stay parameter-bounded. */
  def kmeansCentroids(corpus: DataFrame, cId: String, cVec: String,
                      nLists: Int, seed: Long,
                      lloydIters: Int): Array[Array[Double]] = {
    require(nLists >= 1 && nLists <= MaxLists,
      s"kmeansCentroids: nLists=$nLists outside [1, $MaxLists] — the Lloyd " +
        "update is a driver-side nLists×dim collect; shard the corpus " +
        "instead of growing the global centroid table")
    // element cast to double BEFORE the collect so float AND double
    // corpora both land as Seq[Double] (float→double widening is exact;
    // the MIPS-augmented corpus is already double)
    var cents: Array[Array[Double]] = corpus
      .select(transform(col(cVec), x => x.cast("double")).as("v"),
        md5(concat_ws("|", lit(seed), col(cId).cast("string"))).as("h"))
      .orderBy("h").limit(nLists)
      .collect().map(_.getSeq[Double](0).toArray)

    // NOT spread (round 16, measured): a Skew.spread of the Lloyd pass
    // was tried and REVERTED — this operator's small-parameter users
    // (semDedup nLists=16, silhouette, cluster purity/balance) paid
    // more for the added exchange than the 1-task pass cost
    // (x_semdedup 1.03 → 1.62 s at matched probes); the heavy-fit
    // callers that do win from spreading (pqCodebooks, ivfTopK's
    // listing, pcaTopComponent's moment pass) spread at their own
    // call sites instead.
    for (_ <- 0 until lloydIters) {
      val means = corpus
        .select(col(cVec).as("v"),
          array_min(centroidScores(cents, col(cVec))).getField("list").as("list"))
        .select(col("list"), posexplode(col("v")))
        .groupBy("list", "pos")
        .agg((sum(floor(col("col").cast("double") * 1048576.0).cast("long"))
          .cast("double") / (count(lit(1)) * 1048576.0)).as("m"))
        .collect()                       // ≤ nLists×dim rows, param-bounded
      val next = cents.map(_.clone())    // empty lists keep their centroid
      means.foreach(r => next(r.getAs[Int]("list"))(r.getAs[Int]("pos")) =
        r.getAs[Double]("m"))
      cents = next
    }
    cents
  }

  /** All `m` product-quantizer sub-codebooks learned in ONE driver
    * loop — numerically IDENTICAL to m independent [[kmeansCentroids]]
    * calls on the sliced subspaces (the md5-sample init and the
    * fixed-point Lloyd mean are both separable by subspace, so
    * grouping by an extra `j` column changes nothing), but with
    * 1 + lloydIters corpus passes TOTAL instead of m·(1 + lloydIters):
    * the init explodes every subspace's (md5, slice) in one pass and
    * takes the per-j nCodes smallest hashes with a j-partitioned
    * window, and each Lloyd step assigns/averages all m subspaces in
    * one explode → hash-agg → ≤ m·nCodes·sub-row collect. At 100 TB
    * the driver round-trips — each a full scheduler cycle over the
    * corpus — are the dominant fit cost, so batching is an m× cut. */
  def pqCodebooks(corpus: DataFrame, cId: String, cVec: String,
                  m: Int, sub: Int, nCodes: Int, seed: Long,
                  lloydIters: Int): Array[Array[Array[Double]]] = {
    require(nCodes >= 1 && nCodes <= MaxLists,
      s"pqCodebooks: nCodes=$nCodes outside [1, $MaxLists]")
    val wInit = Window.partitionBy("j").orderBy("h")
    val initRows = corpus
      .select(col(cId).cast("string").as("sid"), col(cVec).as("v"))
      .select(explode(array((0 until m).map { j =>
        struct(lit(j).as("j"),
          md5(concat_ws("|", lit(seed + j), col("sid"))).as("h"),
          slice(col("v"), j * sub + 1, sub).as("sv"))
      }: _*)).as("s"))
      .select(col("s.j").as("j"), col("s.h").as("h"), col("s.sv").as("sv"))
      .withColumn("rn", row_number().over(wInit))
      .where(col("rn") <= nCodes)
      .collect()
    var books: Array[Array[Array[Double]]] = (0 until m).map { j =>
      initRows.filter(_.getAs[Int]("j") == j)
        .sortBy(_.getAs[Int]("rn"))
        .map(r => r.getSeq[Float](r.fieldIndex("sv"))
          .map(_.toDouble).toArray)
    }.toArray
    // Skew.spread (round 16): the per-row assignment costs m·nCodes
    // ArrayDots and ran as one task on a single-row-group scan
    // (JobProbe: ~0.8-1.0 s per iteration); the fixed-point mean is an
    // associative long sum, so spreading cannot move a value. The
    // window INIT above is NOT spread — row_number over h could tie on
    // duplicate ids, where partitioning would pick the surviving row.
    val spreadCorpus = Skew.spread(corpus)
    for (_ <- 0 until lloydIters) {
      val means = spreadCorpus.select(col(cVec).as("v"))
        .select(explode(array((0 until m).map { j =>
          val sv = slice(col("v"), j * sub + 1, sub)
          struct(lit(j).as("j"),
            array_min(centroidScores(books(j), sv)).getField("list")
              .as("list"),
            sv.as("sv"))
        }: _*)).as("s"))
        .select(col("s.j").as("j"), col("s.list").as("list"),
          posexplode(col("s.sv")))
        .groupBy("j", "list", "pos")
        .agg((sum(floor(col("col").cast("double") * 1048576.0).cast("long"))
          .cast("double") / (count(lit(1)) * 1048576.0)).as("m"))
        .collect()                     // ≤ m·nCodes·sub rows, param-bounded
      val next = books.map(_.map(_.clone()))  // empty lists keep centroids
      means.foreach(r => next(r.getAs[Int]("j"))(r.getAs[Int]("list"))(
        r.getAs[Int]("pos")) = r.getAs[Double]("m"))
      books = next
    }
    books
  }

  /** Distance proxies to every centroid as an array of (score, list)
    * structs — argmin of ‖v−c‖² ≡ argmin of (c·c − 2 v·c); array_min /
    * array_sort order lexicographically, so ties break on the list id. */
  def centroidScores(cents: Array[Array[Double]],
                     v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c2 = cents.map(c => c.map(x => x * x).sum)
    array(cents.indices.map { j =>
      struct((lit(c2(j)) - lit(2.0) * Vectors.dot(v, typedlit(cents(j)))).as("s"),
        lit(j).as("list"))
    }: _*)
  }

  /** Greedy k-center selection (Gonzalez 1985, a 2-approximation of the
    * optimal covering radius): the diversity-MAX subset seeding every
    * curation pipeline wants next to the relevance-diversity trade of
    * [[mmrDiversify]] — coreset seeds, active-learning initialization,
    * eval-set spread. Round r picks the point FARTHEST from its nearest
    * already-chosen center (argmax of min-distance, ties to the lowest
    * id; center 0 is the lowest-id point, so the whole selection is a
    * pure data function).
    *
    * Scale shape: each round is ONE corpus pass feeding a
    * TakeOrderedAndProject(1) plus a single-row driver collect — the
    * [[kmeansCentroids]] bounded-action loop; `k ≤ MaxLists` keeps the
    * round count parameter-bounded, and the final assignment census is
    * one more pass + a k-row hash aggregate. Distances are the
    * SQL-replayable fixed-order dot arithmetic d² = v·v + (c·c − 2 v·c)
    * (the [[centroidScores]] family), so the operator carries a full
    * value oracle as an unrolled CTE chain.
    *
    * Returns k rows: (center_rank, center_id, n_assigned, radius_d2) —
    * radius_d2 is the covering radius the selection achieves over its
    * cell (max assigned min-distance). */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= MaxLists,
      s"kCenterSelect: k=$k outside [1, $MaxLists] — the greedy loop is " +
        "one driver round-trip per center; pick fewer, coarser centers")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v")).where(col("v").isNotNull)
    def collectOne(d: DataFrame): (Long, Array[Double]) = {
      val r = d.limit(1).collect().head
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    val first = collectOne(base.orderBy(col("id").asc))
    var ids = Vector(first._1)
    var cents = Vector(first._2)
    // dmin over the chosen prefix: v·v + least_j(c_j·c_j − 2 v·c_j) —
    // the shared-term shape the SQL oracle replays verbatim
    def dmin(cs: Vector[Array[Double]]): Column = {
      val terms = cs.map { c =>
        lit(c.map(x => x * x).sum) - lit(2.0) * Vectors.dot(col("v"), typedlit(c))
      }
      Vectors.dot(col("v"), col("v")) +
        (if (terms.size == 1) terms.head else least(terms: _*))
    }
    for (_ <- 1 until k) {
      val next = collectOne(base
        .select(col("id"), col("v"), dmin(cents).as("d"))
        .orderBy(col("d").desc, col("id").asc))
      ids = ids :+ next._1
      cents = cents :+ next._2
    }
    val scored = array(cents.indices.map { j =>
      struct((lit(cents(j).map(x => x * x).sum) -
        lit(2.0) * Vectors.dot(col("v"), typedlit(cents(j)))).as("s"),
        lit(j).as("rk"))
    }: _*)
    base
      .select(col("id"), array_min(scored).as("m"),
        Vectors.dot(col("v"), col("v")).as("vv"))
      .select(col("m.rk").as("center_rank"),
        (col("vv") + col("m.s")).as("d"))
      .groupBy("center_rank")
      .agg(count(lit(1)).as("n_assigned"), max(col("d")).as("radius_d2"))
      .select(col("center_rank").cast("long").as("center_rank"),
        element_at(typedlit(ids), col("center_rank").cast("int") + 1)
          .as("center_id"),
        col("n_assigned"), col("radius_d2"))
  }

  /** Top principal component of an embedding column — the whitening /
    * dominant-direction probe every embedding pipeline wants (ABTT
    * "all-but-the-top" de-biasing drops exactly this component before
    * similarity search).
    *
    * Distributed shape: ONE pass builds the exact second-moment matrix —
    * embeddings quantized to ⌊e·2²⁰⌋ integers, upper-triangle (i,j)
    * products hash-aggregated into dim(dim+1)/2 decimal cells (map-side
    * combine collapses everything before the shuffle; the shuffle
    * carries ≤ dim² rows per partition, never data-sized). The
    * dim×dim centered matrix n·Σxy − ΣxΣy (still exact integers) is
    * then collected — a PARAM-bounded driver action like
    * [[kmeansCentroids]]'s, Θ(dim²) ≤ [[MaxPcaDim]]² cells — and 40
    * fixed power-method rounds with j-ordered folds extract the
    * eigenvector (sign pinned: first nonzero component positive, so the
    * result is a function of the data, not the iteration count parity).
    * Scores project every row onto the component via a codegen'd
    * literal-vector dot — one more narrow pass.
    *
    * Determinism: every aggregate is an integer sum (associative,
    * partition-order-proof); doubles appear only in the driver loop
    * (fixed op order) and the final per-row projection (fixed fold
    * order). NOT SQL-replayable (the driver iteration), so its graded
    * query is rows-only with the ScalaTest differential as the
    * correctness anchor — the x_bpe_merges precedent.
    *
    * Returns (id, pc1) plus the component/eigenvalue via the second
    * return value. */
  val MaxPcaDim = 2048

  /** Fitted top-component model: the eigenvector, its explained
    * variance (original units), and the per-dimension means — enough to
    * project or debias any vector without touching the data again. */
  final case class PcaModel(component: Array[Double], varExplained: Double,
                            mu: Array[Double])

  def pcaTopComponent(df: DataFrame, idCol: String, vecCol: String,
                      iters: Int = 40): (DataFrame, PcaModel) = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim >= 1 && dim <= MaxPcaDim,
      s"pcaTopComponent: dim=$dim outside [1, $MaxPcaDim] — the moment " +
        "matrix is a driver-side dim^2 collect; reduce the embedding first")
    val scale = 1048576.0 // 2^20, the repo's fixed-point quantum
    // Skew.spread (round 16): the dim²/2 explode into decimal cells is
    // the operator's heavy pass and ran as ONE task on a single-row-
    // group scan (JobProbe: ~1.0 s of a 3.2 s query); every aggregate
    // here is an associative integer sum, so spreading cannot move a
    // value. The second-moment cells and the per-dimension sums/count
    // also FUSE into one pass/one driver action (was two collects, two
    // corpus scans): each (i, qi) explodes its j ≥ i product partners
    // PLUS one j = −1 marker row carrying qi·1 — the marker groups are
    // exactly the old per-i sum and count.
    val q = Skew.spread(df.select(
      transform(col(vecCol), e => floor(e.cast("double") * lit(scale))
        .cast("long")).as("q")))
    val moments = q
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"), explode(concat(
        array(struct(lit(-1).as("j"), lit(1L).as("qj"))),
        filter(transform(col("q"), (x, j) => struct(j.as("j"), x.as("qj"))),
          p => p.getField("j") >= col("i")))).as("p"))
      .select(col("i"), col("p.j").as("j"),
        (col("qi") * col("p.qj")).as("xy"))
      .groupBy("i", "j")
      .agg(sum(col("xy").cast("decimal(38,0)")).as("sxy"),
        count(lit(1)).as("cnt"))
      .collect()                 // <= dim^2 + dim cells, param-bounded
    val cells = moments.filter(_.getInt(1) >= 0)
    val sums = moments.filter(_.getInt(1) == -1)
    val n = BigInt(sums.head.getLong(3))
    val sx = new Array[BigInt](dim)
    sums.foreach(r => sx(r.getInt(0)) = BigInt(r.getDecimal(2).toBigInteger))
    // centered scatter: n*Sxy - Sx*Sy, exact integers -> doubles once
    val m = Array.ofDim[Double](dim, dim)
    cells.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val v = (n * BigInt(r.getDecimal(2).toBigInteger) - sx(i) * sx(j)).toDouble
      m(i)(j) = v; m(j)(i) = v
    }
    // power method, fixed op order; deterministic start vector
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val mv = Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += m(i)(j) * v(j); j += 1 }; s
      }
      var norm2 = 0.0; var i = 0
      while (i < dim) { norm2 += mv(i) * mv(i); i += 1 }
      val norm = math.sqrt(norm2)
      if (norm == 0.0) { lambda = 0.0 } else {
        var k = 0
        while (k < dim) { mv(k) = mv(k) / norm; k += 1 }
        // Rayleigh quotient in the scaled space, j-ordered
        var rq = 0.0; var a = 0
        while (a < dim) {
          var s = 0.0; var b = 0
          while (b < dim) { s += m(a)(b) * mv(b); b += 1 }
          rq += mv(a) * s; a += 1
        }
        lambda = rq
        v = mv
      }
    }
    // pin the sign: first component with |v_i| > 1e-12 must be positive
    val lead = v.indexWhere(x => math.abs(x) > 1e-12)
    if (lead >= 0 && v(lead) < 0) v = v.map(x => -x)
    // project rows onto the component in the ORIGINAL units:
    // pc1 = sum_j (e_j - mu_j) * v_j with mu_j = Sx_j / (n * 2^20),
    // computed as correctly-rounded double ops (BigInt.toDouble is
    // exact-rounded, as is DuckDB's HUGEINT::DOUBLE) so the whole fit
    // replays bit-for-bit in SQL — this is what lets x_pca_project and
    // x_ann_abtt carry full value oracles instead of rows-only grades
    val mu = Array.tabulate(dim)(j =>
      sx(j).toDouble / (n.toDouble * scale))
    val centeredDot = {
      val terms = (0 until dim).map { j =>
        (floor(element_at(col(vecCol), j + 1).cast("double") * lit(scale)) /
          lit(scale) - lit(mu(j))) * lit(v(j))
      }
      terms.reduce(_ + _)  // j-ordered fixed fold
    }
    val scored = df.select(col(idCol), centeredDot.as("pc1"))
    // eigenvalue back in original units: lambda is of n * (2^20)^2 * n-scaled
    // scatter; variance = lambda / (n^2 * 2^40) of the quantized grid
    val varExplained = lambda / (n.toDouble * n.toDouble * scale * scale)
    (scored, PcaModel(v, varExplained, mu))
  }

  /** All-but-the-top debiasing (Mu & Viswanath, ICLR'18): subtract each
    * vector's projection onto the fitted top component — embedding
    * spaces concentrate a huge common direction that drowns cosine
    * contrast; removing it is the standard one-line isotropy fix before
    * similarity search. Fit is [[pcaTopComponent]]; the debias itself
    * is a pure map (codegen literal-vector arithmetic, ZERO exchanges
    * in the returned frame's plan — Wave8PlanSpec pins that), so it
    * composes with every ANN operator at any scale.
    *
    * Returns (idCol, dvec) in the quantized grid the model was fit on. */
  def abttDebias(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (_, model) = pcaTopComponent(df, idCol, vecCol)
    val dim = model.component.length
    val scale = 1048576.0
    def cexpr(j: Int) =
      floor(element_at(col(vecCol), j + 1).cast("double") * lit(scale)) /
        lit(scale) - lit(model.mu(j))
    val proj = (0 until dim).map(j => cexpr(j) * lit(model.component(j)))
      .reduce(_ + _) // j-ordered fixed fold
    df.withColumn("_pc1", proj)
      .select(col(idCol), array((0 until dim).map(j =>
        cexpr(j) - col("_pc1") * lit(model.component(j))): _*).as("dvec"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily pick `k` results from each query's exact-cosine
    * shortlist, trading relevance against redundancy —
    * mmr(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s). The diversified
    * retrieval layer over [[bruteForceTopK]] (a search that returns
    * five near-copies is worse than four copies and one alternative).
    *
    * Exactness: rel and the candidate-pair sims ride the proven cosine
    * machinery; λ and 1−λ are driver-computed literal doubles; every
    * round's argmax uses a (score DESC, id ASC) total order, and max
    * over doubles is order-independent — the whole greedy trace
    * replays in unrolled SQL rounds (the pagerank discipline). Round 1
    * scores with max-sim 0, so one formula covers every round.
    *
    * Scale shape: the expensive stage is the shortlist itself (the
    * audited top-k); everything after runs on parameter-bounded frames
    * — shortlist² pair sims per query, then k bounded rounds of
    * key-partitioned joins and rank-1 windows, each round one
    * checkpoint job in [[CheckpointBlocks.iterate]]. */
  def mmrDiversify(queries: DataFrame, corpus: DataFrame, qId: String,
                   qVec: String, cId: String, cVec: String,
                   shortlist: Int, k: Int, lambda: Double): DataFrame = {
    val cands = bruteForceTopK(queries, corpus, qId, qVec, cId, cVec,
      shortlist).select(col("query_id"), col("neighbor_id"),
      col("cos").as("rel"))
    val vecs = corpus.select(col(cId).as("id"), col(cVec).as("v"),
      graft.functions.Vectors.l2Norm(col(cVec)).as("nv"))
    val pairs = cands.select(col("query_id"), col("neighbor_id").as("ida"))
      .join(vecs.select(col("id").as("ida"), col("v").as("va"),
        col("nv").as("na")), Seq("ida"))
      .join(cands.select(col("query_id"), col("neighbor_id").as("idb")),
        Seq("query_id"))
      .join(vecs.select(col("id").as("idb"), col("v").as("vb"),
        col("nv").as("nb")), Seq("idb"))
      .withColumn("sim", when(col("na") * col("nb") =!= 0.0,
        graft.functions.Vectors.dot(col("va"), col("vb")) /
          (col("na") * col("nb"))).otherwise(lit(0.0)))
      .select("query_id", "ida", "idb", "sim")
    def mmr(rel: Column, ms: Column): Column =
      lit(lambda) * rel - lit(1.0 - lambda) * ms
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // each greedy round references `selected` twice and re-joins cands/
    // pairs — truncate lineage (the Bradley–Terry fit's lesson) or the
    // shortlist plan re-executes exponentially in k
    val candsCk = cands.localCheckpoint(true)
    val pairsCk = pairs.localCheckpoint(true)
    val first = candsCk
      .withColumn("score", mmr(col("rel"), lit(0.0)))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("score"), lit(1).as("round"))
    var r = 1
    val (kept, _) = CheckpointBlocks.iterate("mmrDiversify", first, k - 1,
        CheckpointBlocks.Retain.Last) { live =>
      r += 1
      val selected = live.head
      val notSel = candsCk.join(
        selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = notSel
        .join(pairsCk.withColumnRenamed("ida", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .join(selected.select(col("query_id"),
          col("neighbor_id").as("idb")), Seq("query_id", "idb"))
        .groupBy("query_id", "neighbor_id", "rel")
        .agg(max(col("sim")).as("ms"))
      val pick = ms.withColumn("score", mmr(col("rel"), col("ms")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          col("score"), lit(r).as("round"))
      selected.unionByName(pick)
    }
    kept.head
  }
}
