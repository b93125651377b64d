package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Exact, Pmath, Text}

/** Statistical language-model scoring (SURVEY.md §2.10 extension
  * surface): the CCNet-style quality filter — score each document by the
  * average log-probability of its bigrams under an MLE bigram model of
  * the corpus itself (add-one smoothed). Low-probability documents are
  * gibberish / boilerplate / wrong-language candidates; the score is the
  * standard perplexity knob of corpus curation, here end-to-end inside
  * the engine.
  *
  * Scale shape: positional bigram explode (narrow) → two hash aggregates
  * for the model counts (shuffles keyed on bigram / context word) → one
  * broadcast of the single-row vocab size → per-doc aggregation. The
  * model "training" and the scoring are the same two scans; nothing is
  * ever collected to the driver.
  *
  * Float discipline: ln comes from [[Pmath.lnColumn]] (portable IEEE
  * series — replayable by the SQL oracle bit-for-bit), and the per-doc
  * sum folds a POSITION-SORTED array strictly left-to-right (the
  * x_vector_features recipe) — a plain sum() over shuffled doubles would
  * be partition-order-dependent. */
object LangModel {

  /** (doc_id, n_bigrams, avg_lnp) for every document with ≥ 2 tokens.
    * avg_lnp = mean over positions of ln P(w₂|w₁), with
    * P = (C(w₁w₂)+1)/(C(w₁·)+V). Always ≤ 0; closer to 0 = more
    * predictable text. ln P is computed as −ln(1/P): 1/P ≥ 1 keeps the
    * portable series in its reduction domain. */
  def bigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol).as("doc"),
      Text.explodePositionalShingles(col(textCol), 2).as(Seq("pos", "b")))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val cb = bg.groupBy("b").agg(count(lit(1)).as("cbg"))
    val cw = bg.groupBy("w1").agg(count(lit(1)).as("ctx"))
    val vocab = df.select(explode(Text.tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t")).as("vsz"))
    val scored = bg.join(cb, Seq("b")).join(cw, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lnp", -Pmath.lnColumn(
        (col("ctx") + col("vsz")).cast("double") / (col("cbg") + lit(1))))
    scored.groupBy("doc")
      .agg(count(lit(1)).as("n"), Exact.orderedSum(col("lnp"), col("pos")).as("s"))
      .select(col("doc").as("doc_id"), col("n").as("n_bigrams"),
        (col("s") / col("n")).as("avg_lnp"))
  }

  /** BPE merge training (Sennrich et al. 2016) — tokenizer vocabulary
    * induction, the corpus job every new tokenizer starts with: k rounds
    * of "count adjacent symbol pairs weighted by word frequency, merge
    * the most frequent pair everywhere". Ties break lexicographically on
    * (left, right) so the merge sequence is deterministic.
    *
    * Scale shape: the working frame is the DISTINCT-WORD vocabulary with
    * counts — |vocab|, not |corpus|; the corpus is scanned ONCE. Each
    * round is one weighted pair aggregate (zip_with the symbol array
    * against its own tail — narrow), a 1-ROW argmax collect (the
    * param-bounded driver action, same contract as the IVF centroid
    * collect), and a per-word greedy left-to-right merge fold (aggregate
    * HOF — leftmost occurrence first; a symbol minted by this round's
    * merge never re-merges within the round, which the fold gives for
    * free since last(acc) is then the merged string, not `l`). Round
    * state is persisted and the dead round released, the iterative-
    * operator discipline of [[Graphs.connectedComponents]].
    *
    * Output: one row per merge (rank, left, right, pair_count). No SQL
    * oracle — the k-round argmax/rewrite loop is not expressible in one
    * DuckDB query (the same reason the sketch aggregates are rows-only);
    * PmathSpec instead checks the full merge sequence against an
    * INDEPENDENT plain-Scala BPE reference on fixture and toy corpora. */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val chars = (w: Column) =>
      transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1)))
    var words = df.select(explode(Text.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), chars(col("w")).as("syms"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    // ONE action per round (round 15): the argmax collect of round r+1
    // is itself the job that materializes round r's persisted rewrite,
    // so the explicit per-round `count()` was a pure extra job — the
    // feeding round's unpersist just has to WAIT one round (until the
    // collect has filled the new cache), held in `prev`
    var prev: Option[DataFrame] = None
    for (r <- 1 to k if !exhausted) {
      val best = words
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      // `words` is now materialized in its cache — the round that fed
      // it can release (lineage stays intact; nothing recomputes)
      prev.foreach(_.unpersist()); prev = None
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, l, rr, pc))
        val next = words.withColumn("syms",
          aggregate(col("syms"), typedlit(Array.empty[String]),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && x === lit(rr),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x)))))
          .persist()
        prev = Some(words)
        words = next
      }
    }
    prev.foreach(_.unpersist())
    words.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Apply a learned merge table — the ENCODE half of the BPE pair
    * ([[bpeMerges]] learns, this tokenizes): each word splits to
    * characters, then every merge is applied in RANK order with the
    * same greedy leftmost fold the learner used, so encoding the
    * training corpus reproduces the learner's final symbol stream
    * exactly. Emits per-doc token accounting plus an md5 digest of the
    * full encoded stream ('' between symbols, '' between
    * words — unambiguous, symbols never contain either byte) so a
    * differential can bit-check content without shipping the stream.
    *
    * Scale shape: the merge table is a param-bounded broadcast (k
    * rows); encoding is a per-row imperative fold over word characters
    * — embarrassingly parallel mapPartitions, zero shuffles (the
    * tokenizer-inner-loop case the mapPartitions escape hatch exists
    * for: k chained array-fold HOF expressions would defeat codegen
    * long before real vocab sizes). Fully oracle-graded since r7 (the
    * SQL replay applies the same fold per rank over the distinct-word
    * frame); `PmathSpec` anchors it against the independent plain-Scala
    * reference and the learner-state identity. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ms = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          // same tokenization as the learner: Text.tokens == split(" ")
          val words = text.split(" ", -1).filter(_.nonEmpty)
          var nSyms = 0L
          val sb = new StringBuilder
          words.foreach { w =>
            var syms: Vector[String] = w.map(_.toString).toVector
            ms.foreach { case (l, r) =>
              syms = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
                if (acc.nonEmpty && acc.last == l && x == r)
                  acc.init :+ (acc.last + x)
                else acc :+ x
              }
            }
            nSyms += syms.size
            if (sb.nonEmpty) sb.append('')
            sb.append(syms.mkString(""))
          }
          md.reset()
          val dig = md.digest(sb.toString.getBytes("UTF-8"))
            .map(b => f"${b & 0xff}%02x").mkString
          (id, words.length.toLong, nSyms, dig)
        }
      }
      .toDF("doc_id", "n_words", "n_syms", "enc_digest")
  }

  /** Greedy longest-match-first subword segmentation — the
    * WordPiece-runtime half of tokenizer induction ([[bpeMerges]] /
    * [[bpeEncode]] are the merge-learning half): the vocabulary is the
    * top `vocabSize` substrings (length ≤ `maxPieceLen`) of the
    * SAMPLE's words ranked by frequency-weighted occurrence count
    * (ties to the lexicographically smaller piece), and every corpus
    * word is walked left to right taking the LONGEST vocab piece at
    * the cursor; a character no piece covers consumes one position as
    * the reserved `<unk>` piece (5 chars — it cannot collide with any
    * ≤ 4-char vocab entry). Returns the top `topK` pieces by
    * frequency-weighted usage: (piece, n_uses).
    *
    * Everything is integer/string arithmetic, so the whole chain —
    * vocab induction included — replays exactly in the SQL oracle
    * (the fold as a list_reduce over a position-state string, the
    * [[bpeEncode]] precedent). Deterministic: the vocab is a pure
    * data function and the greedy walk has no ties.
    *
    * Scale shape: vocab induction is two hash aggregates over the
    * BOUNDED sample plus a `vocabSize`-row driver collect (the BPE
    * merge-table shape); segmentation is row-parallel mapPartitions
    * over the corpus' DISTINCT words under a broadcast vocab, then
    * one hash aggregate and a TakeOrderedAndProject(topK). Words are
    * capped at `maxWordLen` chars on BOTH sides (the oracle fold
    * unrolls that many steps). */
  def wordpieceUsage(sample: DataFrame, corpus: DataFrame,
                     textCol: String, vocabSize: Int = 64,
                     maxPieceLen: Int = 4, maxWordLen: Int = 20,
                     topK: Int = 20): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def words(df: DataFrame): DataFrame =
      df.select(explode(split(col(textCol), " ")).as("w"))
        .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
    val vocab: Array[String] = words(sample)
      .select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1), lit(maxPieceLen)), l =>
            when(i + l - lit(1) <= length(col("w")),
              col("w").substr(i, l)))))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy("p").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("p").asc)
      .limit(vocabSize)                    // param-bounded driver collect
      .collect().map(_.getString(0))
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    words(corpus).as[(String, Long)]
      .mapPartitions { rows =>
        val vs = bc.value
        rows.flatMap { case (w, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          var pos = 0
          while (pos < w.length) {
            var l = math.min(maxPieceLen, w.length - pos)
            var hit: String = null
            while (l >= 1 && hit == null) {
              val c = w.substring(pos, pos + l)
              if (vs.contains(c)) hit = c else l -= 1
            }
            if (hit == null) { out += (("<unk>", cnt)); pos += 1 }
            else { out += ((hit, cnt)); pos += hit.length }
          }
          out
        }
      }
      .toDF("piece", "cnt")
      .groupBy("piece").agg(sum("cnt").as("n_uses"))
      .orderBy(col("n_uses").desc, col("piece").asc)
      .limit(topK)
      .select(col("piece"), col("n_uses"))
  }

  /** Per-document token Shannon entropy — the repetitiveness signal
    * quality filters pair with length/perplexity: H = Σ (c/n)·ln(n/c)
    * over the doc's token distribution. Boilerplate and keyword-stuffed
    * spam sit near 0; natural prose sits near ln(vocab).
    *
    * Float discipline: every per-term factor is built from exact
    * integer ratios (c/n and n/c are single correctly-rounded
    * divisions; n/c ≥ 1 keeps [[Pmath.lnColumn]] in domain) and the
    * per-doc sum folds the TOKEN-SORTED term list strictly left to
    * right — partition-invariant and SQL-replayable (binary UTF-8
    * ordering agrees across engines). State per doc = its distinct-token
    * list, bounded by doc vocabulary.
    *
    * Scale shape: two hash aggregates (doc×term counts, doc totals —
    * both keyed on the doc side) + one equi-join riding the same key;
    * no corpus-wide state. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("t"))
    val counts = tok.groupBy("doc", "t").agg(count(lit(1)).as("c"))
    val totals = tok.groupBy("doc").agg(count(lit(1)).as("n"))
    counts.join(totals, Seq("doc"))
      .withColumn("h", (col("c").cast("double") / col("n").cast("double")) *
        Pmath.lnColumn(col("n").cast("double") / col("c").cast("double")))
      .groupBy("doc")
      .agg(max(col("n")).as("n"), count(lit(1)).as("vocab"),
        Exact.orderedSum(col("h"), col("t")).as("entropy"))
      .select(col("doc").as("doc_id"), col("n").as("n_tokens"),
        col("vocab").as("vocab_size"), col("entropy"))
  }

  /** PMI collocation extraction (Church & Hanks 1990) — the classic
    * corpus-analytics signal for multi-word expressions: for every
    * adjacent token pair seen ≥ `minCount` times,
    * pmi = ln(N·C(a,b) / (C(a)·C(b))) with C(w) the corpus token counts
    * and N the total token count. High-PMI pairs co-occur far more than
    * their unigram frequencies predict (named entities, idioms);
    * tokenizer vocabularies and phrase-mining pipelines both start here.
    *
    * Float discipline: numerator and denominator are exact integer
    * products (< 2⁵³, so their DOUBLE casts are exact in every engine);
    * the ln runs on whichever ratio is ≥ 1 ([[Pmath.lnColumn]]'s domain)
    * and the sign is flipped for the anti-correlated case — the branch
    * is chosen by an exact integer compare, and num/den vs den/num are
    * each a single correctly-rounded division, so the score replays
    * bit-exactly.
    *
    * Scale shape: one narrow bigram explode + hash agg keyed on the
    * pair, one token explode + hash agg keyed on the token, two
    * equi-joins of the (minCount-pruned) pair frame against the unigram
    * counts, single-row N broadcast. Nothing quadratic, nothing
    * collected. */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L): DataFrame = {
    val tok = df.select(explode(Text.tokens(col(textCol))).as("t"))
    val cw = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val nTot = tok.agg(count(lit(1)).as("n"))
    val bg = df.select(Text.explodePositionalShingles(col(textCol), 2)
        .as(Seq("pos", "b")))
      .select(substring_index(col("b"), " ", 1).as("w1"),
        substring_index(col("b"), " ", -1).as("w2"))
    val cab = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    cab
      .join(cw.select(col("t").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(cw.select(col("t").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"), col("n_ab"),
        when(col("n_ab") * col("n") >= col("c1") * col("c2"),
          Pmath.lnColumn((col("n_ab") * col("n")).cast("double") /
            (col("c1") * col("c2")).cast("double")))
          .otherwise(-Pmath.lnColumn((col("c1") * col("c2")).cast("double") /
            (col("n_ab") * col("n")).cast("double"))).as("pmi"))
  }

  /** Hashing-trick linear classifier scoring (the Vowpal-Wabbit /
    * fastText serving shape): every token maps to a weight through a
    * hash bucket — no vocabulary table, no OOV path — and the document's
    * score is the weight sum. This is how a trained quality/topic
    * classifier actually RUNS inside a data pipeline at scale: a pure
    * map-side expression per token plus one per-doc aggregate, nothing
    * joined, nothing broadcast.
    *
    * The weights here are md5-derived integers in [−8, 8] (a pure
    * function of the token) rather than learned floats: deterministic
    * stand-ins that keep every downstream number integer-exact and
    * engine-replayable while exercising the identical plan. Swapping in
    * a real model = replacing the weight expression with a lookup into a
    * broadcast weight array indexed by the same hash — same shape, same
    * shuffle count (one, on the doc key).
    *
    * Output: (doc_id, n_tokens, score, margin, keep) — margin is the
    * single two-integer division score/n_tokens, keep = margin > 0. */
  def hashedClassifier(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("t"))
    val w = conv(substring(md5(col("t")), 1, 4), 16, 10).cast("long") % 17 - 8
    tok.select(col("doc"), w.as("w"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
      .select(col("doc").as("doc_id"), col("n_tokens"), col("score"),
        (col("score").cast("double") / col("n_tokens").cast("double")).as("margin"),
        (col("score") > 0).as("keep"))
  }

  /** DSIR log importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed-unigram features are under a TARGET
    * slice of the corpus than under the raw corpus —
    * w(doc) = Σ_tokens [ln p̂_tgt(b(t)) − ln p̂_raw(b(t))], b = a 16-bit
    * md5 bucket mod `buckets`, both distributions add-one smoothed. Docs
    * with high w "look like" the target; resampling by w is the standard
    * pretraining-data selection recipe.
    *
    * Float discipline: because target counts are a subset of raw counts
    * (ct ≤ cr per bucket, Tt ≤ Tr in total), each per-token term folds to
    * −ln((cr+1)/(ct+1)) plus the constant ln((Tr+B)/(Tt+B)) — BOTH ln
    * arguments ≥ 1, inside [[Pmath.lnColumn]]'s portable domain. Per-doc
    * summation is the position-sorted strict left fold (the x_lm_score
    * recipe), so partitioning never reorders the adds.
    *
    * Scale shape: token explode (narrow) → two hash aggregates keyed on
    * the bucket (the feature distributions, ≤ `buckets` rows — broadcast
    * back) → per-doc fold (one shuffle keyed on doc). The model is O(B),
    * never corpus-sized. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 256): DataFrame = {
    val toks = df.select(col(idCol).as("doc"), targetPred.as("tgt"),
      Text.explodePositionalShingles(col(textCol), 1).as(Seq("pos", "t")))
      .withColumn("b",
        conv(substring(md5(col("t")), 1, 4), 16, 10).cast("long") % buckets)
    val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgtC = toks.filter(col("tgt")).groupBy("b").agg(count(lit(1)).as("ct"))
    val feat = raw.join(tgtC, Seq("b"), "left").na.fill(0L, Seq("ct"))
    val lnconst = feat.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
      .select(Pmath.lnColumn((col("tr") + buckets).cast("double") /
        (col("tt") + buckets)).as("lnconst"))
    toks.join(broadcast(feat), Seq("b"))
      .withColumn("lnx", Pmath.lnColumn(
        (col("cr") + 1).cast("double") / (col("ct") + 1)))
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("pos"), col("lnx")))).as("ps"))
      .crossJoin(broadcast(lnconst))
      .select(col("doc").as("doc_id"),
        size(col("ps")).cast("long").as("n_tokens"),
        (aggregate(transform(col("ps"), p => p.getField("lnx")),
          lit(0.0), (a, x) => a - x)
          + size(col("ps")) * col("lnconst")).as("dsir_logw"))
  }

  /** Multinomial Naive Bayes language classifier with add-one
    * smoothing, trained on one slice of the corpus (`trainPred`) and
    * scored on the rest — the classic lightweight quality/language
    * filter (the fastText-style baseline a curation pipeline trains on
    * its own labels). Scores the binary `labelCol` (positive vs rest).
    *
    * margin(d) = ln P(+) − ln P(−)
    *           + Σ_t [ln(c₊(t)+1) − ln(c₋(t)+1)]
    *           + |d| · [ln(T₋+V) − ln(T₊+V)]
    * — the per-token denominator terms factor out into the one |d|
    * multiple, so every ln argument is an integer ≥ 1, inside
    * [[graft.functions.Pmath.lnColumn]]'s portable domain, and the
    * per-doc Σ folds in position order (the x_lm_score recipe).
    * Unseen test tokens hit c+1 = 1 on both classes (ln 1 = 0), which
    * the left join's fill reproduces exactly.
    *
    * Scale shape: token explode → one vocabulary-sized conditional
    * count aggregate (the model — O(V), never corpus-sized) → test
    * tokens hash-join the model on the token key → one per-doc fold
    * shuffle. The four corpus constants ride a broadcast 1-row frame.
    * No driver loop, no global window. */
  def naiveBayesMargin(df: DataFrame, idCol: String, textCol: String,
                       labelCol: Column, trainPred: Column): DataFrame = {
    val toks = df.select(col(idCol).as("doc"), labelCol.as("y"),
      trainPred.as("tr"),
      Text.explodePositionalShingles(col(textCol), 1).as(Seq("pos", "t")))
    val model = toks.filter(col("tr"))
      .groupBy("t")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("cn"))
    val consts = model
      .agg(sum("cp").as("tp"), sum("cn").as("tn"),
        count(lit(1)).as("v"))
      .crossJoin(df.filter(trainPred)
        .agg(sum(when(labelCol, 1L).otherwise(0L)).as("np"),
          sum(when(!labelCol, 1L).otherwise(0L)).as("nn")))
      .select(
        (Pmath.lnColumn(col("np")) - Pmath.lnColumn(col("nn"))).as("ln_prior"),
        (Pmath.lnColumn(col("tn") + col("v")) -
          Pmath.lnColumn(col("tp") + col("v"))).as("ln_den"))
    toks.filter(!col("tr"))
      .join(model, Seq("t"), "left")
      .na.fill(0L, Seq("cp", "cn"))
      .withColumn("lnx",
        Pmath.lnColumn(col("cp") + 1) - Pmath.lnColumn(col("cn") + 1))
      .groupBy("doc", "y")
      .agg(count(lit(1)).as("n"), Exact.orderedSum(col("lnx"), col("pos")).as("s"))
      .crossJoin(broadcast(consts))
      .select(col("doc").as("doc_id"), col("n").as("n_tokens"),
        (col("ln_prior") + col("s") +
          col("n").cast("double") * col("ln_den")).as("margin"),
        col("y").as("actual"))
      .withColumn("pred", col("margin") > 0)
      .withColumn("correct", col("pred") === col("actual"))
  }

  /** Zipf's-law fit of the corpus term-frequency distribution: OLS of
    * ln(freq) on ln(rank) over the top `topN` terms — the standard
    * "does this corpus look like natural language" diagnostic (a
    * healthy corpus fits slope ≈ −1; boilerplate- or spam-heavy crawls
    * bend it).
    *
    * Float discipline: both lns are portable ([[Pmath.lnColumn]],
    * integer args ≥ 1), then QUANTIZED to 2⁻²⁰ fixed point
    * (floor(ln·2²⁰) — the same IEEE double op on every engine) so the
    * OLS moment sums are exact integer aggregates; the slope is a
    * single division of two string-mediated exact decimals, the
    * x_linreg recipe. The 2²⁰ scale cancels in the slope ratio.
    *
    * Scale shape: one vocabulary-sized count aggregate, then a global
    * top-`topN` via TakeOrdered (no global sort of the vocabulary);
    * the rank window runs over the `topN`-row frame only — a
    * parameter-bounded spine, never data-sized. */
  def zipfSlope(df: DataFrame, idCol: String, textCol: String,
                topN: Int): DataFrame = {
    val scale = 1048576.0 // 2^20
    val tf = df.select(explode(Text.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t").asc)
      .limit(topN)
    // topN-row frame (limit above) — parameter-bounded global window
    val w = BoundedWindow.orderBy(col("freq").desc, col("t").asc)
    val pts = tf.withColumn("rank", row_number().over(w))
      .select(
        floor(Pmath.lnColumn(col("rank")) * lit(scale))
          .cast("decimal(38,0)").as("xi"),
        floor(Pmath.lnColumn(col("freq")) * lit(scale))
          .cast("decimal(38,0)").as("yi"))
    def dbl(c: Column) = c.cast("string").cast("double")
    pts.agg(count(lit(1)).as("n_terms"),
        sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
        sum(col("xi") * col("yi")).as("sxy"),
        sum(col("xi") * col("xi")).as("sxx"))
      .select(col("n_terms"),
        (dbl(col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          dbl(col("n_terms") * col("sxx") - col("sx") * col("sx")))
          .as("slope"),
        col("sx"), col("sy"))
      .select(col("n_terms"), col("slope"),
        ((dbl(col("sy")) - col("slope") * dbl(col("sx"))) /
          (dbl(col("n_terms")) * lit(scale))).as("intercept"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * benchmark n-gram smoothing) — the serious upgrade of
    * [[bigramScore]]'s add-one model:
    * P(w₂|w₁) = (c₁₂ − d)/c₁ + (d·N₁₊(w₁·)/c₁)·(N₁₊(·w₂)/B),
    * where the continuation probability counts TYPES, not tokens
    * ("how many contexts has w₂ completed"), with absolute discount
    * d = 0.75 (a dyadic rational — exact in binary on every engine).
    *
    * Float discipline: every count is an exact integer; P is a fixed
    * sequence of correctly-rounded double ops (the bm25 tf-component
    * precedent), the ln goes through the portable series on 1/P, and
    * the per-doc average folds in position order (the bigramScore
    * shape). Scoring the corpus against its own model means every
    * scored bigram has c₁₂ ≥ 1, so P > 0 always.
    *
    * Scale shape: one positional bigram explode, four vocabulary/
    * pair-sized count aggregates, pair- and word-keyed hash joins, one
    * per-doc fold shuffle. The model is O(bigram types). */
  def knScore(df: DataFrame, idCol: String, textCol: String,
              d: Double = 0.75): DataFrame = {
    val bg = df.select(col(idCol).as("doc"),
        Text.explodePositionalShingles(col(textCol), 2).as(Seq("pos", "b")))
      .select(col("doc"), col("pos"), split(col("b"), " ").as("ws"))
      .select(col("doc"), col("pos"),
        element_at(col("ws"), 1).as("w1"), element_at(col("ws"), 2).as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val n1l = c12.groupBy("w1").agg(count(lit(1)).as("n1w1"))
    val n1r = c12.groupBy("w2").agg(count(lit(1)).as("n1w2"))
    val bt = c12.agg(count(lit(1)).as("bt"))
    val p = (col("c12").cast("double") - lit(d)) / col("c1").cast("double") +
      ((lit(d) * col("n1w1").cast("double")) / col("c1").cast("double")) *
        (col("n1w2").cast("double") / col("bt").cast("double"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .join(n1l, Seq("w1")).join(n1r, Seq("w2"))
      .crossJoin(broadcast(bt))
      .withColumn("lnp", -Pmath.lnColumn(lit(1.0) / p))
      .groupBy("doc")
      .agg(count(lit(1)).as("n"), Exact.orderedSum(col("lnp"), col("pos")).as("s"))
      .select(col("doc").as("doc_id"), col("n").as("n_bigrams"),
        (col("s") / col("n")).as("avg_lnp"))
  }

  /** Statistical text-watermark detector (the Kirchenbauer et al. 2023
    * green-list scheme): a watermarking sampler biases each token
    * toward a "green list" seeded by the previous token; the detector
    * recomputes green membership per bigram (here: md5 of the bigram,
    * low bit) and tests the per-doc green count against the null
    * binomial(n, ½) — z = (2g − n)/√n. Docs with z above the
    * threshold carry the watermark; a curation pipeline runs this to
    * keep synthetic text out of pretraining corpora.
    *
    * Exactness: green membership is integer md5 arithmetic; z is one
    * int→double subtraction over one correctly-rounded √ of an integer
    * — IEEE sqrt is exact-rounded on every engine, so the score and
    * the flag replay bit-for-bit. Scale: bigram explode + one per-doc
    * aggregate; single-token docs have no bigrams and are absent by
    * construction on both engines. */
  def watermarkDetect(df: DataFrame, idCol: String, textCol: String,
                      zThreshold: Double): DataFrame = {
    val bg = df.select(col(idCol).as("doc"),
      Text.explodePositionalShingles(col(textCol), 2).as(Seq("pos", "b")))
    val green = (conv(substring(md5(col("b")), 1, 4), 16, 10)
      .cast("long") % 2).as("green")
    bg.select(col("doc"), green)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("green")).as("n_green"))
      .select(col("doc").as("doc_id"), col("n_bigrams"), col("n_green"),
        (col("n_green").cast("double") / col("n_bigrams").cast("double"))
          .as("green_frac"),
        ((col("n_green") * 2 - col("n_bigrams")).cast("double") /
          sqrt(col("n_bigrams").cast("double"))).as("z"))
      .withColumn("watermarked", col("z") > lit(zThreshold))
  }

  /** Bigram collocation mining by Dunning's (1993) log-likelihood
    * ratio G² — the statistically-sound replacement for raw PMI when
    * counts are small: G² = 2·Σ_cells O·ln(O/E) over the 2×2
    * contingency table of (first word = w₁) × (second word = w₂).
    * High-G² pairs are multiword expressions worth protecting from
    * tokenization/dedup mangling.
    *
    * Float discipline: every cell term expands to
    * O · ((ln O + ln N) − (ln Rᵢ + ln Cⱼ)) with all ln args integers
    * ≥ 1 through the portable series (zero cells contribute exactly 0
    * and their guarded ln reads greatest(·,1) on BOTH engines); the
    * four cell terms add in fixed written order. Integer domain: O·N
    * needs N < 2²⁰ bigrams for the ln args to stay inside the
    * portable 2⁴⁰ — we never form O·N, only ln O + ln N, so the real
    * bound is N < 2⁴⁰.
    *
    * Scale shape: positional bigram explode → three vocabulary-sized
    * hash aggregates (pair / left-margin / right-margin) → two
    * margin joins keyed on the word → global top-k via TakeOrdered.
    * No window, no driver loop. */
  def collocationsG2(df: DataFrame, idCol: String, textCol: String,
                     minCount: Long, k: Int): DataFrame = {
    val bg = df.select(col(idCol).as("doc"),
        Text.explodePositionalShingles(col(textCol), 2).as(Seq("pos", "b")))
      .select(split(col("b"), " ").as("ws"))
      .select(element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"))
    val pair = bg.groupBy("w1", "w2").agg(count(lit(1)).as("o"))
    val left = bg.groupBy("w1").agg(count(lit(1)).as("r1"))
    val right = bg.groupBy("w2").agg(count(lit(1)).as("c1"))
    val nn = bg.agg(count(lit(1)).as("nn"))
    def pln(c: Column) = Pmath.lnColumn(greatest(c, lit(1L)))
    val cells = pair.filter(col("o") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(nn))
      .withColumn("o12", col("r1") - col("o"))
      .withColumn("o21", col("c1") - col("o"))
      .withColumn("o22", col("nn") - col("r1") - col("c1") + col("o"))
      .withColumn("ln_n", pln(col("nn")))
      .withColumn("lr1", pln(col("r1")))
      .withColumn("lr2", pln(col("nn") - col("r1")))
      .withColumn("lc1", pln(col("c1")))
      .withColumn("lc2", pln(col("nn") - col("c1")))
    def term(o: Column, lo: Column, lr: Column, lc: Column): Column =
      when(o > 0, o.cast("double") * ((lo + col("ln_n")) - (lr + lc)))
        .otherwise(lit(0.0))
    cells
      .withColumn("g2", lit(2.0) *
        (((term(col("o"), pln(col("o")), col("lr1"), col("lc1")) +
          term(col("o12"), pln(col("o12")), col("lr1"), col("lc2"))) +
          term(col("o21"), pln(col("o21")), col("lr2"), col("lc1"))) +
          term(col("o22"), pln(col("o22")), col("lr2"), col("lc2"))))
      .select(col("w1"), col("w2"), col("o").as("n_occ"), col("g2"))
      .orderBy(col("g2").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** CCNet-style (Wenzek et al. 2020) head/middle/tail perplexity
    * bucketing of the corpus by its own bigram-LM score. Cutoffs are the
    * exact interpolated terciles of the per-doc score (`percentile` —
    * bit-portable vs DuckDB's quantile_cont, proven by x_percentile),
    * assigned by a broadcast map-side compare: the corpus is NEVER
    * globally sorted or ntile'd — at 100 TB only the |docs|-row score
    * relation feeds one aggregate, and at that scale the documented swap
    * is approx_percentile cutoffs (x_approx_stats) with identical
    * assignment plumbing. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scores = bigramScore(df, idCol, textCol)
    val cuts = scores.agg(expr(
      "percentile(avg_lnp, array(0.3333333333333333, 0.6666666666666666))").as("qs"))
      .select(element_at(col("qs"), 1).as("c_lo"), element_at(col("qs"), 2).as("c_hi"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_lnp"),
        when(col("avg_lnp") >= col("c_hi"), "head")
          .when(col("avg_lnp") >= col("c_lo"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Tokenizer vocabulary coverage: build the top-`vocabSize` corpus
    * vocabulary by DOCUMENT frequency (ties broken by token asc — a
    * total order, so the cut is deterministic on every engine), then
    * report each document's token count, out-of-vocabulary occurrence
    * count and OOV rate — the "will this tokenizer cover that corpus"
    * check run before an expensive BPE train ([[bpeMerges]]) or a
    * model-vocab freeze.
    *
    * Scale shape: one token explode + df aggregate (|vocab-candidates|
    * rows), a global TOP-N on (df DESC, token ASC) — Spark plans
    * TakeOrderedAndProject: per-partition heaps of N, never a full
    * sort — then one broadcast-sized vocab anti-probe folded into a
    * per-doc aggregate (count vs count of misses). OOV rate is one
    * integer division. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1,
      s"vocabCoverage: vocabSize must be >= 1, got $vocabSize")
    val tok = df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("t"))
    val vocab = tok.select(col("doc"), col("t")).distinct()
      .groupBy("t").agg(count(lit(1)).as("df_t"))
      .orderBy(col("df_t").desc, col("t").asc)
      .limit(vocabSize)
      .select(col("t").as("v"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), tok("t") === vocab("v"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc").as("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }
}
