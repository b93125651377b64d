package graft

import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.plans.logical.UnionLoop
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{Dedup, Skyline}
import graft.plans.CheckpointBlocks

/** Round-6 primitives: skyline vs brute-force dominance, sorted-
  * neighborhood recall on planted dups, Unicode normalization laws,
  * HLL rollup error + merge consistency, and the recursive-CTE walk's
  * result and loop shape. */
class Wave6Spec extends SparkSpec {
  import spark.implicits._

  test("skyline2D == brute-force dominance filter; duplicates kept; partition-proof") {
    val rnd = new scala.util.Random(11)
    val pts = (1 to 400).map(_ => (rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
    val dup = pts ++ pts.take(40) // force duplicate rows incl. frontier dups
    def dominated(p: (Double, Double)) = dup.exists(q =>
      q._1 >= p._1 && q._2 <= p._2 && (q._1 > p._1 || q._2 < p._2))
    val brute = dup.filterNot(dominated).sorted

    for (parts <- Seq(1, 7)) {
      val got = Skyline.skyline2D(
        dup.toDF("x", "y").repartition(parts), "x", "y")
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq.sorted
      assert(got == brute, s"parts=$parts: $got != $brute")
    }
  }

  test("sortedNeighborhood finds adjacent planted near-dups, misses nothing in-window") {
    // docs sharing a long prefix sort adjacently; doc 2 is a near-copy
    // of doc 1 (7/8 shared words)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha completely different text here now ok yes"),
      (4L, "zulu yankee xray whiskey victor uniform tango sierra"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhood(docs, "doc_id", "text",
      window = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must produce no pairs")
  }

  test("prefixFilterJoin == brute-force word-set Jaccard (lossless prefix recall)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

    val sets = docs.select(col("doc_id"),
        array_distinct(split(Text.normText(col("text")), " ")).as("ws"))
      .as[(Long, Seq[String])].collect().map { case (id, ws) => id -> ws.toSet }
    val brute = (for {
      (a, wa) <- sets; (b, wb) <- sets if a < b
      j = (wa & wb).size.toDouble / (wa | wb).size
      if j >= 0.6
    } yield (a, b)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("unicode: NFC composes, stripAccents folds, nulls propagate, ASCII is identity") {
    val df = Seq(
      Some("e\u0301cole"),  // decomposed e + combining acute
      Some("\u00E9cole"),   // precomposed
      Some("plain ascii"),
      None)
      .toDF("s")
      .select(col("s"), Text.nfcUnicode(col("s")).as("nfc"),
        Text.stripAccents(col("s")).as("base"))
      .collect()
    assert(df(0).getString(1) == "\u00E9cole" && df(0).getString(2) == "ecole")
    assert(df(1).getString(1) == "\u00E9cole" && df(1).getString(2) == "ecole")
    assert(df(2).getString(1) == "plain ascii" && df(2).getString(2) == "plain ascii")
    assert(df(3).isNullAt(1) && df(3).isNullAt(2))
  }

  test("property: unicode normalization laws on random accent-decorated strings") {
    val rng = new scala.util.Random(31)
    val marks = Seq("́", "̀", "̂", "̈", "")
    val strs = (1 to 200).map { _ =>
      (1 to rng.nextInt(12) + 1).map { _ =>
        val c = ('a' + rng.nextInt(26)).toChar
        s"$c${marks(rng.nextInt(marks.size))}"
      }.mkString
    }
    val out = strs.toDF("s")
      .select(col("s"), Text.nfcUnicode(col("s")).as("n"),
        Text.stripAccents(col("s")).as("b"),
        Text.nfcUnicode(Text.nfcUnicode(col("s"))).as("nn"),
        Text.stripAccents(Text.stripAccents(col("s"))).as("bb"))
      .collect()
    out.foreach { r =>
      val (s, n, b, nn, bb) =
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))
      assert(n == nn, s"NFC must be idempotent: '$s'")
      assert(b == bb, s"stripAccents must be idempotent: '$s'")
      assert(b.forall(_ < 0x80), s"stripped form must be ASCII here: '$b'")
      assert(java.text.Normalizer.normalize(n, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{Mn}+", "") == b,
        s"NFC and accent-strip must commute through NFD: '$s'")
    }
  }

  test("hll rollup: estimates within 5% of exact; union == sketch-of-union") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val exact = docs.groupBy("source").agg(countDistinct(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = docs.agg(countDistinct(col("text"))).head().getLong(0)

    // round-9 verdict schema: (source, n_exact, hll_ok) — the exact side
    // must match this spec's own computation, every tolerance bit TRUE
    val rows = graft.queries.Ext2.queries("x_hll_rollup")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    exact.foreach { case (src, n) =>
      val (ne, ok) = rows(src)
      assert(ne == n, s"$src: exact side drifted $ne != $n")
      assert(ok, s"$src: HLL estimate out of 5% tolerance")
    }
    assert(rows("__all__")._1 == exactAll && rows("__all__")._2)

    // merging per-source sketches tracks sketching the whole column
    // (NOT exactly equal: DataSketches unions run in the denser HLL_8
    // target representation, so the two estimators round differently —
    // both sit inside the configured error bounds)
    val direct = docs.agg(hll_sketch_estimate(
      hll_sketch_agg(col("text"))).as("n")).head().getLong(0)
    val union = docs.groupBy("source").agg(hll_sketch_agg(col("text")).as("sk"))
      .agg(hll_union_agg(col("sk")).as("g"))
      .select(hll_sketch_estimate(col("g"))).head().getLong(0)
    assert(math.abs(union - direct).toDouble / direct < 0.05,
      s"union estimate $union strays from direct sketch $direct")
  }

  private val sf = "/root/testdata/sf0.001"

  test("x_recursive_cte: one row per heap node 1..max key, depth = floor(log2 node), == x_shortest_path") {
    val maxKey = Tables.load(spark, sf, "part")
      .agg(max(col("p_partkey").cast("long"))).head().getLong(0)
    val walk = SparkEntry.queries("x_recursive_cte")(spark, sf)
      .select(col("node").cast("long"), col("depth").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(walk.map(_._1) == (1L to maxKey), s"nodes are not exactly 1..$maxKey")
    walk.foreach { case (node, depth) =>
      assert(depth == 63 - java.lang.Long.numberOfLeadingZeros(node),
        s"node $node at depth $depth")
    }
    val bfs = SparkEntry.queries("x_shortest_path")(spark, sf)
      .select(col("node").cast("long"), col("dist").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(bfs == walk, "x_shortest_path's (node, dist) != x_recursive_cte's (node, depth)")
    CheckpointBlocks.releaseAll(spark)
  }

  test("x_recursive_cte: the recursive term reads materialized edges, no file scan or scalar subquery") {
    // Spark re-plans and re-runs the UnionLoop's recursive side at every
    // level, so a scan or subquery there is paid once per level
    val plan = SparkEntry.queries("x_recursive_cte")(spark, sf)
      .queryExecution.optimizedPlan
    val loops = plan.collectWithSubqueries { case u: UnionLoop => u }
    assert(loops.size == 1, s"expected one UnionLoop:\n$plan")
    val rec = loops.head.recursion
    val scans = rec.collectWithSubqueries { case r: LogicalRelation => r }
    val subqueries = rec.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case q: ScalarSubquery => q })
    }.flatten
    assert(scans.isEmpty && subqueries.isEmpty,
      s"recursive term has ${scans.size} file scans and " +
        s"${subqueries.size} scalar subqueries:\n$rec")
    assert(rec.collectWithSubqueries { case r: LogicalRDD => r }.nonEmpty,
      s"recursive term does not read the checkpointed edges:\n$rec")
    CheckpointBlocks.releaseAll(spark)
  }
}
