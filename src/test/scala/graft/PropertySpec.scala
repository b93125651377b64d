package graft

import org.apache.spark.sql.functions._
import graft.functions.Exact
import graft.operators.{Dedup, Evolve, Graphs}
import graft.sources.Warehouse

/** Seeded randomized properties — invariants that must hold for ANY
  * input, checked across many generated cases (deterministic seeds, so
  * failures reproduce). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("mergeAggregates(split) == full recompute, for random data and splits") {
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val rows = (1 to 200).map { i =>
        val key = rng.nextInt(20).toLong
        val amt = Option.when(rng.nextInt(10) > 0)(
          new java.math.BigDecimal(rng.nextInt(100000)).movePointLeft(2))
        (key, amt)
      }
      val df = rows.toDF("k", "v").withColumn("v", col("v").cast("decimal(18,2)"))
      def agg(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("k").agg(sum(col("v")).as("s"), count(col("v")).as("n"))
      val cut = rng.nextInt(199) + 1
      val (a, b) = (rows.take(cut), rows.drop(cut))
      val merged = Evolve.mergeAggregates(
        agg(a.toDF("k", "v").withColumn("v", col("v").cast("decimal(18,2)"))),
        agg(b.toDF("k", "v").withColumn("v", col("v").cast("decimal(18,2)"))), "k")
      val full = agg(df)
      assert(merged.exceptAll(full).count() == 0 &&
        full.exceptAll(merged).count() == 0, s"trial $trial (cut=$cut) diverged")
    }
  }

  test("stats wave is partition-invariant: identical bits at 1, 7, and 32 partitions") {
    import graft.operators.Stats
    val rng = new scala.util.Random(4646)
    val rows = (1 to 800).map { i =>
      (i.toLong, s"g${rng.nextInt(5)}", (rng.nextInt(99999) + 1) / 100.0,
        (rng.nextInt(99999) + 1) / 100.0, rng.nextInt(4) == 0)
    }
    val base = rows.toDF("id", "g", "x", "y", "flag")
    // terms whose plain double sum depends on the order they are added
    // in (1e16 + 1.0 rounds the 1.0 away), in shuffled row order
    val vs = Seq(1e16, 1.0, -1e16, 1.0, 0.5, -1e16, 1e16, 3.0, 1e-3, -0.5)
    val terms = rng.shuffle(vs.zipWithIndex.map { case (v, k) => (k.toLong, v) })
      .toDF("k", "v")
    def results(parts: Int): Seq[Seq[org.apache.spark.sql.Row]] = {
      val df = base.repartition(parts)
      Seq(
        terms.repartition(parts).agg(Exact.orderedSum(col("v"), col("k"))),
        Stats.ksTwoSample(df, "x", col("g") === "g0", col("g") === "g1"),
        Stats.psiDrift(df, floor(col("x") / lit(100.0)).cast("long"),
          col("g") === "g0", col("g") =!= "g0"),
        Stats.lagAutocorr(df, col("id") % 50, col("x")),
        Stats.bootstrapMeanCi(df, "g", col("id"), col("y"), b = 16),
        Stats.rocAuc(df, col("x"), col("flag")),
        Stats.conformalInterval(df, col("id"), col("x"), col("y")),
        Stats.kaplanMeier(df, (col("id") % 30), col("flag")),
        Stats.abTest(df, col("id") % 2 === 0, col("flag")),
        Stats.cupedAdjust(df, col("id") % 2 === 0, col("x"), col("y")),
        Stats.trimmedMean(df, "g", col("y")),
        Stats.quantileNormalize(df, "g", col("y")),
        Stats.theilSenSlope(df, col("id"), col("x"), col("y"), 10),
        Stats.concentration(df, col("id") % 100, col("y")),
        Stats.permutationTest(df, col("id"), col("flag"), b = 8),
        Stats.maxDrawdown(df, col("id") % 40, col("y"))
      ).map(r => r.collect().toSeq.sortBy(_.toString))
    }
    val p1 = results(1)
    for (parts <- Seq(7, 32)) {
      val pN = results(parts)
      p1.zip(pN).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"operator #$i diverged at $parts partitions")
      }
      assert(java.lang.Double.doubleToRawLongBits(pN.head.head.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(p1.head.head.getDouble(0)))
    }
    // the key-order left fold from 0.0, not any other order's sum
    val keyOrder = vs.foldLeft(0.0)(_ + _)
    assert(keyOrder != vs.reverse.foldLeft(0.0)(_ + _))
    assert(java.lang.Double.doubleToRawLongBits(p1.head.head.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(keyOrder))
    val withNull = Seq((0L, Some(1.0)), (1L, None), (2L, Some(2.0))).toDF("k", "v")
      .agg(Exact.orderedSum(col("v"), col("k"))).head()
    assert(withNull.isNullAt(0), "a NULL term must make the sum NULL")
  }

  test("zValue round-trips: de-interleaving recovers both coordinates") {
    val rng = new scala.util.Random(7)
    val pts = (1 to 300).map(_ => (rng.nextInt(1024).toLong, rng.nextInt(1024).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Warehouse.zValue(col("x"), col("y"), 10).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val xBack = (0 until 10).map(j => ((z >> (2 * j)) & 1L) << j).sum
      val yBack = (0 until 10).map(j => ((z >> (2 * j + 1)) & 1L) << j).sum
      assert(xBack == x && yBack == y, s"z=$z lost ($x,$y) -> ($xBack,$yBack)")
    }
  }

  test("connectedComponents == driver-side union-find on random graphs") {
    val rng = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val n = 60 + rng.nextInt(60)
      val edges = (1 to n).map(_ =>
        (rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      // ground truth: classic union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // find() compresses to the min id only if unions always attach the
      // larger root (done above), so truth labels are component minima
      val got = Graphs.connectedComponents(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, s"trial $trial: ${got.toSet.diff(truth.toSet).take(3)}")
    }
  }

  test("winnowing guarantee holds for random docs with a planted shared run") {
    val rng = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 5) {
      val shared = (1 to 6).map(_ => s"s${rng.nextInt(1000)}").mkString(" ")
      val docs = Seq(
        (1L, s"${words(rng.nextInt(10))} $shared ${words(rng.nextInt(10))}"),
        (2L, s"${words(rng.nextInt(10))} $shared ${words(rng.nextInt(10))}"))
        .toDF("doc_id", "text")
      val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
        .collect().map(r => r.getLong(0) -> r.getString(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(fps.getOrElse(1L, Set()).intersect(fps.getOrElse(2L, Set())).nonEmpty,
        s"trial $trial: 6-word shared run produced no shared fingerprint")
    }
  }
}
