package graft

import org.apache.spark.sql.functions._
import graft.sources.{Gen, Io}
import graft.streaming.StreamOps.tempStreamDir

/** End-to-end medallion pipeline test (SURVEY.md §5): seeded generator →
  * bronze → silver → gold on local FS, asserting the reference's own
  * logged invariants plus row-accounting properties. */
class PipelineSpec extends SparkSpec {

  private lazy val base: String = {
    val dir = tempStreamDir("graft_e2e").toString
    Io.runAll(spark, dir, scale = 0.1, seed = 42,
      asOf = "2026-01-01 00:00:00", asOfYear = 2026)
    dir
  }
  private def rd(p: String) = spark.read.parquet(s"$base/$p")

  test("bronze preserves raw row counts") {
    assert(rd("bronze/clients").count() == 500)
    assert(rd("bronze/claims").count() == 250)
    val crm = rd("bronze/crm_clients").count()
    assert(crm > 280 && crm < 420, s"crm 70% sample out of range: $crm")
  }

  test("JSONL round-trip preserves documents exactly (incl. nulls)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = tempStreamDir("graft_jsonl").toString
    Io.writeJsonl(docs, s"$dir/docs")
    val back = Io.readJsonl(spark, s"$dir/docs", docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    // raw text scan sees one row per line (one JSON object per document)
    assert(Io.readText(spark, s"$dir/docs").count() == docs.count())
  }

  test("ORC round-trip preserves lineitem exactly") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val dir = tempStreamDir("graft_orc").toString
    Io.writeOrc(li, s"$dir/li")
    val back = Io.readOrc(spark, s"$dir/li")
    assert(back.schema == li.schema)
    assert(back.exceptAll(li).count() == 0 && li.exceptAll(back).count() == 0)
  }

  test("XML round-trip preserves customers exactly (incl. nulls via schema)") {
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val dir = tempStreamDir("graft_xml").toString
    Io.writeXml(cust, s"$dir/cust")
    val back = Io.readXml(spark, s"$dir/cust", cust.schema)
    assert(back.schema == cust.schema)
    assert(back.exceptAll(cust).count() == 0 &&
      cust.exceptAll(back).count() == 0)
  }

  test("error policy: FailFast throws, Continue isolates the bad table") {
    // raw dir missing the vehicles and claims tables entirely
    val dir = tempStreamDir("graft_policy").toString
    Gen.all(spark, 0.02, 7L).filter(t => t._1 != "vehicles" && t._1 != "claims")
      .foreach { case (t, df) => Io.writeCsv(df, s"$dir/raw/$t") }
    val landed = Seq("clients", "crm_clients", "policies", "payments")
    // FailFast attempts every table, then rethrows the first failure in
    // table order, whichever of the two failed first in time
    val ff = intercept[Exception] {
      Io.runBronze(spark, s"$dir/raw", s"$dir/bronze_ff")
    }
    assert(ff.getMessage.contains("/raw/vehicles"), ff.getMessage)
    for (t <- landed) assert(spark.read.parquet(s"$dir/bronze_ff/$t").count() > 0, t)
    val failures = Io.runBronze(spark, s"$dir/raw", s"$dir/bronze_cont",
      Io.ErrorPolicy.Continue)
    assert(failures.map(_._1) == Seq("vehicles", "claims"), s"got $failures")
    // every other table still landed
    for (t <- landed) assert(spark.read.parquet(s"$dir/bronze_cont/$t").count() > 0, t)
  }

  test("a layer's table steps run concurrently") {
    // each step waits for the other: run one after another, the first
    // times out and fails instead of hanging
    val both = new java.util.concurrent.CountDownLatch(2)
    def step(): Unit = {
      both.countDown()
      assert(both.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "steps ran one after another")
    }
    val failures = Io.guarded(Io.ErrorPolicy.FailFast)(
      Seq("a" -> (() => step()), "b" -> (() => step())))
    assert(failures.isEmpty)
  }

  test("a fatal error in a step is rethrown as it is, also under Continue") {
    val oom = new OutOfMemoryError("step")
    val thrown = intercept[OutOfMemoryError] {
      Io.guarded(Io.ErrorPolicy.Continue)(
        Seq("ok" -> (() => ()), "fatal" -> (() => throw oom)))
    }
    assert(thrown eq oom)
  }

  test("silver vehicles/policies have no null FKs (F2/F3)") {
    assert(rd("silver/vehicles").filter(col("client_id").isNull).count() == 0)
    assert(rd("silver/policies")
      .filter(col("client_id").isNull || col("vehicle_id").isNull).count() == 0)
  }

  test("silver row accounting: silver <= bronze") {
    for (t <- Seq("clients", "crm_clients", "vehicles", "policies", "claims", "payments"))
      assert(rd(s"silver/$t").count() <= rd(s"bronze/$t").count(), t)
  }

  test("silver claims: future sentinel nulled, null amounts kept (E12/E11)") {
    val claims = rd("silver/claims")
    assert(claims.filter(col("claim_date") > to_timestamp(lit("2026-01-01"))).count() == 0)
    // claim rows survive even when amount was nulled — asymmetry vs payments
    assert(claims.count() > 0)
  }

  test("silver payments: non-positive amounts DROPPED (F5 asymmetry)") {
    val p = rd("silver/payments")
    assert(p.filter(col("amount").isNull || col("amount") <= 0).count() == 0)
    assert(p.count() < rd("bronze/payments").count()) // negatives existed
  }

  test("silver text cleansing applied (E1/E2/E3)") {
    val c = rd("silver/clients")
    // no leading/trailing whitespace survives
    assert(c.filter(col("name") =!= trim(col("name"))).count() == 0)
    // surviving emails match the regex
    val bad = c.filter(col("email").isNotNull &&
      !col("email").rlike(graft.functions.Cleanse.emailPattern)).count()
    assert(bad == 0)
    val crm = rd("silver/crm_clients")
    assert(crm.filter(col("iban_account_number").isNotNull &&
      col("iban_account_number") =!= upper(col("iban_account_number"))).count() == 0)
  }

  test("gold dim_clients: left join keeps every client (J1)") {
    assert(rd("gold/dim_clients").count() == rd("silver/clients").count())
    assert(rd("gold/dim_clients").columns.contains("client_type"))
  }

  test("gold dim_vehicles: surrogate key + distinct (P5/A5)") {
    val dv = rd("gold/dim_vehicles")
    assert(dv.columns.toSeq == Seq("vehicle_key", "vehicle_id", "client_id",
      "brand", "model", "year", "plate"))
    assert(dv.filter(col("vehicle_key") =!= col("vehicle_id")).count() == 0)
    assert(dv.count() == dv.dropDuplicates().count())
  }

  test("gold fact_client_summary: one row per distinct client (P4)") {
    val f = rd("gold/fact_client_summary")
    assert(f.count() == rd("silver/clients").select("client_id").distinct().count())
    assert(f.select("client_id").distinct().count() == f.count())
  }

  test("gold fact ratios are null-guarded, never NaN/Inf (A7)") {
    val f = rd("gold/fact_client_summary")
    for (c <- Seq("payment_to_premium_ratio", "claim_ratio", "avg_payment", "avg_claim")) {
      assert(f.filter(isnan(col(c)) || col(c) === Double.PositiveInfinity).count() == 0, c)
    }
  }

  test("gold fact aggregates reconcile with silver totals") {
    val f = rd("gold/fact_client_summary")
    val totalPolicies = f.agg(sum("total_policies")).collect()(0).getLong(0)
    // policies with client_id not in clients still count toward *some* row
    // only if that client exists in the spine; reference semantics: spine
    // is the clients table, so orphan policies vanish.
    val joined = rd("silver/policies").join(rd("silver/clients").select("client_id").distinct(), Seq("client_id"))
    assert(totalPolicies == joined.count())
  }

  test("gold fact_payments: payments enriched with client/vehicle FK") {
    val fp = rd("gold/fact_payments")
    assert(fp.count() == rd("silver/payments").count())
    assert(fp.columns.contains("client_id") && fp.columns.contains("vehicle_id"))
  }

  test("parquet schema evolution: mergeSchema unions old and new writers") {
    import spark.implicits._
    import graft.sources.Io
    val dir = tempStreamDir("evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir + "/batch=1")
    Seq((2L, "b", 3.5)).toDF("id", "v1", "v2").write.parquet(dir + "/batch=2")
    val merged = Io.readParquetEvolved(spark, dir)
    assert(Set("id", "v1", "v2").subsetOf(merged.columns.toSet))
    val byId = merged.collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("v2")),
      "pre-evolution file's new column must surface as null")
    assert(byId(2L).getDouble(byId(2L).fieldIndex("v2")) == 3.5)
  }

  test("robust CSV read: corrupt rows quarantined in PERMISSIVE, gone in DROPMALFORMED") {
    import org.apache.spark.sql.types._
    val dir = tempStreamDir("graft_dirty_csv")
    java.nio.file.Files.writeString(dir.resolve("data.csv"),
      "id,amount\n1,10.5\nnot_a_number_row,,,\n3,oops\n4,7.25\n")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("amount", DoubleType)))
    val quarantined = Io.readCsvRobust(spark, dir.toString, schema).collect()
    assert(quarantined.length == 4, "PERMISSIVE must keep every row")
    val bad = quarantined.filter(!_.isNullAt(2))
    // both malformed rows carry their raw text; the parsed columns that
    // failed are null, the ones that parsed (id=3) survive
    assert(bad.map(_.getString(2)).toSet ==
      Set("not_a_number_row,,,", "3,oops"), s"got ${bad.mkString("; ")}")
    assert(bad.forall(r => r.isNullAt(1) || !r.isNullAt(0)))
    // collect(), not count(): a zero-column count never runs the parser
    // (column pruning), so nothing would be flagged malformed
    val dropped = Io.readCsvRobust(spark, dir.toString, schema, drop = true)
      .collect()
    assert(dropped.length == 2 && dropped.forall(!_.anyNull),
      s"DROPMALFORMED kept ${dropped.length} rows")
  }
}
