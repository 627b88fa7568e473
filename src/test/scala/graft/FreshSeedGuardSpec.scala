package graft

/** Fresh-seed differential fuzz for the pre-commit guard (`sbt guard`).
  *
  * The CI batteries in [[FuzzSpec]] replay FIXED seeds — strong
  * regression pins, but they stop exploring the moment they pass. The
  * round-11 deep audits proved the value of NEW seeds (a fresh-seed
  * campaign caught a round-1 ST_TOUCHES parity bug nine rounds of
  * curated tests never reached), so every guard run also explores a
  * small budget of queries nobody has generated before: seed =
  * UTC-date-derived (stable within a day, new every day), 100 dialect +
  * 50 scalar. The seed is printed via info() — a found divergence
  * reproduces exactly with `GRAFT_FUZZ_SEED=<seed> sbt "testOnly
  * graft.FreshSeedGuardSpec"`.
  */
class FreshSeedGuardSpec extends FuzzHarness {

  // date-derived by default; GRAFT_FUZZ_SEED pins it for replay
  private val seed: Long = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
    .getOrElse(900000L + java.time.LocalDate.now(java.time.ZoneOffset.UTC).toEpochDay)

  test("fresh-seed dialect fuzz: today's queries agree with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    assume(new java.io.File(RefCheckout.index).isFile, "reference missing")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    info(s"fresh seed=$seed (replay: GRAFT_FUZZ_SEED=$seed)")
    val queries = FuzzGen.queries(seed = seed, n = 100)
    val refResults = runReference(queries)
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      diff(q, runSpark(q), rf).map(d => s"#$i $d\n  SQL: $q")
    }
    assert(divergences.isEmpty,
      s"seed=$seed: ${divergences.length} divergence(s):\n${divergences.take(8).mkString("\n")}")
  }

  test("fresh-seed scalar fuzz: today's scalar surface agrees with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    assume(new java.io.File(RefCheckout.index).isFile, "reference missing")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    info(s"fresh seed=${seed + 1} (replay: GRAFT_FUZZ_SEED=$seed)")
    val queries = FuzzGen.scalarQueries(seed = seed + 1, n = 50)
    val refResults = runReference(queries)
    // same contract as FuzzSpec's scalar battery: jsonBridge (Spark's
    // JSON path functions return JSON TEXT where the reference returns
    // typed values) and counted leniency on invalid-JSON throws
    var lenient = 0
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      (runSpark(q), rf) match {
        case (Right(_), Left(e)) if e.contains("invalid JSON") =>
          lenient += 1; None
        case (sp, _) => diff(q, sp, rf, jsonBridge = true).map(d => s"#$i $d\n  SQL: $q")
      }
    }
    info(s"lenientJson=$lenient")
    assert(divergences.isEmpty,
      s"seed=${seed + 1}: ${divergences.length} divergence(s):\n${divergences.take(8).mkString("\n")}")
  }

  test("fresh-seed spatial-join fuzz: today's multi-row geometry queries agree") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    assume(new java.io.File(RefCheckout.index).isFile, "reference missing")
    import spark.implicits._
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    info(s"fresh seed=${seed + 2} (replay: GRAFT_FUZZ_SEED=$seed)")
    // the round-13 family: spatial predicates as JOIN conditions, WHERE
    // filters, window PARTITION keys and GROUP keys over a seeded
    // geometry table — a small daily budget in the guard keeps the
    // multi-row spatial planner paths on the exploration ratchet
    val geo = FuzzGen.geoRows(seed + 2, 12).toDF("id", "w")
    geo.createOrReplaceTempView("f_geo")
    val queries = FuzzGen.spatialJoinQueries(seed + 3, 30)
    val refResults = runReference(queries, Map("f_geo" -> geo))
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      diff(q, runSpark(q), rf).map(d => s"#$i $d\n  SQL: $q")
    }
    assert(divergences.isEmpty,
      s"seed=${seed + 3}: ${divergences.length} divergence(s):\n${divergences.take(8).mkString("\n")}")
  }
}
