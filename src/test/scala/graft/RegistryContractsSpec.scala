package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Registry-wide contracts every `SparkEntry.queries` entry must hold.
  *
  * 1. Output schema: the driver's comparator sorts result columns with
  *    pandas, which cannot order numpy arrays — a top-level ARRAY /
  *    STRUCT / MAP column crashes the whole correctness row (this is
  *    exactly how q_text_hash_embed went red in round 8 while being
  *    value-correct). The repo policy since round 3: complex outputs
  *    ship as `to_json` text on BOTH engines. This sweep enforces the
  *    policy at build time for every query, present and future.
  *
  * 2. HOF binding: the interpreted-lambda trap (SURVEY §6, measured 19×)
  *    was a hand-applied convention; [[graft.plans.HofLint]] now walks
  *    each optimized plan and flags loop-invariant expensive
  *    subexpressions inside lambda bodies — the signature CollapseProject
  *    leaves when a derived array is referenced per-element instead of
  *    bound as a lambda variable.
  *
  * 3. One engine configuration: only [[GraftSession]] builds a session
  *    or reads the core count, so every main runs the conf the specs do.
  *
  * 4. One front door: every GraftSql host entry point rewrites, parses
  *    and analyzes a query once, on `prepare`'s path.
  *
  * 5. One home for the operator translations: `||`/LIKE coercion, zero
  *    divisors, subscripts and window input order are PlanCalls cases,
  *    never text a pass emits.
  *
  * 6. Select aliases and NOT IN are read on the parsed plan, never by a
  *    text pass.
  *
  * 7. Interval arithmetic is read on the parsed plan, and no text pass
  *    re-tokenizes its output after each site.
  */
class RegistryContractsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // one registry sweep feeds both contract checks (query construction —
  // including the iterative operators that run jobs while building —
  // is the expensive part, not the schema/plan walks)
  private lazy val sweep: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> SparkEntry.queries(name)(spark, dir)
    }

  test("no query returns a top-level ARRAY/STRUCT/MAP column") {
    val offenders = sweep.flatMap { case (name, df) =>
      df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType.isInstanceOf[MapType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"comparator contract: serialize complex outputs via to_json on both " +
        s"engines (driver pandas sort crashes on raw arrays). Offenders:\n  " +
        offenders.mkString("\n  "))
  }

  test("no query re-evaluates an expensive loop-invariant inside a HOF lambda") {
    val offenders = sweep.flatMap { case (name, df) =>
      graft.plans.HofLint.lint(df).map(f => s"$name: $f")
    }
    assert(offenders.isEmpty,
      s"interpreted HOF lambdas have no CSE: bind the derived value as a " +
        s"lambda variable via transform(array(x), v -> ...). Offenders:\n  " +
        offenders.mkString("\n  "))
  }

  test("the lint catches a deliberately-unbound derived array") {
    val docs = sources.Tables(spark, dir, "documents")
    // the canonical bad shape: split(text) referenced per element of the
    // sequence — re-runs the whole split for every i when interpreted
    val bad = docs.selectExpr(
      "transform(sequence(1, size(split(text, ' '))), " +
        "i -> element_at(split(text, ' '), i)) AS toks")
    val findings = graft.plans.HofLint.lint(bad)
    assert(findings.nonEmpty, "lint missed the canonical unbound-split fixture")
    assert(findings.exists(_.invariant.contains("split")), findings.mkString("; "))
    // and the bound rewrite of the same computation passes
    val good = docs.selectExpr(
      "element_at(transform(array(split(text, ' ')), " +
        "tk -> transform(sequence(1, size(tk)), i -> element_at(tk, i))), 1) AS toks")
    assert(graft.plans.HofLint.lint(good).isEmpty,
      graft.plans.HofLint.lint(good).mkString("; "))
  }

  test("the lint catches an inner-lambda invariant built from an OUTER variable") {
    val docs = sources.Tables(spark, dir, "documents")
    // split(d) references only the outer lambda's d — constant within the
    // inner per-i loop, so it re-runs once per i when interpreted
    val bad = docs.selectExpr(
      "transform(array(text), d -> " +
        "transform(sequence(1, 3), i -> element_at(split(d, ' '), i))) AS xs")
    val findings = graft.plans.HofLint.lint(bad)
    assert(findings.exists(_.invariant.contains("split")),
      s"lint missed the outer-variable invariant: $findings")
    // bound as a lambda variable at the level it is derived: clean
    val good = docs.selectExpr(
      "transform(array(text), d -> element_at(transform(array(split(d, ' ')), " +
        "tk -> transform(sequence(1, 3), i -> element_at(tk, i))), 1)) AS xs")
    assert(graft.plans.HofLint.lint(good).isEmpty,
      graft.plans.HofLint.lint(good).mkString("; "))
  }

  test("only GraftSession builds a SparkSession or reads SPARK_GRAFT_CPUS") {
    // every main runs the engine the specs test: one session conf, one
    // core count. Source scan, so a new main cannot drift silently.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter(_.getFileName.toString != "GraftSession.scala")
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def offenders(pattern: String): Seq[String] = {
      val re = pattern.r
      files.filter(f => re.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
        .map(root.relativize(_).toString).sorted
    }
    val builders = offenders("""SparkSession\s*\.\s*builder\b""")
    assert(builders.isEmpty,
      s"build the session with GraftSession.builder/get/scaleBuilder. Offenders:\n  " +
        builders.mkString("\n  "))
    val cpus = offenders("\"SPARK_GRAFT_CPUS\"")
    assert(cpus.isEmpty,
      s"take the core count from GraftSession.localCores. Offenders:\n  " +
        cpus.mkString("\n  "))
  }

  test("GraftSql rewrites, parses and analyzes each query on one path") {
    // source scan: a second spark.sql, parse or rewrite call in a host
    // entry point would repeat work prepare already did
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/plans/GraftSql.scala"))
    val members = """(?m)^  (?:private )?def (\w+)""".r.findAllMatchIn(src)
      .map(m => m.start -> m.group(1)).toSeq
    // the GraftSql members whose bodies call `call`
    def callers(call: String): Seq[String] = call.r.findAllMatchIn(src)
      .map(m => members.takeWhile(_._1 < m.start).last._2).toSeq.distinct.sorted
    assert(callers("""\bspark\.sql\(""").isEmpty, "spark.sql parses the text again")
    assert(callers("""parsePlan\(""").isEmpty,
      "parse with GraftPlanBridge.parse, in the session's conf")
    // prepare's one parse (its NOT IN fallback translates the same
    // parsed plan), the raw-text parse that sqlDerived names columns
    // from, and tables, which rewrites and parses only
    assert(callers("""GraftPlanBridge\.parse\(""") == Seq("prepare", "sqlDerived", "tables"))
    assert(callers("""(?<!def )(?<![.\w])rewrite\(""") == Seq("derivedAlias", "prepare", "tables"))
    // prepare's one analysis, and sqlStrictNulls' transformed plan
    assert(callers("""GraftPlanBridge\.ofRows\(""") == Seq("prepare", "sqlStrictNulls"))
    // the set-op guard's per-arm analyses
    assert(callers("""executePlan\(""") == Seq("setOpTypeGuard"))
  }

  /** The text passes' sources: every module under `plans/rewrite` that
    * never sees a LogicalPlan, and the pipeline in GraftSql.scala; each
    * `(file, word)` where one holds one of `words`. */
  private def inTextPasses(words: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rewrite = java.nio.file.Paths.get("src/main/scala/graft/plans/rewrite")
    val modules = {
      val list = java.nio.file.Files.list(rewrite)
      try list.iterator().asScala.filter(_.getFileName.toString.endsWith(".scala")).toList
      finally list.close()
    }.map(f => f -> java.nio.file.Files.readString(f)).filterNot(_._2.contains("LogicalPlan"))
    assert(modules.size > 2, s"no text passes under ${rewrite.toAbsolutePath}")
    val pipeline = java.nio.file.Paths.get("src/main/scala/graft/plans/GraftSql.scala")
    for {
      (f, src) <- modules :+ (pipeline -> java.nio.file.Files.readString(pipeline))
      w <- words
      if src.contains(w)
    } yield s"${f.getFileName}: $w"
  }

  test("no text pass emits the operator translations PlanCalls owns") {
    // source scan: a text pass that spliced one of these wraps back in
    // would translate an operator twice, or a second way
    val offenders = inTextPasses(
      Seq("graft_js_str(", "nullif(", "graft_get(", "monotonically_increasing_id"))
    assert(offenders.isEmpty,
      s"translate the operator on the parsed plan, in PlanCalls. Offenders:\n  " +
        offenders.mkString("\n  "))
  }

  test("no text pass substitutes select aliases or rewrites NOT IN") {
    // source scan: both are read on the parsed plan (SelectAliases,
    // NotInExists), where every SELECT block and every NOT IN shape is
    // visible; a text pass sees only part of a statement
    val offenders = inTextPasses(
      Seq("rewriteAliasExpansion", "rewriteNotInSubquery", "__nin", "notInExists"))
    assert(offenders.isEmpty,
      s"substitute aliases and translate NOT IN on the parsed plan. Offenders:\n  " +
        offenders.mkString("\n  "))
  }

  test("no text pass translates interval arithmetic or restarts its scan") {
    // source scan: the parsed plan holds each `± INTERVAL` operand as one
    // subtree (IntervalArith), where a text pass can only guess it; and a
    // pass that re-tokenizes after every site needs a site cap (`guard <`)
    val offenders = inTextPasses(Seq("graft_js_interval", "coerceTsExpr", "guard <"))
    assert(offenders.isEmpty,
      s"translate intervals on the parsed plan, in one scan per pass. Offenders:\n  " +
        offenders.mkString("\n  "))
  }
}
