package graft

import graft.DiffValues._
import graft.plans.GraftSql

/** Replay the reference engine's ENTIRE hand-written test suite through
  * GraftSql-on-Spark. tools/record_ref_suite.mjs runs every test file
  * under /root/reference/test/execute with a vitest shim and the
  * engine wrapped, recording each collect(executeSql({tables, query}))
  * as a (tables, query, rows|error) triple AT TEST TIME — so a test
  * added to the reference is automatically replayed here; completeness
  * is checked, not sampled (the same contract as FuzzSpec's registry
  * sweep). Each replayable triple loads the recorded JSON tables as
  * temp views and must produce the reference's rows, modulo the pinned
  * deliberate divergences documented in the classifier below (SURVEY
  * §2.24: strictness, lazy per-row resolution, two-valued NULL logic,
  * JSON-error leniency).
  */
class SuiteReplaySpec extends SparkSpec {

  import com.fasterxml.jackson.databind.JsonNode

  private case class Entry(
    file: String, testName: String, query: String,
    tablesJson: Option[JsonNode], hasDates: Boolean,
    rows: Option[JsonNode], error: Option[String], skip: Option[String])

  private def record(): Seq[Entry] = {
    val out = java.nio.file.Files.createTempFile("ref-suite", ".json")
    out.toFile.deleteOnExit()
    val pb = new ProcessBuilder("node", "tools/record_ref_suite.mjs", out.toString)
    // the reference parses bare date strings with JS `new Date(...)` in
    // LOCAL time — pin the recorder to UTC like the Spark session
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("record_ref_suite.mjs", proc.waitFor(), log.takeRight(2000))
    info(log.trim.linesIterator.toSeq.lastOption.getOrElse(""))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(out))
    (0 until root.size()).map { i =>
      val e = root.get(i)
      def str(f: String) = Option(e.get(f)).filterNot(_.isNull).map(_.asText())
      Entry(
        file = str("file").getOrElse("?"),
        testName = str("testName").getOrElse("?"),
        query = str("query").getOrElse(""),
        tablesJson = Option(e.get("tables")).filterNot(_.isNull),
        hasDates = Option(e.get("hasDates")).exists(_.asBoolean(false)),
        rows = Option(e.get("rows")).filterNot(_.isNull),
        error = str("error"),
        skip = str("skip"))
    }
  }

  /** A GeoJSON geometry node from the recorded tables → WKT text (the
    * geometry representation graft's tables use; its spatial functions
    * coerce WKT strings). The reference stores geometries as GeoJSON
    * OBJECTS in its untyped rows — no Spark column type carries that
    * heterogeneous nesting, so the load converts.
    */
  private def geoNodeToWkt(n: JsonNode): Option[String] = {
    import graft.functions.spatial.{Geom, Pt, Wkt}
    if (n == null || !n.isObject || n.get("type") == null) return None
    def pt(a: JsonNode): Pt = Pt(a.get(0).asDouble(), a.get(1).asDouble())
    def pts(a: JsonNode): IndexedSeq[Pt] = (0 until a.size()).map(i => pt(a.get(i)))
    def ptss(a: JsonNode): IndexedSeq[IndexedSeq[Pt]] =
      (0 until a.size()).map(i => pts(a.get(i)))
    try {
      val c = n.get("coordinates")
      val g: Geom = n.get("type").asText() match {
        case "Point" => Geom.Point(pt(c))
        case "MultiPoint" => Geom.MultiPoint(pts(c))
        case "LineString" => Geom.LineString(pts(c))
        case "MultiLineString" => Geom.MultiLineString(ptss(c))
        case "Polygon" => Geom.Polygon(ptss(c))
        case "MultiPolygon" => Geom.MultiPolygon((0 until c.size()).map(i => ptss(c.get(i))))
        case _ => return None
      }
      Some(Wkt.write(g))
    } catch { case _: Exception => None }
  }

  /** Register the entry's recorded tables as temp views. Tables are tiny
    * (test fixtures); schema comes from spark.read.json inference over
    * the recorded rows, which mirrors how the reference's memorySource
    * sees untyped JS rows. GeoJSON-object cells become WKT strings.
    */
  private def loadViews(tables: JsonNode, jsonAsText: Boolean = false): Unit = {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val names = tables.fieldNames()
    while (names.hasNext) {
      val name = names.next()
      val arr = tables.get(name)
      val rowJsons = (0 until arr.size()).map { i =>
        val row = arr.get(i)
        val geoFields = {
          val it = row.fieldNames()
          val found = scala.collection.mutable.ListBuffer[String]()
          while (it.hasNext) { val f = it.next(); if (geoNodeToWkt(row.get(f)).isDefined) found += f }
          found.toList
        }
        // jsonAsText: OBJECT cells load as their raw JSON TEXT instead
        // of read.json structs. The recorder's JSON.stringify and
        // Jackson's readTree both preserve key INSERTION order and keep
        // {} — it is read.json's schema inference that sorts struct
        // fields and drops empty objects. The reference's JSON family
        // takes strings or objects alike, so the text-preserving load
        // makes JSON_KEYS-over-object tests cell-exact (closing two
        // rows that used to sit in untypedAllow as recorder artifacts).
        val textFields =
          if (!jsonAsText) Nil
          else {
            val it = row.fieldNames()
            val found = scala.collection.mutable.ListBuffer[String]()
            while (it.hasNext) {
              val f = it.next()
              if (row.get(f).isObject && geoNodeToWkt(row.get(f)).isEmpty) found += f
            }
            found.toList
          }
        if (geoFields.isEmpty && textFields.isEmpty) row.toString
        else {
          val obj = row.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          geoFields.foreach(f => obj.put(f, geoNodeToWkt(row.get(f)).get))
          textFields.foreach(f => obj.put(f, row.get(f).toString))
          om.writeValueAsString(obj)
        }
      }
      val df0 =
        if (rowJsons.isEmpty) spark.emptyDataFrame
        else spark.read.json(spark.createDataset(rowJsons))
      // A column whose every recorded cell is null carries NO type in
      // the reference's untyped JS rows; read.json infers StringType
      // for it, which then drags mixed-arg expressions to string
      // semantics (GREATEST(all_null, 3, 1) compares "3" < "1"
      // lexicographically instead of coercing to the other args' type).
      // NullType is the faithful load: Spark's coercion then gives the
      // null column the type of its siblings, exactly like the
      // reference's untyped null cells.
      val allNullFields = {
        val counts = scala.collection.mutable.Map[String, (Int, Int)]()
        (0 until arr.size()).foreach { i =>
          val row = arr.get(i)
          val it = row.fieldNames()
          while (it.hasNext) {
            val f = it.next()
            val (n, nulls) = counts.getOrElse(f, (0, 0))
            counts(f) = (n + 1, nulls + (if (row.get(f).isNull) 1 else 0))
          }
        }
        counts.collect { case (f, (n, nulls)) if n > 0 && n == nulls => f }.toSet
      }
      val df = allNullFields.intersect(df0.columns.toSet).foldLeft(df0) {
        (d, f) => d.withColumn(f, org.apache.spark.sql.functions.lit(null))
      }
      // names like "dataset.parquet" (execute.dot tests) are single-part
      // identifiers WITH a dot — backticks keep them single-part
      val viewName = if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name else s"`$name`"
      df.createOrReplaceTempView(viewName)
    }
  }

  /** Spark rows via toJSON (schema-aware: structs keep field names,
    * timestamps render ISO-UTC) normalized to the shared value model.
    * toJSON OMITS null fields; compare treats a missing key as VNull on
    * both sides (the reference's JS rows omit undefined the same way).
    */
  private def runSpark(q: String): Either[String, Seq[Map[String, V]]] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      Right(GraftSql.sqlDerived(spark, q).toJSON.collect().toSeq.map { rowJson =>
        val n = om.readTree(rowJson)
        val it = n.fieldNames()
        val m = scala.collection.mutable.Map[String, V]()
        while (it.hasNext) { val f = it.next(); m += f.toLowerCase -> jnorm(n.get(f)) }
        m.toMap
      })
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }

  private def refRows(rows: JsonNode): Seq[Map[String, V]] =
    (0 until rows.size()).map { i =>
      val row = rows.get(i)
      val it = row.fieldNames()
      val m = scala.collection.mutable.Map[String, V]()
      while (it.hasNext) { val f = it.next(); m += f.toLowerCase -> jnorm(row.get(f)) }
      m.toMap
    }

  /** Cell comparison with the battery's bridges: jsonBridge (textual vs
    * typed JSON), tsBridge (ISO-Z vs Spark timestamp rendering), a NaN
    * bridge (the RECORDER's JSON.stringify writes NaN/Infinity as null —
    * the reference itself returns NaN, per toBeNaN in its tests), and a
    * geometry bridge (spark WKT text vs the reference's GeoJSON object).
    */
  private def cellEq(a: V, b: V): Boolean =
    vEq(a, b, jsonBridge = true, tsBridge = true) || ((a, b) match {
      case (VStr("NaN"), VNull) => true
      case (VStr("Infinity"), VNull) => true
      case (VStr("-Infinity"), VNull) => true
      case (VNum(d), VNull) if d.isNaN || d.isInfinite => true
      case (VStr(s), o: VObj) if o.fields.contains("coordinates") =>
        graft.functions.spatial.Wkt.parse(s).exists { g =>
          parseJsonV(graft.functions.spatial.GeoJson.write(g)).exists(vEq(_, o))
        }
      case _ => false
    })

  /** Canonical string for multiset comparison (no top-level ORDER BY ⇒
    * each engine's row order is arbitrary): ulp-rounded numerics,
    * instants normalized to epoch, JSON-text cells parsed so a textual
    * engine result matches the typed one.
    */
  private def canonV(v: V): String = v match {
    case VNum(d) => f"${math.rint(d * 1e6) / 1e6}%.6f"
    case VStr(s) =>
      parseInstant(s).map(ms => s"ts:$ms").getOrElse {
        parseJsonV(s) match {
          case Some(p) if !p.isInstanceOf[VStr] => canonV(p)
          case _ => "s:" + s
        }
      }
    case VArr(items) => items.map(canonV).mkString("[", ",", "]")
    case VObj(f) => f.toSeq.sortBy(_._1).map { case (k, x) => s"$k:${canonV(x)}" }.mkString("{", ",", "}")
    case other => other.toString
  }

  private def canonRows(rows: Seq[Map[String, V]]): Seq[String] =
    rows.map(_.toSeq.filterNot(_._2 == VNull).sortBy(_._1)
      .map { case (k, v) => s"$k=${canonV(v)}" }.mkString("|")).sorted

  private def rowsDiff(q: String, sp: Seq[Map[String, V]], rf: Seq[Map[String, V]]): Option[String] = {
    if (sp.length != rf.length) return Some(s"row count ${sp.length} vs ${rf.length}")
    val ordered = "(?i)\\bORDER\\s+BY\\b".r.findFirstIn(q).isDefined
    val limited = "(?i)\\bLIMIT\\b|\\bTOP\\b".r.findFirstIn(q).isDefined
    if (!ordered && limited) return None // arbitrary subset: count-only
    def pairDiff(pairs: Seq[(Map[String, V], Map[String, V])]): Option[String] =
      pairs.zipWithIndex.collectFirst {
        case ((srow, rrow), i) if {
          val cols = srow.keySet ++ rrow.keySet
          cols.exists(c => !cellEq(srow.getOrElse(c, VNull), rrow.getOrElse(c, VNull)))
        } =>
          val cols = srow.keySet ++ rrow.keySet
          val bad = cols.filter(c => !cellEq(srow.getOrElse(c, VNull), rrow.getOrElse(c, VNull)))
          s"row $i differs on ${bad.mkString(",")}: spark=${bad.map(srow.getOrElse(_, VNull))} ref=${bad.map(rrow.getOrElse(_, VNull))}"
      }
    if (ordered) {
      pairDiff(sp.zip(rf)) match {
        case None => None
        case Some(d) =>
          // sort-key ties: the reference's stable sort and Spark's
          // unstable one legally order tied rows differently — accept if
          // the multisets agree, but only when an ordered pass failed
          if (canonRows(sp) == canonRows(rf)) None
          // ORDER BY + LIMIT over tied sort keys: each engine keeps a
          // legally different subset — classified by the caller, capped
          else if (limited) Some(s"tie-limited: $d")
          else Some(d)
      }
    } else {
      if (canonRows(sp) == canonRows(rf)) None
      // canon is bridge-blind (NaN/geometry render differently) — sort
      // both sides and let the bridge-aware pairwise compare decide
      else pairDiff(sp.sortBy(r => canonRows(Seq(r)).head).zip(rf.sortBy(r => canonRows(Seq(r)).head)))
    }
  }

  /** Pinned deliberate strictness: graft (a typed, analyze-up-front
    * engine) rejects what the reference's JS leniency runs. Each class
    * is documented in SURVEY §2.24 / GraftSqlSpec.
    */
  private def strictnessError(e: String): Boolean =
    e.contains("FILTER_NOT_BOOLEAN") || e.contains("MISSING_GROUP_BY") ||
      e.contains("MISSING_AGGREGATION") || e.contains("AMBIGUOUS_REFERENCE") ||
      e.contains("AMBIGUOUS_LATERAL_COLUMN_ALIAS")

  /** Untyped-JS artifacts, each reviewed by hand: the recorded table
    * cannot carry the type the test depends on (mixed-type, empty, or
    * all-null JS columns have no Spark schema), or the construct needs
    * an engine capability Spark scopes differently. Reason inline.
    */
  private val untypedAllow: Set[(String, String)] = Set(
    // Every residual here is PINNED against the live reference in
    // ReplayResidualSpec (tools/ref_probe.mjs) with a structural reason
    // exact agreement is impossible — not just reviewed by hand.
    // (The SUM/AVG mixed-column and GREATEST/LEAST all-null entries
    // that used to sit here now replay cell-exactly: graft_js_num
    // reproduces the reference's Number(v)+isFinite accumulator gate,
    // and all-null columns load as NullType.)
    //
    // COALESCE over a number+string column: the EXPECTED OUTPUT is one
    // column holding 42 (number) then 'string' — untypeable; graft's
    // ANSI coercion rejects, pinned in ReplayResidualSpec
    ("execute.strings.test.js", "should work with mixed types"),
    // lateral TVF referencing a column TWO query levels out — Spark
    // scopes lateral correlation one level deep (ReplayResidualSpec
    // demonstrates the boundary and the expressible equivalent)
    ("execute.subquery.test.js",
      "should preserve the enclosing correlated row inside nested lateral UNNEST"))

  /** Entries whose OBJECT cells load as raw JSON TEXT (insertion key
    * order and {} preserved — see loadViews). These two used to sit in
    * untypedAllow as read.json recorder artifacts; with the
    * text-preserving load they replay CELL-EXACT.
    */
  private val rawJsonTextLoad: Set[(String, String)] = Set(
    ("execute.json.test.js", "should return the keys of a JSON object"),
    ("execute.json.test.js", "should return an empty array for an empty object"))

  test("the reference's own test suite replays on GraftSql (recorded at test time)") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File("/root/reference/test/execute").isDirectory, "reference missing")
    val entries = record()
    assert(entries.size > 900, s"suspiciously small corpus: ${entries.size}")

    var skipped = 0
    var refErrorBothReject = 0
    var refErrorLenientJson = 0
    var refErrorSparkRuns = Vector[String]()
    var strictness = 0
    var lazyResolution = 0
    var dateTables = 0
    var agreed = 0
    var nondet = 0
    var tieLimit = 0
    var untypedArtifacts = 0
    var schemaLenient = 0
    var divergences = Vector[String]()
    val wallClock = raw"(?i)current_timestamp|current_time\b|current_date|\bnow\s*\(|\brandom?\s*\(".r

    var lastTables: String = null
    entries.foreach { e =>
      if (e.skip.isDefined) skipped += 1
      else {
        val asText = rawJsonTextLoad((e.file, e.testName))
        // the text-preserving load is keyed per entry — include the
        // mode in the reload cache key so a same-tables neighbor does
        // not inherit the other mode's views
        val tablesKey = e.tablesJson.map(t => s"$asText:$t").orNull
        if (tablesKey != lastTables && e.tablesJson.isDefined) {
          loadViews(e.tablesJson.get, jsonAsText = asText)
          lastTables = tablesKey
        }
        val sp = runSpark(e.query)
        val allowed = untypedAllow((e.file, e.testName))
        def flag(d: String): Unit =
          if (allowed) untypedArtifacts += 1
          else divergences :+= d
        (e.error, sp) match {
          case (Some(_), Left(_)) => refErrorBothReject += 1
          case (Some(re), Right(_)) if re.contains("invalid JSON") =>
            // pinned leniency: graft returns NULL where the reference
            // throws on JSON functions over non-JSON strings
            refErrorLenientJson += 1
          case (Some(_), Right(_)) if e.hasDates =>
            // the recorder serializes Date OBJECTS to ISO strings: the
            // reference errored on a DATE-typed input the replay table
            // cannot carry (LENGTH over the recorded string is legal,
            // over the original Date it throws) — and ref_probe cannot
            // re-create the case either, since its tables ride the same
            // JSON. Same artifact class as the dateTables row-diff
            // bucket below; LengthAny itself raises on a real
            // date-typed child (RefDispatch.scala), pinned in
            // GraftSqlSpec.
            dateTables += 1
          case (Some(re), Right(_)) =>
            refErrorSparkRuns :+= s"${e.file} » ${e.testName}: ref ERROR '${re.take(100)}', spark ran\n  SQL: ${e.query.take(200)}"
          case (None, Left(se)) if strictnessError(se) => strictness += 1
          case (None, Left(se)) if se != null && (se.contains("UNRESOLVED_COLUMN") ||
              se.contains("UNRESOLVED_FIELD") || se.contains("FIELD_NOT_FOUND") ||
              se.contains("CANNOT_RESOLVE")) =>
            // the reference resolves columns AND object fields per ROW at
            // evaluation time: a query whose rows never reach the broken
            // expression — or where every touched field is absent, so
            // every output is null — "succeeds". Spark analyzes up
            // front, the correct behavior at 100 TB.
            val refEmpty = e.rows.forall(_.size() == 0)
            val refAllNull = e.rows.exists(r => r.size() > 0 &&
              refRows(r).forall(_.values.forall(_ == VNull)))
            if (refEmpty) lazyResolution += 1
            else if (refAllNull && se.contains("FIELD_NOT_FOUND")) schemaLenient += 1
            else flag(s"${e.file} » ${e.testName}: spark ERROR ${se.take(160)}\n  SQL: ${e.query.take(200)}")
          case (None, Left(se)) =>
            flag(s"${e.file} » ${e.testName}: spark ERROR ${String.valueOf(se).take(160)}\n  SQL: ${e.query.take(200)}")
          case (None, Right(srows)) =>
            val rrows = refRows(e.rows.get)
            rowsDiff(e.query, srows, rrows) match {
              case None => agreed += 1
              case Some(_) if wallClock.findFirstIn(e.query).isDefined &&
                  srows.length == rrows.length =>
                // wall-clock / random values were recorded MINUTES before
                // the replay — shape (row count) is the checkable part
                nondet += 1
              case Some(d) if d.startsWith("tie-limited") =>
                tieLimit += 1
                info(s"tie-limited (not flagged): ${e.file} » ${e.testName}: ${d.take(160)}")
              case Some(d) if e.hasDates =>
                // Date OBJECTS in the recorded tables JSON-serialize to
                // ISO strings, changing input semantics — informational
                dateTables += 1
                info(s"date-object table (not flagged): ${e.file} » ${e.testName}: $d")
              case Some(d) =>
                flag(s"${e.file} » ${e.testName}: $d\n  SQL: ${e.query.take(200)}")
            }
        }
      }
    }

    info(s"entries=${entries.size} agreed=$agreed skipped=$skipped bothReject=$refErrorBothReject " +
      s"lenientJson=$refErrorLenientJson strictness=$strictness lazyResolution=$lazyResolution " +
      s"dateTables=$dateTables nondet=$nondet tieLimit=$tieLimit " +
      s"untypedArtifacts=$untypedArtifacts schemaLenient=$schemaLenient " +
      s"refErrSparkRuns=${refErrorSparkRuns.size} divergences=${divergences.size}")
    assert(tieLimit <= 5, s"too many tie-limited rows ($tieLimit) — check for a real ordering bug")
    refErrorSparkRuns.take(10).foreach(info(_))
    // full dump for offline triage when the battery is red
    if (divergences.nonEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/tmp/replay_divergences.txt"), divergences.mkString("\n\n"))
    assert(divergences.isEmpty,
      s"${divergences.size} divergence(s):\n${divergences.take(15).mkString("\n")}")
    // graft running what the reference rejects is the allowed superset
    // direction, but it must stay a corner, not a loophole
    assert(refErrorSparkRuns.size <= entries.size / 20,
      s"too many ref-error/spark-runs cases:\n${refErrorSparkRuns.take(10).mkString("\n")}")
  }
}
