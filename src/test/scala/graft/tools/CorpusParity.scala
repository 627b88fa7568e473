package graft.tools

import graft.{FuzzGen, FuzzHarness, GraftSession}
import graft.plans.{GraftSql, StrictJsNulls}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Dialect parity corpus: one line per SQL text with its
  * `GraftSql.validate` outcome and, for accepted texts, the output
  * schema and an order-insensitive digest of the rows. Two builds agree
  * on the dialect when `diff` finds no line between their outputs.
  *
  * The corpus (14,598 texts on the committed tree):
  *  - every Scala string literal with a SELECT, FROM or WITH word (any
  *    case) in the `.scala` files directly under `src/test/scala/graft`
  *    and `src/main/scala/graft/queries`;
  *  - the texts of `perfbench/frozen/sql_texts.json`;
  *  - for seeds 1 to 40: `FuzzGen.queries(seed, 100)`, `mutate` of each
  *    with `Random(seed)`, `scalarQueries(seed, 50)`,
  *    `spatialQueries(seed, 30)`, `strictNullQueries(seed, 30)` and
  *    `spatialJoinQueries(seed, 30)`.
  *
  * Literal and frozen texts run on the GenData tables of `<sfDir>`, the
  * fuzz texts on the fuzz tables built from the same directory. Texts
  * run through `sqlDerived`, the strict-null family through
  * `StrictJsNulls` over it. `<corpusRoot>` is the tree the literals and
  * frozen texts are read from: point both builds at the same tree so
  * their corpora match.
  *
  * {{{
  * sbt "Test/runMain graft.tools.CorpusParity <sfDir> <out.tsv> [corpusRoot]"
  * }}}
  * (GenData at sf0.001 gives the tables this corpus was checked on.)
  */
object CorpusParity {

  private val sqlWord = "(?i)\\b(SELECT|FROM|WITH)\\b".r.unanchored
  private val tripleQuoted = "(?s)\"\"\"(.*?)\"\"\"(\\.stripMargin)?".r
  private val condition = "\\[[A-Z_.]+\\]".r
  private val plainQuoted = "\"((?:[^\"\\\\\\n]|\\\\.)*)\"".r

  private def unescape(s: String): String =
    try StringContext.processEscapes(s) catch { case _: IllegalArgumentException => s }

  /** Scala string literals of one source file, triple-quoted first. */
  private def literals(src: String): Seq[String] = {
    val triple = tripleQuoted.findAllMatchIn(src).toSeq
    val rest = tripleQuoted.replaceAllIn(src, "")
    triple.map(m => if (m.group(2) != null) m.group(1).stripMargin else m.group(1)) ++
      plainQuoted.findAllMatchIn(rest).map(m => unescape(m.group(1)))
  }

  private def scalaFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  def corpus(root: Path): Seq[(String, String)] = {
    val lits = (scalaFiles(root.resolve("src/test/scala/graft")) ++
        scalaFiles(root.resolve("src/main/scala/graft/queries")))
      .flatMap(f => literals(Files.readString(f)))
      .filter(s => sqlWord.matches(s))
      .map("literal" -> _)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val frozen = om.readTree(root.resolve("perfbench/frozen/sql_texts.json").toFile)
      .elements().asScala.map(n => "frozen" -> n.get("sql").asText()).toSeq
    val fuzz = (1L to 40L).flatMap { seed =>
      val qs = FuzzGen.queries(seed, 100)
      val r = new Random(seed)
      qs.map("fuzz" -> _) ++ qs.map(q => "mutant" -> FuzzGen.mutate(r, q)) ++
        FuzzGen.scalarQueries(seed, 50).map("scalar" -> _) ++
        FuzzGen.spatialQueries(seed, 30).map("spatial" -> _) ++
        FuzzGen.strictNullQueries(seed, 30).map("strict" -> _) ++
        FuzzGen.spatialJoinQueries(seed, 30).map("spatialjoin" -> _)
    }
    lits ++ frozen ++ fuzz
  }

  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case other => other.toString
  }

  private def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def rejection(e: Throwable): String = e match {
    case a: org.apache.spark.sql.AnalysisException => Option(a.getCondition).getOrElse("AnalysisException")
    case other => other.getClass.getSimpleName
  }

  private final class FuzzTables(dir: String) extends FuzzHarness {
    override protected val sfDir: String = dir
    def register(): Unit = fuzzTables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args.take(2)
    val root = Paths.get(args.lift(2).getOrElse("."))
    val texts = corpus(root)
    val spark = GraftSession.builder("corpus-parity", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.registerAll(spark, sfDir)
    new FuzzTables(sfDir).register()
    val w = Files.newBufferedWriter(Paths.get(out))
    var accepted = 0
    texts.zipWithIndex.foreach { case ((family, text), i) =>
      val outcome = GraftSql.validate(spark, text) match {
        case Left(msg) => s"REJECT\t${condition.findFirstIn(msg).getOrElse(msg.take(40))}"
        case Right(()) =>
          try {
            val derived = GraftSql.sqlDerived(spark, text)
            val df: DataFrame =
              if (family == "strict") GraftPlanBridge.ofRows(spark, StrictJsNulls(derived.queryExecution.analyzed))
              else derived
            val rows = df.collect().toSeq.map(show)
            accepted += 1
            s"OK\t${df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}" +
              s"\t${rows.size}\t${digest(rows)}"
          } catch { case scala.util.control.NonFatal(e) => s"ERROR\t${rejection(e)}" }
      }
      val key = digest(Seq(text))
      w.write(s"$i\t$family\t$key\t$outcome\n")
    }
    w.close()
    System.err.println(s"[corpus] texts=${texts.size} accepted=$accepted")
    spark.stop()
  }
}
