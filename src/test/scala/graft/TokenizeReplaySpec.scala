package graft

import graft.plans.SqlTok
import org.scalatest.funsuite.AnyFunSuite

/** Replay the reference TOKENIZER's own test suite
  * (/root/reference/test/parse/tokenize.test.js — the one parse-level
  * file whose fixtures never reach parseSql, so ParseReplaySpec's
  * recording does not see them): tools/record_ref_tokenize.mjs runs it
  * under the vitest shim with tokenizeSql wrapped, recording every
  * call; each fixture replays against [[SqlTok.tokenize]].
  *
  * The two lexers segment a few shapes differently BY DESIGN, all
  * boundary-compatible (one side's token covers a contiguous run of
  * the other's):
  *  - signed numbers: the reference folds a non-subtraction `-` into
  *    the number token; SqlTok always lexes the sign as its own Op
  *    (the reference's PARSER consumes sign + number separately too);
  *  - bigint `1234n`: one reference number; SqlTok Num + Word;
  *  - `''`/`""` escapes: one reference token; SqlTok keeps the
  *    adjacent-literal split (quote parity — Spark reads the doubled
  *    quote the same way, so the TEXT semantics agree);
  *  - `==`: one reference operator; SqlTok lexes `=` `=`;
  *  - `$` identifiers: one reference identifier; SqlTok splits at `$`.
  * So the replay contract is positional: both lexers must agree on
  * where token text IS — every reference token's span must be exactly
  * covered by a contiguous run of SqlTok tokens starting and ending on
  * the same offsets (and vice versa for SqlTok's wider multi-ops), and
  * 1:1 tokens must agree on token class. Rejected fixtures pin
  * SqlTok's "never throws" contract on the reference's own adversarial
  * corpus: positional tokenization, in-bounds, non-overlapping.
  */
class TokenizeReplaySpec extends AnyFunSuite {

  private case class TEntry(
    testName: String, query: String,
    tokens: Seq[(String, String, Int, Int)], // (type, value, start, end)
    error: Option[String])

  private lazy val entries: Seq[TEntry] = {
    val out = java.nio.file.Files.createTempFile("ref-tokenize", ".json")
    out.toFile.deleteOnExit()
    val pb = new ProcessBuilder("node", "tools/record_ref_tokenize.mjs", out.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("record_ref_tokenize.mjs", proc.waitFor(), log.takeRight(2000))
    info(log.trim.linesIterator.toSeq.lastOption.getOrElse(""))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(out))
    (0 until root.size()).flatMap { i =>
      val e = root.get(i)
      if (e.get("kind").asText() != "tokenize") None
      else Some(TEntry(
        testName = e.get("test").asText(),
        query = e.get("query").asText(),
        tokens = Option(e.get("tokens")).filterNot(_.isNull).map { t =>
          (0 until t.size()).map { j =>
            val tok = t.get(j)
            (tok.get("type").asText(), tok.get("value").asText(),
              tok.get("positionStart").asInt(), tok.get("positionEnd").asInt())
          }
        }.getOrElse(Nil),
        error = Option(e.get("error")).filterNot(_.isNull).map(_.asText())))
    }
  }

  private def classOk(refType: String, refValue: String, t: SqlTok.Tok): Boolean =
    refType match {
      case "keyword" | "identifier" =>
        t.kind == SqlTok.Word || t.kind == SqlTok.DQuot
      case "number" => t.kind == SqlTok.Num
      case "string" => t.kind == SqlTok.Str
      case "operator" => t.kind == SqlTok.Op && t.up == refValue
      case "comma" => t.kind == SqlTok.Comma
      case "dot" => t.isOp(".")
      case "semicolon" => t.kind == SqlTok.Semi
      case "paren" =>
        if (refValue == "(") t.kind == SqlTok.LPar else t.kind == SqlTok.RPar
      case "bracket" =>
        if (refValue == "[") t.kind == SqlTok.LBrk else t.kind == SqlTok.RBrk
      case other => fail(s"unknown reference token type $other")
    }

  test("every accepted tokenizer fixture segments boundary-compatibly in SqlTok") {
    assume(RefCheckout.nodeOk, "node unavailable")
    val accepted = entries.filter(_.error.isEmpty)
    assert(accepted.size >= 30, s"recorder returned only ${accepted.size} accepted fixtures")
    for (e <- accepted) {
      val ref = e.tokens.filterNot(_._1 == "eof")
      val got = SqlTok.tokenize(e.query)
      val clue = s"[${e.testName}] query=<${e.query}>"
      var i = 0 // ref cursor
      var j = 0 // SqlTok cursor
      while (i < ref.length || j < got.length) {
        assert(i < ref.length && j < got.length,
          s"$clue token-count tail mismatch: ref=${ref.drop(i)} sqltok=${got.drop(j)}")
        val (rTyp, rVal, rs, re) = ref(i)
        val t = got(j)
        assert(t.start == rs, s"$clue start mismatch: ref $rTyp<$rVal>@$rs vs ${t.kind}@${t.start}")
        if (t.end == re) {
          assert(classOk(rTyp, rVal, t), s"$clue class mismatch: ref $rTyp<$rVal> vs ${t.kind}<${t.up}>")
          i += 1; j += 1
        } else if (t.end < re) {
          // one reference token covers a contiguous SqlTok run
          // (signed number, bigint, ''-escape, ==, $-identifier)
          if (rTyp == "number" && rVal.startsWith("-"))
            assert(t.isOp("-"), s"$clue signed number must open with the sign Op, got ${t.kind}")
          var end = t.end
          j += 1
          while (end < re && j < got.length && got(j).start == end) {
            end = got(j).end; j += 1
          }
          assert(end == re, s"$clue SqlTok run ends at $end, reference token at $re")
          i += 1
        } else {
          // one SqlTok token covers a contiguous reference run (a
          // graft-only multi-op like <=> — none in today's fixtures,
          // kept for corpus growth)
          var end = re
          i += 1
          while (end < t.end && i < ref.length && ref(i)._3 == end) {
            end = ref(i)._4; i += 1
          }
          assert(end == t.end, s"$clue reference run ends at $end, SqlTok token at ${t.end}")
          j += 1
        }
      }
    }
  }

  test("every rejected tokenizer fixture still tokenizes positionally in SqlTok (never throws)") {
    assume(RefCheckout.nodeOk, "node unavailable")
    val rejected = entries.filter(_.error.isDefined)
    assert(rejected.size >= 25, s"recorder returned only ${rejected.size} rejected fixtures")
    for (e <- rejected) {
      val got = SqlTok.tokenize(e.query) // must not throw
      val clue = s"[${e.testName}] query=<${e.query}>"
      var prevEnd = 0
      for (t <- got) {
        assert(t.start >= prevEnd && t.start <= t.end && t.end <= e.query.length,
          s"$clue non-positional token ${t.kind}@[${t.start},${t.end})")
        prevEnd = t.end
      }
      // what the lexer claims as token text really is the source text
      for (t <- got if t.kind == SqlTok.Word)
        assert(e.query.substring(t.start, t.end).toUpperCase(java.util.Locale.ROOT) == t.up, clue)
    }
  }
}
