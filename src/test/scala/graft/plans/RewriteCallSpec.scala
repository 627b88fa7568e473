package graft.plans

import graft.plans.rewrite.RewriteSupport.rewriteCall
import org.scalatest.funsuite.AnyFunSuite

/** The call-site walker the call-shaped GraftSql text passes (those
  * Spark's parser cannot read, and TYPEOF) run on: each pass rewrites
  * every `fname(` site once, arguments first, and never rescans a
  * builder's output. Calls Spark parses are translated on the plan
  * (PlanCallSpec).
  */
class RewriteCallSpec extends AnyFunSuite {

  test("a builder that emits its own name is not rescanned") {
    assert(rewriteCall("SELECT f(f(x)) FROM t", "f", a => s"f(${a.head} + 1)")
      == "SELECT f(f(x + 1) + 1) FROM t")
  }

  test("nested sites are rewritten innermost first") {
    val seen = Seq.newBuilder[Seq[String]]
    val out = rewriteCall("SELECT g(1, G(2, g(3))), g(4) FROM t", "g", { a =>
      seen += a
      s"h(${a.mkString("|")})"
    })
    assert(out == "SELECT h(1|h(2|h(3))), h(4) FROM t")
    assert(seen.result() == Seq(Seq("3"), Seq("2", "h(3)"), Seq("1", "h(2|h(3))"), Seq("4")))
  }

  test("a FILTER suffix stays in place and its call sites are rewritten") {
    assert(rewriteCall("SELECT agg(x) FILTER (WHERE agg(z) > 1) FROM t", "agg",
      a => s"w(${a.head})") == "SELECT w(x) FILTER (WHERE w(z) > 1) FROM t")
  }

  test("text after an unbalanced call site is left as it is") {
    assert(rewriteCall("SELECT f(a) + f(b + f(c) FROM t", "f", a => s"g(${a.mkString(", ")})")
      == "SELECT g(a) + f(b + f(c) FROM t")
  }
}
