package graft.tools

import graft.plans.GraftSql

/** Dev utility: print `GraftSql.rewrite` output for each stdin line —
  * used while pinning text-pass regressions (no SparkSession). This is
  * only the text half of the translation: function calls print as
  * written, since they are translated on the parsed plan (PlanCalls).
  */
object RewriteDump {
  def main(args: Array[String]): Unit = {
    val in = scala.io.Source.stdin.getLines()
    for (line <- in if line.trim.nonEmpty) {
      val out =
        try GraftSql.rewrite(line)
        catch { case e: Throwable => s"ERR ${e.getClass.getSimpleName}: ${e.getMessage}" }
      println(s"IN : $line")
      println(s"OUT: $out")
    }
  }
}
