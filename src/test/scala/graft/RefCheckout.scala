package graft

import org.scalactic.source.Position
import org.scalatest.Assertions.fail
import org.scalatest.funsuite.AnyFunSuite

/** The squirreling reference checkout that the reference-pinned specs
  * read through node (the reference scripts under `tools/`). It is not
  * part of this repository, so every spec that needs it asks here
  * whether it is there.
  */
object RefCheckout {

  val root = "/root/reference"

  /** The module tools/ref_probe.mjs and tools/fuzz_ref.mjs import. */
  val index = s"$root/src/index.js"

  lazy val nodeOk: Boolean =
    try new ProcessBuilder("node", "--version").start().waitFor() == 0
    catch { case _: Exception => false }

  /** node starts and tools/ref_probe.mjs can import the reference. */
  lazy val probeOk: Boolean = nodeOk && new java.io.File(index).isFile

  /** Fail the calling test when a node script that reads the checkout
    * exits non-zero: with one line naming the absent checkout when that
    * is the cause, else with the exit code and the script's log tail.
    */
  def assertScriptRan(script: String, exitCode: Int, logTail: => String)(
      implicit pos: Position): Unit =
    if (exitCode != 0) {
      if (!new java.io.File(root).isDirectory) fail(s"reference checkout $root absent: $script cannot run")
      else fail(s"$script exited $exitCode:\n$logTail")
    }
}

/** A spec whose graft half is pinned to literal values that the
  * reference's answer is also checked against. The graft half runs on
  * every host; the reference half runs where the checkout is present.
  */
trait RefPinned { this: AnyFunSuite =>

  /** Run a reference-side check where tools/ref_probe.mjs can run, and
    * record in the report that it did not run elsewhere.
    */
  protected def onReference(check: => Unit): Unit =
    if (RefCheckout.probeOk) check
    else info("reference checkout absent: reference answer not re-verified")
}
