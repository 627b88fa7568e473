package perfbench

import java.io.File
import java.nio.file.Files

/** CPU time the benchmark's JVM spends, as Linux counts it.
  *
  * Wall time follows the host: a vCPU the hypervisor gives to another
  * guest, or a runnable thread waiting for a core, adds wall time the
  * program did not spend. The kernel charges a thread only for the time
  * it ran, and with paravirtual steal accounting not for the time the
  * hypervisor took from its vCPU, so CPU time stays with the program's
  * own work.
  */
object Cpu {
  private val tasks = new File("/proc/self/task")

  /** CPU time of every thread of the process, live or ended, in ns (the
    * kernel reports it in clock ticks). */
  def processNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, in ns. run.py keeps their
    * number fixed, so no JIT thread ends and takes its count with it. */
  def jitNs(): Long =
    Option(tasks.listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (comm.contains("CompilerThre"))
          new String(Files.readAllBytes(new File(t, "schedstat").toPath)).trim.split(' ')(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // not a JIT thread: those never end
    }.sum

  /** CPU time of the process less its JIT threads, in ns. The JIT
    * compiles the engine while a run warms up, for half of the process's
    * CPU time and more, and how far it has got at a given round varies
    * from run to run; a long-running process pays it once. */
  def workNs(): Long = processNs() - jitNs()
}
