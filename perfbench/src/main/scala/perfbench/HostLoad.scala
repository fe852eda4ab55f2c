package perfbench

import java.lang.management.ManagementFactory

/** What the machine and the JVM did over a stretch of the run: the CPU
  * time of all vCPUs by kind (from /proc/stat, in ms), and the JIT
  * compilers' busy time. `steal` is time the host ran something else on
  * this machine's vCPUs, the shared host's noise. */
final case class HostLoad(user: Long, system: Long, idle: Long, steal: Long,
    jitMs: Long) {
  def -(o: HostLoad): HostLoad = HostLoad(user - o.user, system - o.system,
    idle - o.idle, steal - o.steal, jitMs - o.jitMs)
  def toMap: Map[String, Double] = {
    val total = math.max(1L, user + system + idle + steal)
    Map("user_ms" -> user.toDouble, "system_ms" -> system.toDouble,
      "idle_ms" -> idle.toDouble, "steal_ms" -> steal.toDouble,
      "steal_share" -> steal.toDouble / total, "jit_ms" -> jitMs.toDouble)
  }
}

object HostLoad {
  /** Clock ticks per second of /proc/stat (USER_HZ, 100 on Linux). */
  private val TickMs = 10L

  def apply(): HostLoad = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal ...
      val f = try s.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally s.close()
      HostLoad((f(0) + f(1)) * TickMs, (f(2) + f(5) + f(6)) * TickMs,
        (f(3) + f(4)) * TickMs, f(7) * TickMs, jit)
    } catch { case _: Exception => HostLoad(0, 0, 0, 0, jit) }
  }
}
