package perfbench

import scala.collection.mutable.ArrayBuffer

/** Samples the stacks of the threads that submit Spark work (the
  * benchmark's main thread, stream execution threads and the plain
  * threads `graft.ops.Par` starts) every `periodMs`, recording the
  * innermost `graft.<module>.<Object>` frame of each.
  *
  * Structured Streaming pins one call site, the stream's `start()`, on
  * every job of a micro-batch, so call sites cannot say which layer
  * inside `foreachBatch` launched a job. The thread that waits for it
  * can: see [[attribute]]. */
final class Sampler(periodMs: Int) extends Thread("perfbench-sampler") {
  setDaemon(true)

  /** A run of samples of one thread with one innermost graft frame. */
  final case class Episode(tid: Long, frame: (String, String), from: Long,
      to: Long)

  @volatile private var on = true
  /** (round, time, thread id, frame); a round samples every thread once */
  private val samples = ArrayBuffer.empty[(Int, Long, Long, (String, String))]
  private var rounds = 0

  private def relevant(t: Thread): Boolean = {
    val n = t.getName
    t != this && (n == "main" || n.startsWith("stream execution thread") ||
      n.matches("Thread-\\d+"))
  }

  private val root: ThreadGroup = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    g
  }

  override def run(): Unit =
    while (on) {
      val now = System.currentTimeMillis
      val all = new Array[Thread](root.activeCount() * 2 + 16)
      all.take(root.enumerate(all, true)).filter(relevant).foreach { t =>
        t.getStackTrace.iterator
          .map(e => Tracer.graftFrame(s"${e.getClassName}.${e.getMethodName}("))
          .collectFirst { case Some(f) => f }
          .foreach(f => samples.synchronized {
            samples += ((rounds, now, t.getId, f)); () })
      }
      rounds += 1
      Thread.sleep(periodMs.toLong)
    }

  def finish(): Unit = { on = false; join() }

  /** Runs of consecutive rounds in which one thread showed one frame.
    * Rounds can lag the period by far on a busy machine; a run ends only
    * when a round saw the thread elsewhere. */
  lazy val episodes: Seq[Episode] = {
    val out = ArrayBuffer.empty[Episode]
    samples.synchronized(samples.toSeq).groupBy(_._3).foreach { case (tid, ss) =>
      var cur: Option[(Int, Episode)] = None
      ss.sortBy(_._1).foreach { case (r, t, _, f) =>
        cur match {
          case Some((last, e)) if e.frame == f && r == last + 1 =>
            cur = Some((r, e.copy(to = t)))
          case _ =>
            cur.foreach(c => out += c._2)
            cur = Some((r, Episode(tid, f, t, t)))
        }
      }
      cur.foreach(c => out += c._2)
    }
    out.toSeq
  }

  /** The episode that best coincides with an action running from `start`
    * to `end` (intersection over union at least one half). A thread
    * stays in the frame that called an action for as long as the action
    * runs; an enclosing frame, or a sibling thread's, spans longer. */
  def coinciding(start: Long, end: Long): Option[(String, String)] = {
    def iou(e: Episode): Double = {
      val inter = math.min(e.to, end) - math.max(e.from, start)
      val union = math.max(e.to, end) - math.min(e.from, start)
      if (inter < 0) 0.0 else (inter + 1.0) / (union + 1.0)
    }
    episodes.map(e => (iou(e), e)).filter(_._1 >= 0.5).sortBy(-_._1)
      .headOption.map(_._2.frame)
  }

  /** The tightest episode containing a job that ran from `start` to
    * `end`. */
  def containing(start: Long, end: Long): Option[(String, String)] =
    episodes.filter(e => e.from <= start + TolMs && e.to >= end - TolMs)
      .sortBy(e => e.to - e.from).headOption.map(_.frame)

  /** The episode overlapping a job whose ends lie closest to its own. */
  def nearest(start: Long, end: Long): Option[(String, String)] =
    episodes.filter(e => e.from <= end + TolMs && e.to >= start - TolMs)
      .sortBy(e => math.abs(e.from - start) + math.abs(e.to - end))
      .headOption.map(_.frame)

  /** Sampling rounds can lag by this much on a loaded machine. */
  private val TolMs = 100L
}
