package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval around a call into a layer. `parent` is the id of the
  * enclosing span (-1 at the top); spans of one operation share `opId`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, opId: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own client thread, kept in memory and
  * written out when the run ends. While `enabled` is false, `span` just runs
  * its body. */
final class Tracer {
  var enabled = false
  var opId = -1
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, opId)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Median duration (s) of the spans with this name, if any were recorded. */
  def medianSeconds(name: String): Option[Double] = {
    val xs = done.filter(_.name == name).map(_.seconds)
    if (xs.isEmpty) None else Some(Stats.median(xs.toSeq))
  }

  def write(path: java.nio.file.Path, origin: Long): Unit = {
    val sb = new StringBuilder
    for (s <- done.sortBy(_.id))
      sb.append(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "parent" -> s.parent, "op" -> s.opId))).append('\n')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Task-level counters from the benchmark's own session, attributed to the
  * operation that was running when each stage was submitted (the
  * `graftbench.op` local property), so late listener-bus delivery cannot
  * move work between operations. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var stages = 0L
  }
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val byOp = mutable.HashMap.empty[Int, Acc]
  @volatile private var events = 0L

  private def acc(op: Int): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpKey)))
      .map(_.toInt).getOrElse(-1)
    stageOp(e.stageInfo.stageId) = op
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageOp.getOrElse(e.stageId, -1))
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    events += 1
  }

  /** Wait until no event has arrived for 300 ms (at most 5 s). */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    var last = -1L
    while (events != last && System.nanoTime() < limit) { last = events; Thread.sleep(300) }
  }

  def forOps(ops: Iterable[Int]): Seq[Acc] = synchronized { ops.toSeq.map(acc) }
}

object SparkCounters { val OpKey = "graftbench.op" }

/** Peak used heap, sampled every 10 ms by a daemon thread while running. */
final class HeapSampler {
  @volatile private var running = false
  @volatile var peakBytes = 0L
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private val thread = new Thread(() => {
    while (true) {
      if (running) peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }
  }, "graftbench-heap")
  thread.setDaemon(true)
  thread.start()
  def on(): Unit = running = true
  def off(): Unit = running = false
}
