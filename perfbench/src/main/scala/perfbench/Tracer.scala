package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into the engine's layers, each one a
  * Spark job group, plus a listener that files every task's metrics (CPU,
  * shuffle write, disk spill, bytes written, wall) under the span whose job
  * ran it. Disabled, `span` just runs its body: the
  * untraced run sets no job groups and registers no listener. */
final class Tracer(val enabled: Boolean) {

  final class Span(val id: Int, val layer: String, val name: String,
                   val parent: Int, val start: Long) {
    var end: Long = start
  }

  /** Task metrics summed over the jobs of one span; task walls by stage. */
  final class Acc {
    var jobs, cpuNs, shuffleWrite, spill, written = 0L
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    def add(o: Acc): Unit = {
      jobs += o.jobs; cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
      spill += o.spill; written += o.written
      o.taskMs.foreach { case (s, d) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer()) ++= d }
    }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val accs = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var sc: SparkContext = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).foreach { id =>
        val a = accs.getOrElseUpdate(id, new Acc)
        a.jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = accs.getOrElseUpdate(id, new Acc)
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
    }
  }

  /** Listen on `ctx` (again after a session restart). */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = ctx
    ctx.addSparkListener(listener)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, layer, name,
        stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Id of the last span opened with this name. */
  def last(name: String): Int = spans.lastIndexWhere(_.name == name)

  def wallS(id: Int): Double = (spans(id).end - spans(id).start) / 1e9

  /** Task metrics of span `id` and every span under it. */
  def metrics(id: Int): Acc = {
    org.apache.spark.BenchListenerBus.drain(sc)
    synchronized {
      val out = new Acc
      def walk(i: Int): Unit = {
        accs.get(i).foreach(out.add)
        spans.iterator.filter(_.parent == i).foreach(c => walk(c.id))
      }
      walk(id)
      out
    }
  }

  /** Per layer: wall seconds of its spans minus the time covered by their
    * child spans. */
  def selfSeconds: Map[String, Double] =
    spans.groupBy(_.layer).view.mapValues(_.map { s =>
      val kids = spans.iterator.filter(_.parent == s.id).map(k => k.end - k.start).sum
      (s.end - s.start - kids) / 1e9
    }.sum).toMap
}
