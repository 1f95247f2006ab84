package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark's job and task counters, summed over task-end events. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes)
  def runS: Double = runMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
}

/** Registered by the harness (never by the engine), so the per-layer
  * counters are observed from outside the program.
  */
final class CounterListener extends SparkListener {
  private var c = Counters()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else Counters(
      c.jobs, c.tasks + 1,
      c.runMs + m.executorRunTime, c.cpuNs + m.executorCpuTime,
      c.gcMs + m.jvmGCTime,
      c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      c.spillBytes + m.diskBytesSpilled,
      c.inputBytes + m.inputMetrics.bytesRead)
  }

  def snapshot(): Counters = synchronized(c)
}

/** One traced layer call. `parent` is the id of the enclosing span, -1
  * for a root. Times are nanoseconds on the JVM's monotonic clock.
  */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps calls into spans and keeps the layers' counts (notes). The
  * untraced tracer runs each body directly and records nothing; the
  * measured end-to-end runs use it. `in(scope)` is the same trace with
  * its span and note names prefixed by `scope.`, so a workload run as a
  * probe of another keeps its layers apart from the host's.
  */
final class Tracer private (sc: Option[SparkContext],
    listener: Option[CounterListener], prefix: String, st: Tracer.State) {
  def spans: ArrayBuffer[Span] = st.spans
  def notes: mutable.LinkedHashMap[String, Double] = st.notes

  def on: Boolean = listener.isDefined

  def in(scope: String): Tracer = new Tracer(sc, listener, prefix + scope + ".", st)

  private def counters(): Counters = {
    sc.foreach(org.apache.spark.PerfbenchBus.drain)
    listener.get.snapshot()
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = st.started
      st.started += 1
      val parent = st.open.headOption.getOrElse(-1)
      val c0 = counters()
      st.open = id :: st.open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        st.open = st.open.tail
        spans += Span(id, prefix + name, parent, t0, t1, counters() - c0)
      }
    }

  def note(key: String, value: Double): Unit = if (on) notes(prefix + key) = value

  /** The first span of this full name (scope prefixes included). */
  def find(name: String): Option[Span] = spans.find(_.name == name)

  def children(root: Span): Seq[Span] = spans.filter(_.parent == root.id).toSeq
}

object Tracer {
  private[perfbench] final class State {
    val spans = ArrayBuffer.empty[Span]
    val notes = mutable.LinkedHashMap.empty[String, Double]
    var open: List[Int] = Nil
    var started = 0
  }

  val off = new Tracer(None, None, "", new State)
  def apply(sc: SparkContext, l: CounterListener): Tracer =
    new Tracer(Some(sc), Some(l), "", new State)
}

/** Driver heap the program holds: heap in use after a full collection,
  * the lower of two collections 100 ms apart, so that objects still in
  * flight on Spark's cleaner and executor threads when the run returns
  * (which took 200 MB more in one run of five) do not count.
  */
object Heap {
  private def usedAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def liveMb(): Double = {
    val first = usedAfterGc()
    Thread.sleep(100)
    math.min(first, usedAfterGc())
  }
}
