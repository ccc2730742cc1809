package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** The harness's own task-metric tap for the execution layer.
  *
  * Task-end events reach listeners asynchronously, so a window cannot be
  * opened or closed by flipping a flag from the caller's thread. Instead
  * [[mark]] runs a one-task marker job tagged with a local property and
  * waits until this listener has seen that job end: the event queue is
  * ordered, so every task of every job that finished before the marker
  * has been counted by then. Tasks are counted between the opening and
  * the closing marker. */
final class ExecListener(sc: SparkContext) extends SparkListener {
  private val MarkerProp = "perfbench.marker"
  private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val endedMarkers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
  @volatile private var counting = false

  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProp))).foreach { m =>
      markerJobs.put(e.jobId, m)
      if (m.startsWith("close")) counting = false
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)).foreach { m =>
      if (m.startsWith("open")) counting = true
      endedMarkers.add(m)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (counting && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  private val markers = new AtomicLong
  private def mark(kind: String): Unit = {
    val m = s"$kind-${markers.incrementAndGet()}"
    sc.setLocalProperty(MarkerProp, m)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!endedMarkers.contains(m)) {
      require(System.nanoTime() < deadline, s"listener never saw marker job $m end")
      Thread.sleep(2)
    }
  }

  /** Start counting tasks of jobs that begin after this call. */
  def open(): Unit = mark("open")

  /** Stop counting; every task of a job finished before this call is in. */
  def close(): Unit = mark("close")
}
