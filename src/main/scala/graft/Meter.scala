package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerTaskEnd}

/** Executor task metrics summed by a listener, read per measured run
  * (Bench's query loop, `tools.Probe`). Executor CPU time separates a
  * plan regression from a noisy environment: under machine contention
  * wall time inflates while cpu stays plan-proportional (the r5 driver
  * capture recorded 303 s of contention that read as a 3x regression).
  * bytesRead + GC separate a RECOMPUTE from CONTENTION after the fact:
  * a silently-evicted shared frame re-reads the corpus (bytesRead jumps
  * to scan size) while ambient machine load only inflates cpu/wall at
  * unchanged bytes (the r10 driver capture's d–f window read 3–7x cpu
  * on UNCHANGED code and was unreproducible idle — these columns make
  * that diagnosis one diff, not a round). The job count names the
  * scheduling share of a short run: each job pays the ~0.2 s
  * scheduling floor whatever its size.
  */
private[graft] final class Meter(sc: SparkContext) {
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val readB = new AtomicLong
  private val jobs = new AtomicLong
  sc.addSparkListener(new SparkListener {
    override def onJobEnd(j: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        readB.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  })

  /** The bus is async — drain it at each run boundary so attribution
    * doesn't bleed into the next run's window.
    */
  def drain(): Unit = org.apache.spark.GraftSparkBridge.drainListenerBus(sc)

  /** Runs `run` between two drains. A throw is caught and returned, so
    * a failed run still reports its elapsed time.
    */
  def measure(run: => Unit): Meter.Sample = {
    drain()
    val (c0, g0, r0, j0) = (cpuNs.get, gcMs.get, readB.get, jobs.get)
    val t0 = System.nanoTime()
    val error =
      try { run; None }
      catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    Meter.Sample(error, wall, (cpuNs.get - c0) / 1e9, (gcMs.get - g0) / 1e3,
      readB.get - r0, jobs.get - j0)
  }
}

private[graft] object Meter {
  /** One measured run: its failure if any, wall, executor cpu and gc
    * seconds, input bytes read, and Spark jobs run.
    */
  final case class Sample(error: Option[Throwable], wallS: Double, cpuS: Double,
      gcS: Double, readBytes: Long, jobs: Long)
}
