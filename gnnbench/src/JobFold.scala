package gnnbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler totals of one bracketed call. Times in ms, sizes in bytes. */
final case class JobTotals(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)
object JobTotals { val zero: JobTotals = JobTotals(0, 0, 0, 0, 0, 0, 0) }

/** Folds Spark's public listener events per bracketed call. A bracket tags
  * its thread with a local property; Spark copies local properties into
  * every job the thread (or a thread it spawns) submits, so a job, its
  * stages and its tasks are attributed to the call that caused them even
  * though listener events arrive asynchronously. */
final class JobFold(sc: SparkContext) extends SparkListener {
  private val Key = "gnnbench.op"
  private final class Acc {
    val jobs, stages, tasks, taskMs, gcMs, shuffleWrite, spill = new AtomicLong
  }
  private val byOp = new ConcurrentHashMap[String, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def acc(op: String) = byOp.computeIfAbsent(op, _ => new Acc)
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    op.foreach { o =>
      acc(o).jobs.incrementAndGet()
      e.stageIds.foreach(stageOp.put(_, o))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    Option(stageOp.get(e.stageInfo.stageId)).foreach(acc(_).stages.incrementAndGet())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    Option(stageOp.get(e.stageId)).filter(_ => m != null).foreach { o =>
      val a = acc(o)
      a.tasks.incrementAndGet()
      a.taskMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Runs `body` with every job it submits attributed to `op`. */
  def bracket[A](op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, op)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Waits until the listener bus has been quiet for a while, so every
    * event of the bracketed calls has been folded. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
        System.nanoTime() - lastEventNs.get() < quietMs * 1000000L) Thread.sleep(50)
  }

  def totals(op: String): JobTotals = Option(byOp.get(op)).fold(JobTotals.zero) { a =>
    JobTotals(a.jobs.get, a.stages.get, a.tasks.get, a.taskMs.get, a.gcMs.get,
      a.shuffleWrite.get, a.spill.get)
  }
}
