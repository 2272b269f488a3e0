package cohortbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, kept in
  * memory and written out once at the end. Spans record only while
  * `on`; with tracing off the benchmark never sets it. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      t0: Long, t1: Long)
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Identifier shared by the spans of one benchmark operation. */
  var op = 0

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e9).sum
  def count(name: String): Int = spans.count(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.t0},"end_ns":${s.t1}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark runtime counters over a window: one `SparkListener` for jobs,
  * stages and tasks, a `QueryExecutionListener` for the
  * `QueryPlanningTracker` phases, and the JVM-wide `CodegenMetrics`.
  * Counters accumulate only while `on`. Events reach the listeners
  * asynchronously, so `setOn` drains the listener bus before it flips the
  * flag: every event of an operation is counted against that operation.
  * Job-active time comes from the events' own timestamps. */
final class SparkWatch(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var on = false
  private var activeJobs = 0
  private var activeSince = 0L
  private var jobActiveMs = 0L
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var taskRunMs = 0L
  private var taskCpuNs = 0L
  private var gcMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private var analysisMs = 0L
  private var optimizationMs = 0L
  private var planningMs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def setOn(b: Boolean): Unit = if (b != on) {
    org.apache.spark.cohortbench.Bus.settle(spark.sparkContext)
    on = b
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (activeJobs == 0) activeSince = e.time
    activeJobs += 1
    if (on) jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs = math.max(0, activeJobs - 1)
    if (activeJobs == 0 && on) jobActiveMs += e.time - activeSince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (on) stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      tasks += 1
      taskRunMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (on) {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = {
    org.apache.spark.cohortbench.Bus.settle(spark.sparkContext)
    read()
  }

  private def read(): Map[String, Double] = synchronized {
    import org.apache.spark.metrics.source.CodegenMetrics
    val comp = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "spark.job_active_s" -> jobActiveMs / 1e3,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_run_s" -> taskRunMs / 1e3,
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_bytes" -> shuffleBytes.toDouble,
      "spark.spill_bytes" -> spillBytes.toDouble,
      "spark.analysis_s" -> analysisMs / 1e3,
      "spark.optimization_s" -> optimizationMs / 1e3,
      "spark.planning_s" -> planningMs / 1e3,
      "codegen.compiles" -> comp.getCount.toDouble,
      // the histogram keeps a sample of compile times (ms): mean × count
      "codegen.compile_s" -> comp.getSnapshot.getMean * comp.getCount / 1e3)
  }
}


/** Share of the host's CPU time the hypervisor gave to other guests
  * (`steal` in /proc/stat): a run measured while it is high is slowed
  * by the host, not by the engine. */
object HostCpu {
  /** (steal, total) jiffies so far; zeros where /proc/stat is missing. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1)
        .map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2)
    else 0.0
}
