package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Job, stage and task counts from Spark's listener bus. Registered by the
  * benchmark on the traced run only; units read their share by the range
  * of job indices they added (units run one at a time, and the bus is
  * drained at each unit boundary, outside the timed interval). Each job
  * also carries the span it was submitted from ([[ExecListener.SpanKey]]).
  */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobIndex = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageStat]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    val result = e.stageInfos.maxByOption(_.stageId).map(_.numTasks).getOrElse(0)
    val j = new Job(e.time, -1L, e.stageIds, span, result)
    jobs += j; jobIndex(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIndex.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    stages(i.stageId) =
      if (m == null) StageStat(i.numTasks, wall, 0L, 0L, 0L)
      else StageStat(i.numTasks, wall,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  def mark: Int = synchronized(jobs.size)

  /** Totals of the jobs `from until to`, within a unit spanning
    * `[t0Ms, t1Ms]`. */
  def window(from: Int, to: Int, t0Ms: Long, t1Ms: Long): ExecStats = synchronized {
    val js = jobs.slice(from, to).toVector
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => stages.get(id).map(id -> _))
    // the unit's longest stage carries its critical path; its slowest task
    // over its median task is the skew that sets that stage's time
    val skew = ss.sortBy(-_._2.wallMs).headOption.flatMap { case (id, _) =>
      taskMs.get(id).filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
      }
    }.getOrElse(1.0)
    // wall time inside the unit with no job running: driver-side work
    val busy = js.map(j => (math.max(j.start, t0Ms), math.min(if (j.end < 0) t1Ms else j.end, t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
    val resultTasks = js.flatMap(j => j.span.map(_ -> j.resultTasks))
      .groupMapReduce(_._1)(_._2)(_ + _)
    ExecStats(js.size, ss.size, ss.map(_._2.tasks).sum,
      ss.map(_._2.shuffleBytes).sum / 1e6, ss.map(_._2.spillBytes).sum / 1e6,
      ss.map(_._2.outputBytes).sum / 1e6, skew,
      math.max(0L, (t1Ms - t0Ms) - busy) / 1e3, resultTasks)
  }
}

object ExecListener {
  /** The local property that names the innermost open span. */
  val SpanKey = "graft.perfbench.span"

  /** `resultTasks`: the tasks of the job's last stage, e.g. the write tasks
    * of a save. */
  final class Job(val start: Long, var end: Long, val stageIds: Seq[Int],
                  val span: Option[String], val resultTasks: Int)
  final case class StageStat(tasks: Int, wallMs: Long, shuffleBytes: Long,
                             spillBytes: Long, outputBytes: Long)
}

final case class ExecStats(jobs: Int, stages: Int, tasks: Int, shuffleMb: Double,
                           spillMb: Double, outputMb: Double, taskSkew: Double,
                           driverGapS: Double, resultTasks: Map[String, Int]) {
  /** Result-stage tasks of the jobs submitted inside spans named `span`. */
  def resultTasksIn(span: String): Int = resultTasks.getOrElse(span, 0)
}

/** One timed unit of work (an ETL job, a dedup pass, a serve operation). */
final case class UnitSample(kind: String, seconds: Double, error: Option[String],
                            exec: Option[ExecStats], spans: Map[String, Double],
                            topLevelS: Double) {
  def ok: Boolean = error.isEmpty
}

/** Times units and, on the traced run, the spans inside them.
  *
  * Untraced, `span` is a plain call and a unit costs two clock reads.
  * Traced, every span's wall time is summed by name, and each unit also
  * records its Spark counts and the top-level span total, which shows how
  * much of the unit's wall the spans account for.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val listener: Option[ExecListener] =
    if (traced) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  val units = mutable.ArrayBuffer.empty[UnitSample]
  private var depth = 0
  private var spanAcc = mutable.Map.empty[String, Double]
  private var topAcc = 0.0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(ExecListener.SpanKey)
      sc.setLocalProperty(ExecListener.SpanKey, name)
      val t0 = System.nanoTime()
      depth += 1
      try body
      finally {
        depth -= 1
        sc.setLocalProperty(ExecListener.SpanKey, outer)
        val dt = (System.nanoTime() - t0) / 1e9
        spanAcc(name) = spanAcc.getOrElse(name, 0.0) + dt
        if (depth == 1) topAcc += dt
      }
    }

  /** Runs one unit; a unit that throws is recorded as failed, with its
    * error, instead of ending the run. */
  def unit(kind: String)(body: => Unit): Unit = {
    listener.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val mark = listener.map(_.mark).getOrElse(0)
    spanAcc = mutable.Map.empty; topAcc = 0.0
    depth = 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    depth = 0
    val exec = listener.map { l =>
      PerfbenchBus.drain(spark.sparkContext)
      l.window(mark, l.mark, w0, w1)
    }
    units += UnitSample(kind, dt, err.map(e => s"$kind: $e"), exec, spanAcc.toMap, topAcc)
  }

  def samples(kind: String): Vector[Double] =
    units.filter(u => u.kind == kind && u.ok).map(_.seconds).toVector
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
