package graft.bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer-boundary interval recorded from the benchmark's own calls
  * into the engine. Times are epoch milliseconds (the clock Spark's
  * listener events use). */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** In-memory tracer for the traced run: spans from the client thread,
  * per-task counters from a SparkListener (tagged with the span through
  * a job-local property) and planning time from each executed query's
  * QueryPlanningTracker. All of it stays in memory; the harness writes
  * it out once, at exit. */
final class Tracer(sc: SparkContext, cores: Int)
    extends SparkListener with QueryExecutionListener {
  private val SpanKey = "graft.bench.span"
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  final class Agg {
    var tasks = 0L; var runMs = 0L; var taskSpanMs = 0L
    var gcMs = 0L; var shuffleBytes = 0L
  }
  private val lock = new Object
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val perSpan = mutable.HashMap.empty[Int, Agg]
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]

  def span[A](name: String, run: Int)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = nowMs
    try body finally {
      spans += Span(id, name, parent, run, start, nowMs)
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = (s, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      jobIntervals += ((s, start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stageSpan.getOrElse(e.stageId, -1)
    val a = perSpan.getOrElseUpdate(s, new Agg)
    a.tasks += 1
    a.taskSpanMs += e.taskInfo.finishTime - e.taskInfo.launchTime
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) lock.synchronized {
      planPhases += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  /** Per-layer metrics: every span of one name is one layer visit. */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double)] = lock.synchronized {
    layers.flatMap { layer =>
      val ss = spans.filter(_.name == layer)
      val ids = ss.map(_.id).toSet
      val aggs = ids.toSeq.flatMap(perSpan.get)
      val wall = ss.map(_.wallS).sum
      val plan = planPhases.filter { case (start, _) =>
        ss.exists(s => start >= s.startMs && start <= s.endMs)
      }.map(_._2).sum / 1000.0
      val run = aggs.map(_.runMs).sum / 1000.0
      Seq(
        s"$layer.wall_s" -> wall,
        s"$layer.plan_s" -> plan,
        s"$layer.tasks" -> aggs.map(_.tasks).sum.toDouble,
        s"$layer.busy_frac" -> (if (wall > 0) run / (wall * cores) else 0.0),
        s"$layer.shuffle_write_mb" -> aggs.map(_.shuffleBytes).sum / 1048576.0,
        s"$layer.gc_s" -> aggs.map(_.gcMs).sum / 1000.0)
    }
  }

  /** For a pipeline layer: wall time with no Spark job active, and idle
    * core time while at least one job runs. */
  def jobGaps(layer: String): (Double, Double) = lock.synchronized {
    val ss = spans.filter(_.name == layer)
    var noJob = 0.0; var idle = 0.0
    ss.foreach { s =>
      val ivs = jobIntervals.filter(_._1 == s.id).map { case (_, a, b) =>
        (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs))
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      noJob += (s.endMs - s.startMs - covered) / 1000.0
      val busy = perSpan.get(s.id).map(_.taskSpanMs).getOrElse(0L) / 1000.0
      idle += math.max(0.0, cores * covered / 1000.0 - busy)
    }
    (noJob, idle)
  }

  def spansJson: String = lock.synchronized {
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("[", ",\n", "]")
  }
}
