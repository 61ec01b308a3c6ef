package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      runId: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to a span: scheduler/task totals from the
  * listener, plan phases and the final-plan census from each action's
  * QueryExecution.
  */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  var bytesRead = 0L
  var planMs = 0L
  var exchanges = 0L
  var fileWriteMs = 0.0

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; schedDelayMs += o.schedDelayMs
    bytesRead += o.bytesRead; planMs += o.planMs
    exchanges += o.exchanges; fileWriteMs += o.fileWriteMs
  }
}

object Census {
  /** Every node of an executed plan, looking through adaptive
    * wrappers, query stages, command results and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[Exchange])

  /** Analysis + optimization + planning time of one query. */
  def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum
}

/** Records spans around layer calls. Each span runs under its own
  * Spark job group, so the listener can attribute jobs and task
  * metrics to the innermost open span. Everything stays in memory
  * until [[writeSpans]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val Prefix = "perfbench-span-"
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val pendingQe =
    mutable.ArrayBuffer.empty[(String, QueryExecution, Long)]
  private var nextId = 0
  private var stack: List[Int] = Nil

  private def workOf(id: Int): Work = work.getOrElseUpdate(id, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val g = Option(e.properties).flatMap(p =>
          Option(p.getProperty(GroupKey)))
        g.filter(_.startsWith(Prefix)).foreach { s =>
          val id = s.stripPrefix(Prefix).toInt
          workOf(id).jobs += 1
          e.stageIds.foreach(st => stageSpan(st) = id)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        stageSpan.get(e.stageId).filter(_ => m != null).foreach { id =>
          val w = workOf(id)
          val info = e.taskInfo
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.cpuMs += m.executorCpuTime / 1e6
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.bytesRead += m.inputMetrics.bytesRead
          val gettingResult =
            if (info.gettingResultTime > 0)
              info.finishTime - info.gettingResultTime
            else 0L
          w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            gettingResult)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      Tracer.this.synchronized { pendingQe += ((funcName, qe, durationNs)) }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `f` inside a span named `name` of layer `layer`. */
  def span[T](layer: String, name: String)(f: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(Prefix + id, s"$layer $name")
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Prefix + p, "")
        case None => sc.clearJobGroup()
      }
      BenchBus.drain(sc)
      synchronized {
        val w = workOf(id)
        pendingQe.foreach { case (_, qe, durNs) =>
          w.planMs += Census.planMs(qe)
          w.exchanges += Census.exchanges(qe.executedPlan)
          if (qe.logical.nodeName.startsWith("InsertIntoHadoopFsRelation"))
            w.fileWriteMs += durNs / 1e6
        }
        pendingQe.clear()
        closed += Span(id, parent, layer, name, runId, t0, t1)
      }
    }
  }

  /** Every closed span, in closing order. */
  def spans: Seq[Span] = synchronized(closed.toList)

  /** Work of a span and all of its descendants. */
  def total(id: Int): Work = synchronized {
    val out = new Work
    def add(i: Int): Unit = {
      work.get(i).foreach(out += _)
      closed.filter(_.parent == i).foreach(s => add(s.id))
    }
    add(id)
    out
  }

  def close(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def writeSpans(path: String): Unit = synchronized {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try closed.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "run_id" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}
