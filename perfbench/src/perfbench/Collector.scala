package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counts, attributed to the operation in flight.
  *
  * One `SparkListener` (jobs, stages, task metrics) plus one
  * `QueryExecutionListener` (query planning time, exchanges in the final
  * adaptive plan). The benchmark names the operation with [[within]];
  * events are delivered asynchronously, so [[within]] drains the listener
  * bus before it hands the label on, and every event lands on the
  * operation whose calls caused it. Only the traced run registers it.
  */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val byOp = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  @volatile private var current = "idle"

  private def bump(kv: (String, Double)*): Unit = synchronized {
    val c = byOp.getOrElseUpdate(current, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    kv.foreach { case (k, x) => c(k) += x }
  }

  /** Runs `body` with the collector's label set to `op`. */
  def within[T](op: String)(body: => T): T = {
    BusDrain(spark.sparkContext)
    val prev = current
    current = op
    try body
    finally {
      BusDrain(spark.sparkContext)
      current = prev
    }
  }

  /** Totals over every operation whose label satisfies `p`: jobs, stages,
    * tasks, runMs, cpuNs, gcMs, inputBytes, recordsRead, outputBytes,
    * recordsWritten, shuffleWrite, shuffleRead, spill, queries, planningMs,
    * exchanges and broadcasts.
    */
  def total(p: String => Boolean): Map[String, Double] = synchronized {
    byOp.toSeq.filter(e => p(e._1)).flatMap(_._2.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0.0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = bump("jobs" -> 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = bump("stages" -> 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) bump("tasks" -> 1)
    else bump(
      "tasks" -> 1, "runMs" -> m.executorRunTime, "cpuNs" -> m.executorCpuTime, "gcMs" -> m.jvmGCTime,
      "inputBytes" -> m.inputMetrics.bytesRead, "recordsRead" -> m.inputMetrics.recordsRead,
      "outputBytes" -> m.outputMetrics.bytesWritten, "recordsWritten" -> m.outputMetrics.recordsWritten,
      "shuffleWrite" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffleRead" -> m.shuffleReadMetrics.totalBytesRead,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    val (shuffles, bcasts) = Collector.exchanges(qe.executedPlan)
    bump("queries" -> 1, "planningMs" -> planning, "exchanges" -> shuffles, "broadcasts" -> bcasts)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Collector extends AdaptiveSparkPlanHelper {
  /** (shuffle exchanges, broadcast exchanges) in the final adaptive plan. */
  def exchanges(plan: SparkPlan): (Long, Long) = {
    val nodes = collectWithSubqueries(plan) {
      case s: ShuffleExchangeLike   => 1
      case b: BroadcastExchangeLike => 2
    }
    (nodes.count(_ == 1).toLong, nodes.count(_ == 2).toLong)
  }
}
