package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Runs a fixed number of repetitions of a workload, so that every run
  * computes its medians over the same kind of sample: the first is cold
  * (the JVM's first pass over the code), the others warm. An untraced run
  * makes `--seconds / nominalS` of them, at least two. A traced run makes two
  * untraced, one traced and one more untraced, so that the warm untraced
  * ones lie on both sides of the traced one.
  */
object Reps {
  def apply(ctx: Ctx, collector: => Collector, nominalS: Double)(rep: (Int, Boolean) => Map[String, Any])
      : (Seq[Map[String, Any]], Seq[Map[String, Any]]) =
    if (!ctx.a.trace) ((0 until ctx.planned(nominalS, 2)).map(rep(_, false)), Nil)
    else {
      val first = Seq(rep(0, false), rep(1, false))
      collector.register()
      val traced = rep(2, true)
      collector.unregister()
      (first :+ rep(3, false), Seq(traced))
    }

  /** The warm repetitions the end-to-end values describe: the later half.
    * The earlier ones finish warming the JIT up (a repetition's CPU time
    * still falls by a third over them) and are kept in the record only.
    */
  def measured(untraced: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    val warm = untraced.tail
    warm.drop(warm.size / 2)
  }

  def medianOf(reps: Seq[Map[String, Any]], key: String): Double =
    Stats.median(reps.map(_(key).asInstanceOf[Double]))

  /** Per-layer `spark.*` values from `t`, counted over `n` repetitions
    * whose median wall is `wallS`; `fileJobs` = (jobs, input files) of the
    * phase that `spark.jobs_per_file` describes.
    */
  def sparkLayer(t: Map[String, Double], n: Double, wallS: Double, nproc: Int,
      fileJobs: (Double, Int) = (0.0, 0)): Map[String, Any] = {
    val v = (k: String) => t(k) / n
    Map(
      "spark.jobs" -> v("jobs"), "spark.stages" -> v("stages"), "spark.tasks" -> v("tasks"),
      "spark.jobs_per_file" -> (if (fileJobs._2 > 0) fileJobs._1 / n / fileJobs._2 else 0.0),
      "spark.executor_run_s" -> v("runMs") / 1e3, "spark.executor_cpu_s" -> v("cpuNs") / 1e9,
      "spark.gc_s" -> v("gcMs") / 1e3,
      "spark.core_busy_share" -> (if (wallS > 0) v("runMs") / 1e3 / (wallS * nproc) else 0.0),
      "spark.input_bytes" -> v("inputBytes"), "spark.output_bytes" -> v("outputBytes"),
      "spark.records_read" -> v("recordsRead"), "spark.records_written" -> v("recordsWritten"),
      "spark.shuffle_write_bytes" -> v("shuffleWrite"), "spark.shuffle_read_bytes" -> v("shuffleRead"),
      "spark.spill_bytes" -> v("spill"), "spark.exchanges" -> v("exchanges"),
      "spark.broadcast_exchanges" -> v("broadcasts"), "spark.planning_ms" -> v("planningMs"))
  }

  /** End-to-end values of a cold repetition plus a (median) measured warm one. */
  def e2e(untraced: Seq[Map[String, Any]]): Map[String, Any] = {
    val (cold, warm) = (untraced.head, measured(untraced))
    Map(
      "wall_s" -> (cold("wall_s").asInstanceOf[Double] + medianOf(warm, "wall_s")),
      "cpu_s" -> (cold("cpu_s").asInstanceOf[Double] + medianOf(warm, "cpu_s")),
      "cold_s" -> cold("wall_s"),
      "warm_s" -> medianOf(warm, "wall_s"))
  }

  /** (traced − untraced) ÷ untraced median wall, over warm repetitions. */
  def overhead(warmUntraced: Seq[Map[String, Any]], traced: Seq[Map[String, Any]]): Double = {
    val u = medianOf(warmUntraced, "wall_s")
    if (traced.isEmpty || u <= 0) 0.0 else (medianOf(traced, "wall_s") - u) / u
  }
}

/** Per-call times of named layer calls, in milliseconds. */
final class Calls(names: String*) {
  private val t = names.map(_ -> ArrayBuffer.empty[Double]).toMap

  /** Times `body`; a call that throws records no time. */
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    t(name) += (System.nanoTime() - t0) / 1e6
    r
  }

  def medianMs(name: String): Double = Stats.median(t(name).toSeq)

  def totalS: Double = t.values.map(_.sum).sum / 1e3
}

object Manifest {
  def load(dir: String): JsonNode = new ObjectMapper().readTree(new java.io.File(s"$dir/manifest.json"))

  def seq(n: JsonNode, field: String): Seq[JsonNode] = n.get(field).elements.asScala.toSeq

  def strings(n: JsonNode, field: String): Seq[String] = seq(n, field).map(_.asText)
}
