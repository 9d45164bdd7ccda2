package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: brings up the session, runs one workload and
  * writes a raw JSON record (timings, per-operation outcomes, per-layer
  * values and the data the output checks need) to `--out`. `run.py`
  * generates the inputs, starts this program, checks the outputs and
  * prints the final metrics.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --work <dir>
  *   --out <file> --seconds <s> --trace <0|1> --nproc <n> --setups <k>
  */
object Main {

  final case class Args(
      workload: String, data: String, work: String, out: String,
      seconds: Double, trace: Boolean, nproc: Int, setups: Int)

  /** One timed call: a thrown call is a failure and never a timing. */
  final case class Op(kind: String, name: String, ms: Double, ok: Boolean, error: String,
      extra: Map[String, Any] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("nproc").toInt, kv("setups").toInt)

    // set-up is timed several times in one run and reported as a median:
    // the first session serves the workload, the others are brought up
    // after it, so the workload always runs in a JVM's first session
    val builderS, setupS = Seq.newBuilder[Double]
    def setup(): SparkSession = {
      val t0 = System.nanoTime()
      val s = GraftSession.builder()
        .master(s"local[${a.nproc}]")
        .config("spark.sql.shuffle.partitions", a.nproc.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .getOrCreate()
      builderS += (System.nanoTime() - t0) / 1e9
      s.range(1).selectExpr("sum(id)").collect()
      setupS += (System.nanoTime() - t0) / 1e9
      s
    }
    val spark = setup()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = new Ctx(spark, a)
    val record = a.workload match {
      case "hub_backfill" => HubBackfill.run(ctx)
      case "hub_scan"     => HubScan.run(ctx)
      case "corpus_ops"   => CorpusOps.run(ctx)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rssMb = Machine.peakRssMb()
    val heapMb = Machine.heapPeakMb()
    spark.stop()
    // collect the workload's garbage first, so no set-up pays for it
    System.gc()
    for (_ <- 2 to a.setups) setup().stop()
    val layer = Map(
      "GraftSession.builder_s" -> Stats.median(builderS.result()),
      "jvm.heap_peak_mb" -> heapMb,
      "env.sentinel_ms" -> Stats.median(ctx.sentinels.toSeq)) ++
      record.getOrElse("layer", Map.empty).asInstanceOf[Map[String, Any]]
    val full = record ++ Map(
      "setup_s" -> Stats.median(setupS.result()),
      "setup_runs_s" -> setupS.result(),
      "peak_rss_mb" -> rssMb,
      "nproc" -> a.nproc,
      "layer" -> layer)
    Files.writeString(Paths.get(a.out), Json(full))
  }
}

/** What every workload needs: the session and its arguments. */
final class Ctx(val spark: SparkSession, val a: Main.Args) {
  val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** How many repetitions of about `nominalS` seconds `--seconds` asks
    * for: fixed for a given `--seconds`, so medians are comparable across
    * runs on fast and slow machines alike.
    */
  def planned(nominalS: Double, min: Int): Int = math.max(min, math.round(a.seconds / nominalS).toInt)

  /** The legacy bench's contention sentinel: a fixed-work aggregate whose
    * time on an idle machine is constant, so a high reading marks a
    * contended run. Recorded before every repetition.
    */
  def sentinel(): Unit = {
    val t0 = System.nanoTime()
    spark.range(1L << 22).selectExpr("sum(id * 2 + 1) AS s")
      .write.format("noop").mode("overwrite").save()
    sentinels += (System.nanoTime() - t0) / 1e6
  }

  /** Times `body` as one operation; an exception becomes a failed [[Main.Op]]. */
  def op[T](kind: String, name: String)(body: => T): (Main.Op, Option[T]) = {
    val t0 = System.nanoTime()
    try {
      val r = body
      (Main.Op(kind, name, (System.nanoTime() - t0) / 1e6, ok = true, ""), Some(r))
    } catch {
      case scala.util.control.NonFatal(e) =>
        (Main.Op(kind, name, 0.0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"), None)
    }
  }
}

object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds (all threads). */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Resident-set high-water mark of this process (`VmHWM`), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = v match {
    case null | None          => "null"
    case Some(x)              => apply(x)
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Main.Op           =>
      apply(Map("kind" -> o.kind, "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok,
        "error" -> o.error) ++ o.extra)
    case it: Iterable[_]      => it.map(apply).mkString("[", ",", "]")
    case arr: Array[_]        => apply(arr.toSeq)
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}
