package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.hub.{HubConfig, HubSchema, HubTransform, ModelOutputReader, ModelOutputWriter, PathParser}

/** `hub_backfill`: `HubTransform.addDirectory` over the generated hub, then
  * a tail of single-file storage events through `HubTransform.dispatch`.
  */
object HubBackfill {

  private def move(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{a, spark}
    val m = Manifest.load(a.data)
    val hub = s"${a.data}/hub"
    val raw = s"$hub/raw"
    val files = Manifest.seq(m, "files")
    val events = Manifest.seq(m, "events").map(e => (e.get("op").asText, e.get("path").asText))
    lazy val collector = new Collector(spark)

    def rep(i: Int, traced: Boolean): Map[String, Any] = {
      def labelled[T](op: String)(body: => T): T =
        if (traced) collector.within(s"rep$i:$op")(body) else body
      val out = s"${a.data}/out/rep$i"
      ctx.sentinel()
      val cpu0 = Machine.cpuS
      val (addOp, results) = labelled("addDirectory") {
        ctx.op("addDirectory", "raw")(HubTransform.addDirectory(spark, hub, "raw", out, parallelism = a.nproc))
      }
      val cpu1 = Machine.cpuS
      val outBytes = Machine.dirBytes(out)
      val cpu2 = Machine.cpuS
      val t0 = System.nanoTime()
      val tail = labelled("tail") {
        events.map { case (kind, path) =>
          kind match {
            case "add_new" => move(s"$hub/pending/$path", s"$raw/$path")
            case "remove"  => move(s"$raw/$path", s"$hub/trash/$path")
            case _         =>
          }
          val verb = if (kind == "remove") "ObjectRemoved:Delete" else "ObjectCreated:Put"
          val (o, r) = ctx.op("dispatch", path)(HubTransform.dispatch(spark, verb, hub, s"raw/$path", out))
          o.copy(extra = Map("event" -> kind,
            "action" -> r.map(_.action).getOrElse(""), "message" -> r.flatMap(_.error).getOrElse("")))
        }
      }
      val tailS = (System.nanoTime() - t0) / 1e9
      val cpu3 = Machine.cpuS
      events.foreach {
        case ("add_new", path) => move(s"$raw/$path", s"$hub/pending/$path")
        case ("remove", path)  => move(s"$hub/trash/$path", s"$raw/$path")
        case _                 =>
      }
      val perFile = results.toSeq.flatten.map(r =>
        Map("path" -> r.key.stripPrefix(raw + "/"), "action" -> r.action,
          "message" -> r.error.getOrElse("")))
      Map("wall_s" -> (addOp.ms / 1e3 + tailS), "cpu_s" -> ((cpu1 - cpu0) + (cpu3 - cpu2)),
        "add_s" -> addOp.ms / 1e3, "add_ok" -> addOp.ok, "add_error" -> addOp.error,
        "out" -> out, "out_bytes" -> outBytes.toDouble, "results" -> perFile, "tail" -> tail,
        "traced" -> traced)
    }

    // eight repetitions of about 4 s at `--seconds 30`
    val (untraced, traced) = Reps(ctx, collector, 4.0)(rep)
    val inRows = files.filter(_.get("action").asText == "add").map(_.get("rows").asLong).sum
    val inBytes = files.map(_.get("bytes").asLong).sum
    // throughput of the measured warm backfills; the cold one's extra cost is in cold_s
    val addS = Reps.medianOf(Reps.measured(untraced), "add_s")
    val e2e = Reps.e2e(untraced) ++ Map(
      "rows_per_s" -> inRows / addS,
      "files_per_s" -> files.size / addS,
      "out_bytes_per_in_byte" -> Reps.medianOf(untraced, "out_bytes") / inBytes)
    val layer = if (!a.trace) Map.empty[String, Any] else {
      val tracedAddS = Reps.medianOf(traced, "add_s")
      val (layers, serialS) = driveLayers(ctx, collector, hub, files.filter(_.get("action").asText == "add"))
      Reps.sparkLayer(collector.total(_.startsWith("rep")), traced.size, Reps.medianOf(traced, "wall_s"),
        a.nproc, (collector.total(_.endsWith(":addDirectory"))("jobs"), files.size)) ++ layers ++ Map(
        "hub.HubTransform.addDirectory_s" -> tracedAddS,
        "hub.serial_over_parallel" -> serialS / tracedAddS,
        "trace_overhead_share" -> Reps.overhead(untraced.drop(1), traced))
    }
    Map("reps" -> (untraced ++ traced), "e2e" -> e2e, "layer" -> layer)
  }

  /** Drives every good input file serially through the layers' public
    * calls, in the order `ModelOutputHandler` uses them, timing each call;
    * returns the per-call medians and the serial total in seconds.
    */
  private def driveLayers(ctx: Ctx, collector: Collector, hub: String, files: Seq[JsonNode])
      : (Map[String, Double], Double) = {
    import ctx.{a, spark}
    val timed = new Calls("parse", "load", "derive", "read", "project", "write")
    val out = s"${a.data}/out/layers"
    collector.within("layers") {
      files.foreach { f =>
        val (path, stem, suffix, parts) = timed("parse") {
          val p = PathParser.sanitizePath(s"$hub/raw/${f.get("path").asText}")
          val st = PathParser.stem(p)
          (p, st, PathParser.suffix(p), PathParser.parseFile(st))
        }
        val config = timed("load")(HubConfig.load(hub, spark.sparkContext.hadoopConfiguration).get)
        val schema = timed("derive")(HubSchema.deriveSchema(config))
        val df = timed("read")(ModelOutputReader.read(spark, path, suffix, schema))
          .withColumn("round_id", lit(parts.roundId)).withColumn("model_id", lit(parts.modelId))
        timed("project")(df.write.format("noop").mode("overwrite").save())
        timed("write")(ModelOutputWriter.writeSingleParquet(df, out, stem))
      }
    }
    Map(
      "hub.PathParser.parse_ms" -> timed.medianMs("parse"),
      "hub.HubConfig.load_ms" -> timed.medianMs("load"),
      "hub.HubSchema.deriveSchema_ms" -> timed.medianMs("derive"),
      "hub.ModelOutputReader.read_ms" -> timed.medianMs("read"),
      "hub.ModelOutputReader.project_ms" -> timed.medianMs("project"),
      "hub.ModelOutputWriter.write_ms" -> timed.medianMs("write")) -> timed.totalS
  }
}

/** `hub_scan`: pruned and whole-hub `HubTransform.readHub` queries, each
  * aggregated per (round_id, model_id, output_type) and collected.
  */
object HubScan {

  /** The query each operation runs: rows, null `output_type_id` count and
    * Σ `value` per (round_id, model_id, output_type), collected.
    */
  private def aggregate(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.groupBy("round_id", "model_id", "output_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("output_type_id").isNull, 1L).otherwise(0L)).as("null_ids"),
        sum(col("value")).as("value_sum"))
      .collect().toSeq
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5)))

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{a, spark}
    val m = Manifest.load(a.data)
    val hub = s"${a.data}/hub"
    val queries = Manifest.seq(m, "queries").map(q =>
      (Manifest.strings(q, "rounds"), Manifest.strings(q, "models"), q.get("files").asLong, q.get("rows").asLong))
    val files = Manifest.seq(m, "files")
    val inBytes = files.filter(_.get("action").asText == "add").map(f => f.get("path").asText -> f.get("bytes").asLong).toMap
    lazy val collector = new Collector(spark)

    def rep(i: Int, traced: Boolean): Map[String, Any] = {
      ctx.sentinel()
      val cpu0 = Machine.cpuS
      val t0 = System.nanoTime()
      val ops = queries.zipWithIndex.map { case ((rounds, models, _, _), qi) =>
        val body = () => ctx.op("readHub", s"q$qi")(aggregate(HubTransform.readHub(spark, hub, "raw", rounds, models)))
        val (o, rows) = if (traced) collector.within(s"rep$i:q$qi")(body()) else body()
        o.copy(extra = Map("rows" -> rows.getOrElse(Nil)))
      }
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (Machine.cpuS - cpu0),
        "ops" -> ops, "traced" -> traced)
    }

    val (untraced, traced) = Reps(ctx, collector, 15.0)(rep)
    val wall = Reps.medianOf(untraced.tail, "wall_s")
    // bytes the workload produces: the collected aggregates, as JSON text
    val resultBytes = untraced.head("ops").asInstanceOf[Seq[Main.Op]]
      .map(o => Json(o.extra("rows")).length.toLong).sum
    val scannedBytes = queries.map { case (rounds, models, _, _) =>
      files.filter(f => f.get("action").asText == "add" &&
        (rounds.isEmpty || rounds.contains(f.get("round_id").asText)) &&
        (models.isEmpty || models.contains(f.get("model_id").asText)))
        .map(f => inBytes(f.get("path").asText)).sum
    }.sum
    val e2e = Reps.e2e(untraced) ++ Map(
      "rows_per_s" -> queries.map(_._4).sum / wall,
      "files_per_s" -> queries.map(_._3).sum / wall,
      "out_bytes_per_in_byte" -> resultBytes.toDouble / scannedBytes)
    val layer = if (!a.trace) Map.empty[String, Any] else {
      Reps.sparkLayer(collector.total(_.startsWith("rep")), traced.size, Reps.medianOf(traced, "wall_s"),
        a.nproc) ++
        probeLayers(ctx, collector, hub, queries.map(q => (q._1, q._2))) ++
        Map("trace_overhead_share" -> Reps.overhead(untraced.drop(1), traced))
    }
    Map("reps" -> (untraced ++ traced), "e2e" -> e2e, "layer" -> layer)
  }

  /** Per query: the hub layers `readHub` calls once per query, its plan
    * (the `readHub` call itself), the normalize+cast projection to `noop`,
    * and the aggregate that the timed loop collects.
    */
  private def probeLayers(ctx: Ctx, collector: Collector, hub: String,
      queries: Seq[(Seq[String], Seq[String])]): Map[String, Double] = {
    import ctx.spark
    val timed = new Calls("parse", "load", "derive", "plan", "project", "exec")
    val listing = {
      val s = Files.walk(Paths.get(s"$hub/raw"))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq.sorted finally s.close()
    }
    collector.within("layers") {
      queries.foreach { case (rounds, models) =>
        listing.foreach(f => timed("parse")(scala.util.Try(PathParser.parseFile(PathParser.stem(f)))))
        val config = timed("load")(HubConfig.load(hub, spark.sparkContext.hadoopConfiguration).get)
        timed("derive")(HubSchema.deriveSchema(config))
        // a query the reader fails on is a failure of the timed loop already
        scala.util.Try {
          val df = timed("plan")(HubTransform.readHub(spark, hub, "raw", rounds, models))
          timed("project")(df.write.format("noop").mode("overwrite").save())
          timed("exec")(aggregate(df))
        }
      }
    }
    Map(
      "hub.PathParser.parse_ms" -> timed.medianMs("parse"),
      "hub.HubConfig.load_ms" -> timed.medianMs("load"),
      "hub.HubSchema.deriveSchema_ms" -> timed.medianMs("derive"),
      "hub.HubTransform.readHub.plan_ms" -> timed.medianMs("plan"),
      "hub.HubTransform.readHub.exec_ms" -> timed.medianMs("exec"),
      "hub.ModelOutputReader.project_ms" -> timed.medianMs("project"))
  }
}
