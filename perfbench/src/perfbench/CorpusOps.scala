package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, struct, sum, to_json, xxhash64}

import graft.{Caches, ServingIndexes, SparkEntry}

/** `corpus_ops`: operator-pack queries over the fixed corpus (the ten
  * tables under `--data`), each called once cold (first call in the
  * session, paying the artifact builds it triggers) and then warm, in a
  * fixed number of passes for the run's `--seconds`. Every call is
  * materialized through the `noop` sink, digested on the way, and followed
  * by `Caches.releaseAll`.
  */
object CorpusOps {

  /** The queries and the corpus tables each one answers over. Together they
    * cover relational, IVF similarity, text, multimodal and graph queries,
    * and trigger the artifact builds those serve from. Eight more
    * (`q_dedup_minhash_lsh`, `q_dup_spans`, `q_semdedup`, `q_ann_recall`,
    * `q_bm25_indexed`, `q_bpe_encode`, `q_triangles`, `q_pipeline_full`)
    * are left out to keep a run within its time budget (see README.md).
    */
  val Queries: Seq[(String, Seq[String])] = Seq(
    "q01_pricing_summary" -> Seq("lineitem"),
    "q_sim_ivf_topk" -> Seq("embeddings"),
    "q_lm_trigram_score" -> Seq("documents"),
    "q_multimodal_exif_meta" -> Seq("documents"),
    "q_pagerank" -> Seq("lineitem"))

  /** Runs `df` through the `noop` sink and returns its row count and an
    * order-insensitive digest of its rows, both observed during that same
    * execution: the digest is the row count and the sum of a 31-bit hash of
    * each row's JSON form.
    */
  def materialize(df: DataFrame): (Long, String) = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(to_json(struct(col("*")))).bitwiseAND(0x7FFFFFFFL)), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], s"${m("n")}:${m("h")}")
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{a, spark}
    val dir = a.data
    val fns = SparkEntry.queries
    lazy val collector = new Collector(spark)

    /** One call of every query, each followed by `Caches.releaseAll`. */
    def pass(label: String, traced: Boolean): Map[String, Any] = {
      ctx.sentinel()
      val ops = Queries.map { case (q, _) =>
        val before = ServingIndexes.buildLog
        val cpu0 = Machine.cpuS
        val call = () => ctx.op("query", q)(materialize(fns(q)(spark, dir)))
        val (o, result) = if (traced) collector.within(s"$label:$q")(call()) else call()
        val cpu = Machine.cpuS - cpu0
        val after = ServingIndexes.buildLog
        val built = after.filter { case (k, s) => before.get(k).forall(_ != s) }
        val t0 = System.nanoTime()
        Caches.releaseAll(spark)
        val releaseMs = (System.nanoTime() - t0) / 1e6
        o.copy(extra = Map("cpu_s" -> cpu, "release_ms" -> releaseMs,
          "rows" -> result.map(_._1), "digest" -> result.map(_._2),
          "builds" -> built.size, "build_s" -> built.map { case (k, s) => s - before.getOrElse(k, 0.0) }.sum))
      }
      Map("label" -> label, "ops" -> ops, "traced" -> traced,
        "query_s" -> ops.map(_.ms).sum / 1e3,
        "wall_s" -> ops.map(o => o.ms + o.extra("release_ms").asInstanceOf[Double]).sum / 1e3,
        "cpu_s" -> ops.map(_.extra("cpu_s").asInstanceOf[Double]).sum)
    }

    if (a.trace) collector.register()
    val cold = pass("cold", traced = a.trace)
    if (a.trace) collector.unregister()
    val artifactBytes = Machine.dirBytes(System.getProperty("java.io.tmpdir"))
    // a fixed number of warm passes (see Reps): `--seconds / 10` untraced,
    // at least two; in a traced run one untraced, one traced, one untraced
    val warm = ArrayBuffer.empty[Map[String, Any]]
    val tracedWarm = ArrayBuffer.empty[Map[String, Any]]
    if (!a.trace) (0 until ctx.planned(10.0, 2)).foreach(i => warm += pass(s"warm$i", traced = false))
    else {
      warm += pass("warm0", traced = false)
      collector.register()
      tracedWarm += pass("warm1", traced = true)
      collector.unregister()
      warm += pass("warm2", traced = false)
    }

    val opsOf = (p: Map[String, Any]) => p("ops").asInstanceOf[Seq[Main.Op]]
    val warmS = Reps.medianOf(warm.toSeq, "query_s")
    val coldS = cold("query_s").asInstanceOf[Double]
    // rows the queries returned (observed by the digest) in one warm pass
    val rowsOut = opsOf(warm.head).flatMap(_.extra("rows").asInstanceOf[Option[Long]]).sum
    val corpusBytes = Machine.dirBytes(dir)
    val e2e = Map(
      "wall_s" -> (cold("wall_s").asInstanceOf[Double] + Reps.medianOf(warm.toSeq, "wall_s")),
      "cpu_s" -> (cold("cpu_s").asInstanceOf[Double] + Reps.medianOf(warm.toSeq, "cpu_s")),
      "cold_s" -> coldS,
      "warm_s" -> warmS,
      "rows_per_s" -> rowsOut / warmS,
      "files_per_s" -> Queries.map(_._2.size).sum / coldS,
      "out_bytes_per_in_byte" -> artifactBytes.toDouble / corpusBytes)
    val layer = if (!a.trace) Map.empty[String, Any] else {
      val all = cold +: (warm ++ tracedWarm).toSeq
      val perQuery = Queries.flatMap { case (q, _) =>
        def ms(p: Map[String, Any]) = opsOf(p).find(_.name == q).get.ms / 1e3
        Seq(s"ops.$q.cold_s" -> ms(cold), s"ops.$q.warm_s" -> Stats.median(warm.toSeq.map(ms)))
      }
      // spark.* describe one cold pass plus one warm pass
      val cold1 = collector.total(_.startsWith("cold"))
      val warm1 = collector.total(_.startsWith("warm")).map { case (k, x) => k -> x / tracedWarm.size }
      val both = (cold1.keySet ++ warm1.keySet).map(k => k -> (cold1(k) + warm1.getOrElse(k, 0.0))).toMap
      Reps.sparkLayer(both.withDefaultValue(0.0), 1.0,
        cold("wall_s").asInstanceOf[Double] + Reps.medianOf(tracedWarm.toSeq, "wall_s"),
        a.nproc) ++ perQuery ++ Map(
        "artifacts.builds" -> opsOf(cold).map(_.extra("builds").asInstanceOf[Int]).sum,
        "artifacts.build_s" -> opsOf(cold).map(_.extra("build_s").asInstanceOf[Double]).sum,
        "artifacts.warm_builds" -> all.tail.flatMap(opsOf).map(_.extra("builds").asInstanceOf[Int]).sum,
        "Caches.releaseAll_ms" -> Stats.median(all.flatMap(opsOf).map(_.extra("release_ms").asInstanceOf[Double])),
        "trace_overhead_share" -> Reps.overhead(warm.toSeq, tracedWarm.toSeq))
    }
    Map("reps" -> (cold +: (warm ++ tracedWarm).toSeq), "e2e" -> e2e, "layer" -> layer)
  }
}
