package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.pipeline.Etl
import graft.ingest.Normalize
import graft.query.Dashboard
import graft.streaming.UploadStream

/** What one workload run hands back to [[Main]]. `samplesMs` are the
  * latencies of every timed operation (kept in the run record); `p50Ms`
  * and `geomeanMs` are the workload's two latency figures; `checks` are
  * raw outputs that the harness compares with the generator's truth or
  * an oracle. */
final case class Outcome(
    prepS: Double,
    samplesMs: Seq[Double],
    p50Ms: Double,
    geomeanMs: Double,
    attempted: Long,
    failed: Long,
    checks: Map[String, Any],
    layers: Map[String, Double])

final class Ctx(val spark: SparkSession, val tr: Tracer, val inputs: String,
    val work: String, val seed: Long, val seconds: Double,
    val params: Map[String, Double])

object Workloads {

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x.max(1e-3))).sum / xs.size)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def parquetFiles(dir: String): Long = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  /** Repeats `op` (at least `min` times) while the next repetition, as
    * long as the last one, still ends within `seconds`; returns the time
    * spent. */
  def loop(seconds: Double, min: Int)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var last = 0.0
    while (i < min || elapsed + last <= seconds) {
      val s = elapsed
      op(i)
      last = elapsed - s
      i += 1
    }
    elapsed
  }

  def spanStats(spans: Seq[(Span, TagCost)], name: String): Seq[(Span, TagCost)] =
    spans.filter(_._1.name == name)

  // ───────────────────────── silver: batch load + upload drain ─────────────────────────

  private val progressPhases = Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch",
    "queryPlanning" -> "queryPlanning", "commitOffsets" -> "commit",
    "latestOffset" -> "latestOffset")

  /** The batch reload of the bronze envelope into `silver` (overwrite);
    * returns the `Etl.observedLoad` row counter of the write. */
  private def batchLoad(c: Ctx, silver: String): Long = c.tr.op("etl.batch_load") {
    val bronze = c.spark.read.parquet(s"${c.inputs}/bronze.parquet")
    val (obs, observed) = Etl.observedLoad(Etl.dedupForLoad(Etl.transform(bronze), None))
    observed.write.mode("overwrite").parquet(silver)
    obs.get("rows").toString.toLong
  }

  /** One AvailableNow drain of `uploads` (one file per micro-batch) into
    * `silver`; returns the progress of the batches that read rows. One
    * span covers start and drain: the stream's execution thread inherits
    * the tags open at start(), so its jobs are charged to this span. */
  private def drain(c: Ctx, uploads: String, silver: String, ckpt: String)
      : Seq[StreamingQueryProgress] = c.tr.op("ingest.drain") {
    val q = UploadStream.start(c.spark, uploads, silver, ckpt, maxFilesPerTrigger = 1)
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  /** Row flow of the uploads, outside any timed window: rows in, rows
    * kept by normalize, and rows that reached the anti-join (kept, url
    * set, first of their url within their file = micro-batch). */
  private def uploadFlow(c: Ctx, uploads: String): (Long, Long, Long) = {
    val raw = c.spark.read.schema(graft.model.Schemas.rawEnvelope).json(uploads)
    val normalized = Etl.transform(raw)
      .join(raw.select(col("id"), input_file_name().as("f")), "id")
    // countDistinct skips rows with a null url
    val r = normalized.agg(count(lit(1)), countDistinct(col("f"), col("url"))).head()
    (raw.count(), r.getLong(0), r.getLong(1))
  }

  private def silverCounts(c: Ctx, silver: String): Map[String, Long] = {
    val r = c.spark.read.parquet(silver).agg(count(lit(1)), countDistinct(col("url"))).head()
    Map("rows" -> r.getLong(0), "distinct_urls" -> r.getLong(1))
  }

  /** Per-layer metrics of the ETL and stream layers from the traced drain
    * and a replay of each micro-batch body as prefix cuts: normalize,
    * + tokens, + dedup against the final silver. */
  private def ingestLayers(c: Ctx, uploads: String, silver: String,
      progress: Seq[StreamingQueryProgress], flow: (Long, Long, Long),
      seedRows: Long, finalRows: Long): Map[String, Double] = {
    import c._
    val layers = mutable.Map[String, Double]()
    progressPhases.foreach { case (k, name) =>
      layers(s"UploadStream.${name}_ms.p50") =
        median(progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    }
    val d = spanStats(tr.snapshot(), "ingest.drain").map(_._2).head
    val uploadBytes = Files.list(Paths.get(uploads)).iterator().asScala.map(Files.size(_)).sum
    val batches = progress.size.toDouble
    layers("ingest.batches") = batches
    layers("ingest.jobs_per_batch") = d.jobs / batches.max(1.0)
    layers("ingest.silver_files") = parquetFiles(silver).toDouble
    layers("ingest.silver_read_mb") = (d.inputBytes - uploadBytes).max(0L) / 1e6
    val (rowsIn, rowsNormalized, reached) = flow
    val appended = finalRows - seedRows
    layers("ingest.rows_already_loaded") = (reached - appended).toDouble
    layers("etl.rows_in") = rowsIn.toDouble
    layers("etl.rows_normalized") = rowsNormalized.toDouble
    layers("etl.rows_deduped") = (rowsNormalized - appended).toDouble
    layers("etl.rows_appended") = appended.toDouble
    layers("etl.yield") = appended.toDouble / rowsIn.max(1L)
    layers("etl.plan_s") = d.planMs / 1e3
    layers("etl.task_cpu_s") = d.cpuNs / 1e9
    layers("etl.shuffle_write_mb") = d.shuffleWriteBytes / 1e6
    layers("etl.spill_mb") = d.spillBytes / 1e6
    val silverNow = spark.read.parquet(silver)
    val files = Files.list(Paths.get(uploads)).iterator().asScala.map(_.toString).toSeq.sorted
    def cut(f: String) = {
      def b = spark.read.schema(graft.model.Schemas.rawEnvelope).json(f)
      val n = time(noop(Normalize.normalize(b)))._2
      val t = time(noop(Etl.transform(b)))._2
      val d = time(noop(Etl.dedupForLoad(Etl.transform(b), Some(silverNow))))._2
      (n, t - n, d - t, d)
    }
    cut(files.head) // codegen of the cut plans, so no cut pays it
    val cuts = files.map(cut)
    layers("Normalize.normalize.s") = cuts.map(_._1).sum
    layers("Normalize.withSearchTokens.s") = cuts.map(_._2).sum
    layers("Etl.dedupForLoad.s") = cuts.map(_._3).sum
    // the write share of the drain: foreachBatch time minus the replayed
    // compute of the same batches
    layers("silver.write.s") =
      progress.map(_.durationMs.get("addBatch").doubleValue).sum / 1e3 - cuts.map(_._4).sum
    layers.toMap
  }

  // ───────────────────────── dashboard ─────────────────────────

  final case class Req(source: Option[String], categoryIndex: Option[Int],
      search: Option[String], page: Int)

  private def requests(path: String): IndexedSeq[Req] = {
    val txt = Files.readString(Paths.get(path))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    m.elements().asScala.map { r =>
      def s(k: String) = Option(r.get(k)).filter(!_.isNull).map(_.asText())
      Req(s("source"), s("category_index").map(_.toInt), s("search"), r.get("page").asInt())
    }.toIndexedSeq
  }

  /** Open-loop dashboard traffic at a fixed offered rate over a silver
    * table built through the ETL path. One request = what the web handler
    * renders: Dashboard.query (with its total), the page rows, and the
    * source and category dropdown domains. */
  def dashboard(c: Ctx): Outcome = {
    import c._
    // set-up, as in production: the batch reload writes silver, then the
    // upload stream drains the new files into it
    val silverDir = s"$work/silver"
    val uploads = s"$inputs/uploads"
    val (loadCounter, loadS) = time(batchLoad(c, silverDir))
    val seeded = spark.read.parquet(silverDir)
    val seedRows = seeded.count()
    val seedPerSource = seeded.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (progress, drainS) = time(drain(c, uploads, silverDir, s"$work/ckpt"))
    val silverAfter = silverCounts(c, silverDir)
    val flow = uploadFlow(c, uploads)
    val events = spark.read.parquet(silverDir)
    val categories = Dashboard.distinctDomain(events, "category").collect().map(_.getString(0))
    val mix = requests(s"$inputs/requests.json")

    final case class Done(idx: Int, dueNs: Long, sentNs: Long, startNs: Long, endNs: Long,
        total: Long, urls: Seq[String], sources: Seq[String], cats: Seq[String])
    def serve(idx: Int, dueNs: Long, sentNs: Long): Done = tr.op("dashboard.request") {
      val r = mix(idx % mix.size)
      val start = System.nanoTime()
      val category = r.categoryIndex.map(i => categories(i % categories.length))
      val page = tr.span("Dashboard.query")(Dashboard.query(events, r.source, category,
        r.search, r.page))
      val rows = tr.span("Dashboard.rows")(page.rows.select("url").collect())
      val srcs = tr.span("Dashboard.distinctDomain")(
        Dashboard.distinctDomain(events, "source").collect())
      val cats = tr.span("Dashboard.distinctDomain")(
        Dashboard.distinctDomain(events, "category").collect())
      Done(idx, dueNs, sentNs, start, System.nanoTime(), page.total,
        rows.map(_.getString(0)).toSeq, srcs.map(_.getString(0)).toSeq,
        cats.map(_.getString(0)).toSeq)
    }

    val rate = params("dash_rate")
    val threads = params("dash_threads").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    // warm-up: the last requests of the mix, all at once through the
    // request pool (JIT and codegen of the concurrent path); the timed
    // requests start at the mix's first block of ten
    val warmUp = params("dash_warmup").toInt
    val warmStart = System.nanoTime()
    (mix.size - warmUp until mix.size).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = { val t = System.nanoTime(); serve(i, t, t) }
      })
    }.foreach(_.get())
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val results = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val failures = new java.util.concurrent.atomic.AtomicLong(0L)
    val n = math.max(1, (rate * seconds).toInt)
    val t0 = System.nanoTime() + 20000000L
    val futures = (0 until n).map { i =>
      val due = t0 + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) {
        val waitNs = due - now
        if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      val sent = System.nanoTime()
      pool.submit(new Runnable {
        def run(): Unit = try results.add(serve(i, due, sent))
        catch { case e: Exception => failures.incrementAndGet(); Main.warn(s"request $i failed: $e") }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val done = results.asScala.toSeq.sortBy(_.idx)
    val lat = done.map(d => (d.endNs - d.dueNs) / 1e6)
    val checked = done.filter(_.idx % 5 == 0).map { d =>
      val r = mix(d.idx % mix.size)
      Map[String, Any]("idx" -> d.idx, "source" -> r.source.getOrElse(null),
        "category" -> r.categoryIndex.map(i => categories(i % categories.length)).getOrElse(null),
        "search" -> r.search.getOrElse(null), "page" -> r.page, "total" -> d.total, "urls" -> d.urls)
    }
    val checks = Map[String, Any]("requests" -> checked, "silver" -> silverDir,
      "seed_rows" -> seedRows, "seed_rows_observed" -> loadCounter,
      "seed_per_source" -> seedPerSource, "drain" -> silverAfter,
      "rows_already_loaded" -> (flow._3 - (silverAfter("rows") - seedRows)),
      "sources" -> done.headOption.map(_.sources).getOrElse(Nil),
      "categories" -> done.headOption.map(_.cats).getOrElse(Nil),
      "domains_stable" -> done.forall(d => d.sources == done.head.sources && d.cats == done.head.cats),
      "offered_rate" -> rate, "threads" -> threads, "warmup_s" -> warmS)
    val layers = mutable.Map[String, Double]()
    if (tr.enabled) {
      val snap = tr.snapshot()
      val timed = snap.filter(_._1.startNs >= t0)
      val reqs = spanStats(timed, "dashboard.request")
      for (name <- Seq("Dashboard.query", "Dashboard.rows", "Dashboard.distinctDomain"))
        layers(s"$name.ms.p50") = median(spanStats(timed, name).map(_._1.seconds * 1e3))
      layers("dash.plan_ms.p50") = median(reqs.map(_._2.planMs.toDouble))
      layers("dash.jobs_per_request") = median(reqs.map(_._2.jobs.toDouble))
      layers("dash.tasks_per_request") = median(reqs.map(_._2.tasks.toDouble))
      val returned = done.map(d => d.urls.size + d.sources.size + d.cats.size + 1L).sum
      layers("dash.rows_scanned_per_row_returned") = reqs.map(_._2.inputRecords).sum.toDouble / returned.max(1L)
      layers("dash.queue_ms.p50") = median(done.map(d => (d.startNs - d.dueNs) / 1e6))
      layers("dash.generator_late_ms.max") = done.map(d => (d.sentNs - d.dueNs) / 1e6).maxOption.getOrElse(0.0)
      layers ++= ingestLayers(c, uploads, silverDir, progress, flow, seedRows, silverAfter("rows"))
    }
    Outcome(loadS + drainS, lat, median(lat), geomean(lat), n, failures.get(), checks, layers.toMap)
  }

  // ───────────────────────── registry_mix ─────────────────────────

  /** Registry queries materialized with a noop write (the full result is
    * computed, unlike under .count()), in a seed-permuted order per pass.
    * The latency figures are built from each query's median over the
    * passes: their sum (one pass) and their geometric mean. */
  def registry(c: Ctx, names: Seq[String]): Outcome = {
    import c._
    val dir = s"$inputs/tables"
    val fns = graft.SparkEntry.queries
    val outDir = s"$work/registry_out"
    def pass(order: Seq[String], verify: Boolean): Seq[(String, Double)] = {
      val r = order.map { q =>
        q -> time(tr.op(q) {
          val df = tr.span("registry.construct")(fns(q)(spark, dir))
          tr.span("registry.materialize")(
            if (verify) df.write.mode("overwrite").parquet(s"$outDir/$q") else noop(df))
        })._2
      }
      graft.SessionCaches.resetAll()
      r
    }
    // set-up: warm-up passes, the first of which also writes every result
    // for the oracle check (JIT and codegen of the same plans land here)
    val warmPasses = params("warm_passes").toInt
    val (_, warmS) = time((0 until warmPasses).foreach(i => pass(names, verify = i == 0)))
    val rnd = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer[Seq[(String, Double)]]()
    var failedPasses = 0L
    // The figures use the first `timed` passes only: the queries are still
    // warming up, so every run must read the same passes of that curve,
    // whether or not the machine's speed lets a further pass fit.
    val timed = params("timed_passes").toInt
    loop(seconds, timed) { _ =>
      try passes += pass(rnd.shuffle(names), verify = false)
      catch { case e: Exception => failedPasses += 1; Main.warn(s"registry pass failed: $e") }
    }
    val counted = passes.take(timed).toSeq
    val perQueryMs = names.map(q => median(counted.flatMap(_.filter(_._1 == q).map(_._2 * 1e3))))
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val checks = Map[String, Any]("out_dir" -> outDir, "oracle_sql" -> oracles,
      "tables" -> dir, "queries" -> names, "passes" -> passes.size)
    val layers = mutable.Map[String, Double]()
    if (tr.enabled) {
      val snap = tr.snapshot().filter(s => names.contains(s._1.name) || s._1.name.startsWith("registry."))
      // the first spans of each kind are the set-up passes
      val setUp = warmPasses * names.size
      val opSpans = snap.filter(s => names.contains(s._1.name)).drop(setUp)
      val constr = spanStats(snap, "registry.construct").drop(setUp)
      val mat = spanStats(snap, "registry.materialize").drop(setUp)
      val np = passes.size.max(1)
      layers("registry.construct_s") = constr.map(_._1.seconds).sum / np
      layers("registry.eager_jobs") = constr.map(_._2.jobs).sum.toDouble / np
      layers("registry.plan_s") = (constr ++ mat).map(_._2.planMs).sum / 1e3 / np
      layers("registry.exec_s") = mat.map(_._1.seconds).sum / np
      layers("registry.task_cpu_s") = opSpans.map(_._2.cpuNs).sum / 1e9 / np
      layers("registry.gc_s") = opSpans.map(_._2.gcMs).sum / 1e3 / np
      layers("registry.shuffle_write_mb") = opSpans.map(_._2.shuffleWriteBytes).sum / 1e6 / np
      layers("registry.stages") = opSpans.map(_._2.stages).sum.toDouble / np
      names.zip(perQueryMs).foreach { case (q, ms) => layers(s"registry.$q.s") = ms / 1e3 }
    }
    val attempted = (passes.size + failedPasses) * names.size
    Outcome(warmS, passes.toSeq.flatten.map(_._2 * 1e3), perQueryMs.sum, geomean(perQueryMs),
      attempted, failedPasses * names.size, checks, layers.toMap)
  }
}
