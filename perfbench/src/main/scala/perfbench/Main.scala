package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.core.{Graft, Tables}
import graft.tools.EtlCli

/** One run of one workload in its own JVM. Times calls into the engine's
  * public entry points from outside (SparkEntry.queries, EtlCli,
  * CorpusStreams) and writes a result file that `run.py` turns into the
  * benchmark's report.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data CORPUS_DIR --work WORK_DIR --out RESULT_JSON
  *
  * With --trace 1 the benchmark's SparkListener / QueryExecutionListener
  * and span recorder are switched on for every other operation; the
  * operations run without them give the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"))
    val code =
      try { new Run(o).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String)

/** A timed operation: what ran, when, whether it threw, whether tracing
  * was on for it. */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long,
                    ok: Boolean, traced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Workloads {
  /** The browse mix: search and browse queries weigh 3, page and report
    * queries 1 (the reference's Flask read path). */
  val Browse: Seq[(String, Int)] =
    Seq("q_f2_ilike_search", "q_f5_compound_filter", "q_f8_relevance", "q_levenshtein")
      .map(_ -> 3) ++
    Seq("q_a1_top_parts", "q_revenue_topk", "q_a9_argmax", "q_w1_order_sequence",
      "q_j5_bridge", "q_cart_totals", "q_topk_per_key", "q_region_revenue",
      "q_pricing_summary", "q_quality_checks").map(_ -> 1)
  val BrowseClients = 2

  /** The tallest job towers (binary-IVF sweep, corpus clean, hybrid ANN,
    * PageRank), the pin-heavy paths (corpus clean, incremental dedup,
    * PageRank) and TextAnalysis's TF-IDF and BM25. */
  val Curation: Seq[String] = Seq(
    "q_dedup_incremental", "q_corpus_clean", "q_hybrid_rrf_ann", "q_binary_ivf_sweep",
    "q_tfidf", "q_pagerank", "q_bm25")
}

final class Run(o: Opts) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val work = Paths.get(o.work)
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
  private val opIds = new AtomicLong(0)
  private val tracer = new Tracer
  private val layers = new LayerTable
  /** Numbers for the report table that are not timings of single ops. */
  private val info = mutable.LinkedHashMap.empty[String, Double]
  private val checkFailures = mutable.ArrayBuffer.empty[String]
  private val fingerprints = mutable.LinkedHashMap.empty[String, String]
  /** Op kinds whose output failed a check: every op of the kind counts failed. */
  private val badKinds = mutable.Set.empty[String]
  private var spark: SparkSession = _
  private var listener: RuntimeListener = _
  @volatile private var listenerOn = false
  private var sessionBuildS = 0.0
  private var firstTimedMs = 0L

  def run(): Unit = {
    val t0 = System.nanoTime()
    spark = Graft.session("perfbench")
    sessionBuildS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    if (o.trace) listener = new RuntimeListener
    o.workload match {
      case "catalog_browse"   => browse()
      case "curation_batch"   => curation()
      case "warehouse_ingest" => ingest()
      case w => sys.error(s"unknown workload $w")
    }
    writeResult()
    if (o.trace) tracer.write(work.resolve("spans.jsonl"))
    spark.stop()
  }

  // ---- operation plumbing ------------------------------------------------

  private def setListener(on: Boolean): Unit = if (o.trace && on != listenerOn) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else {
      listener.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
    listenerOn = on
  }

  /** Run one timed operation on the calling thread. Exceptions count as a
    * failed op and never escape. Returns the op and the body's value. */
  private def timedOp[T](kind: String, traced: Boolean, record: Boolean = true)
                       (body: Long => T): (Op, Option[T]) = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(RuntimeListener.OpKey, id.toString)
    if (traced) listener.soleOp = id
    if (record && firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val res =
      try Some(tracer.recordingIf(traced)(tracer.span(s"op.$kind", id)(body(id))))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e"); None }
    val op = Op(id, kind, start, System.nanoTime(), res.isDefined, traced)
    sc.setLocalProperty(RuntimeListener.OpKey, null)
    if (record) ops.add(op)
    (op, res)
  }

  /** Per-layer Spark-runtime rows of a traced op (call after drain). */
  private def runtimeRows(op: Op, startMs: Long, endMs: Long): Unit = {
    val c = listener.ops.get(op.id)
    if (c != null) {
      val wall = (op.endNs - op.startNs) / 1e9
      val cores = spark.sparkContext.defaultParallelism
      val mib = 1024.0 * 1024.0
      layers.add("spark.jobs", c.jobs.sum.toDouble)
      layers.add("spark.stages", c.stages.sum.toDouble)
      layers.add("spark.tasks", c.tasks.sum.toDouble)
      layers.add("spark.task_run_s", c.runMs.sum / 1e3)
      layers.add("spark.task_cpu_s", c.cpuNs.sum / 1e9)
      layers.add("spark.gc_s", c.gcMs.sum / 1e3, mean = true)
      layers.add("spark.shuffle_read_mib", c.shuffleRead.sum / mib)
      layers.add("spark.shuffle_write_mib", c.shuffleWrite.sum / mib)
      layers.add("spark.spill_mib", c.spill.sum / mib)
      layers.add("spark.output_mib", c.output.sum / mib)
      layers.add("spark.driver_gap_s",
        RuntimeListener.uncovered(startMs, endMs, c.jobSpans.asScala.toSeq) / 1e3)
      layers.add("spark.core_busy_frac", c.runMs.sum / 1e3 / (wall * cores))
      layers.add("spark.failed_tasks", c.failedTasks.sum.toDouble)
      layers.add("plan.analysis_ms", c.analysisMs.sum.toDouble)
      layers.add("plan.optimization_ms", c.optimizationMs.sum.toDouble)
      layers.add("plan.planning_ms", c.planningMs.sum.toDouble)
    } else {
      Seq("spark.jobs", "spark.stages", "spark.tasks").foreach(layers.add(_, 0.0))
    }
  }

  private def wallMs(op: Op): (Long, Long) = {
    // op bounds on the listener's wall clock (event times are epoch millis)
    val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
    (nowMs - (nowNs - op.startNs) / 1000000L, nowMs - (nowNs - op.endNs) / 1000000L)
  }

  private def pinned(): (Int, Double) = {
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    val mem = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids.size, mem / 1024.0 / 1024.0)
  }

  /** Blocking, so block removal never overlaps the next timed op. */
  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Row count plus an order-insensitive sum of per-row hashes, observed
    * while the query runs to the noop sink as a timed op runs it. */
  private def fingerprint(df0: DataFrame): String = {
    val df = df0.toDF(df0.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match { case _: MapType => to_json(col(f.name)); case _ => col(f.name) }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation("fingerprint")
    df.observe(obs, count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    val hashes = Option(r("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString)
    s"${r("n")}:${hashes.getOrElse("0")}"
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)

  /** One query op: build through SparkEntry.queries, execute to the noop
    * sink. `cleanup` drops persisted RDDs afterwards (single-client runs). */
  private def queryOp(name: String, traced: Boolean, cleanup: Boolean): Op = {
    val (op, _) = timedOp(name, traced) { id =>
      val df = tracer.span("queries.build", id)(query(name)(spark, o.data))
      tracer.span("queries.exec", id)(df.write.format("noop").mode("overwrite").save())
    }
    if (op.traced) {
      listener.drain(spark.sparkContext)
      val (a, b) = wallMs(op)
      runtimeRows(op, a, b)
      tracer.all.filter(_.op == op.id).foreach { s =>
        if (s.name.startsWith("queries.")) layers.add(s"${s.name}_ms", (s.endNs - s.startNs) / 1e6)
      }
      val (n, mib) = pinned()
      layers.add("core.pinned_rdds", n.toDouble)
      layers.add("core.pinned_mib", mib)
    }
    if (cleanup) unpersistAll()
    op
  }

  /** Warm-up pass: every query once, fingerprinted (outside the timed
    * region; compiles the queries' code and builds the run-scoped
    * artifacts). */
  private def warmQueries(names: Seq[String], cleanup: Boolean): Unit = names.foreach { n =>
    val t0 = System.nanoTime()
    try fingerprints(n) = fingerprint(query(n)(spark, o.data))
    catch { case e: Throwable =>
      fingerprints(n) = "error"; badKinds += n
      checkFailures += s"$n threw during the warm-up: $e" }
    if (cleanup) unpersistAll()
    info(s"warmup.$n.s") = (System.nanoTime() - t0) / 1e9
  }

  // ---- workloads ---------------------------------------------------------

  private def browse(): Unit = {
    Tables.registerAll(spark, o.data)
    warmQueries(Workloads.Browse.map(_._1), cleanup = false)
    // a seeded shuffle of a deck that holds each query `weight` times:
    // every run draws the same mix, the seed sets the order
    val deck = Workloads.Browse.flatMap { case (q, w) => Seq.fill(w)(q) }
    val next = new AtomicInteger(0)
    def draw(i: Int): String = {
      val round = i / deck.size
      new scala.util.Random(o.seed * 1000003L + round).shuffle(deck).apply(i % deck.size)
    }
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    // tracing alternates by block of requests; both clients meet at a
    // barrier between blocks so the listener is on for whole requests only
    val block = 8
    val barrier = new java.util.concurrent.CyclicBarrier(Workloads.BrowseClients,
      () => setListener(o.trace && (next.get() / (block * Workloads.BrowseClients)) % 2 == 1))
    val t0 = System.nanoTime()
    val clients = (0 until Workloads.BrowseClients).map { _ =>
      val t = new Thread(() => {
        var stop = false
        var k = 0
        while (!stop) {
          if (o.trace && k % block == 0)
            try barrier.await()
            catch { case _: java.util.concurrent.BrokenBarrierException => stop = true }
          stop = stop || System.nanoTime() >= deadline
          if (!stop) {
            queryOp(draw(next.getAndIncrement()), listenerOn, cleanup = false)
            k += 1
          }
        }
        if (o.trace) barrier.reset()
      })
      t.start(); t
    }
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    setListener(false)
    val lat = ops.asScala.toSeq.filterNot(_.traced).map(_.seconds * 1e3)
    info("browse_p50_ms") = Stats.median(lat)
    info("browse_p95_ms") = Stats.quantile(lat, 0.95)
    info("browse_qps") = ops.size / wall
    e2eLatencyMs = Stats.median(lat)
    e2eLatencyN = lat.size
    e2eOpsPerS = ops.size / wall
  }

  private def curation(): Unit = {
    Tables.registerAll(spark, o.data)
    warmQueries(Workloads.Curation, cleanup = true)
    val docs = spark.read.parquet(s"${o.data}/documents.parquet").count()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    var pass = 0
    // whole passes only, so every query gets the same number of samples, and
    // at least three, so a slow pass (the first after the warm-up often is)
    // does not move a query's median; tracing alternates per query and flips
    // parity every pass, so a traced run sees every query both ways
    while (pass < 3 || System.nanoTime() < deadline) {
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(Workloads.Curation)
      order.zipWithIndex.foreach { case (q, i) =>
        val traced = o.trace && (i + pass) % 2 == 1
        setListener(traced)
        val op = queryOp(q, traced, cleanup = true)
        if (op.traced) {
          layers.add(s"curation.$q.s", op.seconds)
          val c = listener.ops.get(op.id)
          layers.add(s"curation.$q.jobs", if (c == null) 0.0 else c.jobs.sum.toDouble)
        }
      }
      pass += 1
    }
    setListener(false)
    val wall = (System.nanoTime() - t0) / 1e9
    val perQuery = ops.asScala.toSeq.filterNot(_.traced).groupBy(_.kind)
      .map { case (k, v) => k -> Stats.median(v.map(_.seconds)) }
    info("curation_geomean_s") = Stats.geomean(perQuery.values.toSeq)
    info("curation_docs_per_s") = docs * ops.size.toDouble / Workloads.Curation.size / wall
    info("corpus_docs") = docs.toDouble
    info("passes") = pass.toDouble
    e2eLatencyMs = info("curation_geomean_s") * 1e3
    e2eLatencyN = perQuery.size
    e2eOpsPerS = ops.size / wall
  }

  private def ingest(): Unit = {
    val manifest = Files.readAllLines(work.resolve("inputs/manifest.tsv")).asScala.toSeq
      .map(_.split("\t")).map(a => (a(0), a(1).toInt, a(2)))
    def inputs(kind: String) = manifest.filter(_._1 == kind).sortBy(_._2).map(_._3)
    val evalDocs = spark.read.parquet(inputs("eval").head).cache()
    evalDocs.count()
    val docSchema = spark.read.parquet(inputs("docs").head).schema
    // warm-up: one full epoch into a throwaway warehouse
    val (warmS, _) = epochs(work.resolve("warm"), inputs("warm_comics"), inputs("warm_docs"),
      evalDocs, docSchema, timed = false)
    info("warmup.epoch.s") = warmS
    val (wall, bytesIn) = epochs(work.resolve("wh"), inputs("comics"), inputs("docs"),
      evalDocs, docSchema, timed = true)
    val nEpochs = inputs("comics").size
    val comics = ops.asScala.toSeq.filter(o => o.kind == "comics" && !o.traced).map(_.seconds)
    val corpus = ops.asScala.toSeq.filter(o => o.kind == "corpus" && !o.traced).map(_.seconds)
    val epochS = ops.asScala.toSeq.groupBy(o => opEpoch(o.id)).values
      .filter(_.forall(!_.traced)).map(_.map(_.seconds).sum).toSeq
    info("comics_batch_p50_s") = Stats.median(comics)
    info("corpus_epoch_p50_s") = Stats.median(corpus)
    info("ingest_input_mib_per_s") = bytesIn / 1024.0 / 1024.0 / wall
    val whBytes = dirBytes(work.resolve("wh"))
    info("wh_bytes_per_input_byte") = whBytes.toDouble / bytesIn
    info("input_mib") = bytesIn / 1024.0 / 1024.0
    // tracing covers odd epochs only, so epoch 0 always counts here
    e2eLatencyMs = Stats.median(epochS) * 1e3
    e2eLatencyN = epochS.size
    e2eOpsPerS = nEpochs / wall
  }

  private val epochOf = new java.util.concurrent.ConcurrentHashMap[Long, Integer]
  private def opEpoch(id: Long): Int = epochOf.getOrDefault(id, -1)

  private def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def dirBytes(root: Path): Long = listFiles(root).values.sum

  /** Ingest epochs into the warehouse at `wh`. Each epoch is a comics step
    * (EtlCli ingest -> quality -> stats) and a documents step (land one file,
    * run curatedIngestSink to termination). Returns (timed wall seconds,
    * input bytes). */
  private def epochs(wh: Path, comics: Seq[String], docs: Seq[String], evalDocs: DataFrame,
                     docSchema: org.apache.spark.sql.types.StructType,
                     timed: Boolean): (Double, Long) = {
    val whS = wh.toString
    val dirs = Seq("in", "index", "corpus", "dropped", "chk").map(n => n -> s"$whS/stream/$n").toMap
    Files.createDirectories(Paths.get(dirs("in")))
    EtlCli.init(spark, whS)
    var bytesIn = 0L
    val fedEpochs = mutable.ArrayBuffer.empty[(Int, String, Op, Seq[Long])]
    val t0 = System.nanoTime()
    comics.zip(docs).zipWithIndex.foreach { case ((cPath, dPath), k) =>
      val traced = timed && o.trace && k % 2 == 1
      setListener(traced)
      bytesIn += Files.size(Paths.get(cPath)) + Files.size(Paths.get(dPath))
      val before = if (traced) listFiles(wh) else Map.empty[String, Long]
      // comics step: the reference's marvel -> quality -> stats
      val (cOp, run) = timedOp("comics", traced, record = timed) { id =>
        val r = tracer.span("etl.ingest", id)(EtlCli.ingest(spark, whS, cPath))
        tracer.span("etl.quality", id)(EtlCli.quality(spark, whS).collect())
        tracer.span("etl.stats", id)(EtlCli.stats(spark, whS, 10).collect())
        r
      }
      epochOf.put(cOp.id, k)
      run.foreach { r =>
        if (timed) {
          etlRuns += ((r.status, r.records_read, r.records_loaded))
        }
      }
      if (cOp.traced) {
        listener.drain(spark.sparkContext)
        val (a, b) = wallMs(cOp)
        runtimeRows(cOp, a, b)
        tracer.all.filter(_.op == cOp.id).foreach { s =>
          if (s.name.startsWith("etl.")) layers.add(s"${s.name}_s", (s.endNs - s.startNs) / 1e9)
        }
        run.foreach { r =>
          layers.add("etl.records_read", r.records_read.toDouble)
          layers.add("etl.records_loaded", r.records_loaded.toDouble)
        }
        val after = listFiles(wh)
        val fresh = after.filter { case (p, sz) => !before.get(p).contains(sz) }
        layers.add("wh.files_written", fresh.size.toDouble)
        layers.add("wh.bytes_written_mib", fresh.values.sum / 1024.0 / 1024.0)
        layers.add("wh.write_amp", fresh.values.sum.toDouble / Files.size(Paths.get(cPath)))
        val (n, mib) = pinned()
        layers.add("core.pinned_rdds", n.toDouble)
        layers.add("core.pinned_mib", mib)
      }
      // documents step: the batch file lands, the sink runs to termination
      val landed = Paths.get(dirs("in"), Paths.get(dPath).getFileName.toString)
      val (dOp, q) = timedOp("corpus", traced, record = timed) { id =>
        tracer.span("stream.land", id)(Files.copy(Paths.get(dPath), landed))
        val q = tracer.span("stream.start", id) {
          graft.streaming.CorpusStreams.curatedIngestSink(
            spark.readStream.schema(docSchema).parquet(dirs("in")), evalDocs,
            "doc_id", "text", dirs("index"), dirs("corpus"), dirs("dropped"), dirs("chk"))
        }
        tracer.span("stream.await", id)(q.awaitTermination())
        q.exception.foreach(e => throw e)
        q
      }
      epochOf.put(dOp.id, k)
      q.foreach { sq =>
        val batches = sq.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
        fedEpochs += ((k, dPath, dOp, batches))
        if (dOp.traced) {
          listener.drain(spark.sparkContext)
          val (a, b) = wallMs(dOp)
          runtimeRows(dOp, a, b)
          val c = listener.ops.get(dOp.id)
          layers.add("stream.epoch_s", dOp.seconds)
          layers.add("stream.overhead_s",
            RuntimeListener.uncovered(a, b, if (c == null) Nil else c.jobSpans.asScala.toSeq) / 1e3)
          layers.add("stream.files_per_epoch", batches.map(b => sourceFiles(dirs("chk"), b)).sum.toDouble)
          val (n, mib) = pinned()
          layers.add("core.pinned_rdds", n.toDouble)
          layers.add("core.pinned_mib", mib)
        }
      }
    }
    setListener(false)
    val wall = (System.nanoTime() - t0) / 1e9
    // output checks, outside the timed region: every doc fed is either kept
    // or dropped with a reason
    for ((k, dPath, dOp, batches) <- fedEpochs) {
      val fed = spark.read.parquet(dPath).count()
      val kept = batches.map(b => epochRows(dirs("corpus"), b)).sum
      val dropped = batches.flatMap(b => droppedByReason(dirs("dropped"), b)).groupBy(_._1)
        .map { case (r, v) => r -> v.map(_._2).sum }
      if (timed && kept + dropped.values.sum != fed) {
        checkFailures += s"epoch $k: kept $kept + dropped ${dropped.values.sum} != fed $fed"
        failedOps += dOp.id
      }
      if (dOp.traced) {
        layers.add("stream.docs_kept", kept.toDouble)
        Seq("quality", "contaminated", "near_dup").foreach { r =>
          layers.add(s"stream.docs_dropped.$r", dropped.getOrElse(r, 0L).toDouble)
        }
        layers.add("stream.index_rows", batches.map(b => epochRows(dirs("index"), b)).sum.toDouble)
      }
      if (timed) { docsFed += fed; docsKept += kept; docsDropped += dropped.values.sum }
    }
    if (timed) tablesReport(whS)
    (wall, bytesIn)
  }

  private val etlRuns = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val failedOps = mutable.Set.empty[Long]
  private var docsFed, docsKept, docsDropped = 0L

  private def epochRows(table: String, batch: Long): Long =
    scala.util.Try(EtlCli.readTable(spark, s"$table/epoch=$batch").count()).getOrElse(0L)

  private def droppedByReason(table: String, batch: Long): Seq[(String, Long)] =
    scala.util.Try(EtlCli.readTable(spark, s"$table/epoch=$batch")
      .groupBy("reason").count().collect().toSeq
      .map(r => r.getString(0) -> r.getLong(1))).getOrElse(Nil)

  /** Files the stream's file source logged for `batch`. */
  private def sourceFiles(chk: String, batch: Long): Int = {
    val log = Paths.get(chk, "sources", "0", batch.toString)
    if (!Files.exists(log)) 0
    else Files.readAllLines(log).asScala.count(_.startsWith("{"))
  }

  private def tablesReport(wh: String): Unit = {
    def rows(t: String) = EtlCli.readTable(spark, s"$wh/$t").count()
    tables("issue") = rows("issue")
    tables("creator") = rows("creator")
    tables("issue_creator") = rows("issue_creator")
    tables("quarantine") = spark.read.parquet(s"$wh/quarantine").count()
    tables("etl_run.success") =
      spark.read.parquet(s"$wh/etl_run").filter(col("status") === "SUCCESS").count()
    for (t <- Seq("issue", "creator", "issue_creator")) {
      val names = Option(new java.io.File(s"$wh/$t").list()).getOrElse(Array.empty[String])
      tables(s"$t.live_versions") = names.count(_.startsWith("data_v")).toLong
    }
    tables("docs_fed") = docsFed
    tables("docs_kept") = docsKept
    tables("docs_dropped") = docsDropped
  }
  private val tables = mutable.LinkedHashMap.empty[String, Long]

  // ---- report ------------------------------------------------------------

  private var e2eLatencyMs = 0.0
  /** Samples behind e2eLatencyMs: requests, queries or epochs. */
  private var e2eLatencyN = 0
  private var e2eOpsPerS = 0.0

  private def peakRssMib: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def writeResult(): Unit = {
    val all = ops.asScala.toSeq
    // tracing overhead: per op kind, median traced / median untraced time
    if (o.trace) {
      val ratios = all.groupBy(_.kind).values.flatMap { v =>
        val (t, u) = v.partition(_.traced)
        if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)))
        else None
      }.toSeq
      layers.add("trace.overhead_frac", if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1)
      layers.add("core.session_build_s", sessionBuildS)
    }
    val setupS = (firstTimedMs - jvmStartMs) / 1e3
    val conf = spark.conf
    val env = Seq(
      "spark.master" -> spark.sparkContext.master,
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "spark.file.transferTo" -> spark.sparkContext.getConf.get("spark.file.transferTo", "true"),
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        conf.get("spark.sql.adaptive.coalescePartitions.enabled"))
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("latency_p50_ms", e2eLatencyMs, "ms", e2eLatencyN),
      ("ops_per_s", e2eOpsPerS, "1/s", all.size),
      ("peak_rss_mib", peakRssMib, "MiB", 1))
    def rows(xs: Seq[(String, Double, String, Int)]): String =
      xs.map { case (k, v, u, n) => s"${json(k)}:{\"value\":${num(v)},\"unit\":${json(u)},\"n\":$n}" }
        .mkString("{", ",", "}")
    val layerRows = layers.summary.map { case (k, v, n) => (k, v, "", n) }
    // an op is ok when it did not throw and no check failed its output
    val opsJson = all.sortBy(_.startNs).map { op =>
      val ok = op.ok && !badKinds(op.kind) && !failedOps(op.id)
      s"""[${json(op.kind)},${num(op.seconds)},$ok,${op.traced}]"""
    }.mkString("[", ",", "]")
    val out =
      s"""{"workload":${json(o.workload)},"seed":${o.seed},"trace":${o.trace},""" +
      s""""attempted":${all.size},""" +
      s""""env":${env.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")},""" +
      s""""e2e":${rows(e2e)},"layers":${rows(layerRows)},""" +
      s""""info":${info.map { case (k, v) => s"${json(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
      s""""fingerprints":${fingerprints.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")},""" +
      s""""tables":${tables.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""etl_runs":${etlRuns.map { case (s, r, l) => s"[${json(s)},$r,$l]" }.mkString("[", ",", "]")},""" +
      s""""check_failures":${checkFailures.map(json).mkString("[", ",", "]")},""" +
      s""""ops":$opsJson}"""
    Files.writeString(Paths.get(o.out), out)
  }
}
