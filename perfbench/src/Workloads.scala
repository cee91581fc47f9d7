package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of one scale. `warmRounds` untimed syncs precede
  * incremental_sync's timed phase, and `warmUps` untimed calls precede the
  * other workloads' timed phases. */
final case class Sizes(bulkOrders: Int, pageOrders: Int, baseOrders: Int,
                       roundOrders: Int, corpusDocs: Int, prepares: Int,
                       warmRounds: Int, warmUps: Int, maxOps: Int)

object Sizes {
  val Full = Sizes(bulkOrders = 10000, pageOrders = 500, baseOrders = 5000,
    roundOrders = 1500, corpusDocs = 2000, prepares = 3, warmRounds = 1, warmUps = 2,
    maxOps = 100)
  val Smoke = Sizes(bulkOrders = 400, pageOrders = 50, baseOrders = 300,
    roundOrders = 100, corpusDocs = 150, prepares = 1, warmRounds = 0, warmUps = 0,
    maxOps = 1)
}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(attempted: Int, failed: Int, errors: Seq[String],
                         endToEnd: Seq[(String, Double, String)],
                         perLayer: Seq[(String, Double, String)])

/** Shared state of one run: the session, the tracer, the work directory. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path,
                val cores: Int, val sizes: Sizes, val traced: Boolean,
                val wrongExpectation: Boolean) {
  def dir(name: String): Path = work.resolve(name)
}

/** Timing and accounting of the timed calls of a run. With tracing on, the
  * first operation runs untraced as the reference for the tracing
  * overhead; the rest run traced. */
final class Phase(ctx: Ctx) {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var untracedOpS = -1.0
  val tracedOpS = mutable.ArrayBuffer.empty[Double]
  var wallS, cpuS = 0.0
  var fsWritten = 0L
  var heapPeakMb = 0.0
  var attempted, failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Time one public call; `sync` marks calls that count toward
    * `sync_p50_s`. */
  def call[T](root: String, sync: Boolean)(body: => T): T = {
    val c0 = Probes.cpuS; val w0 = Probes.fsBytesWritten; val t0 = System.nanoTime()
    val r = ctx.trace.root(root)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    wallS += dt; cpuS += Probes.cpuS - c0; fsWritten += Probes.fsBytesWritten - w0
    if (sync) latencies += dt
    r
  }

  /** One operation: tracing is switched per operation (see class doc),
    * failures are counted, and the live heap is sampled after it. */
  def op(i: Int)(body: => Seq[String]): Unit = {
    ctx.trace.recording = ctx.traced && i > 0
    val t0 = System.nanoTime()
    val errs =
      try body
      catch { case e: Throwable => Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.trace.recording = false
    if (ctx.traced) { if (i == 0) untracedOpS = dt else tracedOpS += dt }
    attempted += 1
    if (errs.nonEmpty) { failed += 1; errors ++= errs.take(5) }
    heapPeakMb = math.max(heapPeakMb, Probes.liveHeapMb())
  }

  /** Number of operations: fixed work per `--seconds`, one more when traced. */
  def count(seconds: Int, nominalOpS: Double, min: Int): Int =
    math.min(ctx.sizes.maxOps, math.max(min, math.ceil(seconds / nominalOpS).toInt)) +
      (if (ctx.traced) 1 else 0)
}

object Workloads {
  /** Set-up time: one-off parts plus the median of the repeated part. */
  final class Setup {
    var once = 0.0
    val repeated = mutable.ArrayBuffer.empty[Double]
    def timeOnce[T](body: => T): T = { val t0 = System.nanoTime(); try body finally once += (System.nanoTime() - t0) / 1e9 }
    def timeRepeated[T](body: => T): T = { val t0 = System.nanoTime(); try body finally repeated += (System.nanoTime() - t0) / 1e9 }
    def total: Double = once + Probes.median(repeated.toSeq)
  }

  def writePages(dir: Path, seq: Seq[Orders.Order], perPage: Int): Long = {
    Probes.deleteTree(dir); Files.createDirectories(dir)
    seq.grouped(perPage).zipWithIndex.map { case (g, i) =>
      val bytes = g.iterator.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(f"page_$i%05d.ndjson"), bytes)
      bytes.length.toLong
    }.sum
  }

  /** Differences between the warehouse and the model: per-table row counts
    * and the checksum of order totals in cents. */
  def checkWarehouse(ctx: Ctx, p: graft.Pipeline, model: Orders.Model): Seq[String] = {
    val want = model.counts ++ (if (ctx.wrongExpectation) Map("orders" -> (model.counts("orders") + 1)) else Map())
    val got = Orders.Tables.map(t => t -> p.readFinal(t).map(_.count()).getOrElse(0L)).toMap
    val cents = p.readFinal("orders").map(_.agg(sum(round(col("total_price") * 100).cast("long")))
      .collect()(0)).map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).getOrElse(0L)
    Orders.Tables.filter(t => got(t) != want(t)).map(t => s"$t has ${got(t)} rows, expected ${want(t)}") ++
      (if (cents != model.totalCents) Seq(s"order totals sum to $cents cents, expected ${model.totalCents}") else Nil)
  }

  def checkCounts(ctx: Ctx, got: Map[String, Long], model: Orders.Model, what: String): Seq[String] = {
    val want = model.counts ++ (if (ctx.wrongExpectation) Map("orders" -> (model.counts("orders") + 1)) else Map())
    Orders.Tables.filter(t => !got.get(t).contains(want(t)))
      .map(t => s"$what: $t reports ${got.get(t)}, expected ${want(t)}")
  }

  /** verify() must report unique keys, no orphan line items, and the
    * model's row counts. */
  def checkVerify(ctx: Ctx, v: Map[String, (Long, Long)], model: Orders.Model): Seq[String] =
    v.toSeq.collect {
      case (t, (total, distinct)) if t != "line_items_orphans" && total != distinct =>
        s"verify: $t has $total rows but $distinct keys"
      case ("line_items_orphans", (n, _)) if n != 0 => s"verify: $n orphan line items"
    } ++ checkCounts(ctx, v.collect { case (t, (total, _)) if t != "line_items_orphans" => t -> total }, model, "verify")

  // ------------------------------------------------------------ pipelines

  private val HttpOpts = Map("recordsField" -> "orders", "limit" -> "250")

  /** Per-layer figures of the pipeline workloads that the tracer does not
    * see: table files, control-log files, rows changed. */
  final class StoreWatch(wh: Path) {
    var filesWritten, rowsWritten, bytesWritten = 0L
    private def files(): Set[Path] = Orders.Tables.flatMap { t =>
      val d = wh.resolve(t)
      if (!Files.isDirectory(d)) Nil
      else { val s = Files.list(d); try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq finally s.close() }
    }.toSet
    /** Counts the data files `body` leaves behind (new or rewritten, by
      * their unique names), their rows from the parquet footers, and the
      * bytes written through the file system meanwhile. */
    def around[T](body: => T): T = {
      val before = files()
      val w0 = Probes.fsBytesWritten
      val r = body
      bytesWritten += Probes.fsBytesWritten - w0
      val added = files() -- before
      filesWritten += added.size
      val conf = new org.apache.hadoop.conf.Configuration()
      rowsWritten += added.iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
      r
    }
    def filesInTables: Long = Orders.Tables.map(t => Probes.dataFiles(wh.resolve(t)).toLong).sum
    def logFiles: Long = Probes.dataFiles(wh.resolve("_sync_control")).toLong
  }

  /** incremental_sync: a base warehouse, then a fixed number of small
    * syncs through `executeHttp` against the in-process endpoint, then
    * one `verify()`. */
  def incrementalSync(ctx: Ctx, seed: Long, seconds: Int, setup: Setup): Outcome = {
    val z = ctx.sizes
    val basePages = ctx.dir("base_pages")
    var shop: Shop = null
    var inputBytes = 0L
    (1 to z.prepares).foreach { _ =>
      setup.timeRepeated {
        shop = new Shop(seed, z.baseOrders, z.roundOrders)
        inputBytes = writePages(basePages, shop.base, z.pageOrders)
      }
    }
    val server = new MockShop(ctx.cores)
    try {
      val httpOpts = HttpOpts + ("partitions" -> ctx.cores.toString)
      // the base build is the only run of the file source in this
      // workload; when tracing, it gets its own tracer
      val baseTrace = new Trace
      val model = new Orders.Model
      val baseWh = ctx.dir("base")
      val baseErrs = setup.timeOnce {
        val p = new graft.Pipeline(ctx.spark, baseWh.toString)
        if (ctx.traced) { ctx.spark.sparkContext.addSparkListener(baseTrace); baseTrace.recording = true }
        val c = try baseTrace.root("call.base_load")(
            p.execute(basePages.toString, forceFullLoad = true, runId = "base"))
          finally if (ctx.traced) {
            baseTrace.recording = false
            org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
            ctx.spark.sparkContext.removeSparkListener(baseTrace)
          }
        model.sync(shop.base, full = true)
        checkCounts(ctx, c, model, "base build")
      }
      // warm-up rounds on a throwaway copy of the base
      if (z.warmRounds > 0) setup.timeOnce {
        Probes.copyTree(baseWh, ctx.dir("warm"))
        val warm = new graft.Pipeline(ctx.spark, ctx.dir("warm").toString)
        val warmShop = new Shop(seed, z.baseOrders, z.roundOrders)
        (1 to z.warmRounds).foreach { i =>
          server.serve(warmShop.nextRound())
          warm.executeHttp(server.url, httpOpts, runId = s"warm-round-$i")
        }
        Probes.deleteTree(ctx.dir("warm"))
      }
      val live = ctx.dir("live")
      setup.timeOnce(Probes.copyTree(baseWh, live))

      val phase = new Phase(ctx)
      phase.attempted += 1
      if (baseErrs.nonEmpty) { phase.failed += 1; phase.errors ++= baseErrs }
      val p = new graft.Pipeline(ctx.spark, live.toString)
      val watch = new StoreWatch(live)
      val rounds = phase.count(seconds, 10.0, 2)
      val served0 = server.snapshot
      var tracedServed = server.snapshot
      var batchRows, rowsChanged, tracedSyncs = 0L
      (0 until rounds).foreach { i =>
        val seq = shop.nextRound()
        server.serve(seq)
        val wantMin = model.nextMin
        if (ctx.traced && i == 1) tracedServed = server.snapshot
        phase.op(i) {
          def sync() = phase.call("call.sync", sync = true)(
            p.executeHttp(server.url, httpOpts, runId = s"round-$i"))
          val got = if (ctx.trace.recording) watch.around(sync()) else sync()
          val (b, rows) = model.sync(seq, full = false)
          if (!ctx.traced || i > 0) { batchRows += b; rowsChanged += rows; tracedSyncs += 1 }
          (if (server.lastUpdatedMin != wantMin)
            Seq(s"round $i sent updated_at_min=${server.lastUpdatedMin}, expected $wantMin")
          else Nil) ++ checkCounts(ctx, got, model, s"round $i")
        }
      }
      val served = server.snapshot
      phase.op(rounds) {
        val v = phase.call("call.verify", sync = false)(p.verify())
        checkVerify(ctx, v, model) ++ checkWarehouse(ctx, p, model)
      }
      val t0 = if (ctx.traced) tracedServed else served0
      val extra = Map(
        "http.requests" -> (served.requests - t0.requests).toDouble,
        "http.bytes_served" -> (served.bytes - t0.bytes).toDouble,
        "http.fetch_s" -> (served.busyS - t0.busyS),
        "http.empty_page_ratio" -> ratio(served.emptyPages - t0.emptyPages, served.requests - t0.requests),
        "Dedup.kept_ratio" -> ratio(batchRows, served.records - t0.records),
        "ParquetTableStore.files_written" -> watch.filesWritten.toDouble,
        "ParquetTableStore.rows_written" -> watch.rowsWritten.toDouble,
        "ParquetTableStore.bytes_written" -> watch.bytesWritten.toDouble,
        "ParquetTableStore.files_in_tables" -> watch.filesInTables.toDouble,
        "ParquetTableStore.rows_changed" -> rowsChanged.toDouble,
        "SyncControl.log_files" -> watch.logFiles.toDouble,
        "syncs" -> tracedSyncs.toDouble) ++ baseSource(baseTrace)
      finish(ctx, phase, records = served.records - served0.records,
        inputBytes = served.recordBytes - served0.recordBytes, storeBytes = Probes.dirBytes(live),
        storeInputBytes = inputBytes + served.recordBytes - served0.recordBytes, extra)
    } finally server.stop()
  }

  /** File-source figures of a traced base build. */
  private def baseSource(t: Trace): Map[String, Double] =
    t.layers.get("PagedNdjsonSource").map { a =>
      Map("PagedNdjsonSource.wall_s" -> a.wallS, "PagedNdjsonSource.task_s" -> a.taskMs / 1000.0,
        "PagedNdjsonSource.self_s" -> t.selfTimes.getOrElse("PagedNdjsonSource", 0.0),
        "PagedNdjsonSource.input_bytes" -> a.inputBytes.toDouble,
        "PagedNdjsonSource.records_read" -> a.inputRecords.toDouble)
    }.getOrElse(Map.empty)

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def ratio(a: Long, b: Long): Double = ratio(a.toDouble, b.toDouble)

  /** bulk_load: a cold `forceFullLoad` of seeded order pages into an empty
    * warehouse, then `verify()`, repeated on a fresh warehouse. */
  def bulkLoad(ctx: Ctx, seed: Long, seconds: Int, setup: Setup): Outcome = {
    val z = ctx.sizes
    val pages = ctx.dir("pages")
    var seq: Vector[Orders.Order] = Vector.empty
    var inputBytes = 0L
    (1 to z.prepares).foreach { _ =>
      setup.timeRepeated {
        val rnd = new scala.util.Random(seed)
        val orders = (1 to z.bulkOrders).map(i =>
          Orders.newOrder(rnd, i.toLong, Orders.Epoch0 + 60L * rnd.nextInt(500000), z.bulkOrders / 3))
        seq = Orders.withShadows(rnd, orders, 0.05, 2 * z.pageOrders)
        inputBytes = writePages(pages, seq, z.pageOrders)
      }
    }
    (1 to z.warmUps).foreach { i =>
      setup.timeOnce {
        val warm = new graft.Pipeline(ctx.spark, ctx.dir("warm").toString)
        warm.execute(pages.toString, forceFullLoad = true, runId = s"warm-$i")
        warm.verify()
        Probes.deleteTree(ctx.dir("warm"))
      }
    }
    val model = new Orders.Model
    val (batch, rows) = model.sync(seq, full = true)
    val phase = new Phase(ctx)
    val ops = phase.count(seconds, 10.0, 2)
    var storeBytes = 0L
    var watch: StoreWatch = null
    var tracedLoads = 0
    (0 until ops).foreach { i =>
      val wh = ctx.dir(s"wh$i")
      Probes.deleteTree(wh)
      val p = new graft.Pipeline(ctx.spark, wh.toString)
      watch = new StoreWatch(wh)
      phase.op(i) {
        def load() = phase.call("call.sync", sync = true)(
          p.execute(pages.toString, forceFullLoad = true, runId = s"load-$i"))
        val got = if (ctx.trace.recording) watch.around(load()) else load()
        val v = phase.call("call.verify", sync = false)(p.verify())
        if (!ctx.traced || i > 0) tracedLoads += 1
        checkCounts(ctx, got, model, s"load $i") ++ checkVerify(ctx, v, model) ++
          checkWarehouse(ctx, p, model)
      }
      storeBytes = Probes.dirBytes(wh)
      if (i < ops - 1) Probes.deleteTree(wh)
    }
    val read = ctx.trace.layers.get("PagedNdjsonSource").map(_.inputRecords).getOrElse(0L)
    val extra = Map(
      "Dedup.kept_ratio" -> ratio(batch.toLong * tracedLoads, read),
      "ParquetTableStore.files_written" -> watch.filesWritten.toDouble * tracedLoads,
      "ParquetTableStore.rows_written" -> watch.rowsWritten.toDouble * tracedLoads,
      "ParquetTableStore.bytes_written" -> watch.bytesWritten.toDouble * tracedLoads,
      "ParquetTableStore.files_in_tables" -> watch.filesInTables.toDouble,
      "ParquetTableStore.rows_changed" -> rows.toDouble * tracedLoads,
      "SyncControl.log_files" -> watch.logFiles.toDouble,
      "syncs" -> tracedLoads.toDouble)
    finish(ctx, phase, records = seq.size.toLong * ops,
      inputBytes = inputBytes * ops, storeBytes = storeBytes, storeInputBytes = inputBytes,
      extra)
  }

  // -------------------------------------------------------------- corpus

  /** corpus_curation: `CorpusPipeline.curate` with the default config over
    * a seeded corpus, writing the curated documents as parquet. */
  def corpusCuration(ctx: Ctx, seed: Long, seconds: Int, setup: Setup): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val z = ctx.sizes
    val corpusDir = ctx.dir("corpus")
    var g: Corpus.Generated = null
    (1 to z.prepares).foreach { _ =>
      setup.timeRepeated {
        g = Corpus.generate(seed, z.corpusDocs)
        g.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
          .repartition(ctx.cores).write.mode("overwrite").parquet(corpusDir.toString)
      }
    }
    val evalDf = g.eval.map(d => (d.id, d.text)).toDF("doc_id", "text").cache()
    def curateTo(out: Path): Unit = {
      val (curated, _) = graft.CorpusPipeline.curate(spark.read.parquet(corpusDir.toString),
        evalDf, "doc_id", "text", report = false)
      curated.write.mode("overwrite").parquet(out.toString)
    }
    (1 to z.warmUps).foreach { _ =>
      setup.timeOnce { curateTo(ctx.dir("warm_out")); Probes.deleteTree(ctx.dir("warm_out")) }
    }

    val phase = new Phase(ctx)
    val ops = phase.count(seconds, 10.0, 2)
    var outBytes = 0L
    var kept = 0L
    (0 until ops).foreach { i =>
      val out = ctx.dir(s"curated$i")
      phase.op(i) {
        phase.call("call.curate", sync = true)(curateTo(out))
        val got = spark.read.parquet(out.toString).as[(Long, String)].collect().toMap
        kept = got.size
        val wanted = if (ctx.wrongExpectation) g.copy(planted = g.planted.copy(
          clusters = g.planted.clusters :+ Vector(-1L))) else g
        Corpus.check(wanted, got)
      }
      outBytes = Probes.dirBytes(out)
      Probes.deleteTree(out)
    }
    val extra = mutable.Map[String, Double]("curate.kept_ratio" -> ratio(kept, g.docs.size.toLong))
    if (ctx.traced) {
      val (cand, verified) = dedupPairs(spark.read.parquet(corpusDir.toString), evalDf)
      extra ++= Map("Similarity.candidate_pairs" -> cand.toDouble,
        "Similarity.verified_ratio" -> ratio(verified, cand))
    }
    finish(ctx, phase, records = g.docs.size.toLong * ops,
      inputBytes = g.ndjsonBytes * ops, storeBytes = outBytes, storeInputBytes = g.ndjsonBytes,
      extra.toMap)
  }

  /** Candidate and verified near-duplicate pairs of the dedup stage, found
    * by replaying `curate`'s stages 1-4 with the default config and
    * running its candidate and verify operators once more. Trace only. */
  private def dedupPairs(docs: DataFrame, evalDocs: DataFrame): (Long, Long) = {
    import graft.functions.{Pii, Text}
    import graft.operators.{Decontaminate, LangId, Similarity}
    val c = graft.CorpusPipeline.Config()
    val pre = LangId.withPrediction(docs, "text", "__l", "__s")
      .filter(col("__l").isin(c.keepLangs.toSeq: _*)).drop("__l", "__s")
      .withColumn("__w", Text.tokens(col("text")))
      .filter(Text.qualityScore(col("text")) >= c.minQuality &&
        Text.bigramRepetitionRatioOf(col("__w")) <= c.maxBigramRepetition)
      .drop("__w")
      .withColumn("text", Pii.redact(col("text")))
    val decon = Decontaminate.clean(pre, evalDocs, "doc_id", "text", c.decontaminateN).cache()
    val cands = Similarity.minhashNearDup(decon, "doc_id", "text",
      threshold = math.max(0.1, c.dedupJaccard - 0.1), maxBucket = c.dedupMaxBucket).cache()
    val verified = Similarity.scoreCandidatesJaccard(cands, decon, "doc_id",
        sub => sub.select(col("doc_id"), Text.tokens(col("text")).as("__w"))
          .select(col("doc_id"), Similarity.shingleHashesOf(col("__w"), 3).as("g")))
      .filter(col("jaccard") >= c.dedupJaccard).count()
    val n = cands.count()
    cands.unpersist(); decon.unpersist()
    (n, verified)
  }

  // -------------------------------------------------------------- metrics

  /** End-to-end and per-layer metrics of a finished run. */
  private def finish(ctx: Ctx, ph: Phase, records: Long, inputBytes: Long,
                     storeBytes: Long, storeInputBytes: Long,
                     extra: Map[String, Double]): Outcome = {
    org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
    System.err.println(s"[perfbench] operation latencies: ${ph.latencies.map(x => f"$x%.3f").mkString(" ")}")
    val e2e = Seq(
      ("wall_s", ph.wallS, "s"),
      ("records_per_s", ratio(records.toDouble, ph.wallS), "1/s"),
      ("sync_p50_s", Probes.median(ph.latencies.toSeq), "s"),
      ("cpu_s", ph.cpuS, "s"),
      ("live_heap_peak_mb", ph.heapPeakMb, "MB"),
      ("write_amp", ratio(ph.fsWritten.toDouble, inputBytes.toDouble), "ratio"),
      ("storage_amp", ratio(storeBytes.toDouble, storeInputBytes.toDouble), "ratio"))
    Outcome(ph.attempted, ph.failed, ph.errors.toSeq, e2e, perLayer(ctx, ph, extra))
  }

  val Layers: Seq[String] = Seq("PagedNdjsonSource", "HttpPagedProvider", "Dedup",
    "Flatten", "ParquetTableStore", "SyncControl", "verify", "Pipeline", "curate")

  /** Every per-layer metric name, in output order. */
  val PerLayerNames: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.task_s" -> "s", s"$l.self_s" -> "s")) ++ Seq(
      "PagedNdjsonSource.input_bytes" -> "bytes", "PagedNdjsonSource.records_read" -> "count",
      "Dedup.shuffle_bytes" -> "bytes", "Dedup.kept_ratio" -> "ratio",
      "http.requests" -> "count", "http.bytes_served" -> "bytes", "http.fetch_s" -> "s",
      "http.empty_page_ratio" -> "ratio",
      "ParquetTableStore.jobs_per_sync" -> "count", "ParquetTableStore.files_written" -> "count",
      "ParquetTableStore.bytes_written" -> "bytes", "ParquetTableStore.rows_written" -> "count",
      "ParquetTableStore.rows_written_per_row_changed" -> "ratio",
      "ParquetTableStore.files_in_tables" -> "count", "ParquetTableStore.compactions" -> "count",
      "SyncControl.log_files" -> "count", "verify.bytes_read" -> "bytes") ++
      Trace.CurateLabels.map(l => s"curate.${l._2}.task_s" -> "s") ++ Seq(
      "curate.rest.task_s" -> "s", "curate.shuffle_bytes" -> "bytes", "curate.kept_ratio" -> "ratio",
      "Similarity.candidate_pairs" -> "count", "Similarity.verified_ratio" -> "ratio",
      "call.sync.self_s" -> "s", "call.verify.self_s" -> "s", "call.curate.self_s" -> "s",
      "job.self_s" -> "s",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
      "core_busy_ratio" -> "ratio", "trace_overhead_s" -> "s")

  private def perLayer(ctx: Ctx, ph: Phase, extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val t = ctx.trace
    val self = t.selfTimes
    val accs = t.layers.toMap
    def group(l: String) = accs.filter { case (k, _) => k == l || k.startsWith(l + ".") }.values.toSeq
    def taskS(l: String) = group(l).map(_.taskMs).sum / 1000.0
    def wallS(l: String) = Trace.union(group(l).flatMap(_.busy)) / 1000.0
    val all = accs.values.toSeq
    val tracedWall = ph.wallS * ph.tracedOpS.sum / math.max(1e-9, ph.tracedOpS.sum + math.max(0.0, ph.untracedOpS))
    val syncs = extra.getOrElse("syncs", 0.0)
    val v = mutable.Map.empty[String, Double]
    Layers.foreach { l =>
      v(s"$l.wall_s") = wallS(l); v(s"$l.task_s") = taskS(l)
      v(s"$l.self_s") = self.filter { case (k, _) => k == l || k.startsWith(l + ".") }.values.sum
    }
    val src = accs.get("PagedNdjsonSource")
    v("PagedNdjsonSource.input_bytes") = src.map(_.inputBytes.toDouble).getOrElse(0.0)
    v("PagedNdjsonSource.records_read") = src.map(_.inputRecords.toDouble).getOrElse(0.0)
    v("Dedup.shuffle_bytes") = accs.get("Dedup").map(a => (a.shuffleRead + a.shuffleWrite).toDouble).getOrElse(0.0)
    v("ParquetTableStore.jobs_per_sync") = ratio(t.jobsByLayer.getOrElse("ParquetTableStore", 0).toDouble, syncs)
    v("ParquetTableStore.compactions") = t.compactions.toDouble
    v("verify.bytes_read") = accs.get("verify").map(_.inputBytes.toDouble).getOrElse(0.0)
    Trace.CurateLabels.foreach { case (_, n) => v(s"curate.$n.task_s") = taskS(s"curate.$n") }
    v("curate.rest.task_s") = taskS("curate.rest")
    v("curate.shuffle_bytes") = group("curate").map(a => (a.shuffleWrite).toDouble).sum
    Seq("call.sync", "call.verify", "call.curate", "job").foreach(n => v(s"$n.self_s") = self.getOrElse(n, 0.0))
    v("spark.jobs") = t.jobs.toDouble
    v("spark.tasks") = t.tasks.toDouble
    v("spark.task_s") = all.map(_.taskMs).sum / 1000.0
    v("spark.gc_s") = all.map(_.gcMs).sum / 1000.0
    v("spark.spill_bytes") = all.map(_.spill.toDouble).sum
    v("spark.shuffle_bytes") = all.map(_.shuffleWrite.toDouble).sum
    v("core_busy_ratio") = ratio(v("spark.task_s"), tracedWall * ctx.cores)
    v("trace_overhead_s") =
      if (ph.tracedOpS.isEmpty || ph.untracedOpS < 0) 0.0
      else Probes.median(ph.tracedOpS.toSeq) - ph.untracedOpS
    extra.foreach { case (k, x) => if (PerLayerNames.exists(_._1 == k)) v(k) = x }
    v("ParquetTableStore.rows_written_per_row_changed") = ratio(
      v.getOrElse("ParquetTableStore.rows_written", 0.0),
      extra.getOrElse("ParquetTableStore.rows_changed", 0.0))
    PerLayerNames.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
