package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --records <dir> --cores <n>
  *   perfbench.Main --smoke --work <dir> --records <dir> --cores <n>
  * }}}
  *
  * Prints one `{"run_conditions": ...}` line and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  val Names: Seq[String] = Seq("bulk_load", "incremental_sync", "corpus_curation")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, work: Path = Paths.get("work"),
                        records: Path = Paths.get("."),
                        cores: Int = Runtime.getRuntime.availableProcessors(),
                        smoke: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = Paths.get(v)))
    case "--records" :: v :: t => parse(t, acc.copy(records = Paths.get(v)))
    case "--cores" :: v :: t => parse(t, acc.copy(cores = v.toInt))
    case "--smoke" :: t => parse(t, acc.copy(smoke = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.smoke || Names.contains(args.workload),
      s"--workload must be one of ${Names.mkString(", ")}")
    Files.createDirectories(args.work)
    val steal0 = Probes.cpuSteal()
    val load0 = Probes.loadAvg()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[${args.cores}]", args.cores)
      .appName("perfbench")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (args.smoke) smoke(spark, args)
        else {
          val (out, setupS) = runOne(spark, trace, args, args.workload, Sizes.Full,
            args.trace, wrong = false, sessionS)
          val conditions = runConditions(spark, args, load0, Probes.stealPct(steal0, Probes.cpuSteal()))
          val metrics = (if (args.trace) out.perLayer
            else ("setup_s", setupS, "s") +: out.endToEnd)
          val correct = out.failed == 0 && out.attempted > 0
          val result = "{\"correct\":" + correct + ",\"attempted\":" + out.attempted +
            ",\"failed\":" + out.failed + ",\"metrics\":{" + metrics.map { case (n, v, u) =>
              "\"" + n + "\":{\"value\":" + num(v) + ",\"unit\":\"" + u + "\"}"
            }.mkString(",") + "}}"
          out.errors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
          val record = s"""{"workload":"${args.workload}","seed":${args.seed},""" +
            s""""trace":${args.trace},"conditions":$conditions,"errors":${out.errors.size},"result":$result}"""
          Files.write(args.records.resolve("runs.jsonl"),
            (record + "\n").getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          if (args.trace)
            Files.write(args.records.resolve(s"trace-${args.workload}-${args.seed}.json"),
              trace.spanJson.getBytes(StandardCharsets.UTF_8))
          println(s"""{"run_conditions":$conditions}""")
          println(result)
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** One workload run; returns its outcome and set-up seconds. */
  def runOne(spark: SparkSession, trace: Trace, args: Args, workload: String,
             sizes: Sizes, traced: Boolean, wrong: Boolean,
             sessionS: Double): (Outcome, Double) = {
    val work = args.work.resolve(workload)
    Probes.deleteTree(work)
    Files.createDirectories(work)
    val ctx = new Ctx(spark, trace, work, args.cores, sizes, traced, wrong)
    val setup = new Workloads.Setup
    setup.once += sessionS
    val out = workload match {
      case "bulk_load" => Workloads.bulkLoad(ctx, args.seed, args.seconds, setup)
      case "incremental_sync" => Workloads.incrementalSync(ctx, args.seed, args.seconds, setup)
      case "corpus_curation" => Workloads.corpusCuration(ctx, args.seed, args.seconds, setup)
    }
    Probes.deleteTree(work)
    (out, setup.total)
  }

  /** Host and engine conditions of the run: CPU steal share over the run,
    * load average before and after, cores, heap and the Spark confs in
    * effect. */
  private def runConditions(spark: SparkSession, args: Args, load0: Double,
                            stealPct: Double): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val confs = (spark.sparkContext.getConf.getAll.toSeq ++
      spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")))
      .filterNot(c => c._1.contains("dir") || c._1.contains("host") || c._1.contains("port") ||
        c._1.contains("id") || c._1.contains("Options"))
      .distinct.sortBy(_._1)
    s"""{"cores":${args.cores},"host_cpus":${Runtime.getRuntime.availableProcessors()},""" +
      s""""steal_pct":${num(stealPct)},"load_avg_start":${num(load0)},"load_avg_end":${num(Probes.loadAvg())},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"java":${q(System.getProperty("java.version"))},""" +
      s""""spark":${q(spark.version)},"confs":{${confs.map { case (k, v) => q(k) + ":" + q(v) }.mkString(",")}}}"""
  }

  /** Toy-size run of every workload, each twice: once with the true
    * expectation, which must pass (traced, so the trace path runs too),
    * and once with a deliberately wrong one, which the correctness gate
    * must reject. */
  private def smoke(spark: SparkSession, args: Args): Int = {
    val verdicts = Names.map { w =>
      val trace = new Trace
      spark.sparkContext.addSparkListener(trace)
      val (good, _) = runOne(spark, trace, args.copy(seconds = 1), w, Sizes.Smoke,
        traced = true, wrong = false, 0.0)
      spark.sparkContext.removeSparkListener(trace)
      val (bad, _) = runOne(spark, new Trace, args.copy(seconds = 1), w, Sizes.Smoke,
        traced = false, wrong = true, 0.0)
      val ok = good.failed == 0 && bad.failed > 0
      good.errors.foreach(e => println(s"  unexpected failure: $e"))
      println(s"smoke $w: true expectation ${if (good.failed == 0) "passed" else "FAILED"} " +
        s"(${good.attempted} operations, ${good.perLayer.count(_._2 != 0)} non-zero per-layer metrics); " +
        s"wrong expectation ${if (bad.failed > 0) "rejected" else "NOT rejected"} " +
        s"(${bad.failed} of ${bad.attempted} operations failed)")
      ok
    }
    if (verdicts.forall(identity)) { println("smoke: ok"); 0 } else { println("smoke: FAILED"); 1 }
  }
}
