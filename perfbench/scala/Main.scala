package perfbench

import java.nio.file.{Files, Path, Paths => JPaths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.AsrPipeline

/** Closed-loop benchmark process: one client runs one batch job at a
  * time on Spark `local[cores]`; the next pass starts when the last
  * one has finished.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --data <dir> --golden <file>
  *
  * Prints one JSON object on its last stdout line: end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`. Exits 1 when
  * a pass throws or an output check fails.
  */
object Main {
  val DefaultSeed = 1L
  /** Set-ups: at least this many, and more until the ones after the
    * first (cold) one add up to `SetUpSeconds`.
    */
  val MinSetUps = 3
  val SetUpSeconds = 2.0
  /** Unmeasured passes before the measured ones: the cold pass, then
    * three more while the JIT works through Catalyst's hot paths.
    */
  val WarmUpPasses = 4
  /** At least three measured passes, so the median is one of them. */
  val MinPasses = 3
  /** A measured pass during which the hypervisor gave more than this
    * share of the machine's CPU time to other guests (the `steal`
    * column of /proc/stat) runs 10-60% slower on a shared host. It is
    * kept in the record but left out of the medians, and measuring goes
    * on, up to `MaxStretch` times `--seconds`, until `MinPasses` calm
    * passes exist; failing that, the `MinPasses` passes with the least
    * steal count.
    */
  val MaxStealShare = 0.02
  val MaxStretch = 1.5
  /** A pass generates about 120 distinct classes on corpus_curation
    * and 190 on asr_worker. Spark's default codegen cache (100
    * entries, in four LRU segments) cannot hold them, so with it every
    * warm pass recompiles most of them and the JIT never settles; a
    * long-lived session sized for its job keeps them all. The count is
    * reported as `plans.generated_classes`.
    */
  val CodegenCacheEntries = 2000

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path, golden: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(kv("--workload"), kv.get("--seed").map(_.toLong).getOrElse(DefaultSeed),
      kv.get("--seconds").map(_.toDouble).getOrElse(10.0),
      kv.get("--trace").contains("1"), JPaths.get(kv("--work")),
      JPaths.get(kv("--data")),
      kv.get("--golden").map(JPaths.get(_)))
  }

  def workload(o: Opts): Workload = o.workload match {
    case "asr_worker" =>
      new AsrWorkload(Inputs.docs(o.seed, 16), AsrPipeline.Config(), o.work)
    case "corpus_curation" => new CorpusWorkload(o.data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process and its live children. */
  def cpuSeconds(): Double =
    osBean.getProcessCpuTime / 1e9 + ProcessHandle.current().descendants().iterator.asScala
      .flatMap(p => p.info().totalCpuDuration().toScala).map(_.toNanos / 1e9).sum

  private implicit class OptConv[T](o: java.util.Optional[T]) {
    def toScala: Option[T] = if (o.isPresent) Some(o.get) else None
  }

  /** Peak resident MB of this process plus its live children. */
  def peakRssMb(): Double = {
    def hwm(pid: Long): Double = {
      val f = JPaths.get(s"/proc/$pid/status")
      if (!Files.exists(f)) 0.0
      else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }
    hwm(ProcessHandle.current().pid) +
      ProcessHandle.current().descendants().iterator.asScala.map(p => hwm(p.pid)).sum
  }

  /** (steal, total) CPU ticks of the machine, from /proc/stat; zeros
    * where it does not exist.
    */
  def cpuTicks(): (Long, Long) = {
    val f = JPaths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val t = Files.readAllLines(f).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
      (t(7), t.sum)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rm(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    val out = o.work.resolve("out")
    var attempted = 0L
    val failures = mutable.ArrayBuffer[String]()
    var spark: SparkSession = null

    var failedOps = 0L
    var persistedLeft = 0

    /** One pass into a fresh output directory, then its checks. */
    def runPass(k: String, t: Tracer): (Double, Double) = {
      val dir = out.resolve(k)
      rm(dir)
      val c0 = cpuSeconds(); val t0 = System.nanoTime()
      val (ops, threw) = try (w.pass(spark, dir, t), Seq.empty[String]) catch {
        case e: Exception => (1, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - c0
      val errs = threw ++ (if (Files.isDirectory(dir)) w.check(dir) else Seq("wrote nothing"))
      attempted += ops
      if (errs.nonEmpty) failedOps += ops
      failures ++= errs.take(5).map(e => s"pass $k: $e")
      persistedLeft = spark.sparkContext.getPersistentRDDs.size
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (wall, cpu)
    }

    w.prepare()

    // set-up: session + extensions (+ worker launch), several times;
    // the last session stays for the warm-up and measured passes
    val setups = mutable.ArrayBuffer[Double]()
    while (setups.size < MinSetUps || setups.tail.sum < SetUpSeconds) {
      if (spark != null) { w.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(o.work)
      w.open(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val warmUps = (1 to WarmUpPasses).map(i => runPass(s"warmup$i", NoTrace)._1)

    // measured passes: (wall, cpu, steal share)
    val passes = mutable.ArrayBuffer[(Double, Double, Double)]()
    def calm = passes.filter(_._3 <= MaxStealShare)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < MinPasses || ((calm.size < MinPasses || elapsed < o.seconds) &&
        elapsed < MaxStretch * o.seconds)) {
      val (st0, tot0) = cpuTicks()
      val (wall, cpu) = runPass(s"p${passes.size}", NoTrace)
      val (st1, tot1) = cpuTicks()
      passes += ((wall, cpu, if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0))
    }
    val used = passes.sortBy(_._3).take(math.max(calm.size, MinPasses))
    val walls = used.map(_._1); val cpus = used.map(_._2)
    val lastOut = out.resolve(s"p${passes.size - 1}")

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val record = mutable.LinkedHashMap[String, Any]()
    if (!o.trace) {
      metrics("setup_s") = (median(setups.toSeq), "s")
      metrics("wall_s") = (median(walls.toSeq), "s")
      metrics("cpu_s") = (median(cpus.toSeq), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      w match {
        case a: AsrWorkload => record("audio_s_per_s") = a.audioSeconds / median(walls.toSeq)
        case _ =>
      }
    } else {
      val probe = new Probe(spark, s"${o.workload}-${o.seed}")
      probe.attach()
      val (tracedWall, _) = runPass("traced", probe)
      val generated = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      probe.detach()
      val layers = w.layers(spark, probe, out.resolve("traced"))
      val c = probe.counters.values
      def sum(f: Counters => Long): Double = c.map(f).sum.toDouble
      val perLayer = Layers.zero ++ layers ++ Map(
        "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
        "spark.tasks" -> sum(_.tasks), "spark.executor_run_s" -> sum(_.runMs) / 1e3,
        "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9, "spark.gc_s" -> sum(_.gcMs) / 1e3,
        "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
        "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
        "spark.spill_mb" -> sum(_.spill) / 1e6,
        "spark.busy_share" -> sum(_.runMs) / 1e3 / (tracedWall * cores),
        "spark.persisted_rdds_left" -> persistedLeft.toDouble,
        "plans.generated_classes" -> generated.toDouble,
        "trace.wall_s" -> tracedWall,
        "trace.overhead_s" -> (tracedWall - median(walls.toSeq)))
      Layers.all.foreach { case (n, u) => metrics(n) = (perLayer(n), u) }
      Files.write(o.work.resolve("spans.jsonl"), probe.spanLines().asJava)
    }

    // ASR end checks, one more operation: worker parity, and the
    // golden digest at the default seed
    w match {
      case a: AsrWorkload =>
        val errs = mutable.ArrayBuffer[String]() ++ a.workerParity()
        val (rows, sha) = a.digest(lastOut)
        record("digest") = Map("rows" -> rows, "sha256" -> sha).asJava
        if (o.seed == DefaultSeed) o.golden.filter(Files.exists(_)).foreach { g =>
          val want = Json.mapper.readTree(g.toFile).get(o.workload)
          if (want != null && (want.get("rows").asLong != rows ||
              want.get("sha256").asText != sha))
            errs += s"golden mismatch at seed ${o.seed}: rows $rows sha $sha, " +
              s"want rows ${want.get("rows").asLong} sha ${want.get("sha256").asText}"
        }
        attempted += 1
        if (errs.nonEmpty) failedOps += 1
        failures ++= errs
      case _ =>
    }

    w.close()
    spark.stop()

    record("workload") = o.workload; record("seed") = o.seed; record("trace") = o.trace
    record("passes") = passes.size; record("passes_used") = used.size
    record("pass_walls_s") = passes.map(_._1).asJava
    record("pass_cpus_s") = passes.map(_._2).asJava
    record("pass_steal_shares") = passes.map(_._3).asJava
    record("setups_s") = setups.asJava
    record("warmup_passes_s") = warmUps.asJava
    record("failures") = failures.asJava
    record("host") = Map[String, Any]("nproc" -> cores, "spark_master" -> s"local[$cores]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION).asJava
    Files.writeString(o.work.resolve("record.json"), Json.mapper.writeValueAsString(
      (record ++ Map("metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u).asJava }.asJava)).asJava))
    failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    val result = Map[String, Any](
      "correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failedOps,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map[String, Any]("value" -> v, "unit" -> u).asJava }.asJava)
    println(Json.mapper.writeValueAsString(result.asJava))
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}

/** The per-layer metrics every traced run reports (0 where the
  * workload bypasses the layer), with their units.
  */
object Layers {
  /** One construction- and job-bound query (`Dedup.resolveClusters`
    * rounds) and one execution-bound query (tokenizer and character
    * n-gram assembly).
    */
  val queries: Seq[String] = Seq("q_semdedup", "q_chrf")
  val all: Seq[(String, String)] = Seq(
    "sources.s" -> "s", "sources.files" -> "count", "sources.rejected" -> "count",
    "asr.base.calls" -> "count", "asr.base.s" -> "s", "asr.base.audio_s" -> "s",
    "asr.validator.calls" -> "count", "asr.validator.s" -> "s",
    "asr.validator.calls_per_clip" -> "ratio",
    "asr.worker.busy_s" -> "s", "asr.worker.wait_s" -> "s",
    "pipeline.book_words_s" -> "s", "pipeline.asr_words_s" -> "s",
    "align.s" -> "s", "align.equal_runs" -> "count",
    "sessionize.s" -> "s", "sessionize.groups" -> "count",
    "pipeline.assemble_s" -> "s", "pipeline.judge_s" -> "s", "pipeline.number_s" -> "s",
    "pipeline.clips" -> "count", "pipeline.kept" -> "count", "pipeline.rejected" -> "count",
    "sinks.clips_s" -> "s", "sinks.metadata_s" -> "s",
    "sinks.files" -> "count", "sinks.mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.busy_share" -> "ratio",
    "spark.persisted_rdds_left" -> "count",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.build_jobs" -> "count", "queries.exec_jobs" -> "count",
    "plans.fallback_exprs" -> "count", "plans.generated_classes" -> "count") ++
    queries.flatMap(q => Seq(s"$q.build_s" -> "s", s"$q.exec_s" -> "s", s"$q.jobs" -> "count")) ++
    Seq("trace.wall_s" -> "s", "trace.overhead_s" -> "s",
      "trace.staged_wall_s" -> "s", "trace.stage_sum_share" -> "ratio")
  val zero: Map[String, Double] = all.map(_._1 -> 0.0).toMap
}
