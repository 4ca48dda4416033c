package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.{AsrPipeline, Sinks, SparkEntry}
import graft.asr.{AmplitudeRecognizer, ProcessWordRecognizer, WordRecognizer}
import graft.audio.Pcm
import graft.operators.{Align, Sessionize}
import graft.sources.Sources

/** Wraps public calls in named spans when tracing; runs them bare
  * otherwise.
  */
trait Tracer {
  def span[T](name: String)(body: => T): T
  def traced: Boolean = true
}
object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
  override def traced: Boolean = false
}

/** One benchmark workload: inputs made once per process, then passes
  * (one closed-loop batch job each) on a given session.
  */
trait Workload {
  /** Makes or checks the inputs (untimed, before any session). */
  def prepare(): Unit
  /** Per-session start work that belongs to set-up. */
  def open(spark: SparkSession): Unit = ()
  /** Stops what `open` or a pass started outside Spark. */
  def close(): Unit = ()
  /** One pass; returns the number of operations it attempted. */
  def pass(spark: SparkSession, out: Path, t: Tracer): Int
  /** Failures found in a pass's outputs (empty = correct). */
  def check(out: Path): Seq[String]
  /** Per-layer metrics of the traced pass written to `out`. */
  def layers(spark: SparkSession, probe: Probe, out: Path): Map[String, Double]
}

object Json {
  val mapper = new ObjectMapper()
  def lines(dir: Path): Seq[com.fasterxml.jackson.databind.JsonNode] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json")).sorted
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.nonEmpty))
      .map(mapper.readTree)
}

object Sha {
  def hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString
}

/** The paper's clip pipeline over WAV + transcript files, with both
  * recognizers behind `ProcessWordRecognizer` and one
  * [[AmplitudeWorker]] process each: `Sources` → `AsrPipeline.run` →
  * `Sinks.writeClips` + `Sinks.writeMetadata`.
  */
final class AsrWorkload(docs: Vector[Inputs.Doc], cfg: AsrPipeline.Config,
    work: Path) extends Workload {
  private val in = work.resolve("in")
  /** Seconds of input audio, known after `prepare`. */
  var audioSeconds = 0.0

  def prepare(): Unit = audioSeconds = Inputs.write(docs, in)

  private val inProcess = AmplitudeRecognizer()
  /** The harness classes plus the Scala library and Jackson jars. */
  private val workerCp = System.getProperty("java.class.path").split(":").toSeq
    .flatMap { e =>
      if (!e.endsWith("*")) Seq(e)
      else Option(new java.io.File(e.dropRight(1)).listFiles).toSeq.flatten.map(_.getPath)
    }.filter { e =>
      val f = new java.io.File(e).getName
      !f.endsWith(".jar") || f.startsWith("scala-library") || f.startsWith("jackson-")
    }.mkString(":")
  private def statsFile(role: String): Path = work.resolve(s"worker-$role.json")
  private def workerCmd(role: String): Seq[String] =
    Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx128m", "-XX:+UseSerialGC",
      "-XX:-UsePerfData", "-cp", workerCp, "perfbench.AmplitudeWorker",
      "--stats", statsFile(role).toString)
  private val base = new ProcessWordRecognizer(workerCmd("base"))
  private val validator = new ProcessWordRecognizer(workerCmd("validator"))

  /** Cumulative busy seconds of both live workers. */
  private def workerBusy(): Double =
    Seq("base" -> base, "validator" -> validator).map { case (role, r) =>
      r.transcribe(AmplitudeWorker.StatsKey, Pcm.silence(10, Inputs.SampleRate))
      Json.mapper.readTree(statsFile(role).toFile).get("busy_s").asDouble
    }.sum

  /** Launches both workers (one tiny request each). */
  override def open(spark: SparkSession): Unit = {
    val beep = Pcm.silence(100, Inputs.SampleRate)
    base.transcribe("warmup", beep); validator.transcribe("warmup", beep)
  }

  override def close(): Unit = {
    val kids = ProcessHandle.current().children().iterator.asScala.toSeq
    ProcessWordRecognizer.shutdownAll()
    kids.foreach(_.onExit().get(60, java.util.concurrent.TimeUnit.SECONDS))
  }

  private def inputs(spark: SparkSession, t: Tracer): Dataset[AsrPipeline.DocInput] = {
    import spark.implicits._
    val audio = t.span("sources.read_wav")(
      Sources.readWav(spark, s"$in/audio/*.wav"))
    val text = t.span("sources.read_transcripts")(
      Sources.readTranscripts(spark, s"$in/text/*.txt"))
    t.span("sources.pair_by_position")(Sources.pairByPosition(audio, text))
      .select($"doc_id", $"text", $"pcm", $"sample_rate")
      .as[AsrPipeline.DocInput]
  }

  private var counted: Option[(CountingRecognizer, CountingRecognizer)] = None
  private var busyBefore = 0.0

  def pass(spark: SparkSession, out: Path, t: Tracer): Int = {
    val (b, v) =
      if (!t.traced) (base, validator)
      else {
        val c = (CountingRecognizer(spark.sparkContext, base),
          CountingRecognizer(spark.sparkContext, validator))
        counted = Some(c); busyBefore = workerBusy(); c
      }
    val result = t.span("pipeline.run")(
      AsrPipeline.run(inputs(spark, t), b, v, cfg))
    t.span("sinks.clips")(Sinks.writeClips(result.segments, out.toString))
    t.span("sinks.metadata")(Sinks.writeMetadata(result, out.toString))
    1
  }

  // ------------------------------------------------------------ checks

  /** Kept texts per doc, as the sinks wrote them. */
  private def keptTexts(out: Path): Map[Long, Seq[String]] =
    Files.list(out).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("doc_")).map { d =>
        val id = d.getFileName.toString.stripPrefix("doc_").toLong
        id -> Files.list(d.resolve("clips")).iterator.asScala.toSeq
          .filter(_.toString.endsWith(".txt")).sorted.map(Files.readString(_))
      }.toMap

  /** The clip's words occur in order in the transcript, skipping at
    * most `maxGapWords` transcript words between neighbours (the gaps
    * sessionize bridges).
    */
  private def alignsTo(clip: Seq[String], transcript: Vector[String]): Boolean =
    clip.nonEmpty && {
      var reach = transcript.indices.filter(transcript(_) == clip.head).toSet
      clip.tail.foreach { w =>
        reach = reach.flatMap(p => (p + 1) to (p + 1 + cfg.maxGapWords).toInt)
          .filter(q => q < transcript.length && transcript(q) == w)
      }
      reach.nonEmpty
    }

  def check(out: Path): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val summary = Json.lines(out.resolve("summary_json"))
    val kept = keptTexts(out)
    var exportedTotal, rejectedTotal = 0L
    summary.foreach { r =>
      val id = r.get("doc_id").asLong
      val e = r.get("exported").asLong; val j = r.get("rejected").asLong
      val g = Option(r.get("bridged_groups")).map(_.asLong).getOrElse(0L)
      val q = Option(r.get("equal_runs")).map(_.asLong).getOrElse(0L)
      exportedTotal += e; rejectedTotal += j
      if (!(e + j <= g && g <= q))
        errs += s"doc $id funnel: exported $e + rejected $j <= groups $g <= runs $q fails"
      val texts = kept.getOrElse(id, Seq.empty)
      if (texts.size != e) errs += s"doc $id: ${texts.size} kept clips on disk, summary says $e"
      if (id < 1 || id > docs.size) errs += s"doc_id $id names no input document"
      else texts.filterNot(t => alignsTo(t.split(" ").toSeq, docs((id - 1).toInt).transcript))
        .take(1).foreach(t =>
          errs += s"doc $id: kept text '$t' is not an in-order run of its transcript")
    }
    if (exportedTotal == 0) errs += "no clip was kept"
    val tsvRows = Files.list(out.resolve("clips_tsv")).iterator.asScala
      .filter(_.toString.endsWith(".csv"))
      .map(p => math.max(0, Files.readAllLines(p).size - 1)).sum
    if (tsvRows != exportedTotal) errs += s"clips.tsv has $tsvRows rows, summary exported $exportedTotal"
    val rej = Json.lines(out.resolve("rejections_json")).size
    if (rej != rejectedTotal) errs += s"rejections.json has $rej rows, summary rejected $rejectedTotal"
    if (kept.keySet.exists(id => !summary.exists(_.get("doc_id").asLong == id)))
      errs += "kept clips for a doc missing from the summary"
    errs.result()
  }

  /** Row count and checksum of a pass's outputs, compared with
    * golden.json at the default seed.
    */
  def digest(out: Path): (Long, String) = {
    val wavs = Files.walk(out).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".wav")).sortBy(_.toString)
    val textLines = keptTexts(out).toSeq.sortBy(_._1)
      .flatMap { case (id, ts) => ts.map(t => s"$id\t$t") }
    val rejLines = Json.lines(out.resolve("rejections_json")).map(r =>
      Seq("doc_id", "group_id", "segment", "reason", "duration_ms")
        .map(k => r.get(k).asText).mkString("\t")).sorted
    val body = (textLines ++ rejLines ++
      wavs.map(p => out.relativize(p).toString + "\t" + Sha.hex(Files.readAllBytes(p))))
      .mkString("\n")
    (textLines.size.toLong + rejLines.size, Sha.hex(body.getBytes(StandardCharsets.UTF_8)))
  }

  /** Worker replies must equal the in-process recognizer's words. */
  def workerParity(): Seq[String] =
    docs.indices.take(4).flatMap { i =>
      val pcm = Pcm.fromSamples(Inputs.samples(docs(i)).map(_.toInt), Inputs.SampleRate)
      val want = inProcess.transcribe(s"doc:$i", pcm)
      Seq(base, validator).filter(_.transcribe(s"doc:$i", pcm) != want)
        .map(_ => s"worker words differ from in-process words on doc $i")
    }

  // ------------------------------------------------------------ layers

  def layers(spark: SparkSession, probe: Probe, out: Path): Map[String, Double] = {
    import spark.implicits._
    val m = Map.newBuilder[String, Double]
    val (b, v) = counted.get
    val busy = workerBusy() - busyBefore
    m += "asr.base.calls" -> b.calls.value.toDouble
    m += "asr.base.s" -> b.nanos.value / 1e9
    m += "asr.base.audio_s" -> b.audioMs.value / 1e3
    m += "asr.validator.calls" -> v.calls.value.toDouble
    m += "asr.validator.s" -> v.nanos.value / 1e9
    m += "asr.worker.busy_s" -> busy
    m += "asr.worker.wait_s" -> ((b.nanos.value + v.nanos.value) / 1e9 - busy)
    m += "sinks.clips_s" -> probe.seconds("sinks.clips")
    m += "sinks.metadata_s" -> probe.seconds("sinks.metadata")
    val written = Files.walk(out).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    m += "sinks.files" -> written.size.toDouble
    m += "sinks.mb" -> written.map(Files.size(_)).sum / 1e6
    val wavRows = Sources.readWavOrReject(spark, s"$in/audio/*.wav")
    m += "sources.files" -> (wavRows.count() +
      Sources.readTranscripts(spark, s"$in/text/*.txt").count()).toDouble
    m += "sources.rejected" -> wavRows.filter($"reject_reason".isNotNull).count().toDouble

    // staged run on the same warm session and workers: every stage
    // materialized, for per-stage self time
    val staged = new Probe(spark, probe.runId + "-staged")
    staged.attach()
    def mat[T](name: String)(ds: => Dataset[T]): Dataset[T] =
      staged.span(name)(ds.localCheckpoint(eager = true))
    val t0 = System.nanoTime()
    val docsM = mat("sources")(inputs(spark, NoTrace))
    val books = mat("pipeline.book_words")(AsrPipeline.bookWords(
      docsM.map(d => (d.doc_id, d.text)), cfg.numbersToWords))
    val asr = mat("pipeline.asr_words")(
      AsrPipeline.asrWords(docsM, base, cfg.numbersToWords))
    val runs = mat("align")(Align.lcsEqualRuns(books, asr, cfg.minRun, cfg.lcsMaxChunk))
    val groups = mat("sessionize")(Sessionize.mergeWithSmallGaps(runs, asr,
      cfg.maxGapWords, cfg.maxGapTime))
    val clips = mat("pipeline.assemble")(AsrPipeline.assembleClips(asr, groups, docsM, cfg))
    val outcomes = mat("pipeline.judge")(AsrPipeline.judgeClips(clips, validator, cfg))
    val segments = staged.span("pipeline.number") {
      val (s, r) = AsrPipeline.numberOutcomes(outcomes)
      r.localCheckpoint(eager = true); s.localCheckpoint(eager = true)
    }
    val stagedOut = work.resolve("staged")
    staged.span("sinks")(Sinks.writeClips(segments, stagedOut.toString))
    val wall = (System.nanoTime() - t0) / 1e9
    staged.detach()
    val stageNames = Seq("sources", "pipeline.book_words", "pipeline.asr_words",
      "align", "sessionize", "pipeline.assemble", "pipeline.judge",
      "pipeline.number", "sinks")
    m += "sources.s" -> staged.seconds("sources")
    m += "pipeline.book_words_s" -> staged.seconds("pipeline.book_words")
    m += "pipeline.asr_words_s" -> staged.seconds("pipeline.asr_words")
    m += "align.s" -> staged.seconds("align")
    m += "sessionize.s" -> staged.seconds("sessionize")
    m += "pipeline.assemble_s" -> staged.seconds("pipeline.assemble")
    m += "pipeline.judge_s" -> staged.seconds("pipeline.judge")
    m += "pipeline.number_s" -> staged.seconds("pipeline.number")
    m += "trace.staged_wall_s" -> wall
    m += "trace.stage_sum_share" -> stageNames.map(staged.seconds).sum / wall
    m += "align.equal_runs" -> runs.count().toDouble
    m += "sessionize.groups" -> groups.select($"doc_id", $"group_id").distinct().count().toDouble
    val nClips = clips.count()
    m += "pipeline.clips" -> nClips.toDouble
    m += "pipeline.kept" -> outcomes.filter($"kept").count().toDouble
    m += "pipeline.rejected" -> outcomes.filter(!$"kept").count().toDouble
    m += "asr.validator.calls_per_clip" ->
      (if (nClips > 0) v.calls.value.toDouble / nClips else 0.0)
    probe.children += staged
    m.result()
  }
}

/** Contract queries over a seeded corpus ([[Layers.queries]]),
  * each built through `SparkEntry.queries` and written as parquet.
  */
final class CorpusWorkload(dataDir: Path) extends Workload {
  val names: Seq[String] = Layers.queries
  private lazy val queries = SparkEntry.queries

  def prepare(): Unit = {
    val missing = Seq("documents", "embeddings")
      .filterNot(t => Files.isDirectory(dataDir.resolve(s"$t.parquet")) ||
        Files.isRegularFile(dataDir.resolve(s"$t.parquet")))
    require(missing.isEmpty, s"corpus tables missing under $dataDir: $missing")
  }

  /** Per query of the last traced pass: (planning ms, fallbacks). */
  private val executed = scala.collection.mutable.Map[String, (Long, Long)]()

  def pass(spark: SparkSession, out: Path, t: Tracer): Int = {
    names.foreach { q =>
      val df = t.span(s"$q.build")(queries(q)(spark, dataDir.toString))
      t.span(s"$q.exec")(df.write.mode("overwrite").parquet(out.resolve(q).toString))
      t match {
        case p: Probe => executed(q) = p.takeExecuted()
        case _ =>
      }
    }
    names.size
  }

  def check(out: Path): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    val json = Json.mapper.createObjectNode()
    names.foreach(q => json.put(q, oracle(q)))
    Files.writeString(out.resolve("oracle_sql.json"), Json.mapper.writeValueAsString(json))
    names.filterNot(q => Files.isDirectory(out.resolve(q)) &&
      Files.list(out.resolve(q)).iterator.asScala.exists(_.toString.endsWith(".parquet")))
      .map(q => s"$q wrote no parquet output")
  }

  def layers(spark: SparkSession, probe: Probe, out: Path): Map[String, Double] = {
    val jobs = names.map(q => q -> (
      probe.counters.get(s"$q.build").map(_.jobs).getOrElse(0L),
      probe.counters.get(s"$q.exec").map(_.jobs).getOrElse(0L))).toMap
    val plan = names.map(q => q -> executed.get(q).map(_._1 / 1e3).getOrElse(0.0)).toMap
    val exec = names.map(q => q -> (probe.seconds(s"$q.exec") - plan(q))).toMap
    names.flatMap { q =>
      Seq(s"$q.build_s" -> probe.seconds(s"$q.build"), s"$q.exec_s" -> exec(q),
        s"$q.jobs" -> (jobs(q)._1 + jobs(q)._2).toDouble)
    }.toMap ++ Map(
      "queries.build_s" -> names.map(q => probe.seconds(s"$q.build")).sum,
      "queries.plan_s" -> plan.values.sum,
      "queries.exec_s" -> exec.values.sum,
      "queries.build_jobs" -> jobs.values.map(_._1).sum.toDouble,
      "queries.exec_jobs" -> jobs.values.map(_._2).sum.toDouble,
      "plans.fallback_exprs" -> executed.values.map(_._2).sum.toDouble)
  }
}
