package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.asr.{AmplitudeRecognizer, RecWord, WordRecognizer}
import graft.audio.Pcm
import graft.AsrPipeline._
import graft.operators.{Align, Sessionize}

/** End-to-end pipeline test (SURVEY.md §5.2 item 4): synthetic docs
  * whose audio encodes the word sequence (AmplitudeRecognizer), a
  * transcript with scripted perturbations, and structural + numeric
  * assertions over segments, rejections, and summary — mirroring the
  * reference's example-driven validation (README.md:73–91).
  */
class AsrPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private val Sr = 16000
  private val rec = AmplitudeRecognizer()

  /** 30 words at 0.5 s spacing, each 0.4 s long. */
  private def timeline: Seq[(String, Double, Double)] =
    (0 until 30).map(i => (s"word$i", i * 0.5, i * 0.5 + 0.4))

  /** Transcript: word10 substituted, word20 deleted → three LCS runs
    * [0,10), [11,20), [21,30) split by 0.6 s time gaps into three
    * groups.
    */
  private def transcript: String = {
    val ws = (0 until 30).map(i =>
      if (i == 10) "zzz" else s"word$i").filterNot(_ == "word20")
    ws.mkString(" ")
  }

  private lazy val result: Result = {
    val s = spark
    import s.implicits._
    val audio = AmplitudeRecognizer.synthesize(timeline, Sr)
    val docs = Seq(DocInput(1L, transcript, audio.bytes, Sr)).toDS()
    AsrPipeline.run(docs, rec, rec, Config())
  }

  private lazy val segments = result.segments.collect().sortBy(_.segment)

  test("three perturbation-split groups all export") {
    assert(segments.length == 3)
    assert(segments.map(_.segment).toSeq ==
      Seq("segment_0000", "segment_0001", "segment_0002"))
    assert(result.rejections.count() == 0)
  }

  test("segment texts are the unperturbed word runs, in order") {
    val texts = segments.map(_.text).toSeq
    assert(texts(0) == (0 until 10).map(i => s"word$i").mkString(" "))
    assert(texts(1) == (11 until 20).map(i => s"word$i").mkString(" "))
    assert(texts(2) == (21 until 30).map(i => s"word$i").mkString(" "))
  }

  test("segments respect min duration and carry base-ASR confidence") {
    segments.foreach { s =>
      assert(s.duration_s >= 1.5, s"${s.segment} too short")
      assert(math.abs(s.avg_conf - 0.9) < 1e-9) // J3 maps to base conf
      assert(s.words > 0 && s.pieces == 1)
      assert(Seq("clean", "fixed").contains(s.acoustic_quality))
    }
  }

  test("adaptive next-word guard clamps the leaked-onset boundary") {
    // group 1: words 0..9; base clip = [0, w9.end+140ms] — the 140ms
    // end pad leaks the ONSET of word10 (starts exactly at 5.0s)
    // into the clip. The validator therefore decodes 11 words; the
    // kept span is [0,10) with a next word at 5.0s, so the end
    // boundary clamps to next_start − int(35·0.7) = 5000−24 = 4976ms
    // (validator confidence is 1.0 → the >0.75 guard branch —
    // reference quirk, claude_research_optimal.py:543–551). Start
    // pad clamps at 0. This is the phantom-word scenario the guard
    // machinery exists for.
    val s0 = segments(0)
    assert(math.abs(s0.duration_s - 4.976) < 0.003,
      s"unexpected duration ${s0.duration_s}")
  }

  test("summary counts are consistent") {
    val row = result.summary.collect()(0)
    assert(row.getAs[Long]("exported") == 3L)
    assert(row.getAs[Long]("rejected") == 0L)
    assert(row.getAs[Long]("equal_runs") == 3L)
    assert(row.getAs[Long]("bridged_groups") == 3L)
    assert(row.getAs[Double]("rejection_rate_pct") == 0.0)
  }

  test("short group is rejected as too_short with next-kept id quirk") {
    val s = spark
    import s.implicits._
    // Two LCS runs (word5 substituted in the transcript) separated
    // by a 0.6s time gap → two groups; the second run's words are
    // squeezed into a 0.86s span → too_short under min_dur 1.5.
    val tl = (0 until 6).map(i => (s"word$i", i * 0.5, i * 0.5 + 0.4)) ++
      (6 until 10).map(i =>
        (s"word$i", 3.0 + (i - 6) * 0.22, 3.0 + (i - 6) * 0.22 + 0.2))
    val audio = AmplitudeRecognizer.synthesize(tl, Sr)
    val text = (0 until 10).map(i =>
      if (i == 5) "zzz" else s"word$i").mkString(" ")
    val docs = Seq(DocInput(7L, text, audio.bytes, Sr)).toDS()
    val r = AsrPipeline.run(docs, rec, rec, Config())
    val segs = r.segments.collect()
    val rejs = r.rejections.collect()
    assert(segs.length == 1 && rejs.length == 1)
    assert(rejs(0).reason == "too_short")
    // quirk: rejected group logs the id the NEXT kept segment would
    // get; group order decides which
    if (rejs(0).group_id < segs(0).group_id)
      assert(rejs(0).segment == "segment_0000" &&
        segs(0).segment == "segment_0000")
    else assert(rejs(0).segment == "segment_0001")
  }

  test("timestamped batch dir matches the reference pattern (P9)") {
    val base = java.nio.file.Files.createTempDirectory("graft_p9").toString
    val at = java.time.ZonedDateTime.of(2024, 3, 7, 14, 5, 9, 0,
      java.time.ZoneOffset.UTC)
    val dir = Sinks.timestampedDir(base, at)
    assert(dir.endsWith("batch_20240307_140509"))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
  }

  test("sinks write wav/txt/tsv/corpus files") {
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    Sinks.writeClips(result.segments, out)
    Sinks.writeFullCorpus(result.segments, out, 500)
    Sinks.writeMetadata(result, out)
    Sinks.writeWordCoverage(result.segments, out)
    val base = java.nio.file.Paths.get(out, "doc_1")
    assert(java.nio.file.Files.exists(base.resolve("clips/segment_0000.wav")))
    assert(java.nio.file.Files.exists(base.resolve("clips/segment_0002.txt")))
    val wav = java.nio.file.Files.readAllBytes(base.resolve("full.wav"))
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    // corpus = 3 clips + 3 gaps; duration > sum of clip durations
    val pcmLen = wav.length - 44
    val expectMin = segments.map(_.duration_s).sum + 3 * 0.5
    assert(pcmLen / 2.0 / Sr >= expectMin - 0.05)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(out, "clips_tsv")).count() > 0)
  }

  /** Two docs, so the per-doc numbering reset is exercised: doc 1 is
    * the three-group fixture above; doc 2 is the too_short
    * construction from the quirk test (two groups, the second
    * squeezed under min_dur -> one rejection).
    */
  private def twoDocs(): Dataset[DocInput] = {
    val s = spark
    import s.implicits._
    val audio1 = AmplitudeRecognizer.synthesize(timeline, Sr)
    val shortTl = (0 until 6).map(i =>
      (s"word$i", i * 0.5, i * 0.5 + 0.4)) ++
      (6 until 10).map(i =>
        (s"word$i", 3.0 + (i - 6) * 0.22, 3.0 + (i - 6) * 0.22 + 0.2))
    val audio2 = AmplitudeRecognizer.synthesize(shortTl, Sr)
    val text2 = (0 until 10).map(i =>
      if (i == 5) "zzz" else s"word$i").mkString(" ")
    Seq(
      DocInput(1L, transcript, audio1.bytes, Sr),
      DocInput(2L, text2, audio2.bytes, Sr)
    ).toDS()
  }

  test("fused run() equals the staged assemble->judge->number path") {
    val s = spark
    import s.implicits._
    val docs = twoDocs().cache()
    val cfg = Config()
    val fused = AsrPipeline.run(docs, rec, rec, cfg)

    val books = AsrPipeline.bookWords(
      docs.map(d => (d.doc_id, d.text)), cfg.numbersToWords)
    val asr = AsrPipeline.asrWords(docs, rec, cfg.numbersToWords).cache()
    val runs = graft.operators.Align.lcsEqualRuns(
      books, asr, cfg.minRun, cfg.lcsMaxChunk)
    val groups = graft.operators.Sessionize.mergeWithSmallGaps(
      runs, asr, cfg.maxGapWords, cfg.maxGapTime)
    val clips = AsrPipeline.assembleClips(asr, groups, docs, cfg)
    val outcomes = AsrPipeline.judgeClips(clips, rec, cfg)
    val (segStaged, rejStaged) = AsrPipeline.numberOutcomes(outcomes)

    def segKey(r: SegmentRow) = (r.doc_id, r.group_id, r.segment, r.text,
      r.pcm.toSeq, r.sample_rate, r.duration_s, r.words, r.pieces,
      r.avg_conf, r.acoustic_quality)
    def rejKey(r: RejectionRow) = (r.doc_id, r.group_id, r.segment,
      r.reason, r.duration_ms, r.confidence)
    assert(fused.segments.collect().map(segKey).sortBy(k => (k._1, k._2))
      .toSeq == segStaged.collect().map(segKey).sortBy(k => (k._1, k._2))
      .toSeq)
    assert(fused.rejections.collect().map(rejKey).sortBy(k => (k._1, k._2))
      .toSeq == rejStaged.collect().map(rejKey).sortBy(k => (k._1, k._2))
      .toSeq)
    assert(fused.rejections.count() >= 1)
    // run() released only what it cached: the caller's docs stay
    assert(docs.storageLevel != StorageLevel.NONE)
    fused.release()
    docs.unpersist()
  }

  test("one validator call per judged clip across all four sinks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val base = new CountingRecognizer(rec, sc.longAccumulator("base"))
    val validator =
      new CountingRecognizer(rec, sc.longAccumulator("validator"))
    val r = AsrPipeline.run(twoDocs(), base, validator, Config())
    val out = java.nio.file.Files.createTempDirectory("graft_calls").toString
    Sinks.writeClips(r.segments, out)
    Sinks.writeMetadata(r, out)
    Sinks.writeFullCorpus(r.segments, out, 500)
    Sinks.writeWordCoverage(r.segments, out)
    val judged = r.segments.count() + r.rejections.count()
    assert(judged == 5L) // doc 1: 3 kept; doc 2: 1 kept + 1 rejected
    assert(validator.calls.value == judged)
    assert(base.calls.value == 2L)
    r.release()
    assert(r.outcomes.storageLevel == StorageLevel.NONE)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }

  test("summary equals the staged runs/groups derivation") {
    val s = spark
    import s.implicits._
    // doc 3: one five-word run squeezed into 1.08 s, so its only group
    // is too_short and the doc exports nothing
    val tl3 = (0 until 5).map(i => (s"word$i", i * 0.22, i * 0.22 + 0.2))
    val doc3 = DocInput(3L, (0 until 5).map(i => s"word$i").mkString(" "),
      AmplitudeRecognizer.synthesize(tl3, Sr).bytes, Sr)
    val docs = twoDocs().union(Seq(doc3).toDS()).cache()
    val cfg = Config()
    val r = AsrPipeline.run(docs, rec, rec, cfg)

    // runs and groups counted separately from the staged operators,
    // then left-joined onto the per-doc outcome counts
    val books = AsrPipeline.bookWords(
      docs.map(d => (d.doc_id, d.text)), cfg.numbersToWords)
    val asr = AsrPipeline.asrWords(docs, rec, cfg.numbersToWords)
    val runs = Align.lcsEqualRuns(books, asr, cfg.minRun, cfg.lcsMaxChunk)
    val groups = Sessionize.mergeWithSmallGaps(
      runs, asr, cfg.maxGapWords, cfg.maxGapTime)
    val outcomes = AsrPipeline.judgeClips(
      AsrPipeline.assembleClips(asr, groups, docs, cfg), rec, cfg)
    val staged = outcomes.groupBy($"doc_id").agg(
        sum(when($"kept", 1L).otherwise(0L)).as("exported"),
        sum(when($"kept", 0L).otherwise(1L)).as("rejected"))
      .join(runs.groupBy($"doc_id").agg(count(lit(1)).as("equal_runs")),
        Seq("doc_id"), "left")
      .join(groups.select($"doc_id", $"group_id").distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("bridged_groups")),
        Seq("doc_id"), "left")
      .withColumn("rejection_rate_pct",
        when($"exported" + $"rejected" > 0,
          round($"rejected" * 100.0 / ($"exported" + $"rejected"), 2))
          .otherwise(0.0))
      .withColumn("status",
        when($"exported" > 0, "success").otherwise("failed"))

    assert(r.summary.columns.toSeq == Seq("doc_id", "exported", "rejected",
      "equal_runs", "bridged_groups", "rejection_rate_pct", "status"))
    assert(r.summary.columns.toSeq == staged.columns.toSeq)
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(r.summary) == rows(staged))
    val byDoc = r.summary.collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    assert(byDoc(2L).getAs[Long]("rejected") == 1L)
    assert(byDoc(3L).getAs[Long]("exported") == 0L)
    assert(byDoc(3L).getAs[String]("status") == "failed")
    r.release()
    docs.unpersist()
  }
}

/** Test-only decorator: counts the wrapped recognizer's calls on the
  * executors.
  */
final class CountingRecognizer(inner: WordRecognizer,
    val calls: LongAccumulator) extends WordRecognizer {
  def transcribe(key: String, audio: Pcm): Seq[RecWord] = {
    calls.add(1)
    inner.transcribe(key, audio)
  }
}
