package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.asr.AmplitudeRecognizer

/** Seeded ASR inputs: one WAV recording plus one `.txt` transcript per
  * document, written as files the pipeline reads back through
  * `graft.sources.Sources`.
  *
  * A document is a word sequence. The transcript is that sequence with
  * a few words substituted (an imperfect transcript); the recording
  * speaks it with a few words dropped (what the recognizer "misses"),
  * one word per 0.35 s slot, 0.3 s long, so a one-word hole is short
  * enough for sessionize to bridge. Audio uses the amplitude
  * encoding that `AmplitudeRecognizer` decodes; only its `Base` and
  * `Step` constants are read from the program, so a program change
  * cannot change the inputs.
  */
object Inputs {
  val SampleRate = 8000
  val SlotS = 0.35
  val WordS = 0.3
  val Vocab: Vector[String] = Vector(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "index", "shard", "cache", "plan", "stage",
    "task", "node", "graph", "token", "model", "train", "audio", "clip",
    "speech", "word", "frame", "sample", "noise", "voice", "record", "label")

  final case class Doc(spoken: Vector[String], transcript: Vector[String],
      dropped: Set[Int])

  /** `n` documents of 40 to 70 words; 4% of transcript words
    * substituted, 5% of spoken words dropped.
    */
  def docs(seed: Long, n: Int): Vector[Doc] = {
    val rng = new Random(seed)
    Vector.fill(n) {
      val len = 40 + rng.nextInt(31)
      val words = Vector.fill(len)(Vocab(rng.nextInt(Vocab.size)))
      val transcript = words.map(w =>
        if (rng.nextDouble() < 0.04) Vocab(rng.nextInt(Vocab.size)) else w)
      val dropped = words.indices.filter(_ => rng.nextDouble() < 0.05).toSet
      Doc(words, transcript, dropped)
    }
  }

  /** 16-bit amplitude-encoded samples: word i occupies [SlotS·i,
    * SlotS·i + WordS) split into one equal block per character; block p
    * carries Base + code·Step with sign (−1)^p.
    */
  def samples(d: Doc): Array[Short] = {
    val base = AmplitudeRecognizer.Base
    val step = AmplitudeRecognizer.Step
    val n = ((d.spoken.length * SlotS + 0.2) * SampleRate).toInt
    val s = new Array[Short](n)
    d.spoken.indices.filterNot(d.dropped).foreach { i =>
      val w = d.spoken(i)
      val i0 = (i * SlotS * SampleRate).toInt
      val len = (WordS * SampleRate).toInt
      w.indices.foreach { p =>
        val a = (base + w.charAt(p).toInt * step) * (if (p % 2 == 0) 1 else -1)
        java.util.Arrays.fill(s, i0 + p * len / w.length,
          i0 + (p + 1) * len / w.length, a.toShort)
      }
    }
    s
  }

  def wav(s: Array[Short]): Array[Byte] = {
    val b = ByteBuffer.allocate(44 + 2 * s.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * s.length)
      .put("WAVEfmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort)
      .putInt(SampleRate).putInt(SampleRate * 2)
      .putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(2 * s.length)
    s.foreach(b.putShort)
    b.array()
  }

  /** Writes `audio/doc_NNNNN.wav` + `text/doc_NNNNN.txt` under `dir`;
    * returns the total audio seconds. Sorted path order is index
    * order, so the pipeline's positional pairing gives doc_id = i + 1.
    */
  def write(ds: Vector[Doc], dir: Path): Double = {
    Files.createDirectories(dir.resolve("audio"))
    Files.createDirectories(dir.resolve("text"))
    ds.zipWithIndex.map { case (d, i) =>
      val s = samples(d)
      Files.write(dir.resolve(f"audio/doc_$i%05d.wav"), wav(s))
      Files.write(dir.resolve(f"text/doc_$i%05d.txt"),
        d.transcript.mkString(" ").getBytes("UTF-8"))
      s.length.toDouble / SampleRate
    }.sum
  }
}
