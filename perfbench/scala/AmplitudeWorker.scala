package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.asr.AmplitudeRecognizer
import graft.audio.Pcm

/** ASR worker for `graft.asr.ProcessWordRecognizer`, speaking the
  * protocol of `docs/asr_worker_fasterwhisper.py`:
  * {{{
  *   -> {"key": "<id>", "bytes": N}\n
  *   -> N WAV bytes
  *   <- {"words":[{"word":…,"start":s,"end":e,"score":c},…]}\n
  * }}}
  * Recognition is `AmplitudeRecognizer`, so replies equal the
  * in-process recognizer's words. With `--stats <file>`, a request
  * keyed [[StatsKey]] makes the worker write its cumulative request
  * count, busy seconds (decode + recognize + reply encoding) and CPU
  * seconds there, then reply with no words; that request is not
  * counted, so a caller takes before/after deltas without a restart.
  *
  *   java -cp <classpath> perfbench.AmplitudeWorker [--stats <file>]
  */
object AmplitudeWorker {
  val StatsKey = "perfbench:stats"

  def main(args: Array[String]): Unit = {
    val stats = args.sliding(2).collectFirst { case Array("--stats", p) => p }
    val in = new BufferedInputStream(System.in, 1 << 16)
    val out = new BufferedOutputStream(System.out, 1 << 16)
    val mapper = new ObjectMapper()
    val rec = AmplitudeRecognizer()
    var requests = 0L
    var busyNs = 0L
    val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var header = readLine(in)
    while (header != null) {
      val req = mapper.readTree(header)
      val wav = in.readNBytes(req.get("bytes").asInt)
      val key = req.get("key").asText
      val t0 = System.nanoTime()
      val words = mapper.createArrayNode()
      if (key == StatsKey) stats.foreach(p => Files.writeString(Paths.get(p),
        s"""{"requests":$requests,"busy_s":${busyNs / 1e9},""" +
          s""""cpu_s":${cpuBean.getProcessCpuTime / 1e9}}"""))
      else rec.transcribe(key, pcm16(wav)).foreach { w =>
        words.addObject().put("word", w.text).put("start", w.start)
          .put("end", w.end).put("score", w.confidence)
      }
      val reply = mapper.createObjectNode()
      reply.set[com.fasterxml.jackson.databind.JsonNode]("words", words)
      val bytes = mapper.writeValueAsBytes(reply)
      if (key != StatsKey) { busyNs += System.nanoTime() - t0; requests += 1 }
      out.write(bytes); out.write('\n'); out.flush()
      header = readLine(in)
    }
  }

  /** 16-bit mono PCM from a RIFF/WAV container: walks the chunks for
    * `fmt ` (sample rate) and `data`.
    */
  private def pcm16(wav: Array[Byte]): Pcm = {
    val b = java.nio.ByteBuffer.wrap(wav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0
    while (pos + 8 <= wav.length) {
      val id = new String(wav, pos, 4, StandardCharsets.US_ASCII)
      val len = b.getInt(pos + 4)
      if (id == "fmt ") {
        require(b.getShort(pos + 8) == 1 && b.getShort(pos + 10) == 1 &&
          b.getShort(pos + 22) == 16, "worker reads 16-bit mono PCM only")
        rate = b.getInt(pos + 12)
      } else if (id == "data")
        return Pcm(java.util.Arrays.copyOfRange(wav, pos + 8, pos + 8 + len), rate)
      pos += 8 + len + (len & 1)
    }
    sys.error("wav without a data chunk")
  }

  private def readLine(in: BufferedInputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { b.write(c); c = in.read() }
    b.toString(StandardCharsets.UTF_8)
  }
}
