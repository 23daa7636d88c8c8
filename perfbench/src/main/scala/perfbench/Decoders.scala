package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import graft.multimodal.MediaPipeline
import graft.sources.{PdfSource, TarSource, WarcSource, ZipSource}

/** Single-thread throughput of graft's public byte decoders, called
  * directly on samples from the public builders (or, for the container
  * formats without one, built here) with seeded ids. */
object Decoders {
  final case class Result(metric: String, mbPerS: Double, bytes: Long, calls: Long, ok: Boolean)

  private def warc(id: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    for (i <- 0 until 40) {
      val body = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><body>page $id/$i " +
        ("lorem ipsum " * (20 + (id + i) % 50).toInt) + "</body></html>"
      out.write((s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$id-$i>\r\n" +
        s"WARC-Target-URI: http://host${id % 7}.example/p$i\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n").getBytes(US_ASCII))
    }
    out.toByteArray
  }

  private def entries(id: Long): Seq[(String, Array[Byte])] =
    (0 until 12).map(i => (s"doc$id/file$i.txt",
      (s"entry $i of $id " + ("data " * (50 + ((id * 31 + i) % 200)).toInt)).getBytes(US_ASCII)))

  private def zip(id: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    for ((n, b) <- entries(id)) { z.putNextEntry(new java.util.zip.ZipEntry(n)); z.write(b); z.closeEntry() }
    z.close()
    out.toByteArray
  }

  /** A POSIX ustar archive: 512-byte headers, octal fields, padded data. */
  private def tar(id: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    for ((n, b) <- entries(id)) {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = System.arraycopy(s.getBytes(US_ASCII), 0, h, off, s.length)
      put(0, n); put(100, "0000644\u0000"); put(108, "0000000\u0000"); put(116, "0000000\u0000")
      put(124, f"${b.length}%011o\u0000"); put(136, "00000000000\u0000"); put(156, "0")
      put(257, "ustar\u0000"); put(263, "00")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      put(148, f"${h.map(_ & 0xff).sum}%06o\u0000 ")
      out.write(h); out.write(b); out.write(new Array[Byte]((512 - b.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  private val codecs: Seq[(String, Long => Array[Byte], Array[Byte] => Boolean)] = Seq(
    ("sources.pdf", PdfSource.pdfBytes, b => PdfSource.extractPdf(b).isDefined),
    ("sources.warc", warc, b => { val (r, clean) = WarcSource.parseWarc("s.warc", b); clean && r.nonEmpty }),
    ("sources.zip", zip, b => { val (r, clean) = ZipSource.parseZip("s.zip", b); clean && r.nonEmpty }),
    ("sources.tar", tar, b => { val (r, clean) = TarSource.parseTar("s.tar", b); clean && r.nonEmpty }),
    ("multimodal.png", MediaPipeline.pixelPng, b => MediaPipeline.decodePngPixels(b).isDefined),
    ("multimodal.jpeg", MediaPipeline.pixelJpeg, b => MediaPipeline.decodeJpegCoeffs(b).isDefined),
    ("multimodal.gif", MediaPipeline.pixelGif, b => MediaPipeline.decodeGifPixels(b).isDefined),
    ("multimodal.bmp", MediaPipeline.pixelBmp, b => MediaPipeline.decodeBmpPixels(b).isDefined),
    ("multimodal.wav", MediaPipeline.pcmWav, b => MediaPipeline.decodeWavPcm(b).isDefined),
    ("multimodal.adpcm", MediaPipeline.adpcmWav, b => MediaPipeline.decodeWavAdpcm(b).isDefined),
    ("multimodal.mp3", MediaPipeline.sampleMp3, b => MediaPipeline.decodeMp3(b).isDefined),
    ("multimodal.mp4", MediaPipeline.sampleMp4, b => MediaPipeline.decodeMp4Samples(b).isDefined),
    ("multimodal.phash", MediaPipeline.phashBmp, b => MediaPipeline.decodePhash(b).isDefined))

  /** Decodes 16 seeded samples per codec once to check them, warms up for
    * `seconds`/2, then decodes them round-robin for `seconds`. */
  def run(seed: Long, seconds: Double): Seq[Result] = {
    val rnd = new scala.util.Random(seed)
    codecs.map { case (metric, build, decode) =>
      val samples = Seq.fill(16)(rnd.nextInt(10000).toLong).map(build)
      val ok = samples.forall(s => try decode(s) catch { case _: Throwable => false })
      def loop(budget: Double): (Long, Long, Double) = {
        var bytes, calls = 0L
        val t0 = System.nanoTime()
        var el = 0.0
        while (el < budget) {
          val s = samples((calls % samples.size).toInt)
          decode(s)
          bytes += s.length; calls += 1
          el = (System.nanoTime() - t0) / 1e9
        }
        (bytes, calls, el)
      }
      if (ok) loop(seconds / 2)
      val (bytes, calls, el) = if (ok) loop(seconds) else (0L, 0L, 1.0)
      Result(metric, bytes / (1024.0 * 1024.0) / el, bytes, calls, ok)
    }
  }
}
