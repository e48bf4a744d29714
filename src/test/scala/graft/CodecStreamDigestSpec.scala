package graft

import java.io.{DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{H264, H264Cabac, H264CabacInter, H265, H265Inter}

/** Pins the output of every H.26x encode entry point: the SHA-256 of the
  * encoded bytes, and of the expected frames (planes + gate sums) the
  * encoder returns, must equal the committed list in
  * `src/test/resources/codec_streams.sha256`. The encode -> decode specs
  * pass for any self-consistent bitstream; this one fails when a refactor
  * of the codecs moves a single bit. Each stream kind is encoded at the
  * parameters of its registry query (q303-q320) over ids 0..15 and both
  * `n_chars` parities. An intended bitstream change regenerates the list
  * with `sbt "Test/runMain graft.CodecStreamDigests"`. Builds no
  * SparkSession.
  */
class CodecStreamDigestSpec extends AnyFunSuite {

  test("every H.26x encoder's bytes and frames match the committed SHA-256") {
    val want = CodecStreamDigests.committed
    val got = CodecStreamDigests.current
    val diff = (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.get(k))
      .map(k => s"$k got=${got.getOrElse(k, "-")} want=${want.getOrElse(k, "-")}")
    if (diff.nonEmpty) fail(s"encoder output changed for ${diff.size} " +
      s"digest(s):\n${diff.mkString("\n")}")
  }
}

/** Computes, reads and writes the committed codec digest list: one
  * `<sha256-hex>  <stream kind>.<bytes|frames>` line per entry, sorted.
  */
object CodecStreamDigests {
  val path = Paths.get("src/test/resources/codec_streams.sha256")

  private type Enc = (Long, Long) => (Array[Byte], Vector[Product])

  /** One encoder call per stream kind, at its registry query's parameters
    * for a (doc_id, n_chars) row.
    */
  private val kinds: Seq[(String, Enc)] = {
    def hDims(id: Long, nch: Long) = H264.ConstructH.dims(id, nch)
    def qp(id: Long) = H264.ConstructH.qp(id)
    def vqp(id: Long) = H265.ConstructV.qp(id)
    def small(id: Long, nch: Long) = ((2 + id % 2).toInt, (1 + nch % 2).toInt)
    Seq(
      "h264.encode.i16x16" -> { (id, nch) => // q303
        val (w, h) = hDims(id, nch)
        H264.encode(id, w, h, H264.ConstructH.nFrames(id), qp(id)) },
      "h264.encode.i4x4" -> { (id, nch) => // q307
        val (w, h) = hDims(id, nch)
        H264.encode(id, w, h, H264.ConstructH.nFrames(id), qp(id),
          mixed = true) },
      "h264.encode.ipcm" -> { (id, nch) => // q312
        val (w, h) = small(id, nch)
        H264.encode(id, w, h, (1 + id % 2).toInt, qp(id), mixed = true,
          pcmMode = true) },
      "h264.encodeInter" -> { (id, nch) => // q309
        val (w, h) = hDims(id, nch)
        H264.encodeInter(id, w, h, H264.ConstructP.nFrames(id), qp(id)) },
      "h264.encodeBi" -> { (id, nch) => // q313
        val (w, h) = hDims(id, nch)
        H264.encodeBi(id, w, h, qp(id)) },
      "h264cabac.encode" -> { (id, nch) => // q314
        val (w, h) = small(id, nch)
        H264Cabac.encode(id, w, h, (1 + id % 2).toInt, qp(id)) },
      "h264cabacinter.encodeInter" -> { (id, nch) => // q316
        val (w, h) = hDims(id, nch)
        H264CabacInter.encodeInter(id, w, h, H264.ConstructP.nFrames(id),
          qp(id)) },
      "h264cabacinter.encodeBi.spatial" -> { (id, nch) => // q317
        val (w, h) = hDims(id, nch)
        H264CabacInter.encodeBi(id, w, h, qp(id)) },
      "h264cabacinter.encodeBi.temporal" -> { (id, nch) => // q318
        val (w, h) = hDims(id, nch)
        H264CabacInter.encodeBi(id, w, h, qp(id), spatial = false) },
      "h265.encode" -> { (id, nch) => // q315
        val (w, h) = small(id, nch)
        H265.encode(id, w, h, (1 + (id + nch) % 2).toInt, vqp(id)) },
      "h265inter.encode" -> { (id, nch) => // q319
        val (w, h) = small(id, nch)
        H265Inter.encode(id, w, h, (2 + (id + nch) % 2).toInt, vqp(id)) },
      "h265inter.encodeGop" -> { (id, nch) => // q320
        val (w, h) = small(id, nch)
        H265Inter.encodeGop(id, w, h, vqp(id)) })
  }

  private def hex(md: MessageDigest): String =
    md.digest().map("%02x".format(_)).mkString

  /** Feeds a frame's fields, in declaration order, to `out`. */
  private def writeFrame(out: DataOutputStream, fr: Product): Unit =
    fr.productIterator.foreach {
      case a: Array[Int] => out.writeInt(a.length); a.foreach(out.writeInt)
      case v: Long => out.writeLong(v)
      case v: Int => out.writeInt(v)
      case v => throw new IllegalArgumentException(s"unhashed field $v")
    }

  def current: Map[String, String] = kinds.flatMap { case (kind, enc) =>
    val bytesMd = MessageDigest.getInstance("SHA-256")
    val framesMd = MessageDigest.getInstance("SHA-256")
    val frames = new DataOutputStream(new OutputStream {
      def write(b: Int): Unit = framesMd.update(b.toByte)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        framesMd.update(b, off, len)
    })
    for (id <- 0L until 16L; nch <- Seq(id * 3 + 1, id * 3 + 2)) {
      val (bytes, expect) = enc(id, nch)
      bytesMd.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      bytesMd.update(bytes)
      frames.writeInt(expect.size)
      expect.foreach(writeFrame(frames, _))
    }
    frames.flush()
    Seq(s"$kind.bytes" -> hex(bytesMd), s"$kind.frames" -> hex(framesMd))
  }.toMap

  def committed: Map[String, String] =
    new String(Files.readAllBytes(path), UTF_8).linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(h, k) = l.split("  ", 2)
        k -> h
      }.toMap

  def main(args: Array[String]): Unit = {
    val lines = current.toSeq.sortBy(_._1).map { case (k, h) => s"$h  $k\n" }
    Files.write(path, lines.mkString.getBytes(UTF_8))
    println(s"wrote ${lines.size} codec stream digests to $path")
  }
}
