package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.Row

/** Seeded document generator shared by the three streaming workloads.
  *
  * Every message, and its expected outcome, is a pure function of
  * (seed, stream tag, index): the program only ever sees the generated
  * bytes. Texts are paragraphs of words drawn from a synthetic
  * vocabulary, joined with `\n` — the join convention of both
  * extractors (PDF content streams and DOCX paragraphs), so the text a
  * correct conversion returns is exactly [[Doc.text]].
  *
  * Mixes (fixed, stated in perfbench/README.md). They are stratified:
  * every block of documents holds the exact mix and the seed picks the
  * order inside the block, so any backlog carries the same work and
  * run-to-run spread comes from the program, not from the draw.
  *  - size, per 20 docs: 10 x 60 words, 6 x 250, 3 x 1000, 1 x 4000;
  *  - format, per 10 docs: 4 plain PDF, 3 FlateDecode PDF, 3 DOCX;
  *  - malformed, per 200 docs (2%): 3 broken bodies (a PDF cut in half,
  *    a DOCX with a wrong CRC: conversion fails on every attempt, DLQ
  *    after retries) and 1 non-numeric `fileSize` header (validation
  *    routes it to the DLQ);
  *  - planted near-duplicates: 5% of docs copy an earlier doc of
  *    >= 250 words from the previous 200 and replace one word
  *    (3-shingle Jaccard >= 0.976); an origin is never itself a copy
  *    and is copied at most once, so the planted pairs are exactly the
  *    near-duplicate pairs of the stream.
  *
  * (The remote workload's transient 503s are chosen by the stub from the
  * seed and the object key, see [[Stub.flaky]].)
  */
object Gen {

  sealed trait Outcome
  /** Converted; `processed/` holds the text. */
  case object Converted extends Outcome
  /** Conversion fails on every attempt; a DLQ report is written. */
  case object ConvertFails extends Outcome
  /** Header contract violation; a DLQ report is written. */
  case object Invalid extends Outcome

  final case class Doc(
      idx: Int, docId: Long, correlationId: String, fileName: String,
      text: String, body: Array[Byte],
      headers: Seq[(String, String)], eventTime: Timestamp,
      outcome: Outcome, dupOf: Long)

  val topic = "file-transfer-events"
  /** Event-time origin; 100 ms of event time per document, so no run
    * reaches the streaming dedup's one-hour TTL: state grows through a
    * run and no timer fires mid-phase (a phase that crossed the TTL
    * would change its work half-way).
    */
  private val epochMs = Timestamp.valueOf("2026-03-27 00:00:00").getTime

  private val syllables = {
    val cs = "bcdfghklmnprstvz"; val vs = "aeiou"
    for (c <- cs; v <- vs) yield s"$c$v"
  }

  /** 4096 distinct words of 2–4 syllables, fixed (seed-independent). */
  val vocab: Array[String] = {
    val r = new java.util.SplittableRandom(0x5eed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** A deterministic document stream: `docs(i)` depends only on
    * (seed, tag, i) and — for planted near-dups — on earlier docs of the
    * same stream, which are memoised.
    */
  final class Stream(seed: Long, tag: String) {
    private val base = mix(seed, tag.hashCode.toLong)
    private val words = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    private val dupOf = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val usedAsOrigin = scala.collection.mutable.Set.empty[Int]

    private def rng(i: Int, salt: Long) =
      new java.util.SplittableRandom(mix(base ^ salt, i.toLong))

    private def extend(i: Int): Unit = {
      val r = rng(i, 1L)
      if (r.nextDouble() < 0.05 && i >= 200) {
        val candidates = (i - 200 until i).filter(j =>
          words(j).length >= 250 && dupOf(j) < 0 && !usedAsOrigin(j))
        if (candidates.nonEmpty) {
          val j = candidates(r.nextInt(candidates.length))
          usedAsOrigin += j
          val w = words(j).clone()
          val at = r.nextInt(w.length)
          var repl = r.nextInt(vocab.length)
          while (repl == w(at)) repl = r.nextInt(vocab.length)
          w(at) = repl
          words += w; dupOf += j.toLong
          return
        }
      }
      val n = slot(i, 20, 3L, Array(60, 60, 60, 60, 60, 60, 60, 60, 60, 60,
        250, 250, 250, 250, 250, 250, 1000, 1000, 1000, 4000))
      words += Array.fill(n)(r.nextInt(vocab.length)); dupOf += -1L
    }

    /** `layout` shuffled once per block of `layout.length` documents. */
    private def slot[A](i: Int, block: Int, salt: Long, layout: Array[A]): A = {
      val r = rng(i / block, salt)
      val order = layout.clone()
      var k = order.length - 1
      while (k > 0) {
        val j = r.nextInt(k + 1)
        val t = order(k); order(k) = order(j); order(j) = t
        k -= 1
      }
      order(i % block)
    }

    private val malformedLayout: Array[Int] =
      Array.fill(196)(0) ++ Array(1, 1, 1, 2)

    def apply(i: Int): Doc = {
      while (words.length <= i) extend(words.length)
      val paragraphs =
        words(i).grouped(40).map(_.map(vocab(_)).mkString(" ")).toVector
      val text = paragraphs.mkString("\n")
      val format = slot(i, 10, 4L, Array(0, 0, 0, 0, 1, 1, 1, 2, 2, 2))
      val malformed = slot(i, 200, 5L, malformedLayout)
      val corr = f"corr-$seed%x-$tag-$i%07d"
      val (ext, ctype) =
        if (format < 2) ("pdf", "application/pdf")
        else ("docx", "application/vnd.openxmlformats-officedocument." +
          "wordprocessingml.document")
      val good =
        if (format == 2) Formats.docx(paragraphs, corruptCrc = malformed == 1)
        else Formats.pdf(paragraphs, flate = format == 1)
      val (body, outcome, sizeHeader) = malformed match {
        case 1 if format == 2 => (good, ConvertFails, None)
        case 1 => (good.take(good.length / 2), ConvertFails, None)
        case 2 => (good, Invalid, Some("12x"))
        case _ => (good, Converted, None)
      }
      val fileName = f"doc-$i%07d.$ext"
      val headers = Seq(
        "fileName" -> fileName,
        "contentType" -> ctype,
        "fileSize" -> sizeHeader.getOrElse(body.length.toString),
        "transferId" -> f"GOANYWHERE-$tag-$i%07d",
        "checksum" -> sha256Hex(body),
        "JMSCorrelationID" -> corr)
      Doc(i, i.toLong, corr, fileName, text, body, headers,
        new Timestamp(epochMs + i * 100L), outcome, dupOf(i))
    }
  }

  /** Kafka wire row (the `spark.readStream.format("kafka")` schema,
    * [[graft.ops.Envelope.kafkaSchema]]).
    */
  def kafkaRow(d: Doc, partitions: Int): Row = {
    val part = d.idx % partitions
    Row(d.correlationId.getBytes(UTF_8), d.body, topic, part,
      (d.idx / partitions).toLong, d.eventTime,
      d.headers.map { case (k, v) => Row(k, v.getBytes(UTF_8)) })
  }

  /** Minimal real-format writers: what the engine's extractors accept. */
  object Formats {
    private def esc(s: String): String =
      s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

    /** One content stream per paragraph (streams join with `\n`). */
    def pdf(paragraphs: Seq[String], flate: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
      w("%PDF-1.4\n")
      paragraphs.zipWithIndex.foreach { case (p, k) =>
        val content = s"BT /F1 12 Tf 72 712 Td (${esc(p)}) Tj ET".getBytes(ISO_8859_1)
        val data = if (flate) deflate(content) else content
        val filter = if (flate) " /Filter /FlateDecode" else ""
        w(s"${k + 1} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
        out.write(data)
        w("\nendstream\nendobj\n")
      }
      w(s"trailer\n<< /Size ${paragraphs.length + 1} >>\nstartxref\n0\n%%EOF\n")
      out.toByteArray
    }

    private def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }

    /** Single-part DOCX (`word/document.xml`, stored), one `<w:p>` per
      * paragraph. `corruptCrc` breaks the CRC the reader verifies.
      */
    def docx(paragraphs: Seq[String], corruptCrc: Boolean): Array[Byte] = {
      val xml = paragraphs.map(p => s"<w:p><w:r><w:t>$p</w:t></w:r></w:p>")
        .mkString("<w:document><w:body>", "", "</w:body></w:document>")
      val data = xml.getBytes(UTF_8)
      val out = new java.io.ByteArrayOutputStream
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def le32(v: Long): Unit = (0 until 4).foreach(i =>
        out.write(((v >> (8 * i)) & 0xff).toInt))
      val crc32 = new java.util.zip.CRC32; crc32.update(data)
      val crc = if (corruptCrc) crc32.getValue ^ 0x1L else crc32.getValue
      val name = "word/document.xml".getBytes(UTF_8)
      out.write(Array[Byte](0x50, 0x4b, 0x03, 0x04)); le16(20); le16(0)
      le16(0); le16(0); le16(0); le32(crc)
      le32(data.length.toLong); le32(data.length.toLong)
      le16(name.length); le16(0); out.write(name); out.write(data)
      val cdOff = out.size
      out.write(Array[Byte](0x50, 0x4b, 0x01, 0x02)); le16(20); le16(20)
      le16(0); le16(0); le16(0); le16(0); le32(crc)
      le32(data.length.toLong); le32(data.length.toLong)
      le16(name.length); le16(0); le16(0); le16(0); le16(0); le32(0L)
      le32(0L); out.write(name)
      val cdLen = out.size - cdOff
      out.write(Array[Byte](0x50, 0x4b, 0x05, 0x06)); le16(0); le16(0)
      le16(1); le16(1); le32(cdLen.toLong); le32(cdOff.toLong); le16(0)
      out.toByteArray
    }
  }
}
