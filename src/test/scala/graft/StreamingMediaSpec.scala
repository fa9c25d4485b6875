package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusGen, MediaJob}
import graft.streaming.StreamingExtract

class StreamingMediaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-sm").toString

  test("streaming ingestion extracts incrementally with exactly-once per file") {
    import spark.implicits._
    val base = tmp()
    val docsPath = s"$base/docs"
    val outPath = s"$base/records"
    val ckpt = s"$base/ckpt"

    // batch 1 lands
    CorpusGen.generate(spark, 40, 2).write.mode("append").parquet(docsPath)
    val q1 = StreamingExtract.start(spark, docsPath, outPath, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(outPath).count()
    assert(n1 == 40L)

    // batch 2 lands; restart processes ONLY the new files
    CorpusGen.generate(spark, 25, 2, seed = 43L).write.mode("append").parquet(docsPath)
    val q2 = StreamingExtract.start(spark, docsPath, outPath, ckpt)
    q2.awaitTermination()
    val out = spark.read.parquet(outPath)
    assert(out.count() == 65L, "restart must process only newly landed files")
    assert(out.select("doc_id").distinct().count() == 65L)
  }

  // ---------------------------------------------------------------------
  // Independent test-side encoders, written from the public format specs.
  // They build the valid seed files that the mutation fuzz below corrupts.

  // PNG encoder: Deflater + CRC32 over hand-assembled chunks, with the
  // FORWARD row filters implemented here.
  private def be32(v: Int) =
    Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(crc.getValue.toInt)
  }
  private def encodePng(w: Int, h: Int, colorType: Int, raw: Array[Byte],
                        bitDepth: Int = 8, interlace: Int = 0,
                        palette: Array[Byte] = null): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val ihdr = be32(w) ++ be32(h) ++
      Array[Byte](bitDepth.toByte, colorType.toByte, 0, 0, interlace.toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 128)
    val n = d.deflate(buf)
    d.end()
    sig ++ pngChunk("IHDR", ihdr) ++
      (if (palette != null) pngChunk("PLTE", palette) else Array.empty[Byte]) ++
      pngChunk("IDAT", buf.take(n)) ++ pngChunk("IEND", Array.empty[Byte])
  }

  // ---------------------------------------------------- independent JPEG
  // Forward baseline-JPEG encoder written HERE, from ITU T.81 Annex A/C/F
  // directly (FDCT + quantize + canonical Huffman + bit stuffing).

  private def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)

  /** Canonical Huffman: every symbol at code length 8 (valid while
    * n ≤ 255; the all-ones byte stays unused as T.81 requires). */
  private final class TestHuff(symbols: Array[Int]) {
    require(symbols.length <= 255)
    val codeOf: Map[Int, (Int, Int)] =
      symbols.zipWithIndex.map { case (s, i) => s -> (i, 8) }.toMap
    def dht(tc: Int, th: Int): Array[Byte] = {
      val counts = new Array[Byte](16); counts(7) = symbols.length.toByte
      Array[Byte](((tc << 4) | th).toByte) ++ counts ++ symbols.map(_.toByte)
    }
  }

  private final class TestBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = while (n != 0) put(1, 1) // pad with 1-bits
    def bytes: Array[Byte] = out.toByteArray
  }

  private def fdctQuant(block: Array[Int], q: Array[Int]): Array[Int] = {
    // T.81 A.3.3 forward DCT on level-shifted samples, then quantize;
    // output in ZIGZAG order to mirror the stream layout
    val zz = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val f = new Array[Int](64)
    for (v <- 0 until 8; u <- 0 until 8) {
      var s = 0.0
      for (y <- 0 until 8; x <- 0 until 8)
        s += (block(y * 8 + x) - 128) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
      val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
      f(v * 8 + u) = math.round(cu * cv / 4 * s / q(zzIndexOf(zz, v * 8 + u))).toInt
    }
    Array.tabulate(64)(k => f(zz(k)))
  }
  private def zzIndexOf(zz: Array[Int], natural: Int): Int = zz.indexOf(natural)

  /** Encode one component's 8x8 coefficient block (zigzag order). */
  private def encodeBlock(bw: TestBitWriter, coefZz: Array[Int], dcPred: Int,
                          dc: TestHuff, ac: TestHuff): Int = {
    def mag(v: Int): (Int, Int) = { // (size, value bits)
      val a = math.abs(v)
      var s = 0
      while ((a >> s) != 0) s += 1
      (s, if (v >= 0) v else v + (1 << s) - 1)
    }
    val (ds, dv) = mag(coefZz(0) - dcPred)
    val (dcode, dlen) = dc.codeOf(ds)
    bw.put(dcode, dlen); bw.put(dv, ds)
    var k = 1
    var run = 0
    while (k < 64) {
      if (coefZz(k) == 0) run += 1
      else {
        while (run > 15) {
          val (c, l) = ac.codeOf(0xf0); bw.put(c, l); run -= 16 // ZRL
        }
        val (s, v) = mag(coefZz(k))
        val (c, l) = ac.codeOf((run << 4) | s)
        bw.put(c, l); bw.put(v, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (c, l) = ac.codeOf(0x00); bw.put(c, l) } // EOB
    coefZz(0)
  }

  /** Standalone grayscale baseline JPEG of `px` (w×h, row-major 0-255),
    * optional restart interval. Returns (bytes, expected decoded pixels)
    * where the expectation is THIS encoder's own dequantize+IDCT replay —
    * independent double math, not the decoder's. */
  private def encodeGrayJpeg(w: Int, h: Int, px: Array[Int], q: Array[Int],
                             dri: Int = 0): (Array[Byte], Array[Int]) = {
    val dcT = new TestHuff((0 to 11).toArray)
    val acT = new TestHuff(
      (0x00 +: 0xf0 +: (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be16(body.length + 2)); out.write(body)
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xdb, Array[Byte](0x00) ++ q.map(_.toByte))                 // DQT id 0
    seg(0xc0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0))                                   // SOF0 gray
    seg(0xc4, dcT.dht(0, 0)); seg(0xc4, acT.dht(1, 0))              // DHT
    if (dri > 0) seg(0xdd, be16(dri))                               // DRI
    seg(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))                    // SOS
    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    val expect = new Array[Int](w * h)
    var bw = new TestBitWriter
    var dcPred = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        bw.flush(); out.write(bw.bytes)
        out.write(0xff); out.write(0xd0 + ((mcu / dri - 1) % 8)) // RSTn
        bw = new TestBitWriter; dcPred = 0
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      // edge blocks replicate the last row/col (standard practice)
      val block = Array.tabulate(64) { i =>
        val x = math.min(w - 1, mx * 8 + i % 8)
        val y = math.min(h - 1, my * 8 + i / 8)
        px(y * w + x)
      }
      val coefZz = fdctQuant(block, q)
      dcPred = encodeBlock(bw, coefZz, dcPred, dcT, acT)
      // expectation: dequantize + plain-double IDCT + shift/clamp
      for (yy <- 0 until 8; xx <- 0 until 8) {
        val gx = mx * 8 + xx; val gy = my * 8 + yy
        if (gx < w && gy < h) {
          var s = 0.0
          for (v <- 0 until 8; u <- 0 until 8) {
            val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
            val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
            val zz = fdctZz
            s += cu * cv / 4 * coefZz(zz.indexOf(v * 8 + u)) * q(zz.indexOf(v * 8 + u)) *
              math.cos((2 * xx + 1) * u * math.Pi / 16) *
              math.cos((2 * yy + 1) * v * math.Pi / 16)
          }
          expect(gy * w + gx) = math.max(0, math.min(255, math.round(s + 128).toInt))
        }
      }
      mcu += 1
    }
    bw.flush(); out.write(bw.bytes)
    out.write(0xff); out.write(0xd9) // EOI
    (out.toByteArray, expect)
  }
  private val fdctZz = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ------------------------------------------- independent PROGRESSIVE JPEG
  // Forward progressive encoder written HERE from T.81 Annex G directly
  // (spectral selection, successive approximation, EOB runs, refinement
  // correction-bit buffering).

  private def jpegMag(v: Int): (Int, Int) = { // (size, value bits)
    val a = math.abs(v)
    var s = 0
    while ((a >> s) != 0) s += 1
    (s, if (v >= 0) v else v + (1 << s) - 1)
  }

  /** Grayscale progressive JPEG over the scan script `scans` of
    * (Ss, Se, Ah, Al). With `chroma = true`, a 3-component frame whose
    * Cb/Cr planes are constant 128 (all-zero coefficients): the DC scan
    * becomes interleaved (ns=3) and all-zero chroma AC scans are
    * appended — luma pixels are unchanged either way. */
  private def encodeGrayProgressiveJpeg(w: Int, h: Int, px: Array[Int], q: Array[Int],
                                        scans: Seq[(Int, Int, Int, Int)],
                                        chroma: Boolean = false): Array[Byte] = {
    val dcT = new TestHuff((0 to 11).toArray)
    val acT = new TestHuff(((0 to 14).map(r => r << 4) ++ Seq(0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    val blocks = Array.tabulate(mcusX * mcusY) { mcu =>
      val mx = mcu % mcusX; val my = mcu / mcusX
      fdctQuant(Array.tabulate(64) { i =>
        val x = math.min(w - 1, mx * 8 + i % 8)
        val y = math.min(h - 1, my * 8 + i / 8)
        px(y * w + x)
      }, q)
    }
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be16(body.length + 2)); out.write(body)
    }
    out.write(0xff); out.write(0xd8)
    seg(0xdb, Array[Byte](0x00) ++ q.map(_.toByte))
    val ncomp = if (chroma) 3 else 1
    seg(0xc2, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](ncomp.toByte) ++
      Array.tabulate(ncomp * 3)(i => i % 3 match {
        case 0 => (i / 3 + 1).toByte // component id 1..n
        case 1 => 0x11.toByte        // sampling 1x1
        case 2 => 0.toByte           // quant table 0
      }))
    seg(0xc4, dcT.dht(0, 0)); seg(0xc4, acT.dht(1, 0))
    for ((ss, se, ah, al) <- scans) {
      val bw = new TestBitWriter
      if (ss == 0 && chroma) {
        // interleaved DC scan over all three components (sampling 1x1:
        // one block per component per MCU; chroma DC is always 0)
        seg(0xda, Array[Byte](3, 1, 0, 2, 0, 3, 0,
          ss.toByte, se.toByte, ((ah << 4) | al).toByte))
        val pred = new Array[Int](3)
        for (blk <- blocks; c <- 0 until 3) {
          val dc = if (c == 0) blk(0) else 0
          if (ah == 0) {
            val v = dc >> al
            val (s, bits) = jpegMag(v - pred(c)); pred(c) = v
            val (code, len) = dcT.codeOf(s)
            bw.put(code, len); bw.put(bits, s)
          } else bw.put((dc >> al) & 1, 1)
        }
      } else {
        seg(0xda, Array[Byte](1, 1, 0,
          ss.toByte, se.toByte, ((ah << 4) | al).toByte))
        if (ss == 0) {
          var pred = 0
          for (blk <- blocks) {
            if (ah == 0) {
              val v = blk(0) >> al // arithmetic shift: two's-complement plane
              val (s, bits) = jpegMag(v - pred); pred = v
              val (code, len) = dcT.codeOf(s)
              bw.put(code, len); bw.put(bits, s)
            } else bw.put((blk(0) >> al) & 1, 1)
          }
        } else if (ah == 0) {
          // AC first pass at bit plane Al, with cross-block EOB runs
          var eobRun = 0
          def flushEob(): Unit = if (eobRun > 0) {
            var n = 0
            while ((1 << (n + 1)) <= eobRun) n += 1
            val (code, len) = acT.codeOf(n << 4)
            bw.put(code, len)
            if (n > 0) bw.put(eobRun - (1 << n), n)
            eobRun = 0
          }
          for (blk <- blocks) {
            // point transform is magnitude shift (toward zero), NOT >>
            val vals = (ss to se).map { k =>
              val c = blk(k); val m = math.abs(c) >> al
              if (c < 0) -m else m
            }
            if (vals.forall(_ == 0)) {
              eobRun += 1
              if (eobRun == 32767) flushEob()
            } else {
              flushEob()
              var run = 0
              var last = -1
              for ((v, idx) <- vals.zipWithIndex; if v != 0) {
                run = idx - last - 1; last = idx
                while (run > 15) {
                  val (c0, l0) = acT.codeOf(0xf0); bw.put(c0, l0); run -= 16
                }
                val (s, bits) = jpegMag(v)
                val (code, len) = acT.codeOf((run << 4) | s)
                bw.put(code, len); bw.put(bits, s)
              }
              if (last < vals.length - 1) eobRun += 1 // trailing zeros
            }
          }
          flushEob()
        } else {
          // AC refinement (G.1.2.3): correction bits for history-nonzero
          // coefficients ride each symbol's span in coefficient order;
          // EOB-run tails buffer their corrections until the run flushes
          var eobRun = 0
          val eobBits = scala.collection.mutable.ArrayBuffer[Int]()
          def flushEob(): Unit = if (eobRun > 0) {
            var n = 0
            while ((1 << (n + 1)) <= eobRun) n += 1
            val (code, len) = acT.codeOf(n << 4)
            bw.put(code, len)
            if (n > 0) bw.put(eobRun - (1 << n), n)
            eobBits.foreach(bit => bw.put(bit, 1))
            eobBits.clear(); eobRun = 0
          }
          for (blk <- blocks) {
            // tokens since the last emitted symbol: -1 = zero-history zero,
            // 0/1 = correction bit of a history-nonzero coefficient
            val toks = scala.collection.mutable.ArrayBuffer[Int]()
            for (k <- ss to se) {
              val c = blk(k); val ab = math.abs(c) >> al
              if (ab == 0) toks += -1
              else if (ab > 1) toks += (ab & 1)
              else { // newly significant at this bit plane
                flushEob()
                var zeros = toks.count(_ == -1)
                while (zeros > 15) { // ZRL spans exactly 16 zero-history slots
                  val (c0, l0) = acT.codeOf(0xf0); bw.put(c0, l0)
                  var z = 0
                  while (z < 16) {
                    val t = toks.remove(0)
                    if (t == -1) z += 1 else bw.put(t, 1)
                  }
                  zeros -= 16
                }
                val (code, len) = acT.codeOf((zeros << 4) | 1)
                bw.put(code, len)
                bw.put(if (c >= 0) 1 else 0, 1) // sign
                toks.foreach(t => if (t != -1) bw.put(t, 1))
                toks.clear()
              }
            }
            if (toks.nonEmpty) { // trailing zeros/corrections → EOB run
              eobRun += 1
              toks.foreach(t => if (t != -1) eobBits += t)
              if (eobRun == 32767) flushEob()
            }
          }
          flushEob()
        }
      }
      bw.flush(); out.write(bw.bytes)
    }
    if (chroma) {
      // all-zero chroma AC scans (one EOB run each) — the decoder must
      // SKIP these byte-wise without touching the luma plane
      for (cid <- 2 to 3) {
        seg(0xda, Array[Byte](1, cid.toByte, 0, 1, 63, 0))
        val bw = new TestBitWriter
        var run = blocks.length
        while (run > 0) { // EOBn covers ≤ 32767 blocks
          val chunk = math.min(run, 32767)
          var n = 0
          while ((1 << (n + 1)) <= chunk) n += 1
          val (code, len) = acT.codeOf(n << 4)
          bw.put(code, len)
          if (n > 0) bw.put(chunk - (1 << n), n)
          run -= chunk
        }
        bw.flush(); out.write(bw.bytes)
      }
    }
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  // ------------------------------------------ independent WAV codec side
  private def wavLe32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def wavLe16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  /** WAV container with an arbitrary format code; `extensible` wraps the
    * code in WAVE_FORMAT_EXTENSIBLE (0xFFFE + SubFormat GUID). */
  private def wavFile(fmtCode: Int, chans: Int, rate: Int, bits: Int,
                      blockAlign: Int, data: Array[Byte],
                      extensible: Boolean = false): Array[Byte] = {
    val fmtBody =
      if (!extensible)
        wavLe16(fmtCode) ++ wavLe16(chans) ++ wavLe32(rate) ++
          wavLe32(rate * blockAlign) ++ wavLe16(blockAlign) ++ wavLe16(bits)
      else // 16 base + cbSize 22: validBits, channelMask, SubFormat GUID
        wavLe16(0xfffe) ++ wavLe16(chans) ++ wavLe32(rate) ++
          wavLe32(rate * blockAlign) ++ wavLe16(blockAlign) ++ wavLe16(bits) ++
          wavLe16(22) ++ wavLe16(bits) ++ wavLe32(0) ++
          wavLe16(fmtCode) ++ wavLe16(0) ++ Array.fill[Byte](12)(0)
    "RIFF".getBytes ++ wavLe32(4 + 8 + fmtBody.length + 8 + data.length) ++
      "WAVE".getBytes ++ "fmt ".getBytes ++ wavLe32(fmtBody.length) ++ fmtBody ++
      "data".getBytes ++ wavLe32(data.length) ++ data
  }

  test("media feature extraction: schema, determinism, doc join") {
    import spark.implicits._
    val docs = CorpusGen.generate(spark, 300, 4).toDF()
    val media = MediaJob.synthesizeFromDocs(spark, docs)
    val nMedia = media.count()
    assert(nMedia > 0, "corpus should interleave media spans")
    assert(media.columns.toSet == Set("media_ref", "doc_id", "media_type", "bytes", "meta"))

    val feats = MediaJob.extractFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length == nMedia)
    assert(rows.forall(_.feature.length == 16))
    assert(rows.forall(r => r.byte_len > 0))
    // determinism: same input → same features
    val again = MediaJob.extractFeatures(spark, media).collect()
      .map(f => f.media_ref -> f.feature.toSeq).toMap
    assert(rows.forall(f => again(f.media_ref) == f.feature.toSeq))
    // media_type dispatch reaches all three stubs
    assert(rows.map(_.media_type).toSet.subsetOf(Set("image", "audio", "video")))
    // exact fold-tier output, one row per media type (q_media_features
    // dumps the dims but not the feature, so these pin both)
    val byRef = rows.map(r => r.media_ref -> r).toMap
    def pin(ref: String, mType: String, dims: (Int, Int, Int), feat: Array[Float]): Unit = {
      val r = byRef(ref)
      assert(r.media_type == mType)
      assert((r.dim1, r.dim2, r.dim3) == dims, s"$ref dims")
      assert(r.feature.sameElements(feat), s"$ref feature: ${r.feature.toSeq}")
    }
    pin("img://DCCJ000168_2020_140/3", "image", (549, 216, 3), Array(0.39803922f,
      -0.2647059f, 0.029411793f, -0.31176472f, -0.3509804f, 0.39411765f,
      0.23725492f, -0.28431374f, 0.4019608f, 0.11176473f, -0.049019605f,
      -0.31960785f, -0.22941175f, 0.03333336f, 0.44509804f, -0.13137254f))
    pin("img://DCCJ000138_2020_76/1", "audio", (859, 857, 1), Array(0.39803922f,
      0.11176473f, -0.049019605f, 0.30784315f, -0.2764706f, -0.096078426f,
      -0.327451f, -0.22941175f, 0.28431374f, -0.2764706f, 0.029411793f,
      -0.31176472f, 0.025490224f, -0.31176472f, -0.099999994f, 0.4254902f))
    pin("img://DCCJ000168_2020_140/2", "video", (1061, 810, 24), Array(0.39803922f,
      -0.013725489f, 0.18627453f, 0.33529413f, 0.22941178f, -0.40980393f,
      0.009803951f, -0.06078431f, -0.44509804f, 0.38235295f, -0.39019608f,
      -0.23725489f, 0.03333336f, -0.18235293f, 0.041176498f, 0.44509804f))

    val joined = MediaJob.joinFeaturesToDocs(docs, feats)
    assert(joined.count() == nMedia)
    assert(joined.filter(col("feature").isNull).count() == 0)
  }

  test("media resize: aspect-preserving geometry, never upscales, 4-dim thumb") {
    import spark.implicits._
    val docs = graft.pipeline.CorpusGen.generate(spark, 300, 4).toDF()
    val media = graft.pipeline.MediaJob.synthesizeFromDocs(spark, docs)
    val features = graft.pipeline.MediaJob.extractFeatures(spark, media)
    val resized = graft.pipeline.MediaJob.resizeImages(spark, features, 256, 256).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(r.out_w <= 256 && r.out_h <= 256)
      assert(r.out_w <= r.src_w && r.out_h <= r.src_h, "never upscale")
      // aspect preserved within rounding
      val srcAspect = r.src_w.toDouble / r.src_h
      val outAspect = r.out_w.toDouble / r.out_h
      assert(math.abs(srcAspect - outAspect) / srcAspect < 0.05,
        s"aspect drift: $srcAspect vs $outAspect")
      assert(r.thumb.length == 4)
    }
    // exact-fit geometry checks on the pure function
    assert(graft.pipeline.MediaJob.fitWithin(1024, 512, 256, 256) == (256, 128))
    assert(graft.pipeline.MediaJob.fitWithin(100, 100, 256, 256) == (100, 100))
    assert(graft.pipeline.MediaJob.fitWithin(512, 1024, 256, 256) == (128, 256))
  }

  test("video frame sampling: every-Nth fan-out bounded by the frame count") {
    import spark.implicits._
    val docs = graft.pipeline.CorpusGen.generate(spark, 300, 4).toDF()
    val media = graft.pipeline.MediaJob.synthesizeFromDocs(spark, docs)
    val features = graft.pipeline.MediaJob.extractFeatures(spark, media)
    val videos = features.filter(_.media_type == "video").collect()
    assume(videos.nonEmpty)
    val frames = graft.pipeline.MediaJob.sampleFrames(spark, features, everyNth = 6)
      .collect().groupBy(_.media_ref)
    videos.foreach { v =>
      val expect = (0 until v.dim3 by 6).toSeq
      val got = frames(v.media_ref).map(_.frame_idx).toSeq.sorted
      assert(got == expect, s"${v.media_ref}: $got vs $expect")
      frames(v.media_ref).foreach(f => assert(f.frame_feature.length == 16))
    }
  }

  /** Independent test-side AVI writer (RIFF/AVI spec): hdrl LIST with the
    * 56-byte avih main header + a strl LIST, then a movi LIST of '00dc'
    * frame chunks (word-aligned). `declared` overrides dwTotalFrames to
    * exercise header/chunk-count disagreement. */
  private def encodeAvi(w: Int, h: Int, frames: Seq[Array[Byte]],
                        declared: Int = -1): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] =
        if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val avih = chunk("avih",
      le32(33366) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(if (declared >= 0) declared else frames.length) ++
        le32(0) ++ le32(1) ++ le32(0) ++
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill[Byte](48)(0))
    val strf = chunk("strf", Array.fill[Byte](40)(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // Independent ISO-BMFF (MP4) assembler: big-endian [size:u32][4cc][body]
  // boxes built bottom-up per ISO/IEC 14496-12.
  private def isoBox(typ: String, body: Array[Byte]): Array[Byte] =
    be32(body.length + 8) ++ typ.getBytes("US-ASCII") ++ body
  private def mp4Tkhd(w: Int, h: Int, version: Int): Array[Byte] = {
    val timeFields = if (version == 1) 32 else 20 // creation/modification/id/reserved/duration
    isoBox("tkhd", Array[Byte](version.toByte, 0, 0, 0) ++
      Array.fill[Byte](timeFields)(0) ++
      Array.fill[Byte](8)(0) ++  // reserved
      Array.fill[Byte](8)(0) ++  // layer / alternate_group / volume / reserved
      Array.fill[Byte](36)(0) ++ // unity matrix (zeros fine: probe ignores it)
      be32(w << 16) ++ be32(h << 16)) // 16.16 fixed presentation size
  }
  private def mp4Trak(w: Int, h: Int, frames: Int, handler: String,
                      tkhdVersion: Int = 0): Array[Byte] = {
    val hdlr = isoBox("hdlr",
      be32(0) ++ be32(0) ++ handler.getBytes("US-ASCII") ++ Array.fill[Byte](12)(0))
    val stsz = isoBox("stsz", be32(0) ++ be32(0) ++ be32(frames))
    val mdia = isoBox("mdia", hdlr ++ isoBox("minf", isoBox("stbl", stsz)))
    isoBox("trak", mp4Tkhd(w, h, tkhdVersion) ++ mdia)
  }
  private def encodeMp4(traks: Array[Byte]*): Array[Byte] =
    isoBox("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2".getBytes("US-ASCII")) ++
      isoBox("moov", traks.toArray.flatten) ++
      isoBox("mdat", Array.fill[Byte](48)(0x5a)) // opaque codec payload

  // Independent EBML/Matroska assembler — a bottom-up derivation of
  // RFC 8794 + the public Matroska element registry.
  private def ebmlVintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (v >= (1L << (7 * n)) - 1) n += 1 // all-ones is reserved (unknown size)
    val out = new Array[Byte](n)
    var x = v | (1L << (7 * n))
    var j = n - 1
    while (j >= 0) { out(j) = (x & 0xff).toByte; x >>>= 8; j -= 1 }
    out
  }
  private def beBytes(v: Long): Array[Byte] = {
    var n = 1
    while ((v >>> (8 * n)) != 0) n += 1
    val out = new Array[Byte](n)
    var x = v
    var j = n - 1
    while (j >= 0) { out(j) = (x & 0xff).toByte; x >>>= 8; j -= 1 }
    out
  }
  /** One EBML element: raw marker-included id bytes ++ size vint ++ body. */
  private def ebmlEl(id: Long, body: Array[Byte]): Array[Byte] =
    beBytes(id) ++ ebmlVintBytes(body.length.toLong) ++ body
  private def mkvTrackEntry(num: Long, typ: Long, w: Int, h: Int): Array[Byte] =
    ebmlEl(0xAEL,
      ebmlEl(0xD7L, beBytes(num)) ++ ebmlEl(0x83L, beBytes(typ)) ++
        (if (w > 0) ebmlEl(0xE0L,
          ebmlEl(0xB0L, beBytes(w)) ++ ebmlEl(0xBAL, beBytes(h)))
         else Array.empty[Byte]))
  private def mkvSimpleBlock(track: Long): Array[Byte] =
    ebmlEl(0xA3L, ebmlVintBytes(track) ++
      Array[Byte](0, 0, 0) ++ Array.fill[Byte](6)(0x42)) // ts+flags+payload
  private def encodeMkv(tracks: Array[Byte], clusters: Array[Byte]*): Array[Byte] =
    ebmlEl(0x1A45DFA3L, ebmlEl(0x4282L, "webm".getBytes("US-ASCII"))) ++
      ebmlEl(0x18538067L,
        ebmlEl(0x1654AE6BL, tracks) ++ clusters.toArray.flatten)

  // ---------------------------------------------------------------------
  // Independent GIF encoder: its own LZW COMPRESSOR (hash-chained, clear-
  // on-full, standard non-early code-width bump), logical screen + GCE +
  // image descriptor assembly, and encoder-side interlace row reordering —
  // a separate derivation of the GIF89a spec.
  private def gifLzwCompress(indices: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var codeSize = minCode + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += codeSize
      while (nbits >= 8) { out.write((cur & 0xff).toInt); cur >>= 8; nbits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = eoi + 1
    emit(clear)
    var prev = -1
    for (s <- indices) {
      if (prev == -1) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          if (nextCode < 4096) {
            dict((prev, s)) = nextCode; nextCode += 1
            // standard (non-early) bump: the decoder widens after its dict
            // reaches 2^codeSize, which is nextCode - 1 on this side
            if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else {
            emit(clear)
            dict.clear(); nextCode = eoi + 1; codeSize = minCode + 1
          }
          prev = s
      }
    }
    if (prev != -1) emit(prev)
    emit(eoi)
    if (nbits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }

  private def gifLe16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  private case class GifFrame(left: Int, top: Int, w: Int, h: Int,
                              indices: Array[Int], interlace: Boolean = false,
                              lct: Array[Byte] = null, transparent: Int = -1,
                              disposal: Int = 0)

  private def gifCtBits(ct: Array[Byte]): Int = {
    // color table size field: 2^(bits+1) entries
    var bits = 0
    while ((2 << bits) < ct.length / 3) bits += 1
    bits
  }

  private def encodeGif(sw: Int, sh: Int, gct: Array[Byte], bg: Int,
                        frames: Seq[GifFrame],
                        version: String = "89a"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(("GIF" + version).getBytes("US-ASCII"))
    out.write(gifLe16(sw)); out.write(gifLe16(sh))
    out.write(if (gct != null) 0x80 | gifCtBits(gct) else 0)
    out.write(bg); out.write(0)
    if (gct != null) out.write(gct)
    for (f <- frames) {
      if (f.transparent >= 0 || f.disposal > 0) {
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write((f.disposal << 2) | (if (f.transparent >= 0) 1 else 0))
        out.write(gifLe16(0))
        out.write(if (f.transparent >= 0) f.transparent else 0)
        out.write(0)
      }
      out.write(0x2c)
      out.write(gifLe16(f.left)); out.write(gifLe16(f.top))
      out.write(gifLe16(f.w)); out.write(gifLe16(f.h))
      out.write((if (f.lct != null) 0x80 | gifCtBits(f.lct) else 0) |
        (if (f.interlace) 0x40 else 0))
      if (f.lct != null) out.write(f.lct)
      val palEntries = (if (f.lct != null) f.lct.length else gct.length) / 3
      var minCode = 2
      while ((1 << minCode) < palEntries) minCode += 1
      out.write(minCode)
      // interlace: the FILE stores rows in 4-pass order (8/8, 8/8+4,
      // 4/2+2, 2/1+1) — reorder here so the decoder must undo it
      val seq =
        if (!f.interlace) f.indices
        else {
          val rows = Seq(0 -> 8, 4 -> 8, 2 -> 4, 1 -> 2).flatMap {
            case (start, step) => start until f.h by step
          }
          rows.flatMap(y => (0 until f.w).map(x => f.indices(y * f.w + x))).toArray
        }
      val lzw = gifLzwCompress(seq, minCode)
      var p = 0
      while (p < lzw.length) {
        val n = math.min(255, lzw.length - p)
        out.write(n); out.write(lzw, p, n)
        p += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Independent BMP assembler: hand-built file + INFOHEADER (or CORE
  // header), palette quads, optional BITFIELDS masks, and its own RLE8/
  // RLE4 run encoder — a separate derivation of the public DIB format.
  private def bmpLe32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def encodeBmp(w: Int, h: Int, bpp: Int, pixelData: Array[Byte],
                        palette: Array[Byte] = null, comp: Int = 0,
                        masks: Array[Int] = null,
                        topDown: Boolean = false): Array[Byte] = {
    val palBytes = if (palette == null) Array.empty[Byte] else palette // BGRA quads
    val maskBytes =
      if (masks == null) Array.empty[Byte] else masks.flatMap(bmpLe32)
    val dataOff = 14 + 40 + maskBytes.length + palBytes.length
    "BM".getBytes("US-ASCII") ++ bmpLe32(dataOff + pixelData.length) ++
      bmpLe32(0) ++ bmpLe32(dataOff) ++
      bmpLe32(40) ++ bmpLe32(w) ++ bmpLe32(if (topDown) -h else h) ++
      Array[Byte](1, 0, bpp.toByte, 0) ++ bmpLe32(comp) ++
      bmpLe32(pixelData.length) ++ bmpLe32(2835) ++ bmpLe32(2835) ++
      bmpLe32(if (palette == null) 0 else palette.length / 4) ++ bmpLe32(0) ++
      maskBytes ++ palBytes ++ pixelData
  }

  // ---------------------------------------------------------------------
  // Independent MP3 frame assembler and Ogg page assembler.
  private def mp3Frame(verBits: Int, layerBits: Int, brIdx: Int, srIdx: Int,
                       padding: Int, mode: Int, kbps: Int, sr: Int,
                       samples: Int): Array[Byte] = {
    val len =
      if (layerBits == 3) (12 * kbps * 1000 / sr + padding) * 4 // Layer I
      else samples / 8 * kbps * 1000 / sr + padding
    val f = new Array[Byte](len)
    f(0) = 0xff.toByte
    f(1) = (0xe0 | (verBits << 3) | (layerBits << 1) | 1).toByte // no CRC
    f(2) = ((brIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
    f(3) = (mode << 6).toByte
    f
  }

  private def oggPage(granule: Long, serial: Int, seq: Int,
                      body: Array[Byte], headerType: Int = 0): Array[Byte] = {
    require(body.length < 255 * 255)
    val segs =
      if (body.isEmpty) Array[Byte](0)
      else {
        val full = body.length / 255
        val lastN = body.length % 255
        (Array.fill(full)(255.toByte) :+ lastN.toByte)
      }
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("US-ASCII"))
    out.write(0); out.write(headerType)
    for (k <- 0 until 8) out.write(((granule >> (8 * k)) & 0xff).toInt)
    for (k <- 0 until 4) out.write((serial >> (8 * k)) & 0xff)
    for (k <- 0 until 4) out.write((seq >> (8 * k)) & 0xff)
    out.write(Array[Byte](0, 0, 0, 0)) // CRC (the walk doesn't verify it)
    out.write(segs.length)
    out.write(segs)
    out.write(body)
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Independent FLAC encoder: its own MSB-first bit writer, real CRC-8/
  // CRC-16 (polys 0x07/0x8005), STREAMINFO assembly, rice residual
  // ENCODER with zig-zag folding and partitioning — a separate derivation
  // of RFC 9639.
  private final class FlacBitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var nbits = 0
    def write(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1); nbits += 1
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
        k -= 1
      }
    }
    def writeUnary(q: Int): Unit = {
      (0 until q).foreach(_ => write(0, 1)); write(1, 1)
    }
    def align(): Unit = while (nbits != 0) write(0, 1)
    def bytesSoFar: Array[Byte] = {
      require(nbits == 0, "snapshot only at byte alignment")
      buf.toByteArray
    }
  }

  private def flacCrc8(bytes: Array[Byte]): Int = {
    var crc = 0
    for (b <- bytes) {
      crc ^= (b & 0xff)
      for (_ <- 0 until 8)
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
    }
    crc
  }

  private def flacCrc16(bytes: Array[Byte]): Int = {
    var crc = 0
    for (b <- bytes) {
      crc ^= (b & 0xff) << 8
      for (_ <- 0 until 8)
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
    }
    crc
  }

  private def flacStreamInfo(rate: Int, channels: Int, bps: Int,
                             total: Long): Array[Byte] = {
    val w = new FlacBitWriter
    w.write(4096, 16); w.write(4096, 16) // min/max block size
    w.write(0, 24); w.write(0, 24) // min/max frame size (unknown)
    w.write(rate, 20)
    w.write(channels - 1, 3)
    w.write(bps - 1, 5)
    w.write((total >> 32).toInt & 0xf, 4)
    w.write(total.toInt, 32)
    (0 until 16).foreach(_ => w.write(0, 8)) // md5 (unverified)
    val body = w.bytesSoFar
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, body.length.toByte) ++ body
  }

  private def flacZigzag(v: Int): Long = ((v.toLong << 1) ^ (v.toLong >> 63)) & 0xffffffffL

  private def flacWriteRice(w: FlacBitWriter, resid: Array[Int], n: Int,
                            order: Int, partOrder: Int, param: Int): Unit = {
    w.write(0, 2) // method: 4-bit rice
    w.write(partOrder, 4)
    val parts = 1 << partOrder
    var k = 0
    for (p <- 0 until parts) {
      val cnt = (n >> partOrder) - (if (p == 0) order else 0)
      w.write(param, 4)
      for (_ <- 0 until cnt) {
        val u = flacZigzag(resid(k)); k += 1
        w.writeUnary((u >>> param).toInt)
        if (param > 0) w.write((u & ((1L << param) - 1)).toInt, param)
      }
    }
  }

  /** One frame; subWriter fills in the per-channel subframes. */
  private def flacFrame(frameIdx: Int, blockSize: Int, bps: Int, chAsgn: Int,
                        subWriter: FlacBitWriter => Unit): Array[Byte] = {
    val w = new FlacBitWriter
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    val bsCode = if (blockSize <= 256) 6 else 7
    w.write(bsCode, 4)
    w.write(0, 4) // sample rate: from STREAMINFO
    w.write(chAsgn, 4)
    val ssCode = bps match {
      case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
      case _ => 0
    }
    w.write(ssCode, 3); w.write(0, 1)
    w.write(frameIdx & 0x7f, 8) // single-byte coded number
    if (bsCode == 6) w.write(blockSize - 1, 8) else w.write(blockSize - 1, 16)
    w.write(flacCrc8(w.bytesSoFar), 8)
    subWriter(w)
    w.align()
    w.write(flacCrc16(w.bytesSoFar), 16)
    w.bytesSoFar
  }

  // ---------------------------------------------------------------------
  // Independent TIFF assembler (both byte orders, hand-built IFDs) with
  // its own TIFF-LZW COMPRESSOR (MSB-first packing, EARLY code-width
  // change) — a separate derivation of TIFF 6.0.
  private def tiffLzwCompress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var codeSize = 9
    def emit(code: Int): Unit = {
      cur = (cur << codeSize) | code; nbits += codeSize
      while (nbits >= 8) {
        out.write(((cur >> (nbits - 8)) & 0xff).toInt); nbits -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = 258
    emit(256)
    var prev = -1
    for (byteV <- data) {
      val s = byteV & 0xff
      if (prev == -1) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          dict((prev, s)) = nextCode; nextCode += 1
          // EARLY change: the decoder widens one code sooner than GIF's
          if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
          if (nextCode >= 4093) {
            emit(256); dict.clear(); nextCode = 258; codeSize = 9
          }
          prev = s
      }
    }
    if (prev != -1) emit(prev)
    emit(257)
    if (nbits > 0) out.write(((cur << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  private def encodeTiff(le: Boolean, entries: Seq[(Int, Int, Int, Long)],
                         trailing: Array[Byte]): Array[Byte] = {
    def w16(v: Int) =
      if (le) Array[Byte](v.toByte, (v >> 8).toByte)
      else Array[Byte]((v >> 8).toByte, v.toByte)
    def w32(v: Long) =
      if (le) Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
      else Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val out = new java.io.ByteArrayOutputStream()
    out.write(if (le) "II".getBytes ++ Array[Byte](42, 0)
              else "MM".getBytes ++ Array[Byte](0, 42))
    out.write(w32(8))
    out.write(w16(entries.length))
    for ((tag, typ, cnt, v) <- entries) {
      out.write(w16(tag)); out.write(w16(typ)); out.write(w32(cnt))
      if (typ == 3 && cnt == 1) { out.write(w16(v.toInt)); out.write(w16(0)) }
      else out.write(w32(v))
    }
    out.write(w32(0)) // no next IFD
    out.write(trailing)
    out.toByteArray
  }

  /** offset of the byte right after the IFD, where `trailing` starts */
  private def tiffDataOff(nEntries: Int): Int = 8 + 2 + 12 * nEntries + 4

  test("mutation fuzz: corrupted valid containers never throw and always yield a 16-dim finite feature") {
    // The highest-yield fuzz seeds are VALID files: random byte flips,
    // truncations, length-field splices and garbage tails reach the deep
    // decode paths (inflate, Huffman, chunk walks) that pure-garbage
    // inputs bounce off at the signature check. Every byte walk in
    // MediaJob must degrade to a lower tier — never crash the task: one
    // uncaught decode exception on one crafted record kills the whole job
    // after retries (the failure class ADVICE flagged on the WAV walk).
    val rng = new scala.util.Random(987654321L)

    // one valid artifact per container family, via the independent
    // test-side encoders used elsewhere in this spec
    val pngRaw = Array.tabulate(8 * 9)(i => // 8 rows of filter byte + 8 px
      if (i % 9 == 0) 0 else ((i * 37) % 256)).map(_.toByte)
    val png = encodePng(8, 8, 0, pngRaw)
    val jq = Array.tabulate(64)(k => 1 + k / 8)
    val jpx = Array.tabulate(24 * 16)(i => (i * 7) % 256)
    val jpeg = encodeGrayJpeg(24, 16, jpx, jq)._1
    val avi = encodeAvi(24, 16, Seq(jpeg, jpeg))
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val wavData = Array.tabulate(320)(i => (i * 13 % 256).toByte)
    val wav = "RIFF".getBytes ++ le32(36 + wavData.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++
      (le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)) ++
      "data".getBytes ++ le32(wavData.length) ++ wavData

    val mp4 = encodeMp4(mp4Trak(24, 16, 12, "vide"))
    val mkv = encodeMkv(
      mkvTrackEntry(1, 1, 24, 16),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(1) ++ mkvSimpleBlock(1)))
    // a VALID Adam7-interlaced 16-bit PNG (per-pass raw layout) reaches
    // the pass-geometry and wide-sample branches of the decoder
    val rawI16 = new scala.collection.mutable.ArrayBuffer[Byte]()
    for ((x0, y0, dx, dy) <- Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2));
         y <- y0 until 8 by dy) {
      rawI16 += 0
      for (x <- x0 until 8 by dx) {
        rawI16 += ((x * 31 + y * 53) % 256).toByte; rawI16 += ((x + y) % 256).toByte
      }
    }
    val pngI16 = encodePng(8, 8, 0, rawI16.toArray, bitDepth = 16, interlace = 1)
    // a successive-approximation progressive JPEG reaches the multi-scan
    // accumulation and refinement branches
    val jpegProg = encodeGrayProgressiveJpeg(24, 16, jpx, jq,
      Seq((0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)))
    // an IMA-ADPCM WAV reaches the block-structured nibble decode
    val adpcmData = wavLe16(0) ++ Array[Byte](0, 0) ++
      Array.tabulate[Byte](16)(i => ((i * 0x93) & 0xff).toByte)
    val adpcm = wavFile(0x11, 1, 8000, 4, 20, adpcmData)
    // an animated transparent GIF reaches the LZW, compositing and
    // sub-block walk branches
    val gifCt = Array.tabulate[Byte](16 * 3)(i => ((i / 3) * 16).toByte)
    val gifIdx = Array.tabulate(64)(k => k % 16)
    val gif = encodeGif(8, 8, gifCt, 0,
      Seq(GifFrame(0, 0, 8, 8, gifIdx),
        GifFrame(2, 2, 4, 4, Array.tabulate(16)(_ % 16), transparent = 3)))
    // an RLE8 BMP reaches the escape-code walk and palette branches
    val bmpPal = Array.tabulate[Byte](256 * 4)(i =>
      (if (i % 4 == 3) 0 else i / 4).toByte)
    val bmp = encodeBmp(6, 2, 8, Array[Byte](3, 200.toByte, 0, 3, 9, 77,
      130.toByte, 0, 0, 0, 6, 50, 0, 1), bmpPal, comp = 1)
    // an MP3 frame chain and an Ogg-Vorbis stream reach the audio
    // metadata walks
    val mp3f = mp3Frame(3, 1, 9, 0, 0, 0, 128, 44100, 1152)
    val mp3 = Array.concat(mp3f, mp3f, mp3f)
    val oggV = oggPage(0, 7, 0,
      Array[Byte](1) ++ "vorbis".getBytes ++ Array[Byte](0, 0, 0, 0, 2) ++
        Array[Byte](0x44, 0xac.toByte, 0, 0) ++ Array.fill[Byte](9)(0),
      headerType = 2) ++
      oggPage(88200, 7, 1, Array.fill[Byte](60)(0x11), headerType = 4)
    // a rice-coded fixed-predictor FLAC reaches the bit-level subframe
    // and residual walks
    val flacX = Array.tabulate(64)(k => (math.sin(k * 0.2) * 8000).toInt)
    val flacResid = Array.tabulate(64)(k =>
      if (k < 2) 0 else flacX(k) - 2 * flacX(k - 1) + flacX(k - 2))
    val flac = flacStreamInfo(8000, 1, 16, 64) ++
      flacFrame(0, 64, 16, 0, { w =>
        w.write(0, 1); w.write(10, 6); w.write(0, 1)
        w.write(flacX(0) & 0xffff, 16); w.write(flacX(1) & 0xffff, 16)
        flacWriteRice(w, flacResid.drop(2), 64, 2, 2, 6)
      })
    // an LZW+predictor TIFF and a VP8 WebP reach the IFD/LZW and RIFF
    // geometry walks
    val tpx = Array.tabulate[Byte](8 * 8)(k => ((k % 8) * 9 + k / 8).toByte)
    val tdiff = tpx.clone()
    for (r <- 0 until 8; x <- 7 to 1 by -1)
      tdiff(r * 8 + x) = (tdiff(r * 8 + x) - tdiff(r * 8 + x - 1)).toByte
    val tlzw = tiffLzwCompress(tdiff)
    val tiffSeed = encodeTiff(le = true, Seq(
      (256, 3, 1, 8L), (257, 3, 1, 8L), (258, 3, 1, 8L),
      (259, 3, 1, 5L), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(8).toLong), (279, 4, 1, tlzw.length.toLong),
      (317, 3, 1, 2L)), tlzw)
    def rle32f(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val webpSeed = "RIFF".getBytes ++ rle32f(40) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ rle32f(20) ++
      Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      Array[Byte](64, 1, 0xc8.toByte, 0) ++ Array.fill[Byte](10)(0)
    val seeds = Seq("image" -> png, "image" -> pngI16, "image" -> jpeg,
      "image" -> jpegProg, "image" -> gif, "image" -> bmp,
      "image" -> tiffSeed, "image" -> webpSeed, "video" -> avi,
      "video" -> mp4, "video" -> mkv, "audio" -> wav, "audio" -> adpcm,
      "audio" -> mp3, "audio" -> oggV, "audio" -> flac)
    def mutate(b: Array[Byte]): Array[Byte] = rng.nextInt(4) match {
      case 0 if b.nonEmpty => // flip 1-8 random bytes
        val m = b.clone()
        (0 until 1 + rng.nextInt(8)).foreach { _ =>
          val i = rng.nextInt(m.length); m(i) = (m(i) ^ (1 << rng.nextInt(8))).toByte
        }
        m
      case 1 => b.take(rng.nextInt(b.length + 1)) // truncate anywhere
      case 2 if b.length >= 4 => // splice a random 4-byte window (corrupts length fields)
        val m = b.clone()
        val i = rng.nextInt(m.length - 3)
        (0 until 4).foreach(k => m(i + k) = rng.nextInt(256).toByte)
        m
      case _ => b ++ Array.fill(1 + rng.nextInt(64))(rng.nextInt(256).toByte)
    }

    for ((mType, valid) <- seeds; round <- 0 until 300) {
      // stack 1-3 mutations so corruption compounds
      var m = mutate(valid)
      (0 until rng.nextInt(3)).foreach(_ => if (m.nonEmpty) m = mutate(m))
      val (d1, d2, d3, feat) =
        try MediaJob.decodeStub(mType, m)
        catch { case e: Throwable =>
          fail(s"decodeStub threw on mutated $mType (round $round, ${m.length} bytes): $e")
        }
      assert(feat != null && feat.length == 16,
        s"$mType round $round: feature must stay 16-dim")
      assert(feat.forall(v => !v.isNaN && !v.isInfinite),
        s"$mType round $round: feature must stay finite")
      assert(d1 >= 0 && d2 >= 0 && d3 >= 0,
        s"$mType round $round: dims must stay non-negative ($d1,$d2,$d3)")
    }
  }

  test("crafted declared frame counts cannot explode the sampling fan-out") {
    import spark.implicits._
    // one video feature row carrying a crafted Int.MaxValue frame count
    val bomb = MediaJob.MediaFeature("m/bomb", "d1", "video", 128L,
      16, 16, Int.MaxValue, Array.tabulate(16)(_ / 16.0f))
    val rows = MediaJob.sampleFrames(spark, Seq(bomb).toDS(), everyNth = 6).count()
    assert(rows > 0, "capped sampling still emits rows")
    assert(rows <= MediaJob.maxSampledFrames,
      s"fan-out must be capped, got $rows rows")
  }
}
