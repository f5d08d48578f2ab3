package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Lossless whole-pipeline round-trip: a minimal JPEG2000 ENCODER written
  * in this spec (ISO 15444-1: forward 5/3 lifting, forward RCT, EBCOT
  * Tier-1 coding passes, MQ encoder, tag-tree + packet-header writer,
  * SIZ/COD/QCD/SOT markers) produces codestreams that [[Jp2Decoder]] must
  * decode back to the EXACT input samples.
  *
  * This covers the decoder paths the reference's rgb.jp2 fixture (NL=0,
  * one tile, 9/7/ICT, rate-truncated) cannot reach: multi-level
  * decomposition with the HL/LH/HH context tables and band geometry,
  * reversible 5/3 + RCT, multiple tiles with edge remainders, odd image
  * sizes down to 1-wide bands, all-zero code-blocks, and the
  * exact-integer reconstruction rule for fully-decoded reversible
  * coefficients (bias only when truncated). A single wrong context,
  * mis-ordered packet, off-by-one band bound, or bias error breaks exact
  * equality loudly. */
class Jp2RoundTripSpec extends AnyFunSuite {

  private def ceilShift(a: Int, s: Int): Int = (a + (1 << s) - 1) >> s

  // ------------------------------------------------------------ bit writer

  /** MSB-first with the B.10.1 stuffing rule: a byte following 0xFF
    * carries 7 bits. */
  private final class BitWriter {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nbits = 0
    private def cap: Int = if (out.nonEmpty && (out.last & 0xff) == 0xff) 7 else 8
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nbits += 1
      if (nbits == cap) { out += cur.toByte; cur = 0; nbits = 0 }
    }
    def bits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bit((v >>> k) & 1); k -= 1 }
    }
    /** End-of-header: pad to a byte; a terminal 0xFF needs its stuffed
      * follower (the decoder's align skips one byte after 0xFF). */
    def align(): Unit = {
      while (nbits != 0) bit(0)
      if (out.nonEmpty && (out.last & 0xff) == 0xff) out += 0
    }
  }

  // ------------------------------------------------------ tag-tree encoder

  /** State-machine mirror of the decoder's B.10.2 walk: emits exactly the
    * bits a decode at the same thresholds consumes. */
  private final class TTEnc(w0: Int, h0: Int, leaf: (Int, Int) => Int) {
    private val dims = {
      val b = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var w = w0; var h = h0
      while ({ b += ((w, h)); !(w == 1 && h == 1) }) { w = (w + 1) / 2; h = (h + 1) / 2 }
      b.toArray
    }
    private val value: Array[Array[Int]] = {
      val lv = new Array[Array[Int]](dims.length)
      lv(0) = Array.tabulate(w0 * h0)(i => leaf(i % w0, i / w0))
      var l = 1
      while (l < dims.length) {
        val (w, h) = dims(l); val (pw, ph) = dims(l - 1)
        lv(l) = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          var m = Int.MaxValue
          for (dy <- 0 to 1; dx <- 0 to 1) {
            val cx = 2 * x + dx; val cy = 2 * y + dy
            if (cx < pw && cy < ph) m = math.min(m, lv(l - 1)(cy * pw + cx))
          }
          m
        }
        l += 1
      }
      lv
    }
    private val lowSent = dims.indices.map(l => new Array[Int](dims(l)._1 * dims(l)._2)).toArray
    private val known = dims.indices.map(l => new Array[Boolean](dims(l)._1 * dims(l)._2)).toArray

    def encode(bw: BitWriter, x: Int, y: Int, threshold: Int): Unit = {
      var low = 0
      var lvl = dims.length - 1
      while (lvl >= 0) {
        val i = (y >> lvl) * dims(lvl)._1 + (x >> lvl)
        if (lowSent(lvl)(i) < low) lowSent(lvl)(i) = low
        while (!known(lvl)(i) && lowSent(lvl)(i) < threshold) {
          if (lowSent(lvl)(i) == value(lvl)(i)) { bw.bit(1); known(lvl)(i) = true }
          else { bw.bit(0); lowSent(lvl)(i) += 1 }
        }
        low = if (known(lvl)(i)) value(lvl)(i) else lowSent(lvl)(i)
        if (!known(lvl)(i) && lowSent(lvl)(i) >= threshold) return
        lvl -= 1
      }
    }
  }

  // ---------------------------------------------------------- MQ encoder

  /** Annex C encoder (same construction as Jp2DecodeSpec's round-trip
    * instance). */
  private final class MqEnc {
    private val out = scala.collection.mutable.ArrayBuffer[Byte]()
    private var a = 0x8000
    private var c = 0L
    private var ct = 12
    private var bp = -1
    private def bVal: Int = if (bp < 0) 0 else out(bp) & 0xff
    private def byteOut(): Unit = {
      if (bVal == 0xff) { bp += 1; out += ((c >>> 20) & 0xff).toByte; c &= 0xfffff; ct = 7 }
      else if (c < 0x8000000L) { bp += 1; out += ((c >>> 19) & 0xff).toByte; c &= 0x7ffff; ct = 8 }
      else {
        out(bp) = ((bVal + 1) & 0xff).toByte
        if ((out(bp) & 0xff) == 0xff) { c &= 0x7ffffff; bp += 1; out += ((c >>> 20) & 0xff).toByte; c &= 0xfffff; ct = 7 }
        else { bp += 1; out += ((c >>> 19) & 0xff).toByte; c &= 0x7ffff; ct = 8 }
      }
    }
    private def renorm(): Unit = {
      do { if (ct == 0) byteOut(); a <<= 1; c <<= 1; ct -= 1 } while ((a & 0x8000) == 0)
    }
    def encode(cx: Array[Int], i: Int, d: Int): Unit = {
      val st = cx(2 * i); val mps = cx(2 * i + 1)
      val qe = Jp2Decoder.QeTab(st)
      if (d == mps) {
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          cx(2 * i) = Jp2Decoder.NmpsTab(st); renorm()
        } else c += qe
      } else {
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Jp2Decoder.SwitchTab(st) == 1) cx(2 * i + 1) = 1 - mps
        cx(2 * i) = Jp2Decoder.NlpsTab(st); renorm()
      }
    }
    def flush(): Array[Byte] = {
      // SETBITS (C.2.9): fill the unsent low bits with ONES — the decoder
      // synthesizes 0xFF bytes past the stream end, so the chosen code
      // value's discarded tail must be all-1s, not a 0x8000 multiple
      val tempC = c + a
      c |= 0xffffL
      if (c >= tempC) c -= 0x8000L
      c <<= ct; byteOut(); c <<= ct; byteOut()
      if (bVal != 0xff) { bp += 1; out += 0xff.toByte }
      out.toArray
    }
  }

  // ------------------------------------------------------- T1 encoder (D)

  private def zcCtx(band: Int, h0: Int, v0: Int, d: Int): Int = {
    val (h, v) = if (band == 1) (v0, h0) else (h0, v0)
    if (band != 3) {
      if (h == 2) 8
      else if (h == 1) { if (v >= 1) 7 else if (d >= 1) 6 else 5 }
      else if (v == 2) 4 else if (v == 1) 3 else if (d >= 2) 2 else d
    } else {
      if (d >= 3) 8
      else if (d == 2) { if (h + v >= 1) 7 else 6 }
      else if (d == 1) { if (h + v >= 2) 5 else if (h + v == 1) 4 else 3 }
      else if (h + v >= 2) 2 else h + v
    }
  }
  private val ScCtx = Array(13, 12, 11, 10, 9, 10, 11, 12, 13)
  private val ScXor = Array(1, 1, 1, 1, 0, 0, 0, 0, 0)

  /** Encode every pass of every plane (no truncation): mirrors the
    * decoder's scan order branch-for-branch. Returns (bytes, numPasses). */
  private[io] def t1Encode(v: Array[Int], w: Int, h: Int, numbps: Int,
                       band: Int): (Array[Byte], Int) = {
    val sig = new Array[Boolean](w * h)
    val vis = new Array[Boolean](w * h)
    val refd = new Array[Boolean](w * h)
    val neg = Array.tabulate(w * h)(i => v(i) < 0)
    val mag = Array.tabulate(w * h)(i => math.abs(v(i)))
    val mq = new MqEnc
    val cx = new Array[Int](38)
    cx(2 * 18) = 46; cx(2 * 17) = 3; cx(0) = 4
    @inline def s(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h) 0 else if (sig(y * w + x)) 1 else 0
    @inline def sg(x: Int, y: Int): Int = {
      if (x < 0 || y < 0 || x >= w || y >= h) 0
      else { val i = y * w + x; if (!sig(i)) 0 else if (neg(i)) -1 else 1 }
    }
    def encodeSign(x: Int, y: Int): Unit = {
      val hh = math.max(-1, math.min(1, sg(x - 1, y) + sg(x + 1, y)))
      val vv = math.max(-1, math.min(1, sg(x, y - 1) + sg(x, y + 1)))
      val idx = (hh + 1) * 3 + (vv + 1)
      val bit = (if (neg(y * w + x)) 1 else 0) ^ ScXor(idx)
      mq.encode(cx, ScCtx(idx), bit)
    }
    var p = numbps - 1
    var passes = 0
    var first = true
    while (p >= 0) {
      var pt = if (first) 2 else 0
      while (pt <= 2) {
        pt match {
          case 0 =>
            var y0 = 0
            while (y0 < h) {
              val yEnd = math.min(y0 + 4, h)
              var x = 0
              while (x < w) {
                var y = y0
                while (y < yEnd) {
                  val i = y * w + x
                  if (!sig(i)) {
                    val hh = s(x - 1, y) + s(x + 1, y)
                    val vv = s(x, y - 1) + s(x, y + 1)
                    val dd = s(x - 1, y - 1) + s(x + 1, y - 1) + s(x - 1, y + 1) + s(x + 1, y + 1)
                    if (hh + vv + dd != 0) {
                      val bit = (mag(i) >>> p) & 1
                      mq.encode(cx, zcCtx(band, hh, vv, dd), bit)
                      if (bit == 1) { sig(i) = true; encodeSign(x, y) }
                      vis(i) = true
                    }
                  }
                  y += 1
                }
                x += 1
              }
              y0 += 4
            }
          case 1 =>
            var y0 = 0
            while (y0 < h) {
              val yEnd = math.min(y0 + 4, h)
              var x = 0
              while (x < w) {
                var y = y0
                while (y < yEnd) {
                  val i = y * w + x
                  if (sig(i) && !vis(i)) {
                    val ctx =
                      if (!refd(i)) {
                        val n = s(x - 1, y) + s(x + 1, y) + s(x, y - 1) + s(x, y + 1) +
                          s(x - 1, y - 1) + s(x + 1, y - 1) + s(x - 1, y + 1) + s(x + 1, y + 1)
                        if (n > 0) 15 else 14
                      } else 16
                    mq.encode(cx, ctx, (mag(i) >>> p) & 1)
                    refd(i) = true
                  }
                  y += 1
                }
                x += 1
              }
              y0 += 4
            }
          case _ =>
            var y0 = 0
            while (y0 < h) {
              val yEnd = math.min(y0 + 4, h)
              var x = 0
              while (x < w) {
                var y = y0
                while (y < yEnd) {
                  var runHit = false
                  if (y == y0 && y0 + 4 <= h) {
                    var clear = true
                    var yy = y0
                    while (clear && yy < y0 + 4) {
                      val i = yy * w + x
                      if (vis(i) || sig(i)) clear = false
                      else {
                        val hh = s(x - 1, yy) + s(x + 1, yy)
                        val vv = s(x, yy - 1) + s(x, yy + 1)
                        val dd = s(x - 1, yy - 1) + s(x + 1, yy - 1) + s(x - 1, yy + 1) + s(x + 1, yy + 1)
                        if (hh + vv + dd != 0) clear = false
                      }
                      yy += 1
                    }
                    if (clear) {
                      var r = -1
                      var yy = y0
                      while (r < 0 && yy < y0 + 4) {
                        if (((mag(yy * w + x) >>> p) & 1) == 1) r = yy - y0
                        yy += 1
                      }
                      if (r < 0) { mq.encode(cx, 17, 0); y = y0 + 4 }
                      else {
                        mq.encode(cx, 17, 1)
                        mq.encode(cx, 18, (r >>> 1) & 1)
                        mq.encode(cx, 18, r & 1)
                        y = y0 + r
                        runHit = true
                      }
                    }
                  }
                  if (y < yEnd) {
                    val i = y * w + x
                    if (!vis(i) && !sig(i)) {
                      val bit = (mag(i) >>> p) & 1
                      if (!runHit) {
                        val hh = s(x - 1, y) + s(x + 1, y)
                        val vv = s(x, y - 1) + s(x, y + 1)
                        val dd = s(x - 1, y - 1) + s(x + 1, y - 1) + s(x - 1, y + 1) + s(x + 1, y + 1)
                        mq.encode(cx, zcCtx(band, hh, vv, dd), bit)
                      }
                      if (bit == 1) { sig(i) = true; encodeSign(x, y) }
                    }
                    y += 1
                  }
                }
                x += 1
              }
              y0 += 4
            }
            java.util.Arrays.fill(vis, false)
        }
        passes += 1
        pt += 1
      }
      first = false
      p -= 1
    }
    (mq.flush(), passes)
  }

  // ------------------------------------------------------ forward 5/3 DWT

  private[io] def fwd53(x: Array[Double], i0: Int): Array[Double] = {
    val n = x.length
    if (n == 1) return if ((i0 & 1) == 0) x.clone() else Array(x(0) * 2)
    val i1 = i0 + n
    def ext(i: Int): Int = {
      val period = 2 * (n - 1)
      var d = ((i - i0) % period + period) % period
      if (d >= n) d = period - d
      d
    }
    val y = new Array[Double](n)
    var i = if ((i0 & 1) == 0) i0 + 1 else i0
    while (i < i1) {
      y(i - i0) = x(i - i0) - math.floor((x(ext(i - 1)) + x(ext(i + 1))) / 2.0)
      i += 2
    }
    i = if ((i0 & 1) == 0) i0 else i0 + 1
    while (i < i1) {
      y(i - i0) = x(i - i0) + math.floor((y(ext(i - 1)) + y(ext(i + 1)) + 2) / 4.0)
      i += 2
    }
    y
  }

  /** Forward 2D on the absolute-indexed array: columns first, then rows
    * (the exact inverse of the decoder's rows-then-columns synthesis). */
  private[io] def fwd2d(a: Array[Double], w: Int, h: Int, u0: Int, v0: Int): Unit = {
    val col = new Array[Double](h)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) { col(y) = a(y * w + x); y += 1 }
      val out = fwd53(col, v0)
      y = 0
      while (y < h) { a(y * w + x) = out(y); y += 1 }
      x += 1
    }
    val row = new Array[Double](w)
    var y = 0
    while (y < h) {
      System.arraycopy(a, y * w, row, 0, w)
      val out = fwd53(row, u0)
      System.arraycopy(out, 0, a, y * w, w)
      y += 1
    }
  }

  // ---------------------------------------------------------- the encoder

  private def u16b(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def u32b(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    u16b(marker) ++ u16b(payload.length + 2) ++ payload

  private val Guard = 2
  private val Eps = 13 // Mb = Guard + Eps - 1 = 14 bits of magnitude

  /** Encode `planes` (nc x (w*h) ints in [0, 2^depth)) as a raw JPEG2000
    * codestream: reversible 5/3, RCT when nc==3, one layer, LRCP, 16x16
    * code-blocks, `nl` decomposition levels, `xt`x`yt` tiles. */
  private[io] def encode(planes: Array[Array[Int]], w: Int, h: Int, depth: Int,
                     nl: Int, xt: Int, yt: Int): Array[Byte] = {
    val nc = planes.length
    val useRct = nc == 3
    val xcbE = 4; val ycbE = 4
    // SIZ
    val siz = u16b(0) ++ u32b(w) ++ u32b(h) ++ u32b(0) ++ u32b(0) ++
      u32b(xt) ++ u32b(yt) ++ u32b(0) ++ u32b(0) ++ u16b(nc) ++
      Array.fill(nc)(Array((depth - 1).toByte, 1.toByte, 1.toByte)).flatten
    // COD: Scod=0, LRCP, 1 layer, MCT when RCT, nl levels, 16x16 cb, 5/3
    val cod = Array[Byte](0, 0) ++ u16b(1) ++ Array[Byte](
      if (useRct) 1 else 0, nl.toByte, (xcbE - 2).toByte, (ycbE - 2).toByte, 0, 1)
    // QCD: style 0 (reversible), guard bits, one exponent byte per subband
    val qcd = Array(((Guard << 5) | 0).toByte) ++
      Array.fill(3 * nl + 1)((Eps << 3).toByte)
    val main = Array[Byte](0xff.toByte, 0x4f.toByte) ++
      seg(0xff51, siz) ++ seg(0xff52, cod) ++ seg(0xff5c, qcd)

    val tilesW = ceilDivI(w, xt); val tilesH = ceilDivI(h, yt)
    val tileParts = for (t <- 0 until tilesW * tilesH) yield {
      val px = t % tilesW; val py = t / tilesW
      val tx0 = px * xt; val tx1 = math.min((px + 1) * xt, w)
      val ty0 = py * yt; val ty1 = math.min((py + 1) * yt, h)
      val tw = tx1 - tx0; val th = ty1 - ty0
      // level shift + RCT
      val shifted = Array.tabulate(nc) { c =>
        val a = new Array[Double](tw * th)
        var i = 0
        while (i < tw * th) {
          val x = i % tw; val y = i / tw
          a(i) = planes(c)((ty0 + y) * w + (tx0 + x)) - (1 << (depth - 1))
          i += 1
        }
        a
      }
      if (useRct) {
        var i = 0
        while (i < tw * th) {
          val r = shifted(0)(i); val g = shifted(1)(i); val b = shifted(2)(i)
          shifted(0)(i) = math.floor((r + 2 * g + b) / 4.0)
          shifted(1)(i) = b - g
          shifted(2)(i) = r - g
          i += 1
        }
      }
      // DWT + T1 per component; collect blocks per (r, bandTyp)
      // bands(c)(r) = list of (bandTyp, blocks); block = (zbp, passes, data)
      final case class Blk(zbp: Int, passes: Int, data: Array[Byte],
                           cbx: Int, cby: Int)
      final case class BandBlocks(cbW: Int, cbH: Int, blocks: Seq[Blk])
      val mb = Guard + Eps - 1
      def codeBand(coef: Array[Int], bx0: Int, by0: Int, bw: Int, bh: Int,
                   typ: Int): BandBlocks = {
        if (bw <= 0 || bh <= 0) return BandBlocks(0, 0, Nil)
        val gx0 = bx0 >> xcbE; val gx1 = ceilShift(bx0 + bw, xcbE)
        val gy0 = by0 >> ycbE; val gy1 = ceilShift(by0 + bh, ycbE)
        val blocks = for {
          gy <- gy0 until gy1
          gx <- gx0 until gx1
        } yield {
          val cx0 = math.max(bx0, gx << xcbE); val cx1 = math.min(bx0 + bw, (gx + 1) << xcbE)
          val cy0 = math.max(by0, gy << ycbE); val cy1 = math.min(by0 + bh, (gy + 1) << ycbE)
          val cw = cx1 - cx0; val ch = cy1 - cy0
          val sub = Array.tabulate(cw * ch) { i =>
            coef((cy0 - by0 + i / cw) * bw + (cx0 - bx0 + i % cw))
          }
          val maxMag = sub.foldLeft(0)((m, x) => math.max(m, math.abs(x)))
          val numbps = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(maxMag, 1)))
          require(numbps <= mb, s"coefficient $maxMag overflows Mb=$mb")
          val (data, passes) = t1Encode(sub, cw, ch, numbps, typ)
          Blk(mb - numbps, passes, data, gx - gx0, gy - gy0)
        }
        BandBlocks(gx1 - gx0, gy1 - gy0, blocks)
      }
      // per component: fold levels down, keeping band blocks per res
      val perComp = Array.tabulate(nc) { c =>
        var cur = shifted(c)
        var cu0 = tx0; var cu1 = tx1; var cv0 = ty0; var cv1 = ty1
        val resBands = new Array[Seq[(Int, BandBlocks)]](nl + 1)
        var r = nl
        while (r >= 1) {
          val cw = cu1 - cu0; val ch = cv1 - cv0
          fwd2d(cur, cw, ch, cu0, cv0)
          val llx0 = ceilShift(cu0, 1); val llx1 = ceilShift(cu1, 1)
          val lly0 = ceilShift(cv0, 1); val lly1 = ceilShift(cv1, 1)
          val hlx0 = cu0 >> 1; val hlx1 = cu1 >> 1
          val hly0 = cv0 >> 1; val hly1 = cv1 >> 1
          val ll = new Array[Double]((llx1 - llx0) * (lly1 - lly0))
          val hl = new Array[Int]((hlx1 - hlx0) * (lly1 - lly0))
          val lh = new Array[Int]((llx1 - llx0) * (hly1 - hly0))
          val hh = new Array[Int]((hlx1 - hlx0) * (hly1 - hly0))
          var v = cv0
          while (v < cv1) {
            var u = cu0
            while (u < cu1) {
              val x = cur((v - cv0) * cw + (u - cu0))
              val m = u >> 1; val n = v >> 1
              if ((u & 1) == 0 && (v & 1) == 0) ll((n - lly0) * (llx1 - llx0) + (m - llx0)) = x
              else if ((u & 1) == 1 && (v & 1) == 0) hl((n - lly0) * (hlx1 - hlx0) + (m - hlx0)) = x.toInt
              else if ((u & 1) == 0) lh((n - hly0) * (llx1 - llx0) + (m - llx0)) = x.toInt
              else hh((n - hly0) * (hlx1 - hlx0) + (m - hlx0)) = x.toInt
              u += 1
            }
            v += 1
          }
          resBands(r) = Seq(
            (1, codeBand(hl, hlx0, lly0, hlx1 - hlx0, lly1 - lly0, 1)),
            (2, codeBand(lh, llx0, hly0, llx1 - llx0, hly1 - hly0, 2)),
            (3, codeBand(hh, hlx0, hly0, hlx1 - hlx0, hly1 - hly0, 3)))
          cur = ll; cu0 = llx0; cu1 = llx1; cv0 = lly0; cv1 = lly1
          r -= 1
        }
        resBands(0) = Seq((0, codeBand(cur.map(_.toInt), cu0, cv0,
          cu1 - cu0, cv1 - cv0, 0)))
        resBands
      }
      // packets: LRCP, 1 layer, single precinct per resolution; a
      // resolution with EMPTY bounds has no precincts and therefore NO
      // packet at all (B.6) — e.g. a 1-row tile at an odd absolute origin
      // whose res-0 interval [ceil(ty0/2^nl), ceil(ty1/2^nl)) collapses
      val body = scala.collection.mutable.ArrayBuffer[Byte]()
      for (r <- 0 to nl; c <- 0 until nc) {
        val resW = ceilShift(tx1, nl - r) - ceilShift(tx0, nl - r)
        val resH = ceilShift(ty1, nl - r) - ceilShift(ty0, nl - r)
        if (resW <= 0 || resH <= 0) () else {
        val bands = perComp(c)(r)
        val bw = new BitWriter
        bw.bit(1) // non-empty packet
        val bodies = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        for ((_, bb) <- bands if bb.blocks.nonEmpty) {
          val incl = new TTEnc(bb.cbW, bb.cbH, (_, _) => 0)
          val imsb = new TTEnc(bb.cbW, bb.cbH,
            (x, y) => bb.blocks.find(b => b.cbx == x && b.cby == y).get.zbp)
          for (blk <- bb.blocks) {
            incl.encode(bw, blk.cbx, blk.cby, 1)
            var th = 1
            while (th <= blk.zbp) { imsb.encode(bw, blk.cbx, blk.cby, th); th += 1 }
            imsb.encode(bw, blk.cbx, blk.cby, blk.zbp + 1)
            // number of passes
            val np = blk.passes
            if (np == 1) bw.bit(0)
            else if (np == 2) bw.bits(2, 2)
            else if (np <= 5) { bw.bits(3, 2); bw.bits(np - 3, 2) }
            else if (np <= 36) { bw.bits(0xf, 4); bw.bits(np - 6, 5) }
            else { bw.bits(0x1ff, 9); bw.bits(np - 37, 7) }
            // Lblock raise + length
            val nBytes = blk.data.length
            val need = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(nBytes, 1)))
            val base = 3 + (31 - Integer.numberOfLeadingZeros(np))
            val k = math.max(0, need - base)
            var j = 0
            while (j < k) { bw.bit(1); j += 1 }
            bw.bit(0)
            bw.bits(nBytes, base + k)
            bodies += blk.data
          }
        }
        bw.align()
        body ++= bw.out
        bodies.foreach(body ++= _)
        }
      }
      val sotPayload = u16b(t) ++ u32b(12 + 2 + body.length) ++ Array[Byte](0, 1)
      seg(0xff90, sotPayload) ++ u16b(0xff93) ++ body.toArray
    }
    main ++ tileParts.flatten ++ u16b(0xffd9)
  }

  private def ceilDivI(a: Int, b: Int): Int = (a + b - 1) / b

  // --------------------------------------------------------------- tests

  private def roundTrip(w: Int, h: Int, nc: Int, nl: Int, xt: Int, yt: Int,
                        seed: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(nc)(Array.fill(w * h)(rng.nextInt(256)))
    val cs = encode(planes, w, h, 8, nl, xt, yt)
    val d = Jp2Decoder.decode(cs)
    assert(d.width === w && d.height === h && d.planes.length === nc)
    for (c <- 0 until nc) {
      var i = 0
      while (i < w * h) {
        assert(d.planes(c)(i) === planes(c)(i).toDouble,
          s"c=$c px=(${i % w},${i / w}) seed=$seed nl=$nl tiles=${xt}x$yt")
        i += 1
      }
    }
  }

  test("NL=2 + RCT, single tile, 33x29: decode is bit-exact") {
    roundTrip(33, 29, 3, 2, 64, 64, seed = 1)
  }

  test("NL=1 + RCT, 2x2 tile grid with edge remainders, 37x29") {
    roundTrip(37, 29, 3, 1, 19, 16, seed = 2)
  }

  test("NL=3 single component, 40x24 (deep decomposition, tiny top bands)") {
    roundTrip(40, 24, 1, 3, 64, 64, seed = 3)
  }

  test("NL=0 + RCT (no DWT) matches the fixture's shape but losslessly") {
    roundTrip(20, 20, 3, 0, 64, 64, seed = 4)
  }

  test("odd 5x7 with NL=2: length-1 subband rows and empty-band packets") {
    roundTrip(5, 7, 3, 2, 64, 64, seed = 5)
  }

  test("smooth gradients (run-length mode heavy) round-trip at NL=2") {
    val w = 32; val h = 32
    val planes = Array.tabulate(3)(c =>
      Array.tabulate(w * h)(i => ((i % w) * 4 + (i / w) * 3 + c * 10) & 0xff))
    val cs = encode(planes, w, h, 8, 2, 64, 64)
    val d = Jp2Decoder.decode(cs)
    for (c <- 0 until 3; i <- 0 until w * h)
      assert(d.planes(c)(i) === planes(c)(i).toDouble)
  }

  test("all-zero image (every code-block empty of significance)") {
    val planes = Array.fill(2)(Array.fill(16 * 16)(0))
    val cs = encode(planes, 16, 16, 8, 1, 64, 64)
    val d = Jp2Decoder.decode(cs)
    for (c <- 0 until 2; i <- 0 until 256)
      assert(d.planes(c)(i) === 0.0)
  }

  test("property sweep: 25 random size/level/tile combinations are all bit-exact") {
    val rng = new scala.util.Random(0x5152)
    for (k <- 1 to 25) {
      val w = 1 + rng.nextInt(48)
      val h = 1 + rng.nextInt(48)
      val nl = rng.nextInt(4)
      val useTiles = rng.nextBoolean() && w > 8 && h > 8
      val xt = if (useTiles) math.max(8, w / 2) else 64
      val yt = if (useTiles) math.max(8, h / 2) else 64
      val nc = 1 + 2 * rng.nextInt(2) // 1 or 3
      roundTrip(w, h, nc, nl, xt, yt, seed = 100 + k)
    }
  }
}
