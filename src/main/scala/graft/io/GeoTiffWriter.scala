package graft.io

import graft.raster.MRaster

/** GeoTIFF writer — GeoRaster2.save parity (georaster.py:977-1050) for the
  * baseline uncompressed profile: chunky strips, ModelPixelScale +
  * ModelTiepoint, GeoKeyDirectory EPSG, GDAL_NODATA, GDALMetadata band
  * names. `GeoTiffIO.read(write(r)) ≡ r` — the reopenable .tif artifact a
  * telluric user expects from save(). (COG layout — overviews + tiling —
  * lives in [[CogWriter]]; this is the plain-TIFF interchange sink. The
  * TIFF container itself is [[Tiff]].) */
object GeoTiffWriter {

  /** `compression`: "none" (baseline), "deflate" (tag 259 = 8, zlib over
    * the single chunky strip — the same stream `GeoTiffIO.read` inflates
    * natively, so the compressed profile round-trips without ImageIO),
    * "lzw" (tag 259 = 5, the TIFF 6.0 §13 MSB-first LZW variant with early
    * code-width change — read back through the JDK ImageIO TIFF plugin
    * `GeoTiffIO.read` falls back to for codec 5), "packbits", or "jpeg"
    * (tag 259 = 7, new-style JPEG: the strip is one max-quality JFIF
    * stream from the JDK JPEG codec — reference GeoRaster2.save accepts
    * jpeg creation options, georaster.py:977-1050. LOSSY by nature:
    * uint8 only, 1 or 3 bands, pixel round-trip is tolerance- not
    * byte-equal, and GDAL_NODATA is refused — lossy codecs corrupt
    * nodata sentinels, the same failure GDAL warns on). */
  def write(r: MRaster, path: String, compression: String = "none"): Unit = {
    val codecTag = compression match {
      case "none" => 1
      case "lzw" => 5
      case "jpeg" => 7
      case "deflate" => 8
      case "packbits" => 32773
      case c => throw new IllegalArgumentException(s"unsupported compression $c")
    }
    if (codecTag == 7) {
      require(r.dtype == "uint8" && (r.numBands == 1 || r.numBands == 3),
        s"jpeg compression needs uint8 with 1 or 3 bands, got ${r.dtype}/${r.numBands}")
      require(r.nodata.isEmpty,
        "jpeg compression is lossy and would corrupt nodata sentinel pixels")
    }
    val bps = Tiff.sampleType(r.dtype)._2
    val spp = r.numBands
    // chunky interleaved samples, encoded up front so the strip byte count
    // in the IFD reflects the (possibly compressed) on-disk size
    val pix = Tiff.chunky(r, 0, 0, r.width, r.height)
    // LZW pairs with horizontal differencing (predictor tag 317 = 2, the
    // GDAL default LZW profile) on 8-bit samples — plain LZW EXPANDS on
    // photographic data; differencing restores locality. Wider dtypes
    // difference at the sample level; keep those predictor-free here.
    val usePredictor = codecTag == 5 && bps == 8
    val strip: Array[Byte] = codecTag match {
      case 1 => pix
      case 7 => jpegEncode(pix, r.width, r.height, spp)
      case 5 =>
        if (usePredictor) {
          val rowBytes = r.width * spp
          var row = 0
          while (row < r.height) {
            val base = row * rowBytes
            var i = rowBytes - 1
            while (i >= spp) {
              pix(base + i) = (pix(base + i) - pix(base + i - spp)).toByte
              i -= 1
            }
            row += 1
          }
        }
        lzwEncode(pix)
      case 8 => Tiff.deflate(pix)
      case 32773 =>
        // TIFF 6.0 §9: each row packed separately (never across rows)
        val rowBytes = r.width * spp * bps / 8
        val out = new java.io.ByteArrayOutputStream(pix.length / 2 + 64)
        var row = 0
        while (row < r.height) {
          packBitsRow(pix, row * rowBytes, rowBytes, out)
          row += 1
        }
        out.toByteArray
    }

    val entries = Seq(
      Tiff.shorts(256, r.width),
      Tiff.shorts(257, r.height),
      Tiff.shorts(259, codecTag),
      Tiff.shorts(278, r.height)) ++ // single strip
      (if (usePredictor) Seq(Tiff.shorts(317, 2)) else Nil) ++
      Tiff.sampleEntries(r) ++ Tiff.geoEntries(r)
    Tiff.write(path, Seq(Tiff.Ifd(entries, Seq(strip), tiled = false)), dataOrder = Seq(0))
  }

  /** New-style-JPEG strip payload: ONE complete max-quality JFIF stream
    * over the chunky interleaved bytes (TIFF TechNote 2 / tag 259 = 7 —
    * the stream is self-describing, so the ImageIO TIFF reader hands it
    * to the JPEG codec on read-back). */
  private def jpegEncode(bytes: Array[Byte], w: Int, h: Int, spp: Int): Array[Byte] = {
    import java.awt.image.{BufferedImage, DataBufferByte}
    val img =
      if (spp == 3) {
        val bi = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
        val d = bi.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        var i = 0
        val n = w * h
        while (i < n) { // chunky RGB → the buffer's BGR bank order
          d(i * 3) = bytes(i * 3 + 2)
          d(i * 3 + 1) = bytes(i * 3 + 1)
          d(i * 3 + 2) = bytes(i * 3)
          i += 1
        }
        bi
      } else {
        val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val d = bi.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        System.arraycopy(bytes, 0, d, 0, w * h)
        bi
      }
    val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = jw.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    jw.setOutput(ios)
    jw.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); jw.dispose()
    bos.toByteArray
  }

  /** TIFF 6.0 §9 PackBits: runs of 2–128 equal bytes → (1−n, byte);
    * literal spans of 1–128 → (n−1, bytes). A 2-byte run inside literals
    * stays literal (the spec's tie-break that avoids fragmenting). */
  private def packBitsRow(data: Array[Byte], off: Int, len: Int,
                          out: java.io.ByteArrayOutputStream): Unit = {
    var i = 0
    while (i < len) {
      // measure the run starting at i
      var run = 1
      while (i + run < len && run < 128 && data(off + i + run) == data(off + i)) run += 1
      if (run >= 3 || (run == 2 && (i + run >= len))) {
        out.write(1 - run)
        out.write(data(off + i))
        i += run
      } else {
        // literal span: until the next ≥3 run or 128 bytes
        val start = i
        i += run
        var done = false
        while (i < len && (i - start) < 128 && !done) {
          var r2 = 1
          while (i + r2 < len && r2 < 3 && data(off + i + r2) == data(off + i)) r2 += 1
          if (r2 >= 3) done = true
          else i += r2
        }
        if (i - start > 128) i = start + 128
        out.write(i - start - 1)
        out.write(data, off + start, i - start)
      }
    }
  }

  /** TIFF 6.0 §13 LZW: MSB-first bit packing, ClearCode=256, EOI=257,
    * 9→12-bit codes, table flush at entry 4094. Width bumps when the next
    * free code reaches 2^width — verified in sync with the JDK ImageIO
    * TIFF decoder (which switches its read width one entry early, after
    * storing entry 2^width−1, the TIFF "early change" convention). */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    val Clear = 256
    val Eoi = 257
    // (prefixCode << 8 | byte) → code; prefix codes fit in 12 bits
    var table = new java.util.HashMap[Integer, Integer](8192)
    var next = 258
    put(Clear)
    var omega = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = Integer.valueOf((omega << 8) | k)
        val hit = table.get(key)
        if (hit != null) omega = hit.intValue()
        else {
          put(omega)
          table.put(key, Integer.valueOf(next))
          next += 1
          if (next == (1 << width) && width < 12) width += 1
          if (next == 4094) {
            put(Clear)
            table = new java.util.HashMap[Integer, Integer](8192)
            next = 258
            width = 9
          }
          omega = k
        }
      }
      i += 1
    }
    if (omega >= 0) put(omega)
    put(Eoi)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }
}
