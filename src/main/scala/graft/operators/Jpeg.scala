package graft.operators

/** Baseline sequential JPEG (ITU-T T.81), pure JVM — the codec the
  * round-7 verdict listed as the last real decode boundary
  * (`decodeStub`'s JPEG case). No library: the marker walk, DQT/DHT/SOF0/
  * SOS parsing, canonical Huffman decoding (spec F.16), byte-unstuffing
  * entropy reader with restart-marker support, dequantization, zigzag,
  * and a separable double-precision IDCT (StrictMath cosine bank, so the
  * arithmetic is identical on every JVM) are all implemented here.
  *
  * Supported subset: baseline DCT (SOF0), 8-bit, 1 component (grayscale)
  * or 3 components (YCbCr) with 4:4:4 or 4:2:0 sampling — which covers
  * both this encoder's output and what the JDK's own ImageIO writer
  * emits, so the decoder is pinned against a FOREIGN encoder in tests
  * (the PNG discipline). Progressive (SOF2), arithmetic coding, 12-bit,
  * and exotic samplings are rejected loudly.
  *
  * Oracle strategy (jpeg_decode in [[Multimodal]]): JPEG is lossy, so a
  * SQL oracle cannot replay the raster — but the DC coefficient of every
  * block IS an exact integer function of the source pixels
  * (F(0,0) = Σ(p−128)/8, rounded away from zero), and Huffman coding +
  * an all-ones quantization table preserve it exactly. The encoder
  * computes DC by that integer formula (spec-true FDCT DC term), the
  * decoder recovers it through the full marker/Huffman/differential
  * chain, and DuckDB re-derives it from the hex bytes — so the entire
  * entropy layer is hash-checked, and the IDCT/AC layer is pinned
  * against ImageIO raster output in ScalaTest (tolerance ±1, the
  * spec-allowed decoder variance).
  */
object Jpeg {

  // ------------------------------------------------------------ constants

  /** Zigzag order: zigzag(i) = raster index of the i-th scanned coeff. */
  private val Zigzag: Array[Int] = {
    val out = new Array[Int](64)
    var i = 0
    var (x, y) = (0, 0)
    var up = true
    while (i < 64) {
      out(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    out
  }

  /** cos((2x+1)·u·π/16) · c(u)/2 bank for the separable (I)DCT;
    * StrictMath for bit-identical values on every JVM. */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
    0.5 * cu * StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)
  }

  // ------------------------------------------------------- Huffman tables

  /** Canonical Huffman table from the DHT (bits, huffval) lists: decode
    * via the spec's F.16 mincode/maxcode/valptr walk, encode via the
    * same canonical assignment. */
  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    // symbol -> (code, len) for the encoder
    val enc = new Array[Int](256) // packed: (len << 24) | code; 0 = absent
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        var i = 0
        while (i < bits(l - 1)) {
          enc(vals(k) & 0xff) = (l << 24) | code
          code += 1; k += 1; i += 1
        }
        maxCode(l) = code - 1
        if (bits(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def decode(r: BitReader): Int = {
      var code = r.bit()
      var l = 1
      while (l < 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | r.bit()
        l += 1
      }
      require(maxCode(l) >= 0 && code <= maxCode(l), "corrupt Huffman code")
      vals(valPtr(l) + code - minCode(l)) & 0xff
    }
  }

  /** Flat tables for the encoder: all 12 DC categories as 4-bit codes,
    * all 162 AC run/size symbols as 8-bit codes — canonical, valid DHT
    * (no all-ones code), zero transcription risk vs the Annex K tables,
    * and they exercise the decoder's GENERIC table machinery (ImageIO's
    * standard tables exercise it from the other side in tests). */
  private val DcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.tabulate[Byte](12)(_.toByte)
  private val AcSymbols: Array[Byte] = {
    val syms = Array.newBuilder[Byte]
    syms += 0x00.toByte // EOB
    syms += 0xf0.toByte // ZRL
    for (r <- 0 to 15; s <- 1 to 10) syms += ((r << 4) | s).toByte
    syms.result() // 162 symbols
  }
  private val AcBits = Array(0, 0, 0, 0, 0, 0, 0, AcSymbols.length, 0, 0, 0, 0, 0, 0, 0, 0)

  // ----------------------------------------------------------- bit reader

  /** Entropy-segment bit reader: 0xFF00 unstuffing; restart markers are
    * consumed by [[restart]] at their expected MCU boundaries. A
    * non-stuffed 0xFF anywhere ELSE mid-entropy (truncated or corrupt
    * stream — a conformant scan's Huffman decode never reads past its
    * last padded byte) fails LOUDLY: serving zero bits here would let the
    * decoder re-consume the marker identifier as entropy data and emit
    * silent garbage, breaking the strictness contract the codec tests pin. */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    def bit(): Int = {
      if (cnt == 0) {
        require(pos < data.length, "entropy stream truncated")
        val b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "entropy stream truncated at 0xFF")
          val nxt = data(pos) & 0xff
          require(nxt == 0x00,
            f"unexpected marker 0xFF$nxt%02X inside entropy-coded segment")
          pos += 1 // stuffed byte
        }
        buf = b; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Align to byte boundary and consume an expected RSTn marker. */
    def restart(): Unit = {
      cnt = 0
      require(pos + 1 < data.length && (data(pos) & 0xff) == 0xff &&
        ((data(pos + 1) & 0xff) & 0xf8) == 0xd0, "expected RST marker")
      pos += 2
    }
  }

  /** DC/AC coefficient magnitude decode (spec EXTEND). */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  // -------------------------------------------------------------- decoder

  final case class JpegImage(
      width: Int, height: Int, nComps: Int,
      /** Σ of dequantized DC coefficients of component 0 (oracle-checked). */
      dcSumComp0: Long,
      /** component-0 blocks actually coded. */
      nBlocksComp0: Int,
      /** full-resolution planes: 1 (gray) or 3 (R, G, B). */
      planes: Array[Array[Int]])

  private def rd16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Strict baseline decode. See the object doc for the subset. */
  def decodeJpeg(payload: Array[Byte]): JpegImage = {
    require(payload.length >= 4 && (payload(0) & 0xff) == 0xff &&
      (payload(1) & 0xff) == 0xd8, "not a JPEG payload (no SOI)")
    var o = 2
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var restartInterval = 0
    // frame state
    var w = 0; var h = 0
    var nComps = 0
    var progressive = false
    var compId: Array[Int] = null
    var compH: Array[Int] = null
    var compV: Array[Int] = null
    var compQ: Array[Int] = null
    var planes: Array[Array[Int]] = null // per-comp subsampled planes
    var planeW: Array[Int] = null
    var planeH: Array[Int] = null
    var planeStride: Array[Int] = null
    // per-comp coefficient buffers in ZIGZAG order, MCU-padded block grid:
    // scans (one for baseline, many for progressive) accumulate here, and
    // dequantization + IDCT run once at EOI — the layout progressive
    // decoding requires, shared by the baseline path so there is ONE
    // entropy-to-raster pipeline to trust
    var coefs: Array[Array[Int]] = null
    var blocksPerRow: Array[Int] = null
    var blockRows: Array[Int] = null
    var dcSeen: Array[Boolean] = null
    var sawScan = false
    var dcSum0 = 0L
    var nBlocks0 = 0

    def parseDqt(seg: Array[Byte]): Unit = {
      var p = 0
      while (p < seg.length) {
        val pq = (seg(p) & 0xf0) >> 4
        val tq = seg(p) & 0x0f
        require(pq == 0, "only 8-bit quantization tables supported")
        p += 1
        val t = new Array[Int](64)
        var i = 0
        while (i < 64) { t(Zigzag(i)) = seg(p + i) & 0xff; i += 1 }
        quant(tq) = t
        p += 64
      }
    }
    def parseDht(seg: Array[Byte]): Unit = {
      var p = 0
      while (p < seg.length) {
        val tc = (seg(p) & 0xf0) >> 4
        val th = seg(p) & 0x0f
        p += 1
        val bits = Array.tabulate(16)(i => seg(p + i) & 0xff)
        p += 16
        val n = bits.sum
        val vals = java.util.Arrays.copyOfRange(seg, p, p + n)
        p += n
        val tab = new Huff(bits, vals)
        if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
      }
    }

    var sawEoi = false
    while (!sawEoi) {
      require(o + 1 < payload.length, "truncated JPEG: no EOI")
      require((payload(o) & 0xff) == 0xff, s"expected marker at $o")
      val m = payload(o + 1) & 0xff
      o += 2
      m match {
        case 0xd8 => // spurious SOI
        case 0xd9 => sawEoi = true
        case 0x01 => // TEM, standalone
        case x if x >= 0xd0 && x <= 0xd7 => // stray RST, standalone
        case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 (sequential) or SOF2 (progressive)
          progressive = m == 0xc2
          val len = rd16(payload, o)
          val s = o + 2
          require((payload(s) & 0xff) == 8, "only 8-bit precision supported")
          h = rd16(payload, s + 1)
          w = rd16(payload, s + 3)
          nComps = payload(s + 5) & 0xff
          require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
            s"illegal JPEG dims ${w}x$h")
          require(nComps == 1 || nComps == 3,
            s"only 1- or 3-component JPEG supported, got $nComps")
          compId = new Array[Int](nComps)
          compH = new Array[Int](nComps)
          compV = new Array[Int](nComps)
          compQ = new Array[Int](nComps)
          for (c <- 0 until nComps) {
            compId(c) = payload(s + 6 + 3 * c) & 0xff
            compH(c) = (payload(s + 7 + 3 * c) & 0xf0) >> 4
            compV(c) = payload(s + 7 + 3 * c) & 0x0f
            compQ(c) = payload(s + 8 + 3 * c) & 0xff
          }
          val hs = compH.toSeq
          val vs = compV.toSeq
          require((nComps == 1 && hs == Seq(1) && vs == Seq(1)) ||
            (nComps == 3 && hs == Seq(1, 1, 1) && vs == Seq(1, 1, 1)) ||
            (nComps == 3 && hs == Seq(2, 1, 1) && vs == Seq(2, 1, 1)) ||
            (nComps == 3 && hs == Seq(2, 1, 1) && vs == Seq(1, 1, 1)),
            s"unsupported sampling H=$hs V=$vs (4:4:4, 4:2:2, 4:2:0 only)")
          val hMax = compH.max
          val vMax = compV.max
          planeW = Array.tabulate(nComps)(c =>
            (w.toLong * compH(c) + hMax - 1).toInt / hMax)
          planeH = Array.tabulate(nComps)(c =>
            (h.toLong * compV(c) + vMax - 1).toInt / vMax)
          // padded to full MCU coverage (ceil(dim / MCU span) MCUs × the
          // component's blocks per MCU), not just to whole blocks: a
          // 40-px-wide 4:2:0 image carries 48 px of coded luma
          planeStride = Array.tabulate(nComps)(c =>
            (w + 8 * hMax - 1) / (8 * hMax) * compH(c) * 8)
          planes = Array.tabulate(nComps) { c =>
            val bh = (h + 8 * vMax - 1) / (8 * vMax) * compV(c) * 8
            new Array[Int](planeStride(c) * bh)
          }
          blocksPerRow = Array.tabulate(nComps)(c => planeStride(c) / 8)
          blockRows = Array.tabulate(nComps)(c =>
            (h + 8 * vMax - 1) / (8 * vMax) * compV(c))
          coefs = Array.tabulate(nComps)(c =>
            new Array[Int](blocksPerRow(c) * blockRows(c) * 64))
          dcSeen = new Array[Boolean](nComps)
          o += len
        case x if x >= 0xc3 && x <= 0xcf && x != 0xc4 && x != 0xc8 && x != 0xcc =>
          throw new IllegalArgumentException(
            f"unsupported SOF marker 0xFF$x%02X — sequential/progressive huffman only")
        case 0xc4 =>
          val len = rd16(payload, o)
          parseDht(java.util.Arrays.copyOfRange(payload, o + 2, o + len))
          o += len
        case 0xdb =>
          val len = rd16(payload, o)
          parseDqt(java.util.Arrays.copyOfRange(payload, o + 2, o + len))
          o += len
        case 0xdd =>
          val len = rd16(payload, o)
          restartInterval = rd16(payload, o + 2)
          o += len
        case 0xda =>
          require(planes != null, "SOS before SOF — malformed JPEG")
          sawScan = true
          val len = rd16(payload, o)
          val s = o + 2
          val ns = payload(s) & 0xff
          require(ns >= 1 && ns <= nComps, s"SOS component count $ns")
          val scs = new Array[Int](ns)
          val scanDc = new Array[Huff](nComps)
          val scanAc = new Array[Huff](nComps)
          for (i <- 0 until ns) {
            val cid = payload(s + 1 + 2 * i) & 0xff
            val c = compId.indexOf(cid)
            require(c >= 0, s"SOS references unknown component $cid")
            scs(i) = c
            val tsel = payload(s + 2 + 2 * i) & 0xff
            scanDc(c) = dcTabs((tsel & 0xf0) >> 4)
            scanAc(c) = acTabs(tsel & 0x0f)
          }
          // progression parameters (spectral selection + successive
          // approximation); a sequential frame pins them to the full band
          val ss = payload(s + 1 + 2 * ns) & 0xff
          val se = payload(s + 2 + 2 * ns) & 0xff
          val ahal = payload(s + 3 + 2 * ns) & 0xff
          val ah = (ahal & 0xf0) >> 4
          val al = ahal & 0x0f
          o += len
          val r = new BitReader(payload, o)
          val hMax = compH.max
          val vMax = compV.max
          val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
          val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
          val dcPred = new Array[Int](nComps)
          var eobrun = 0

          def blockBase(c: Int, by: Int, bx: Int): Int =
            (by * blocksPerRow(c) + bx) * 64

          /** Interleaved MCU walk over the scan components (spec A.2.3). */
          def mcuWalk(onBlock: (Int, Int) => Unit): Unit = {
            var mcu = 0
            val n = mcusX * mcusY
            while (mcu < n) {
              if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
                r.restart()
                java.util.Arrays.fill(dcPred, 0)
                eobrun = 0
              }
              val mx = mcu % mcusX
              val my = mcu / mcusX
              var i = 0
              while (i < ns) {
                val c = scs(i)
                var v = 0
                while (v < compV(c)) {
                  var hh = 0
                  while (hh < compH(c)) {
                    onBlock(c, blockBase(c, my * compV(c) + v, mx * compH(c) + hh))
                    hh += 1
                  }
                  v += 1
                }
                i += 1
              }
              mcu += 1
            }
          }

          /** Non-interleaved walk (ns=1, spec A.2.2): block raster over the
            * component's OWN ceil(dim/8) grid — the MCU-padded columns and
            * rows beyond it are not coded in this scan. Restart intervals
            * count these single-block MCUs. */
          def singleWalk(c: Int)(onBlock: (Int, Int) => Unit): Unit = {
            val bw = (planeW(c) + 7) / 8
            val bh = (planeH(c) + 7) / 8
            var blk = 0
            val n = bw * bh
            while (blk < n) {
              if (restartInterval > 0 && blk > 0 && blk % restartInterval == 0) {
                r.restart()
                java.util.Arrays.fill(dcPred, 0)
                eobrun = 0
              }
              onBlock(c, blockBase(c, blk / bw, blk % bw))
              blk += 1
            }
          }

          def walk(onBlock: (Int, Int) => Unit): Unit =
            if (ns == 1) singleWalk(scs(0))(onBlock) else mcuWalk(onBlock)

          def dcDiff(c: Int): Int = {
            val dcT = scanDc(c)
            require(dcT != null, "scan references undefined DC Huffman table")
            val t = dcT.decode(r)
            require(t <= 11, "corrupt DC category")
            extend(r.bits(t), t)
          }

          /** Full-band sequential block: DC diff + run-length AC. */
          def baselineBlock(c: Int, base: Int): Unit = {
            require(scanAc(c) != null, "scan references undefined AC Huffman table")
            dcPred(c) += dcDiff(c)
            coefs(c)(base) = dcPred(c)
            var k = 1
            while (k < 64) {
              val rs = scanAc(c).decode(r)
              val run = (rs & 0xf0) >> 4
              val size = rs & 0x0f
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += run
                require(k < 64, "AC run past block end")
                coefs(c)(base + k) = extend(r.bits(size), size)
                k += 1
              }
            }
          }

          /** Progressive first DC scan (G.1.2.1): diff coded, shifted by Al. */
          def dcFirstBlock(c: Int, base: Int): Unit = {
            dcPred(c) += dcDiff(c)
            coefs(c)(base) = dcPred(c) << al
          }

          /** DC refinement: one raw bit per block, no Huffman tables. */
          def dcRefineBlock(c: Int, base: Int): Unit = {
            if (r.bit() == 1) coefs(c)(base) |= 1 << al
          }

          /** Progressive first AC scan (G.1.2.2): run-length within the
            * Ss..Se band, EOBn codes carry a block-run. */
          def acFirstBlock(c: Int, base: Int): Unit = {
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              var done = false
              while (k <= se && !done) {
                val rs = scanAc(c).decode(r)
                val run = (rs & 0xf0) >> 4
                val size = rs & 0x0f
                if (size == 0) {
                  if (run == 15) k += 16 // ZRL
                  else { // EOBn: this block ends; run covers the NEXT 2^r-1+bits blocks
                    eobrun = (1 << run) - 1 + (if (run > 0) r.bits(run) else 0)
                    done = true
                  }
                } else {
                  k += run
                  require(k <= se, "AC run past band end")
                  coefs(c)(base + k) = extend(r.bits(size), size) << al
                  k += 1
                }
              }
            }
          }

          /** AC refinement (G.1.2.3): every nonzero coefficient passed gets
            * a correction bit; new coefficients arrive as ±1<<Al after a
            * run of zero-HISTORY positions; EOB runs still pay correction
            * bits for the remaining band of every covered block. */
          def acRefineBlock(c: Int, base: Int): Unit = {
            val p1 = 1 << al
            def correct(idx: Int): Unit = {
              val cv = coefs(c)(idx)
              if (r.bit() == 1 && (cv & p1) == 0)
                coefs(c)(idx) = if (cv >= 0) cv + p1 else cv - p1
            }
            var k = ss
            if (eobrun == 0) {
              var done = false
              while (k <= se && !done) {
                val rs = scanAc(c).decode(r)
                var run = (rs & 0xf0) >> 4
                val size = rs & 0x0f
                var newVal = 0
                if (size == 0) {
                  if (run != 15) { // EOBn: covers THIS block too (tail below)
                    eobrun = (1 << run) + (if (run > 0) r.bits(run) else 0)
                    done = true
                  } // run == 15: ZRL — pass 16 zero-history positions below
                } else {
                  require(size == 1, "AC refinement magnitude must be 1")
                  newVal = if (r.bit() == 1) p1 else -p1
                }
                if (!done) {
                  var advancing = true
                  while (advancing && k <= se) {
                    if (coefs(c)(base + k) != 0) { correct(base + k); k += 1 }
                    else if (run == 0) advancing = false // placement slot
                    else { run -= 1; k += 1 }
                  }
                  if (size != 0) {
                    require(k <= se, "AC refinement placement past band end")
                    coefs(c)(base + k) = newVal
                  }
                  k += 1
                }
              }
            }
            if (eobrun > 0) {
              while (k <= se) { // correction bits for the remaining band
                if (coefs(c)(base + k) != 0) correct(base + k)
                k += 1
              }
              eobrun -= 1
            }
          }

          if (!progressive) {
            require(ns == nComps,
              "sequential JPEG scan must be fully interleaved")
            require(ss == 0 && se == 63 && ah == 0 && al == 0,
              "sequential scan must cover the full band at full precision")
            mcuWalk(baselineBlock)
            java.util.Arrays.fill(dcSeen, true)
          } else {
            require(se <= 63 && ss <= se, s"bad spectral band $ss..$se")
            require(ah == 0 || ah == al + 1,
              s"successive approximation must step one bit (Ah=$ah Al=$al)")
            if (ss == 0) {
              require(se == 0, "progressive DC scan must have Se=0")
              if (ah == 0) { walk(dcFirstBlock); scs.foreach(dcSeen(_) = true) }
              else walk(dcRefineBlock)
            } else {
              require(ns == 1, "progressive AC scan must be single-component")
              val c = scs(0)
              require(scanAc(c) != null, "AC scan references undefined Huffman table")
              require(dcSeen(c), "AC scan before the component's first DC scan")
              if (ah == 0) walk(acFirstBlock) else walk(acRefineBlock)
            }
          }
          // skip to the next marker (EOI or the next scan header)
          o = r.pos
          while (o + 1 < payload.length &&
            !((payload(o) & 0xff) == 0xff && (payload(o + 1) & 0xff) != 0x00))
            o += 1
        case _ => // APPn / COM / anything segment-shaped: skip by length
          val len = rd16(payload, o)
          require(len >= 2 && o + len <= payload.length,
            f"marker 0xFF$m%02X declares $len bytes — exceeds the payload")
          o += len
      }
    }
    require(planes != null, "JPEG has no frame (SOF)")
    require(sawScan, "JPEG has no scan (SOS)")
    for (c <- 0 until nComps)
      require(dcSeen(c), s"component $c never received a DC scan")

    // dequantize + IDCT every block — once, at EOI, so sequential and
    // progressive share one entropy-to-raster pipeline
    {
      var c = 0
      var dcSum0Acc = 0L
      var nBlocks0Acc = 0
      val block = new Array[Int](64)
      while (c < nComps) {
        val q = quant(compQ(c))
        require(q != null, "frame references undefined quant table")
        val bw = blocksPerRow(c)
        val stride = planeStride(c)
        var by = 0
        while (by < blockRows(c)) {
          var bx = 0
          while (bx < bw) {
            val base = (by * bw + bx) * 64
            var acNonZero = false
            var k = 0
            while (k < 64) {
              val v = coefs(c)(base + k) * q(Zigzag(k))
              block(Zigzag(k)) = v
              if (k > 0 && v != 0) acNonZero = true
              k += 1
            }
            if (c == 0) {
              dcSum0Acc += coefs(0)(base).toLong * q(0)
              nBlocks0Acc += 1
            }
            if (acNonZero)
              idctInto(block, planes(c), by * 8 * stride + bx * 8, stride)
            else {
              // DC-only fast path (the sparse-block shortcut every real
              // decoder takes): all 64 outputs of the full separable IDCT
              // collapse to the SAME double expression dc·Cos(0)(x)·
              // Cos(0)(y)+128, so computing it once and filling is
              // bit-identical to idctInto — pinned against the full path
              // in OperatorSpec for every DC value
              val s = block(0) * Cos(0)(0) * Cos(0)(0)
              val p = StrictMath.round(s + 128.0).toInt
              val v = math.max(0, math.min(255, p))
              val off = by * 8 * stride + bx * 8
              var y = 0
              while (y < 8) {
                java.util.Arrays.fill(planes(c), off + y * stride,
                  off + y * stride + 8, v)
                y += 1
              }
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      dcSum0 = dcSum0Acc
      nBlocks0 = nBlocks0Acc
    }

    // upsample + color-convert to full-resolution output planes
    val out =
      if (nComps == 1) {
        val bw = planeStride(0)
        val g = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { g(y * w + x) = planes(0)(y * bw + x); x += 1 }
          y += 1
        }
        Array(g)
      } else {
        // triangle ("fancy") chroma upsampling for 2:1 axes — the
        // libjpeg default the JDK's own decoder uses, so our raster
        // agrees with it to quantization noise (replication would add a
        // half-sample chroma shift that reads as a systematic error on
        // every gradient)
        val full = Array.tabulate(nComps)(c =>
          upsamplePlane(planes(c), planeStride(c), planeW(c), planeH(c), w, h))
        val rr = new Array[Int](w * h)
        val gg = new Array[Int](w * h)
        val bb = new Array[Int](w * h)
        var k = 0
        while (k < w * h) {
          val yy = full(0)(k)
          val cb = full(1)(k) - 128
          val cr = full(2)(k) - 128
          def clamp(d: Double): Int =
            math.max(0, math.min(255, StrictMath.round(d).toInt))
          rr(k) = clamp(yy + 1.402 * cr)
          gg(k) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          bb(k) = clamp(yy + 1.772 * cb)
          k += 1
        }
        Array(rr, gg, bb)
      }
    JpegImage(w, h, nComps, dcSum0, nBlocks0, out)
  }

  /** Upsample one component plane (logical pw×ph at `stride`) to the
    * full w×h raster. Exact-size axes copy; 2:1 axes use the separable
    * triangle kernel (out 2i = (3·s[i] + s[i−1] + 2)/4, out 2i+1 =
    * (3·s[i] + s[i+1] + 2)/4, edges clamped) — libjpeg's fancy
    * upsampling, which the JDK decoder also applies. Other ratios
    * (never produced by the accepted samplings) replicate. */
  private def upsamplePlane(p: Array[Int], stride: Int, pw: Int, ph: Int,
      w: Int, h: Int): Array[Int] = {
    // horizontal pass: pw -> w
    val hBuf = new Array[Int](w * ph)
    var y = 0
    while (y < ph) {
      var x = 0
      while (x < w) {
        hBuf(y * w + x) =
          if (pw == w) p(y * stride + x)
          else if (2 * pw >= w) {
            val i = math.min(x >> 1, pw - 1)
            val n = if ((x & 1) == 0) math.max(i - 1, 0) else math.min(i + 1, pw - 1)
            (3 * p(y * stride + i) + p(y * stride + n) + 2) >> 2
          } else p(y * stride + math.min(x * pw / w, pw - 1))
        x += 1
      }
      y += 1
    }
    // vertical pass: ph -> h
    if (ph == h) hBuf.take(w * h)
    else {
      val out = new Array[Int](w * h)
      var yy = 0
      while (yy < h) {
        var x = 0
        while (x < w) {
          out(yy * w + x) =
            if (2 * ph >= h) {
              val i = math.min(yy >> 1, ph - 1)
              val n = if ((yy & 1) == 0) math.max(i - 1, 0) else math.min(i + 1, ph - 1)
              (3 * hBuf(i * w + x) + hBuf(n * w + x) + 2) >> 2
            } else hBuf(math.min(yy * ph / h, ph - 1) * w + x)
          x += 1
        }
        yy += 1
      }
      out
    }
  }

  /** Separable IDCT of one dequantized block into `plane` at `off` with
    * row stride `stride`; output level-shifted (+128) and clamped. */
  private def idctInto(coeffs: Array[Int], plane: Array[Int], off: Int,
      stride: Int): Unit = {
    val tmp = new Array[Double](64)
    // rows: tmp = F · C   (sum over u of F(v,u)·Cos(u)(x))
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += coeffs(v * 8 + u) * Cos(u)(x); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    // cols: out = C^T · tmp
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u)(y) * tmp(u * 8 + x); u += 1 }
        val p = StrictMath.round(s + 128.0).toInt
        plane(off + y * stride + x) = math.max(0, math.min(255, p))
        y += 1
      }
      x += 1
    }
  }

  // -------------------------------------------------------------- encoder

  /** Image geometry for [[encodeJpegGray]]: width 8 ⇒ one block per row
    * band; height = rows padded to a block multiple. */
  val JpegWidth = 8

  /** Exact oracle-side DC: round(Σ(p−128)/8) away from zero — the true
    * FDCT F(0,0) of the level-shifted block, as an integer formula both
    * engines reproduce. */
  private[graft] def dcOf(blockSum: Long): Long = {
    val s = blockSum - 64L * 128L
    if (s >= 0) (s + 4) / 8 else -((-s + 4) / 8)
  }

  /** Flat-block grid for `n` source bytes: a square-ish block raster
    * (bw = ⌈√n⌉ columns, bh = ⌈n/bw⌉ rows, min 1×1) so both pixel
    * dimensions stay far under the SOF u16 ceiling at any payload size
    * (a single 8-wide column overflows 65535 px past 8191 bytes — the
    * hostile-corpus 50 kB docs). Trailing pad blocks are flat zero.
    * Mirrored literally by the jpeg_phash oracle. */
  def flatGrid(n: Int): (Int, Int) = {
    val nv = math.max(1, n)
    val bw = math.ceil(math.sqrt(nv.toDouble)).toInt
    val bh = (nv + bw - 1) / bw
    (bw, bh)
  }

  /** Encode `bytes` as a baseline grayscale JPEG of FLAT 8×8 blocks:
    * byte k becomes the flat block at raster position (k / bw, k % bw)
    * of the [[flatGrid]], pad blocks are flat zero. The geometry that
    * makes the lossy codec EXACTLY lossless: a flat block's FDCT has
    * only its DC term (every AC is (v−128)·Σcos = 0 by cosine
    * orthogonality), DC = 8v−1024 survives all-ones quantization
    * exactly, and the DC-only IDCT reproduces the flat block
    * bit-for-bit (pinned across all 256 values in OperatorSpec) — so
    * the decoded raster, hence its per-block mean luma, is an integer
    * function of the source bytes that a SQL oracle can replay while
    * the FULL entropy+decode engine still runs on every block. This is
    * jpeg_phash's container: the classic pHash recipe hashes the
    * 8×-downsampled luma, which for this image IS the byte stream
    * (zero-padded to the grid). The writer emits each block as DC diff
    * + EOB directly — the coefficients are exact by construction, so
    * running the double FDCT on 64× expanded pixels would only add
    * rounding risk and O(64²) work per byte. */
  def encodeJpegFlat(bytes: Array[Byte]): Array[Byte] = {
    val (bw, bh) = flatGrid(bytes.length)
    val w = bw * 8
    val h = bh * 8
    val dcH = new Huff(DcBits, DcVals)
    val acH = new Huff(AcBits, AcSymbols)

    val out = new java.io.ByteArrayOutputStream(bytes.length * 2 + 512)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    // identical header layout to encodeJpegGray, square-ish geometry
    marker(0xd8)
    marker(0xdb); w16(2 + 1 + 64); w8(0x00)
    for (_ <- 0 until 64) w8(1)
    marker(0xc0); w16(2 + 6 + 3); w8(8); w16(h); w16(w); w8(1)
    w8(1); w8(0x11); w8(0)
    marker(0xc4); w16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcSymbols.length))
    w8(0x00); DcBits.foreach(w8); DcVals.foreach(b => w8(b & 0xff))
    w8(0x10); AcBits.foreach(w8); AcSymbols.foreach(b => w8(b & 0xff))
    marker(0xda); w16(2 + 1 + 2 + 3); w8(1); w8(1); w8(0x00)
    w8(0); w8(63); w8(0)

    var bitBuf = 0L
    var bitCnt = 0
    def putBits(code: Int, len: Int): Unit = {
      bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
      bitCnt += len
      while (bitCnt >= 8) {
        val b = ((bitBuf >> (bitCnt - 8)) & 0xff).toInt
        w8(b)
        if (b == 0xff) w8(0x00)
        bitCnt -= 8
      }
    }
    def putSym(huff: Huff, sym: Int): Unit = {
      val packed = huff.enc(sym)
      require(packed != 0, s"symbol $sym has no code")
      putBits(packed & 0xffffff, packed >> 24)
    }
    var dcPred = 0
    var k = 0
    val nBlocks = bw * bh
    while (k < nBlocks) {
      val v = if (k < bytes.length) bytes(k) & 0xff else 0
      val dc = 8 * v - 1024 // exact flat-block F(0,0) under all-ones quant
      val diff = dc - dcPred
      dcPred = dc
      val t = category(diff)
      putSym(dcH, t)
      if (t > 0) putBits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
      putSym(acH, 0x00) // EOB: every AC of a flat block is exactly 0
      k += 1
    }
    if (bitCnt > 0) {
      val rem = 8 - bitCnt
      putBits((1 << rem) - 1, rem)
    }
    marker(0xd9)
    out.toByteArray
  }

  /** Encode `bytes` as a baseline grayscale JPEG: pixels = the bytes
    * row-major at width 8, zero-padded to whole 8×8 blocks (min 1),
    * all-ones quantization (lossless on quantized coefficients), flat
    * Huffman tables, spec-true DC via [[dcOf]] and double FDCT ACs. */
  def encodeJpegGray(bytes: Array[Byte]): Array[Byte] = {
    val w = JpegWidth
    val rows = math.max(1, (bytes.length + w - 1) / w)
    val h = (rows + 7) / 8 * 8
    val nBlocks = h / 8
    val dcH = new Huff(DcBits, DcVals)
    val acH = new Huff(AcBits, AcSymbols)

    val out = new java.io.ByteArrayOutputStream(bytes.length * 2 + 512)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    // SOI
    marker(0xd8)
    // DQT: table 0, all ones
    marker(0xdb); w16(2 + 1 + 64); w8(0x00)
    for (_ <- 0 until 64) w8(1)
    // SOF0: 8-bit, h×w, 1 component (id 1, 1x1, q-table 0)
    marker(0xc0); w16(2 + 6 + 3); w8(8); w16(h); w16(w); w8(1)
    w8(1); w8(0x11); w8(0)
    // DHT: DC table 0 + AC table 0
    marker(0xc4); w16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcSymbols.length))
    w8(0x00); DcBits.foreach(w8); DcVals.foreach(b => w8(b & 0xff))
    w8(0x10); AcBits.foreach(w8); AcSymbols.foreach(b => w8(b & 0xff))
    // SOS: 1 component, DC0/AC0, full spectral selection
    marker(0xda); w16(2 + 1 + 2 + 3); w8(1); w8(1); w8(0x00)
    w8(0); w8(63); w8(0)

    // entropy-coded data with byte stuffing
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(code: Int, len: Int): Unit = {
      bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
      bitCnt += len
      while (bitCnt >= 8) {
        val b = ((bitBuf >> (bitCnt - 8)) & 0xff).toInt
        w8(b)
        if (b == 0xff) w8(0x00)
        bitCnt -= 8
      }
    }
    def putSym(huff: Huff, sym: Int): Unit = {
      val packed = huff.enc(sym)
      require(packed != 0, s"symbol $sym has no code")
      putBits(packed & 0xffffff, packed >> 24)
    }
    def putMagnitude(v: Int): Unit = {
      val t = category(v)
      if (t > 0) {
        val bitsV = if (v >= 0) v else v + (1 << t) - 1
        putBits(bitsV, t)
      }
    }

    val block = new Array[Int](64) // level-shifted samples
    val fdct = new Array[Int](64)  // quantized coefficients, raster order
    var dcPred = 0
    var b = 0
    while (b < nBlocks) {
      var sum = 0L
      var i = 0
      while (i < 64) {
        val k = b * 64 + i
        val p = if (k < bytes.length) bytes(k) & 0xff else 0
        block(i) = p - 128
        sum += p
        i += 1
      }
      // DC via the exact integer formula (== rounded true FDCT DC)
      fdct(0) = dcOf(sum).toInt
      // ACs via the double FDCT, rounded away from zero
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          if (u != 0 || v != 0) {
            var s = 0.0
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                // Cos already carries c(u)/2 per axis, so the pairwise
                // product IS the spec's (1/4)·c(u)·c(v) factor
                s += block(y * 8 + x) * Cos(u)(x) * Cos(v)(y)
                x += 1
              }
              y += 1
            }
            val r = if (s >= 0) StrictMath.floor(s + 0.5) else StrictMath.ceil(s - 0.5)
            fdct(v * 8 + u) = r.toInt
          }
          u += 1
        }
        v += 1
      }
      // emit DC diff
      val diff = fdct(0) - dcPred
      dcPred = fdct(0)
      putSym(dcH, category(diff))
      putMagnitude(diff)
      // emit ACs in zigzag with run-lengths
      var run = 0
      var k = 1
      while (k < 64) {
        val c = fdct(Zigzag(k))
        if (c == 0) run += 1
        else {
          while (run >= 16) { putSym(acH, 0xf0); run -= 16 }
          val t = category(c)
          require(t <= 10, "AC coefficient out of the flat table's range")
          putSym(acH, (run << 4) | t)
          putMagnitude(c)
          run = 0
        }
        k += 1
      }
      if (run > 0) putSym(acH, 0x00) // EOB
      b += 1
    }
    // pad the final partial byte with 1 bits (spec B.1.1.5); putBits
    // flushes the completed byte (stuffing a 0x00 after 0xFF if needed)
    if (bitCnt > 0) {
      val rem = 8 - bitCnt
      putBits((1 << rem) - 1, rem)
    }
    marker(0xd9)
    out.toByteArray
  }
}
