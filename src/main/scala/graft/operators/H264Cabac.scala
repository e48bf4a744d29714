package graft.operators

/** H.264/AVC CABAC entropy decoding for the INTRA path (ITU-T H.264
  * §9.3, entropy_coding_mode_flag = 1) — hand-written clean-room
  * encoder/decoder pair reusing q303/q307/q312's prediction + transform
  * machinery ([[H264.reconstructMb]]) unchanged (VERDICT r15 item 1).
  * Covers: the binary arithmetic coding engine (§9.3.3.2 decode /
  * §9.3.4 encode: 6-bit-quantized range subdivision via rangeTabLPS,
  * the 64-state probability FSM, renormalization, bypass, terminate,
  * flush), cabac_alignment_one_bit, I-slice mb_type / intra pred mode /
  * coded_block_pattern / mb_qp_delta binarizations with neighbor-based
  * context increments, and the full CABAC residual block chain:
  * coded_block_flag (per-category neighbor contexts), the significance
  * + last-significant map (position-indexed contexts), and
  * coeff_abs_level_minus1 as UEG0 (TU prefix with the numEq1/numGt1
  * adaptive contexts, bypass Exp-Golomb suffix past uCoff 14, bypass
  * signs) in reverse scan order.
  *
  * Clean-room provenance and documented SCOPE BOUNDS:
  *
  *  - [[RangeTabLPS]] and [[TransIdxLPS]] are transcribed from Table
  *    9-35/9-36 (the engine's only tables; H264CabacSpec pins their
  *    structural invariants — column monotonicity, the {128,176,208,
  *    240} head row, the {2,2,2,2} state-62 row, the absorbing state
  *    63 — and the engine is additionally gated by a randomized
  *    encode∘decode = id sweep over mixed decision/bypass/terminate
  *    bin sequences). transIdxMPS is the closed form min(s+1, 62).
  *  - Context INITIALIZATION is the documented UNIFORM stand-in:
  *    every context starts at (pStateIdx 0, valMPS 0), the
  *    equiprobable state. Table 9-12..9-33's trained (m, n) init
  *    values affect only coding EFFICIENCY — any encoder/decoder-
  *    shared init yields a decodable stream — and are deliberately
  *    NOT transcribed from memory (the same policy as Mp2's B.3
  *    window and MP3's pretab). Streams from this encoder are
  *    therefore spec-STRUCTURED but not interoperable with decoders
  *    that apply the trained init; the engine, binarizations, and
  *    context-increment derivations are the normative algorithms.
  *  - Per-bin context assignments inside multi-bin binarizations
  *    (mb_type's I_16x16 suffix, CBP chroma's second bin) follow the
  *    §9.3.3.1.1 structure with the exact Table 9-39 row pinned in
  *    H264CabacSpec as this repo's convention.
  *  - Slice scope: IDR I slices only (mixed I_16x16 + I_NxN MBs,
  *    mb_qp_delta 0, deblocking disabled, QP ≤ 29). I_PCM's engine
  *    re-initialization, inter CABAC and temporal prediction stay
  *    fall-throughs (decode returns None). Unlike CAVLC's me(v)
  *    subset, CBP here is bin-coded, so I_NxN MBs sweep ALL 48
  *    coded_block_pattern values.
  *  - The arithmetic decoder zero-extends past the RBSP end (the
  *    9-bit offset lookahead can run a few bits past the final flush;
  *    this is the normative reason cabac_zero_words exist).
  */
object H264Cabac {

  import H264.{ConstructH, H264Frame, H264Stream, LevelSum, MbData, MbLevels,
    blkPos, newPlanes, predI4Mode}

  // -------------------------------------------------------------------
  // engine tables (Table 9-35 / 9-36)
  // -------------------------------------------------------------------

  /** rangeTabLPS[pStateIdx][qCodIRangeIdx]: the LPS subinterval width
    * for the 6-bit-quantized range.
    */
  val RangeTabLPS: Array[Array[Int]] = Array(
    Array(128, 176, 208, 240), Array(128, 167, 197, 227),
    Array(128, 158, 187, 216), Array(123, 150, 178, 205),
    Array(116, 142, 169, 195), Array(111, 135, 160, 185),
    Array(105, 128, 152, 175), Array(100, 122, 144, 166),
    Array(95, 116, 137, 158), Array(90, 110, 130, 150),
    Array(85, 104, 123, 142), Array(81, 99, 117, 135),
    Array(77, 94, 111, 128), Array(73, 89, 105, 122),
    Array(69, 85, 100, 116), Array(66, 80, 95, 110),
    Array(62, 76, 90, 104), Array(59, 72, 86, 99),
    Array(56, 69, 81, 94), Array(53, 65, 77, 89),
    Array(51, 62, 73, 85), Array(48, 59, 69, 80),
    Array(46, 56, 66, 76), Array(43, 53, 63, 72),
    Array(41, 50, 59, 69), Array(39, 48, 56, 65),
    Array(37, 45, 54, 62), Array(35, 43, 51, 59),
    Array(33, 41, 48, 56), Array(32, 39, 46, 53),
    Array(30, 37, 43, 50), Array(28, 35, 41, 48),
    Array(27, 33, 39, 45), Array(26, 31, 37, 43),
    Array(24, 30, 35, 41), Array(23, 28, 33, 39),
    Array(22, 27, 32, 37), Array(21, 26, 30, 35),
    Array(20, 24, 29, 33), Array(19, 23, 27, 31),
    Array(18, 22, 26, 30), Array(17, 21, 25, 28),
    Array(16, 20, 23, 27), Array(15, 19, 22, 25),
    Array(14, 18, 21, 24), Array(14, 17, 20, 23),
    Array(13, 16, 19, 22), Array(12, 15, 18, 21),
    Array(12, 14, 17, 20), Array(11, 14, 16, 19),
    Array(11, 13, 15, 18), Array(10, 12, 15, 17),
    Array(10, 12, 14, 16), Array(9, 11, 13, 15),
    Array(9, 11, 12, 14), Array(8, 10, 12, 14),
    Array(8, 9, 11, 13), Array(7, 9, 11, 12),
    Array(7, 9, 10, 12), Array(7, 8, 10, 11),
    Array(6, 8, 9, 11), Array(6, 7, 9, 10),
    Array(6, 7, 8, 9), Array(2, 2, 2, 2))

  /** State transition after an LPS (Table 9-36). */
  val TransIdxLPS: Array[Int] = Array(
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 23, 24, 24,
    25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33, 33,
    33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 63, 63)

  /** State transition after an MPS: min(s + 1, 62); 63 is absorbing. */
  def transIdxMPS(s: Int): Int = if (s >= 62) (if (s == 63) 63 else 62) else s + 1

  // -------------------------------------------------------------------
  // context index map (the intra subset of §9.3.3.1's ctxIdx space)
  // -------------------------------------------------------------------
  val CtxMbTypeI = 3 // + inc 0..2; suffix bins at 6/7/8 (pinned convention)
  val CtxMbQpDelta = 60 // + inc 0..3
  val CtxIntraChroma = 64 // bin0 + inc 0..2; bins 1-2 at 67
  val CtxPrevI4Mode = 68
  val CtxRemI4Mode = 69
  val CtxCbpLuma = 73 // + inc 0..3
  val CtxCbpChroma = 77 // bin0 + inc 0..3; bin1 at 81 + inc 0..3
  val CtxCbf = 85 // + cat*4 + inc 0..3
  /** sig / last catOffsets: 15/14/15/3/14 contexts per ctxBlockCat. */
  val SigCatOffset: Array[Int] = Array(0, 15, 29, 44, 47)
  val CtxSig = 105
  val CtxLast = 166
  /** coeff_abs catOffsets: 10/10/10/9/10 contexts per cat (chroma DC's
    * suffix inc caps at 3, hence its 9).
    */
  val AbsCatOffset: Array[Int] = Array(0, 10, 20, 30, 39)
  val CtxAbs = 227
  val CtxCount = 280

  /** ctxBlockCat: 0 = Intra16x16DCLevel, 1 = Intra16x16ACLevel,
    * 2 = LumaLevel4x4, 3 = ChromaDCLevel, 4 = ChromaACLevel.
    */
  final val CatI16Dc = 0
  final val CatI16Ac = 1
  final val CatLuma4 = 2
  final val CatChromaDc = 3
  final val CatChromaAc = 4

  // -------------------------------------------------------------------
  // arithmetic engine (§9.3.4 encode / §9.3.3.2 decode)
  // -------------------------------------------------------------------

  /** One adaptive context: 64-state probability index + MPS value.
    * Uniform init (pState 0, MPS 0) — see the scope note above.
    */
  private def freshContexts(n: Int): (Array[Int], Array[Int]) =
    (new Array[Int](n), new Array[Int](n))

  /** `nCtx` sizes the adaptive-context space: H.264 intra uses the
    * default [[CtxCount]]; H.265 ([[H265]]) reuses this exact engine —
    * HEVC §9.3.4.3 specifies the SAME rangeTabLPS/transIdx tables and
    * renormalization as H.264 §9.3 — with its own context map.
    */
  final class Encoder(w: H264.BitWriter, nCtx: Int = CtxCount) {
    private var low = 0
    private var range = 510
    private var bitsOutstanding = 0
    private var firstBit = true
    private val (state, mps) = freshContexts(nCtx)

    private def putBit(b: Int): Unit = {
      if (firstBit) firstBit = false else w.put(b, 1)
      while (bitsOutstanding > 0) { w.put(1 - b, 1); bitsOutstanding -= 1 }
    }
    private def renorm(): Unit =
      while (range < 256) {
        if (low >= 512) { putBit(1); low -= 512 }
        else if (low < 256) putBit(0)
        else { bitsOutstanding += 1; low -= 256 }
        range <<= 1; low <<= 1
      }
    def decision(ctxIdx: Int, bin: Int): Unit = {
      val s = state(ctxIdx)
      val rLps = RangeTabLPS(s)((range >> 6) & 3)
      range -= rLps
      if (bin != mps(ctxIdx)) {
        low += range
        range = rLps
        if (s == 0) mps(ctxIdx) = 1 - mps(ctxIdx)
        state(ctxIdx) = TransIdxLPS(s)
      } else state(ctxIdx) = transIdxMPS(s)
      renorm()
    }
    def bypass(bin: Int): Unit = {
      low <<= 1
      if (bin == 1) low += range
      if (low >= 1024) { putBit(1); low -= 1024 }
      else if (low < 512) putBit(0)
      else { bitsOutstanding += 1; low -= 512 }
    }
    def terminate(bin: Int): Unit = {
      range -= 2
      if (bin == 1) { low += range; flush() }
      else renorm()
    }
    private def flush(): Unit = {
      range = 2
      renorm()
      putBit((low >> 9) & 1)
      w.put(((low >> 7) & 3) | 1, 2) // includes the rbsp stop bit
    }
  }

  final class Decoder(bytes: Array[Byte], startBit: Int,
      nCtx: Int = CtxCount) {
    private var pos = startBit
    private def readBit(): Int =
      if (pos >= bytes.length * 8) { pos += 1; 0 } // RBSP zero extension
      else {
        val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
        pos += 1
        b
      }
    private var range = 510
    private var offset = {
      var v = 0; var i = 0
      while (i < 9) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    private val (state, mps) = freshContexts(nCtx)

    def decision(ctxIdx: Int): Int = {
      val s = state(ctxIdx)
      val rLps = RangeTabLPS(s)((range >> 6) & 3)
      range -= rLps
      val bin =
        if (offset >= range) {
          val b = 1 - mps(ctxIdx)
          offset -= range
          range = rLps
          if (s == 0) mps(ctxIdx) = 1 - mps(ctxIdx)
          state(ctxIdx) = TransIdxLPS(s)
          b
        } else {
          state(ctxIdx) = transIdxMPS(s)
          mps(ctxIdx)
        }
      while (range < 256) { range <<= 1; offset = (offset << 1) | readBit() }
      bin
    }
    def bypass(): Int = {
      offset = (offset << 1) | readBit()
      if (offset >= range) { offset -= range; 1 } else 0
    }
    def terminate(): Int = {
      range -= 2
      if (offset >= range) 1
      else {
        while (range < 256) { range <<= 1; offset = (offset << 1) | readBit() }
        0
      }
    }
  }

  // -------------------------------------------------------------------
  // deterministic construction (shared by the q314 gate, its DuckDB
  // oracle — which re-derives every formula in SQL — and the spec)
  // -------------------------------------------------------------------
  object ConstructC {
    /** I_NxN CBP sweep over ALL 48 legal values (bin-coded CBP has no
      * transcription bound, unlike CAVLC's me(v) subset). The /2 keeps
      * the sweep's parity free of the isI4 class's (id+mb) even parity.
      */
    def cbpI4(id: Long, mb: Int): Int = (((id + 29L * mb) / 2) % 48).toInt

    /** I_16x16 DC block with WIDE magnitudes (1..25): pushes
      * coeff_abs_level_minus1 past uCoff 14 into the bypass EG0
      * suffix. Positions/count/sign mirror
      * [[H264.ConstructH.blockLevels]] at tag 0.
      */
    def wideDc(id: Long, f: Int, mb: Int): Array[Int] = {
      val out = new Array[Int](16)
      val n = ((id + f + mb) % 4).toInt
      if (n == 0) return out
      val step = 1 + (id % 4).toInt
      val maxBase = 15 - (n - 1) * step
      val base = ((id + mb) % (maxBase + 1)).toInt
      var k = 0
      while (k < n) {
        val mag = 1 + ((id + mb + 3L * k + f) % 25).toInt
        val sgn = if ((id + mb + k) % 2 == 0) 1 else -1
        out(base + k * step) = mag * sgn
        k += 1
      }
      out
    }
  }

  // -------------------------------------------------------------------
  // per-slice neighbor state for context increments
  // -------------------------------------------------------------------
  private[operators] final class SliceCtx(wMb: Int, hMb: Int) {
    // per-MB: -1 undecoded, 0 I_NxN, 1 I_16x16 (mb_type bin0 ctxInc)
    val mbKind = Array.fill(wMb * hMb)(-1)
    // per-MB intra_chroma_pred_mode (for its bin0 ctxInc)
    val chromaMode = new Array[Int](wMb * hMb)
    // per-8x8 luma CBP bits (coded_block_pattern luma ctxInc)
    val cbpLumaBit = Array.ofDim[Int](hMb * 2, wMb * 2)
    // per-MB chroma CBP value (chroma ctxInc)
    val cbpChroma = new Array[Int](wMb * hMb)
    // coded_block_flag stores per category
    val lumaDcCbf = Array.fill(wMb * hMb)(-1) // -1: no DC block (I_NxN)
    val lumaCbf = Array.ofDim[Int](hMb * 4, wMb * 4)
    val chromaDcCbf = Array.ofDim[Int](2, wMb * hMb)
    val chromaAcCbf = Array.ofDim[Int](2, hMb * 2, wMb * 2)
    val levels = new LevelSum

    def avail(mbX: Int, mbY: Int): Boolean =
      mbX >= 0 && mbY >= 0 && mbX < wMb && mbY < hMb &&
        mbKind(mbY * wMb + mbX) >= 0

    /** mb_type bin0 ctxInc: neighbors coded and NOT I_NxN. */
    def mbTypeInc(mbX: Int, mbY: Int): Int = {
      def c(x: Int, y: Int) =
        if (avail(x, y) && mbKind(y * wMb + x) != 0) 1 else 0
      c(mbX - 1, mbY) + c(mbX, mbY - 1)
    }
    /** intra_chroma_pred_mode bin0 ctxInc: neighbors with mode != 0. */
    def chromaInc(mbX: Int, mbY: Int): Int = {
      def c(x: Int, y: Int) =
        if (avail(x, y) && chromaMode(y * wMb + x) != 0) 1 else 0
      c(mbX - 1, mbY) + c(mbX, mbY - 1)
    }
    /** CBP luma ctxInc for 8x8 block (bx, by) in MB grid coords: the
      * INVERTED neighbor bits (condTerm = 1 when the neighboring 8x8
      * is NOT coded; unavailable → 0).
      */
    def cbpLumaInc(mbX: Int, mbY: Int, bx: Int, by: Int): Int = {
      val gx = mbX * 2 + bx; val gy = mbY * 2 + by
      def c(x: Int, y: Int): Int = {
        if (x < 0 || y < 0) return 0
        if (!avail(x / 2, y / 2)) return 0
        if (cbpLumaBit(y)(x) != 0) 0 else 1
      }
      c(gx - 1, gy) + 2 * c(gx, gy - 1)
    }
    /** CBP chroma ctxIncs: bin0 counts neighbors with cbpChroma != 0,
      * bin1 those with cbpChroma == 2 (unavailable → 0).
      */
    def cbpChromaInc(mbX: Int, mbY: Int, bin: Int): Int = {
      def c(x: Int, y: Int) =
        if (avail(x, y) &&
          (if (bin == 0) cbpChroma(y * wMb + x) != 0
           else cbpChroma(y * wMb + x) == 2)) 1 else 0
      c(mbX - 1, mbY) + 2 * c(mbX, mbY - 1)
    }
    /** coded_block_flag ctxInc = condA + 2·condB, where an unavailable
      * neighbor MB counts 1 when the CURRENT MB is intra-coded and 0
      * when it is inter (§9.3.3.1.1.9 — `curIntra`, added for the
      * q316 P-slice path), a missing block in an available MB counts
      * 0, else the stored cbf.
      */
    def cbfInc(cat: Int, mbX: Int, mbY: Int, blk: Int, comp: Int,
        curIntra: Boolean = true): Int = {
      val u = if (curIntra) 1 else 0
      def lumaDcAt(x: Int, y: Int): Int =
        if (!avail(x, y)) u
        else math.max(0, lumaDcCbf(y * wMb + x))
      def luma4At(gx: Int, gy: Int): Int =
        if (gx < 0 || gy < 0) u // outside the picture
        else if (!avail(gx / 4, gy / 4)) u
        else lumaCbf(gy)(gx)
      def chromaDcAt(x: Int, y: Int): Int =
        if (!avail(x, y)) u else chromaDcCbf(comp)(y * wMb + x)
      def chroma4At(gx: Int, gy: Int): Int =
        if (gx < 0 || gy < 0) u
        else if (!avail(gx / 2, gy / 2)) u
        else chromaAcCbf(comp)(gy)(gx)
      cat match {
        case CatI16Dc =>
          lumaDcAt(mbX - 1, mbY) + 2 * lumaDcAt(mbX, mbY - 1)
        case CatI16Ac | CatLuma4 =>
          val (x4, y4) = H264.blkPos(blk)
          val gx = mbX * 4 + x4; val gy = mbY * 4 + y4
          luma4At(gx - 1, gy) + 2 * luma4At(gx, gy - 1)
        case CatChromaDc =>
          chromaDcAt(mbX - 1, mbY) + 2 * chromaDcAt(mbX, mbY - 1)
        case _ =>
          val gx = mbX * 2 + blk % 2; val gy = mbY * 2 + blk / 2
          chroma4At(gx - 1, gy) + 2 * chroma4At(gx, gy - 1)
      }
    }

    /** coded_block_pattern as bins (§9.3.2.6): four luma bits, one per
      * 8x8, then the chroma prefix/suffix; records both parts for the
      * neighbors' increments.
      */
    def encodeCbp(e: Encoder, mbIdx: Int, mbX: Int, mbY: Int,
        cbp: Int): Unit = {
      val cbpL = cbp & 15; val cbpC = cbp >> 4
      for (b8 <- 0 until 4) {
        val bx = b8 % 2; val by = b8 / 2
        e.decision(CtxCbpLuma + cbpLumaInc(mbX, mbY, bx, by),
          (cbpL >> b8) & 1)
        cbpLumaBit(mbY * 2 + by)(mbX * 2 + bx) = (cbpL >> b8) & 1
      }
      e.decision(CtxCbpChroma + cbpChromaInc(mbX, mbY, 0),
        if (cbpC > 0) 1 else 0)
      if (cbpC > 0)
        e.decision(CtxCbpChroma + 4 + cbpChromaInc(mbX, mbY, 1),
          if (cbpC == 2) 1 else 0)
      cbpChroma(mbIdx) = cbpC
    }

    /** Reads what [[encodeCbp]] wrote. */
    def decodeCbp(d: Decoder, mbIdx: Int, mbX: Int, mbY: Int): Int = {
      var cbpL = 0
      for (b8 <- 0 until 4) {
        val bx = b8 % 2; val by = b8 / 2
        val bit = d.decision(CtxCbpLuma + cbpLumaInc(mbX, mbY, bx, by))
        cbpL |= bit << b8
        cbpLumaBit(mbY * 2 + by)(mbX * 2 + bx) = bit
      }
      var cbpC = 0
      if (d.decision(CtxCbpChroma + cbpChromaInc(mbX, mbY, 0)) == 1)
        cbpC = 1 + d.decision(CtxCbpChroma + 4 + cbpChromaInc(mbX, mbY, 1))
      cbpChroma(mbIdx) = cbpC
      cbpL | (cbpC << 4)
    }

    /** One MB's luma 4x4 (category `lumaCat`, in the 8x8 quadrants set
      * in the `cbpL` mask), chroma DC and chroma AC blocks in syntax
      * order, storing each coded_block_flag and adding the levels to
      * the checksum.
      */
    def encodeBlocks(e: Encoder, mbIdx: Int, mbX: Int, mbY: Int,
        lumaCat: Int, cbpL: Int, cbpC: Int, lv: MbLevels,
        curIntra: Boolean): Unit = {
      val (ac, cdc, cac) = lv
      for (b <- 0 until 16 if ((cbpL >> (b / 4)) & 1) != 0) {
        levels.add(mbIdx, 1 + b, ac(b))
        val (x4, y4) = blkPos(b)
        lumaCbf(mbY * 4 + y4)(mbX * 4 + x4) = encodeResidual(e, this,
          lumaCat, mbX, mbY, b, 0, ac(b), curIntra)
      }
      if (cbpC > 0) for (c <- 0 until 2) {
        levels.add(mbIdx, 17 + c, cdc(c))
        chromaDcCbf(c)(mbIdx) = encodeResidual(e, this, CatChromaDc,
          mbX, mbY, 0, c, cdc(c), curIntra)
      }
      if (cbpC == 2) for (c <- 0 until 2; b <- 0 until 4) {
        levels.add(mbIdx, 19 + 4 * c + b, cac(c)(b))
        chromaAcCbf(c)(mbY * 2 + b / 2)(mbX * 2 + b % 2) =
          encodeResidual(e, this, CatChromaAc, mbX, mbY, b, c, cac(c)(b),
            curIntra)
      }
    }

    /** Reads what [[encodeBlocks]] wrote; luma blocks hold `lumaLen`
      * coefficients. Uncoded blocks are zero.
      */
    def decodeBlocks(d: Decoder, mbIdx: Int, mbX: Int, mbY: Int,
        lumaCat: Int, lumaLen: Int, cbpL: Int, cbpC: Int,
        curIntra: Boolean): MbLevels = {
      val ac = Array.fill(16)(new Array[Int](lumaLen))
      for (b <- 0 until 16 if ((cbpL >> (b / 4)) & 1) != 0) {
        val (x4, y4) = blkPos(b)
        val (cf, cbf) = decodeResidual(d, this, lumaCat, mbX, mbY, b, 0,
          lumaLen, curIntra)
        ac(b) = cf
        lumaCbf(mbY * 4 + y4)(mbX * 4 + x4) = cbf
        levels.add(mbIdx, 1 + b, cf)
      }
      val cdc = Array.fill(2)(new Array[Int](4))
      if (cbpC > 0) for (c <- 0 until 2) {
        val (cf, cbf) = decodeResidual(d, this, CatChromaDc, mbX, mbY, 0,
          c, 4, curIntra)
        cdc(c) = cf
        chromaDcCbf(c)(mbIdx) = cbf
        levels.add(mbIdx, 17 + c, cf)
      }
      val cac = Array.fill(2, 4)(new Array[Int](15))
      if (cbpC == 2) for (c <- 0 until 2; b <- 0 until 4) {
        val (cf, cbf) = decodeResidual(d, this, CatChromaAc, mbX, mbY, b,
          c, 15, curIntra)
        cac(c)(b) = cf
        chromaAcCbf(c)(mbY * 2 + b / 2)(mbX * 2 + b % 2) = cbf
        levels.add(mbIdx, 19 + 4 * c + b, cf)
      }
      (ac, cdc, cac)
    }
  }

  // -------------------------------------------------------------------
  // residual block coding (§9.3.3.1.3, frame-coded)
  // -------------------------------------------------------------------

  private[operators] def encodeResidual(e: Encoder, sc: SliceCtx, cat: Int,
      mbX: Int, mbY: Int, blk: Int, comp: Int, coeffs: Array[Int],
      curIntra: Boolean = true): Int = {
    val cbf = if (coeffs.exists(_ != 0)) 1 else 0
    e.decision(CtxCbf + cat * 4 +
      sc.cbfInc(cat, mbX, mbY, blk, comp, curIntra), cbf)
    if (cbf == 0) return 0
    val maxC = coeffs.length
    var last = maxC - 1
    while (coeffs(last) == 0) last -= 1
    var i = 0
    var continue = true
    while (i < maxC - 1 && continue) {
      val inc = if (cat == CatChromaDc) math.min(i, 2) else i
      val sig = if (coeffs(i) != 0) 1 else 0
      e.decision(CtxSig + SigCatOffset(cat) + inc, sig)
      if (sig == 1) {
        val isLast = if (i == last) 1 else 0
        e.decision(CtxLast + SigCatOffset(cat) + inc, isLast)
        if (isLast == 1) continue = false
      }
      i += 1
    }
    // levels in reverse scan order, UEG0 + bypass sign
    var numEq1 = 0; var numGt1 = 0
    var j = last
    while (j >= 0) {
      val v = coeffs(j)
      if (v != 0) {
        val absm1 = math.abs(v) - 1
        val inc0 = if (numGt1 != 0) 0 else math.min(4, 1 + numEq1)
        val incN = 5 + math.min(if (cat == CatChromaDc) 3 else 4, numGt1)
        val pre = math.min(absm1, 14)
        var b = 0
        while (b < pre) {
          e.decision(CtxAbs + AbsCatOffset(cat) + (if (b == 0) inc0 else incN), 1)
          b += 1
        }
        if (pre < 14)
          e.decision(CtxAbs + AbsCatOffset(cat) + (if (pre == 0) inc0 else incN), 0)
        else if (absm1 >= 14) {
          // UEG0 bypass suffix (§9.3.2.3)
          var sufS = absm1 - 14
          var k = 0
          var stop = false
          while (!stop) {
            if (sufS >= (1 << k)) { e.bypass(1); sufS -= 1 << k; k += 1 }
            else {
              e.bypass(0)
              while (k > 0) { k -= 1; e.bypass((sufS >> k) & 1) }
              stop = true
            }
          }
        }
        e.bypass(if (v < 0) 1 else 0)
        if (math.abs(v) == 1) numEq1 += 1 else numGt1 += 1
      }
      j -= 1
    }
    cbf
  }

  private[operators] def decodeResidual(d: Decoder, sc: SliceCtx, cat: Int,
      mbX: Int, mbY: Int, blk: Int, comp: Int,
      maxC: Int, curIntra: Boolean = true): (Array[Int], Int) = {
    val coeffs = new Array[Int](maxC)
    val cbf = d.decision(CtxCbf + cat * 4 +
      sc.cbfInc(cat, mbX, mbY, blk, comp, curIntra))
    if (cbf == 0) return (coeffs, 0)
    val sig = new Array[Boolean](maxC)
    var lastIdx = -1
    var i = 0
    while (i < maxC - 1 && lastIdx < 0) {
      val inc = if (cat == CatChromaDc) math.min(i, 2) else i
      if (d.decision(CtxSig + SigCatOffset(cat) + inc) == 1) {
        sig(i) = true
        if (d.decision(CtxLast + SigCatOffset(cat) + inc) == 1) lastIdx = i
      }
      i += 1
    }
    if (lastIdx < 0) { sig(maxC - 1) = true; lastIdx = maxC - 1 }
    var numEq1 = 0; var numGt1 = 0
    var j = lastIdx
    while (j >= 0) {
      if (sig(j)) {
        val inc0 = if (numGt1 != 0) 0 else math.min(4, 1 + numEq1)
        val incN = 5 + math.min(if (cat == CatChromaDc) 3 else 4, numGt1)
        var pre = 0
        while (pre < 14 &&
          d.decision(CtxAbs + AbsCatOffset(cat) +
            (if (pre == 0) inc0 else incN)) == 1) pre += 1
        var absm1 = pre
        if (pre == 14) {
          var k = 0
          while (d.bypass() == 1) { absm1 += 1 << k; k += 1 }
          while (k > 0) { k -= 1; absm1 += d.bypass() << k }
        }
        val neg = d.bypass() == 1
        coeffs(j) = if (neg) -(absm1 + 1) else absm1 + 1
        if (absm1 == 0) numEq1 += 1 else numGt1 += 1
      }
      j -= 1
    }
    (coeffs, cbf)
  }

  // -------------------------------------------------------------------
  // stream encode / decode
  // -------------------------------------------------------------------

  /** Encode one CABAC intra stream (q314): mixed I_16x16 / I_NxN with
    * the full 48-value CBP sweep. Returns (bytes, per-frame expected
    * reconstructions + gate sums) — the decoder must reproduce every
    * plane bit-exactly.
    */
  def encode(id: Long, wMb: Int, hMb: Int, nFrames: Int,
      qp: Int): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(H264.nal(7, H264.spsRbsp(wMb, hMb, profileIdc = 77)))
    out.write(H264.nal(8, H264.ppsRbsp(cabac = true)))
    val frames = Vector.newBuilder[H264Frame]
    for (f <- 0 until nFrames) {
      out.write(H264.nal(5, encodeSlice(id, f, wMb, hMb, qp, frames)))
    }
    (out.toByteArray, frames.result())
  }

  private[operators] def encodeSlice(id: Long, f: Int, wMb: Int, hMb: Int, qp: Int,
      frames: scala.collection.mutable.Builder[H264Frame, Vector[H264Frame]],
      pocLsb: Option[Int] = None): Array[Byte] = {
    val w = H264.sliceHeader(7, f, qp, pocLsb, cabac = true)
    val e = new Encoder(w)
    val sc = new SliceCtx(wMb, hMb)
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val modeStore = Array.fill(hMb * 4, wMb * 4)(2)
    var modeSum = 0L; var cModeSum = 0L
    var i4ModeSum = 0L; var nI4 = 0L; var cbpSum = 0L; var binSum = 0L
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val isI4 = ConstructH.isI4(id, mbIdx)
      val cm = ConstructH.chromaMode(id, mbIdx, mbX, mbY)
      cModeSum += cm
      if (isI4) {
        nI4 += 1
        // mb_type bin0 = 0: I_NxN
        e.decision(CtxMbTypeI + sc.mbTypeInc(mbX, mbY), 0)
        sc.mbKind(mbIdx) = 0
        val cbp = ConstructC.cbpI4(id, mbIdx)
        cbpSum += cbp.toLong * (mbIdx + 1)
        val cbpL = cbp & 15; val cbpC = cbp >> 4
        val i4Modes = Array.tabulate(16) { b =>
          val (x4, y4) = blkPos(b)
          val m = ConstructH.i4Mode(id, mbIdx, b,
            hasLeft = mbX * 4 + x4 > 0, hasTop = mbY * 4 + y4 > 0)
          i4ModeSum += m
          m
        }
        // per-block predicted-mode coding (§8.3.1.1), CABAC-binarized:
        // prev flag (ctx 68) + 3-bin FL rem (ctx 69, LSB first)
        for (b <- 0 until 16) {
          val (x4, y4) = blkPos(b)
          val gx = mbX * 4 + x4; val gy = mbY * 4 + y4
          val predM = predI4Mode(modeStore, gx, gy)
          val m = i4Modes(b)
          if (m == predM) e.decision(CtxPrevI4Mode, 1)
          else {
            e.decision(CtxPrevI4Mode, 0)
            val rem = if (m < predM) m else m - 1
            e.decision(CtxRemI4Mode, rem & 1)
            e.decision(CtxRemI4Mode, (rem >> 1) & 1)
            e.decision(CtxRemI4Mode, (rem >> 2) & 1)
          }
          modeStore(gy)(gx) = m
        }
        // intra_chroma_pred_mode: TU cMax 3
        e.decision(CtxIntraChroma + sc.chromaInc(mbX, mbY), if (cm > 0) 1 else 0)
        if (cm > 0) {
          e.decision(CtxIntraChroma + 3, if (cm > 1) 1 else 0)
          if (cm > 1) e.decision(CtxIntraChroma + 3, if (cm > 2) 1 else 0)
        }
        sc.chromaMode(mbIdx) = cm
        sc.encodeCbp(e, mbIdx, mbX, mbY, cbp)
        if (cbp != 0) e.decision(CtxMbQpDelta, 0) // mb_qp_delta = 0
        // residuals: luma 4x4 per coded 8x8, then chroma
        val lv = ConstructH.mbLevels(id, f, mbIdx, cbpL, 16, cbpC)
        sc.encodeBlocks(e, mbIdx, mbX, mbY, CatLuma4, cbpL, cbpC, lv,
          curIntra = true)
        H264.reconstructMb(MbData(isI4 = true, 0, i4Modes, cm,
          cbpL != 0, cbpC, new Array[Int](16), lv._1, lv._2, lv._3),
          qp, mbX, mbY, y, cb, cr, wMb)
      } else {
        val pm = ConstructH.predMode(id, mbIdx, mbX, mbY)
        val cbpL15 = ConstructH.cbpLuma15(id, mbIdx)
        val cbpC = ConstructH.cbpChroma(id, mbIdx)
        modeSum += pm
        // mb_type: 1 | T(0) | cbpL | chroma(1-2 bins) | predmode(2)
        e.decision(CtxMbTypeI + sc.mbTypeInc(mbX, mbY), 1)
        binSum += mbIdx * 8L + 1
        e.terminate(0) // not I_PCM
        sc.mbKind(mbIdx) = 1
        e.decision(CtxMbTypeI + 3, if (cbpL15) 1 else 0)
        if (cbpL15) binSum += mbIdx * 8L + 3
        e.decision(CtxMbTypeI + 4, if (cbpC > 0) 1 else 0)
        if (cbpC > 0) binSum += mbIdx * 8L + 4
        if (cbpC > 0) {
          e.decision(CtxMbTypeI + 4, if (cbpC == 2) 1 else 0)
          if (cbpC == 2) binSum += mbIdx * 8L + 5
        }
        e.decision(CtxMbTypeI + 5, (pm >> 1) & 1)
        if (((pm >> 1) & 1) == 1) binSum += mbIdx * 8L + 6
        e.decision(CtxMbTypeI + 5, pm & 1)
        if ((pm & 1) == 1) binSum += mbIdx * 8L + 7
        // intra_chroma_pred_mode
        e.decision(CtxIntraChroma + sc.chromaInc(mbX, mbY), if (cm > 0) 1 else 0)
        if (cm > 0) {
          e.decision(CtxIntraChroma + 3, if (cm > 1) 1 else 0)
          if (cm > 1) e.decision(CtxIntraChroma + 3, if (cm > 2) 1 else 0)
        }
        sc.chromaMode(mbIdx) = cm
        // CBP bits for neighbor contexts (I_16x16 carries CBP in mb_type)
        for (b8 <- 0 until 4)
          sc.cbpLumaBit(mbY * 2 + b8 / 2)(mbX * 2 + b8 % 2) =
            if (cbpL15) 1 else 0
        sc.cbpChroma(mbIdx) = cbpC
        e.decision(CtxMbQpDelta, 0) // mb_qp_delta (always present for I16)
        // residuals: WIDE DC (cat 0), AC per CBP, chroma
        val dc = ConstructC.wideDc(id, f, mbIdx)
        sc.levels.add(mbIdx, 0, dc)
        sc.lumaDcCbf(mbIdx) =
          encodeResidual(e, sc, CatI16Dc, mbX, mbY, 0, 0, dc)
        val cbpL = if (cbpL15) 15 else 0
        val lv = ConstructH.mbLevels(id, f, mbIdx, cbpL, 15, cbpC)
        sc.encodeBlocks(e, mbIdx, mbX, mbY, CatI16Ac, cbpL, cbpC, lv,
          curIntra = true)
        H264.reconstructMb(MbData(isI4 = false, pm, Array.empty, cm,
          cbpL15, cbpC, dc, lv._1, lv._2, lv._3), qp, mbX, mbY, y, cb, cr,
          wMb)
      }
      e.terminate(if (mbIdx == total - 1) 1 else 0) // end_of_slice_flag
    }
    w.alignByte() // trailing alignment zeros (stop bit is in the flush)
    frames += H264Frame(y, cb, cr, sc.levels.value, modeSum, cModeSum,
      i4ModeSum, nI4, cbpSum = cbpSum, binChecksum = binSum)
    w.result()
  }

  /** Decode a stream this construction emits; None for anything else
    * (CAVLC PPS, non-I slices, I_PCM, nonzero mb_qp_delta — the
    * fall-through contract).
    */
  def decode(bytes: Array[Byte]): Option[H264Stream] = {
    try {
      var wMb = -1; var hMb = -1
      var sawPps = false
      var qp = -1
      val frames = Vector.newBuilder[H264Frame]
      H264.splitNals(bytes).map { case (h, rbsp) => (h & 0x1f, rbsp) }.foreach {
        case (7, rbsp) =>
          val sps = H264.readSps(rbsp, 77).getOrElse(return None) // Main
          if (sps.pocType != 2) return None // POC type 2
          wMb = sps.wMb; hMb = sps.hMb
        case (8, rbsp) =>
          if (!H264.readPps(rbsp, cabac = true)) return None // CABAC only
          sawPps = true
        case (5, rbsp) =>
          if (wMb < 0 || !sawPps) return None
          val r = new H264.BitReader(rbsp)
          if (r.ue() != 0) return None
          if (r.ue() != 7) return None // I slice
          if (r.ue() != 0) return None
          r.get(4); r.ue()
          r.get(1); r.get(1)
          qp = 26 + r.se()
          if (qp > 29) return None
          if (r.ue() != 1) return None
          // cabac_alignment_one_bit: all ones to the byte boundary
          val pad = (8 - r.bitPos % 8) % 8
          if (pad > 0 && r.get(pad) != (1 << pad) - 1) return None
          frames += decodeSlice(rbsp, r.bitPos, wMb, hMb, qp)
        case _ => return None
      }
      val fs = frames.result()
      if (wMb < 0 || fs.isEmpty) None
      else Some(H264Stream(wMb, hMb, qp, fs))
    } catch { case _: Exception => None }
  }

  private[operators] def decodeSlice(rbsp: Array[Byte], startBit: Int, wMb: Int,
      hMb: Int, qp: Int): H264Frame = {
    def bad(msg: String): Nothing = throw new IllegalStateException(msg)
    val d = new Decoder(rbsp, startBit)
    val sc = new SliceCtx(wMb, hMb)
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val modeStore = Array.fill(hMb * 4, wMb * 4)(2)
    var modeSum = 0L; var cModeSum = 0L
    var i4ModeSum = 0L; var nI4 = 0L; var cbpSum = 0L; var binSum = 0L
    def decodeChromaMode(mbX: Int, mbY: Int): Int = {
      if (d.decision(CtxIntraChroma + sc.chromaInc(mbX, mbY)) == 0) 0
      else if (d.decision(CtxIntraChroma + 3) == 0) 1
      else if (d.decision(CtxIntraChroma + 3) == 0) 2
      else 3
    }
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      if (d.decision(CtxMbTypeI + sc.mbTypeInc(mbX, mbY)) == 0) {
        // I_NxN
        nI4 += 1
        sc.mbKind(mbIdx) = 0
        val i4Modes = new Array[Int](16)
        for (b <- 0 until 16) {
          val (x4, y4) = blkPos(b)
          val gx = mbX * 4 + x4; val gy = mbY * 4 + y4
          val predM = predI4Mode(modeStore, gx, gy)
          val m =
            if (d.decision(CtxPrevI4Mode) == 1) predM
            else {
              val rem = d.decision(CtxRemI4Mode) |
                (d.decision(CtxRemI4Mode) << 1) |
                (d.decision(CtxRemI4Mode) << 2)
              if (rem < predM) rem else rem + 1
            }
          i4Modes(b) = m
          i4ModeSum += m
          modeStore(gy)(gx) = m
        }
        val cm = decodeChromaMode(mbX, mbY)
        cModeSum += cm
        sc.chromaMode(mbIdx) = cm
        val cbp = sc.decodeCbp(d, mbIdx, mbX, mbY)
        val cbpL = cbp & 15; val cbpC = cbp >> 4
        cbpSum += cbp.toLong * (mbIdx + 1)
        if (cbp != 0 && d.decision(CtxMbQpDelta) != 0)
          bad("nonzero mb_qp_delta out of scope")
        val (ac, cdc, cac) = sc.decodeBlocks(d, mbIdx, mbX, mbY, CatLuma4, 16,
          cbpL, cbpC, curIntra = true)
        H264.reconstructMb(MbData(isI4 = true, 0, i4Modes, cm,
          cbpL != 0, cbpC, new Array[Int](16), ac, cdc, cac),
          qp, mbX, mbY, y, cb, cr, wMb)
      } else {
        // I_16x16 (or I_PCM, which is out of scope)
        binSum += mbIdx * 8L + 1
        if (d.terminate() == 1) bad("I_PCM out of scope under CABAC")
        sc.mbKind(mbIdx) = 1
        val cbpL15 = d.decision(CtxMbTypeI + 3) == 1
        if (cbpL15) binSum += mbIdx * 8L + 3
        var cbpC = 0
        if (d.decision(CtxMbTypeI + 4) == 1) {
          binSum += mbIdx * 8L + 4
          cbpC = 1
          if (d.decision(CtxMbTypeI + 4) == 1) {
            binSum += mbIdx * 8L + 5
            cbpC = 2
          }
        }
        val pmHi = d.decision(CtxMbTypeI + 5)
        if (pmHi == 1) binSum += mbIdx * 8L + 6
        val pmLo = d.decision(CtxMbTypeI + 5)
        if (pmLo == 1) binSum += mbIdx * 8L + 7
        val pm = (pmHi << 1) | pmLo
        modeSum += pm
        val cm = decodeChromaMode(mbX, mbY)
        cModeSum += cm
        sc.chromaMode(mbIdx) = cm
        for (b8 <- 0 until 4)
          sc.cbpLumaBit(mbY * 2 + b8 / 2)(mbX * 2 + b8 % 2) =
            if (cbpL15) 1 else 0
        sc.cbpChroma(mbIdx) = cbpC
        if (d.decision(CtxMbQpDelta) != 0) bad("nonzero mb_qp_delta")
        val (dc, dcCbf) = decodeResidual(d, sc, CatI16Dc, mbX, mbY, 0, 0, 16)
        sc.lumaDcCbf(mbIdx) = dcCbf
        sc.levels.add(mbIdx, 0, dc)
        val (ac, cdc, cac) = sc.decodeBlocks(d, mbIdx, mbX, mbY, CatI16Ac, 15,
          if (cbpL15) 15 else 0, cbpC, curIntra = true)
        H264.reconstructMb(MbData(isI4 = false, pm, Array.empty, cm,
          cbpL15, cbpC, dc, ac, cdc, cac), qp, mbX, mbY, y, cb, cr, wMb)
      }
      val eos = d.terminate()
      if (eos != (if (mbIdx == total - 1) 1 else 0))
        bad("end_of_slice_flag at the wrong macroblock")
    }
    H264Frame(y, cb, cr, sc.levels.value, modeSum, cModeSum, i4ModeSum,
      nI4, cbpSum = cbpSum, binChecksum = binSum)
  }
}
