package graft.operators

/** H.265/HEVC INTER decoding — P slices (ITU-T H.265 §8.5, the q319
  * construction-inverse gate), narrowing the video stub surface to
  * HEVC B slices. Reuses [[H265]]'s quadtree/intra/residual machinery
  * and the shared CABAC engine; adds:
  *
  *  - cu_skip_flag with neighbor contexts, pred_mode_flag (intra CUs
  *    DO occur inside these P slices and decode through [[H265]]'s
  *    intra path unchanged), merge_flag, merge_idx (TR, bin 0
  *    context-coded), mvp_l0_flag, and HEVC mvd_coding
  *    (abs_mvd_greater0/greater1 contexts, abs_mvd_minus2 as bypass
  *    EG1, bypass signs), rqt_root_cbf — each over [[H265]]'s context
  *    space, extended.
  *  - SPATIAL merge candidate derivation (§8.5.3.2.2-3: A1/B1/B0/A0
  *    + conditional B2 with the pairwise identical-motion pruning,
  *    zero-MV fill to MaxNumMergeCand = 3) and AMVP (§8.5.3.2.6: the
  *    A0/A1 then B0/B1/B2 scan, duplicate collapse, zero fill to 2) —
  *    sps_temporal_mvp_enabled_flag = 0, so there is no temporal
  *    candidate in either list and no scaling branch (single
  *    reference picture, all candidates same-ref).
  *  - Quarter-pel luma MC through the published 8-tap DCT-IF filters
  *    and eighth-pel chroma through the 4-tap set ([[LumaFilters]]/
  *    [[ChromaFilters]], transcribed — each row sums to 64; H265Spec
  *    pins row sums and the half-pel symmetry), separable with the
  *    §8.5.4.2.2 shift structure (first pass unshifted at 8-bit,
  *    second pass +2048 >> 12) and edge clamping.
  *  - The inter transform tree: TU = CU, cbf_cb/cbf_cr at depth 0 and
  *    the §7.3.8.8 cbf_luma INFERENCE (not coded — inferred 1 — when
  *    rqt_root_cbf is set but both chroma cbfs are zero); inter
  *    residuals always use the diagonal scan (mode-dependent scans
  *    are intra-only).
  *
  * Scope bounds (documented fall-throughs): P slices with PART_2Nx2N
  * inter PUs only (no NxN/AMP inter partitions), one reference
  * picture (the previous frame; ref_idx never coded), cu_qp_delta /
  * SAO / deblocking / TMVP off as declared in the headers, B slices
  * and weighted prediction out of scope, uniform context init per
  * [[H264Cabac]]'s note.
  */
object H265Inter {

  import H264.{BitReader, BitWriter}
  import H264Cabac.{Decoder, Encoder}
  import H265.{ConstructV, FrameSums, H265Frame, H265Stream, SliceState,
    buildLevels, decodeResidual, encodeResidual}

  // -------------------------------------------------------------------
  // context map extension (appended after H265's intra space)
  // -------------------------------------------------------------------
  val CtxCuSkip = 125 // + inc 0..2 (neighbor skip flags)
  val CtxPredMode = 128
  val CtxMergeFlag = 129
  val CtxMergeIdx = 130 // bin 0 only; rest bypass
  val CtxMvpFlag = 131
  val CtxMvdGr0 = 132
  val CtxMvdGr1 = 133
  val CtxRqtRoot = 134
  /** B slices (q320): inter_pred_idc bin 0 by coding depth, bin 1 at
    * the fixed offset (§9.3.4.2.2).
    */
  val CtxInterPredIdc = 135 // + depth 0..3; bin 1 at +4
  val CtxCountInter = 140

  val MaxMerge = 3 // five_minus_max_num_merge_cand = 2

  // -------------------------------------------------------------------
  // interpolation filters (§8.5.4.2 Tables 8-10/8-11, transcribed)
  // -------------------------------------------------------------------
  val LumaFilters: Array[Array[Int]] = Array(
    Array(0, 0, 0, 64, 0, 0, 0, 0),
    Array(-1, 4, -10, 58, 17, -5, 1, 0),
    Array(-1, 4, -11, 40, 40, -11, 4, -1),
    Array(0, 1, -5, 17, 58, -10, 4, -1))
  val ChromaFilters: Array[Array[Int]] = Array(
    Array(0, 64, 0, 0), Array(-2, 58, 10, -2), Array(-4, 54, 16, -2),
    Array(-6, 46, 28, -4), Array(-4, 36, 36, -4), Array(-4, 28, 46, -6),
    Array(-2, 16, 54, -4), Array(-2, 10, 58, -2))

  private def clip8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** The §8.5.4.2.2 fractional-sample interpolation producing the
    * 14-BIT intermediate prediction block (bw x bh, row-major): copy
    * positions shift up by 6, single-direction positions are the raw
    * filter sum (shift1 = 0 at 8-bit), two-direction positions take
    * the vertical filter over the horizontal intermediates >> 6.
    * §8.5.4.2.3's weighted sample prediction then rounds: UNI
    * (v + 32) >> 6, BI (a + b + 64) >> 7 — bi-prediction averages the
    * unrounded intermediates, which is why this split exists.
    */
  def mcRaw(ref: Array[Int], w: Int, h: Int, x0: Int, y0: Int,
      bw: Int, bh: Int, mvx: Int, mvy: Int,
      luma: Boolean): Array[Int] = {
    val fracBits = if (luma) 2 else 3
    val taps = if (luma) 8 else 4
    val center = if (luma) 3 else 1
    val xI = x0 + (mvx >> fracBits); val yI = y0 + (mvy >> fracBits)
    val xF = mvx & ((1 << fracBits) - 1); val yF = mvy & ((1 << fracBits) - 1)
    val fx = if (luma) LumaFilters(xF) else ChromaFilters(xF)
    val fy = if (luma) LumaFilters(yF) else ChromaFilters(yF)
    def at(x: Int, y: Int): Int = {
      val cx = if (x < 0) 0 else if (x >= w) w - 1 else x
      val cy = if (y < 0) 0 else if (y >= h) h - 1 else y
      ref(cy * w + cx)
    }
    val out = new Array[Int](bw * bh)
    if (xF == 0 && yF == 0) {
      for (r <- 0 until bh; c <- 0 until bw)
        out(r * bw + c) = at(xI + c, yI + r) << 6
    } else if (yF == 0) {
      for (r <- 0 until bh; c <- 0 until bw) {
        var s = 0
        var i = 0
        while (i < taps) { s += fx(i) * at(xI + c + i - center, yI + r); i += 1 }
        out(r * bw + c) = s
      }
    } else if (xF == 0) {
      for (r <- 0 until bh; c <- 0 until bw) {
        var s = 0
        var i = 0
        while (i < taps) { s += fy(i) * at(xI + c, yI + r + i - center); i += 1 }
        out(r * bw + c) = s
      }
    } else {
      val tmpH = bh + taps - 1
      val tmp = new Array[Int](bw * tmpH)
      for (r <- 0 until tmpH; c <- 0 until bw) {
        var s = 0
        var i = 0
        while (i < taps) {
          s += fx(i) * at(xI + c + i - center, yI + r - center); i += 1
        }
        tmp(r * bw + c) = s
      }
      for (r <- 0 until bh; c <- 0 until bw) {
        var s = 0
        var i = 0
        while (i < taps) { s += fy(i) * tmp((r + i) * bw + c); i += 1 }
        out(r * bw + c) = s >> 6
      }
    }
    out
  }

  /** Uni-predicted MC into `out` (the P path and single-list B path):
    * the 14-bit intermediates rounded per §8.5.4.2.3.
    */
  def mc(ref: Array[Int], w: Int, h: Int, out: Array[Int], outW: Int,
      x0: Int, y0: Int, bw: Int, bh: Int, mvx: Int, mvy: Int,
      luma: Boolean): Unit = {
    val raw = mcRaw(ref, w, h, x0, y0, bw, bh, mvx, mvy, luma)
    for (r <- 0 until bh; c <- 0 until bw)
      out((y0 + r) * outW + x0 + c) = clip8((raw(r * bw + c) + 32) >> 6)
  }

  /** Default bi-prediction (§8.5.4.2.3): averages the two lists'
    * UNROUNDED 14-bit intermediates.
    */
  def mcBi(refA: Array[Int], refB: Array[Int], w: Int, h: Int,
      out: Array[Int], outW: Int, x0: Int, y0: Int, bw: Int, bh: Int,
      mvA: (Int, Int), mvB: (Int, Int), luma: Boolean): Unit = {
    val a = mcRaw(refA, w, h, x0, y0, bw, bh, mvA._1, mvA._2, luma)
    val b = mcRaw(refB, w, h, x0, y0, bw, bh, mvB._1, mvB._2, luma)
    for (r <- 0 until bh; c <- 0 until bw)
      out((y0 + r) * outW + x0 + c) =
        clip8((a(r * bw + c) + b(r * bw + c) + 64) >> 7)
  }

  // -------------------------------------------------------------------
  // motion field (per 4x4 luma cell) + candidate derivation
  // -------------------------------------------------------------------
  private[operators] final class MotionField(val w: Int, val h: Int) {
    val cellsW: Int = w / 4; val cellsH: Int = h / 4
    val mvx = new Array[Int](cellsW * cellsH)
    val mvy = new Array[Int](cellsW * cellsH)
    /** -1 unknown, 0 intra, 1 inter non-skip, 2 skip. */
    val kind = Array.fill(cellsW * cellsH)(-1)
    def inter(px: Int, py: Int): Boolean =
      px >= 0 && py >= 0 && px < w && py < h &&
        kind((py >> 2) * cellsW + (px >> 2)) >= 1
    def skipAt(px: Int, py: Int): Boolean =
      px >= 0 && py >= 0 && px < w && py < h &&
        kind((py >> 2) * cellsW + (px >> 2)) == 2
    def mvAt(px: Int, py: Int): (Int, Int) = {
      val c = (py >> 2) * cellsW + (px >> 2)
      (mvx(c), mvy(c))
    }
    def fill(x0: Int, y0: Int, size: Int, mx: Int, my: Int, k: Int): Unit =
      for (cy <- y0 / 4 until (y0 + size) / 4;
          cx <- x0 / 4 until (x0 + size) / 4) {
        val c = cy * cellsW + cx
        mvx(c) = mx; mvy(c) = my; kind(c) = k
      }
    def skipCtxInc(x0: Int, y0: Int): Int =
      (if (skipAt(x0 - 1, y0)) 1 else 0) +
        (if (skipAt(x0, y0 - 1)) 1 else 0)
  }

  /** Two-list motion of one cell/PU: predFlagL0/L1 + the MVs. */
  final case class BiMv(use0: Boolean, mv0: (Int, Int),
      use1: Boolean, mv1: (Int, Int))

  /** Per-list motion fields + CU-level skip notion for B slices. */
  private[operators] final class BiField(val w: Int, val h: Int) {
    val l0 = new MotionField(w, h)
    val l1 = new MotionField(w, h)
    def interAt(px: Int, py: Int): Boolean =
      l0.inter(px, py) || l1.inter(px, py)
    def biAt(px: Int, py: Int): BiMv =
      BiMv(l0.inter(px, py), l0.mvAt(px, py),
        l1.inter(px, py), l1.mvAt(px, py))
    def fill(x0: Int, y0: Int, size: Int, m: BiMv, skip: Boolean): Unit = {
      l0.fill(x0, y0, size, m.mv0._1, m.mv0._2,
        if (!m.use0) 0 else if (skip) 2 else 1)
      l1.fill(x0, y0, size, m.mv1._1, m.mv1._2,
        if (!m.use1) 0 else if (skip) 2 else 1)
    }
    def fillIntra(x0: Int, y0: Int, size: Int): Unit = {
      l0.fill(x0, y0, size, 0, 0, 0)
      l1.fill(x0, y0, size, 0, 0, 0)
    }
    def skipCtxInc(x0: Int, y0: Int): Int = {
      def sk(px: Int, py: Int): Boolean =
        l0.skipAt(px, py) || l1.skipAt(px, py)
      (if (sk(x0 - 1, y0)) 1 else 0) + (if (sk(x0, y0 - 1)) 1 else 0)
    }
  }

  /** B merge list (§8.5.3.2.2-4): the spatial A1/B1/B0/A0/B2 scan with
    * full-motion pruning, then COMBINED bi-predictive candidates from
    * pairs of earlier entries' L0/L1 halves, then bi zero fill.
    */
  def mergeCandidatesB(bf: BiField, x0: Int, y0: Int,
      s: Int): IndexedSeq[BiMv] = {
    val list = spatialMerge(x0, y0, s)((px, py) =>
      if (bf.interAt(px, py)) Some(bf.biAt(px, py)) else None)
    // combined bi candidates over ordered pairs of current entries
    val pairs = Seq((0, 1), (1, 0), (0, 2), (2, 0), (1, 2), (2, 1))
    val base = list.toIndexedSeq
    for ((i, j) <- pairs if list.size < MaxMerge
        if i < base.size && j < base.size
        if base(i).use0 && base(j).use1) {
      val comb = BiMv(use0 = true, base(i).mv0, use1 = true, base(j).mv1)
      list += comb
    }
    while (list.size < MaxMerge)
      list += BiMv(use0 = true, (0, 0), use1 = true, (0, 0))
    list.take(MaxMerge).toIndexedSeq
  }

  /** The spatial merge scan (§8.5.3.2.3) for a 2Nx2N PU at (x0, y0)
    * size `s`, given each neighbor's motion (None when not inter): A1,
    * B1 (pruned vs A1), B0 (pruned vs B1), A0 (pruned vs A1), B2 (only
    * while fewer than 4, pruned vs A1 and B1).
    */
  private def spatialMerge[M](x0: Int, y0: Int, s: Int)(
      cand: (Int, Int) => Option[M]): scala.collection.mutable.ArrayBuffer[M] = {
    val a1 = cand(x0 - 1, y0 + s - 1)
    val b1 = cand(x0 + s - 1, y0 - 1)
    val b0 = cand(x0 + s, y0 - 1)
    val a0 = cand(x0 - 1, y0 + s)
    val b2 = cand(x0 - 1, y0 - 1)
    val list = scala.collection.mutable.ArrayBuffer[M]()
    a1.foreach(list += _)
    b1.foreach(m => if (!a1.contains(m)) list += m)
    b0.foreach(m => if (!b1.contains(m)) list += m)
    a0.foreach(m => if (!a1.contains(m)) list += m)
    if (list.size < 4)
      b2.foreach(m => if (!a1.contains(m) && !b1.contains(m)) list += m)
    list
  }

  /** Spatial merge candidates of a P PU: [[spatialMerge]], then zero-MV
    * fill to [[MaxMerge]].
    */
  def mergeCandidates(mf: MotionField, x0: Int, y0: Int,
      s: Int): IndexedSeq[(Int, Int)] = {
    val list = spatialMerge(x0, y0, s)((px, py) =>
      if (mf.inter(px, py)) Some(mf.mvAt(px, py)) else None)
    while (list.size < MaxMerge) list += ((0, 0))
    list.take(MaxMerge).toIndexedSeq
  }

  /** AMVP candidate pair (§8.5.3.2.6 without scaling/TMVP): first
    * available of A0/A1, first available of B0/B1/B2 (dropped when it
    * duplicates A), zero-MV fill to exactly two.
    */
  def amvpCandidates(mf: MotionField, x0: Int, y0: Int,
      s: Int): IndexedSeq[(Int, Int)] = {
    def cand(px: Int, py: Int): Option[(Int, Int)] =
      if (mf.inter(px, py)) Some(mf.mvAt(px, py)) else None
    val a = cand(x0 - 1, y0 + s).orElse(cand(x0 - 1, y0 + s - 1))
    val b = cand(x0 + s, y0 - 1).orElse(cand(x0 + s - 1, y0 - 1))
      .orElse(cand(x0 - 1, y0 - 1))
    val list = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    a.foreach(list += _)
    b.foreach(m => if (!a.contains(m)) list += m)
    while (list.size < 2) list += ((0, 0))
    list.take(2).toIndexedSeq
  }

  // -------------------------------------------------------------------
  // q319's deterministic construction
  // -------------------------------------------------------------------
  object ConstructVI {
    /** CU class on the quadtree leaf: 0 skip, 1 merge-with-residual,
      * 2 intra (through [[H265]]'s machinery), 3/4 explicit AMVP.
      */
    def cuClass(id: Long, f: Int, cuKey: Int): Int =
      ((id + f + cuKey) % 5).toInt
    def mergeIdx(id: Long, cuKey: Int): Int = ((id + cuKey) % MaxMerge).toInt
    def mvpFlag(id: Long, cuKey: Int): Int = ((id + cuKey) % 2).toInt
    /** |mvd| reaches 18 quarter-pels so every fractional phase of the
      * 8-tap and 4-tap filters is exercised.
      */
    def mvdX(id: Long, f: Int, cuKey: Int): Int =
      (((id + 3L * f + 5L * cuKey) % 37) - 18).toInt
    def mvdY(id: Long, f: Int, cuKey: Int): Int =
      (((3L * id + f + 2L * cuKey) % 37) - 18).toInt
    def rootCbf(id: Long, f: Int, cuKey: Int): Boolean =
      (id + f + cuKey) % 4 != 3
    /** Inter chroma cbfs use INDEPENDENT keys — the intra formula's
      * consecutive moduli could never make both zero at once, which
      * would leave the §7.3.8.8 cbf_luma inference path dead.
      */
    def cbfCb(id: Long, cuKey: Int): Boolean = (id + cuKey) % 3 != 2
    def cbfCr(id: Long, cuKey: Int): Boolean =
      (id + 2L * cuKey + 1) % 3 != 2
    /** B-slice CU class: 0 skip, 1 merge, 2 intra, 3 PRED_L0,
      * 4 PRED_L1, 5 PRED_BI.
      */
    def cuClassB(id: Long, f: Int, cuKey: Int): Int =
      ((id + f + cuKey) % 6).toInt
    def mvdX1(id: Long, f: Int, cuKey: Int): Int =
      (((id + 5L * f + 7L * cuKey) % 37) - 18).toInt
    def mvdY1(id: Long, f: Int, cuKey: Int): Int =
      (((5L * id + 3L * f + cuKey) % 37) - 18).toInt
    def mvpFlag1(id: Long, cuKey: Int): Int = ((id + cuKey + 1) % 2).toInt
  }

  // -------------------------------------------------------------------
  // encode
  // -------------------------------------------------------------------

  /** Parameter sets and the q315 intra IDR frame that opens every inter
    * stream; returns that frame.
    */
  private def encodeIdr(out: java.io.OutputStream, id: Long, wCtb: Int,
      hCtb: Int, qp: Int): H265Frame = {
    H265.writeParameterSets(out, wCtb, hCtb, qp)
    val b0 = Vector.newBuilder[H265Frame]
    out.write(H265.nal(19, H265.encodeSlice(id, 0, wCtb, hCtb, qp, b0)))
    b0.result().head
  }

  /** Encode an IDR + P-frame stream (q319): frame 0 is the q315 intra
    * construction; frames 1.. are P slices referencing the previous
    * frame. Returns (bytes, per-frame expected reconstructions).
    */
  def encode(id: Long, wCtb: Int, hCtb: Int, nFrames: Int,
      qp: Int): (Array[Byte], Vector[H265Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    val frames = Vector.newBuilder[H265Frame]
    var prev = encodeIdr(out, id, wCtb, hCtb, qp)
    frames += prev
    for (f <- 1 until nFrames) {
      val (rbsp, fr) = encodePSlice(id, f, wCtb, hCtb, qp, prev)
      out.write(H265.nal(1, rbsp)) // TRAIL_R
      frames += fr
      prev = fr
    }
    (out.toByteArray, frames.result())
  }

  /** P or B slice header: one reference before the picture (P), or one
    * before and one after (B), each at POC distance 1.
    */
  private def writeInterHeader(w: BitWriter, pocLsb: Int, b: Boolean): Unit = {
    w.put(1, 1) // first_slice_segment_in_pic_flag
    w.ue(0) // slice_pic_parameter_set_id
    w.ue(if (b) 0 else 1) // slice_type B / P
    w.put(pocLsb, 8) // slice_pic_order_cnt_lsb
    w.put(0, 1) // short_term_ref_pic_set_sps_flag -> inline st_ref_pic_set
    w.ue(1) // num_negative_pics
    w.ue(if (b) 1 else 0) // num_positive_pics
    w.ue(0); w.put(1, 1) // delta_poc_s0_minus1, used_by_curr_pic_s0_flag
    if (b) { w.ue(0); w.put(1, 1) } // delta_poc_s1_minus1, used flag
    w.put(0, 1) // num_ref_idx_active_override_flag (1 active per list)
    if (b) w.put(0, 1) // mvd_l1_zero_flag
    w.ue(5 - MaxMerge) // five_minus_max_num_merge_cand
    w.se(0) // slice_qp_delta
    w.put(1, 1) // byte_alignment
    w.alignByte()
  }

  /** Checks what [[writeInterHeader]] wrote; returns the bit position
    * where the slice data starts.
    */
  private def readInterHeader(rbsp: Array[Byte], b: Boolean): Int = {
    def bad(msg: String): Nothing = throw new IllegalStateException(msg)
    val r = new BitReader(rbsp)
    if (r.get(1) != 1) bad("not first slice segment")
    if (r.ue() != 0) bad("pps id")
    if (r.ue() != (if (b) 0 else 1)) bad("slice type")
    r.get(8) // slice_pic_order_cnt_lsb
    if (r.get(1) != 0) bad("sps strps out of scope")
    if (r.ue() != 1) bad("one negative pic only")
    if (r.ue() != (if (b) 1 else 0)) bad("positive pic count")
    if (r.ue() != 0) bad("neg delta poc must be 1")
    if (r.get(1) != 1) bad("neg ref must be used")
    if (b) {
      if (r.ue() != 0) bad("pos delta poc must be 1")
      if (r.get(1) != 1) bad("pos ref must be used")
    }
    if (r.get(1) != 0) bad("ref idx override out of scope")
    if (b && r.get(1) != 0) bad("mvd_l1_zero out of scope")
    if (r.ue() != 5 - MaxMerge) bad("merge cand count")
    if (r.se() != 0) bad("nonzero slice_qp_delta")
    if (r.get(1) != 1) bad("alignment bit")
    r.alignByte()
    r.bitPos
  }

  /** merge_idx (TR cMax 2, bin 0 context-coded) and its gate sum. */
  private def encodeMergeIdx(e: Encoder, sums: FrameSums, id: Long,
      cuKey: Int): Int = {
    val idx = ConstructVI.mergeIdx(id, cuKey)
    e.decision(CtxMergeIdx, if (idx > 0) 1 else 0)
    if (idx > 0) e.bypass(if (idx > 1) 1 else 0)
    sums.mergeIdxSum += idx.toLong * (cuKey + 1)
    idx
  }
  private def decodeMergeIdx(d: Decoder, sums: FrameSums, cuKey: Int): Int = {
    val idx =
      if (d.decision(CtxMergeIdx) == 0) 0
      else if (d.bypass() == 0) 1 else 2
    sums.mergeIdxSum += idx.toLong * (cuKey + 1)
    idx
  }

  private def egkBypassEnc(e: Encoder, v0: Int, k0: Int): Unit = {
    var v = v0; var k = k0
    while (v >= (1 << k)) { e.bypass(1); v -= 1 << k; k += 1 }
    e.bypass(0)
    var i = k - 1
    while (i >= 0) { e.bypass((v >> i) & 1); i -= 1 }
  }
  private def egkBypassDec(d: Decoder, k0: Int): Int = {
    var v = 0; var k = k0
    while (d.bypass() == 1) {
      v += 1 << k; k += 1
      if (k > 24) throw new IllegalStateException("runaway EGk")
    }
    var i = 0
    var suffix = 0
    while (i < k) { suffix = (suffix << 1) | d.bypass(); i += 1 }
    v + suffix
  }

  /** mvd_coding (§7.3.8.9): greater0/greater1 context bins for both
    * components, then per component the EG1 bypass remainder and sign.
    */
  private def encodeMvd(e: Encoder, mvdX: Int, mvdY: Int): Unit = {
    val ax = math.abs(mvdX); val ay = math.abs(mvdY)
    e.decision(CtxMvdGr0, if (ax > 0) 1 else 0)
    e.decision(CtxMvdGr0, if (ay > 0) 1 else 0)
    if (ax > 0) e.decision(CtxMvdGr1, if (ax > 1) 1 else 0)
    if (ay > 0) e.decision(CtxMvdGr1, if (ay > 1) 1 else 0)
    if (ax > 0) {
      if (ax > 1) egkBypassEnc(e, ax - 2, 1)
      e.bypass(if (mvdX < 0) 1 else 0)
    }
    if (ay > 0) {
      if (ay > 1) egkBypassEnc(e, ay - 2, 1)
      e.bypass(if (mvdY < 0) 1 else 0)
    }
  }
  private def decodeMvd(d: Decoder): (Int, Int) = {
    val gr0x = d.decision(CtxMvdGr0) == 1
    val gr0y = d.decision(CtxMvdGr0) == 1
    val gr1x = gr0x && d.decision(CtxMvdGr1) == 1
    val gr1y = gr0y && d.decision(CtxMvdGr1) == 1
    var mvdX = 0; var mvdY = 0
    if (gr0x) {
      val a = if (gr1x) 2 + egkBypassDec(d, 1) else 1
      mvdX = if (d.bypass() == 1) -a else a
    }
    if (gr0y) {
      val a = if (gr1y) 2 + egkBypassDec(d, 1) else 1
      mvdY = if (d.bypass() == 1) -a else a
    }
    (mvdX, mvdY)
  }

  /** Luma, Cb and Cr levels of one inter CU's transform tree (TU = CU);
    * null where a cbf is 0 or rqt_root_cbf is.
    */
  private type CuLevels = (Array[Int], Array[Int], Array[Int])

  /** The inter CU residual chain (§7.3.8.5/§7.3.8.8): rqt_root_cbf, then
    * cbf_cb and cbf_cr, cbf_luma (inferred 1 when both chroma cbfs are
    * 0), and the luma, Cb, Cr levels, with their gate sums.
    */
  private def encodeCuResidual(e: Encoder, sums: FrameSums, id: Long,
      f: Int, cuKey: Int, size: Int): CuLevels = {
    val rc = ConstructVI.rootCbf(id, f, cuKey)
    e.decision(CtxRqtRoot, if (rc) 1 else 0)
    if (!rc) return (null, null, null)
    sums.rootCbfSum += cuKey + 1
    val cbfCb = ConstructVI.cbfCb(id, cuKey)
    val cbfCr = ConstructVI.cbfCr(id, cuKey)
    e.decision(H265.CtxCbfChroma + 0, if (cbfCb) 1 else 0)
    e.decision(H265.CtxCbfChroma + 0, if (cbfCr) 1 else 0)
    val cbfY =
      if (!cbfCb && !cbfCr) true
      else {
        val v = ConstructV.cbf(id, cuKey, 0)
        e.decision(H265.CtxCbfLuma + 1, if (v) 1 else 0)
        v
      }
    def tu(coded: Boolean, comp: Int, nTbS: Int): Array[Int] =
      if (!coded) null
      else {
        val tag = ConstructV.tuTag(cuKey, comp)
        sums.cbfSum += tag + 1
        val (lv, pairs) = buildLevels(id, tag, nTbS, 0)
        val last = encodeResidual(e, lv, nTbS, luma = comp == 0, 0)
        sums.lastChecksum += last.toLong * (tag + 1)
        sums.addLevels(tag, pairs)
        lv
      }
    (tu(cbfY, 0, size), tu(cbfCb, 4, size / 2), tu(cbfCr, 5, size / 2))
  }

  /** Reads what [[encodeCuResidual]] wrote. */
  private def decodeCuResidual(d: Decoder, sums: FrameSums, cuKey: Int,
      size: Int): CuLevels = {
    if (d.decision(CtxRqtRoot) != 1) return (null, null, null)
    sums.rootCbfSum += cuKey + 1
    val cbfCb = d.decision(H265.CtxCbfChroma + 0) == 1
    val cbfCr = d.decision(H265.CtxCbfChroma + 0) == 1
    val cbfY =
      if (!cbfCb && !cbfCr) true
      else d.decision(H265.CtxCbfLuma + 1) == 1
    def tu(coded: Boolean, comp: Int, nTbS: Int): Array[Int] =
      if (!coded) null
      else {
        val tag = ConstructV.tuTag(cuKey, comp)
        sums.cbfSum += tag + 1
        val (lv, last) = decodeResidual(d, nTbS, luma = comp == 0, 0)
        sums.lastChecksum += last.toLong * (tag + 1)
        H265.addDecodedLevels(sums, tag, lv, nTbS, 0)
        lv
      }
    (tu(cbfY, 0, size), tu(cbfCb, 4, size / 2), tu(cbfCr, 5, size / 2))
  }

  /** MC (uni or bi per the prediction flags) + residual for one inter
    * CU, shared by encoder and decoder, P and B.
    */
  private def reconCu(st: SliceState, l0: H265Frame, l1: H265Frame,
      x0: Int, y0: Int, size: Int, m: BiMv, qp: Int,
      lv: CuLevels): Unit = {
    def planes(fr: H265Frame) = (fr.y, fr.cb, fr.cr)
    val (ay, acb, acr) = planes(l0); val (by, bcb, bcr) = planes(l1)
    if (m.use0 && m.use1) {
      mcBi(ay, by, st.w, st.h, st.y, st.w, x0, y0, size, size,
        m.mv0, m.mv1, luma = true)
      mcBi(acb, bcb, st.cw, st.ch, st.cb, st.cw, x0 / 2, y0 / 2,
        size / 2, size / 2, m.mv0, m.mv1, luma = false)
      mcBi(acr, bcr, st.cw, st.ch, st.cr, st.cw, x0 / 2, y0 / 2,
        size / 2, size / 2, m.mv0, m.mv1, luma = false)
    } else {
      val (ry, rcb, rcr, mv) =
        if (m.use0) (ay, acb, acr, m.mv0) else (by, bcb, bcr, m.mv1)
      mc(ry, st.w, st.h, st.y, st.w, x0, y0, size, size,
        mv._1, mv._2, luma = true)
      mc(rcb, st.cw, st.ch, st.cb, st.cw, x0 / 2, y0 / 2, size / 2,
        size / 2, mv._1, mv._2, luma = false)
      mc(rcr, st.cw, st.ch, st.cr, st.cw, x0 / 2, y0 / 2, size / 2,
        size / 2, mv._1, mv._2, luma = false)
    }
    def addResidual(plane: Array[Int], w: Int, px: Int, py: Int,
        nTbS: Int, lv: Array[Int]): Unit =
      if (lv != null) {
        val log2 = Integer.numberOfTrailingZeros(nTbS)
        val deq = new Array[Int](nTbS * nTbS)
        var i = 0
        while (i < deq.length) {
          if (lv(i) != 0) deq(i) = H265.dequant(lv(i), qp, log2)
          i += 1
        }
        val res = H265.inverseTransform(deq, nTbS, dst = false)
        for (r <- 0 until nTbS; c <- 0 until nTbS) {
          val idx = (py + r) * w + px + c
          plane(idx) = clip8(plane(idx) + res(r * nTbS + c))
        }
      }
    addResidual(st.y, st.w, x0, y0, size, lv._1)
    addResidual(st.cb, st.cw, x0 / 2, y0 / 2, size / 2, lv._2)
    addResidual(st.cr, st.cw, x0 / 2, y0 / 2, size / 2, lv._3)
    st.markY(x0, y0, size)
    st.markC(x0 / 2, y0 / 2, size / 2)
  }

  /** [[reconCu]] for a P CU: L0 only, from `ref`. */
  private def reconP(st: SliceState, ref: H265Frame, x0: Int, y0: Int,
      size: Int, mv: (Int, Int), qp: Int, lv: CuLevels): Unit =
    reconCu(st, ref, ref, x0, y0, size, BiMv(use0 = true, mv, use1 = false,
      (0, 0)), qp, lv)

  private val noLevels: CuLevels = (null, null, null)

  private def encodePSlice(id: Long, f: Int, wCtb: Int, hCtb: Int,
      qp: Int, ref: H265Frame): (Array[Byte], H265Frame) = {
    val w = new BitWriter
    writeInterHeader(w, f, b = false)
    val e = new Encoder(w, CtxCountInter)
    val st = new SliceState(wCtb * 32, hCtb * 32)
    val mf = new MotionField(st.w, st.h)
    val sums = new FrameSums
    H265.encodeCtus(e, st, sums, id, f) { (x0, y0, log2Size) =>
      val size = 1 << log2Size
      val cuKey = ConstructV.cuKey(x0, y0)
      val cls = ConstructVI.cuClass(id, f, cuKey)
      val skip = cls == 0
      e.decision(CtxCuSkip + mf.skipCtxInc(x0, y0), if (skip) 1 else 0)
      if (cls == 2) {
        e.decision(CtxPredMode, 1) // MODE_INTRA
        sums.nIntraCu += 1
        mf.fill(x0, y0, size, 0, 0, 0)
        H265.encodeCu(e, st, sums, id, f, x0, y0, log2Size, qp)
      } else {
        if (!skip) e.decision(CtxPredMode, 0) // MODE_INTER
        st.setDepth(x0, y0, size, 5 - log2Size)
        sums.nCus += 1
        val merge = skip || cls == 1
        if (!skip) e.decision(CtxMergeFlag, if (merge) 1 else 0)
        val mv =
          if (merge) {
            if (skip) sums.nSkipCu += 1 else sums.nMergeCu += 1
            mergeCandidates(mf, x0, y0, size)(
              encodeMergeIdx(e, sums, id, cuKey))
          } else {
            sums.nAmvpCu += 1
            val (dx, dy) = (ConstructVI.mvdX(id, f, cuKey),
              ConstructVI.mvdY(id, f, cuKey))
            encodeMvd(e, dx, dy)
            sums.mvdChecksum += dx.toLong * (cuKey * 4 + 1) +
              dy.toLong * (cuKey * 4 + 3)
            val mvp = ConstructVI.mvpFlag(id, cuKey)
            e.decision(CtxMvpFlag, mvp)
            val c = amvpCandidates(mf, x0, y0, size)(mvp)
            (c._1 + dx, c._2 + dy)
          }
        mf.fill(x0, y0, size, mv._1, mv._2, if (skip) 2 else 1)
        reconP(st, ref, x0, y0, size, mv, qp,
          if (skip) noLevels
          else encodeCuResidual(e, sums, id, f, cuKey, size))
      }
    }
    w.alignByte()
    (w.result(), sums.frame(st))
  }

  // -------------------------------------------------------------------
  // B slices (q320): two reference lists + default bi-prediction
  // -------------------------------------------------------------------

  /** Encode an I / P / B group (q320): I(poc 0) as the q315 intra
    * frame, P(poc 2, TRAIL_R) as the q319 P slice referencing I, and a
    * non-reference B(poc 1, TRAIL_N) with L0 = [I], L1 = [P]. Frames
    * return in decode order (display order is I, B, P).
    */
  def encodeGop(id: Long, wCtb: Int, hCtb: Int,
      qp: Int): (Array[Byte], Vector[H265Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    val frames = Vector.newBuilder[H265Frame]
    val frI = encodeIdr(out, id, wCtb, hCtb, qp)
    frames += frI
    val (rbspP, frP) = encodePSlice(id, 1, wCtb, hCtb, qp, frI)
    out.write(H265.nal(1, rbspP))
    frames += frP
    val (rbspB, frB) = encodeBSlice(id, 2, wCtb, hCtb, qp, frI, frP)
    out.write(H265.nal(0, rbspB)) // TRAIL_N: non-reference
    frames += frB
    (out.toByteArray, frames.result())
  }

  /** inter_pred_idc for 2Nx2N (§9.3.3.1.6): '1' BI with the bin-0
    * context from the coding depth, '00' L0, '01' L1 (bin 1 at the
    * fixed offset).
    */
  private def encodePredIdc(e: Encoder, depth: Int, idc: Int): Unit = {
    e.decision(CtxInterPredIdc + depth, if (idc == 3) 1 else 0)
    if (idc != 3) e.decision(CtxInterPredIdc + 4, idc - 1)
  }
  private def decodePredIdc(d: Decoder, depth: Int): Int =
    if (d.decision(CtxInterPredIdc + depth) == 1) 3
    else 1 + d.decision(CtxInterPredIdc + 4)

  private def encodeBSlice(id: Long, f: Int, wCtb: Int, hCtb: Int,
      qp: Int, l0: H265Frame, l1: H265Frame): (Array[Byte], H265Frame) = {
    val w = new BitWriter
    writeInterHeader(w, 1, b = true) // poc 1: between I (0) and P (2)
    val e = new Encoder(w, CtxCountInter)
    val st = new SliceState(wCtb * 32, hCtb * 32)
    val bf = new BiField(st.w, st.h)
    val sums = new FrameSums
    H265.encodeCtus(e, st, sums, id, f) { (x0, y0, log2Size) =>
      val size = 1 << log2Size
      val depth = 5 - log2Size
      val cuKey = ConstructV.cuKey(x0, y0)
      val cls = ConstructVI.cuClassB(id, f, cuKey)
      val skip = cls == 0
      e.decision(CtxCuSkip + bf.skipCtxInc(x0, y0), if (skip) 1 else 0)
      if (cls == 2) {
        e.decision(CtxPredMode, 1)
        sums.nIntraCu += 1
        bf.fillIntra(x0, y0, size)
        H265.encodeCu(e, st, sums, id, f, x0, y0, log2Size, qp)
      } else {
        if (!skip) e.decision(CtxPredMode, 0)
        st.setDepth(x0, y0, size, depth)
        sums.nCus += 1
        val merge = skip || cls == 1
        if (!skip) e.decision(CtxMergeFlag, if (merge) 1 else 0)
        val m: BiMv =
          if (merge) {
            if (skip) sums.nSkipCu += 1 else sums.nMergeCu += 1
            mergeCandidatesB(bf, x0, y0, size)(
              encodeMergeIdx(e, sums, id, cuKey))
          } else {
            sums.nAmvpCu += 1
            val idc = cls - 2 // 1 L0, 2 L1, 3 BI
            sums.predIdcSum += idc.toLong * (cuKey + 1)
            encodePredIdc(e, depth, idc)
            var mv0 = (0, 0); var mv1 = (0, 0)
            if (idc == 1 || idc == 3) {
              val (dx, dy) = (ConstructVI.mvdX(id, f, cuKey),
                ConstructVI.mvdY(id, f, cuKey))
              encodeMvd(e, dx, dy)
              sums.mvdChecksum += dx.toLong * (cuKey * 8 + 1) +
                dy.toLong * (cuKey * 8 + 3)
              val mvp = ConstructVI.mvpFlag(id, cuKey)
              e.decision(CtxMvpFlag, mvp)
              val c = amvpCandidates(bf.l0, x0, y0, size)(mvp)
              mv0 = (c._1 + dx, c._2 + dy)
            }
            if (idc == 2 || idc == 3) {
              val (dx, dy) = (ConstructVI.mvdX1(id, f, cuKey),
                ConstructVI.mvdY1(id, f, cuKey))
              encodeMvd(e, dx, dy)
              sums.mvdChecksum += dx.toLong * (cuKey * 8 + 5) +
                dy.toLong * (cuKey * 8 + 7)
              val mvp = ConstructVI.mvpFlag1(id, cuKey)
              e.decision(CtxMvpFlag, mvp)
              val c = amvpCandidates(bf.l1, x0, y0, size)(mvp)
              mv1 = (c._1 + dx, c._2 + dy)
            }
            BiMv(idc != 2, mv0, idc != 1, mv1)
          }
        bf.fill(x0, y0, size, m, skip)
        reconCu(st, l0, l1, x0, y0, size, m, qp,
          if (skip) noLevels
          else encodeCuResidual(e, sums, id, f, cuKey, size))
      }
    }
    w.alignByte()
    (w.result(), sums.frame(st))
  }

  private def decodeBSlice(rbsp: Array[Byte], width: Int, height: Int,
      qp: Int, l0: H265Frame, l1: H265Frame): H265Frame = {
    val d = new Decoder(rbsp, readInterHeader(rbsp, b = true), CtxCountInter)
    val st = new SliceState(width, height)
    val bf = new BiField(width, height)
    val sums = new FrameSums
    H265.decodeCtus(d, st, sums) { (x0, y0, log2Size) =>
      val size = 1 << log2Size
      val depth = 5 - log2Size
      val cuKey = ConstructV.cuKey(x0, y0)
      val skip = d.decision(CtxCuSkip + bf.skipCtxInc(x0, y0)) == 1
      if (!skip && d.decision(CtxPredMode) == 1) {
        sums.nIntraCu += 1
        bf.fillIntra(x0, y0, size)
        H265.decodeCu(d, st, sums, x0, y0, log2Size, qp)
      } else {
        st.setDepth(x0, y0, size, depth)
        sums.nCus += 1
        val merge = skip || d.decision(CtxMergeFlag) == 1
        val m: BiMv =
          if (merge) {
            if (skip) sums.nSkipCu += 1 else sums.nMergeCu += 1
            mergeCandidatesB(bf, x0, y0, size)(decodeMergeIdx(d, sums, cuKey))
          } else {
            sums.nAmvpCu += 1
            val idc = decodePredIdc(d, depth)
            sums.predIdcSum += idc.toLong * (cuKey + 1)
            var mv0 = (0, 0); var mv1 = (0, 0)
            if (idc == 1 || idc == 3) {
              val (dx, dy) = decodeMvd(d)
              sums.mvdChecksum += dx.toLong * (cuKey * 8 + 1) +
                dy.toLong * (cuKey * 8 + 3)
              val mvp = d.decision(CtxMvpFlag)
              val c = amvpCandidates(bf.l0, x0, y0, size)(mvp)
              mv0 = (c._1 + dx, c._2 + dy)
            }
            if (idc == 2 || idc == 3) {
              val (dx, dy) = decodeMvd(d)
              sums.mvdChecksum += dx.toLong * (cuKey * 8 + 5) +
                dy.toLong * (cuKey * 8 + 7)
              val mvp = d.decision(CtxMvpFlag)
              val c = amvpCandidates(bf.l1, x0, y0, size)(mvp)
              mv1 = (c._1 + dx, c._2 + dy)
            }
            BiMv(idc != 2, mv0, idc != 1, mv1)
          }
        bf.fill(x0, y0, size, m, skip)
        reconCu(st, l0, l1, x0, y0, size, m, qp,
          if (skip) noLevels else decodeCuResidual(d, sums, cuKey, size))
      }
    }
    sums.frame(st)
  }

  /** Decode a q320 I/P/B group; None outside the envelope. */
  def decodeGop(bytes: Array[Byte]): Option[H265Stream] =
    decodeWith(bytes, allowB = true)

  // -------------------------------------------------------------------
  // decode
  // -------------------------------------------------------------------

  /** Decode a stream this construction emits; None outside the
    * envelope (inter partitions beyond 2Nx2N, TMVP — the fall-through
    * contract). `decode` handles the q319 I/P streams; [[decodeGop]]
    * additionally accepts the TRAIL_N B picture.
    */
  def decode(bytes: Array[Byte]): Option[H265Stream] =
    decodeWith(bytes, allowB = false)

  private def decodeWith(bytes: Array[Byte],
      allowB: Boolean): Option[H265Stream] = {
    try {
      var width = -1; var height = -1
      var qp = -1
      var sawSps = false; var sawPps = false
      var prev: Option[H265Frame] = None
      var prevPrev: Option[H265Frame] = None
      val frames = Vector.newBuilder[H265Frame]
      H265.splitNals(bytes).foreach {
        case (32, _) => // VPS
        case (33, rbsp) =>
          val (w, h) = H265.readSps(rbsp).getOrElse(return None)
          width = w; height = h
          sawSps = true
        case (34, rbsp) =>
          qp = H265.readPps(rbsp).getOrElse(return None)
          sawPps = true
        case (19, rbsp) if sawSps && sawPps =>
          val b = Vector.newBuilder[H265Frame]
          H265.decodeSlice(rbsp, width, height, qp, b)
          val fr = b.result().head
          frames += fr
          prevPrev = None
          prev = Some(fr)
        case (1, rbsp) if sawSps && sawPps && prev.isDefined =>
          val fr = decodePSlice(rbsp, width, height, qp, prev.get)
          frames += fr
          prevPrev = prev
          prev = Some(fr)
        case (0, rbsp) if allowB && sawSps && sawPps &&
            prev.isDefined && prevPrev.isDefined =>
          // TRAIL_N B picture between the last two reference frames
          // (decode order I, P, B; display I, B, P) — never enters
          // the reference chain
          frames += decodeBSlice(rbsp, width, height, qp,
            prevPrev.get, prev.get)
        case _ => return None
      }
      val fs = frames.result()
      if (fs.size < 2) None else Some(H265Stream(width, height, qp, fs))
    } catch {
      case e: RuntimeException =>
        if (java.lang.Boolean.getBoolean("graft.h265.debug")) e.printStackTrace()
        None
    }
  }

  private def decodePSlice(rbsp: Array[Byte], width: Int, height: Int,
      qp: Int, ref: H265Frame): H265Frame = {
    val d = new Decoder(rbsp, readInterHeader(rbsp, b = false), CtxCountInter)
    val st = new SliceState(width, height)
    val mf = new MotionField(width, height)
    val sums = new FrameSums
    H265.decodeCtus(d, st, sums) { (x0, y0, log2Size) =>
      val size = 1 << log2Size
      val cuKey = ConstructV.cuKey(x0, y0)
      val skip = d.decision(CtxCuSkip + mf.skipCtxInc(x0, y0)) == 1
      if (!skip && d.decision(CtxPredMode) == 1) {
        sums.nIntraCu += 1
        mf.fill(x0, y0, size, 0, 0, 0)
        H265.decodeCu(d, st, sums, x0, y0, log2Size, qp)
      } else {
        st.setDepth(x0, y0, size, 5 - log2Size)
        sums.nCus += 1
        val merge = skip || d.decision(CtxMergeFlag) == 1
        val mv =
          if (merge) {
            if (skip) sums.nSkipCu += 1 else sums.nMergeCu += 1
            mergeCandidates(mf, x0, y0, size)(decodeMergeIdx(d, sums, cuKey))
          } else {
            sums.nAmvpCu += 1
            val (dx, dy) = decodeMvd(d)
            sums.mvdChecksum += dx.toLong * (cuKey * 4 + 1) +
              dy.toLong * (cuKey * 4 + 3)
            val mvp = d.decision(CtxMvpFlag)
            val c = amvpCandidates(mf, x0, y0, size)(mvp)
            (c._1 + dx, c._2 + dy)
          }
        mf.fill(x0, y0, size, mv._1, mv._2, if (skip) 2 else 1)
        reconP(st, ref, x0, y0, size, mv, qp,
          if (skip) noLevels else decodeCuResidual(d, sums, cuKey, size))
      }
    }
    sums.frame(st)
  }
}
