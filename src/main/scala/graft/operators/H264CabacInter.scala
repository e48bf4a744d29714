package graft.operators

/** H.264/AVC CABAC INTER decoding — P slices under
  * entropy_coding_mode_flag = 1 (ITU-T H.264 §9.3.3.1.1, the q316
  * construction-inverse gate; the CAVLC twin is q309). Reuses
  * [[H264Cabac]]'s arithmetic engine, residual chain and intra slice
  * codec (frame 0 is a full q314 CABAC intra IDR picture), and
  * [[H264]]'s motion machinery unchanged: median MV prediction with
  * the directional shortcuts, P_Skip motion inference, quarter-pel
  * 6-tap luma + eighth-pel chroma MC, the two-frame sliding-window
  * DPB, and the shared encoder/decoder inter reconstruction.
  *
  * CABAC inter syntax covered, with neighbor-based context increments:
  *
  *  - mb_skip_flag (§9.3.3.1.1.1: one context per count of available
  *    non-skipped neighbors) — replacing CAVLC's mb_skip_run.
  *  - P mb_type as the Table 9-37 tree over bins ('000' P_L0_16x16,
  *    '011' 16x8, '010' 8x16, '001' P_8x8; the '1' intra-suffix
  *    prefix is out of construction scope and falls through), with
  *    the bin-2 context split on bin 1 pinned as this repo's
  *    convention (same policy as the q314 Table 9-39 row pin).
  *  - sub_mb_type P tree ('1' P_L0_8x8 — the only value the
  *    construction emits; the 8x4/4x8/4x4 branches parse and fall
  *    through, mirroring q309's CAVLC scope).
  *  - ref_idx_l0 unary with the refIdx>0 neighbor conditions.
  *  - mvd_l0 as UEG3 (uCoff 9): TU prefix whose bin-0 context is the
  *    |mvdA|+|mvdB| bucket (<3 / ≤32 / >32) over per-4x4-cell mvd
  *    grids, per-bin contexts for bins 1-3, a shared context past
  *    bin 3, bypass 3rd-order Exp-Golomb suffix and bypass sign.
  *  - coded_block_pattern bin-coded (the full 0..47 sweep — CAVLC's
  *    q309 was bounded by the transcribed me(v) subset head; CABAC
  *    has no such table, so the construction sweeps every value).
  *  - The residual chain is [[H264Cabac.encodeResidual]] with
  *    curIntra = false: §9.3.3.1.1.9's unavailable-neighbor
  *    coded_block_flag condition flips to 0 for inter macroblocks.
  *
  * B slices (q317) ride the same engine: mb_skip_flag and the
  * Table 9-37 B mb_type tree ('0' B_Direct_16x16, '100' B_L0_16x16,
  * '101' B_L1_16x16, '110000' B_Bi_16x16) with the explicit-neighbor
  * bin-0 condition (skip/direct neighbors count 0), per-list UEG3
  * mvd contexts over per-list grids, and q313's spatial-direct
  * machinery (MinPositive refs, per-cell colZeroFlag, default
  * biprediction) plus POC-type-0 output ordering, all unchanged.
  *
  * Scope bounds (documented fall-throughs, same policy as the CAVLC
  * inter path): P/B slices with mb_qp_delta 0 and no intra MBs inside
  * them, one or two L0 references (one per list in B), non-reference
  * B pictures, and uniform context init per [[H264Cabac]]'s scope
  * note. BOTH direct modes decode: spatial (§8.4.1.2.2, q317) and
  * TEMPORAL (§8.4.1.2.3 POC-distance MV scaling, q318) — the
  * direct_spatial_mv_pred_flag picks the derivation per slice.
  */
object H264CabacInter {

  import H264.{BitReader, ConstructB, ConstructH, ConstructP,
    DirectMotion, H264Frame, H264Stream, InterMb, MotionGrid, PartKind,
    Planes, directMotion, fillDirect, mvPred, nal, newPlanes, ppsRbsp,
    skipMv, nPartsOf, partKindOf, partRect, reconstructBMb,
    reconstructDirectMb, reconstructInterMb, residualMb, skipMb,
    sliceHeader, spsRbsp}
  import H264Cabac.{CatLuma4, CtxMbQpDelta, Decoder, Encoder, SliceCtx}

  // -------------------------------------------------------------------
  // context map extension (appended after H264Cabac's intra space)
  // -------------------------------------------------------------------
  val CtxSkipP = 280 // + inc 0..2 (available non-skipped neighbors)
  val CtxMbTypeP = 283 // bins: +0, +1, +2 (b1=0) / +3 (b1=1)
  val CtxSubMbTypeP = 287 // bins 0..2
  val CtxRefIdx = 290 // bin0 + inc 0..3; bin1 at +4; rest at +5
  val CtxMvdX = 296 // bin0 + inc 0..2; bins 1-3 at +3..+5; rest +6
  val CtxMvdY = 303
  /** B-slice additions (q317): mvd_l1 gets its own component pair —
    * §9.3.3.1.1.7 buckets on the SAME list's neighbor |mvd|.
    */
  val CtxMvdX1 = 310
  val CtxMvdY1 = 317
  val CtxSkipB = 324 // + inc 0..2
  val CtxMbTypeB = 327 // bin0 + inc 0..2; bin1 at +3; bins >= 2 at +4
  val CtxCountP = 332

  /** mbKind codes stored into [[H264Cabac.SliceCtx]] for P slices
    * (the intra codes 0/1 never occur inside a P slice here).
    */
  final val KindInter = 2
  final val KindSkip = 3
  final val KindDirect = 4

  /** q316's deterministic construction: [[H264.ConstructP]] for skip/
    * type/refIdx/mvd/levels, plus a full-sweep CBP (CABAC codes the
    * pattern as six bins, so unlike CAVLC's transcribed me(v) head
    * every value 0..47 is reachable).
    */
  object ConstructPC {
    def cbp48(id: Long, f: Int, mb: Int): Int =
      ((id + 5L * f + 29L * mb) % 48).toInt
    /** Wider than q309's ±8: |mvd| reaches 20 quarter-pels so the
      * UEG3 prefix saturates at uCoff 9 and the bypass Exp-Golomb
      * suffix is genuinely exercised (±8 never escapes the TU part).
      */
    def mvdX(id: Long, f: Int, mb: Int, part: Int): Int =
      (((id + 3L * f + 5L * mb + 7L * part) % 41) - 20).toInt
    def mvdY(id: Long, f: Int, mb: Int, part: Int): Int =
      (((3L * id + f + 2L * mb + 5L * part) % 41) - 20).toInt
  }

  // -------------------------------------------------------------------
  // encode
  // -------------------------------------------------------------------

  /** Encode an IDR + P-frame CABAC stream (q316): frame 0 is the q314
    * CABAC intra construction, frames 1.. are P slices. Returns
    * (bytes, per-frame expected reconstructions + gate sums).
    */
  def encodeInter(id: Long, wMb: Int, hMb: Int, nFrames: Int,
      qp: Int): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(7, spsRbsp(wMb, hMb, profileIdc = 77, maxRef = 2)))
    out.write(nal(8, ppsRbsp(cabac = true)))
    val frames = Vector.newBuilder[H264Frame]
    val b0 = Vector.newBuilder[H264Frame]
    val rbsp0 = H264Cabac.encodeSlice(id, 0, wMb, hMb, qp, b0)
    out.write(nal(5, rbsp0))
    val fr0 = b0.result().head
    frames += fr0
    var dpb: List[(Array[Int], Array[Int], Array[Int])] =
      List((fr0.y, fr0.cb, fr0.cr))
    for (f <- 1 until nFrames) {
      val (rbsp, fr, _) = encodePSlice(id, f, wMb, hMb, qp, dpb.toIndexedSeq)
      out.write(nal(1, rbsp))
      frames += fr
      dpb = ((fr.y, fr.cb, fr.cr) :: dpb).take(2)
    }
    (out.toByteArray, frames.result())
  }

  /** mb_skip_flag ctxInc: available neighbors that are NOT skipped
    * (§9.3.3.1.1.1; within this P slice every decoded MB is inter).
    */
  private def skipInc(sc: SliceCtx, wMb: Int, mbX: Int, mbY: Int): Int = {
    def c(x: Int, y: Int): Int =
      if (sc.avail(x, y) && sc.mbKind(y * wMb + x) != KindSkip) 1 else 0
    c(mbX - 1, mbY) + c(mbX, mbY - 1)
  }

  /** ref_idx_l0 bin-0 conditions from the motion grid (a neighbor
    * partition with refIdx > 0; skip cells carry refIdx 0).
    */
  private def refInc(g: MotionGrid, gx: Int, gy: Int): Int = {
    def c(x: Int, y: Int): Int =
      if (g.decoded(x, y) && g.ref(y)(x) > 0) 1 else 0
    c(gx - 1, gy) + 2 * c(gx, gy - 1)
  }

  /** |mvd| bucket for the UEG3 prefix's bin 0 (§9.3.3.1.1.7). */
  private def mvdInc(am: Array[Array[Int]], gx: Int, gy: Int): Int = {
    def at(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || y >= am.length || x >= am(0).length) 0
      else am(y)(x)
    val s = at(gx - 1, gy) + at(gx, gy - 1)
    if (s < 3) 0 else if (s <= 32) 1 else 2
  }

  private def mvdCtx(base: Int, inc0: Int, bin: Int): Int =
    if (bin == 0) base + inc0
    else if (bin <= 3) base + 2 + bin
    else base + 6

  private def encodeMvd(e: Encoder, base: Int, inc0: Int, v: Int): Unit = {
    val a = math.abs(v)
    val prefix = math.min(a, 9)
    var b = 0
    while (b < prefix) { e.decision(mvdCtx(base, inc0, b), 1); b += 1 }
    if (prefix < 9) e.decision(mvdCtx(base, inc0, prefix), 0)
    else {
      // 3rd-order Exp-Golomb bypass suffix of a - 9
      var k = 3
      var rem = a - 9
      while (rem >= (1 << k)) { e.bypass(1); rem -= 1 << k; k += 1 }
      e.bypass(0)
      var i = k - 1
      while (i >= 0) { e.bypass((rem >> i) & 1); i -= 1 }
    }
    if (a > 0) e.bypass(if (v < 0) 1 else 0)
  }

  private def decodeMvd(d: Decoder, base: Int, inc0: Int): Int = {
    var a = 0
    while (a < 9 && d.decision(mvdCtx(base, inc0, a)) == 1) a += 1
    if (a == 9) {
      var k = 3
      while (d.bypass() == 1) {
        a += 1 << k; k += 1
        if (k > 24) throw new IllegalStateException("runaway mvd EG3")
      }
      var i = 0
      var suffix = 0
      while (i < k) { suffix = (suffix << 1) | d.bypass(); i += 1 }
      a += suffix
    }
    if (a > 0 && d.bypass() == 1) -a else a
  }

  /** Spec hooks: the mvd UEG3 round-trip with a fixed bin-0 bucket. */
  private[operators] def testEncodeMvd(e: Encoder, v: Int): Unit =
    encodeMvd(e, CtxMvdX, 0, v)
  private[operators] def testDecodeMvd(d: Decoder): Int =
    decodeMvd(d, CtxMvdX, 0)

  /** Per-slice state of the CABAC P and B coders: neighbor contexts
    * (with the level checksum), output planes, per-list motion grids,
    * per-list |mvd| grids for the mvd bin-0 contexts, and the gate sums.
    */
  private final class InterSlice(wMb: Int, hMb: Int) {
    val sc = new SliceCtx(wMb, hMb)
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val grid: Array[MotionGrid] =
      Array.fill(2)(new MotionGrid(wMb * 4, hMb * 4))
    val amx, amy: Array[Array[Array[Int]]] =
      Array.fill(2)(Array.ofDim[Int](hMb * 4, wMb * 4))
    var mvdSum = 0L; var refSum = 0L; var nSkip = 0L; var typeSum = 0L
    var nDirect = 0L; var cbpSum = 0L

    /** Records list `l`'s |mvd| over a w4 x h4 block of 4x4 cells. */
    def markMvd(l: Int, gx0: Int, gy0: Int, w4: Int, h4: Int, dx: Int,
        dy: Int): Unit =
      for (yy <- gy0 until gy0 + h4; xx <- gx0 until gx0 + w4) {
        amx(l)(yy)(xx) = math.abs(dx)
        amy(l)(yy)(xx) = math.abs(dy)
      }

    def frame(poc: Long): H264Frame =
      H264Frame(y, cb, cr, sc.levels.value, 0L, 0L, 0L, 0L, mvdSum, refSum,
        nSkip, typeSum, poc = poc, nDirect = nDirect, cbpSum = cbpSum)
  }

  /** The full-sweep CBP, mb_qp_delta and residual blocks of one inter
    * MB, shared by the P and B encoders.
    */
  private def encodeResidualMb(e: Encoder, s: InterSlice, id: Long, f: Int,
      mbIdx: Int, mbX: Int, mbY: Int): InterMb = {
    val cbp = ConstructPC.cbp48(id, f, mbIdx)
    s.cbpSum += cbp.toLong * (mbIdx + 1)
    val cbpL = cbp & 15; val cbpC = cbp >> 4
    s.sc.encodeCbp(e, mbIdx, mbX, mbY, cbp)
    if (cbp != 0) e.decision(CtxMbQpDelta, 0) // mb_qp_delta = 0
    val lv = ConstructH.mbLevels(id, f, mbIdx, cbpL, 16, cbpC)
    s.sc.encodeBlocks(e, mbIdx, mbX, mbY, CatLuma4, cbpL, cbpC, lv,
      curIntra = false)
    residualMb(cbpL, cbpC, lv)
  }

  /** Reads what [[encodeResidualMb]] wrote. */
  private def decodeResidualMb(d: Decoder, s: InterSlice, mbIdx: Int,
      mbX: Int, mbY: Int): InterMb = {
    val cbp = s.sc.decodeCbp(d, mbIdx, mbX, mbY)
    s.cbpSum += cbp.toLong * (mbIdx + 1)
    if (cbp != 0 && d.decision(CtxMbQpDelta) != 0)
      throw new IllegalStateException("nonzero mb_qp_delta out of scope")
    val cbpL = cbp & 15; val cbpC = cbp >> 4
    residualMb(cbpL, cbpC, s.sc.decodeBlocks(d, mbIdx, mbX, mbY, CatLuma4,
      16, cbpL, cbpC, curIntra = false))
  }

  private def encodePSlice(id: Long, f: Int, wMb: Int, hMb: Int,
      qp: Int, refs: IndexedSeq[(Array[Int], Array[Int], Array[Int])],
      pocLsb: Option[Int] = None)
    : (Array[Byte], H264Frame, MotionGrid) = {
    val nRefs = math.min(refs.size, 2)
    val w = sliceHeader(5, f, qp, pocLsb, cabac = true, nRefs)
    val e = new Encoder(w, CtxCountP)
    val s = new InterSlice(wMb, hMb)
    val sc = s.sc; val grid = s.grid(0)
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      val skip = ConstructP.isSkip(id, f, mbIdx)
      e.decision(CtxSkipP + skipInc(sc, wMb, mbX, mbY), if (skip) 1 else 0)
      if (skip) {
        s.nSkip += 1
        sc.mbKind(mbIdx) = KindSkip
        val (mx, my) = skipMv(grid, gx0, gy0)
        grid.fill(gx0, gy0, 4, 4, mx, my, 0)
        reconstructInterMb(skipMb.copy(mv = Array((mx, my))), qp, mbX,
          mbY, refs, s.y, s.cb, s.cr, wMb, hMb)
      } else {
        sc.mbKind(mbIdx) = KindInter
        val pt = ConstructP.ptype(id, f, mbIdx)
        s.typeSum += (pt + 1L) * (mbIdx + 1)
        // mb_type tree: '0' inter prefix, then (b1, b2)
        e.decision(CtxMbTypeP + 0, 0)
        val b1 = if (pt == 1 || pt == 2) 1 else 0
        val b2 = if (pt == 3 || pt == 1) 1 else 0
        e.decision(CtxMbTypeP + 1, b1)
        e.decision(CtxMbTypeP + (if (b1 == 0) 2 else 3), b2)
        val np = nPartsOf(pt)
        if (pt == 3)
          for (_ <- 0 until np) e.decision(CtxSubMbTypeP + 0, 1) // P_L0_8x8
        val refIdxArr = Array.tabulate(np)(p =>
          ConstructP.refIdx(id, mbIdx, p, nRefs))
        val mvs = new Array[(Int, Int)](np)
        for (p <- 0 until np) {
          val (cx, cy, cw, ch) = partRect(pt, p)
          if (nRefs == 2) {
            val inc = refInc(grid, gx0 + cx, gy0 + cy)
            e.decision(CtxRefIdx + inc, if (refIdxArr(p) > 0) 1 else 0)
            if (refIdxArr(p) > 0) e.decision(CtxRefIdx + 4, 0) // unary stop
            s.refSum += refIdxArr(p).toLong * (mbIdx + 1)
          }
          val mvdx = ConstructPC.mvdX(id, f, mbIdx, p)
          val mvdy = ConstructPC.mvdY(id, f, mbIdx, p)
          encodeMvd(e, CtxMvdX, mvdInc(s.amx(0), gx0 + cx, gy0 + cy), mvdx)
          encodeMvd(e, CtxMvdY, mvdInc(s.amy(0), gx0 + cx, gy0 + cy), mvdy)
          mvs(p) = partMv(s, mbIdx, pt, p, refIdxArr(p), mvdx, mvdy)
        }
        reconstructInterMb(encodeResidualMb(e, s, id, f, mbIdx, mbX, mbY)
          .copy(ptype = pt, refIdx = refIdxArr, mv = mvs), qp, mbX, mbY,
          refs, s.y, s.cb, s.cr, wMb, hMb)
      }
      e.terminate(if (mbIdx == total - 1) 1 else 0) // end_of_slice_flag
    }
    w.alignByte()
    (w.result(), s.frame(pocLsb.map(_.toLong).getOrElse(-1L)), grid)
  }

  /** One P partition's motion once its mvd is coded: mvd sum, median
    * prediction + mvd into the L0 grid, and the |mvd| context grid.
    */
  private def partMv(s: InterSlice, mbIdx: Int, pt: Int, p: Int,
      refIdx: Int, mvdx: Int, mvdy: Int): (Int, Int) = {
    val wMb = s.grid(0).w4 / 4
    val gx0 = (mbIdx % wMb) * 4; val gy0 = (mbIdx / wMb) * 4
    val (cx, cy, cw, ch) = partRect(pt, p)
    s.mvdSum += (mbIdx * 64L + p * 8 + 1) * mvdx +
      (mbIdx * 64L + p * 8 + 3) * mvdy
    val (mpx, mpy) = mvPred(s.grid(0), gx0 + cx, gy0 + cy, cw, refIdx,
      partKindOf(pt, p))
    val mv = (mpx + mvdx, mpy + mvdy)
    s.grid(0).fill(gx0 + cx, gy0 + cy, cw, ch, mv._1, mv._2, refIdx)
    s.markMvd(0, gx0 + cx, gy0 + cy, cw, ch, mvdx, mvdy)
    mv
  }

  // -------------------------------------------------------------------
  // B slices (q317): spatial direct + biprediction under CABAC
  // -------------------------------------------------------------------

  /** mb_type bin-0 / mb_skip_flag conditions for B slices: only an
    * available EXPLICIT inter neighbor counts (B_Skip and B_Direct
    * neighbors contribute 0, §9.3.3.1.1.2-3).
    */
  private def btypeInc(sc: SliceCtx, wMb: Int, mbX: Int, mbY: Int): Int = {
    def c(x: Int, y: Int): Int =
      if (sc.avail(x, y) && sc.mbKind(y * wMb + x) == KindInter) 1 else 0
    c(mbX - 1, mbY) + c(mbX, mbY - 1)
  }

  private def clip3(lo: Int, hi: Int, v: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  /** TEMPORAL direct motion (§8.4.1.2.3, q318): the co-located 4x4
    * cell's L0 motion in RefPicList1[0] is scaled by the POC-distance
    * ratio — tx = (16384 + |td/2|) / td, DistScaleFactor =
    * Clip3(-1024, 1023, (tb*tx + 32) >> 6), mvL0 = (DSF*mvCol + 128)
    * >> 8, mvL1 = mvL0 - mvCol — with both prediction flags set and
    * refIdx 0 in each single-entry list. An intra/absent co-located
    * field contributes zero motion; the long-term-reference branch
    * (mvL0 = mvCol, mvL1 = 0) is out of scope with no long-term refs
    * in the DPB.
    */
  def directMotionTemporal(colGrid: Option[MotionGrid], gx0: Int,
      gy0: Int, pocCur: Int, pocL0: Int, pocL1: Int): DirectMotion = {
    val tb = clip3(-128, 127, pocCur - pocL0)
    val td = clip3(-128, 127, pocL1 - pocL0)
    val tx = (16384 + math.abs(td / 2)) / td
    val dsf = clip3(-1024, 1023, (tb * tx + 32) >> 6)
    val mv0 = new Array[(Int, Int)](16)
    val mv1 = new Array[(Int, Int)](16)
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val (colX, colY) = colGrid match {
        case Some(cg) if cg.ref(gy0 + cy)(gx0 + cx) >= 0 =>
          (cg.mvx(gy0 + cy)(gx0 + cx), cg.mvy(gy0 + cy)(gx0 + cx))
        case _ => (0, 0)
      }
      val l0 = ((dsf * colX + 128) >> 8, (dsf * colY + 128) >> 8)
      mv0(cy * 4 + cx) = l0
      mv1(cy * 4 + cx) = (l0._1 - colX, l0._2 - colY)
    }
    DirectMotion(use0 = true, use1 = true, mv0, mv1)
  }

  /** Encode the q313 decode-order plan — I(poc 0), P(poc 6), B(poc 2),
    * B(poc 4) — under CABAC (q317; q318 with `spatial = false` flips
    * every direct/skip MB to TEMPORAL direct). Frame 0 is the q314
    * intra construction with a POC-type-0 slice header; the P frame is
    * the q316 P slice; the two non-reference B frames carry B_Skip,
    * B_Direct_16x16 and explicit L0/L1/Bi MBs with the full bin-coded
    * CBP sweep. Returns frames in DECODE order with their POCs.
    */
  def encodeBi(id: Long, wMb: Int, hMb: Int, qp: Int,
      spatial: Boolean = true): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(7, spsRbsp(wMb, hMb, profileIdc = 77, maxRef = 2,
      pocType = 0)))
    out.write(nal(8, ppsRbsp(cabac = true)))
    val frames = Vector.newBuilder[H264Frame]
    val b0 = Vector.newBuilder[H264Frame]
    val rbsp0 = H264Cabac.encodeSlice(id, 0, wMb, hMb, qp, b0,
      pocLsb = Some(ConstructB.Pocs(0)))
    out.write(nal(5, rbsp0))
    val fr0 = b0.result().head.copy(poc = ConstructB.Pocs(0).toLong)
    frames += fr0
    val ref0 = (fr0.y, fr0.cb, fr0.cr)
    val (rbspP, frP0, gridP) = encodePSlice(id, 1, wMb, hMb, qp,
      IndexedSeq(ref0), pocLsb = Some(ConstructB.Pocs(1)))
    val frP = frP0.copy(poc = ConstructB.Pocs(1).toLong)
    out.write(nal(1, rbspP))
    frames += frP
    val refP = (frP.y, frP.cb, frP.cr)
    for (f <- 2 until 4) {
      val (rbspB, frB) = encodeBSlice(id, f, wMb, hMb, qp,
        ref0, refP, Some(gridP), ConstructB.Pocs(f), spatial)
      out.write(nal(1, rbspB, refIdc = 0)) // non-reference picture
      frames += frB.copy(poc = ConstructB.Pocs(f).toLong)
    }
    (out.toByteArray, frames.result())
  }

  /** One B list's 16x16 motion once its mvd is coded (`l` 0 or 1): mvd
    * sum, median prediction + mvd, and the list's |mvd| context grid.
    */
  private def listMv(s: InterSlice, mbIdx: Int, gx0: Int, gy0: Int, l: Int,
      dx: Int, dy: Int): (Int, Int) = {
    s.mvdSum += (mbIdx * 64L + 16 * l + 1) * dx +
      (mbIdx * 64L + 16 * l + 3) * dy
    val (px, py) = mvPred(s.grid(l), gx0, gy0, 4, 0, PartKind.Full)
    s.markMvd(l, gx0, gy0, 4, 4, dx, dy)
    (px + dx, py + dy)
  }

  /** mvd_l0 / mvd_l1 context bases (x, y). */
  private def mvdCtxs(l: Int): (Int, Int) =
    if (l == 0) (CtxMvdX, CtxMvdY) else (CtxMvdX1, CtxMvdY1)

  private def encodeBSlice(id: Long, f: Int, wMb: Int, hMb: Int,
      qp: Int, l0: Planes, l1: Planes, colGrid: Option[MotionGrid],
      pocLsb: Int, spatial: Boolean): (Array[Byte], H264Frame) = {
    // the Bi plan's fixed reference POCs (I past, P future)
    val pocL0 = ConstructB.Pocs(0); val pocL1 = ConstructB.Pocs(1)
    val w = sliceHeader(6, f, qp, Some(pocLsb), cabac = true,
      spatial = spatial)
    val e = new Encoder(w, CtxCountP)
    val s = new InterSlice(wMb, hMb)
    val sc = s.sc
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      val skip = ConstructB.isSkipB(id, f, mbIdx)
      e.decision(CtxSkipB + skipInc(sc, wMb, mbX, mbY), if (skip) 1 else 0)
      if (skip) {
        s.nSkip += 1
        sc.mbKind(mbIdx) = KindSkip
        reconstructDirectMb(direct(s, gx0, gy0, colGrid, spatial, pocLsb,
          pocL0, pocL1), l0, l1, skipMb, qp, mbX, mbY, s.y, s.cb, s.cr,
          wMb, hMb)
      } else if (ConstructB.isDirectB(id, f, mbIdx)) {
        s.nDirect += 1
        e.decision(CtxMbTypeB + btypeInc(sc, wMb, mbX, mbY), 0) // '0'
        sc.mbKind(mbIdx) = KindDirect
        val dm = direct(s, gx0, gy0, colGrid, spatial, pocLsb, pocL0, pocL1)
        reconstructDirectMb(dm, l0, l1,
          encodeResidualMb(e, s, id, f, mbIdx, mbX, mbY),
          qp, mbX, mbY, s.y, s.cb, s.cr, wMb, hMb)
      } else {
        val bt = ConstructB.btype(id, f, mbIdx) // 1 L0 / 2 L1 / 3 Bi
        s.typeSum += bt.toLong * (mbIdx + 1)
        e.decision(CtxMbTypeB + btypeInc(sc, wMb, mbX, mbY), 1)
        // '100' L0 / '101' L1 / '110000' Bi
        if (bt == 3) {
          e.decision(CtxMbTypeB + 3, 1)
          for (_ <- 0 until 4) e.decision(CtxMbTypeB + 4, 0)
        } else {
          e.decision(CtxMbTypeB + 3, 0)
          e.decision(CtxMbTypeB + 4, if (bt == 2) 1 else 0)
        }
        sc.mbKind(mbIdx) = KindInter
        val use = Array(bt == 1 || bt == 3, bt == 2 || bt == 3)
        val mv = Array.tabulate(2) { l =>
          if (!use(l)) (0, 0)
          else {
            val dx = ConstructB.mvdX(id, f, mbIdx, l)
            val dy = ConstructB.mvdY(id, f, mbIdx, l)
            val (ctxX, ctxY) = mvdCtxs(l)
            encodeMvd(e, ctxX, mvdInc(s.amx(l), gx0, gy0), dx)
            encodeMvd(e, ctxY, mvdInc(s.amy(l), gx0, gy0), dy)
            listMv(s, mbIdx, gx0, gy0, l, dx, dy)
          }
        }
        reconstructB(s, use, mv, l0, l1,
          encodeResidualMb(e, s, id, f, mbIdx, mbX, mbY), qp, mbX, mbY)
      }
      e.terminate(if (mbIdx == total - 1) 1 else 0)
    }
    w.alignByte()
    (w.result(), s.frame(-1L))
  }

  /** Spatial or temporal direct motion of the MB at (gx0, gy0), recorded
    * in both list grids.
    */
  private def direct(s: InterSlice, gx0: Int, gy0: Int,
      colGrid: Option[MotionGrid], spatial: Boolean, poc: Int, pocL0: Int,
      pocL1: Int): DirectMotion = {
    val dm =
      if (spatial) directMotion(s.grid(0), s.grid(1), gx0, gy0, colGrid)
      else directMotionTemporal(colGrid, gx0, gy0, poc, pocL0, pocL1)
    fillDirect(s.grid(0), s.grid(1), dm, gx0, gy0)
    dm
  }

  /** An explicit 16x16 B MB: both list grids take its motion, then the
    * uni/bi-predicted reconstruction.
    */
  private def reconstructB(s: InterSlice, use: Array[Boolean],
      mv: Array[(Int, Int)], l0: Planes, l1: Planes, residual: InterMb,
      qp: Int, mbX: Int, mbY: Int): Unit = {
    for (l <- 0 until 2)
      s.grid(l).fill(mbX * 4, mbY * 4, 4, 4, mv(l)._1, mv(l)._2,
        if (use(l)) 0 else -1)
    reconstructBMb(use(0), use(1), mv(0), mv(1), l0, l1, residual, qp, mbX,
      mbY, s.y, s.cb, s.cr, s.grid(0).w4 / 4, s.grid(0).h4 / 4)
  }

  // -------------------------------------------------------------------
  // decode
  // -------------------------------------------------------------------

  /** Decode a stream this construction emits; None for anything
    * outside the envelope (CAVLC PPS, intra MBs inside P/B slices,
    * sub-partitions other than P_L0_8x8, temporal direct, nonzero
    * mb_qp_delta — the fall-through contract). Handles both the
    * POC-type-2 P stream (q316) and the POC-type-0 I/P/B stream
    * (q317); B frames never enter the DPB.
    */
  def decode(bytes: Array[Byte]): Option[H264Stream] = {
    try {
      var wMb = -1; var hMb = -1
      var sawPps = false
      var qp = -1
      var pocType = -1
      var decOrder = 0
      // (poc, planes, motion grid) — grid only for P pictures, used as
      // the co-located field by spatial direct
      var dpb: List[(Int, Planes, Option[MotionGrid])] = Nil
      val frames = Vector.newBuilder[H264Frame]
      H264.splitNals(bytes).map { case (h, rbsp) =>
        (h & 0x1f, (h >> 5) & 3, rbsp) }.foreach {
        case (7, _, rbsp) =>
          val sps = H264.readSps(rbsp, 77).getOrElse(return None) // Main
          wMb = sps.wMb; hMb = sps.hMb
          pocType = sps.pocType
        case (8, _, rbsp) =>
          if (!H264.readPps(rbsp, cabac = true)) return None // CABAC only
          sawPps = true
        case (5, _, rbsp) =>
          if (wMb < 0 || !sawPps) return None
          val r = new BitReader(rbsp)
          if (r.ue() != 0) return None
          if (r.ue() != 7) return None // I slice
          if (r.ue() != 0) return None
          r.get(4); r.ue() // frame_num, idr_pic_id
          val poc = if (pocType == 0) r.get(8) else decOrder * 2
          r.get(1); r.get(1) // dec_ref_pic_marking
          qp = 26 + r.se()
          if (qp > 29) return None
          if (r.ue() != 1) return None
          val pad = (8 - r.bitPos % 8) % 8
          if (pad > 0 && r.get(pad) != (1 << pad) - 1) return None
          val fr0 = H264Cabac.decodeSlice(rbsp, r.bitPos, wMb, hMb, qp)
          val fr = if (pocType == 0) fr0.copy(poc = poc.toLong) else fr0
          frames += fr
          decOrder += 1
          dpb = List((poc, (fr.y, fr.cb, fr.cr), None))
        case (1, nri, rbsp) =>
          if (wMb < 0 || !sawPps || dpb.isEmpty) return None
          val r = new BitReader(rbsp)
          if (r.ue() != 0) return None
          r.ue() match {
            case 5 => // P slice
              if (r.ue() != 0) return None
              r.get(4) // frame_num
              val poc = if (pocType == 0) r.get(8) else decOrder * 2
              val nRefs =
                if (r.get(1) == 1) { // num_ref_idx_active_override
                  val n = r.ue() + 1
                  if (n > 2) return None
                  n
                } else 1
              if (nRefs > dpb.size) return None
              if (r.get(1) != 0) return None // list modification
              if (r.get(1) != 0) return None // adaptive marking
              if (r.ue() != 0) return None // cabac_init_idc
              if (26 + r.se() != qp) return None
              if (r.ue() != 1) return None
              val pad = (8 - r.bitPos % 8) % 8
              if (pad > 0 && r.get(pad) != (1 << pad) - 1) return None
              val (fr0, grid) = decodePSlice(rbsp, r.bitPos, wMb, hMb,
                qp, nRefs, dpb.map(_._2).toIndexedSeq)
              val fr = if (pocType == 0) fr0.copy(poc = poc.toLong) else fr0
              frames += fr
              decOrder += 1
              dpb = ((poc, (fr.y, fr.cb, fr.cr),
                Some(grid): Option[MotionGrid]) :: dpb).take(2)
            case 6 => // B slice: non-reference, POC type 0 only
              if (pocType != 0) return None
              if (nri != 0) return None
              if (r.ue() != 0) return None
              r.get(4) // frame_num
              val poc = r.get(8)
              val spatialDirect = r.get(1) == 1 // else temporal (q318)
              if (r.get(1) != 0) return None // num_ref_idx override
              if (r.get(1) != 0 || r.get(1) != 0) return None // list mods
              // non-reference: no dec_ref_pic_marking
              if (r.ue() != 0) return None // cabac_init_idc
              if (26 + r.se() != qp) return None
              if (r.ue() != 1) return None
              val pad = (8 - r.bitPos % 8) % 8
              if (pad > 0 && r.get(pad) != (1 << pad) - 1) return None
              val past = dpb.filter(_._1 < poc).sortBy(-_._1)
              val future = dpb.filter(_._1 > poc).sortBy(_._1)
              if (past.isEmpty || future.isEmpty) return None
              frames += decodeBSlice(rbsp, r.bitPos, wMb, hMb, qp, poc,
                past.head._1, past.head._2, future.head._1,
                future.head._2, future.head._3, spatialDirect)
              decOrder += 1
            case _ => return None
          }
        case _ => return None
      }
      val fs = frames.result()
      if (wMb < 0 || fs.size < 2) None
      else Some(H264Stream(wMb, hMb, qp, fs))
    } catch { case _: Exception => None }
  }

  private def decodePSlice(rbsp: Array[Byte], startBit: Int, wMb: Int,
      hMb: Int, qp: Int, nRefs: Int,
      refs: IndexedSeq[(Array[Int], Array[Int], Array[Int])])
    : (H264Frame, MotionGrid) = {
    def bad(msg: String): Nothing = throw new IllegalStateException(msg)
    val d = new Decoder(rbsp, startBit, CtxCountP)
    val s = new InterSlice(wMb, hMb)
    val sc = s.sc; val grid = s.grid(0)
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      val skip = d.decision(CtxSkipP + skipInc(sc, wMb, mbX, mbY)) == 1
      if (skip) {
        s.nSkip += 1
        sc.mbKind(mbIdx) = KindSkip
        val (mx, my) = skipMv(grid, gx0, gy0)
        grid.fill(gx0, gy0, 4, 4, mx, my, 0)
        reconstructInterMb(skipMb.copy(mv = Array((mx, my))), qp, mbX,
          mbY, refs, s.y, s.cb, s.cr, wMb, hMb)
      } else {
        sc.mbKind(mbIdx) = KindInter
        if (d.decision(CtxMbTypeP + 0) != 0) bad("intra MB in P slice")
        val b1 = d.decision(CtxMbTypeP + 1)
        val b2 = d.decision(CtxMbTypeP + (if (b1 == 0) 2 else 3))
        val pt =
          if (b1 == 0) { if (b2 == 0) 0 else 3 }
          else { if (b2 == 0) 2 else 1 }
        s.typeSum += (pt + 1L) * (mbIdx + 1)
        val np = nPartsOf(pt)
        if (pt == 3) for (_ <- 0 until np)
          if (d.decision(CtxSubMbTypeP + 0) != 1)
            bad("sub_mb_type beyond P_L0_8x8 out of scope")
        val refIdxArr = new Array[Int](np)
        val mvs = new Array[(Int, Int)](np)
        for (p <- 0 until np) {
          val (cx, cy, _, _) = partRect(pt, p)
          refIdxArr(p) =
            if (nRefs == 2) {
              val inc = refInc(grid, gx0 + cx, gy0 + cy)
              if (d.decision(CtxRefIdx + inc) == 0) 0
              else {
                if (d.decision(CtxRefIdx + 4) != 0)
                  bad("ref_idx beyond active list")
                1
              }
            } else 0
          if (nRefs == 2) s.refSum += refIdxArr(p).toLong * (mbIdx + 1)
          val mvdx = decodeMvd(d, CtxMvdX, mvdInc(s.amx(0), gx0 + cx, gy0 + cy))
          val mvdy = decodeMvd(d, CtxMvdY, mvdInc(s.amy(0), gx0 + cx, gy0 + cy))
          mvs(p) = partMv(s, mbIdx, pt, p, refIdxArr(p), mvdx, mvdy)
        }
        reconstructInterMb(decodeResidualMb(d, s, mbIdx, mbX, mbY)
          .copy(ptype = pt, refIdx = refIdxArr, mv = mvs), qp, mbX, mbY,
          refs, s.y, s.cb, s.cr, wMb, hMb)
      }
      val end = d.terminate() == 1
      if (mbIdx == total - 1) { if (!end) bad("missing end_of_slice") }
      else if (end) bad("early end_of_slice")
    }
    (s.frame(-1L), grid)
  }

  private def decodeBSlice(rbsp: Array[Byte], startBit: Int, wMb: Int,
      hMb: Int, qp: Int, poc: Int, pocL0: Int, l0: Planes, pocL1: Int,
      l1: Planes, colGrid: Option[MotionGrid],
      spatial: Boolean): H264Frame = {
    def bad(msg: String): Nothing = throw new IllegalStateException(msg)
    val d = new Decoder(rbsp, startBit, CtxCountP)
    val s = new InterSlice(wMb, hMb)
    val sc = s.sc
    val total = wMb * hMb
    for (mbIdx <- 0 until total) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      val skip = d.decision(CtxSkipB + skipInc(sc, wMb, mbX, mbY)) == 1
      if (skip) {
        s.nSkip += 1
        sc.mbKind(mbIdx) = KindSkip
        reconstructDirectMb(direct(s, gx0, gy0, colGrid, spatial, poc,
          pocL0, pocL1), l0, l1, skipMb, qp, mbX, mbY, s.y, s.cb, s.cr,
          wMb, hMb)
      } else if (d.decision(CtxMbTypeB + btypeInc(sc, wMb, mbX, mbY)) == 0) {
        // B_Direct_16x16
        s.nDirect += 1
        sc.mbKind(mbIdx) = KindDirect
        val dm = direct(s, gx0, gy0, colGrid, spatial, poc, pocL0, pocL1)
        reconstructDirectMb(dm, l0, l1,
          decodeResidualMb(d, s, mbIdx, mbX, mbY),
          qp, mbX, mbY, s.y, s.cb, s.cr, wMb, hMb)
      } else {
        val bt =
          if (d.decision(CtxMbTypeB + 3) == 1) {
            for (_ <- 0 until 4)
              if (d.decision(CtxMbTypeB + 4) != 0)
                bad("B mb_type beyond Bi_16x16 out of scope")
            3
          } else if (d.decision(CtxMbTypeB + 4) == 1) 2
          else 1
        s.typeSum += bt.toLong * (mbIdx + 1)
        sc.mbKind(mbIdx) = KindInter
        val use = Array(bt == 1 || bt == 3, bt == 2 || bt == 3)
        val mv = Array.tabulate(2) { l =>
          if (!use(l)) (0, 0)
          else {
            val (ctxX, ctxY) = mvdCtxs(l)
            val dx = decodeMvd(d, ctxX, mvdInc(s.amx(l), gx0, gy0))
            val dy = decodeMvd(d, ctxY, mvdInc(s.amy(l), gx0, gy0))
            listMv(s, mbIdx, gx0, gy0, l, dx, dy)
          }
        }
        reconstructB(s, use, mv, l0, l1,
          decodeResidualMb(d, s, mbIdx, mbX, mbY), qp, mbX, mbY)
      }
      val end = d.terminate() == 1
      if (mbIdx == total - 1) { if (!end) bad("missing end_of_slice") }
      else if (end) bad("early end_of_slice")
    }
    s.frame(poc.toLong)
  }
}
