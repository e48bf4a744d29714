package graft.operators

/** H.264/AVC baseline-profile INTRA decode (ITU-T H.264 / ISO/IEC
  * 14496-10) — hand-written clean-room encoder/decoder pair for I-slices
  * (VERDICT r13 item 7, the stretch rung after full MPEG-1 I/P/B):
  * NAL/RBSP handling with emulation-prevention bytes, Exp-Golomb, SPS/
  * PPS/IDR-slice-header parse, I_16x16 macroblock layer, CAVLC residual
  * decode (coeff_token, trailing-one signs, adaptive-suffix level codes,
  * total_zeros, run_before), normative dequant (LevelScale V-matrix,
  * §8.5), the 4×4 inverse integer core transform, the 4×4 luma-DC
  * inverse Hadamard and 2×2 chroma-DC transform, and all four 16×16
  * luma + four chroma intra prediction modes (V/H/DC/Plane, §8.3.3-4).
  *
  * Clean-room provenance and documented SCOPE BOUNDS:
  *
  *  - The decode coverage is the I_16x16 path ONLY: mb_type 1..24
  *    (prediction mode, CBP luma ∈ {0,15} and CBP chroma ∈ {0,1,2} all
  *    carried inside mb_type per §7.4.5 — so Table 9-4's me(v) CBP
  *    mapping for I_4x4 is not needed and not transcribed). I_4x4
  *    prediction (9 modes) and I_PCM are the next rung; anything else
  *    returns None (fall-through, HeaderCodec contract).
  *  - The construction bounds TotalCoeff ≤ 3 per residual block, so
  *    coeff_token stays in the two low-nC contexts (0 ≤ nC < 2 and
  *    2 ≤ nC < 4) plus the chroma-DC table, and total_zeros needs only
  *    its first three rows. Those tables are transcribed from Table 9-5/
  *    9-7/9-9(a)/9-10 below; the 4 ≤ nC < 8 context, the nC ≥ 8 FLC and
  *    total_zeros rows 4-15 are deliberately NOT transcribed from
  *    memory (the silent-drift class the r13 video review caught in the
  *    quantizer matrices) — H264Spec pins every transcribed table
  *    prefix-free and cross-checks the canonically-cited codewords.
  *  - QP stays ≤ 29 so QPc = QP (Table 8-15's nonlinear tail is never
  *    entered); deblocking is legally disabled per-slice
  *    (disable_deblocking_filter_idc = 1), so reconstruction is exact.
  *  - The dequant LevelScale matrix and all transforms are the
  *    normative algorithms; the ENCODER chooses quantized levels
  *    directly in the transform domain (no forward-quantizer MF table
  *    needed — quantization is an encoder freedom, only dequant is
  *    normative), reconstructs exactly as the decoder will, and the
  *    gate is therefore BIT-EXACT equality, stronger than q287's
  *    error-bound form.
  */
object H264 {

  // -------------------------------------------------------------------
  // RBSP bit I/O + Exp-Golomb
  // -------------------------------------------------------------------
  final class BitWriter {
    private val bytes = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def put(v: Int, n: Int): this.type = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1)
        nbits += 1
        if (nbits == 8) { bytes.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
      this
    }
    def ue(v: Int): Unit = {
      require(v >= 0)
      val cn = v + 1
      val len = 32 - java.lang.Integer.numberOfLeadingZeros(cn)
      put(0, len - 1); put(cn, len)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    /** pcm_alignment_zero_bit run (I_PCM, §7.3.5). */
    def alignByte(): Unit = if (nbits != 0) put(0, 8 - nbits)
    /** cabac_alignment_one_bit run (§7.3.4, entropy_coding_mode 1). */
    def alignByteOnes(): Unit =
      if (nbits != 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
    /** rbsp_trailing_bits: stop bit + pad to byte. */
    def rbspTrailing(): Unit = { put(1, 1); if (nbits != 0) put(0, 8 - nbits) }
    def result(): Array[Byte] = { require(nbits == 0, "unterminated RBSP"); bytes.toByteArray }
  }

  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def bitPos: Int = pos
    def remaining: Int = bytes.length * 8 - pos
    /** Consume pcm_alignment_zero_bits; they MUST be zero. */
    def alignByte(): Unit =
      if (pos % 8 != 0 && get(8 - pos % 8) != 0)
        throw new IllegalStateException("nonzero pcm alignment bits")
    def get(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= bytes.length * 8) throw new IllegalStateException("RBSP overrun")
        v = (v << 1) | ((bytes(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (get(1) == 0) {
        zeros += 1
        if (zeros > 31) throw new IllegalStateException("bad Exp-Golomb")
      }
      (1 << zeros) - 1 + (if (zeros == 0) 0 else get(zeros))
    }
    def se(): Int = {
      val cn = ue()
      if (cn % 2 == 1) (cn + 1) / 2 else -(cn / 2)
    }
  }

  /** RBSP → EBSP: insert emulation_prevention_three_byte before any
    * 00 00 0x (x ≤ 3) run (§7.4.1.1).
    */
  def emulationPrevent(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros == 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** EBSP → RBSP: strip emulation-prevention bytes. */
  def emulationStrip(ebsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var zeros = 0
    var i = 0
    while (i < ebsp.length) {
      val b = ebsp(i) & 0xff
      if (zeros == 2 && b == 3 && i + 1 < ebsp.length && (ebsp(i + 1) & 0xff) <= 3)
        zeros = 0 // skip the emulation byte
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  // -------------------------------------------------------------------
  // CAVLC tables (transcribed — see the scope note above; H264Spec pins
  // prefix-freeness and the canonical sample codewords)
  // -------------------------------------------------------------------

  /** coeff_token, 0 ≤ nC < 2 (Table 9-5 first column):
    * code(trailingOnes)(totalCoeff) as a bit string.
    */
  val CoeffTokenNc0: Map[(Int, Int), String] = Map(
    (0, 0) -> "1",
    (0, 1) -> "000101", (1, 1) -> "01",
    (0, 2) -> "00000111", (1, 2) -> "000100", (2, 2) -> "001",
    (0, 3) -> "000000111", (1, 3) -> "00000110", (2, 3) -> "0000101", (3, 3) -> "00011")

  /** coeff_token, 2 ≤ nC < 4 (Table 9-5 second column), TotalCoeff ≤ 3. */
  val CoeffTokenNc2: Map[(Int, Int), String] = Map(
    (0, 0) -> "11",
    (0, 1) -> "001011", (1, 1) -> "10",
    (0, 2) -> "000111", (1, 2) -> "00111", (2, 2) -> "011",
    (0, 3) -> "0000111", (1, 3) -> "001010", (2, 3) -> "001001", (3, 3) -> "0101")

  /** coeff_token, chroma DC (nC = -1, Table 9-5 last column), ≤ 4 coeffs. */
  val CoeffTokenChromaDc: Map[(Int, Int), String] = Map(
    (0, 0) -> "01",
    (0, 1) -> "000111", (1, 1) -> "1",
    (0, 2) -> "000100", (1, 2) -> "000110", (2, 2) -> "001",
    (0, 3) -> "000011", (1, 3) -> "0000011", (2, 3) -> "0000010", (3, 3) -> "000101")

  /** coeff_token, 4 ≤ nC < 8 (Table 9-5 third column), TotalCoeff ≤ 3 —
    * the r15 widening (VERDICT r14 item 6). The construction guarantees
    * any block decoded in this context has TC ≤ 3 (blocks with more
    * coefficients only ever sit in the DERIVED nC ≥ 8 FLC context, see
    * [[coeffTokenFlc]]); rows beyond TC 3 stay untranscribed, same
    * policy as the other columns.
    */
  val CoeffTokenNc4: Map[(Int, Int), String] = Map(
    (0, 0) -> "1111",
    (0, 1) -> "001111", (1, 1) -> "1110",
    (0, 2) -> "001011", (1, 2) -> "01111", (2, 2) -> "1101",
    (0, 3) -> "001000", (1, 3) -> "01100", (2, 3) -> "01110", (3, 3) -> "1100")

  /** coeff_token for nC ≥ 8 — a DERIVED closed form, not a table: 6-bit
    * FLC with code = ((TotalCoeff−1) << 2) | TrailingOnes, and
    * TotalCoeff = 0 coded as 000011 (no clash: T1 ≤ TC makes (1, 3)
    * unused). Covers every TC 0..16.
    */
  def coeffTokenFlc(t1: Int, totalCoeff: Int): Int =
    if (totalCoeff == 0) 3 else ((totalCoeff - 1) << 2) | t1

  def coeffTokenFlcDecode(code: Int): (Int, Int) =
    if (code == 3) (0, 0) else (code & 3, (code >> 2) + 1)

  /** total_zeros for 4x4 blocks, rows TotalCoeff = 1..7 (Table 9-7;
    * rows 4-7 added r15 — each transcription is pinned prefix-free AND
    * Kraft-complete in H264Spec, which catches most recall slips; rows
    * 8-15 stay untranscribed: the construction's only TC > 7 blocks are
    * full 16-coefficient ones, where total_zeros is not coded at all).
    */
  val TotalZeros4x4: Map[Int, IndexedSeq[String]] = Map(
    1 -> IndexedSeq("1", "011", "010", "0011", "0010", "00011", "00010",
      "000011", "000010", "0000011", "0000010", "00000011", "00000010",
      "000000011", "000000010", "000000001"),
    2 -> IndexedSeq("111", "110", "101", "100", "011", "0101", "0100",
      "0011", "0010", "00011", "00010", "000011", "000010", "000001",
      "000000"),
    3 -> IndexedSeq("0101", "111", "110", "101", "0100", "0011", "100",
      "011", "0010", "00011", "00010", "000001", "00001", "000000"),
    4 -> IndexedSeq("00011", "111", "0101", "0100", "110", "101", "100",
      "0011", "011", "0010", "00010", "00001", "00000"),
    5 -> IndexedSeq("0101", "0100", "0011", "111", "110", "101", "100",
      "011", "0010", "00001", "0001", "00000"),
    6 -> IndexedSeq("000001", "00001", "111", "110", "101", "100", "011",
      "010", "0001", "001", "000000"),
    7 -> IndexedSeq("000001", "00001", "101", "100", "011", "11", "010",
      "0001", "001", "000000"))

  /** total_zeros for chroma DC 2x2 blocks (Table 9-9(a)). */
  val TotalZerosChromaDc: Map[Int, IndexedSeq[String]] = Map(
    1 -> IndexedSeq("1", "01", "001", "000"),
    2 -> IndexedSeq("1", "01", "00"),
    3 -> IndexedSeq("1", "0"))

  /** run_before (Table 9-10): rows by min(zerosLeft, 7). Row 7 covers
    * runs 0..6 as 3-bit FLC (111..001) then 0001, 00001, ... for 7+.
    */
  val RunBefore: Map[Int, IndexedSeq[String]] = Map(
    1 -> IndexedSeq("1", "0"),
    2 -> IndexedSeq("1", "01", "00"),
    3 -> IndexedSeq("11", "10", "01", "00"),
    4 -> IndexedSeq("11", "10", "01", "001", "000"),
    5 -> IndexedSeq("11", "10", "011", "010", "001", "000"),
    6 -> IndexedSeq("11", "000", "001", "011", "010", "101", "100"),
    7 -> IndexedSeq("111", "110", "101", "100", "011", "010", "001",
      "0001", "00001", "000001", "0000001", "00000001", "000000001",
      "0000000001", "00000000001"))

  private def invert(m: Map[(Int, Int), String]): Map[String, (Int, Int)] =
    m.map(_.swap)

  private val coeffTokenDecNc0 = invert(CoeffTokenNc0)
  private val coeffTokenDecNc2 = invert(CoeffTokenNc2)
  private val coeffTokenDecNc4 = invert(CoeffTokenNc4)
  private val coeffTokenDecCdc = invert(CoeffTokenChromaDc)

  // -------------------------------------------------------------------
  // CAVLC residual block encode/decode
  // -------------------------------------------------------------------

  /** One residual block in SCAN order (length 16 DC / 15 AC / 4 chroma
    * DC). Transcription bounds: TotalCoeff ≤ 3 in the three table
    * contexts (≤ 4 chroma DC); the derived nC ≥ 8 FLC context accepts
    * any TotalCoeff, but total_zeros rows above 7 are untranscribed so
    * TC ∈ 8..15 additionally requires totalZeros = 0 — the r15
    * construction only emits TC ∈ {4..7, 16} there.
    */
  def writeResidual(w: BitWriter, coeffs: Array[Int], nC: Int): Unit = {
    val nz = coeffs.zipWithIndex.filter(_._1 != 0)
    val totalCoeff = nz.length
    require(totalCoeff <= 3 || (nC == -1 && totalCoeff <= 4) || nC >= 8,
      s"construction bound exceeded: $totalCoeff coeffs in nC=$nC")
    // trailing ones: consecutive |1|s at the high-frequency end, max 3
    var t1 = 0
    while (t1 < math.min(3, totalCoeff) &&
      math.abs(nz(totalCoeff - 1 - t1)._1) == 1) t1 += 1
    if (nC >= 8) w.put(coeffTokenFlc(t1, totalCoeff), 6)
    else {
      val tokTab =
        if (nC == -1) CoeffTokenChromaDc
        else if (nC < 2) CoeffTokenNc0
        else if (nC < 4) CoeffTokenNc2
        else CoeffTokenNc4
      val bits = tokTab.getOrElse((t1, totalCoeff),
        throw new IllegalArgumentException(s"no coeff_token for ($t1, $totalCoeff) nC=$nC"))
      bits.foreach(c => w.put(c - '0', 1))
    }
    if (totalCoeff == 0) return
    // trailing-one signs, high-frequency first
    for (k <- 0 until t1) w.put(if (nz(totalCoeff - 1 - k)._1 < 0) 1 else 0, 1)
    // remaining levels, high-frequency first (§9.2.2.1 inverse)
    var suffixLength = if (totalCoeff > 10 && t1 < 3) 1 else 0
    for (k <- t1 until totalCoeff) {
      val level = nz(totalCoeff - 1 - k)._1
      var levelCode = if (level > 0) 2 * level - 2 else -2 * level - 1
      if (k == t1 && t1 < 3) levelCode -= 2
      if (suffixLength == 0) {
        if (levelCode < 14) w.put(0, levelCode).put(1, 1)
        else if (levelCode < 30) { w.put(0, 14).put(1, 1); w.put(levelCode - 14, 4) }
        else { w.put(0, 15).put(1, 1); w.put(levelCode - 30, 12) }
      } else {
        if (levelCode < (15 << suffixLength)) {
          w.put(0, levelCode >> suffixLength).put(1, 1)
          w.put(levelCode & ((1 << suffixLength) - 1), suffixLength)
        } else {
          w.put(0, 15).put(1, 1)
          w.put(levelCode - (15 << suffixLength), 12)
        }
      }
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
    }
    val maxCoeffs = coeffs.length
    if (totalCoeff < maxCoeffs) {
      val totalZeros = nz.last._2 + 1 - totalCoeff
      val tzTab = if (nC == -1) TotalZerosChromaDc else TotalZeros4x4
      val row = tzTab.getOrElse(totalCoeff,
        throw new IllegalArgumentException(s"no total_zeros row for TC=$totalCoeff"))
      row(totalZeros).foreach(c => w.put(c - '0', 1))
      // run_before per coefficient, high-frequency first, last one implied
      var zerosLeft = totalZeros
      for (k <- 0 until totalCoeff - 1; if zerosLeft > 0) {
        val idxHi = nz(totalCoeff - 1 - k)._2
        val idxLo = nz(totalCoeff - 2 - k)._2
        val run = idxHi - idxLo - 1
        val rrow = RunBefore(math.min(zerosLeft, 7))
        rrow(run).foreach(c => w.put(c - '0', 1))
        zerosLeft -= run
      }
    }
  }

  private def readVlc(r: BitReader, dec: Map[String, (Int, Int)]): (Int, Int) = {
    val sb = new StringBuilder
    while (sb.length <= 16) {
      sb.append(('0' + r.get(1)).toChar)
      dec.get(sb.toString) match {
        case Some(v) => return v
        case None => ()
      }
    }
    throw new IllegalStateException(s"bad coeff_token prefix ${sb.toString}")
  }

  private def readRow(r: BitReader, row: IndexedSeq[String]): Int = {
    val sb = new StringBuilder
    while (sb.length <= 16) {
      sb.append(('0' + r.get(1)).toChar)
      val i = row.indexOf(sb.toString)
      if (i >= 0) return i
    }
    throw new IllegalStateException(s"bad VLC prefix ${sb.toString}")
  }

  /** Decode one residual block into SCAN order; returns (coeffs,
    * totalCoeff). Mirrors §9.2 exactly (within the transcribed-table
    * bound).
    */
  def readResidual(r: BitReader, maxCoeffs: Int, nC: Int): (Array[Int], Int) = {
    val (t1, totalCoeff) =
      if (nC >= 8) coeffTokenFlcDecode(r.get(6)) // derived FLC context
      else readVlc(r,
        if (nC == -1) coeffTokenDecCdc
        else if (nC < 2) coeffTokenDecNc0
        else if (nC < 4) coeffTokenDecNc2
        else coeffTokenDecNc4)
    if (totalCoeff > maxCoeffs) throw new IllegalStateException("TC > block size")
    val coeffs = new Array[Int](maxCoeffs)
    if (totalCoeff == 0) return (coeffs, 0)
    val levels = new Array[Int](totalCoeff) // high-frequency first
    for (k <- 0 until t1) levels(k) = if (r.get(1) == 1) -1 else 1
    var suffixLength = if (totalCoeff > 10 && t1 < 3) 1 else 0
    for (k <- t1 until totalCoeff) {
      var prefix = 0
      while (r.get(1) == 0) {
        prefix += 1
        if (prefix > 32) throw new IllegalStateException("bad level_prefix")
      }
      val suffixSize =
        if (prefix == 14 && suffixLength == 0) 4
        else if (prefix >= 15) prefix - 3
        else suffixLength
      var levelCode = (math.min(15, prefix) << suffixLength) +
        (if (suffixSize > 0) r.get(suffixSize) else 0)
      if (prefix >= 15 && suffixLength == 0) levelCode += 15
      if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
      if (k == t1 && t1 < 3) levelCode += 2
      levels(k) = if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(levels(k)) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
    }
    var totalZeros = 0
    if (totalCoeff < maxCoeffs) {
      val tzTab = if (nC == -1) TotalZerosChromaDc else TotalZeros4x4
      totalZeros = readRow(r, tzTab(totalCoeff))
    }
    // place coefficients: highest-frequency first at position
    // (totalCoeff - 1 + totalZeros), then run_before gaps downwards
    var zerosLeft = totalZeros
    var pos = totalCoeff - 1 + totalZeros
    for (k <- 0 until totalCoeff) {
      coeffs(pos) = levels(k)
      if (k < totalCoeff - 1) {
        val run = if (zerosLeft == 0) 0
          else readRow(r, RunBefore(math.min(zerosLeft, 7)))
        zerosLeft -= run
        pos -= run + 1
      }
    }
    (coeffs, totalCoeff)
  }

  // -------------------------------------------------------------------
  // transforms + dequant (§8.5)
  // -------------------------------------------------------------------

  /** LevelScale V matrix rows by qp % 6 (§8.5.9): (both-even, both-odd,
    * mixed) position classes.
    */
  val VMatrix: Array[Array[Int]] = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))

  def levelScale(qpMod6: Int, i: Int, j: Int): Int = {
    val cls = if (i % 2 == 0 && j % 2 == 0) 0 else if (i % 2 == 1 && j % 2 == 1) 1 else 2
    VMatrix(qpMod6)(cls)
  }

  /** Zigzag scan order for 4x4 (§8.5.6): scan index → (row, col). */
  val Zigzag4x4: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3))

  /** 4x4 AC/LUMA residual: scan-order levels → spatial residual, via
    * dequant (§8.5.12.1) + inverse core transform (§8.5.12.2).
    * `dcOverride`: for Intra16x16, coefficient 0 is replaced by the
    * already-transformed+scaled DC value and the block's scan levels
    * hold only AC (15 entries shifted by one scan position).
    */
  def inverse4x4(levels: Array[Int], qp: Int, acOnly: Boolean,
      dcOverride: Int): Array[Int] = {
    val d = Array.ofDim[Int](4, 4)
    val shift = qp / 6
    val base = if (acOnly) 1 else 0
    for (s <- base until 16) {
      val lv = levels(s - base)
      if (lv != 0) {
        val (i, j) = Zigzag4x4(s)
        d(i)(j) = (lv * levelScale(qp % 6, i, j)) << shift
      }
    }
    if (acOnly) d(0)(0) = dcOverride
    // horizontal then vertical butterflies (§8.5.12.2), (x + 32) >> 6
    val e = Array.ofDim[Int](4, 4)
    for (i <- 0 until 4) {
      val p0 = d(i)(0) + d(i)(2)
      val p1 = d(i)(0) - d(i)(2)
      val p2 = (d(i)(1) >> 1) - d(i)(3)
      val p3 = d(i)(1) + (d(i)(3) >> 1)
      e(i)(0) = p0 + p3; e(i)(1) = p1 + p2; e(i)(2) = p1 - p2; e(i)(3) = p0 - p3
    }
    val out = new Array[Int](16)
    for (j <- 0 until 4) {
      val p0 = e(0)(j) + e(2)(j)
      val p1 = e(0)(j) - e(2)(j)
      val p2 = (e(1)(j) >> 1) - e(3)(j)
      val p3 = e(1)(j) + (e(3)(j) >> 1)
      out(0 * 4 + j) = (p0 + p3 + 32) >> 6
      out(1 * 4 + j) = (p1 + p2 + 32) >> 6
      out(2 * 4 + j) = (p1 - p2 + 32) >> 6
      out(3 * 4 + j) = (p0 - p3 + 32) >> 6
    }
    out
  }

  /** Intra16x16 luma DC: scan-order 16 levels → 4x4 of scaled DC values
    * (inverse Hadamard + §8.5.10 scaling; qp < 36 branch is all this
    * construction uses but both are implemented).
    */
  def lumaDc(levels: Array[Int], qp: Int): Array[Array[Int]] = {
    val c = Array.ofDim[Int](4, 4)
    for (s <- 0 until 16) {
      val (i, j) = Zigzag4x4(s)
      c(i)(j) = levels(s)
    }
    val f = hadamard4(c)
    val a = levelScale(qp % 6, 0, 0)
    val out = Array.ofDim[Int](4, 4)
    for (i <- 0 until 4; j <- 0 until 4)
      out(i)(j) =
        if (qp >= 36) (f(i)(j) * a) << (qp / 6 - 6)
        else (f(i)(j) * a + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    out
  }

  private def hadamard4(c: Array[Array[Int]]): Array[Array[Int]] = {
    val e = Array.ofDim[Int](4, 4)
    for (i <- 0 until 4) {
      val p0 = c(i)(0) + c(i)(2); val p1 = c(i)(0) - c(i)(2)
      val p2 = c(i)(1) - c(i)(3); val p3 = c(i)(1) + c(i)(3)
      e(i)(0) = p0 + p3; e(i)(1) = p1 + p2; e(i)(2) = p1 - p2; e(i)(3) = p0 - p3
    }
    val f = Array.ofDim[Int](4, 4)
    for (j <- 0 until 4) {
      val p0 = e(0)(j) + e(2)(j); val p1 = e(0)(j) - e(2)(j)
      val p2 = e(1)(j) - e(3)(j); val p3 = e(1)(j) + e(3)(j)
      f(0)(j) = p0 + p3; f(1)(j) = p1 + p2; f(2)(j) = p1 - p2; f(3)(j) = p0 - p3
    }
    f
  }

  /** Chroma DC 2x2: raster levels (c00,c01,c10,c11) → scaled DCs
    * (§8.5.11; QPc = qp because the construction keeps qp ≤ 29).
    */
  def chromaDc(levels: Array[Int], qp: Int): Array[Int] = {
    val f0 = levels(0) + levels(1) + levels(2) + levels(3)
    val f1 = levels(0) - levels(1) + levels(2) - levels(3)
    val f2 = levels(0) + levels(1) - levels(2) - levels(3)
    val f3 = levels(0) - levels(1) - levels(2) + levels(3)
    val a = levelScale(qp % 6, 0, 0)
    Array(f0, f1, f2, f3).map(f => ((f * a) << (qp / 6)) >> 5)
  }

  def clip(v: Int): Int = math.max(0, math.min(255, v))

  /** luma4x4BlkIdx → (x4, y4) within the MB (§6.4.3: 2x2 sub-blocks in
    * 2x2 raster of 8x8 quadrants).
    */
  def blkPos(i: Int): (Int, Int) =
    (2 * ((i / 4) % 2) + (i % 2), 2 * (i / 8) + ((i / 2) % 2))

  // -------------------------------------------------------------------
  // deterministic construction (shared by the q303 gate, its oracle —
  // which re-derives these formulas in SQL — and H264Spec)
  // -------------------------------------------------------------------
  object ConstructH {
    def qp(id: Long): Int = 20 + (id % 8).toInt // ≤ 29 keeps QPc = QP
    def dims(id: Long, nch: Long): (Int, Int) =
      ((1 + id % 3).toInt, (1 + nch % 2).toInt) // MBs
    def nFrames(id: Long): Int = (1 + id % 2).toInt
    def cbpLuma15(id: Long, mb: Int): Boolean = (id + mb) % 3 != 2
    def cbpChroma(id: Long, mb: Int): Int = ((id + 2 + mb) % 3).toInt

    /** Intra16x16PredMode, availability-aware (0=V top, 1=H left, 2=DC,
      * 3=Plane both).
      */
    def predMode(id: Long, mb: Int, mbX: Int, mbY: Int): Int = {
      val allowed =
        if (mbX > 0 && mbY > 0) Seq(0, 1, 2, 3)
        else if (mbY > 0) Seq(0, 2)
        else if (mbX > 0) Seq(1, 2)
        else Seq(2)
      allowed(((id + mb) % allowed.size).toInt)
    }

    /** intra_chroma_pred_mode (0=DC, 1=H left, 2=V top, 3=Plane both). */
    def chromaMode(id: Long, mb: Int, mbX: Int, mbY: Int): Int = {
      val allowed =
        if (mbX > 0 && mbY > 0) Seq(0, 1, 2, 3)
        else if (mbY > 0) Seq(0, 2)
        else if (mbX > 0) Seq(0, 1)
        else Seq(0)
      allowed(((id + 2 * mb) % allowed.size).toInt)
    }

    /** q307's mixed-slice knobs: every other MB is I_4x4 (exercising
      * the non-I4x4-neighbor → inferred-DC rule at every boundary); its
      * CBP cycles the transcribed me(v) subset; per-block modes pick
      * from the availability-allowed set.
      */
    def isI4(id: Long, mb: Int): Boolean = (id + mb) % 2 == 0
    def cbpI4(id: Long, mb: Int): Int =
      CbpIntraSubset(((id + mb) % 4).toInt)
    def i4Mode(id: Long, mb: Int, blk: Int, hasLeft: Boolean,
        hasTop: Boolean): Int = {
      val allowed = i4Allowed(hasLeft, hasTop)
      allowed(((id + mb + blk) % allowed.size).toInt)
    }

    /** q312's widened-slice knobs (r15 — VERDICT r14 item 6): I_PCM raw
      * samples, and DENSE block levels (TC ∈ {4..7, 16}) that only ever
      * sit in the DERIVED nC ≥ 8 FLC context — their left neighbor is
      * always an I_PCM macroblock (all of whose blocks count
      * TotalCoeff 16), so nC = (16 + t + 1) >> 1 ≥ 8 for any top
      * neighbor t. TC 4..7 blocks carry total_zeros from the newly
      * transcribed rows 4-7 (tz sweeps the full 0..16−TC range); TC 16
      * blocks have no total_zeros field at all (the reason TC 8..15 —
      * whose rows stay untranscribed — is never emitted). Magnitudes up
      * to 19 push the adaptive level-suffix machinery through its
      * escalation states.
      */
    def isPcmMb(id: Long, mbX: Int, mbY: Int): Boolean =
      mbX == 0 && (id + mbY) % 2 == 0
    def pcmSample(id: Long, mb: Int, plane: Int, i: Int): Int =
      ((id * 31 + mb * 17 + plane * 103 + i * 7) % 256).toInt
    def denseTc(id: Long, mb: Int, b: Int): Int =
      if ((id + mb + b) % 5 == 0) 16 else 4 + ((id + mb + b) % 4).toInt
    def denseLevels(id: Long, mb: Int, b: Int): Array[Int] = {
      val tc = denseTc(id, mb, b)
      val out = new Array[Int](16)
      val tz = if (tc == 16) 0 else ((id + 3L * b + mb) % (16 - tc + 1)).toInt
      var k = 0
      while (k < tc) {
        val pos = if (k < tc - 1) k else tc - 1 + tz
        val mag = 1 + ((id + mb + b * 7 + k * 5) % 19).toInt
        val sgn = if ((id + k + b) % 2 == 0) 1 else -1
        out(pos) = mag * sgn
        k += 1
      }
      out
    }

    /** Block tags for the level formulas and the gate checksum: DC=0,
      * luma AC blk i → 1+i, chroma DC comp c → 17+c, chroma AC comp c
      * blk b → 19 + 4c + b.
      */
    def blockLevels(id: Long, frame: Int, mb: Int, tag: Int,
        nCoeffs: Int): Array[Int] = {
      val chromaAc = tag >= 19
      val n = (((id + frame + mb + tag) % (if (chromaAc) 3 else 4))).toInt
      val out = new Array[Int](nCoeffs)
      if (n == 0) return out
      val step = if (nCoeffs == 4) 1 else 1 + ((id + tag) % 4).toInt
      val maxBase = nCoeffs - 1 - (n - 1) * step
      val base =
        if (nCoeffs == 4) ((id + tag + mb) % 2).toInt
        else ((id + mb + tag) % (maxBase + 1)).toInt
      var k = 0
      while (k < n) {
        val mag = 1 + ((id + mb + tag * 2 + k + frame) % 3).toInt
        val sgn = if ((id + mb + tag + k) % 2 == 0) 1 else -1
        out(base + k * step) = mag * sgn
        k += 1
      }
      out
    }

    /** One MB's [[blockLevels]]: luma 4x4 blocks of `lumaLen`
      * coefficients in the 8x8 quadrants set in the `cbpL` mask, chroma
      * DC when `cbpC` > 0, chroma AC when `cbpC` == 2; uncoded blocks
      * are zero.
      */
    def mbLevels(id: Long, f: Int, mb: Int, cbpL: Int, lumaLen: Int,
        cbpC: Int): MbLevels = {
      val ac = Array.tabulate(16)(b =>
        if ((cbpL >> (b / 4) & 1) != 0) blockLevels(id, f, mb, 1 + b, lumaLen)
        else new Array[Int](lumaLen))
      val cdc = Array.tabulate(2)(c =>
        if (cbpC > 0) blockLevels(id, f, mb, 17 + c, 4)
        else new Array[Int](4))
      val cac = Array.tabulate(2, 4)((c, b) =>
        if (cbpC == 2) blockLevels(id, f, mb, 19 + 4 * c + b, 15)
        else new Array[Int](15))
      (ac, cdc, cac)
    }
  }

  /** (x4, y4) → luma4x4BlkIdx (inverse of [[blkPos]]). */
  def blkIdxOf(x4: Int, y4: Int): Int =
    4 * ((y4 / 2) * 2 + (x4 / 2)) + (y4 % 2) * 2 + (x4 % 2)

  // -------------------------------------------------------------------
  // I_4x4 path (q307 — §8.3.1): per-block intra prediction with the
  // nine 4x4 modes, predicted-mode coding, and the CBP subset the
  // construction emits (me(v) codeNums 0..3 → CBP 47/31/15/0 — the
  // canonically-cited head of Table 9-4; the full 48-entry table is
  // deliberately NOT transcribed from memory, same policy as the
  // coeff_token contexts).
  // -------------------------------------------------------------------

  /** me(v) codeNum ↔ coded_block_pattern for Intra_4x4 — the transcribed
    * SUBSET (decoder rejects other codeNums; encoder only emits these).
    */
  val CbpIntraSubset: IndexedSeq[Int] = IndexedSeq(47, 31, 15, 0)

  /** Intra4x4 mode availability → allowed mode list (§8.3.1.2: DC always;
    * V/DDL/VL need top — DDL/VL's p[x>3,-1] substitutes p[3,-1] when the
    * top-right is unavailable, so top suffices; H/HU need left;
    * DDR/VR/HD need left+top+top-left, which coincide here).
    */
  def i4Allowed(hasLeft: Boolean, hasTop: Boolean): Seq[Int] =
    if (hasLeft && hasTop) 0 to 8
    else if (hasTop) Seq(0, 2, 3, 7)
    else if (hasLeft) Seq(1, 2, 8)
    else Seq(2)

  /** Decode-order availability of the top-right 4 pixels for blk
    * (x4, y4): above-MB row for y4 = 0 (above-right MB for x4 = 3),
    * else an earlier block of this MB (§8.3.1.2's neighbor rules —
    * famously false for blkIdx 3/7/11/13/15).
    */
  def topRightAvail(mbX: Int, mbY: Int, x4: Int, y4: Int, wMb: Int): Boolean =
    if (y4 == 0) mbY > 0 && (x4 < 3 || mbX < wMb - 1)
    else if (x4 == 3) false
    else blkIdxOf(x4 + 1, y4 - 1) < blkIdxOf(x4, y4)

  /** One 4x4 intra prediction (§8.3.1.2.1-9). `t` = p[0..7, -1] (with
    * the top-right substitution already applied), `l` = p[-1, 0..3],
    * `tl` = p[-1, -1]; availability must match the chosen mode.
    */
  def predict4(mode: Int, t: Array[Int], l: Array[Int], tl: Int,
      hasLeft: Boolean, hasTop: Boolean): Array[Int] = {
    val out = new Array[Int](16)
    def set(x: Int, y: Int, v: Int): Unit = out(y * 4 + x) = v
    mode match {
      case 0 => for (y <- 0 until 4; x <- 0 until 4) set(x, y, t(x))
      case 1 => for (y <- 0 until 4; x <- 0 until 4) set(x, y, l(y))
      case 2 =>
        val dc =
          if (hasLeft && hasTop) (t.take(4).sum + l.sum + 4) >> 3
          else if (hasTop) (t.take(4).sum + 2) >> 2
          else if (hasLeft) (l.sum + 2) >> 2
          else 128
        java.util.Arrays.fill(out, dc)
      case 3 => // diagonal down-left
        for (y <- 0 until 4; x <- 0 until 4)
          set(x, y,
            if (x == 3 && y == 3) (t(6) + 3 * t(7) + 2) >> 2
            else (t(x + y) + 2 * t(x + y + 1) + t(x + y + 2) + 2) >> 2)
      case 4 => // diagonal down-right (index -1 = p[-1,-1])
        for (y <- 0 until 4; x <- 0 until 4)
          set(x, y,
            if (x > y) (tAt(t, tl, x - y - 2) + 2 * tAt(t, tl, x - y - 1) + t(x - y) + 2) >> 2
            else if (x < y) (lAt(l, tl, y - x - 2) + 2 * lAt(l, tl, y - x - 1) + l(y - x) + 2) >> 2
            else (t(0) + 2 * tl + l(0) + 2) >> 2)
      case 5 => // vertical right
        for (y <- 0 until 4; x <- 0 until 4) {
          val z = 2 * x - y
          set(x, y,
            if (z >= 0 && z % 2 == 0) (tAt(t, tl, x - (y >> 1) - 1) + t(x - (y >> 1)) + 1) >> 1
            else if (z >= 0) (tAt(t, tl, x - (y >> 1) - 2) + 2 * tAt(t, tl, x - (y >> 1) - 1) + t(x - (y >> 1)) + 2) >> 2
            else if (z == -1) (l(0) + 2 * tl + t(0) + 2) >> 2
            else (l(y - 1) + 2 * l(y - 2) + lAt(l, tl, y - 3) + 2) >> 2)
        }
      case 6 => // horizontal down
        for (y <- 0 until 4; x <- 0 until 4) {
          val z = 2 * y - x
          set(x, y,
            if (z >= 0 && z % 2 == 0) (lAt(l, tl, y - (x >> 1) - 1) + l(y - (x >> 1)) + 1) >> 1
            else if (z >= 0) (lAt(l, tl, y - (x >> 1) - 2) + 2 * lAt(l, tl, y - (x >> 1) - 1) + l(y - (x >> 1)) + 2) >> 2
            else if (z == -1) (l(0) + 2 * tl + t(0) + 2) >> 2
            else (t(x - 1) + 2 * t(x - 2) + tAt(t, tl, x - 3) + 2) >> 2)
        }
      case 7 => // vertical left
        for (y <- 0 until 4; x <- 0 until 4)
          set(x, y,
            if (y % 2 == 0) (t(x + (y >> 1)) + t(x + (y >> 1) + 1) + 1) >> 1
            else (t(x + (y >> 1)) + 2 * t(x + (y >> 1) + 1) + t(x + (y >> 1) + 2) + 2) >> 2)
      case 8 => // horizontal up
        for (y <- 0 until 4; x <- 0 until 4) {
          val z = x + 2 * y
          set(x, y,
            if (z < 5 && z % 2 == 0) (l(y + (x >> 1)) + l(y + (x >> 1) + 1) + 1) >> 1
            else if (z < 5) (l(y + (x >> 1)) + 2 * l(y + (x >> 1) + 1) + l(y + (x >> 1) + 2) + 2) >> 2
            else if (z == 5) (l(2) + 3 * l(3) + 2) >> 2
            else l(3))
        }
    }
    out
  }
  // index -1 on the top row means p[-1,-1]; on the left column likewise
  private def tAt(t: Array[Int], tl: Int, i: Int): Int = if (i < 0) tl else t(i)
  private def lAt(l: Array[Int], tl: Int, i: Int): Int = if (i < 0) tl else l(i)

  /** Everything the q303/q307/q309 gates read back per frame. The
    * trailing P-frame fields stay at their defaults for I frames.
    */
  final case class H264Frame(
      y: Array[Int], cb: Array[Int], cr: Array[Int],
      levelChecksum: Long, modeSum: Long, chromaModeSum: Long,
      i4ModeSum: Long = 0L, nI4Mbs: Long = 0L,
      mvdChecksum: Long = 0L, refSum: Long = 0L, nSkip: Long = 0L,
      typeSum: Long = 0L, nPcm: Long = 0L, pcmChecksum: Long = 0L,
      poc: Long = -1L, nDirect: Long = 0L,
      cbpSum: Long = 0L, binChecksum: Long = 0L)

  /** (Y, Cb, Cr) planes of one reference picture. */
  type Planes = (Array[Int], Array[Int], Array[Int])

  final case class H264Stream(widthMb: Int, heightMb: Int, qp: Int,
      frames: Vector[H264Frame])

  /** One MB's parsed/constructed data. For I_4x4 MBs `ac` holds 16
    * FULL 16-coefficient blocks (DC included, `dc` unused) and
    * `i4Modes` the per-block prediction modes; for I_16x16 `ac` holds
    * 15-coefficient AC blocks with the separate `dc` block.
    */
  private[operators] final case class MbData(isI4: Boolean, pm: Int,
      i4Modes: Array[Int], cm: Int, cbpL: Boolean, cbpC: Int,
      dc: Array[Int], ac: Array[Array[Int]],
      cdc: Array[Array[Int]], cac: Array[Array[Array[Int]]])

  // -------------------------------------------------------------------
  // prediction (§8.3.3 / §8.3.4)
  // -------------------------------------------------------------------

  private def predict16(pm: Int, y: Array[Int], w: Int, mbX: Int,
      mbY: Int): Array[Int] = {
    val x0 = mbX * 16; val y0 = mbY * 16
    def top(x: Int) = y((y0 - 1) * w + x0 + x)
    def left(yy: Int) = y((y0 + yy) * w + x0 - 1)
    val out = new Array[Int](256)
    pm match {
      case 0 => // Vertical
        for (yy <- 0 until 16; xx <- 0 until 16) out(yy * 16 + xx) = top(xx)
      case 1 => // Horizontal
        for (yy <- 0 until 16; xx <- 0 until 16) out(yy * 16 + xx) = left(yy)
      case 2 => // DC, availability-aware
        val hasTop = mbY > 0; val hasLeft = mbX > 0
        val dc =
          if (hasTop && hasLeft)
            ((0 until 16).map(top).sum + (0 until 16).map(left).sum + 16) >> 5
          else if (hasTop) ((0 until 16).map(top).sum + 8) >> 4
          else if (hasLeft) ((0 until 16).map(left).sum + 8) >> 4
          else 128
        java.util.Arrays.fill(out, dc)
      case 3 => // Plane (requires top, left and top-left)
        def p(xx: Int, yy: Int): Int =
          if (yy == -1 && xx == -1) y((y0 - 1) * w + x0 - 1)
          else if (yy == -1) top(xx) else left(yy)
        val hSum = (0 until 8).map(x => (x + 1) * (p(8 + x, -1) - p(6 - x, -1))).sum
        val vSum = (0 until 8).map(yy => (yy + 1) * (p(-1, 8 + yy) - p(-1, 6 - yy))).sum
        val a = 16 * (p(-1, 15) + p(15, -1))
        val b = (5 * hSum + 32) >> 6
        val c = (5 * vSum + 32) >> 6
        for (yy <- 0 until 16; xx <- 0 until 16)
          out(yy * 16 + xx) = clip((a + b * (xx - 7) + c * (yy - 7) + 16) >> 5)
    }
    out
  }

  private def predictChroma(cm: Int, p: Array[Int], w: Int, mbX: Int,
      mbY: Int): Array[Int] = {
    val x0 = mbX * 8; val y0 = mbY * 8
    def top(x: Int) = p((y0 - 1) * w + x0 + x)
    def left(yy: Int) = p((y0 + yy) * w + x0 - 1)
    val hasTop = mbY > 0; val hasLeft = mbX > 0
    val out = new Array[Int](64)
    cm match {
      case 0 => // DC with the per-4x4-quadrant rules of §8.3.4.1
        for (qy <- 0 until 2; qx <- 0 until 2) {
          val ts = (0 until 4).map(x => if (hasTop) top(qx * 4 + x) else 0).sum
          val ls = (0 until 4).map(yy => if (hasLeft) left(qy * 4 + yy) else 0).sum
          val dc = (qx, qy) match {
            case (1, 0) => // prefer top
              if (hasTop) (ts + 2) >> 2 else if (hasLeft) (ls + 2) >> 2 else 128
            case (0, 1) => // prefer left
              if (hasLeft) (ls + 2) >> 2 else if (hasTop) (ts + 2) >> 2 else 128
            case _ => // (0,0) and (1,1): combine
              if (hasTop && hasLeft) (ts + ls + 4) >> 3
              else if (hasTop) (ts + 2) >> 2
              else if (hasLeft) (ls + 2) >> 2
              else 128
          }
          for (yy <- 0 until 4; xx <- 0 until 4)
            out((qy * 4 + yy) * 8 + qx * 4 + xx) = dc
        }
      case 1 => // Horizontal
        for (yy <- 0 until 8; xx <- 0 until 8) out(yy * 8 + xx) = left(yy)
      case 2 => // Vertical
        for (yy <- 0 until 8; xx <- 0 until 8) out(yy * 8 + xx) = top(xx)
      case 3 => // Plane
        def pp(xx: Int, yy: Int): Int =
          if (yy == -1 && xx == -1) p((y0 - 1) * w + x0 - 1)
          else if (yy == -1) top(xx) else left(yy)
        val hSum = (0 until 4).map(x => (x + 1) * (pp(4 + x, -1) - pp(2 - x, -1))).sum
        val vSum = (0 until 4).map(yy => (yy + 1) * (pp(-1, 4 + yy) - pp(-1, 2 - yy))).sum
        val a = 16 * (pp(-1, 7) + pp(7, -1))
        val b = (17 * hSum + 16) >> 5
        val c = (17 * vSum + 16) >> 5
        for (yy <- 0 until 8; xx <- 0 until 8)
          out(yy * 8 + xx) = clip((a + b * (xx - 3) + c * (yy - 3) + 16) >> 5)
    }
    out
  }

  /** Shared encoder/decoder MB reconstruction: prediction + dequant +
    * inverse transforms into the frame planes. Bit-exact on both sides
    * by construction.
    */
  private[operators] def reconstructMb(mb: MbData, qp: Int, mbX: Int,
      mbY: Int, y: Array[Int], cb: Array[Int], cr: Array[Int],
      wMb: Int): Unit = {
    val wPix = wMb * 16; val wC = wMb * 8
    val zero15 = new Array[Int](15)
    if (mb.isI4) {
      // block-by-block in blkIdx order: each prediction reads the
      // RECONSTRUCTED neighbors, including earlier blocks of this MB
      val zero16 = new Array[Int](16)
      for (blk <- 0 until 16) {
        val (x4, y4) = blkPos(blk)
        val px0 = mbX * 16 + x4 * 4; val py0 = mbY * 16 + y4 * 4
        val hasLeft = px0 > 0; val hasTop = py0 > 0
        val t = new Array[Int](8)
        if (hasTop) {
          for (i <- 0 until 4) t(i) = y((py0 - 1) * wPix + px0 + i)
          val trA = topRightAvail(mbX, mbY, x4, y4, wMb)
          for (i <- 0 until 4)
            t(4 + i) = if (trA) y((py0 - 1) * wPix + px0 + 4 + i) else t(3)
        }
        val l = new Array[Int](4)
        if (hasLeft) for (i <- 0 until 4) l(i) = y((py0 + i) * wPix + px0 - 1)
        val tl = if (hasLeft && hasTop) y((py0 - 1) * wPix + px0 - 1) else 0
        val pred = predict4(mb.i4Modes(blk), t, l, tl, hasLeft, hasTop)
        val res = inverse4x4(if (mb.cbpL) mb.ac(blk) else zero16, qp,
          acOnly = false, dcOverride = 0)
        for (r <- 0 until 4; c <- 0 until 4)
          y((py0 + r) * wPix + px0 + c) = clip(pred(r * 4 + c) + res(r * 4 + c))
      }
    } else {
      val pred = predict16(mb.pm, y, wPix, mbX, mbY)
      val dcScaled = lumaDc(mb.dc, qp)
      for (blk <- 0 until 16) {
        val (x4, y4) = blkPos(blk)
        val res = inverse4x4(if (mb.cbpL) mb.ac(blk) else zero15, qp,
          acOnly = true, dcOverride = dcScaled(y4)(x4))
        for (r <- 0 until 4; c <- 0 until 4) {
          val px = mbX * 16 + x4 * 4 + c
          val py = mbY * 16 + y4 * 4 + r
          y(py * wPix + px) =
            clip(pred((y4 * 4 + r) * 16 + x4 * 4 + c) + res(r * 4 + c))
        }
      }
    }
    for (comp <- 0 until 2) {
      val plane = if (comp == 0) cb else cr
      val predC = predictChroma(mb.cm, plane, wC, mbX, mbY)
      val dcs =
        if (mb.cbpC == 0) Array(0, 0, 0, 0)
        else chromaDc(mb.cdc(comp), qp)
      for (blk <- 0 until 4) {
        val bx = blk % 2; val by = blk / 2
        val res = inverse4x4(
          if (mb.cbpC == 2) mb.cac(comp)(blk) else zero15, qp,
          acOnly = true, dcOverride = dcs(by * 2 + bx))
        for (r <- 0 until 4; c <- 0 until 4) {
          val px = mbX * 8 + bx * 4 + c
          val py = mbY * 8 + by * 4 + r
          plane(py * wC + px) =
            clip(predC((by * 4 + r) * 8 + bx * 4 + c) + res(r * 4 + c))
        }
      }
    }
  }

  private def nCOf(tc: Array[Array[Int]], gx: Int, gy: Int): Int = {
    val hasA = gx > 0; val hasB = gy > 0
    if (hasA && hasB) (tc(gy)(gx - 1) + tc(gy - 1)(gx) + 1) >> 1
    else if (hasA) tc(gy)(gx - 1)
    else if (hasB) tc(gy - 1)(gx)
    else 0
  }

  // -------------------------------------------------------------------
  // bitstream core shared by the CAVLC (this object) and CABAC
  // ([[H264Cabac]], [[H264CabacInter]]) coders: NAL units, parameter
  // sets, picture planes, the level checksum
  // -------------------------------------------------------------------

  /** Annex B NAL unit: 4-byte start code, the 1-byte header and the
    * emulation-prevented RBSP.
    */
  private[operators] def nal(typ: Int, rbsp: Array[Byte],
      refIdc: Int = 3): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0, 0, 0, 1))
    out.write((refIdc << 5) | typ)
    out.write(emulationPrevent(rbsp))
    out.toByteArray
  }

  /** Splits an Annex B stream on 3- or 4-byte start codes into (first
    * header byte, RBSP) pairs; `headerBytes` is 1 for H.264 and 2 for
    * H.265. A start code too close to the end throws.
    */
  private[operators] def splitNals(bytes: Array[Byte],
      headerBytes: Int = 1): Vector[(Int, Array[Byte])] = {
    val nals = Vector.newBuilder[(Int, Array[Byte])]
    var i = 0
    var start = -1
    var hdr = -1
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        if (start >= 0) {
          val end = if (i > 0 && bytes(i - 1) == 0) i - 1 else i
          nals += ((hdr, emulationStrip(
            java.util.Arrays.copyOfRange(bytes, start, end))))
        }
        hdr = bytes(i + 3) & 0xff
        start = i + 3 + headerBytes
        i += 3 + headerBytes
      } else i += 1
    }
    if (start >= 0 && start <= bytes.length)
      nals += ((hdr, emulationStrip(
        java.util.Arrays.copyOfRange(bytes, start, bytes.length))))
    nals.result()
  }

  /** Sequence parameter set: `profileIdc` 66 (Baseline, CAVLC) or 77
    * (Main, CABAC); POC type 2, or 0 with an 8-bit pic_order_cnt_lsb.
    */
  private[operators] def spsRbsp(wMb: Int, hMb: Int, profileIdc: Int = 66,
      maxRef: Int = 1, pocType: Int = 2): Array[Byte] = {
    val w = new BitWriter
    w.put(profileIdc, 8) // profile_idc
    w.put(0, 8) // constraint flags + reserved
    w.put(10, 8) // level_idc
    w.ue(0) // sps_id
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(pocType) // pic_order_cnt_type
    if (pocType == 0) w.ue(4) // log2_max_pic_order_cnt_lsb_minus4 -> 8 bits
    w.ue(maxRef) // max_num_ref_frames
    w.put(0, 1) // gaps_in_frame_num
    w.ue(wMb - 1); w.ue(hMb - 1)
    w.put(1, 1) // frame_mbs_only
    w.put(0, 1) // direct_8x8_inference
    w.put(0, 1) // frame_cropping
    w.put(0, 1) // vui
    w.rbspTrailing()
    w.result()
  }

  /** The SPS fields the decoders use. */
  private[operators] final case class Sps(wMb: Int, hMb: Int, pocType: Int,
      maxRef: Int)

  /** Parses an SPS that [[spsRbsp]] could have written with this
    * `profileIdc`; None for anything else.
    */
  private[operators] def readSps(rbsp: Array[Byte],
      profileIdc: Int): Option[Sps] = {
    val r = new BitReader(rbsp)
    if (r.get(8) != profileIdc) return None
    r.get(16) // constraints + level
    if (r.ue() != 0) return None // sps_id
    if (r.ue() != 0) return None // log2_max_frame_num_minus4
    val pocType = r.ue() // pic_order_cnt_type
    if (pocType == 0) {
      if (r.ue() != 4) return None // log2_max_pic_order_cnt_lsb: 8 bits
    } else if (pocType != 2) return None
    val maxRef = r.ue() // max_num_ref_frames
    r.get(1)
    val wMb = r.ue() + 1; val hMb = r.ue() + 1
    if (r.get(1) != 1) return None // frame_mbs_only
    r.get(1); r.get(1); r.get(1) // direct_8x8_inference, cropping, vui
    Some(Sps(wMb, hMb, pocType, maxRef))
  }

  /** Picture parameter set: CAVLC or CABAC entropy coding, one slice
    * group, QP 26 defaults, deblocking control present.
    */
  private[operators] def ppsRbsp(cabac: Boolean = false): Array[Byte] = {
    val w = new BitWriter
    w.ue(0); w.ue(0) // pps_id, sps_id
    w.put(if (cabac) 1 else 0, 1) // entropy_coding_mode_flag
    w.put(0, 1) // bottom_field_pic_order
    w.ue(0) // one slice group
    w.ue(0); w.ue(0) // num_ref_idx defaults: one active ref per list
    w.put(0, 1); w.put(0, 2) // weighted pred/bipred
    w.se(0); w.se(0) // pic_init_qp/qs - 26
    w.se(0) // chroma_qp_index_offset
    w.put(1, 1) // deblocking_filter_control_present
    w.put(0, 1) // constrained_intra_pred
    w.put(0, 1) // redundant_pic_cnt_present
    w.rbspTrailing()
    w.result()
  }

  /** True when `rbsp` is a PPS [[ppsRbsp]] could have written with this
    * entropy coding mode.
    */
  private[operators] def readPps(rbsp: Array[Byte], cabac: Boolean): Boolean = {
    val r = new BitReader(rbsp)
    if (r.ue() != 0 || r.ue() != 0) return false
    if (r.get(1) != (if (cabac) 1 else 0)) return false
    r.get(1); r.ue(); r.ue(); r.ue(); r.get(1); r.get(2)
    r.se(); r.se(); r.se()
    if (r.get(1) != 1) return false // deblocking control present
    r.get(1); r.get(1)
    true
  }

  /** A slice RBSP writer holding the slice header (§7.3.3) of this
    * construction's one-slice pictures: slice_type 7 (IDR I), 5 (P) or
    * 6 (B, non-reference); an 8-bit pic_order_cnt_lsb under POC type 0;
    * P slices override to two active refs when `nRefs` is 2; B slices
    * carry spatial or temporal direct. Deblocking is off; under CABAC
    * P/B slices add cabac_init_idc 0 and every slice the alignment ones.
    */
  private[operators] def sliceHeader(sliceType: Int, f: Int, qp: Int,
      pocLsb: Option[Int], cabac: Boolean, nRefs: Int = 1,
      spatial: Boolean = true): BitWriter = {
    val w = new BitWriter
    w.ue(0) // first_mb_in_slice
    w.ue(sliceType) // slice_type (all slices in pic)
    w.ue(0) // pps_id
    if (sliceType == 7) {
      w.put(0, 4) // frame_num (log2_max_frame_num = 4)
      w.ue(f % 2) // idr_pic_id
    } else w.put(f % 16, 4) // frame_num
    pocLsb.foreach(v => w.put(v, 8)) // pic_order_cnt_lsb (POC type 0)
    sliceType match {
      case 7 => w.put(0, 1); w.put(0, 1) // no_output_of_prior_pics, long_term_ref
      case 5 =>
        // PPS default is one active ref; override to two once the DPB has two
        if (nRefs == 2) { w.put(1, 1); w.ue(1) } else w.put(0, 1)
        w.put(0, 1) // ref_pic_list_modification_flag_l0
        w.put(0, 1) // adaptive_ref_pic_marking_mode_flag (sliding window)
      case _ => // non-reference B: no dec_ref_pic_marking
        w.put(if (spatial) 1 else 0, 1) // direct_spatial_mv_pred_flag
        w.put(0, 1) // num_ref_idx override: one active ref per list
        w.put(0, 1); w.put(0, 1) // ref_pic_list_modification l0, l1
    }
    if (cabac && sliceType != 7) w.ue(0) // cabac_init_idc
    w.se(qp - 26) // slice_qp_delta
    w.ue(1) // disable_deblocking_filter_idc = 1 (no loop filter)
    if (cabac) w.alignByteOnes() // cabac_alignment_one_bit
    w
  }

  /** Zeroed Y, Cb, Cr planes of a wMb x hMb picture (4:2:0). */
  private[operators] def newPlanes(wMb: Int, hMb: Int): Planes =
    (new Array[Int](wMb * 16 * hMb * 16), new Array[Int](wMb * 8 * hMb * 8),
      new Array[Int](wMb * 8 * hMb * 8))

  /** predIntra4x4PredMode (§8.3.1.1) of the 4x4 block at (gx, gy) from
    * the per-4x4 mode store: DC (2) when the left or top block is
    * outside the picture, else the smaller neighbor mode (non-I_4x4 MBs
    * store 2).
    */
  private[operators] def predI4Mode(store: Array[Array[Int]], gx: Int,
      gy: Int): Int =
    if (gx == 0 || gy == 0) 2
    else math.min(store(gy)(gx - 1), store(gy - 1)(gx))

  /** The level checksum of one slice, which the `h264Levels` oracle
    * fragment replays: Σ level(s) · (mbIdx·131 + tag·17 + s + 1) over
    * the nonzero levels of every coded block. Tags: luma DC 0, luma 4x4
    * block b 1+b, chroma DC comp c 17+c, chroma AC comp c block b
    * 19+4c+b.
    */
  private[operators] final class LevelSum {
    var value = 0L
    def add(mbIdx: Int, tag: Int, levels: Array[Int]): Unit = {
      var s = 0
      while (s < levels.length) {
        if (levels(s) != 0)
          value += levels(s).toLong * (mbIdx * 131 + tag * 17 + s + 1)
        s += 1
      }
    }
  }

  /** Luma 4x4 (`ac`, one array per blkIdx), chroma DC and chroma AC
    * level blocks of one MB.
    */
  private[operators] type MbLevels =
    (Array[Array[Int]], Array[Array[Int]], Array[Array[Array[Int]]])

  /** Per-slice CAVLC state: the per-4x4 TotalCoeff grids the nC
    * contexts read (§9.2.1) and the level checksum. The block coders
    * take the luma CBP as a per-8x8 bit mask and the chroma CBP as
    * 0 (none), 1 (DC) or 2 (DC + AC).
    */
  private final class CavlcCtx(wMb: Int, hMb: Int) {
    val tcY: Array[Array[Int]] = Array.ofDim[Int](hMb * 4, wMb * 4)
    val tcC: Array[Array[Array[Int]]] = Array.fill(2)(Array.ofDim[Int](hMb * 2, wMb * 2))
    val levels = new LevelSum

    def lumaDcNc(mbX: Int, mbY: Int): Int = nCOf(tcY, mbX * 4, mbY * 4)

    /** An I_PCM MB: every block counts TotalCoeff 16 for its neighbors. */
    def markPcm(mbX: Int, mbY: Int): Unit = {
      for (x4 <- 0 until 4; y4 <- 0 until 4)
        tcY(mbY * 4 + y4)(mbX * 4 + x4) = 16
      for (c <- 0 until 2; x2 <- 0 until 2; y2 <- 0 until 2)
        tcC(c)(mbY * 2 + y2)(mbX * 2 + x2) = 16
    }

    /** Writes one MB's luma 4x4, chroma DC and chroma AC blocks in
      * syntax order (§7.3.5.3) and adds them to the level checksum.
      */
    def write(w: BitWriter, mbIdx: Int, mbX: Int, mbY: Int, cbpL: Int,
        cbpC: Int, lv: MbLevels): Unit = {
      val (ac, cdc, cac) = lv
      for (b <- 0 until 16 if (cbpL >> (b / 4) & 1) != 0) {
        levels.add(mbIdx, 1 + b, ac(b))
        val (x4, y4) = blkPos(b)
        writeResidual(w, ac(b), nCOf(tcY, mbX * 4 + x4, mbY * 4 + y4))
        tcY(mbY * 4 + y4)(mbX * 4 + x4) = ac(b).count(_ != 0)
      }
      if (cbpC > 0) for (c <- 0 until 2) {
        levels.add(mbIdx, 17 + c, cdc(c))
        writeResidual(w, cdc(c), -1)
      }
      if (cbpC == 2) for (c <- 0 until 2; b <- 0 until 4) {
        levels.add(mbIdx, 19 + 4 * c + b, cac(c)(b))
        writeResidual(w, cac(c)(b),
          nCOf(tcC(c), mbX * 2 + b % 2, mbY * 2 + b / 2))
        tcC(c)(mbY * 2 + b / 2)(mbX * 2 + b % 2) = cac(c)(b).count(_ != 0)
      }
    }

    /** Reads what [[write]] wrote; luma blocks hold `lumaLen` (16, or 15
      * for Intra_16x16 AC) coefficients. Uncoded blocks are zero.
      */
    def read(r: BitReader, mbIdx: Int, mbX: Int, mbY: Int, cbpL: Int,
        lumaLen: Int, cbpC: Int): MbLevels = {
      val ac = Array.fill(16)(new Array[Int](lumaLen))
      for (b <- 0 until 16 if (cbpL >> (b / 4) & 1) != 0) {
        val (x4, y4) = blkPos(b)
        val (cf, tc) = readResidual(r, lumaLen,
          nCOf(tcY, mbX * 4 + x4, mbY * 4 + y4))
        ac(b) = cf
        tcY(mbY * 4 + y4)(mbX * 4 + x4) = tc
        levels.add(mbIdx, 1 + b, cf)
      }
      val cdc = Array.fill(2)(new Array[Int](4))
      if (cbpC > 0) for (c <- 0 until 2) {
        cdc(c) = readResidual(r, 4, -1)._1
        levels.add(mbIdx, 17 + c, cdc(c))
      }
      val cac = Array.fill(2, 4)(new Array[Int](15))
      if (cbpC == 2) for (c <- 0 until 2; b <- 0 until 4) {
        val (cf, tc) = readResidual(r, 15,
          nCOf(tcC(c), mbX * 2 + b % 2, mbY * 2 + b / 2))
        cac(c)(b) = cf
        tcC(c)(mbY * 2 + b / 2)(mbX * 2 + b % 2) = tc
        levels.add(mbIdx, 19 + 4 * c + b, cf)
      }
      (ac, cdc, cac)
    }
  }

  /** Encode one stream; returns (bytes, per-frame reconstructions +
    * gate sums) — the decoder must reproduce every value bit-exactly.
    */
  def encode(id: Long, wMb: Int, hMb: Int, nFrames: Int, qp: Int,
      mixed: Boolean = false, pcmMode: Boolean = false): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(7, spsRbsp(wMb, hMb)))
    out.write(nal(8, ppsRbsp()))
    val frames = Vector.newBuilder[H264Frame]
    for (f <- 0 until nFrames) {
      val (rbsp, fr) = encodeISlice(id, f, wMb, hMb, qp, mixed, pcmMode)
      out.write(nal(5, rbsp))
      frames += fr
    }
    (out.toByteArray, frames.result())
  }

  /** One IDR I-slice: (slice RBSP, expected reconstruction + gate sums).
    * Shared by [[encode]] (all-I streams, q303/q307) and [[encodeInter]]
    * (frame 0 of the IDR+P streams, q309).
    */
  private def encodeISlice(id: Long, f: Int, wMb: Int, hMb: Int, qp: Int,
      mixed: Boolean, pcmMode: Boolean = false,
      pocLsb: Option[Int] = None): (Array[Byte], H264Frame) = {
      val w = sliceHeader(7, f, qp, pocLsb, cabac = false)
      val (y, cb, cr) = newPlanes(wMb, hMb)
      val vlc = new CavlcCtx(wMb, hMb)
      // per-4x4 Intra4x4PredMode store for predicted-mode coding; 2
      // ("inferred DC") for non-I_4x4 MBs per §8.3.1.1
      val modeStore = Array.fill(hMb * 4, wMb * 4)(2)
      var modeSum = 0L; var cModeSum = 0L
      var i4ModeSum = 0L; var nI4 = 0L
      var nPcm = 0L; var pcmSum = 0L
      for (mbIdx <- 0 until wMb * hMb) {
        val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
        val isPcm = pcmMode && ConstructH.isPcmMb(id, mbX, mbY)
        val isI4 =
          if (pcmMode) !isPcm && mbX > 0
          else mixed && ConstructH.isI4(id, mbIdx)
        if (isPcm) {
          // I_PCM (§7.3.5/§7.4.5): mb_type 25, byte alignment, raw
          // samples; every block's TotalCoeff counts as 16 for the
          // neighbors' CAVLC contexts — the nC ≥ 8 bootstrap.
          nPcm += 1
          w.ue(25)
          w.alignByte()
          val wPix = wMb * 16; val wC = wMb * 8
          for (i <- 0 until 256) {
            val v = ConstructH.pcmSample(id, mbIdx, 0, i)
            w.put(v, 8)
            pcmSum += v.toLong * (mbIdx * 389 + i + 1)
            y((mbY * 16 + i / 16) * wPix + mbX * 16 + i % 16) = v
          }
          for (c <- 0 until 2; i <- 0 until 64) {
            val v = ConstructH.pcmSample(id, mbIdx, 1 + c, i)
            w.put(v, 8)
            pcmSum += v.toLong * (mbIdx * 389 + 256 + c * 64 + i + 1)
            (if (c == 0) cb else cr)((mbY * 8 + i / 8) * wC + mbX * 8 + i % 8) = v
          }
          vlc.markPcm(mbX, mbY)
        } else {
        val cm = ConstructH.chromaMode(id, mbIdx, mbX, mbY)
        cModeSum += cm
        if (isI4) {
          nI4 += 1
          // dense MBs (right of an I_PCM MB) force a full-luma CBP so
          // the nC >= 8 / mid-nC chain is actually fed
          val leftPcm = pcmMode && mbX == 1 && (id + mbY) % 2 == 0
          val cbp =
            if (leftPcm) CbpIntraSubset(((id + mbIdx) % 2).toInt) // 47/31
            else ConstructH.cbpI4(id, mbIdx)
          val cbpL = (cbp & 15) != 0
          val cbpC = cbp >> 4
          val i4Modes = Array.tabulate(16) { b =>
            val (x4, y4) = blkPos(b)
            val m = ConstructH.i4Mode(id, mbIdx, b,
              hasLeft = mbX * 4 + x4 > 0, hasTop = mbY * 4 + y4 > 0)
            i4ModeSum += m
            m
          }
          val lv = ConstructH.mbLevels(id, f, mbIdx, cbp & 15, 16, cbpC)
          if (leftPcm && cbpL) for (b <- 0 until 16 if blkPos(b)._1 == 0)
            lv._1(b) = ConstructH.denseLevels(id, mbIdx, b)
          w.ue(0) // mb_type: I_NxN
          // per-block predicted-mode coding (§8.3.1.1)
          for (b <- 0 until 16) {
            val (x4, y4) = blkPos(b)
            val gx = mbX * 4 + x4; val gy = mbY * 4 + y4
            val predM = predI4Mode(modeStore, gx, gy)
            val m = i4Modes(b)
            if (m == predM) w.put(1, 1)
            else { w.put(0, 1); w.put(if (m < predM) m else m - 1, 3) }
            modeStore(gy)(gx) = m
          }
          w.ue(cm)
          w.ue(CbpIntraSubset.indexOf(cbp)) // me(v): the transcribed subset
          if (cbp != 0) w.se(0) // mb_qp_delta only when coded
          vlc.write(w, mbIdx, mbX, mbY, cbp & 15, cbpC, lv)
          reconstructMb(MbData(isI4 = true, 0, i4Modes, cm, cbpL, cbpC,
            new Array[Int](16), lv._1, lv._2, lv._3), qp, mbX, mbY, y, cb,
            cr, wMb)
        } else {
          val pm = ConstructH.predMode(id, mbIdx, mbX, mbY)
          val cbpL = ConstructH.cbpLuma15(id, mbIdx)
          val cbpC = ConstructH.cbpChroma(id, mbIdx)
          modeSum += pm
          val dc = ConstructH.blockLevels(id, f, mbIdx, 0, 16)
          val lv = ConstructH.mbLevels(id, f, mbIdx, if (cbpL) 15 else 0,
            15, cbpC)
          // mb_type: 1 + pm + 4·cbpC + 12·(cbp luma 15)
          w.ue(1 + pm + 4 * cbpC + (if (cbpL) 12 else 0))
          w.ue(cm) // intra_chroma_pred_mode
          w.se(0) // mb_qp_delta
          // residual order (§7.4.5.3.3): luma DC, luma AC ×16, chroma DC
          // Cb+Cr, chroma AC Cb ×4 then Cr ×4
          vlc.levels.add(mbIdx, 0, dc)
          writeResidual(w, dc, vlc.lumaDcNc(mbX, mbY))
          vlc.write(w, mbIdx, mbX, mbY, if (cbpL) 15 else 0, cbpC, lv)
          reconstructMb(MbData(isI4 = false, pm, Array.empty, cm, cbpL,
            cbpC, dc, lv._1, lv._2, lv._3), qp, mbX, mbY, y, cb, cr, wMb)
        }
        }
      }
      w.rbspTrailing()
      (w.result(), H264Frame(y, cb, cr, vlc.levels.value, modeSum, cModeSum,
        i4ModeSum, nI4, nPcm = nPcm, pcmChecksum = pcmSum))
  }

  /** Decode a stream this construction emits; None for anything else
    * (wrong profile/entropy mode/slice type, unknown mb_type class,
    * out-of-bound CAVLC context — the fall-through contract).
    */
  def decode(bytes: Array[Byte]): Option[H264Stream] = {
    try {
      // (type, nal_ref_idc, rbsp)
      val all = splitNals(bytes).map { case (h, rbsp) =>
        (h & 0x1f, (h >> 5) & 3, rbsp) }
      if (all.isEmpty) return None
      var wMb = -1; var hMb = -1
      var sawPps = false
      var qp = -1
      var maxRef = 1
      var pocType = 2
      var lastPoc = -1
      // decoded-picture buffer, most recent first (sliding window),
      // with each entry's POC (used only by B-slice list derivation)
      // and its 4x4 motion field (None = intra everywhere; used only
      // by the spatial-direct colZeroFlag test)
      var dpb: List[(Int, Planes, Option[MotionGrid])] = Nil
      val frames = Vector.newBuilder[H264Frame]
      all.foreach {
        case (7, _, rbsp) =>
          val sps = readSps(rbsp, 66).getOrElse(return None) // baseline only
          wMb = sps.wMb; hMb = sps.hMb
          pocType = sps.pocType
          maxRef = math.max(1, sps.maxRef)
        case (8, _, rbsp) =>
          if (!readPps(rbsp, cabac = false)) return None
          sawPps = true
        case (5, _, rbsp) =>
          if (wMb < 0 || !sawPps) return None
          val r = new BitReader(rbsp)
          if (r.ue() != 0) return None // first_mb_in_slice
          if (r.ue() != 7) return None // I slice
          if (r.ue() != 0) return None // pps_id
          r.get(4) // frame_num
          r.ue() // idr_pic_id
          lastPoc = if (pocType == 0) r.get(8) else -1
          r.get(1); r.get(1) // dec_ref_pic_marking
          qp = 26 + r.se()
          if (qp > 29) return None // construction bound (QPc = QP)
          if (r.ue() != 1) return None // deblocking must be disabled
          val (y, cb, cr) = newPlanes(wMb, hMb)
          val vlc = new CavlcCtx(wMb, hMb)
          val modeStore = Array.fill(hMb * 4, wMb * 4)(2)
          var modeSum = 0L; var cModeSum = 0L
          var i4ModeSum = 0L; var nI4 = 0L
          var nPcm = 0L; var pcmSum = 0L
          for (mbIdx <- 0 until wMb * hMb) {
            val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
            val mbType = r.ue()
            if (mbType > 25) return None // I_NxN/I_16x16/I_PCM only
            if (mbType == 25) { // I_PCM: aligned raw samples
              nPcm += 1
              r.alignByte()
              val wPix = wMb * 16; val wC = wMb * 8
              var i = 0
              while (i < 256) {
                val v = r.get(8)
                pcmSum += v.toLong * (mbIdx * 389 + i + 1)
                y((mbY * 16 + i / 16) * wPix + mbX * 16 + i % 16) = v
                i += 1
              }
              var c = 0
              while (c < 2) {
                i = 0
                while (i < 64) {
                  val v = r.get(8)
                  pcmSum += v.toLong * (mbIdx * 389 + 256 + c * 64 + i + 1)
                  (if (c == 0) cb else cr)((mbY * 8 + i / 8) * wC + mbX * 8 + i % 8) = v
                  i += 1
                }
                c += 1
              }
              vlc.markPcm(mbX, mbY)
            } else if (mbType == 0) { // I_4x4
              nI4 += 1
              val i4Modes = new Array[Int](16)
              for (b <- 0 until 16) {
                val (x4, y4) = blkPos(b)
                val gx = mbX * 4 + x4; val gy = mbY * 4 + y4
                val predM = predI4Mode(modeStore, gx, gy)
                val m =
                  if (r.get(1) == 1) predM
                  else {
                    val rem = r.get(3)
                    if (rem < predM) rem else rem + 1
                  }
                if (m > 8) return None
                i4Modes(b) = m
                i4ModeSum += m
                modeStore(gy)(gx) = m
              }
              val cm = r.ue()
              if (cm > 3) return None
              cModeSum += cm
              val cbpCode = r.ue()
              if (cbpCode >= CbpIntraSubset.length)
                return None // outside the transcribed Table 9-4 subset
              val cbp = CbpIntraSubset(cbpCode)
              val cbpC = cbp >> 4
              if (cbp != 0 && r.se() != 0) return None // mb_qp_delta
              val (ac, cdc, cac) = vlc.read(r, mbIdx, mbX, mbY, cbp & 15, 16,
                cbpC)
              reconstructMb(MbData(isI4 = true, 0, i4Modes, cm,
                (cbp & 15) != 0, cbpC, new Array[Int](16), ac, cdc, cac),
                qp, mbX, mbY, y, cb, cr, wMb)
            } else {
              val pm = (mbType - 1) % 4
              val cbpC = ((mbType - 1) / 4) % 3
              val cbpL = (mbType - 1) >= 12
              val cm = r.ue()
              if (cm > 3) return None
              if (r.se() != 0) return None // mb_qp_delta (construction)
              modeSum += pm; cModeSum += cm
              val (dc, _) = readResidual(r, 16, vlc.lumaDcNc(mbX, mbY))
              vlc.levels.add(mbIdx, 0, dc)
              val (ac, cdc, cac) = vlc.read(r, mbIdx, mbX, mbY,
                if (cbpL) 15 else 0, 15, cbpC)
              reconstructMb(MbData(isI4 = false, pm, Array.empty, cm,
                cbpL, cbpC, dc, ac, cdc, cac), qp, mbX, mbY, y, cb, cr, wMb)
            }
          }
          frames += H264Frame(y, cb, cr, vlc.levels.value, modeSum, cModeSum,
            i4ModeSum, nI4, nPcm = nPcm, pcmChecksum = pcmSum,
            poc = lastPoc)
          dpb = List((lastPoc, (y, cb, cr), None)) // IDR resets the DPB
        case (1, refIdc, rbsp) =>
          // non-IDR slice: P (q309, slice_type 5) or B (q313, slice_type
          // 6). Anything else falls through (None).
          if (wMb < 0 || !sawPps || dpb.isEmpty) return None
          val r = new BitReader(rbsp)
          if (r.ue() != 0) return None // first_mb_in_slice
          val sliceType = r.ue()
          if (sliceType != 5 && sliceType != 6) return None
          if (r.ue() != 0) return None // pps_id
          r.get(4) // frame_num
          lastPoc = if (pocType == 0) r.get(8) else -1
          if (sliceType == 6) {
            decodeBSlice(r, refIdc, lastPoc, wMb, hMb, dpb, frames)
          } else {
          val nRefs =
            if (r.get(1) == 1) { // num_ref_idx override
              if (r.ue() != 1) return None
              2
            } else 1
          if (nRefs > dpb.size) return None
          if (r.get(1) != 0) return None // no ref list modification
          if (refIdc != 0 && r.get(1) != 0) return None // sliding window
          qp = 26 + r.se()
          if (qp > 29) return None
          if (r.ue() != 1) return None // deblocking must be disabled
          val refs = dpb.take(2).map(_._2).toIndexedSeq
          val (y, cb, cr) = newPlanes(wMb, hMb)
          val grid = new MotionGrid(wMb * 4, hMb * 4)
          val vlc = new CavlcCtx(wMb, hMb)
          var mvdSum = 0L; var refSum = 0L
          var nSkip = 0L; var typeSum = 0L
          def decodeSkip(mbIdx: Int): Unit = {
            val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
            val (mx, my) = skipMv(grid, mbX * 4, mbY * 4)
            grid.fill(mbX * 4, mbY * 4, 4, 4, mx, my, 0)
            nSkip += 1
            reconstructInterMb(skipMb.copy(mv = Array((mx, my))), qp, mbX,
              mbY, refs, y, cb, cr, wMb, hMb)
          }
          val total = wMb * hMb
          var mbIdx = 0
          while (mbIdx < total) {
            val skipRun = r.ue()
            if (mbIdx + skipRun > total) return None
            var k = 0
            while (k < skipRun) { decodeSkip(mbIdx); mbIdx += 1; k += 1 }
            if (mbIdx < total) {
              val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
              val gx0 = mbX * 4; val gy0 = mbY * 4
              val pt = r.ue()
              if (pt > 3) return None // no P_8x8ref0 / intra-in-P
              typeSum += (pt + 1L) * (mbIdx + 1)
              val np = nPartsOf(pt)
              if (pt == 3) {
                var p = 0
                while (p < np) {
                  if (r.ue() != 0) return None // P_L0_8x8 subs only
                  p += 1
                }
              }
              val refIdxArr = new Array[Int](np)
              if (nRefs == 2) for (p <- 0 until np) {
                refIdxArr(p) = 1 - r.get(1) // te(v), range 1
                refSum += refIdxArr(p).toLong * (mbIdx + 1)
              }
              val mvds = Array.tabulate(np) { p =>
                val mx = r.se(); val my = r.se()
                mvdSum += (mbIdx * 64L + p * 8 + 1) * mx +
                  (mbIdx * 64L + p * 8 + 3) * my
                (mx, my)
              }
              val mvs = new Array[(Int, Int)](np)
              for (p <- 0 until np) {
                val (cx, cy, cw, ch) = partRect(pt, p)
                val (mpx, mpy) = mvPred(grid, gx0 + cx, gy0 + cy, cw,
                  refIdxArr(p), partKindOf(pt, p))
                mvs(p) = (mpx + mvds(p)._1, mpy + mvds(p)._2)
                grid.fill(gx0 + cx, gy0 + cy, cw, ch, mvs(p)._1,
                  mvs(p)._2, refIdxArr(p))
              }
              val cbpCode = r.ue()
              if (cbpCode >= CbpInterSubset.length)
                return None // outside the transcribed Table 9-4 subset
              val cbp = CbpInterSubset(cbpCode)
              val cbpL = cbp & 15; val cbpC = cbp >> 4
              if (cbp != 0 && r.se() != 0) return None // mb_qp_delta
              val (ac, cdc, cac) = vlc.read(r, mbIdx, mbX, mbY, cbpL, 16, cbpC)
              reconstructInterMb(InterMb(pt, refIdxArr, mvs, cbpL, cbpC,
                ac, cdc, cac), qp, mbX, mbY, refs, y, cb, cr, wMb, hMb)
              mbIdx += 1
            }
          }
          frames += H264Frame(y, cb, cr, vlc.levels.value, 0L, 0L, 0L, 0L,
            mvdSum, refSum, nSkip, typeSum, poc = lastPoc)
          dpb = ((lastPoc, (y, cb, cr), Some(grid)) :: dpb)
            .take(math.max(maxRef, 1))
          }
        case _ => return None
      }
      val fs = frames.result()
      if (wMb < 0 || fs.isEmpty) None
      else Some(H264Stream(wMb, hMb, qp, fs))
    } catch { case _: Exception => None }
  }

  // -------------------------------------------------------------------
  // P-slice INTER path (q309 — VERDICT r14 item 1): P_Skip + mb_skip_run,
  // P_L0_16x16 / P_L0_L0_16x8 / P_L0_L0_8x16 / P_8x8 (sub_mb_type
  // P_L0_8x8), up to two reference frames with te(v)-coded ref_idx and
  // sliding-window marking, median MV prediction with the 16x8/8x16
  // directional rules (§8.4.1.3), quarter-pel luma interpolation (6-tap
  // half-pel + bilinear quarter-pel, §8.4.2.2.1), eighth-pel bilinear
  // chroma (§8.4.2.2.2), and inter residual decode on q303's CAVLC/
  // dequant/transform machinery (16-coefficient luma 4x4 blocks gated by
  // the CBP's 8x8 bits — no luma DC split outside Intra_16x16).
  // -------------------------------------------------------------------

  /** me(v) codeNum → coded_block_pattern for Inter prediction modes —
    * the transcribed HEAD of Table 9-4's inter column (codeNums 0-7;
    * same policy as [[CbpIntraSubset]]: the full 48-entry column is
    * deliberately not transcribed from memory). Decoder rejects other
    * codeNums (fall-through contract).
    */
  val CbpInterSubset: IndexedSeq[Int] = IndexedSeq(0, 16, 1, 2, 4, 8, 32, 3)

  /** Per-4x4-cell motion state of the picture being (de)coded. `ref`
    * -2 = not yet decoded, -1 = intra (none in this construction's P
    * slices, kept for the availability contract), ≥0 = inter refIdx.
    */
  final class MotionGrid(val w4: Int, val h4: Int) {
    val mvx: Array[Array[Int]] = Array.ofDim[Int](h4, w4)
    val mvy: Array[Array[Int]] = Array.ofDim[Int](h4, w4)
    val ref: Array[Array[Int]] = Array.fill(h4, w4)(-2)
    def decoded(gx: Int, gy: Int): Boolean =
      gx >= 0 && gy >= 0 && gx < w4 && gy < h4 && ref(gy)(gx) != -2
    def fill(gx0: Int, gy0: Int, pw4: Int, ph4: Int, mx: Int, my: Int,
        r: Int): Unit = {
      var gy = gy0
      while (gy < gy0 + ph4) {
        var gx = gx0
        while (gx < gx0 + pw4) {
          mvx(gy)(gx) = mx; mvy(gy)(gx) = my; ref(gy)(gx) = r
          gx += 1
        }
        gy += 1
      }
    }
  }

  /** Which partition of which shape is being predicted — selects the
    * §8.4.1.3 directional special cases.
    */
  object PartKind {
    val Full = 0; val Top16x8 = 1; val Bottom16x8 = 2
    val Left8x16 = 3; val Right8x16 = 4
  }

  private final case class Nb(avail: Boolean, mx: Int, my: Int, ref: Int)

  /** Luma MV prediction (§8.4.1.3 / §8.4.1.3.1): neighbors A (left),
    * B (top), C (top-right of the partition, D top-left substituted
    * when C is unavailable in decode order); unavailable → mv 0, refIdx
    * −1. Order of rules: 16x8/8x16 directional shortcut, the A-only
    * fallback when no top neighbor exists at all, the single-matching-
    * refIdx shortcut, componentwise median. Quarter-pel units.
    */
  def mvPred(g: MotionGrid, gx0: Int, gy0: Int, pw4: Int, refIdx: Int,
      kind: Int): (Int, Int) = {
    def at(gx: Int, gy: Int): Nb =
      if (g.decoded(gx, gy)) Nb(avail = true, g.mvx(gy)(gx), g.mvy(gy)(gx), g.ref(gy)(gx))
      else Nb(avail = false, 0, 0, -1)
    val a = at(gx0 - 1, gy0)
    val b = at(gx0, gy0 - 1)
    val c0 = at(gx0 + pw4, gy0 - 1)
    val d = at(gx0 - 1, gy0 - 1)
    val c = if (c0.avail) c0 else d
    kind match {
      case PartKind.Top16x8 if b.ref == refIdx => return (b.mx, b.my)
      case PartKind.Bottom16x8 if a.ref == refIdx => return (a.mx, a.my)
      case PartKind.Left8x16 if a.ref == refIdx => return (a.mx, a.my)
      case PartKind.Right8x16 if c.ref == refIdx => return (c.mx, c.my)
      case _ => ()
    }
    if (!b.avail && !c0.avail && !d.avail && a.avail) return (a.mx, a.my)
    val matches = Seq(a, b, c).filter(_.ref == refIdx)
    if (matches.size == 1) (matches.head.mx, matches.head.my)
    else {
      def med(x: Int, y: Int, z: Int): Int =
        math.max(math.min(x, y), math.min(math.max(x, y), z))
      (med(a.mx, b.mx, c.mx), med(a.my, b.my, c.my))
    }
  }

  /** P_Skip motion (§8.4.1.1): refIdx 0; zero MV when either MB
    * neighbor is missing or either is a zero-motion ref-0 inter MB,
    * else the 16x16 median predictor.
    */
  def skipMv(g: MotionGrid, gx0: Int, gy0: Int): (Int, Int) = {
    val aAvail = g.decoded(gx0 - 1, gy0)
    val bAvail = g.decoded(gx0, gy0 - 1)
    def zeroRef0(gx: Int, gy: Int): Boolean =
      g.ref(gy)(gx) == 0 && g.mvx(gy)(gx) == 0 && g.mvy(gy)(gx) == 0
    if (!aAvail || !bAvail || zeroRef0(gx0 - 1, gy0) || zeroRef0(gx0, gy0 - 1))
      (0, 0)
    else mvPred(g, gx0, gy0, 4, 0, PartKind.Full)
  }

  /** One luma sample at quarter-pel position (§8.4.2.2.1): 6-tap
    * (1,−5,20,20,−5,1) half-pel filter (b/h/m/s), the doubly-filtered
    * center j from UNROUNDED intermediates, bilinear quarter-pel
    * averaging per Table 8-12; the reference is extended by edge
    * clamping. (xI, yI) is the full-pel anchor, (xF, yF) ∈ [0,4).
    */
  def lumaSample(ref: Array[Int], w: Int, h: Int, xI: Int, yI: Int,
      xF: Int, yF: Int): Int = {
    def fp(x: Int, y: Int): Int =
      ref(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x)))
    if (xF == 0 && yF == 0) return fp(xI, yI)
    def f6(a: Int, b: Int, c: Int, d: Int, e: Int, f: Int): Int =
      a - 5 * b + 20 * c + 20 * d - 5 * e + f
    def bRaw(x: Int, y: Int): Int =
      f6(fp(x - 2, y), fp(x - 1, y), fp(x, y), fp(x + 1, y), fp(x + 2, y), fp(x + 3, y))
    def hRaw(x: Int, y: Int): Int =
      f6(fp(x, y - 2), fp(x, y - 1), fp(x, y), fp(x, y + 1), fp(x, y + 2), fp(x, y + 3))
    def half(raw: Int): Int = clip((raw + 16) >> 5)
    lazy val b = half(bRaw(xI, yI))
    lazy val hh = half(hRaw(xI, yI))
    lazy val m = half(hRaw(xI + 1, yI))
    lazy val s = half(bRaw(xI, yI + 1))
    lazy val j = clip((f6(bRaw(xI, yI - 2), bRaw(xI, yI - 1), bRaw(xI, yI),
      bRaw(xI, yI + 1), bRaw(xI, yI + 2), bRaw(xI, yI + 3)) + 512) >> 10)
    def avg(p: Int, q: Int): Int = (p + q + 1) >> 1
    (xF, yF) match {
      case (1, 0) => avg(fp(xI, yI), b) // a
      case (2, 0) => b
      case (3, 0) => avg(b, fp(xI + 1, yI)) // c
      case (0, 1) => avg(fp(xI, yI), hh) // d
      case (1, 1) => avg(b, hh) // e
      case (2, 1) => avg(b, j) // f
      case (3, 1) => avg(b, m) // g
      case (0, 2) => hh
      case (1, 2) => avg(hh, j) // i
      case (2, 2) => j
      case (3, 2) => avg(j, m) // k
      case (0, 3) => avg(fp(xI, yI + 1), hh) // n
      case (1, 3) => avg(hh, s) // p
      case (2, 3) => avg(j, s) // q
      case _ => avg(m, s) // r (3,3)
    }
  }

  /** One chroma sample at eighth-pel position (§8.4.2.2.2, bilinear),
    * edge-clamped.
    */
  def chromaSample(ref: Array[Int], w: Int, h: Int, xI: Int, yI: Int,
      xF: Int, yF: Int): Int = {
    def fp(x: Int, y: Int): Int =
      ref(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x)))
    ((8 - xF) * (8 - yF) * fp(xI, yI) + xF * (8 - yF) * fp(xI + 1, yI) +
      (8 - xF) * yF * fp(xI, yI + 1) + xF * yF * fp(xI + 1, yI + 1) + 32) >> 6
  }

  /** Motion-compensate one luma partition (full planes, width w). MV in
    * quarter-pel units; fractional phase constant over the partition.
    */
  def mcLuma(ref: Array[Int], out: Array[Int], w: Int, h: Int,
      px0: Int, py0: Int, pw: Int, ph: Int, mx: Int, my: Int): Unit = {
    val xF = mx & 3; val yF = my & 3
    var dy = 0
    while (dy < ph) {
      var dx = 0
      while (dx < pw) {
        out((py0 + dy) * w + px0 + dx) =
          lumaSample(ref, w, h, px0 + dx + (mx >> 2), py0 + dy + (my >> 2), xF, yF)
        dx += 1
      }
      dy += 1
    }
  }

  /** Chroma partition MC: the luma MV re-interpreted at eighth-pel
    * chroma resolution (§8.4.1.4, 4:2:0 frame coding: mvC = mvL).
    */
  def mcChroma(ref: Array[Int], out: Array[Int], w: Int, h: Int,
      px0: Int, py0: Int, pw: Int, ph: Int, mx: Int, my: Int): Unit = {
    val xF = mx & 7; val yF = my & 7
    var dy = 0
    while (dy < ph) {
      var dx = 0
      while (dx < pw) {
        out((py0 + dy) * w + px0 + dx) =
          chromaSample(ref, w, h, px0 + dx + (mx >> 3), py0 + dy + (my >> 3), xF, yF)
        dx += 1
      }
      dy += 1
    }
  }

  /** One inter MB: ptype 0=P_L0_16x16 1=16x8 2=8x16 3=P_8x8 (all subs
    * P_L0_8x8); per-partition refIdx + FINAL mv; residual per CBP.
    */
  private[operators] final case class InterMb(ptype: Int, refIdx: Array[Int],
      mv: Array[(Int, Int)], cbpL: Int, cbpC: Int,
      ac: Array[Array[Int]], cdc: Array[Array[Int]],
      cac: Array[Array[Array[Int]]])

  private[operators] def nPartsOf(ptype: Int): Int =
    ptype match { case 0 => 1; case 3 => 4; case _ => 2 }

  /** Partition rect in 4x4-cell units relative to the MB. */
  private[operators] def partRect(ptype: Int, part: Int): (Int, Int, Int, Int) =
    ptype match {
      case 0 => (0, 0, 4, 4)
      case 1 => (0, part * 2, 4, 2) // 16x8
      case 2 => (part * 2, 0, 2, 4) // 8x16
      case _ => ((part % 2) * 2, (part / 2) * 2, 2, 2) // 8x8
    }

  private[operators] def partKindOf(ptype: Int, part: Int): Int = ptype match {
    case 1 => if (part == 0) PartKind.Top16x8 else PartKind.Bottom16x8
    case 2 => if (part == 0) PartKind.Left8x16 else PartKind.Right8x16
    case _ => PartKind.Full
  }

  /** A P_Skip MB's stand-in (the caller sets `mv`); with no CBP bits it
    * also serves as the empty residual of B_Skip.
    */
  private[operators] val skipMb = InterMb(0, Array(0), Array((0, 0)), 0, 0,
    Array.empty, Array.empty, Array.empty)

  /** The residual of an MB whose motion is handled by the caller (B and
    * direct MBs): an [[InterMb]] with no partitions of its own.
    */
  private[operators] def residualMb(cbpL: Int, cbpC: Int,
      lv: MbLevels): InterMb =
    InterMb(0, Array(0), Array((0, 0)), cbpL, cbpC, lv._1, lv._2, lv._3)

  /** Shared encoder/decoder inter-MB reconstruction: per-partition MC
    * from the selected reference, then CBP-gated residual add. Bit-exact
    * on both sides by construction.
    */
  private[operators] def reconstructInterMb(mb: InterMb, qp: Int, mbX: Int, mbY: Int,
      refs: IndexedSeq[(Array[Int], Array[Int], Array[Int])],
      y: Array[Int], cb: Array[Int], cr: Array[Int], wMb: Int,
      hMb: Int): Unit = {
    val wPix = wMb * 16; val hPix = hMb * 16
    val wC = wMb * 8; val hC = hMb * 8
    for (part <- 0 until nPartsOf(mb.ptype)) {
      val (cx, cy, cw, ch) = partRect(mb.ptype, part)
      val (refY, refCb, refCr) = refs(mb.refIdx(part))
      val (mx, my) = mb.mv(part)
      mcLuma(refY, y, wPix, hPix, mbX * 16 + cx * 4, mbY * 16 + cy * 4,
        cw * 4, ch * 4, mx, my)
      mcChroma(refCb, cb, wC, hC, mbX * 8 + cx * 2, mbY * 8 + cy * 2,
        cw * 2, ch * 2, mx, my)
      mcChroma(refCr, cr, wC, hC, mbX * 8 + cx * 2, mbY * 8 + cy * 2,
        cw * 2, ch * 2, mx, my)
    }
    addInterResidual(mb, qp, mbX, mbY, y, cb, cr, wMb)
  }

  /** q309's deterministic P-frame construction (shared by the gate, its
    * DuckDB oracle — which re-derives the mvd/cbp/level formulas in SQL
    * — and H264Spec). The ENCODER picks the transmitted mvd directly
    * (an encoder freedom) so the oracle can re-derive the coded syntax
    * without replaying median prediction; the final MVs are mvp + mvd on
    * both sides and the reconstruction gate is bit-exact. |mvd| ≤ 8
    * quarter-pels exercises every fractional phase; boundary clamping
    * covers MVs that point outside the picture at edge MBs.
    */
  object ConstructP {
    def nFrames(id: Long): Int = (3 + id % 2).toInt // 1 IDR + 2-3 P
    def isSkip(id: Long, f: Int, mb: Int): Boolean = (id + f + mb) % 5 == 1
    def ptype(id: Long, f: Int, mb: Int): Int = ((id + 2L * f + mb) % 4).toInt
    def refIdx(id: Long, mb: Int, part: Int, nRefs: Int): Int =
      ((id + mb + part) % nRefs).toInt
    def mvdX(id: Long, f: Int, mb: Int, part: Int): Int =
      (((id + 3L * f + 5L * mb + 7L * part) % 17) - 8).toInt
    def mvdY(id: Long, f: Int, mb: Int, part: Int): Int =
      (((3L * id + f + 2L * mb + 5L * part) % 17) - 8).toInt
    def cbpIdx(id: Long, f: Int, mb: Int): Int = ((id + f + mb) % 8).toInt
  }

  /** Encode an IDR + P-frame stream (q309): SPS with two reference
    * frames, the q303 I_16x16 construction as frame 0, then P slices.
    * Returns (bytes, per-frame expected reconstructions + gate sums) —
    * the decoder must reproduce every plane bit-exactly.
    */
  def encodeInter(id: Long, wMb: Int, hMb: Int, nFrames: Int,
      qp: Int): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(7, spsRbsp(wMb, hMb, maxRef = 2)))
    out.write(nal(8, ppsRbsp()))
    val frames = Vector.newBuilder[H264Frame]
    val (rbsp0, fr0) = encodeISlice(id, 0, wMb, hMb, qp, mixed = false)
    out.write(nal(5, rbsp0))
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

  private def encodePSlice(id: Long, f: Int, wMb: Int, hMb: Int, qp: Int,
      refs: IndexedSeq[(Array[Int], Array[Int], Array[Int])],
      pocLsb: Option[Int] = None): (Array[Byte], H264Frame, MotionGrid) = {
    val nRefs = math.min(refs.size, 2)
    val w = sliceHeader(5, f, qp, pocLsb, cabac = false, nRefs)
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val grid = new MotionGrid(wMb * 4, hMb * 4)
    val vlc = new CavlcCtx(wMb, hMb)
    var mvdSum = 0L; var refSum = 0L
    var nSkip = 0L; var typeSum = 0L
    var skipRun = 0
    for (mbIdx <- 0 until wMb * hMb) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      if (ConstructP.isSkip(id, f, mbIdx)) {
        nSkip += 1
        skipRun += 1
        val (mx, my) = skipMv(grid, gx0, gy0)
        grid.fill(gx0, gy0, 4, 4, mx, my, 0)
        reconstructInterMb(skipMb.copy(mv = Array((mx, my))), qp, mbX, mbY,
          refs, y, cb, cr, wMb, hMb)
      } else {
        w.ue(skipRun); skipRun = 0
        val pt = ConstructP.ptype(id, f, mbIdx)
        typeSum += (pt + 1L) * (mbIdx + 1)
        w.ue(pt) // mb_type
        val np = nPartsOf(pt)
        if (pt == 3) for (_ <- 0 until np) w.ue(0) // sub_mb_type P_L0_8x8
        val refIdxArr = Array.tabulate(np)(p =>
          ConstructP.refIdx(id, mbIdx, p, nRefs))
        if (nRefs == 2) for (p <- 0 until np) {
          w.put(1 - refIdxArr(p), 1) // te(v) with range 1: flipped bit
          refSum += refIdxArr(p).toLong * (mbIdx + 1)
        }
        val mvds = Array.tabulate(np)(p =>
          (ConstructP.mvdX(id, f, mbIdx, p), ConstructP.mvdY(id, f, mbIdx, p)))
        for (p <- 0 until np) {
          w.se(mvds(p)._1); w.se(mvds(p)._2)
          mvdSum += (mbIdx * 64L + p * 8 + 1) * mvds(p)._1 +
            (mbIdx * 64L + p * 8 + 3) * mvds(p)._2
        }
        val mvs = new Array[(Int, Int)](np)
        for (p <- 0 until np) {
          val (cx, cy, cw, ch) = partRect(pt, p)
          val (mpx, mpy) = mvPred(grid, gx0 + cx, gy0 + cy, cw,
            refIdxArr(p), partKindOf(pt, p))
          mvs(p) = (mpx + mvds(p)._1, mpy + mvds(p)._2)
          grid.fill(gx0 + cx, gy0 + cy, cw, ch, mvs(p)._1, mvs(p)._2,
            refIdxArr(p))
        }
        val cbpCode = ConstructP.cbpIdx(id, f, mbIdx)
        val cbp = CbpInterSubset(cbpCode)
        w.ue(cbpCode) // me(v) via the transcribed subset (head: idx = codeNum)
        val cbpL = cbp & 15; val cbpC = cbp >> 4
        if (cbp != 0) w.se(0) // mb_qp_delta
        val (ac, cdc, cac) = ConstructH.mbLevels(id, f, mbIdx, cbpL, 16, cbpC)
        vlc.write(w, mbIdx, mbX, mbY, cbpL, cbpC, (ac, cdc, cac))
        reconstructInterMb(InterMb(pt, refIdxArr, mvs, cbpL, cbpC, ac,
          cdc, cac), qp, mbX, mbY, refs, y, cb, cr, wMb, hMb)
      }
    }
    if (skipRun > 0) w.ue(skipRun) // trailing skips
    w.rbspTrailing()
    (w.result(), H264Frame(y, cb, cr, vlc.levels.value, 0L, 0L, 0L, 0L,
      mvdSum, refSum, nSkip, typeSum), grid)
  }

  // -------------------------------------------------------------------
  // B-slice path (q313 — the r14 "What's missing" successor to q309):
  // BIDIRECTIONALLY-predicted pictures with POC-type-0 output ordering.
  // Scope bounds (documented, fall-through on everything else):
  // non-reference B pictures (nal_ref_idc 0, never enter the DPB),
  // 16x16 partitions only — mb_type 1 B_L0_16x16 / 2 B_L1_16x16 /
  // 3 B_Bi_16x16 from Table 7-14's transcribed head — one active
  // reference per list (L0 = nearest past by POC, L1 = nearest future;
  // no ref_idx syntax), default biprediction (the sample-wise
  // (L0 + L1 + 1) >> 1 average of §8.4.2.3 — weighted pred off in the
  // PPS), per-list median MV prediction on per-list motion grids, and
  // the q309 residual machinery. Since r16 (VERDICT r15 item 4) the
  // direct-mode alphabet is in: B_Skip via mb_skip_run and
  // B_Direct_16x16 (mb_type 0) with SPATIAL direct MV derivation
  // (§8.4.1.2.2: MinPositive refs, median MVP, directZeroPrediction,
  // per-4x4 colZeroFlag against the co-located L1[0] motion field —
  // direct_8x8_inference_flag is 0 in this SPS so the test is per
  // 4x4 cell). Temporal direct (direct_spatial_mv_pred_flag 0) stays
  // a fall-through in THIS CAVLC path; under CABAC the whole alphabet
  // decodes — intra (q314), P slices (q316), B slices with spatial
  // direct (q317) AND temporal direct (q318) via
  // [[H264CabacInter]].
  // -------------------------------------------------------------------

  object ConstructB {
    /** Decode-order plan: I(poc 0), P(poc 6), B(poc 2), B(poc 4). */
    val Pocs: Vector[Int] = Vector(0, 6, 2, 4)
    /** MB class: 2 → B_Skip (mb_skip_run), 4 → B_Direct_16x16 with a
      * coded residual, anything else an explicit L0/L1/Bi 16x16 type
      * (r16 — VERDICT r15 item 4; %7 interleaves skip runs with coded
      * MBs so runs of length ≥ 2 occur across MB rows).
      */
    def mbClass(id: Long, f: Int, mb: Int): Int = ((id + f + mb) % 7).toInt
    def isSkipB(id: Long, f: Int, mb: Int): Boolean = mbClass(id, f, mb) == 2
    def isDirectB(id: Long, f: Int, mb: Int): Boolean = mbClass(id, f, mb) == 4
    def btype(id: Long, f: Int, mb: Int): Int = (1 + (id + f + mb) % 3).toInt
    def mvdX(id: Long, f: Int, mb: Int, list: Int): Int =
      (((id + 3L * f + 5L * mb + 11L * list) % 17) - 8).toInt
    def mvdY(id: Long, f: Int, mb: Int, list: Int): Int =
      (((3L * id + f + 2L * mb + 7L * list) % 17) - 8).toInt
    def cbpIdx(id: Long, f: Int, mb: Int): Int = ((id + f + mb) % 8).toInt
  }

  /** Spatial-direct motion of one 16x16 MB (§8.4.1.2.2), scoped to one
    * active reference per list. `use0`/`use1` are predFlagL0/L1; `mv0`/
    * `mv1` hold the per-4x4-cell MVs (raster cy·4+cx — motion varies
    * within the MB because colZeroFlag is evaluated per cell when
    * direct_8x8_inference_flag is 0, as this construction's SPS sets).
    */
  final case class DirectMotion(use0: Boolean, use1: Boolean,
      mv0: Array[(Int, Int)], mv1: Array[(Int, Int)])

  /** Derive spatial-direct motion (§8.4.1.2.2): per-list reference =
    * MinPositive over the A/B/C neighbors (C with the D top-left
    * substitution, exactly the [[mvPred]] neighbor set); per-list
    * 16x16 median MVP via §8.4.1.3; directZeroPredictionFlag (both
    * lists empty → bipredict with zero MVs and refIdx 0); per-4x4
    * colZeroFlag against the co-located motion field of RefPicList1[0]
    * (refIdxCol 0 and |mvCol| ≤ 1 quarter-pel in both components →
    * that cell's MV zeroes for any list whose refIdx is 0). `colGrid`
    * None means the co-located picture is intra everywhere (our IDR
    * frames) → colZeroFlag 0.
    */
  def directMotion(gridL0: MotionGrid, gridL1: MotionGrid, gx0: Int,
      gy0: Int, colGrid: Option[MotionGrid]): DirectMotion = {
    def minPositiveRef(g: MotionGrid): Int = {
      def at(gx: Int, gy: Int): Int =
        if (g.decoded(gx, gy)) g.ref(gy)(gx) else -1
      val c =
        if (g.decoded(gx0 + 4, gy0 - 1)) at(gx0 + 4, gy0 - 1)
        else at(gx0 - 1, gy0 - 1)
      val rs = Seq(at(gx0 - 1, gy0), at(gx0, gy0 - 1), c).filter(_ >= 0)
      if (rs.isEmpty) -1 else rs.min
    }
    val r0 = minPositiveRef(gridL0)
    val r1 = minPositiveRef(gridL1)
    val zeroPred = r0 < 0 && r1 < 0 // directZeroPredictionFlag
    val use0 = zeroPred || r0 >= 0
    val use1 = zeroPred || r1 >= 0
    val mvp0 =
      if (!zeroPred && r0 >= 0) mvPred(gridL0, gx0, gy0, 4, r0, PartKind.Full)
      else (0, 0)
    val mvp1 =
      if (!zeroPred && r1 >= 0) mvPred(gridL1, gx0, gy0, 4, r1, PartKind.Full)
      else (0, 0)
    val mv0 = new Array[(Int, Int)](16)
    val mv1 = new Array[(Int, Int)](16)
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val colZero = colGrid.exists { cg =>
        cg.ref(gy0 + cy)(gx0 + cx) == 0 &&
          math.abs(cg.mvx(gy0 + cy)(gx0 + cx)) <= 1 &&
          math.abs(cg.mvy(gy0 + cy)(gx0 + cx)) <= 1
      }
      mv0(cy * 4 + cx) =
        if (zeroPred || (r0 == 0 && colZero)) (0, 0) else mvp0
      mv1(cy * 4 + cx) =
        if (zeroPred || (r1 == 0 && colZero)) (0, 0) else mvp1
    }
    DirectMotion(use0, use1, mv0, mv1)
  }

  /** Record a direct MB's per-cell motion in the per-list grids (the
    * derived motion participates in later neighbors' MV prediction).
    */
  private[operators] def fillDirect(gridL0: MotionGrid, gridL1: MotionGrid,
      dm: DirectMotion, gx0: Int, gy0: Int): Unit =
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val (m0x, m0y) = dm.mv0(cy * 4 + cx)
      val (m1x, m1y) = dm.mv1(cy * 4 + cx)
      gridL0.fill(gx0 + cx, gy0 + cy, 1, 1, m0x, m0y, if (dm.use0) 0 else -1)
      gridL1.fill(gx0 + cx, gy0 + cy, 1, 1, m1x, m1y, if (dm.use1) 0 else -1)
    }

  /** Reconstruct one B_Direct_16x16 / B_Skip MB: per-4x4-cell MC (the
    * cell MVs differ where colZeroFlag fires) with the default
    * bipredictive average when both lists are used, then the shared
    * CBP-gated residual add (zero residual for B_Skip).
    */
  private[operators] def reconstructDirectMb(dm: DirectMotion, l0: Planes,
      l1: Planes, residual: InterMb, qp: Int, mbX: Int, mbY: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int], wMb: Int,
      hMb: Int): Unit = {
    val wPix = wMb * 16; val hPix = hMb * 16
    val wC = wMb * 8; val hC = hMb * 8
    def lumaCell(ref: Array[Int], mv: (Int, Int), px0: Int,
        py0: Int): Array[Int] = {
      val out = new Array[Int](16)
      val xF = mv._1 & 3; val yF = mv._2 & 3
      for (r <- 0 until 4; c <- 0 until 4)
        out(r * 4 + c) = lumaSample(ref, wPix, hPix,
          px0 + c + (mv._1 >> 2), py0 + r + (mv._2 >> 2), xF, yF)
      out
    }
    def chromaCell(ref: Array[Int], mv: (Int, Int), px0: Int,
        py0: Int): Array[Int] = {
      val out = new Array[Int](4)
      val xF = mv._1 & 7; val yF = mv._2 & 7
      for (r <- 0 until 2; c <- 0 until 2)
        out(r * 2 + c) = chromaSample(ref, wC, hC,
          px0 + c + (mv._1 >> 3), py0 + r + (mv._2 >> 3), xF, yF)
      out
    }
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val cell = cy * 4 + cx
      val px0 = mbX * 16 + cx * 4; val py0 = mbY * 16 + cy * 4
      val cpx0 = mbX * 8 + cx * 2; val cpy0 = mbY * 8 + cy * 2
      if (dm.use0 && dm.use1) {
        val ay = lumaCell(l0._1, dm.mv0(cell), px0, py0)
        val by = lumaCell(l1._1, dm.mv1(cell), px0, py0)
        for (r <- 0 until 4; c <- 0 until 4)
          y((py0 + r) * wPix + px0 + c) =
            (ay(r * 4 + c) + by(r * 4 + c) + 1) >> 1
        val acb = chromaCell(l0._2, dm.mv0(cell), cpx0, cpy0)
        val bcb = chromaCell(l1._2, dm.mv1(cell), cpx0, cpy0)
        val acr = chromaCell(l0._3, dm.mv0(cell), cpx0, cpy0)
        val bcr = chromaCell(l1._3, dm.mv1(cell), cpx0, cpy0)
        for (r <- 0 until 2; c <- 0 until 2) {
          cb((cpy0 + r) * wC + cpx0 + c) =
            (acb(r * 2 + c) + bcb(r * 2 + c) + 1) >> 1
          cr((cpy0 + r) * wC + cpx0 + c) =
            (acr(r * 2 + c) + bcr(r * 2 + c) + 1) >> 1
        }
      } else {
        val (ref, mv) =
          if (dm.use0) (l0, dm.mv0(cell)) else (l1, dm.mv1(cell))
        val py = lumaCell(ref._1, mv, px0, py0)
        for (r <- 0 until 4; c <- 0 until 4)
          y((py0 + r) * wPix + px0 + c) = py(r * 4 + c)
        val pcb = chromaCell(ref._2, mv, cpx0, cpy0)
        val pcr = chromaCell(ref._3, mv, cpx0, cpy0)
        for (r <- 0 until 2; c <- 0 until 2) {
          cb((cpy0 + r) * wC + cpx0 + c) = pcb(r * 2 + c)
          cr((cpy0 + r) * wC + cpx0 + c) = pcr(r * 2 + c)
        }
      }
    }
    addInterResidual(residual, qp, mbX, mbY, y, cb, cr, wMb)
  }

  /** Encode an I + P + 2-B stream in DECODE order (display order by
    * POC: I, B, B, P). Returns (bytes, frames in decode order).
    */
  def encodeBi(id: Long, wMb: Int, hMb: Int,
      qp: Int): (Array[Byte], Vector[H264Frame]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(7, spsRbsp(wMb, hMb, maxRef = 2, pocType = 0)))
    out.write(nal(8, ppsRbsp()))
    val frames = Vector.newBuilder[H264Frame]
    val (rbsp0, fr0) = encodeISlice(id, 0, wMb, hMb, qp, mixed = false,
      pocLsb = Some(ConstructB.Pocs(0)))
    out.write(nal(5, rbsp0))
    frames += fr0
    val ref0 = (fr0.y, fr0.cb, fr0.cr)
    val (rbspP, frP, gridP) = encodePSlice(id, 1, wMb, hMb, qp,
      IndexedSeq(ref0), pocLsb = Some(ConstructB.Pocs(1)))
    out.write(nal(1, rbspP))
    frames += frP
    val refP = (frP.y, frP.cb, frP.cr)
    for (f <- 2 until 4) {
      // co-located picture for spatial direct = RefPicList1[0] = the P
      val (rbspB, frB) = encodeBSlice(id, f, wMb, hMb, qp,
        l0 = ref0, l1 = refP, colGrid = Some(gridP),
        pocLsb = ConstructB.Pocs(f))
      out.write(nal(1, rbspB, refIdc = 0)) // non-reference picture
      frames += frB
    }
    (out.toByteArray, frames.result())
  }

  private def encodeBSlice(id: Long, f: Int, wMb: Int, hMb: Int, qp: Int,
      l0: Planes, l1: Planes, colGrid: Option[MotionGrid],
      pocLsb: Int): (Array[Byte], H264Frame) = {
    // spatial direct (§8.4.1.2.2)
    val w = sliceHeader(6, f, qp, Some(pocLsb), cabac = false)
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val gridL0 = new MotionGrid(wMb * 4, hMb * 4)
    val gridL1 = new MotionGrid(wMb * 4, hMb * 4)
    val vlc = new CavlcCtx(wMb, hMb)
    var mvdSum = 0L; var typeSum = 0L
    var nSkip = 0L; var nDirect = 0L
    var skipRun = 0
    // CBP + residual, shared by the direct and explicit paths
    def writeResiduals(mbIdx: Int, mbX: Int, mbY: Int): InterMb = {
      val cbpCode = ConstructB.cbpIdx(id, f, mbIdx)
      val cbp = CbpInterSubset(cbpCode)
      w.ue(cbpCode)
      val cbpL = cbp & 15; val cbpC = cbp >> 4
      if (cbp != 0) w.se(0) // mb_qp_delta
      val lv = ConstructH.mbLevels(id, f, mbIdx, cbpL, 16, cbpC)
      vlc.write(w, mbIdx, mbX, mbY, cbpL, cbpC, lv)
      residualMb(cbpL, cbpC, lv)
    }
    for (mbIdx <- 0 until wMb * hMb) {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val gx0 = mbX * 4; val gy0 = mbY * 4
      if (ConstructB.isSkipB(id, f, mbIdx)) {
        // B_Skip (§7.3.4 mb_skip_run): spatial-direct motion, no residual
        nSkip += 1
        skipRun += 1
        val dm = directMotion(gridL0, gridL1, gx0, gy0, colGrid)
        fillDirect(gridL0, gridL1, dm, gx0, gy0)
        reconstructDirectMb(dm, l0, l1, skipMb, qp, mbX, mbY,
          y, cb, cr, wMb, hMb)
      } else {
        w.ue(skipRun); skipRun = 0
        if (ConstructB.isDirectB(id, f, mbIdx)) {
          // B_Direct_16x16 (mb_type 0): no mvd/ref syntax; CBP + residual
          nDirect += 1
          w.ue(0)
          val dm = directMotion(gridL0, gridL1, gx0, gy0, colGrid)
          fillDirect(gridL0, gridL1, dm, gx0, gy0)
          reconstructDirectMb(dm, l0, l1, writeResiduals(mbIdx, mbX, mbY),
            qp, mbX, mbY, y, cb, cr, wMb, hMb)
        } else {
          val bt = ConstructB.btype(id, f, mbIdx) // 1 L0 / 2 L1 / 3 Bi
          typeSum += bt.toLong * (mbIdx + 1)
          w.ue(bt)
          val useL0 = bt == 1 || bt == 3
          val useL1 = bt == 2 || bt == 3
          // mb_pred: ref_idx absent (1 active per list); mvd l0 then l1
          var mvL0 = (0, 0); var mvL1 = (0, 0)
          if (useL0) {
            val (dx, dy) = (ConstructB.mvdX(id, f, mbIdx, 0),
              ConstructB.mvdY(id, f, mbIdx, 0))
            w.se(dx); w.se(dy)
            mvdSum += (mbIdx * 64L + 1) * dx + (mbIdx * 64L + 3) * dy
            val (px, py) = mvPred(gridL0, gx0, gy0, 4, 0, PartKind.Full)
            mvL0 = (px + dx, py + dy)
          }
          if (useL1) {
            val (dx, dy) = (ConstructB.mvdX(id, f, mbIdx, 1),
              ConstructB.mvdY(id, f, mbIdx, 1))
            w.se(dx); w.se(dy)
            mvdSum += (mbIdx * 64L + 17) * dx + (mbIdx * 64L + 19) * dy
            val (px, py) = mvPred(gridL1, gx0, gy0, 4, 0, PartKind.Full)
            mvL1 = (px + dx, py + dy)
          }
          gridL0.fill(gx0, gy0, 4, 4, mvL0._1, mvL0._2, if (useL0) 0 else -1)
          gridL1.fill(gx0, gy0, 4, 4, mvL1._1, mvL1._2, if (useL1) 0 else -1)
          reconstructBMb(useL0, useL1, mvL0, mvL1, l0, l1,
            writeResiduals(mbIdx, mbX, mbY), qp, mbX, mbY, y, cb, cr, wMb,
            hMb)
        }
      }
    }
    if (skipRun > 0) w.ue(skipRun) // trailing skips
    w.rbspTrailing()
    (w.result(), H264Frame(y, cb, cr, vlc.levels.value, 0L, 0L, 0L, 0L,
      mvdSum, 0L, nSkip, typeSum, nDirect = nDirect))
  }

  /** Decode one B slice (called from [[decode]]'s NAL-1 dispatch with
    * the reader positioned after pic_order_cnt_lsb). Errors throw —
    * decode's try/catch turns them into the None fall-through. The
    * decoded frame is appended but never enters the DPB (non-reference).
    */
  private def decodeBSlice(r: BitReader, refIdc: Int, poc: Int,
      wMb: Int, hMb: Int,
      dpb: List[(Int, Planes, Option[MotionGrid])],
      frames: scala.collection.mutable.Builder[H264Frame, Vector[H264Frame]]): Unit = {
    def bad(msg: String): Nothing = throw new IllegalStateException(msg)
    if (poc < 0) bad("B slice requires POC type 0")
    if (refIdc != 0) bad("only non-reference B pictures in scope")
    if (r.get(1) != 1) bad("temporal direct out of scope") // spatial only
    if (r.get(1) != 0) bad("num_ref_idx override out of scope") // 1 per list
    if (r.get(1) != 0 || r.get(1) != 0) bad("ref list modification")
    // non-reference: no dec_ref_pic_marking
    val qp = 26 + r.se()
    if (qp > 29) bad("qp bound")
    if (r.ue() != 1) bad("deblocking must be disabled")
    // list derivation by POC: L0 = nearest past, L1 = nearest future
    val past = dpb.filter(_._1 < poc).sortBy(-_._1)
    val future = dpb.filter(_._1 > poc).sortBy(_._1)
    if (past.isEmpty || future.isEmpty) bad("B needs refs on both sides")
    val l0 = past.head._2
    val l1 = future.head._2
    val colGrid = future.head._3 // co-located picture = RefPicList1[0]
    val (y, cb, cr) = newPlanes(wMb, hMb)
    val gridL0 = new MotionGrid(wMb * 4, hMb * 4)
    val gridL1 = new MotionGrid(wMb * 4, hMb * 4)
    val vlc = new CavlcCtx(wMb, hMb)
    var mvdSum = 0L; var typeSum = 0L
    var nSkip = 0L; var nDirect = 0L
    // CBP + residual read, shared by the direct and explicit paths
    def readResiduals(mbIdx: Int, mbX: Int, mbY: Int): InterMb = {
      val cbpCode = r.ue()
      if (cbpCode >= CbpInterSubset.length) bad("CBP outside subset")
      val cbp = CbpInterSubset(cbpCode)
      val cbpL = cbp & 15; val cbpC = cbp >> 4
      if (cbp != 0 && r.se() != 0) bad("mb_qp_delta")
      residualMb(cbpL, cbpC, vlc.read(r, mbIdx, mbX, mbY, cbpL, 16, cbpC))
    }
    def decodeSkipB(mbIdx: Int): Unit = {
      val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
      val dm = directMotion(gridL0, gridL1, mbX * 4, mbY * 4, colGrid)
      fillDirect(gridL0, gridL1, dm, mbX * 4, mbY * 4)
      nSkip += 1
      reconstructDirectMb(dm, l0, l1, skipMb, qp, mbX, mbY,
        y, cb, cr, wMb, hMb)
    }
    val total = wMb * hMb
    var mbIdx = 0
    while (mbIdx < total) {
      val skipRun = r.ue() // mb_skip_run: B_Skip = spatial direct, no residual
      if (mbIdx + skipRun > total) bad("skip run overruns picture")
      var k = 0
      while (k < skipRun) { decodeSkipB(mbIdx); mbIdx += 1; k += 1 }
      if (mbIdx < total) {
        val mbX = mbIdx % wMb; val mbY = mbIdx / wMb
        val gx0 = mbX * 4; val gy0 = mbY * 4
        val bt = r.ue()
        if (bt > 3) bad("B mb_type out of scope") // 16x16 classes + direct
        if (bt == 0) {
          // B_Direct_16x16: derived motion, then CBP-gated residual
          nDirect += 1
          val dm = directMotion(gridL0, gridL1, gx0, gy0, colGrid)
          fillDirect(gridL0, gridL1, dm, gx0, gy0)
          reconstructDirectMb(dm, l0, l1, readResiduals(mbIdx, mbX, mbY),
            qp, mbX, mbY, y, cb, cr, wMb, hMb)
        } else {
          typeSum += bt.toLong * (mbIdx + 1)
          val useL0 = bt == 1 || bt == 3
          val useL1 = bt == 2 || bt == 3
          var mvL0 = (0, 0); var mvL1 = (0, 0)
          if (useL0) {
            val dx = r.se(); val dy = r.se()
            mvdSum += (mbIdx * 64L + 1) * dx + (mbIdx * 64L + 3) * dy
            val (px, py) = mvPred(gridL0, gx0, gy0, 4, 0, PartKind.Full)
            mvL0 = (px + dx, py + dy)
          }
          if (useL1) {
            val dx = r.se(); val dy = r.se()
            mvdSum += (mbIdx * 64L + 17) * dx + (mbIdx * 64L + 19) * dy
            val (px, py) = mvPred(gridL1, gx0, gy0, 4, 0, PartKind.Full)
            mvL1 = (px + dx, py + dy)
          }
          gridL0.fill(gx0, gy0, 4, 4, mvL0._1, mvL0._2, if (useL0) 0 else -1)
          gridL1.fill(gx0, gy0, 4, 4, mvL1._1, mvL1._2, if (useL1) 0 else -1)
          reconstructBMb(useL0, useL1, mvL0, mvL1, l0, l1,
            readResiduals(mbIdx, mbX, mbY), qp, mbX, mbY, y, cb, cr, wMb,
            hMb)
        }
        mbIdx += 1
      }
    }
    frames += H264Frame(y, cb, cr, vlc.levels.value, 0L, 0L, 0L, 0L,
      mvdSum, 0L, nSkip, typeSum, poc = poc, nDirect = nDirect)
  }

  /** B-MB reconstruction: MC each used list over the whole 16x16, the
    * default bipredictive sample average when both, then the shared
    * CBP-gated residual add (§8.4.2.3 / q309's residual machinery).
    */
  private[operators] def reconstructBMb(useL0: Boolean, useL1: Boolean,
      mvL0: (Int, Int), mvL1: (Int, Int),
      l0: (Array[Int], Array[Int], Array[Int]),
      l1: (Array[Int], Array[Int], Array[Int]),
      residual: InterMb, qp: Int, mbX: Int, mbY: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int], wMb: Int,
      hMb: Int): Unit = {
    val wPix = wMb * 16; val hPix = hMb * 16
    val wC = wMb * 8; val hC = hMb * 8
    def mcInto(ref: (Array[Int], Array[Int], Array[Int]), mv: (Int, Int),
        ty: Array[Int], tcb: Array[Int], tcr: Array[Int]): Unit = {
      mcLuma(ref._1, ty, wPix, hPix, mbX * 16, mbY * 16, 16, 16, mv._1, mv._2)
      mcChroma(ref._2, tcb, wC, hC, mbX * 8, mbY * 8, 8, 8, mv._1, mv._2)
      mcChroma(ref._3, tcr, wC, hC, mbX * 8, mbY * 8, 8, 8, mv._1, mv._2)
    }
    if (useL0 && useL1) {
      val ay = new Array[Int](wPix * hPix); val acb = new Array[Int](wC * hC)
      val acr = new Array[Int](wC * hC)
      val by = new Array[Int](wPix * hPix); val bcb = new Array[Int](wC * hC)
      val bcr = new Array[Int](wC * hC)
      mcInto(l0, mvL0, ay, acb, acr)
      mcInto(l1, mvL1, by, bcb, bcr)
      for (r <- 0 until 16; c <- 0 until 16) {
        val p = (mbY * 16 + r) * wPix + mbX * 16 + c
        y(p) = (ay(p) + by(p) + 1) >> 1
      }
      for (r <- 0 until 8; c <- 0 until 8) {
        val p = (mbY * 8 + r) * wC + mbX * 8 + c
        cb(p) = (acb(p) + bcb(p) + 1) >> 1
        cr(p) = (acr(p) + bcr(p) + 1) >> 1
      }
    } else if (useL0) mcInto(l0, mvL0, y, cb, cr)
    else mcInto(l1, mvL1, y, cb, cr)
    // residual add via the shared inter machinery (prediction is already
    // in the planes; reconstructInterMb's MC step is skipped by passing
    // a zero-partition stand-in — reuse just the residual half)
    addInterResidual(residual, qp, mbX, mbY, y, cb, cr, wMb)
  }

  /** The residual half of [[reconstructInterMb]], shared with the B
    * path (which does its own bipredictive MC first).
    */
  private def addInterResidual(mb: InterMb, qp: Int, mbX: Int, mbY: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int], wMb: Int): Unit = {
    val wPix = wMb * 16
    val wC = wMb * 8
    if (mb.cbpL != 0) for (blk <- 0 until 16) {
      if ((mb.cbpL >> (blk / 4) & 1) != 0) {
        val (x4, y4) = blkPos(blk)
        val res = inverse4x4(mb.ac(blk), qp, acOnly = false, dcOverride = 0)
        for (r <- 0 until 4; c <- 0 until 4) {
          val px = mbX * 16 + x4 * 4 + c; val py = mbY * 16 + y4 * 4 + r
          y(py * wPix + px) = clip(y(py * wPix + px) + res(r * 4 + c))
        }
      }
    }
    if (mb.cbpC > 0) {
      val zero15 = new Array[Int](15)
      for (comp <- 0 until 2) {
        val plane = if (comp == 0) cb else cr
        val dcs = chromaDc(mb.cdc(comp), qp)
        for (blk <- 0 until 4) {
          val bx = blk % 2; val by = blk / 2
          val res = inverse4x4(
            if (mb.cbpC == 2) mb.cac(comp)(blk) else zero15, qp,
            acOnly = true, dcOverride = dcs(by * 2 + bx))
          for (r <- 0 until 4; c <- 0 until 4) {
            val px = mbX * 8 + bx * 4 + c; val py = mbY * 8 + by * 4 + r
            plane(py * wC + px) = clip(plane(py * wC + px) + res(r * 4 + c))
          }
        }
      }
    }
  }
}
