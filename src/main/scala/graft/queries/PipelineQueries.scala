package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Model._
import graft.llm.{LlmOperator, MockLlmClient}
import graft.operators.{H264, H264Cabac, H264CabacInter, H265, H265Inter, Mp2, Mp3, Multimodal, Sampling, StableMatcher}
import graft.ops.{Parsers, PromptRenderer}
import graft.streaming.StreamingOps

/** The schema-matching pipeline itself as driver-visible queries
  * (SURVEY §3.1/§3.2/§7.2): scan → sample → prompt → (mock) LLM → parse →
  * validate → match/score → metrics, distributed end-to-end.
  *
  * Test cases are synthesized deterministically from the benchmark tables'
  * own schemas: source = the table's columns, target = `t_`-prefixed
  * copies, gold = the identity alignment. The LLM is the deterministic
  * MockLlmClient, so every run yields identical output (rows-only check:
  * a mock LLM is not expressible in the DuckDB oracle).
  */
object PipelineQueries extends Registry {

  /** Fan the per-row encoder+decoder codec stages across every core —
    * [[graft.core.Tables.fanout]] (r16): identity when the scan is
    * already well-split; round-robins the 2-long projection when the
    * single-row-group fixture parquet under-splits it.
    *
    * r17 (VERDICT r16 item 1): fanout REMOVED from the seven LIGHT codec
    * queries — q139, q141, q156, q158, q159, q290, q299 — whose per-row
    * kernels are too small to pay for the round-robin exchange (measured
    * 1.4–2.5× warm regressions in the r16 driver bench). It stays on the
    * heavy encode+parse family (MP3/MPEG-1/H.264/H.265/MP4/AVI/TIFF/MP2),
    * where the same A/B showed 2–4× wins.
    */
  private implicit class FanoutOps[T](private val d: org.apache.spark.sql.Dataset[T]) {
    def fanout: org.apache.spark.sql.Dataset[T] = Tables.fanout(d)
  }

  /** Deterministic schema-pair cases from the benchmark star schema.
    *
    * Case-count scale knob (VERDICT r13 item 6): the reference-core
    * pipeline's natural scale axis is the NUMBER of test cases, not fact
    * rows — `ScaleUp` writes `<dir>/match_cases.json` with a replication
    * factor and the cases replicate under deterministic id strides
    * (`|rN` suffix). The driver's gate dirs carry no manifest → factor 1
    * → byte-identical behavior and untouched oracles; only the ladder's
    * scaled corpus exercises the 100× case count (q34's prompts are
    * schema-derived so replicas re-run the same render/score/parse work
    * per case; q35's prompts embed the case id, so every replica's
    * preference hashes — and matching — are genuinely distinct).
    */
  private def cases(s: SparkSession, dir: String): Seq[TestCase] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part")
    val base = tables.map { t =>
      val cols = Tables(s, dir, t).schema.fields.toSeq
        .map(f => ColumnMeta(f.name, f.dataType.simpleString))
      val tgt = cols.map(c => c.copy(name = "t_" + c.name))
      TestCase(s"src:$t|tgt:$t", cols, tgt, cols.map(c => c.name -> ("t_" + c.name)))
    }
    val factor = {
      val p = java.nio.file.Paths.get(dir, "match_cases.json")
      if (!java.nio.file.Files.exists(p)) 1
      else {
        val m = java.util.regex.Pattern.compile("\"factor\"\\s*:\\s*(\\d+)")
          .matcher(java.nio.file.Files.readString(p))
        if (m.find()) m.group(1).toInt else 1
      }
    }
    if (factor <= 1) base
    else base.flatMap(tc => tc +: (1 until factor).map(r =>
      tc.copy(id = s"${tc.id}|r$r")))
  }

  /** Per-column value samples for prompt rendering — one aggregate job per
    * (small) table, values truncated like the reference's 100-char cap.
    */
  private def samplesFor(s: SparkSession, dir: String, table: String): Map[String, Seq[String]] = {
    val df = Tables(s, dir, table)
    val aggs = df.schema.fieldNames.toSeq.map { c =>
      slice(array_sort(collect_set(Sampling.truncate(col(c).cast("string"), 20))), 1, 3).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    df.schema.fieldNames.zipWithIndex.map { case (c, i) =>
      c -> row.getSeq[String](i).toSeq
    }.toMap
  }

  // ---- shared q71/q72 scaffolding: one question per nation with a prompt
  //      simple enough for the oracle to rebuild byte-for-byte, and the
  //      mock's 48-bit hashUnit mirrored via the shared hex polynomial ----
  private val mockCands = Seq("alpha", "beta", "gamma", "delta")

  private def mockQuestions(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "nation")
      .select($"n_nationkey".cast("long"), lower($"n_name").as("nm"))
      .as[(Long, String)]
      .map { case (k, nm) =>
        Question(s"n$k", nm,
          s"Match $nm\nOptions:\n" + mockCands.map("- " + _).mkString("\n"), mockCands)
      }
  }

  /** CTEs q (prompt rebuild), c (candidate keys), h (48-bit hash). */
  private def mockHashCtes: String = {
    val candLines = mockCands.map(c => s"'- $c'").mkString(" || chr(10) || ")
    val candList = mockCands.map(c => s"'$c'").mkString(", ")
    s"""q AS (SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS case_id,
           'Match ' || lower(n_name) || chr(10) || 'Options:' || chr(10)
             || $candLines AS prompt
         FROM nation),
       c AS (SELECT case_id, cand, prompt || '|' || cand AS key
             FROM q, UNNEST([$candList]) AS u(cand)),
       h AS (SELECT case_id, cand,
               ${graft.functions.TextFunctions.hexPolySql(12, "key")} AS hv FROM c)"""
  }

  /** q35's DuckDB oracle: Gale–Shapley as batch deferred acceptance (see
    * the soundness chain at the q35 registration). One recursive block
    * per round; state rows are (iter, cid, src, p) where p = the prefix
    * of its preference list the src has offered to so far.
    */
  private def q35OracleSql: String = {
    val iterCap = 128
    // one GS round: prefix-pool deferred acceptance to a fixed point.
    // The recursive term references the state table exactly ONCE (props);
    // everything else derives from props, so the recursion stays linear.
    def gsRound(p: String, b: String, gs: String): String = s"""
      $gs AS (
        SELECT 0 AS iter, cid, src, 1 AS p FROM (SELECT DISTINCT cid, src FROM $p)
        UNION ALL
        (WITH props AS (
            SELECT g.iter, g.cid, g.src, g.p, f.tgt, f.len, bb.hv AS bscore
            FROM $gs g JOIN $p f ON f.cid=g.cid AND f.src=g.src AND f.rnk <= g.p
            LEFT JOIN $b bb ON bb.cid=g.cid AND bb.tgt=f.tgt AND bb.src=g.src),
          best AS (SELECT cid, tgt, arg_max(src, bscore) AS msrc
                   FROM props WHERE bscore IS NOT NULL GROUP BY cid, tgt),
          st AS (SELECT iter, cid, src, any_value(p) AS p, any_value(len) AS len
                 FROM props GROUP BY iter, cid, src)
         SELECT st.iter+1, st.cid, st.src,
           CASE WHEN m.msrc IS NOT NULL THEN st.p
                WHEN st.p < st.len THEN st.p+1 ELSE st.p END AS p
         FROM st LEFT JOIN (SELECT DISTINCT cid, msrc FROM best) m
           ON m.cid=st.cid AND m.msrc=st.src
         WHERE st.iter < $iterCap)
      )"""
    // the matching at the fixed point: each target takes its best-hash
    // offer among every src whose prefix covers it
    def matchOf(p: String, b: String, gs: String, m: String): String = s"""
      $m AS MATERIALIZED (
        WITH fs AS (SELECT cid, src, p FROM $gs WHERE iter = $iterCap),
        props AS (
          SELECT g.cid, g.src, f.tgt, bb.hv AS bscore
          FROM fs g JOIN $p f ON f.cid=g.cid AND f.src=g.src AND f.rnk <= g.p
          LEFT JOIN $b bb ON bb.cid=g.cid AND bb.tgt=f.tgt AND bb.src=g.src)
        SELECT cid, arg_max(src, bscore) AS src, tgt
        FROM props WHERE bscore IS NOT NULL GROUP BY cid, tgt
      )"""
    def rankOf(src: String, p: String): String = s"""
      $p AS MATERIALIZED (
        SELECT cid, src, tgt,
          row_number() OVER (PARTITION BY cid, src ORDER BY hv DESC, tgt) AS rnk,
          count(*) OVER (PARTITION BY cid, src) AS len
        FROM $src)"""
    val fwdHash = graft.functions.TextFunctions.hexPolySql(12,
      "'bwd|src:'||a.t||'|tgt:'||a.t||'|'||a.name||'|t_'||b.name")
    val bwdHash = graft.functions.TextFunctions.hexPolySql(12,
      "'fwd|src:'||a.t||'|tgt:'||a.t||'|t_'||b.name||'|'||a.name")
    s"""WITH RECURSIVE
      cols AS MATERIALIZED (
        SELECT table_name AS t, column_name AS name FROM information_schema.columns
        WHERE table_name IN ('region','nation','customer','supplier','part')),
      fh AS MATERIALIZED (
        SELECT 'src:'||a.t||'|tgt:'||a.t AS cid, a.name AS src, 't_'||b.name AS tgt,
               $fwdHash AS hv
        FROM cols a JOIN cols b ON a.t=b.t),
      bh AS MATERIALIZED (
        SELECT 'src:'||a.t||'|tgt:'||a.t AS cid, 't_'||b.name AS tgt, a.name AS src,
               $bwdHash AS hv
        FROM cols a JOIN cols b ON a.t=b.t),
      ${rankOf("fh", "p1")},
      ${gsRound("p1", "bh", "gs1")},
      ${matchOf("p1", "bh", "gs1", "m1")},
      fh2 AS MATERIALIZED (
        SELECT f.* FROM fh f ANTI JOIN m1 ON m1.cid=f.cid AND m1.src=f.src AND m1.tgt=f.tgt),
      bh2 AS MATERIALIZED (
        SELECT b.* FROM bh b ANTI JOIN m1 ON m1.cid=b.cid AND m1.src=b.src AND m1.tgt=b.tgt),
      ${rankOf("fh2", "p2")},
      ${gsRound("p2", "bh2", "gs2")},
      ${matchOf("p2", "bh2", "gs2", "m2")}
      SELECT cid AS case_id, src AS src_attr, tgt AS tgt_attr, CAST(1 AS INT) AS round FROM m1
      UNION ALL
      SELECT cid, src, tgt, CAST(2 AS INT) FROM m2
      ORDER BY case_id, round, src_attr, tgt_attr"""
  }

  /** Entries that drive an actual StreamingQuery (MemoryStream feed +
    * processAllAvailable): their wall-clock is micro-batch harness setup,
    * not plan cost, so Bench reports them under a separate streaming
    * total. Kept as a name set (validated against the registry below)
    * rather than per-site flags so the list is auditable in one place.
    */
  val streamingNames: Set[String] = Set(
    "q39_streaming_sessions", "q41_streaming_tumbling",
    "q77_streaming_dedup", "q108_streaming_decontaminate",
    "q119_streaming_interval_join", "q128_streaming_update_counts",
    "q132_streaming_outer_nulls", "q171_streaming_drift",
    "q184_tws_running_totals", "q188_tws_sessions",
    "q189_tws_type_counts", "q196_streaming_chained_aggs",
    "q206_streaming_heavy_hitters", "q220_tws_replay_buffer",
    "q244_streaming_dead_letter", "q255_streaming_hll",
    "q274_streaming_cms", "q297_streaming_kmv")

  override def entries: Seq[Q] = {
    val es = rawEntries
    val missing = streamingNames -- es.map(_.name).toSet
    require(missing.isEmpty, s"streamingNames not in registry: $missing")
    es.map(q => if (streamingNames(q.name)) q.copy(streaming = true) else q)
  }

  // ---- shared oracle fragments: each CTE that several DuckDB oracles
  //      below repeat is written once here and interpolated at each use,
  //      so a fix to it is made in one place (OracleSqlDigestSpec pins the
  //      rendered texts). Oracle-only: no Spark-side code uses them. -----

  /** The H.264 oracles' sampled documents: frame size in macroblocks
    * (`wmb` x `hmb`) and QP, as `H264.ConstructH` derives them. */
  private def h264Docs(mod: Int, rem: Int,
      wmb: String = "1 + doc_id % 3"): String = s"""WITH d AS (
            SELECT doc_id AS id, n_chars,
              CAST($wmb AS BIGINT) AS wmb,
              CAST(1 + n_chars % 2 AS BIGINT) AS hmb,
              CAST(20 + doc_id % 8 AS BIGINT) AS qp
            FROM documents WHERE doc_id % $mod = $rem),"""

  /** H.264: one or two frames per sampled document. */
  private val h264Frames = """fr AS (
            SELECT id, wmb, hmb, qp, CAST(t.f AS BIGINT) AS frame_idx
            FROM d, UNNEST(range(0, 1 + id % 2)) AS t(f)),"""

  /** H.264 B-frame GOP: four frames in decode order with their POC. */
  private val h264PocFrames = """fr AS (
            SELECT id, wmb, hmb, qp, CAST(t.f AS BIGINT) AS frame_idx,
              list_extract([0, 6, 2, 4], CAST(t.f AS INT) + 1) AS poc
            FROM d, UNNEST(range(0, 4)) AS t(f)),"""

  /** H.264 macroblock grid of every frame with its (mbx, mby) position
    * (q312, q314). */
  private val h264MbGrid = """mb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              CAST(m.m % wmb AS BIGINT) AS mbx,
              CAST(m.m // wmb AS BIGINT) AS mby
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)),"""

  /** H.264 Intra_16x16 luma prediction mode of a macroblock by which
    * neighbours exist (the arms of a CASE; the caller adds the ELSE). */
  private val h264LumaModeArms = """WHEN mbx > 0 AND mby > 0 THEN
                  list_extract([0, 1, 2, 3], CAST((id + mb) % 4 AS INT) + 1)
                WHEN mby > 0 THEN
                  list_extract([0, 2], CAST((id + mb) % 2 AS INT) + 1)
                WHEN mbx > 0 THEN
                  list_extract([1, 2], CAST((id + mb) % 2 AS INT) + 1)"""

  /** H.264 intra chroma prediction mode of a macroblock by which
    * neighbours exist (the arms of a CASE; the caller adds the ELSE). */
  private val h264ChromaModeArms = """WHEN mbx > 0 AND mby > 0 THEN
                  list_extract([0, 1, 2, 3], CAST((id + 2 * mb) % 4 AS INT) + 1)
                WHEN mby > 0 THEN
                  list_extract([0, 2], CAST((id + 2 * mb) % 2 AS INT) + 1)
                WHEN mbx > 0 THEN
                  list_extract([0, 1], CAST((id + 2 * mb) % 2 AS INT) + 1)"""

  /** H.264 I_4x4 prediction-mode sum per frame over the 16 blocks of
    * every I_4x4 macroblock (q312, q314; q316 frame 0 with p = "i"). */
  private def h264I4Modes(p: String = ""): String = s"""${p}i4m AS (
            SELECT id, frame_idx, CAST(sum(CASE
                WHEN gx > 0 AND gy > 0 THEN (id + mb + blk) % 9
                WHEN gy > 0 THEN
                  list_extract([0, 2, 3, 7], CAST((id + mb + blk) % 4 AS INT) + 1)
                WHEN gx > 0 THEN
                  list_extract([1, 2, 8], CAST((id + mb + blk) % 3 AS INT) + 1)
                ELSE 2 END) AS BIGINT) AS i4_mode_sum
            FROM (
              SELECT ${p}cls.*, CAST(bk.blk AS BIGINT) AS blk,
                mbx * 4 + 2 * ((bk.blk // 4) % 2) + bk.blk % 2 AS gx,
                mby * 4 + 2 * (bk.blk // 8) + (bk.blk // 2) % 2 AS gy
              FROM ${p}cls, UNNEST(range(0, 16)) AS bk(blk)
              WHERE isi4)
            GROUP BY id, frame_idx),"""

  /** H.264 CABAC intra MB classes (q314; q316 frame 0 with p = "i"):
    * I_4x4 on even (id + mb), with its bin-coded CBP. */
  private def h264CabacCls(p: String = ""): String = s"""${p}cls AS (
            SELECT ${p}mb.*, (id + mb) % 2 = 0 AS isi4,
              CASE WHEN (id + mb) % 2 = 0
                THEN (id + 29 * mb) // 2 % 48 ELSE 0 END AS cbp4
            FROM ${p}mb),"""

  /** H.264 Intra_16x16 luma mode and CBP of the non-I_4x4 MBs (q314;
    * q316 frame 0 with p = "i"). */
  private def h264CabacPm16(p: String = ""): String = s"""${p}pm16 AS (
            SELECT ${p}cls.*, CASE
                $h264LumaModeArms
                ELSE 2 END AS pm,
              (id + mb) % 3 != 2 AS cbpl15,
              (id + 2 + mb) % 3 AS cbpc16
            FROM ${p}cls WHERE NOT isi4),"""

  /** H.264 CABAC intra per-frame CBP and chroma-mode sums (q314; q316
    * frame 0 with p = "i"). */
  private def h264CabacCbpChroma(p: String = ""): String = s"""${p}cbps AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN isi4 THEN cbp4 * (mb + 1) ELSE 0 END)
                AS BIGINT) AS cbp_sum,
              CAST(sum(CASE WHEN isi4 THEN 1 ELSE 0 END) AS BIGINT) AS n_i4
            FROM ${p}cls GROUP BY id, frame_idx),
          ${p}cmode AS (
            SELECT id, frame_idx, CAST(sum(CASE
                $h264ChromaModeArms
                ELSE 0 END) AS BIGINT) AS chroma_mode_sum
            FROM ${p}cls GROUP BY id, frame_idx),"""

  /** H.264 CABAC intra residual blocks: I_16x16 AC + chroma tags, I_NxN
    * luma gated per 8x8 CBP bit (q314; q316 frame 0 with p = "i"). */
  private def h264CabacTags(p: String = ""): String = s"""${p}tags AS (
            SELECT c.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag BETWEEN 1 AND 16 THEN
                     CASE WHEN c.isi4 THEN 16 ELSE 15 END
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM (SELECT ${p}cls.*,
                    CASE WHEN isi4 THEN cbp4 % 16
                      WHEN (id + mb) % 3 != 2 THEN 15 ELSE 0 END AS cbpl,
                    CASE WHEN isi4 THEN cbp4 // 16
                      ELSE (id + 2 + mb) % 3 END AS cbpc
                  FROM ${p}cls) c,
              UNNEST(range(1, 27)) AS tg(tag)
            WHERE (tg.tag BETWEEN 1 AND 16 AND
                     (c.cbpl >> CAST((tg.tag - 1) // 4 AS INT)) & 1 = 1)
               OR (tg.tag BETWEEN 17 AND 18 AND c.cbpc > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND c.cbpc = 2)),"""

  /** H.264 P-slice residual blocks: luma tags gated per 8x8 CBP bit, then
    * chroma DC and AC (q309; q316 P frames with p = "p"). */
  private def h264InterTags(p: String = ""): String = s"""${p}tags AS (
            SELECT ${p}coded.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag BETWEEN 1 AND 16 THEN 16
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM ${p}coded, UNNEST(range(1, 27)) AS tg(tag)
            WHERE (tg.tag BETWEEN 1 AND 16 AND
                   ((cbp % 16) >> CAST((tg.tag - 1) // 4 AS INT)) & 1 = 1)
               OR (tg.tag BETWEEN 17 AND 18 AND cbp // 16 > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND cbp // 16 = 2)),"""

  /** H.264 residual levels: `lev` walks each coded level k of every
    * residual block (tag) with its run step and coefficient count n, and
    * `contrib` turns each level into its checksum term. `p` prefixes the
    * CTE names for oracles that walk several slice types. */
  private def h264Levels(p: String = ""): String = s"""${p}lev AS (
            SELECT t.*, CAST(kk.k AS BIGINT) AS k,
              CASE WHEN ncoeffs = 4 THEN 1
                   ELSE 1 + CAST((id + tag) % 4 AS BIGINT) END AS step,
              CAST((id + frame_idx + mb + tag) %
                (CASE WHEN tag >= 19 THEN 3 ELSE 4 END) AS BIGINT) AS n
            FROM ${p}tags t, UNNEST(range(0, 3)) AS kk(k)
            WHERE kk.k < (id + frame_idx + mb + tag) %
              (CASE WHEN tag >= 19 THEN 3 ELSE 4 END)),
          ${p}contrib AS (
            SELECT id, frame_idx,
              (1 + (id + mb + tag * 2 + k + frame_idx) % 3) *
              (CASE WHEN (id + mb + tag + k) % 2 = 0 THEN 1 ELSE -1 END) *
              (mb * 131 + tag * 17 +
                (CASE WHEN ncoeffs = 4 THEN (id + tag + mb) % 2
                 ELSE (id + mb + tag) % (ncoeffs - (n - 1) * step) END)
                + k * step + 1) AS c
            FROM ${p}lev),"""

  /** H.264 wide Intra_16x16 DC levels (tag 0, magnitudes 1..25) and
    * their checksum terms (q314; q316 frame 0 with p = "i"). */
  private def h264WideDc(p: String = ""): String = s"""${p}widedc AS (
            SELECT p.id, p.frame_idx, p.mb, CAST(kk.k AS BIGINT) AS k,
              1 + CAST(p.id % 4 AS BIGINT) AS step,
              CAST((p.id + p.frame_idx + p.mb) % 4 AS BIGINT) AS n
            FROM ${p}pm16 p, UNNEST(range(0, 3)) AS kk(k)
            WHERE kk.k < (p.id + p.frame_idx + p.mb) % 4),
          ${p}widec AS (
            SELECT id, frame_idx,
              (1 + (id + mb + 3 * k + frame_idx) % 25) *
              (CASE WHEN (id + mb + k) % 2 = 0 THEN 1 ELSE -1 END) *
              (mb * 131 +
                ((id + mb) % (16 - (n - 1) * step)) + k * step + 1) AS c
            FROM ${p}widedc),"""

  /** The oracle of q317 and q318, which differ only in the documents
    * they sample: the CABAC B-frame construction (q313's MB classes with
    * the bin-coded CBP), its level walk and the per-frame sums. */
  private def h264CabacBOracle(mod: Int, rem: Int): String = s"""${h264Docs(mod, rem)}
          $h264PocFrames
          bmb AS (
            -- q313's MB classes; the CBP is the bin-coded 48 sweep
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              (id + frame_idx + m.m) % 7 AS cls,
              1 + (id + frame_idx + m.m) % 3 AS bt,
              CAST((id + 5 * frame_idx + 29 * m.m) % 48 AS BIGINT) AS cbp
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)
            WHERE frame_idx >= 2),
          bsums AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN cls IN (2, 4) THEN 0
                ELSE bt * (mb + 1) END) AS BIGINT) AS b_type_sum,
              CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b_skip,
              CAST(sum(CASE WHEN cls = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_direct,
              CAST(sum(CASE WHEN cls = 2 THEN 0
                ELSE cbp * (mb + 1) END) AS BIGINT) AS b_cbp_sum,
              CAST(sum(CASE WHEN cls IN (2, 4) THEN 0 ELSE
                (CASE WHEN bt IN (1, 3) THEN
                  (mb * 64 + 1) * (((id + 3 * frame_idx + 5 * mb) % 17) - 8) +
                  (mb * 64 + 3) * (((3 * id + frame_idx + 2 * mb) % 17) - 8)
                 ELSE 0 END) +
                (CASE WHEN bt IN (2, 3) THEN
                  (mb * 64 + 17) * (((id + 3 * frame_idx + 5 * mb + 11) % 17) - 8) +
                  (mb * 64 + 19) * (((3 * id + frame_idx + 2 * mb + 7) % 17) - 8)
                 ELSE 0 END) END) AS BIGINT) AS b_mvd_checksum
            FROM bmb GROUP BY id, frame_idx),
          tags AS (
            SELECT bmb.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag BETWEEN 1 AND 16 THEN 16
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM bmb, UNNEST(range(1, 27)) AS tg(tag)
            WHERE bmb.cls != 2 -- B_Skip MBs carry no residual
              AND ((tg.tag BETWEEN 1 AND 16 AND
                   ((cbp % 16) >> CAST((tg.tag - 1) // 4 AS INT)) & 1 = 1)
               OR (tg.tag BETWEEN 17 AND 18 AND cbp // 16 > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND cbp // 16 = 2))),
          ${h264Levels()}
          lsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS b_level_checksum
            FROM contrib GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.poc AS BIGINT) AS poc,
            CAST(fr.poc // 2 AS BIGINT) AS display_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            fr.qp AS qp,
            coalesce(b.b_type_sum, 0) AS b_type_sum,
            coalesce(b.b_mvd_checksum, 0) AS b_mvd_checksum,
            coalesce(b.b_cbp_sum, 0) AS b_cbp_sum,
            coalesce(l.b_level_checksum, 0) AS b_level_checksum,
            coalesce(b.n_b_skip, 0) AS n_b_skip,
            coalesce(b.n_direct, 0) AS n_direct,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          LEFT JOIN bsums b ON b.id = fr.id AND b.frame_idx = fr.frame_idx
          LEFT JOIN lsums l ON l.id = fr.id AND l.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx"""

  /** The H.265 oracles' sampled documents: frame size in CTUs and QP. */
  private def h265Docs(mod: Int, rem: Int): String = s"""WITH d AS (
            SELECT doc_id AS id, n_chars,
              CAST(2 + doc_id % 2 AS BIGINT) AS wctb,
              CAST(1 + n_chars % 2 AS BIGINT) AS hctb,
              CAST(20 + doc_id % 8 AS BIGINT) AS qp
            FROM documents WHERE doc_id % $mod = $rem),"""

  /** H.265 CTUs: each 32x32 CTU of a frame and whether it splits. */
  private val h265Ctu = """ctu AS (
            SELECT fr.*, CAST(t.c AS BIGINT) AS c,
              CAST(t.c % wctb AS BIGINT) * 32 AS x32,
              CAST(t.c // wctb AS BIGINT) * 32 AS y32,
              (id + f + t.c) % 3 = 0 AS split32
            FROM fr, UNNEST(range(0, wctb * hctb)) AS t(c)),"""

  /** H.265: the four 16x16 quadrants of every split CTU. */
  private val h265Quads = """q16 AS (
            SELECT ctu.*, CAST(t.q AS BIGINT) AS q,
              x32 + (t.q % 2) * 16 AS qx, y32 + (t.q // 2) * 16 AS qy,
              (id + f + c + t.q) % 2 = 0 AS split16
            FROM ctu, UNNEST(range(0, 4)) AS t(q)
            WHERE split32),"""

  /** H.265 coding-quadtree leaves: CUs of 32, 16 and 8 pixels. */
  private val h265Cus = """cus AS (
            SELECT id, f, qp, x32 AS cux, y32 AS cuy,
              CAST(5 AS BIGINT) AS log2s FROM ctu WHERE NOT split32
            UNION ALL
            SELECT id, f, qp, qx, qy, CAST(4 AS BIGINT) FROM q16
            WHERE NOT split16
            UNION ALL
            SELECT q16.id, q16.f, q16.qp,
              qx + (t.s % 2) * 8, qy + (t.s // 2) * 8, CAST(3 AS BIGINT)
            FROM q16, UNNEST(range(0, 4)) AS t(s)
            WHERE split16),"""

  /** H.265 oracles (q315, q319, q320): split-flag checksums per frame. */
  private val h265Splits = """splits AS (
            SELECT id, f, CAST(sum(CASE WHEN split32 THEN c + 1 ELSE 0
              END) AS BIGINT) AS s32
            FROM ctu GROUP BY id, f),
          splits16 AS (
            SELECT id, f, CAST(sum(CASE WHEN split16 THEN c * 4 + q + 1
              ELSE 0 END) AS BIGINT) AS s16
            FROM q16 GROUP BY id, f),"""

  /** H.265 inter oracles: intra PU modes, merge/AMVP sums, chroma
    * modes and the transform units of every coded CU. */
  private val h265InterModes = """-- intra PU modes (frame 0 + cls-2 CUs in P frames)
          pus AS (
            SELECT cuki.*, CAST(t.s2 AS BIGINT) AS s2,
              (id + f + (cux // 8) + 2 * (cuy // 8) + log2s + 2 * t.s2)
                % 35 AS pmode
            FROM cuki, UNNEST(range(0, 4)) AS t(s2)
            WHERE isintra AND t.s2 < CASE WHEN nxn THEN 4 ELSE 1 END),
          msums AS (
            SELECT id, f,
              CAST(sum(pmode * (cukey * 8 + s2 + 1)) AS BIGINT)
                AS mode_sum
            FROM pus GROUP BY id, f),
          cmodes AS (
            SELECT cuki.*, icpm,
              CASE WHEN icpm = 4 THEN pm0
                   WHEN cand = pm0 THEN 34 ELSE cand END AS cmode
            FROM (
              SELECT cuki.*,
                (id + f + (cux // 8) + (cuy // 8)) % 5 AS icpm,
                (id + f + (cux // 8) + 2 * (cuy // 8) + log2s) % 35
                  AS pm0,
                list_extract([0, 26, 10, 1],
                  CAST((id + f + (cux // 8) + (cuy // 8)) % 5 AS INT)
                    % 4 + 1) AS cand
              FROM cuki WHERE isintra) cuki),
          csums AS (
            SELECT id, f,
              CAST(sum(cmode * (cukey + 1)) AS BIGINT)
                AS chroma_mode_sum
            FROM cmodes GROUP BY id, f),
          -- unified TU table: intra CUs carry the q315 layout; inter
          -- CUs with rqt_root_cbf carry TU 0/4/5 with the cbf_luma
          -- inference (both chroma zero -> luma forced on)
          tus AS (
            SELECT cuki.*, CAST(t.s2 AS BIGINT) AS s2,
              cukey * 8 + t.s2 AS tag,
              CASE WHEN t.s2 >= 4 THEN (1 << (log2s - 1))
                   WHEN isintra AND nxn THEN 4 ELSE (1 << log2s)
                   END AS ntbs
            FROM cuki, UNNEST(range(0, 6)) AS t(s2)
            WHERE CASE
              WHEN isintra THEN
                (t.s2 >= 4 OR t.s2 < CASE WHEN nxn THEN 4 ELSE 1 END)
                AND (id + cukey + t.s2) % 4 != 3
              WHEN rootcbf THEN
                (t.s2 = 4 AND (id + cukey) % 3 != 2) OR
                (t.s2 = 5 AND (id + 2 * cukey + 1) % 3 != 2) OR
                (t.s2 = 0 AND (
                  ((id + cukey) % 3 = 2 AND (id + 2 * cukey + 1) % 3 = 2)
                  OR (id + cukey) % 4 != 3))
              ELSE FALSE END),"""

  /** H.265 residuals over `tus`: coded-block flags, last-position
    * and level checksums per frame. */
  private val h265Levels = """tuk AS (
            SELECT tus.*, 1 + (id + tag) % 3 AS step,
              least(1 + (id + tag) % 8,
                (ntbs * ntbs - 1) // (1 + (id + tag) % 3) + 1) AS nsig
            FROM tus),
          cbfsums AS (
            SELECT id, f,
              CAST(sum(tag + 1) AS BIGINT) AS cbf_sum,
              CAST(sum((step * (nsig - 1)) * (tag + 1)) AS BIGINT)
                AS last_checksum
            FROM tuk GROUP BY id, f),
          lev AS (
            SELECT tuk.id, tuk.f, tuk.tag, CAST(t.k AS BIGINT) AS k
            FROM tuk, UNNEST(range(0, 8)) AS t(k)
            WHERE t.k < nsig),
          lsums AS (
            SELECT id, f, CAST(sum(
              (1 + (id + tag + k) % 5 +
                CASE WHEN k = 0 AND (id + tag) % 7 = 0 THEN 40 ELSE 0
                END) *
              (CASE WHEN (id + tag + k) % 2 = 0 THEN 1 ELSE -1 END) *
              (tag * 31 + k + 1)) AS BIGINT) AS level_checksum
            FROM lev GROUP BY id, f)"""

  /** MPEG-1 Layer II quantization of the scaled sample `u` to code `c`
    * with `nlev` levels of `nb` bits (q302, q310). */
  private val mp2QuantizeSql = """LEAST(CAST(nlev - 1 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
                CAST(round((u / (pow(2, nb) / nlev)
                  - (CASE WHEN nlev IN (3, 5, 9) THEN 0.5
                     ELSE pow(2.0, 1 - nb) END) + 1) * pow(2, nb - 1))
                  AS BIGINT))) AS c"""

  /** Precision, recall and F1 from tp/fp/fn columns, as
    * `Metrics.withPrfAccuracyEffort` computes them (all-zero counts
    * score 1.0), in its float operation order (q34, q37). */
  private val prfColumns = """CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
               WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
          CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
               WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall,
          CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
               WHEN (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                  + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END) = 0 THEN 0.0
               ELSE 2 * (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                      * (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)
                    / ((CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                     + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)) END AS f1,"""

  /** The n-to-one matching prompt `PromptRenderer.n2oneQuestion` renders,
    * rebuilt from a `srcjson s` (schema JSON `sj`, option lines) joined to
    * the target column `g` (q34, q47, q48). */
  private def n2onePrompt(alias: String): String =
    s"""'Source schema: ' || s.sj || chr(10) ||
            'Target attribute: "t_' || g.name || '"' || chr(10) ||
            'Which source column matches the target attribute? Answer as {"matches": [...]}.' || chr(10) ||
            'Options:' || chr(10) || s.optlines || chr(10) || '- there is no match.' AS $alias"""

  /** q39 and q188's oracle: gaps-and-islands sessions over the first
    * 2000 events, keeping the sessions their streams have closed. */
  private val closedSessionsOracle = """WITH e AS (SELECT user_id, ts FROM events
          ORDER BY ts, event_id LIMIT 2000),
        wm AS (SELECT max(epoch_ms(ts)) - 600000 AS w FROM e),
        g AS (SELECT user_id, ts,
            CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM e),
        sess AS (SELECT user_id, ts,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess_idx
          FROM g),
        agg AS (SELECT user_id, sess_idx,
            min(ts) AS session_start, max(ts) AS session_end,
            count(*) AS n_events
          FROM sess GROUP BY user_id, sess_idx),
        lst AS (SELECT *, max(sess_idx) OVER (PARTITION BY user_id) AS max_idx FROM agg)
        SELECT user_id, session_start, session_end, n_events
        FROM lst, wm
        WHERE sess_idx < max_idx OR epoch_ms(session_end) + 1800000 < w
        ORDER BY user_id, session_start"""

  /** q119 and q132's purchases `p` and clicks `c` among the first 2000
    * purchase/click events. */
  private val purchaseClickCtes = """WITH e AS (SELECT ts, event_id, user_id, event_type FROM events
            WHERE event_type IN ('purchase', 'click')
            ORDER BY ts, event_id LIMIT 2000),
          p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
                FROM e WHERE event_type = 'purchase'),
          c AS (SELECT user_id, ts AS c_ts FROM e WHERE event_type = 'click')"""

  private def rawEntries: Seq[Q] = Seq(

    // ---- §7.2 flagship slice: full matching pipeline with mock LLM -------
    Q("q34_matching_pipeline",
      (s, dir) => {
        import s.implicits._
        val tcs = cases(s, dir)
        val sampleMaps = Seq("region", "nation").map(t => t -> samplesFor(s, dir, t)).toMap
        val questions = s.createDataset(for {
          tc <- tcs
          samples = sampleMaps.getOrElse(tc.id.stripPrefix("src:").takeWhile(_ != '|'), Map.empty[String, Seq[String]])
          tgtAttr <- tc.targetSchema.map(_.name)
        } yield PromptRenderer.n2oneQuestion(tc, tgtAttr, samples))
        val generations = LlmOperator.generate(questions, MockLlmClient.Factory())
        // parse + validate predictions against the source schema (B4/C3)
        val schemaCols = s.createDataset(tcs.flatMap(tc =>
          tc.sourceSchema.map(c => (tc.id, c.name)))).toDF("sc_case_id", "sc_col")
        val predictions = generations.flatMap(g =>
          Parsers.parseMatches(g.response).map(m => (g.caseId, m, g.queryAttr)))
          .toDF("case_id", "src_attr", "tgt_attr")
          .join(schemaCols,
            col("case_id") === col("sc_case_id") && lower(col("src_attr")) === lower(col("sc_col")),
            "left_semi")
        val gold = s.createDataset(tcs.flatMap(tc =>
          tc.goldMapping.map(gm => (tc.id, gm._1, gm._2)))).toDF("case_id", "src_attr", "tgt_attr")
        // tp/fp/fn in one aggregation (OverlapEvaluator.tableOverlap's
        // form): prediction rows tag 1, gold rows 2, OR-ed per distinct
        // match, so 3 = in both; cases without gold are dropped
        val tag = col("tag")
        val counts = predictions.withColumn("tag", lit(1))
          .union(gold.withColumn("tag", lit(2)))
          .groupBy($"case_id", $"src_attr", $"tgt_attr").agg(bit_or(tag).as("tag"))
          .groupBy($"case_id")
          .agg(count(when(tag === 3, 1)).as("tp"), count(when(tag === 1, 1)).as("fp"),
            count(when(tag === 2, 1)).as("fn"))
          .filter($"tp" + $"fn" > 0)
          .select($"case_id", $"tp".cast("double").as("tp"),
            $"fp".cast("double").as("fp"), $"fn".cast("double").as("fn"),
            lit(0.0).as("tn"))
        graft.eval.Metrics.withPrfAccuracyEffort(counts)
          .drop("tn", "accuracy2")
          .orderBy($"case_id")
      },
      // End-to-end oracle (VERDICT r9/r10 item 2): the full
      // scan→sample→prompt→mock-LLM→parse→validate→join→metrics pipeline
      // replayed in DuckDB. Per-column value samples (region/nation only,
      // mirroring samplesFor's collect_set→truncate(20)→sort→take(3)) are
      // rebuilt via UNPIVOT(COLUMNS(*)::VARCHAR); the prompt is the same
      // byte-exact render as q47's but in declared column order (no
      // shuffle) and with the samples array populated; the mock argmax,
      // schema validation (the sentinel never joins a schema column),
      // TP/FP/FN set algebra and the P/R/F1/effort formulas (all-zero⇒1.0)
      // follow Metrics' float operation structure so doubles match
      // bit-for-bit.
      Some(s"""WITH cols AS (
          SELECT table_name AS t, column_name AS name,
                 CASE data_type WHEN 'INTEGER' THEN 'int' WHEN 'BIGINT' THEN 'bigint'
                      WHEN 'VARCHAR' THEN 'string' WHEN 'DOUBLE' THEN 'double'
                      ELSE 'UNMAPPED:' || data_type END AS typ,
                 ordinal_position AS pos
          FROM information_schema.columns
          WHERE table_name IN ('region','nation','customer','supplier','part')),
        rv AS (
          SELECT 'region' AS t, name AS col, value AS v FROM (
            UNPIVOT (SELECT COLUMNS(*)::VARCHAR FROM region) ON COLUMNS(*) INTO NAME name VALUE value)
          UNION ALL
          SELECT 'nation', name, value FROM (
            UNPIVOT (SELECT COLUMNS(*)::VARCHAR FROM nation) ON COLUMNS(*) INTO NAME name VALUE value)),
        sampvals AS (
          SELECT t, col, v, row_number() OVER (PARTITION BY t, col ORDER BY v) AS rn
          FROM (SELECT DISTINCT t, col,
                  CASE WHEN length(v) > 20 THEN substr(v, 1, 20) || '...' ELSE v END AS v
                FROM rv) u),
        samp AS (
          SELECT t, col, string_agg('"' || v || '"', ', ' ORDER BY v) AS sjson
          FROM sampvals WHERE rn <= 3 GROUP BY t, col),
        srcjson AS (
          SELECT c.t,
            '[' || string_agg(
              '{"name": "' || c.name || '", "type": "' || c.typ || '", "samples": ['
                || COALESCE(s.sjson, '') || ']}', ', ' ORDER BY c.pos) || ']' AS sj,
            string_agg('- ' || c.name, chr(10) ORDER BY c.pos) AS optlines
          FROM cols c LEFT JOIN samp s ON s.t = c.t AND s.col = c.name
          GROUP BY c.t),
        q AS (
          SELECT s.t, 'src:' || s.t || '|tgt:' || s.t AS case_id, 't_' || g.name AS tgt,
            ${n2onePrompt("prompt")}
          FROM srcjson s JOIN cols g ON s.t = g.t),
        cands AS (
          SELECT q.t, q.case_id, q.tgt, c.name AS cand, q.prompt FROM q JOIN cols c ON c.t = q.t
          UNION ALL
          SELECT t, case_id, tgt, 'there is no match.', prompt FROM q),
        h AS (SELECT t, case_id, tgt, cand,
                ${graft.functions.TextFunctions.hexPolySql(12, "prompt || '|' || cand")} AS hv
              FROM cands),
        best AS (
          SELECT t, case_id, tgt, cand,
            ROW_NUMBER() OVER (PARTITION BY case_id, tgt ORDER BY hv DESC, cand) AS rn
          FROM h),
        preds AS (
          SELECT b.case_id, b.cand AS src_attr, b.tgt AS tgt_attr
          FROM best b JOIN cols c ON c.t = b.t AND lower(c.name) = lower(b.cand)
          WHERE b.rn = 1),
        gold AS (SELECT 'src:' || t || '|tgt:' || t AS case_id, name AS src_attr, 't_' || name AS tgt_attr FROM cols),
        counts AS (
          SELECT g.case_id,
            CAST(COALESCE(tp.n, 0) AS DOUBLE) AS tp,
            CAST(COALESCE(fp.n, 0) AS DOUBLE) AS fp,
            CAST(COALESCE(fn.n, 0) AS DOUBLE) AS fn
          FROM (SELECT DISTINCT case_id FROM gold) g
          LEFT JOIN (SELECT case_id, count(*) AS n FROM (SELECT * FROM preds INTERSECT SELECT * FROM gold) GROUP BY case_id) tp USING (case_id)
          LEFT JOIN (SELECT case_id, count(*) AS n FROM (SELECT * FROM preds EXCEPT SELECT * FROM gold) GROUP BY case_id) fp USING (case_id)
          LEFT JOIN (SELECT case_id, count(*) AS n FROM (SELECT * FROM gold EXCEPT SELECT * FROM preds) GROUP BY case_id) fn USING (case_id))
        SELECT case_id, tp, fp, fn,
          $prfColumns
          CASE WHEN tp + fn = 0 THEN 0.0 ELSE (3 * fn + fp) / (tp + fn) END AS effort
        FROM counts
        ORDER BY case_id""")),

    // ---- §3.2: dual-direction scoring + stable matching ------------------
    Q("q35_stable_matching",
      (s, dir) => {
        import s.implicits._
        val tcs = cases(s, dir)
        val fwdQ = s.createDataset(for {
          tc <- tcs; t <- tc.targetSchema.map(_.name)
        } yield Question(tc.id, t, s"fwd|${tc.id}|$t", tc.sourceSchema.map(_.name)))
        val bwdQ = s.createDataset(for {
          tc <- tcs; c <- tc.sourceSchema.map(_.name)
        } yield Question(tc.id, c, s"bwd|${tc.id}|$c", tc.targetSchema.map(_.name)))
        val fwd = LlmOperator.score(fwdQ, MockLlmClient.Factory())
          .toDF("case_id", "query_attr", "cand_attr", "score")
          .withColumn("direction", lit("bwd")) // target-queries = backward prefs
        val bwd = LlmOperator.score(bwdQ, MockLlmClient.Factory())
          .toDF("case_id", "query_attr", "cand_attr", "score")
          .withColumn("direction", lit("fwd")) // source-queries propose
        val matches = StableMatcher.matchCases(fwd.unionByName(bwd), maxRounds = 2)
        StableMatcher.topRounds(matches, 2)
          .orderBy($"case_id", $"round", $"src_attr", $"tgt_attr")
      },
      // Full DuckDB oracle (VERDICT r11 item 3 — the last algorithmic
      // golden): Gale–Shapley replayed as BATCH DEFERRED ACCEPTANCE in a
      // recursive CTE. Soundness chain:
      //  (1) the mock's softmax is strictly monotone in its 48-bit md5
      //      hash and normalizes per question, so every comparison the
      //      matcher makes (fwd list order; bwd strictly-greater within
      //      one target) is equivalent to comparing raw hashes — which
      //      hexPolySql replays exactly;
      //  (2) hashes are tie-free on this input (distinct md5 prefixes per
      //      (case, query) list — checked empirically; a tie would need
      //      a 48-bit collision within one ≤10-entry list), so
      //      preferences are STRICT and McVitie–Wilson applies: every
      //      deferred-acceptance execution order yields the same
      //      source-optimal stable matching. The oracle therefore runs
      //      the PREFIX-POOL batch variant (each src "offers" to its
      //      first p list entries; each target holds the best-hash
      //      offer; unmatched srcs extend p) instead of replaying the
      //      sequential free-queue — pools only grow, so a target's
      //      held offer improves monotonically and a src can only ever
      //      be argmax at its newest prefix entry (never matched twice);
      //  (3) iterations to fixed point ≤ 1 + Σ_src(len-1) ≤ 1 + n(n-1)
      //      per case (every non-terminal iteration advances ≥1 cursor);
      //      ITER_CAP=128 covers schemas to 11 columns, and overshoot
      //      iterations are no-ops re-emitting the fixed point;
      //  (4) round 2 = same kernel over the round-1 lists minus matched
      //      pairs on BOTH sides (StableMatcher removes matched pairs
      //      from both working structures between rounds).
      // MATERIALIZED is load-bearing: without it gs2's recursive term
      // re-evaluates the whole gs1 recursion per iteration (~100x).
      Some(q35OracleSql)),

    // ---- F2 weighted sampling without replacement (A-ES, seeded): the
    //      md5-derived uniform makes the draw reproducible in DuckDB, so
    //      the oracle replays the exact Efraimidis–Spirakis keys ------------
    Q("q36_weighted_sample",
      (s, dir) => {
        import s.implicits._
        val li = Tables(s, dir, "lineitem")
        Sampling.weightedPerGroup(li, Seq("l_returnflag"), "l_quantity",
            n = 5, seed = 42, keyCols = Seq("l_orderkey", "l_linenumber"))
          .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity")
          .orderBy($"l_returnflag", $"l_orderkey", $"l_linenumber")
      },
      Some(s"""WITH w AS (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
          pow(${Sampling.detRandSql(42, Seq("l_orderkey", "l_linenumber"))},
              1.0 / greatest(CAST(l_quantity AS DOUBLE), 1e-12)) AS k
        FROM lineitem),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                ORDER BY k DESC, l_orderkey, l_linenumber) AS rn FROM w)
        SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM r WHERE rn <= 5
        ORDER BY l_returnflag, l_orderkey, l_linenumber""")),

    // ---- F3 uniform per-group sampling without replacement: the draw is a
    //      pure md5 hash of (seed, key), so no pow — the oracle is exact ----
    Q("q50_uniform_sample",
      (s, dir) => {
        import s.implicits._
        Sampling.uniformPerGroup(Tables(s, dir, "customer"),
            Seq("c_mktsegment"), n = 4, seed = 7, keyCols = Seq("c_custkey"))
          .select($"c_mktsegment", $"c_custkey", $"c_name")
          .orderBy($"c_mktsegment", $"c_custkey")
      },
      Some(s"""WITH r AS (SELECT c_mktsegment, c_custkey, c_name,
          ROW_NUMBER() OVER (PARTITION BY c_mktsegment
            ORDER BY ${Sampling.detRandSql(7, Seq("c_custkey"))}, c_custkey) AS rn
        FROM customer)
        SELECT c_mktsegment, c_custkey, c_name FROM r WHERE rn <= 4
        ORDER BY c_mktsegment, c_custkey""")),

    // ---- deterministic train/val/test split: the label is a pure hash of
    //      (seed, doc_id) — identical assignment at any partitioning or
    //      scale, which DataFrame.randomSplit cannot guarantee. Zero-shuffle
    //      label, one aggregation for the per-(split, lang) audit. ----------
    Q("q81_dataset_split",
      (s, dir) => {
        import s.implicits._
        Sampling.datasetSplit(Tables(s, dir, "documents"), seed = 13,
            keyCols = Seq("doc_id"), valFrac = 0.05, testFrac = 0.05)
          .groupBy($"split", $"lang").agg(count(lit(1)).as("n_docs"))
          .orderBy($"split", $"lang")
      },
      Some(s"""WITH sp AS (SELECT lang,
            CASE WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.90 THEN 'train'
                 WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.95 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents)
        SELECT split, lang, count(*) AS n_docs FROM sp
        GROUP BY split, lang ORDER BY split, lang""")),

    // ---- cross-split leakage audit: near-duplicate texts that straddle
    //      train/val/test make eval scores lie — the check every split
    //      pipeline runs after q81's assignment. Fingerprint is md5 of the
    //      first 8 lowercased tokens (template leakage: docs sharing an
    //      opening boilerplate; widen to the full text for exact-dup
    //      leakage); one fingerprint shuffle, leaked = fingerprints
    //      spanning ≥2 splits. At 100 TB this is the same single-shuffle
    //      shape as q21 exact dedup; the split label is a row-local hash
    //      so it adds nothing. ----------------------------------------------
    Q("q136_split_leakage",
      (s, dir) => {
        import s.implicits._
        Sampling.datasetSplit(Tables(s, dir, "documents"), seed = 13,
            keyCols = Seq("doc_id"), valFrac = 0.05, testFrac = 0.05)
          .select($"doc_id", $"split",
            md5(array_join(slice(split(lower($"text"), " "), 1, 8), " ")).as("fp"))
          .groupBy($"fp")
          .agg(countDistinct($"split").cast("long").as("n_splits"),
            count(lit(1)).as("n_docs"),
            array_join(array_sort(collect_set($"split")), ",").as("splits"),
            min($"doc_id").as("min_doc_id"))
          .filter($"n_splits" >= 2)
          .orderBy($"fp")
      },
      Some(s"""WITH sp AS (SELECT doc_id,
            md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS fp,
            CASE WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.90 THEN 'train'
                 WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.95 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents)
        SELECT fp, count(DISTINCT split) AS n_splits, count(*) AS n_docs,
          concat_ws(',',
            CASE WHEN bool_or(split = 'test') THEN 'test' END,
            CASE WHEN bool_or(split = 'train') THEN 'train' END,
            CASE WHEN bool_or(split = 'val') THEN 'val' END) AS splits,
          min(doc_id) AS min_doc_id
        FROM sp GROUP BY fp HAVING count(DISTINCT split) >= 2
        ORDER BY fp""")),

    // ---- split distribution drift (PSI): is the val split representative
    //      of train? Per-lang PSI terms with add-one smoothing (a lang
    //      absent from one split must not produce ln(0)). Everything after
    //      the q81 split label is two lang-keyed aggregations plus
    //      broadcast scalar totals; the PSI term rounds at 1e-6 BEFORE any
    //      cross-row use, so the drift report is partition-invariant. The
    //      same plan monitors train-vs-serve drift at 100 TB — lang swaps
    //      for any bucketed feature. ---------------------------------------
    Q("q114_split_drift",
      (s, dir) => {
        import s.implicits._
        val sp = Sampling.datasetSplit(Tables(s, dir, "documents"), seed = 13,
            keyCols = Seq("doc_id"), valFrac = 0.05, testFrac = 0.05)
          .filter($"split".isin("train", "val"))
        val counts = sp.groupBy($"lang").pivot("split", Seq("train", "val"))
          .agg(count(lit(1)))
          .select($"lang",
            coalesce($"train", lit(0L)).as("n_train"),
            coalesce($"val", lit(0L)).as("n_val"))
        val nLangs = counts.agg(count(lit(1)).cast("double").as("k"),
          sum($"n_train").cast("double").as("tot_train"),
          sum($"n_val").cast("double").as("tot_val"))
        counts.join(broadcast(nLangs))
          .select($"lang", $"n_train", $"n_val",
            (($"n_train" + 1) / ($"tot_train" + $"k")).as("p_train"),
            (($"n_val" + 1) / ($"tot_val" + $"k")).as("p_val"))
          .withColumn("psi_term",
            round(($"p_train" - $"p_val") * log($"p_train" / $"p_val"), 6))
          .select($"lang", $"n_train", $"n_val",
            round($"p_train", 6).as("p_train"), round($"p_val", 6).as("p_val"),
            $"psi_term")
          .orderBy($"lang")
      },
      Some(s"""WITH sp AS (SELECT lang,
            CASE WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.90 THEN 'train'
                 WHEN ${Sampling.detRandSql(13, Seq("doc_id"))} < 0.95 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents),
        counts AS (SELECT lang,
            CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
            CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
          FROM sp WHERE split IN ('train', 'val') GROUP BY lang),
        tot AS (SELECT CAST(count(*) AS DOUBLE) AS k,
            CAST(sum(n_train) AS DOUBLE) AS tot_train,
            CAST(sum(n_val) AS DOUBLE) AS tot_val FROM counts),
        p AS (SELECT lang, n_train, n_val,
            (n_train + 1) / (tot_train + k) AS p_train,
            (n_val + 1) / (tot_val + k) AS p_val
          FROM counts CROSS JOIN tot)
        SELECT lang, n_train, n_val,
          round(p_train, 6) AS p_train, round(p_val, 6) AS p_val,
          round((p_train - p_val) * ln(p_train / p_val), 6) AS psi_term
        FROM p ORDER BY lang""")),

    // ---- F3 seeded distinct-value sampling (prompt value sampling) -------
    Q("q51_distinct_sample",
      (s, dir) => {
        import s.implicits._
        Sampling.distinctValues(Tables(s, dir, "part"), "p_type", n = 10, seed = 11)
          .orderBy($"p_type")
      },
      Some(s"""WITH d AS (SELECT DISTINCT p_type FROM part WHERE p_type IS NOT NULL),
        r AS (SELECT p_type, ROW_NUMBER() OVER (
            ORDER BY ${Sampling.detRandSql(11, Seq("p_type"))}, p_type) AS rn FROM d)
        SELECT p_type FROM r WHERE rn <= 10 ORDER BY p_type""")),

    // ---- H4+D14 tuple-overlap scoring as one declarative plan ------------
    Q("q37_overlap_eval",
      (s, dir) => {
        import s.implicits._
        val o = Tables(s, dir, "orders")
        // one full-outer join replaces intersect+except+except (3 driver-side
        // count() jobs, 6 scans of orders): tp/fp/fn fall out of a single
        // aggregation over the distinct key sets — same values, one shuffle,
        // and no count literals materialized on the driver
        val pred = o.filter(year($"o_orderdate") === 1995)
          .select($"o_custkey").distinct().withColumn("in_p", lit(1))
        val gold = o.filter(year($"o_orderdate") === 1996)
          .select($"o_custkey").distinct().withColumn("in_g", lit(1))
        val counts = pred.join(gold, Seq("o_custkey"), "full_outer")
          .agg(
            coalesce(sum(when($"in_p" === 1 && $"in_g" === 1, 1)), lit(0)).cast("double").as("tp"),
            coalesce(sum(when($"in_p" === 1 && $"in_g".isNull, 1)), lit(0)).cast("double").as("fp"),
            coalesce(sum(when($"in_p".isNull && $"in_g" === 1, 1)), lit(0)).cast("double").as("fn"))
          .select(lit("orders_1995_vs_1996").as("relation"),
            $"tp", $"fp", $"fn", lit(0.0).as("tn"))
        graft.eval.Metrics.withPrfAccuracyEffort(counts).drop("tn", "accuracy2")
      },
      Some(s"""WITH p AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995),
        g AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
        c AS (SELECT 'orders_1995_vs_1996' AS relation,
          CAST((SELECT count(*) FROM (SELECT o_custkey FROM p INTERSECT SELECT o_custkey FROM g)) AS DOUBLE) AS tp,
          CAST((SELECT count(*) FROM (SELECT o_custkey FROM p EXCEPT SELECT o_custkey FROM g)) AS DOUBLE) AS fp,
          CAST((SELECT count(*) FROM (SELECT o_custkey FROM g EXCEPT SELECT o_custkey FROM p)) AS DOUBLE) AS fn)
        SELECT relation, tp, fp, fn,
          $prfColumns
          CASE WHEN tp + fn = 0 THEN 0.0
               ELSE (3 * fn + fp) / (tp + fn) END AS effort
        FROM c""")),

    // ---- multimodal binary-column plumbing (stubbed decode) --------------
    Q("q38_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .map { case (id, text) =>
            val modality = Seq("image", "audio", "video")((id % 3).toInt)
            Multimodal.MediaRow(id, modality, s"application/x-$modality",
              text.getBytes("UTF-8"))
          }
        Multimodal.extractFeatures(media)
          .toDF()
          // 6-dp rounding on BOTH sides: the entropy sum's log() calls hit
          // libm ULP differences between the JVM and DuckDB — everything
          // else in the row is integer-exact
          .select($"id", $"modality", $"n_bytes",
            round($"byte_entropy", 6).as("byte_entropy"),
            $"width", $"height", $"n_frames", $"sample_rate")
          .orderBy($"id")
      },
      // Construction-inverse oracle (VERDICT r11 item 4 — the last
      // no_oracle row): the "opaque" payload is the document's UTF-8
      // bytes, and the StubCodec's fake decode is a pure function of
      // java.util.Arrays.hashCode(bytes) — a 31-ary polynomial fold mod
      // 2^32 over SIGNED bytes that SQL replays with a recursive
      // powers-of-31 table: h = 31^n + Σ signed(b_i)·31^(n-i) (mod 2^32,
      // then reinterpreted as int32). Byte histogram → entropy and
      // octet_length → n_bytes come from the same hex-expanded blob. The
      // one unreplayed corner is h = Int.MinValue (Java abs() returns it
      // negative; the CASE mirrors that too, probability 2^-32/doc).
      Some("""WITH RECURSIVE
        d AS MATERIALIZED (
          SELECT doc_id AS id, upper(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        -- powers table sized FROM THE DATA (max document byte length):
        -- a fixed cap would silently drop any longer document from the
        -- hash join below and misreport the divergence as an engine bug
        pw(k, v) AS (
          SELECT 0, CAST(1 AS BIGINT)
          UNION ALL
          SELECT k+1, (v * 31) % 4294967296 FROM pw
          WHERE k < (SELECT COALESCE(max(n), 0) FROM d)),
        b AS MATERIALIZED (
          SELECT d.id, d.n, i.i AS pos,
            (strpos('0123456789ABCDEF', substr(d.hx, 2*i.i - 1, 1)) - 1) * 16
              + (strpos('0123456789ABCDEF', substr(d.hx, 2*i.i, 1)) - 1) AS byte
          FROM d, LATERAL (SELECT unnest(range(1, d.n + 1)) AS i) i),
        hs AS MATERIALIZED (
          SELECT b.id, b.n,
            sum((CASE WHEN byte < 128 THEN byte ELSE byte - 256 END) * pwi.v) AS s
          FROM b JOIN pw pwi ON pwi.k = b.n - b.pos
          GROUP BY b.id, b.n),
        hash AS MATERIALIZED (
          SELECT hs.id, hs.s + pn.v AS raw FROM hs JOIN pw pn ON pn.k = hs.n),
        hsigned AS (
          SELECT id, CASE WHEN m >= 2147483648 THEN m - 4294967296 ELSE m END AS h
          FROM (SELECT id, ((raw % 4294967296) + 4294967296) % 4294967296 AS m
                FROM hash)),
        a AS (SELECT id, CASE WHEN h = -2147483648
                THEN CAST(-2147483648 AS BIGINT) ELSE abs(h) END AS a
              FROM hsigned),
        ent AS (
          SELECT id, round(-sum(p * ln(p) / ln(2)), 6) AS byte_entropy
          FROM (SELECT b.id, CAST(count(*) AS DOUBLE) / any_value(b.n) AS p
                FROM b GROUP BY b.id, b.byte)
          GROUP BY id)
        SELECT d.id,
          CASE d.id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
          CAST(d.n AS BIGINT) AS n_bytes,
          ent.byte_entropy,
          CAST(CASE d.id % 3 WHEN 0 THEN 64 + a.a % 1024 WHEN 1 THEN 0 ELSE 320 END AS INT) AS width,
          CAST(CASE d.id % 3 WHEN 0 THEN 64 + (a.a // 7) % 1024 WHEN 1 THEN 0 ELSE 240 END AS INT) AS height,
          CAST(CASE d.id % 3 WHEN 0 THEN 1 WHEN 1 THEN 1 + a.a % 1000 ELSE 1 + a.a % 600 END AS INT) AS n_frames,
          CAST(CASE d.id % 3 WHEN 1 THEN 8000 + (a.a % 5) * 8000 ELSE 0 END AS INT) AS sample_rate
        FROM d JOIN a ON a.id = d.id JOIN ent ON ent.id = d.id
        ORDER BY d.id""")),

    // ---- REAL multimodal decode, oracle-gated: even docs become
    //      spec-valid BMP images, odd docs PCM16 WAV audio, with encode
    //      parameters that are pure functions of table columns — so the
    //      DuckDB oracle recomputes the expected decode output and the
    //      container byte sizes from the format math alone. Agreement
    //      proves decode(encode(params)) == params through real header
    //      parsing (MediaCodecs, strict size-field validation), not the
    //      stub: a byte shifted in either codec diverges n_bytes or the
    //      decoded fields. The stub now covers only compressed formats. ----
    Q("q138_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .map { case (id, nch) =>
            if (id % 2 == 0) {
              val w = (4 + id % 32).toInt; val h = (4 + nch % 16).toInt
              Multimodal.MediaRow(id, "image", "image/bmp",
                Multimodal.MediaCodecs.encodeBmp(w, h, id))
            } else {
              val sr = (8000 + (id % 5) * 8000).toInt
              val ns = (100 + nch % 100).toInt
              Multimodal.MediaRow(id, "audio", "audio/wav",
                Multimodal.MediaCodecs.encodeWavPcm16(sr, ns, id))
            }
          }
        Multimodal.extractFeatures(media).toDF()
          .select($"id", $"modality", $"n_bytes",
            $"width", $"height", $"n_frames", $"sample_rate")
          .orderBy($"id")
      },
      Some("""SELECT doc_id AS id,
            CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
            CAST(CASE WHEN doc_id % 2 = 0
              THEN 54 + ((4 + doc_id % 32) * 3 + 3) // 4 * 4 * (4 + n_chars % 16)
              ELSE 44 + 2 * (100 + n_chars % 100) END AS BIGINT) AS n_bytes,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 32 ELSE 0 END AS INT) AS width,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + n_chars % 16 ELSE 0 END AS INT) AS height,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                 ELSE 100 + n_chars % 100 END AS INT) AS n_frames,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                 ELSE 8000 + (doc_id % 5) * 8000 END AS INT) AS sample_rate
          FROM documents ORDER BY id""")),

    // ---- REAL image resize, pixel-exact oracle: every even doc's BMP
    //      (q138's encode) is nearest-neighbor-resampled to 8x8 by
    //      MediaCodecs.resizeBmp, and because the source pixels are a pure
    //      function of (id, byte index), the DuckDB oracle recomputes the
    //      EXACT resampled pixel sum from the sampling arithmetic alone —
    //      a one-pixel drift in decode, sampling or re-encode diverges the
    //      hash. Row-local byte math, zero shuffle before the sort. --------
    Q("q139_multimodal_resize",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .map { case (id, nch) =>
            val w = (4 + id % 32).toInt; val h = (4 + nch % 16).toInt
            val src = Multimodal.MediaCodecs.encodeBmp(w, h, id)
            val dst = Multimodal.MediaCodecs.resizeBmp(src, 8, 8).get
            val d = Multimodal.MediaCodecs.decodeBmp(dst).get
            val dstRow = (8 * 3 + 3) / 4 * 4
            var sum = 0L
            var y = 0
            while (y < 8) {
              var i = 0
              while (i < 24) { sum += dst(54 + y * dstRow + i) & 0xff; i += 1 }
              y += 1
            }
            (id, d.width, d.height, dst.length.toLong, sum)
          }
          .toDF("id", "width", "height", "n_bytes", "px_sum")
          .orderBy($"id")
      },
      Some("""WITH img AS (SELECT doc_id AS id, 4 + doc_id % 32 AS w,
                   4 + n_chars % 16 AS h
               FROM documents WHERE doc_id % 2 = 0),
          px AS (SELECT id,
                 (id + ((y * h // 8) * ((w * 3 + 3) // 4 * 4)
                        + (x * w // 8) * 3 + c) * 31) % 256 AS v
               FROM img,
                 UNNEST(range(0, 8)) AS ty(y),
                 UNNEST(range(0, 8)) AS tx(x),
                 UNNEST(range(0, 3)) AS tc(c))
          SELECT id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
            CAST(54 + 24 * 8 AS BIGINT) AS n_bytes,
            CAST(sum(v) AS BIGINT) AS px_sum
          FROM px GROUP BY id ORDER BY id""")),

    // ---- REAL audio feature extraction: each odd doc's PCM16 WAV (q138's
    //      encode) is parsed back to its sample array (little-endian
    //      shorts after the validated 44-byte header) and reduced to the
    //      standard audio-curation features — mean-|amplitude| inputs,
    //      peak, zero-crossing count. Samples are a pure function of
    //      (id, index), so the DuckDB oracle recomputes every feature from
    //      the generator arithmetic — a byte order or offset bug in the
    //      PCM parse diverges immediately. Row-local, zero shuffle. --------
    Q("q141_audio_features",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .map { case (id, nch) =>
            val sr = (8000 + (id % 5) * 8000).toInt
            val ns = (100 + nch % 100).toInt
            val wav = Multimodal.MediaCodecs.encodeWavPcm16(sr, ns, id)
            val xs = Multimodal.MediaCodecs.pcmSamples(wav).get
            var sumAbs = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < xs.length) {
              val v = xs(i).toLong
              sumAbs += math.abs(v)
              peak = math.max(peak, math.abs(v))
              if (i > 0 && xs(i - 1).toLong * v < 0) zc += 1
              i += 1
            }
            (id, xs.length.toLong, sumAbs, peak, zc)
          }
          .toDF("id", "n_samples", "sum_abs", "peak", "n_zero_cross")
          .orderBy($"id")
      },
      Some("""WITH a AS (SELECT doc_id AS id, 100 + n_chars % 100 AS ns
               FROM documents WHERE doc_id % 2 = 1),
          sm AS (SELECT id, i, (id + i * 131) % 65536 - 32768 AS v
                 FROM a, UNNEST(range(0, ns)) AS t(i)),
          sm2 AS (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
                  FROM sm)
          SELECT id, count(*) AS n_samples,
            CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
            CAST(max(abs(v)) AS BIGINT) AS peak,
            CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_zero_cross
          FROM sm2 GROUP BY id ORDER BY id""")),

    // ---- REAL compressed-format decode: each even doc's metadata derives
    //      PNG dimensions + seed; the spec-valid PNG (genuine zlib deflate,
    //      CRC32-validated chunks — java.util.zip IS the codec, no stub)
    //      round-trips through inflate back to its RGB bytes. Pixel byte i
    //      is (seed + i·31) & 0xff, so the DuckDB oracle recomputes the
    //      dimensions AND the exact pixel sum from the generator
    //      arithmetic — any CRC, deflate-framing, or scanline-stride bug
    //      diverges the hash. Row-local, zero shuffle. ---------------------
    Q("q156_png_roundtrip",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .map { case (id, nch) =>
            val w = (8 + id % 8).toInt
            val h = (4 + nch % 8).toInt
            val png = Multimodal.MediaCodecs.encodePng(w, h, id)
            val (dw, dh, rgb) = Multimodal.MediaCodecs.pngPixels(png).get
            var sum = 0L
            var i = 0
            while (i < rgb.length) { sum += rgb(i) & 0xff; i += 1 }
            (id, dw, dh, rgb.length.toLong, sum)
          }
          .toDF("id", "width", "height", "n_rgb_bytes", "px_sum")
          .orderBy($"id")
      },
      Some("""WITH g AS (SELECT doc_id AS id,
              CAST(8 + doc_id % 8 AS INT) AS width,
              CAST(4 + n_chars % 8 AS INT) AS height
            FROM documents WHERE doc_id % 2 = 0),
          px AS (SELECT id, width, height, (id + i * 31) & 255 AS v
                 FROM g, UNNEST(range(0, width * height * 3)) AS t(i))
          SELECT id, width, height,
            CAST(count(*) AS BIGINT) AS n_rgb_bytes,
            CAST(sum(v) AS BIGINT) AS px_sum
          FROM px GROUP BY id, width, height ORDER BY id""")),

    // ---- REAL lossy-codec decode: JPEG through the JDK's javax.imageio
    //      (the actual codec library, not a stub). Dimensions survive the
    //      lossy round-trip exactly — the oracle recomputes them from the
    //      table columns — and the single-color source makes the lossy
    //      error bounded, asserted INSIDE the gated row (lossy_ok flips
    //      and diverges the hash if the JDK round-trip ever degrades).
    //      One codec instance per partition via mapPartitions — the real
    //      inference-operator batch shape. ----------------------------------
    Q("q157_jpeg_decode",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 3 === 0)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.map { case (id, nch) =>
              val w = (16 + id % 16).toInt
              val h = (8 + nch % 16).toInt
              val jpg = Multimodal.MediaCodecs.encodeJpeg(w, h, id)
              val img = Multimodal.MediaCodecs.decodeJpegImage(jpg).get
              val src = (id * 2654435761L & 0xffffffL).toInt
              var maxDev = 0
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val p = img.getRGB(x, y)
                  var c = 0
                  while (c < 3) {
                    val d = math.abs(((p >> (8 * c)) & 0xff) - ((src >> (8 * c)) & 0xff))
                    if (d > maxDev) maxDev = d
                    c += 1
                  }
                  x += 1
                }
                y += 1
              }
              (id, img.getWidth, img.getHeight,
                if (maxDev <= 8) 1L else 0L)
            }
          }
          .toDF("id", "width", "height", "lossy_ok")
          .orderBy($"id")
      },
      Some("""SELECT doc_id AS id,
            CAST(16 + doc_id % 16 AS INT) AS width,
            CAST(8 + n_chars % 16 AS INT) AS height,
            CAST(1 AS BIGINT) AS lossy_ok
          FROM documents WHERE doc_id % 3 = 0 ORDER BY id""")),

    // ---- REAL compressed-VIDEO frame decode (closes the r11 "compressed
    //      video" gap without an H.264 entropy decoder): each doc derives
    //      a Motion-JPEG AVI — spec-valid RIFF container, every frame a
    //      genuine lossy JPEG — then walks the container back (strict
    //      size-field validation) and decodes every '00dc' frame with the
    //      REAL JDK codec. Dimensions + frame count survive exactly (the
    //      oracle recomputes them from table columns); each frame's lossy
    //      error is bounded INSIDE the gated row (q157's pattern, per
    //      frame: lossy_ok flips and diverges the hash if the round-trip
    //      degrades). One codec session per partition; row-local fan-out,
    //      zero shuffle before the sort. StubCodec now covers only
    //      entropy-coded elementary streams (H.264/H.265). ------------------
    Q("q272_avi_mjpeg_frames",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 4 === 2)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val w = (16 + id % 16).toInt
              val h = (8 + nch % 16).toInt
              val nf = (2 + id % 3).toInt
              val avi = Multimodal.MediaCodecs.encodeAviMjpeg(w, h, nf, id * 1000)
              val (meta, frames) = Multimodal.MediaCodecs.aviMjpegFrames(avi).get
              frames.zipWithIndex.map { case (img, f) =>
                val src = ((id * 1000 + f) * 2654435761L & 0xffffffL).toInt
                var maxDev = 0
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    val p = img.getRGB(x, y)
                    var c = 0
                    while (c < 3) {
                      val d = math.abs(((p >> (8 * c)) & 0xff) - ((src >> (8 * c)) & 0xff))
                      if (d > maxDev) maxDev = d
                      c += 1
                    }
                    x += 1
                  }
                  y += 1
                }
                (id, f, meta.width, meta.height, meta.nFrames,
                  if (maxDev <= 8) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_frames", "lossy_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some("""SELECT doc_id AS id, CAST(t.f AS INT) AS frame_idx,
            CAST(16 + doc_id % 16 AS INT) AS width,
            CAST(8 + n_chars % 16 AS INT) AS height,
            CAST(2 + doc_id % 3 AS INT) AS n_frames,
            CAST(1 AS BIGINT) AS lossy_ok
          FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS t(f)
          WHERE doc_id % 4 = 2 ORDER BY id, frame_idx""")),

    // ---- REAL ENTROPY-CODED video decode (VERDICT r12 item 1 — the last
    //      StubCodec claim made real): each doc derives an MPEG-1 Part 2
    //      I-frame elementary stream — sequence/picture/slice headers,
    //      per-macroblock DC-size + AC run/level Huffman VLC (table codes
    //      AND the 6-bit-run escape: amp ranges over levels 6..18, both
    //      sides of the 15 boundary), intra dequant with oddification,
    //      zigzag, IDCT — then decodes it back with the hand-written
    //      normative decoder (operators/Mpeg1.scala, the q156-inflate /
    //      q158-LZW class of work applied to video). Dimensions + frame
    //      count survive exactly (oracle recomputes from table columns);
    //      per-frame lossy error is bounded IN-ROW on all three planes
    //      (q157's pattern) — luma carries one low-frequency AC basis per
    //      block so the bound covers real quantization, chroma is
    //      DC-exact ±rounding. One codec pass per row, zero shuffle
    //      before the sort. StubCodec is now motion-compensated codecs
    //      (P/B, H.264/H.265) only. -------------------------------------------
    Q("q287_mpeg1_iframes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 5 === 1)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val w = (16 * (1 + id % 3)).toInt
              val h = (16 * (1 + nch % 2)).toInt
              val nf = (1 + id % 3).toInt
              def lumaOf(p: Int, row: Int, col: Int): (Int, Int) = {
                val k = id + p * 7919L + row * 131L + col
                ((40 + math.floorMod(k, 176)).toInt,
                  (4 + math.floorMod(k, 15)).toInt)
              }
              def chromaOf(p: Int): (Int, Int) =
                ((64 + (id + p) % 128).toInt, (200 - (id + p) % 128).toInt)
              val es = graft.operators.Mpeg1.encodeIFrames(
                w, h, nf, qscale = 2, lumaOf, chromaOf)
              val (meta, pics) = graft.operators.Mpeg1.decodeIFrames(es).get
              pics.zipWithIndex.map { case (pic, p) =>
                var maxDevY = 0
                var row = 0
                while (row < h / 16) {
                  var col = 0
                  while (col < w / 16) {
                    val (base, amp) = lumaOf(p, row, col)
                    var yy = 0
                    while (yy < 16) {
                      var xx = 0
                      while (xx < 16) {
                        val want = math.max(0, math.min(255, base +
                          math.round(amp * math.cos(
                            (2 * (xx % 8) + 1) * math.Pi / 16.0)).toInt))
                        val d = math.abs(
                          pic.y((row * 16 + yy) * w + col * 16 + xx) - want)
                        if (d > maxDevY) maxDevY = d
                        xx += 1
                      }
                      yy += 1
                    }
                    col += 1
                  }
                  row += 1
                }
                val (cbW, crW) = chromaOf(p)
                val devC = math.max(
                  pic.cb.map(v => math.abs(v - cbW)).max,
                  pic.cr.map(v => math.abs(v - crW)).max)
                (id, p, meta.width, meta.height, meta.nPictures,
                  if (maxDevY <= 8 && devC <= 2) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_frames", "lossy_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some("""SELECT doc_id AS id, CAST(t.f AS INT) AS frame_idx,
            CAST(16 * (1 + doc_id % 3) AS INT) AS width,
            CAST(16 * (1 + n_chars % 2) AS INT) AS height,
            CAST(1 + doc_id % 3 AS INT) AS n_frames,
            CAST(1 AS BIGINT) AS lossy_ok
          FROM documents, UNNEST(range(0, 1 + doc_id % 3)) AS t(f)
          WHERE doc_id % 5 = 1 ORDER BY id, frame_idx""")),

    // ---- MOTION-COMPENSATED video decode (q287's successor — the
    //      "motion-compensated" half of the old stub claim made real):
    //      each doc derives an MPEG-1 stream of one I-picture plus P-
    //      pictures whose macroblocks exercise the full forward-
    //      prediction alphabet — skipped-MB co-located copy, intra
    //      refresh (with AC + escape levels), full- AND half-pel motion
    //      with differential vectors and per-spec predictor resets, and
    //      cbp=60 non-intra DC residuals through the dct_coeff_first
    //      alphabet and non-intra dequant. The in-row check replays the
    //      whole prediction chain with an INDEPENDENT reference simulator
    //      (shift / average / residualPixel / copy over the expected
    //      planes) — per-pixel error bounded across every frame, so a
    //      wrong vector, a stale reference frame, an unreset predictor or
    //      a bad residual all flip lossy_ok. StubCodec's remaining claim
    //      is B-pictures + H.264/H.265 only. -----------------------------------
    Q("q288_mpeg1_pframes",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Mpeg1
        Tables(s, dir, "documents")
          .filter($"doc_id" % 7 === 3)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val w = (16 * (3 + id % 2)).toInt // 48 or 64
              val h = 48
              val nP = (1 + nch % 2).toInt      // 1 or 2 P-pictures
              val q = 2
              val (mbw, mbh) = (w / 16, h / 16)
              def base0(row: Int, col: Int): Int =
                (40 + math.floorMod(id + row * 37L + col * 11L, 176)).toInt
              def planOf(p: Int)(row: Int, col: Int): Mpeg1.MbPlan = {
                val interior = row > 0 && row < mbh - 1 && col > 0 && col < mbw - 1
                if (!interior) Mpeg1.PredMb(0, 0, 0)
                else math.floorMod(id + p + row + col, 4) match {
                  case 0 => Mpeg1.IntraMb(
                    (40 + math.floorMod(id + p * 31L + row * 7L + col * 13L, 176)).toInt,
                    (4 + math.floorMod(id + p, 15L)).toInt)
                  case 1 => Mpeg1.PredMb(
                    (math.floorMod(id + p + col, 5L) - 2).toInt,
                    (math.floorMod(id + p + row, 5L) - 2).toInt, 0)
                  case 2 => Mpeg1.PredMb(
                    (math.floorMod(id + col, 5L) - 2).toInt,
                    (math.floorMod(id + row, 5L) - 2).toInt,
                    (3 + id % 4).toInt)
                  case _ => Mpeg1.SkipMb
                }
              }
              val frames = Mpeg1.IFrame((r, c) => (base0(r, c), 0), (128, 128)) +:
                (0 until nP).map(p => Mpeg1.PFrame(planOf(p)))
              val es = Mpeg1.encodeStream(w, h, q, frames)
              val (meta, pics) = Mpeg1.decodeIFrames(es).get
              // independent reference simulation of the prediction chain
              var exp = Array.tabulate(h, w)((y, x) => base0(y / 16, x / 16))
              val expByFrame = Array.fill[Array[Array[Int]]](nP + 1)(null)
              expByFrame(0) = exp
              for (p <- 0 until nP) {
                val prev = exp
                def mc(y: Int, x: Int, dyH: Int, dxH: Int): Int = {
                  val (fy, fx) = (dyH >> 1, dxH >> 1)
                  val (hy, hx) = (dyH & 1, dxH & 1)
                  val p00 = prev(y + fy)(x + fx)
                  if (hy == 0 && hx == 0) p00
                  else if (hy == 0) (p00 + prev(y + fy)(x + fx + 1) + 1) >> 1
                  else if (hx == 0) (p00 + prev(y + fy + 1)(x + fx) + 1) >> 1
                  else (p00 + prev(y + fy)(x + fx + 1) + prev(y + fy + 1)(x + fx) +
                    prev(y + fy + 1)(x + fx + 1) + 2) >> 2
                }
                exp = Array.tabulate(h, w) { (y, x) =>
                  planOf(p)(y / 16, x / 16) match {
                    case Mpeg1.SkipMb => prev(y)(x)
                    case Mpeg1.IntraMb(b, a) =>
                      math.max(0, math.min(255, b + math.round(
                        a * math.cos((2 * (x % 8) + 1) * math.Pi / 16.0)).toInt))
                    case Mpeg1.PredMb(dx, dy, d) =>
                      val delta = if (d == 0) 0
                        else Mpeg1.residualPixel(Mpeg1.residualLevel(d, q), q)
                      math.max(0, math.min(255, mc(y, x, dy, dx) + delta))
                    case b: Mpeg1.BPredMb =>
                      sys.error(s"B plan $b in a P-picture construction")
                  }
                }
                expByFrame(p + 1) = exp
              }
              pics.zipWithIndex.map { case (pic, f) =>
                val want = expByFrame(f)
                var maxDev = 0
                var yy = 0
                while (yy < h) {
                  var xx = 0
                  while (xx < w) {
                    val d = math.abs(pic.y(yy * w + xx) - want(yy)(xx))
                    if (d > maxDev) maxDev = d
                    xx += 1
                  }
                  yy += 1
                }
                val devC = math.max(
                  pic.cb.map(v => math.abs(v - 128)).max,
                  pic.cr.map(v => math.abs(v - 128)).max)
                (id, f, meta.width, meta.height, meta.nPictures,
                  if (maxDev <= 8 && devC <= 4) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_frames", "lossy_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some("""SELECT doc_id AS id, CAST(t.f AS INT) AS frame_idx,
            CAST(16 * (3 + doc_id % 2) AS INT) AS width,
            CAST(48 AS INT) AS height,
            CAST(2 + n_chars % 2 AS INT) AS n_frames,
            CAST(1 AS BIGINT) AS lossy_ok
          FROM documents, UNNEST(range(0, 2 + n_chars % 2)) AS t(f)
          WHERE doc_id % 7 = 3 ORDER BY id, frame_idx""")),

    // ---- BIDIRECTIONALLY-PREDICTED video decode (q288's successor — the
    //      last MPEG-1 picture type, closing the StubCodec narrowing at
    //      H.264/H.265 only): each doc derives a display-order
    //      I [B P]+ GOP whose B macroblocks exercise the full Table B.2c
    //      alphabet — forward-only, backward-only (from the FUTURE
    //      anchor), interpolated ((fwd+bwd+1)>>1 after per-direction
    //      half-pel), coded residuals through cbp=60, intra refresh, and
    //      the B-skip rule (repeat the previous macroblock's direction
    //      and vectors, predictors untouched). The stream is transmitted
    //      in the normative reorder (anchors before the Bs that precede
    //      them in display order) and the decoder restores display order
    //      from temporal_reference — so a broken reorder, a swapped
    //      anchor, a P-style zero-vector skip or an unrounded interp all
    //      flip lossy_ok. The in-row check replays the whole two-anchor
    //      prediction chain with an independent simulator over the
    //      expected planes (q288's pattern extended to two references).
    //      One codec pass per row, zero shuffle before the sort. ------------
    Q("q289_mpeg1_bframes",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Mpeg1
        Tables(s, dir, "documents")
          .filter($"doc_id" % 8 === 5)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val w = 64; val h = 64
              val nGroups = (1 + nch % 2).toInt // anchors after I: 1 or 2
              val q = 2
              val (mbw, mbh) = (w / 16, h / 16)
              def base0(row: Int, col: Int): Int =
                (40 + math.floorMod(id + row * 37L + col * 11L, 176)).toInt
              def interior(row: Int, col: Int): Boolean =
                row > 0 && row < mbh - 1 && col > 0 && col < mbw - 1
              def planP(k: Int)(row: Int, col: Int): Mpeg1.MbPlan =
                if (!interior(row, col)) Mpeg1.PredMb(0, 0, 0)
                else math.floorMod(id + k * 5L + row + col, 3) match {
                  case 0 => Mpeg1.IntraMb(
                    (40 + math.floorMod(id + k * 31L + row * 7L + col * 13L, 176)).toInt,
                    (4 + math.floorMod(id + k, 15L)).toInt)
                  case 1 => Mpeg1.PredMb(
                    (math.floorMod(id + k + col, 5L) - 2).toInt,
                    (math.floorMod(id + k + row, 5L) - 2).toInt, 0)
                  case _ => Mpeg1.PredMb(0, 0, (3 + id % 4).toInt)
                }
              def planB(k: Int)(row: Int, col: Int): Mpeg1.MbPlan =
                if (!interior(row, col)) Mpeg1.BPredMb(Some((0, 0)), None, 0)
                else math.floorMod(id + k + row + 2L * col, 6) match {
                  case 0 => Mpeg1.BPredMb(Some((
                    (math.floorMod(id + k + col, 5L) - 2).toInt,
                    (math.floorMod(id + k + row, 5L) - 2).toInt)), None, 0)
                  case 1 => Mpeg1.BPredMb(None, Some((
                    (math.floorMod(id + row, 5L) - 2).toInt,
                    (math.floorMod(id + col, 5L) - 2).toInt)), 0)
                  case 2 => Mpeg1.BPredMb(Some((0, 0)), Some((0, 0)), 0)
                  case 3 => Mpeg1.BPredMb(Some((0, 0)), None, (3 + id % 4).toInt)
                  case 4 => Mpeg1.IntraMb(
                    (40 + math.floorMod(id + k * 17L + row * 7L + col * 13L, 176)).toInt,
                    (4 + math.floorMod(id + k + 1, 15L)).toInt)
                  // variant 5's left neighbour is variant 3 (coded BPred) or
                  // the border fwd-copy — both predicted, so B-skip is legal
                  case _ => Mpeg1.SkipMb
                }
              // display order: I, then (B, P) per group
              val frames = Mpeg1.IFrame((r, c) => (base0(r, c), 0), (128, 128)) +:
                (1 to nGroups).flatMap(k =>
                  Seq(Mpeg1.BFrame(planB(k)), Mpeg1.PFrame(planP(k))))
              val es = Mpeg1.encodeStream(w, h, q, frames)
              val (meta, pics) = Mpeg1.decodeIFrames(es).get
              // independent two-reference simulation of the display chain
              def mcOf(ref: Array[Array[Int]])(y: Int, x: Int,
                  dyH: Int, dxH: Int): Int = {
                val (fy, fx) = (dyH >> 1, dxH >> 1)
                val (hy, hx) = (dyH & 1, dxH & 1)
                val p00 = ref(y + fy)(x + fx)
                if (hy == 0 && hx == 0) p00
                else if (hy == 0) (p00 + ref(y + fy)(x + fx + 1) + 1) >> 1
                else if (hx == 0) (p00 + ref(y + fy + 1)(x + fx) + 1) >> 1
                else (p00 + ref(y + fy)(x + fx + 1) + ref(y + fy + 1)(x + fx) +
                  ref(y + fy + 1)(x + fx + 1) + 2) >> 2
              }
              def intraPix(b: Int, a: Int, x: Int): Int =
                math.max(0, math.min(255, b + math.round(
                  a * math.cos((2 * (x % 8) + 1) * math.Pi / 16.0)).toInt))
              def residual(d: Int): Int =
                if (d == 0) 0 else Mpeg1.residualPixel(Mpeg1.residualLevel(d, q), q)
              val exp = new Array[Array[Array[Int]]](2 * nGroups + 1)
              exp(0) = Array.tabulate(h, w)((y, x) => base0(y / 16, x / 16))
              for (k <- 1 to nGroups) {
                val prevA = exp(2 * (k - 1))
                exp(2 * k) = Array.tabulate(h, w) { (y, x) =>
                  planP(k)(y / 16, x / 16) match {
                    case Mpeg1.IntraMb(b, a) => intraPix(b, a, x)
                    case Mpeg1.PredMb(dx, dy, d) =>
                      math.max(0, math.min(255,
                        mcOf(prevA)(y, x, dy, dx) + residual(d)))
                    case other => sys.error(s"unexpected P plan $other")
                  }
                }
                val nextA = exp(2 * k)
                exp(2 * k - 1) = Array.tabulate(h, w) { (y, x) =>
                  val plan = planB(k)(y / 16, x / 16) match {
                    case Mpeg1.SkipMb => planB(k)(y / 16, x / 16 - 1) match {
                      case Mpeg1.BPredMb(f, bw, _) => Mpeg1.BPredMb(f, bw, 0)
                      case other => sys.error(s"B-skip after $other")
                    }
                    case p => p
                  }
                  plan match {
                    case Mpeg1.IntraMb(b, a) => intraPix(b, a, x)
                    case Mpeg1.BPredMb(f, bw, d) =>
                      val pf = f.map { case (dx, dy) => mcOf(prevA)(y, x, dy, dx) }
                      val pb = bw.map { case (dx, dy) => mcOf(nextA)(y, x, dy, dx) }
                      val pred = (pf, pb) match {
                        case (Some(a), Some(c)) => (a + c + 1) >> 1
                        case (Some(a), None) => a
                        case (None, Some(c)) => c
                        case _ => sys.error("directionless B plan")
                      }
                      math.max(0, math.min(255, pred + residual(d)))
                    case other => sys.error(s"unexpected B plan $other")
                  }
                }
              }
              pics.zipWithIndex.map { case (pic, f) =>
                val want = exp(f)
                var maxDev = 0
                var yy = 0
                while (yy < h) {
                  var xx = 0
                  while (xx < w) {
                    val d = math.abs(pic.y(yy * w + xx) - want(yy)(xx))
                    if (d > maxDev) maxDev = d
                    xx += 1
                  }
                  yy += 1
                }
                val devC = math.max(
                  pic.cb.map(v => math.abs(v - 128)).max,
                  pic.cr.map(v => math.abs(v - 128)).max)
                (id, f, meta.width, meta.height, meta.nPictures,
                  if (maxDev <= 8 && devC <= 4) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_frames", "lossy_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some("""SELECT doc_id AS id, CAST(t.f AS INT) AS frame_idx,
            CAST(64 AS INT) AS width,
            CAST(64 AS INT) AS height,
            CAST(3 + 2 * (n_chars % 2) AS INT) AS n_frames,
            CAST(1 AS BIGINT) AS lossy_ok
          FROM documents, UNNEST(range(0, 3 + 2 * (n_chars % 2))) AS t(f)
          WHERE doc_id % 8 = 5 ORDER BY id, frame_idx""")),

    // ---- BASELINE TIFF ingest in BOTH byte orders — the remaining major
    //      still-image CONTAINER next to BMP/PNG/GIF/JPEG (public TIFF
    //      6.0): header magic II (little-endian) and MM (big-endian)
    //      exercised per doc parity, IFD entry walk with SHORT/LONG tag
    //      types and spec-left-justified inline values, multi-strip
    //      uncompressed RGB reassembly with a ragged final strip.
    //      Lossless container, so the gate is EXACT: weighted pixel
    //      checksum + lossless flag replayed byte-for-byte by the oracle
    //      (which needs neither the endianness nor the strip structure —
    //      the content contract survives the container, which IS the
    //      claim). ImageIOCrossCheckSpec referees both byte orders
    //      against the JDK's TIFF plugin. Row-local, zero shuffle. ----------
    Q("q301_tiff_ingest",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 7 === 2)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.map { case (id, nch) =>
              val w = (4 + id % 13).toInt
              val h = (3 + nch % 11).toInt // ragged final strip vs rps=4
              val seed = id * 17L + 3
              val tiff = Multimodal.MediaCodecs.encodeTiff(
                w, h, seed, littleEndian = id % 2 == 0)
              val (gw, gh, rgb) = Multimodal.MediaCodecs.tiffPixels(tiff).get
              var sum = 0L
              var exact = 1L
              var i = 0
              while (i < rgb.length) {
                val v = rgb(i) & 0xff
                sum += v.toLong * (i + 1)
                if (v != ((seed + i * 31) & 0xff)) exact = 0L
                i += 1
              }
              (id, gw, gh, rgb.length.toLong, sum, exact)
            }
          }
          .toDF("id", "width", "height", "n_bytes", "pix_sum", "lossless")
          .orderBy($"id")
      },
      Some("""WITH g AS (SELECT doc_id AS id,
              CAST(4 + doc_id % 13 AS INT) AS width,
              CAST(3 + n_chars % 11 AS INT) AS height,
              doc_id * 17 + 3 AS seed
            FROM documents WHERE doc_id % 7 = 2),
          px AS (SELECT id, width, height,
              ((seed + i * 31) % 256) * (i + 1) AS wv
            FROM g, UNNEST(range(0, width * height * 3)) AS t(i))
          SELECT id, width, height,
            CAST(width * height * 3 AS BIGINT) AS n_bytes,
            CAST(sum(wv) AS BIGINT) AS pix_sum,
            CAST(1 AS BIGINT) AS lossless
          FROM px GROUP BY id, width, height ORDER BY id""")),

    // ---- ADAM7-INTERLACED PNG decode with the FULL filter alphabet —
    //      upgrades the PNG claim from "filter-0 non-interlaced" (q156's
    //      scope) to what real encoders emit: Sub/Up/Average/Paeth
    //      unfiltering (spec §9, the Paeth predictor included) and the
    //      seven-pass Adam7 reassembly (spec §8.2), with dimensions
    //      chosen to exercise RAGGED and EMPTY passes (w, h deliberately
    //      not multiples of 8). PNG is lossless, so the gate is EXACT:
    //      per-doc pixel checksum and a lossless flag computed against
    //      the generator, both replayed by the oracle byte-for-byte —
    //      any unfilter/reassembly slip shifts the weighted checksum.
    //      ImageIOCrossCheckSpec referees the same streams against the
    //      JDK decoder pixel-for-pixel. Row-local, zero shuffle. ------------
    Q("q299_png_adam7",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 6 === 1)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, nch) =>
              val w = (5 + id % 12).toInt
              val h = (3 + nch % 14).toInt
              val seed = id * 31L + 7
              val png = Multimodal.MediaCodecs.encodePngAdam7(w, h, seed)
              val (gw, gh, rgb) = Multimodal.MediaCodecs.pngPixels(png).get
              var sum = 0L
              var exact = 1L
              var i = 0
              while (i < rgb.length) {
                val v = rgb(i) & 0xff
                sum += v.toLong * (i + 1)
                if (v != ((seed + i * 31) & 0xff)) exact = 0L
                i += 1
              }
              (id, gw, gh, rgb.length.toLong, sum, exact)
            }
          }
          .toDF("id", "width", "height", "n_bytes", "pix_sum", "lossless")
          .orderBy($"id")
      },
      Some("""WITH g AS (SELECT doc_id AS id,
              CAST(5 + doc_id % 12 AS INT) AS width,
              CAST(3 + n_chars % 14 AS INT) AS height,
              doc_id * 31 + 7 AS seed
            FROM documents WHERE doc_id % 6 = 1),
          px AS (SELECT id, width, height, seed,
              ((seed + i * 31) % 256) * (i + 1) AS wv
            FROM g, UNNEST(range(0, width * height * 3)) AS t(i))
          SELECT id, width, height,
            CAST(width * height * 3 AS BIGINT) AS n_bytes,
            CAST(sum(wv) AS BIGINT) AS pix_sum,
            CAST(1 AS BIGINT) AS lossless
          FROM px GROUP BY id, width, height ORDER BY id""")),

    // ---- REAL COMPRESSED-AUDIO decode: IMA/DVI ADPCM in a WAV container
    //      (format tag 0x11 — the public 89-step successive-approximation
    //      codec). Each doc derives a deterministic PCM16 signal (the
    //      q141 generator), 4-bit-compresses it into spec-shaped blocks
    //      (exact int16 header sample + carried step index per block, two
    //      samples per byte low-nibble-first, fact chunk), then decodes it
    //      back with the normative reconstruction. Because encoder and
    //      decoder share the quantizer state, the DECODED sequence is a
    //      pure function of the source — so the ORACLE replays the entire
    //      quantize→reconstruct state machine per sample in a recursive
    //      CTE (step table, 3-bit successive approximation, ±diffq,
    //      int16 clamp, index adaptation, per-block predictor restart)
    //      and hash-matches the running checksum and max reconstruction
    //      error — a FULL replay of the codec, not an error-bound
    //      verdict. Upgrades audio from "PCM16 parses" (q141) to
    //      "compressed audio decodes"; MP3 remains header-walk-only.
    //      One codec pass per row, zero shuffle before the sort. ------------
    Q("q290_adpcm_audio",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 9 === 4)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, nch) =>
              val spb = 121 // blockAlign 64 → (64-4)*2+1 samples per block
              val nBlocks = (1 + id % 3).toInt
              val n = nBlocks * spb
              val seed = id * 7919L + nch
              val wav = Multimodal.MediaCodecs.encodeWavImaAdpcm(8000, n, seed)
              val (rate, gotBlocks, dec) =
                Multimodal.MediaCodecs.adpcmSamples(wav).get
              def sample(i: Int): Int =
                (((seed + i * 131L) % 65536L) - 32768L).toInt
              var checksum = 0L
              var maxErr = 0L
              var i = 0
              while (i < dec.length) {
                checksum = (checksum + (dec(i).toLong + 32768L) * (i + 1)) %
                  1000000007L
                val e = math.abs(dec(i).toLong - sample(i))
                if (e > maxErr) maxErr = e
                i += 1
              }
              (id, gotBlocks.toLong, dec.length.toLong, rate.toLong,
                checksum, maxErr)
            }
          }
          .toDF("id", "n_blocks", "n_samples", "sample_rate", "checksum",
            "max_abs_err")
          .orderBy($"id")
      },
      Some {
        val steps = graft.operators.Multimodal.MediaCodecs.adpcmStepSql
        s"""WITH RECURSIVE docs AS (
            SELECT doc_id AS id, 1 + doc_id % 3 AS nb,
              (1 + doc_id % 3) * 121 AS n,
              doc_id * 7919 + n_chars AS seed
            FROM documents WHERE doc_id % 9 = 4),
          st AS (
            SELECT id, n, seed, 0 AS t, 0 AS pred, 0 AS idx,
              CAST(0 AS BIGINT) AS checksum, CAST(0 AS BIGINT) AS maxerr
            FROM docs
            UNION ALL
            SELECT id, n, seed, t + 1,
              CASE WHEN hdr THEN s ELSE newpred END,
              CASE WHEN hdr THEN idx ELSE newidx END,
              (checksum + ((CASE WHEN hdr THEN s ELSE newpred END) + 32768)
                * (t + 1)) % 1000000007,
              greatest(maxerr,
                abs((CASE WHEN hdr THEN s ELSE newpred END) - s))
            FROM (
              SELECT *,
                greatest(-32768, least(32767,
                  pred + CASE WHEN sgn THEN -diffq ELSE diffq END)) AS newpred,
                greatest(0, least(88, idx + list_extract(
                  [-1, -1, -1, -1, 2, 4, 6, 8], delta + 1))) AS newidx
              FROM (
                SELECT *, d4 + d2 +
                    (CASE WHEN ad2 >= step >> 2 THEN 1 ELSE 0 END) AS delta,
                  (step >> 3)
                    + CASE WHEN d4 = 4 THEN step ELSE 0 END
                    + CASE WHEN d2 = 2 THEN step >> 1 ELSE 0 END
                    + CASE WHEN ad2 >= step >> 2 THEN step >> 2 ELSE 0 END
                    AS diffq
                FROM (
                  SELECT *,
                    ad1 - CASE WHEN ad1 >= step >> 1 THEN step >> 1 ELSE 0 END
                      AS ad2,
                    CASE WHEN ad1 >= step >> 1 THEN 2 ELSE 0 END AS d2
                  FROM (
                    SELECT *,
                      ad0 - CASE WHEN ad0 >= step THEN step ELSE 0 END AS ad1,
                      CASE WHEN ad0 >= step THEN 4 ELSE 0 END AS d4
                    FROM (
                      SELECT *, abs(s - pred) AS ad0, s < pred AS sgn,
                        list_extract($steps, idx + 1) AS step
                      FROM (
                        SELECT *,
                          CAST(((seed + t * 131) % 65536) - 32768 AS INT) AS s,
                          t % 121 = 0 AS hdr
                        FROM st WHERE t < n)))))))
          SELECT d.id, CAST(d.nb AS BIGINT) AS n_blocks,
            CAST(d.n AS BIGINT) AS n_samples,
            CAST(8000 AS BIGINT) AS sample_rate,
            f.checksum AS checksum, CAST(f.maxerr AS BIGINT) AS max_abs_err
          FROM docs d JOIN st f ON f.id = d.id AND f.t = d.n
          ORDER BY d.id"""
      }),

    // ---- ENTROPY-CODED audio decode (VERDICT r13 item 1 — the audio
    //      twin of q287–q289's video work): MPEG-1 Layer II per ISO/IEC
    //      11172-3, hand-written in operators/Mp2.scala — frame-header
    //      parse, Table-B.2a bit allocation across all four nbal bands,
    //      scfsi (all four patterns exercised), scale-factor read,
    //      grouped (base-3/5/9 triplet packing) AND ungrouped sample
    //      requantization through every class 3..65535, and the 32-
    //      subband polyphase synthesis with cross-frame FIFO state. The
    //      quantization constants are DERIVED closed forms (C=2^nb/n,
    //      D=1/2 or 2^(1-nb)) so the DuckDB oracle re-derives the whole
    //      quantize→code→requant chain independently in SQL: the
    //      code_checksum gates every transmitted codeword bit-exactly
    //      (a one-bit misalignment anywhere in the ~3.5 kbit frame
    //      shifts every later field). requant_ok bounds the decoded
    //      subband values inside the quantizer's half step in-row;
    //      synth_ok pins the synthesis structure via the exact period-32
    //      steady state under frame 0's constant subband input (window-
    //      independent — see Mp2's scaladoc for the one documented
    //      deviation, the computed stand-in for the Table 3-B.3 window
    //      coefficients). Row-local fan-out, zero shuffle. ----------------
    Q("q302_mp2_audio",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 11 === 3)
          .select($"doc_id")
          .as[Long].fanout
          .mapPartitions { it =>
            it.flatMap { id =>
              val nf = (2 + id % 3).toInt
              val bytes = Mp2.encode(
                (0 until nf).map(f => Mp2.Construct.frameSpec(id, f)))
              val st = Mp2.decode(bytes).get
              st.frames.zipWithIndex.map { case (chFrames, fi) =>
                val fr = chFrames.head // mono operating point
                var nAlloc = 0L
                var nlevSum = 0L
                var sfSum = 0L
                var checksum = 0L
                var requantOk = 1L
                var sb = 0
                while (sb < Mp2.Sblimit) {
                  val nlev = fr.allocNlevels(sb)
                  if (nlev != 0) {
                    nAlloc += 1
                    nlevSum += nlev
                    sfSum += fr.sfIdx(sb)(0)
                    if (!fr.sfIdx(sb).forall(_ == fr.sfIdx(sb)(0)))
                      requantOk = 0 // construction sends one sf per sb
                    val q = Mp2.quantClass(nlev)
                    val sf = Mp2.scaleFactor(Mp2.Construct.sfIdx(id, sb))
                    val bound = Mp2.quantBound(q) * sf * (1 + 1e-9) + 1e-12
                    var t = 0
                    while (t < 36) {
                      checksum += fr.codes(sb)(t).toLong * (sb * 36 + t + 1)
                      if (math.abs(fr.subband(sb)(t) -
                          Mp2.Construct.u(id, fi, sb, t) * sf) > bound)
                        requantOk = 0
                      t += 1
                    }
                  } else if (fr.subband(sb).exists(_ != 0.0)) requantOk = 0
                  sb += 1
                }
                val pcm = fr.pcm
                val sane = pcm.exists(v => math.abs(v) > 1e-6) &&
                  pcm.forall(v => !v.isNaN && !v.isInfinite)
                val synthOk =
                  if (fi == 0)
                    sane && (640 until 1120).forall(t => pcm(t) == pcm(t + 32))
                  else sane
                (id, fi.toLong, st.sampleRate.toLong, pcm.length.toLong,
                  nAlloc, nlevSum, sfSum, checksum,
                  requantOk, if (synthOk) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "sample_rate", "n_samples", "n_alloc",
            "nlevels_sum", "sf_sum", "code_checksum", "requant_ok",
            "synth_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""WITH fr AS (
            SELECT doc_id AS id, CAST(t.f AS BIGINT) AS frame_idx
            FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS t(f)
            WHERE doc_id % 11 = 3),
          cell AS (
            SELECT id, frame_idx, sb.sb AS sb, tt.t AS t,
              CASE
                WHEN sb.sb = 0 THEN list_extract(
                  [0,3,7,15,31,63,127,255,511,1023,2047,4095,8191,16383,32767,65535],
                  CAST((id + frame_idx) % 16 AS INT) + 1)
                WHEN sb.sb = 3 THEN list_extract([0,3,5,7,9,15],
                  CAST((id + frame_idx * 5) % 6 AS INT) + 1)
                WHEN sb.sb < 3 THEN list_extract([0,3,7,15],
                  CAST((id + sb.sb * 3 + frame_idx) % 4 AS INT) + 1)
                WHEN sb.sb < 23 THEN list_extract([0,3,5,7],
                  CAST((id + sb.sb * 3 + frame_idx) % 4 AS INT) + 1)
                ELSE list_extract([0,3,5],
                  CAST((id + sb.sb * 3 + frame_idx) % 3 AS INT) + 1)
              END AS nlev,
              (id * 5 + sb.sb * 7) % 41 AS sfi,
              ((id * 31 + frame_idx * 17 + sb.sb * 13 +
                (CASE WHEN frame_idx = 0 THEN 0 ELSE tt.t END) * 7) % 181
                - 90) / 101.0 AS u
            FROM fr, UNNEST(range(0, 27)) AS sb(sb),
              UNNEST(range(0, 36)) AS tt(t)),
          qc AS (
            SELECT *, CAST(ceil(log2(nlev + 1)) AS INT) AS nb
            FROM cell WHERE nlev > 0),
          code AS (
            SELECT id, frame_idx, sb, t, sfi, nlev,
              $mp2QuantizeSql
            FROM qc),
          agg AS (
            SELECT id, frame_idx,
              CAST(count(*) / 36 AS BIGINT) AS n_alloc,
              CAST(sum(nlev) / 36 AS BIGINT) AS nlevels_sum,
              CAST(sum(sfi) / 36 AS BIGINT) AS sf_sum,
              CAST(sum(c * (sb * 36 + t + 1)) AS BIGINT) AS code_checksum
            FROM code GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(48000 AS BIGINT) AS sample_rate,
            CAST(1152 AS BIGINT) AS n_samples,
            coalesce(a.n_alloc, 0) AS n_alloc,
            coalesce(a.nlevels_sum, 0) AS nlevels_sum,
            coalesce(a.sf_sum, 0) AS sf_sum,
            coalesce(a.code_checksum, 0) AS code_checksum,
            CAST(1 AS BIGINT) AS requant_ok,
            CAST(1 AS BIGINT) AS synth_ok
          FROM fr LEFT JOIN agg a ON a.id = fr.id AND a.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264/AVC BASELINE INTRA decode (VERDICT r13 item 7, the
    //      stretch rung after full MPEG-1 I/P/B): hand-written I_16x16
    //      path per ITU-T H.264 in operators/H264.scala — NAL/RBSP with
    //      emulation-prevention bytes, Exp-Golomb, SPS/PPS/IDR-slice
    //      headers, the I_16x16 macroblock layer (prediction mode + CBP
    //      carried in mb_type), CAVLC residuals (coeff_token, T1 signs,
    //      adaptive-suffix levels, total_zeros, run_before, nC neighbor
    //      contexts maintained across macroblocks), normative dequant
    //      (LevelScale V-matrix), 4x4 inverse integer transform, 4x4
    //      luma-DC Hadamard, 2x2 chroma DC, and all four 16x16 luma +
    //      four chroma prediction modes with availability rules. The
    //      ENCODER chooses quantized levels directly in the transform
    //      domain (quantization is an encoder freedom; only dequant is
    //      normative) and reconstructs exactly as the decoder must, so
    //      recon_exact gates BIT-EXACT plane equality — no error bound.
    //      level_checksum crosses the whole CAVLC chain against the
    //      oracle's independent SQL re-derivation of the level
    //      construction; mode sums pin the availability-aware prediction
    //      choices. Scope bounds (documented in H264.scala): I_16x16
    //      only, TotalCoeff ≤ 3 per block keeps coeff_token inside the
    //      two transcribed low-nC contexts; I_4x4/CABAC/inter are the
    //      next rung. Row-local fan-out, zero shuffle. --------------------
    Q("q303_h264_intra",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 13 === 5)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val nf = H264.ConstructH.nFrames(id)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264.encode(id, wMb, hMb, nf, qp)
              val st = H264.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, qp.toLong, got.modeSum,
                  got.chromaModeSum, got.levelChecksum,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "qp",
            "mode_sum", "chroma_mode_sum", "level_checksum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(13, 5)}
          $h264Frames
          mb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              CAST(m.m % wmb AS BIGINT) AS mbx,
              CAST(m.m // wmb AS BIGINT) AS mby,
              (id + m.m) % 3 != 2 AS cbpl,
              CAST((id + 2 + m.m) % 3 AS BIGINT) AS cbpc
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)),
          modes AS (
            SELECT id, frame_idx, mb,
              CASE
                $h264LumaModeArms
                ELSE 2 END AS pm,
              CASE
                $h264ChromaModeArms
                ELSE 0 END AS cm
            FROM mb),
          tags AS (
            SELECT mb.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag = 0 THEN 16
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM mb, UNNEST(range(0, 27)) AS tg(tag)
            WHERE tg.tag = 0
               OR (tg.tag BETWEEN 1 AND 16 AND cbpl)
               OR (tg.tag BETWEEN 17 AND 18 AND cbpc > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND cbpc = 2)),
          ${h264Levels()}
          sums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM contrib GROUP BY id, frame_idx),
          msums AS (
            SELECT id, frame_idx, CAST(sum(pm) AS BIGINT) AS mode_sum,
              CAST(sum(cm) AS BIGINT) AS chroma_mode_sum
            FROM modes GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            fr.qp AS qp,
            m.mode_sum, m.chroma_mode_sum,
            coalesce(s.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN msums m ON m.id = fr.id AND m.frame_idx = fr.frame_idx
          LEFT JOIN sums s ON s.id = fr.id AND s.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 I_4x4 INTRA (q303's named next rung, made real the same
    //      round): mixed slices alternate I_4x4 and I_16x16 macroblocks,
    //      exercising per-block predicted-mode coding (§8.3.1.1 —
    //      prev_intra4x4_pred_mode_flag / rem, with non-I_4x4 neighbors
    //      inferring DC and min(modeA, modeB) prediction across MB
    //      boundaries), ALL NINE 4x4 prediction modes (§8.3.1.2 incl.
    //      the diagonal/VR/HD/VL/HU formulas, p[-1,-1] corner reads and
    //      the top-right substitution with its decode-order availability
    //      rules — blkIdx 3/7/11/13/15 famously unavailable), the
    //      coded_block_pattern me(v) SUBSET the construction emits
    //      (codeNums 0-3 → CBP 47/31/15/0; the full Table 9-4 is
    //      deliberately untranscribed — documented policy), per-block
    //      full-16-coefficient CAVLC, and block-sequential reconstruction
    //      where each prediction reads RECONSTRUCTED earlier blocks of
    //      the same MB. Gate: bit-exact planes + CAVLC checksum + both
    //      mode sums re-derived by the oracle. Row-local, zero shuffle. --
    Q("q307_h264_i4x4",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 17 === 7)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val nf = H264.ConstructH.nFrames(id)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264.encode(id, wMb, hMb, nf, qp,
                mixed = true)
              val st = H264.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, got.nI4Mbs, qp.toLong,
                  got.modeSum, got.i4ModeSum, got.chromaModeSum,
                  got.levelChecksum, if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "n_i4_mbs",
            "qp", "mode_sum", "i4_mode_sum", "chroma_mode_sum",
            "level_checksum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(17, 7)}
          $h264Frames
          mb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              CAST(m.m % wmb AS BIGINT) AS mbx,
              CAST(m.m // wmb AS BIGINT) AS mby,
              (id + m.m) % 2 = 0 AS isi4,
              -- I_16x16 CBP formulas (non-I4 MBs)
              (id + m.m) % 3 != 2 AS cbpl16,
              CAST((id + 2 + m.m) % 3 AS BIGINT) AS cbpc16,
              -- I_4x4 CBP from the me(v) subset [47, 31, 15, 0]
              (id + m.m) % 4 != 3 AS cbpl4,
              CAST(CASE (id + m.m) % 4 WHEN 0 THEN 2 WHEN 1 THEN 1
                   ELSE 0 END AS BIGINT) AS cbpc4
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)),
          modes16 AS (
            SELECT id, frame_idx, sum(CASE
                $h264LumaModeArms
                ELSE 2 END) AS mode_sum
            FROM mb WHERE NOT isi4 GROUP BY id, frame_idx),
          cmodes AS (
            SELECT id, frame_idx, sum(CASE
                $h264ChromaModeArms
                ELSE 0 END) AS chroma_mode_sum
            FROM mb GROUP BY id, frame_idx),
          i4m AS (
            SELECT id, frame_idx, sum(CASE
                WHEN gx > 0 AND gy > 0 THEN (id + mb + blk) % 9
                WHEN gy > 0 THEN
                  list_extract([0, 2, 3, 7], CAST((id + mb + blk) % 4 AS INT) + 1)
                WHEN gx > 0 THEN
                  list_extract([1, 2, 8], CAST((id + mb + blk) % 3 AS INT) + 1)
                ELSE 2 END) AS i4_mode_sum
            FROM (
              SELECT mb.*, CAST(bk.blk AS BIGINT) AS blk,
                mbx * 4 + 2 * ((bk.blk // 4) % 2) + bk.blk % 2 AS gx,
                mby * 4 + 2 * (bk.blk // 8) + (bk.blk // 2) % 2 AS gy
              FROM mb, UNNEST(range(0, 16)) AS bk(blk)
              WHERE isi4)
            GROUP BY id, frame_idx),
          tags AS (
            SELECT mb.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag = 0 THEN 16
                   WHEN tg.tag BETWEEN 1 AND 16 THEN
                     CASE WHEN isi4 THEN 16 ELSE 15 END
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM mb, UNNEST(range(0, 27)) AS tg(tag)
            WHERE (tg.tag = 0 AND NOT isi4)
               OR (tg.tag BETWEEN 1 AND 16 AND
                   ((isi4 AND cbpl4) OR (NOT isi4 AND cbpl16)))
               OR (tg.tag BETWEEN 17 AND 18 AND
                   ((isi4 AND cbpc4 > 0) OR (NOT isi4 AND cbpc16 > 0)))
               OR (tg.tag BETWEEN 19 AND 26 AND
                   ((isi4 AND cbpc4 = 2) OR (NOT isi4 AND cbpc16 = 2)))),
          ${h264Levels()}
          sums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM contrib GROUP BY id, frame_idx),
          ni4 AS (
            SELECT id, frame_idx, count(*) AS n_i4
            FROM mb WHERE isi4 GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            CAST(coalesce(n4.n_i4, 0) AS BIGINT) AS n_i4_mbs,
            fr.qp AS qp,
            CAST(coalesce(m16.mode_sum, 0) AS BIGINT) AS mode_sum,
            CAST(coalesce(i4.i4_mode_sum, 0) AS BIGINT) AS i4_mode_sum,
            CAST(cm.chroma_mode_sum AS BIGINT) AS chroma_mode_sum,
            coalesce(s.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          LEFT JOIN modes16 m16 ON m16.id = fr.id AND m16.frame_idx = fr.frame_idx
          LEFT JOIN i4m i4 ON i4.id = fr.id AND i4.frame_idx = fr.frame_idx
          LEFT JOIN ni4 n4 ON n4.id = fr.id AND n4.frame_idx = fr.frame_idx
          JOIN cmodes cm ON cm.id = fr.id AND cm.frame_idx = fr.frame_idx
          LEFT JOIN sums s ON s.id = fr.id AND s.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 P-slice INTER decode (VERDICT r14 item 1 — the last
    //      StubCodec video claim a real corpus hits constantly): IDR
    //      I_16x16 frame 0 (the q303 construction) followed by P slices
    //      exercising the full CAVLC inter MB syntax — mb_skip_run +
    //      P_Skip (§8.4.1.1's zero-MV conditions), P_L0_16x16 /
    //      P_L0_L0_16x8 / P_L0_L0_8x16 / P_8x8 with P_L0_8x8 subs,
    //      te(v)-coded ref_idx over a two-frame sliding-window DPB,
    //      median MV prediction with the 16x8/8x16 directional rules
    //      (§8.4.1.3), quarter-pel luma interpolation (6-tap half-pel +
    //      bilinear quarter-pel, §8.4.2.2.1, edge-clamped), eighth-pel
    //      bilinear chroma, the transcribed HEAD of Table 9-4's inter
    //      CBP column (codeNums 0-7), and inter residuals on q303's
    //      CAVLC/dequant/transform machinery (16-coefficient luma 4x4
    //      blocks gated by the CBP's 8x8 bits). The ENCODER picks the
    //      transmitted mvd directly (an encoder freedom) so the oracle
    //      re-derives the coded syntax — skip pattern, mb types, mvd and
    //      level checksums, ref_idx sums — independently in SQL, while
    //      recon_exact gates BIT-EXACT plane equality of the full
    //      MC+residual chain and idr_ok the reference frame. H264Spec
    //      adds the independent interpolation replay and MV-prediction
    //      hand cases. Row-local fan-out, zero shuffle. -------------------
    Q("q309_h264_pframes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 19 === 9)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val nf = H264.ConstructP.nFrames(id)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264.encodeInter(id, wMb, hMb, nf, qp)
              val st = H264.decode(bytes).get
              val idrOk = st.frames.head.y.sameElements(expect.head.y) &&
                st.frames.head.cb.sameElements(expect.head.cb) &&
                st.frames.head.cr.sameElements(expect.head.cr)
              st.frames.zip(expect).zipWithIndex.drop(1).map {
                case ((got, exp), f) =>
                  val exact = got.y.sameElements(exp.y) &&
                    got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                  (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                    (wMb * hMb).toLong, qp.toLong, got.nSkip, got.typeSum,
                    got.refSum, got.mvdChecksum, got.levelChecksum,
                    if (exact) 1L else 0L, if (idrOk) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "qp",
            "n_skip", "type_sum", "ref_sum", "mvd_checksum",
            "level_checksum", "recon_exact", "idr_ok")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(19, 9)}
          fr AS (
            SELECT id, wmb, hmb, qp, CAST(t.f AS BIGINT) AS frame_idx
            FROM d, UNNEST(range(1, 3 + id % 2)) AS t(f)),
          mb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              (id + frame_idx + m.m) % 5 = 1 AS skip,
              CAST((id + 2 * frame_idx + m.m) % 4 AS BIGINT) AS pt,
              CASE WHEN frame_idx >= 2 THEN 2 ELSE 1 END AS nrefs,
              CAST((id + frame_idx + m.m) % 8 AS INT) AS cbpidx
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)),
          coded AS (
            SELECT *,
              list_extract([0, 16, 1, 2, 4, 8, 32, 3], cbpidx + 1) AS cbp,
              CASE pt WHEN 0 THEN 1 WHEN 3 THEN 4 ELSE 2 END AS np
            FROM mb WHERE NOT skip),
          parts AS (
            SELECT coded.*, CAST(pp.p AS BIGINT) AS part,
              CAST(((id + 3 * frame_idx + 5 * mb + 7 * pp.p) % 17) - 8
                AS BIGINT) AS mvdx,
              CAST(((3 * id + frame_idx + 2 * mb + 5 * pp.p) % 17) - 8
                AS BIGINT) AS mvdy,
              CASE WHEN nrefs = 2 THEN (id + mb + pp.p) % 2 ELSE 0 END AS ref
            FROM coded, UNNEST(range(0, np)) AS pp(p)),
          psums AS (
            SELECT id, frame_idx,
              CAST(sum((mb * 64 + part * 8 + 1) * mvdx +
                       (mb * 64 + part * 8 + 3) * mvdy) AS BIGINT) AS mvd_checksum,
              CAST(sum(ref * (mb + 1)) AS BIGINT) AS ref_sum
            FROM parts GROUP BY id, frame_idx),
          msums AS (
            SELECT id, frame_idx,
              CAST(sum((pt + 1) * (mb + 1)) AS BIGINT) AS type_sum
            FROM coded GROUP BY id, frame_idx),
          ssums AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skip
            FROM mb GROUP BY id, frame_idx),
          ${h264InterTags()}
          ${h264Levels()}
          lsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM contrib GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            fr.qp AS qp,
            coalesce(ss.n_skip, 0) AS n_skip,
            coalesce(m.type_sum, 0) AS type_sum,
            coalesce(p.ref_sum, 0) AS ref_sum,
            coalesce(p.mvd_checksum, 0) AS mvd_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact,
            CAST(1 AS BIGINT) AS idr_ok
          FROM fr
          LEFT JOIN ssums ss ON ss.id = fr.id AND ss.frame_idx = fr.frame_idx
          LEFT JOIN msums m ON m.id = fr.id AND m.frame_idx = fr.frame_idx
          LEFT JOIN psums p ON p.id = fr.id AND p.frame_idx = fr.frame_idx
          LEFT JOIN lsums l ON l.id = fr.id AND l.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 CAVLC WIDENING + I_PCM (VERDICT r14 item 6): q307's
    //      coverage pushed past the construction's convenience. I_PCM
    //      macroblocks (mb_type 25: byte-aligned raw sample read, QP-
    //      free, every block counting TotalCoeff 16 in the neighbors'
    //      CAVLC contexts) BOOTSTRAP the high-nC chain: blocks right of
    //      an I_PCM MB decode in the DERIVED nC ≥ 8 six-bit FLC
    //      coeff_token context (a closed form, not a table) and carry
    //      TC ∈ {4..7, 16} — TC 4-7 exercises the newly transcribed
    //      total_zeros rows 4-7 (tz sweeps 0..16−TC; Kraft-complete
    //      pins in H264Spec) and magnitudes to 19 drive the adaptive
    //      level-suffix escalation; TC 16 blocks have no total_zeros
    //      at all (why untranscribed rows 8-15 are never needed). Their
    //      own neighbors then land in the newly transcribed 4 ≤ nC < 8
    //      coeff_token column (TC ≤ 3 subset). Gate: bit-exact planes,
    //      the PCM sample checksum and the level checksum (incl. the
    //      dense-block construction) re-derived independently in SQL.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q312_h264_cavlc_full",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 31 === 17)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val wMb = (2 + id % 2).toInt
              val hMb = (1 + nch % 2).toInt
              val nf = (1 + id % 2).toInt
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264.encode(id, wMb, hMb, nf, qp,
                mixed = true, pcmMode = true)
              val st = H264.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, got.nPcm, got.nI4Mbs, qp.toLong,
                  got.modeSum, got.i4ModeSum, got.chromaModeSum,
                  got.pcmChecksum, got.levelChecksum,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "n_pcm",
            "n_i4", "qp", "mode_sum", "i4_mode_sum", "chroma_mode_sum",
            "pcm_checksum", "level_checksum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(31, 17, wmb = "2 + doc_id % 2")}
          $h264Frames
          $h264MbGrid
          cls AS (
            SELECT mb.*,
              mbx = 0 AND (id + mby) % 2 = 0 AS ispcm,
              mbx = 0 AND (id + mby) % 2 = 1 AS isi16,
              mbx > 0 AS isi4,
              mbx = 1 AND (id + mby) % 2 = 0 AS leftpcm
            FROM mb),
          -- I_PCM raw-sample checksum (luma plane 0 + chroma planes 1/2)
          pcmsum AS (
            SELECT id, frame_idx, CAST(sum(v * w) AS BIGINT) AS pcm_checksum
            FROM (
              SELECT id, frame_idx,
                (id * 31 + mb * 17 + i.i * 7) % 256 AS v,
                mb * 389 + i.i + 1 AS w
              FROM cls, UNNEST(range(0, 256)) AS i(i) WHERE ispcm
              UNION ALL
              SELECT id, frame_idx,
                (id * 31 + mb * 17 + (1 + c.c) * 103 + i.i * 7) % 256 AS v,
                mb * 389 + 256 + c.c * 64 + i.i + 1 AS w
              FROM cls, UNNEST(range(0, 2)) AS c(c),
                UNNEST(range(0, 64)) AS i(i) WHERE ispcm)
            GROUP BY id, frame_idx),
          -- I_16x16 prediction modes: only at mbx=0 odd rows (mby >= 1)
          m16 AS (
            SELECT id, frame_idx, CAST(coalesce(sum(
              list_extract([0, 2], CAST((id + mb) % 2 AS INT) + 1)), 0)
              AS BIGINT) AS mode_sum
            FROM cls WHERE isi16 GROUP BY id, frame_idx),
          cmode AS (
            SELECT id, frame_idx, CAST(sum(CASE
                $h264ChromaModeArms
                ELSE 0 END) AS BIGINT) AS chroma_mode_sum
            FROM cls WHERE NOT ispcm GROUP BY id, frame_idx),
          ${h264I4Modes()}
          -- CBP per MB class
          cbp AS (
            SELECT cls.*,
              CASE
                WHEN isi16 THEN (id + mb) % 3 != 2
                WHEN leftpcm THEN TRUE
                ELSE (id + mb) % 4 != 3 END AS cbpl,
              CAST(CASE
                WHEN isi16 THEN (id + 2 + mb) % 3
                WHEN leftpcm THEN (CASE (id + mb) % 2 WHEN 0 THEN 2 ELSE 1 END)
                ELSE (CASE (id + mb) % 4 WHEN 0 THEN 2 WHEN 1 THEN 1
                      ELSE 0 END) END AS BIGINT) AS cbpc
            FROM cls WHERE NOT ispcm),
          -- standard blockLevels contributions (I_16x16 DC/AC + chroma
          -- everywhere + I_4x4 non-dense luma)
          tags AS (
            SELECT cbp.*, CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag = 0 THEN 16
                   WHEN tg.tag BETWEEN 1 AND 16 THEN
                     CASE WHEN isi4 THEN 16 ELSE 15 END
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM cbp, UNNEST(range(0, 27)) AS tg(tag)
            WHERE (tg.tag = 0 AND isi16)
               OR (tg.tag BETWEEN 1 AND 16 AND cbpl AND NOT (
                     -- dense blocks replace blockLevels at x4=0 of
                     -- leftpcm MBs: blkIdx 0/2/8/10
                     leftpcm AND (tg.tag - 1) IN (0, 2, 8, 10)))
               OR (tg.tag BETWEEN 17 AND 18 AND cbpc > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND cbpc = 2)),
          ${h264Levels()}
          -- dense-block contributions (the nC >= 8 FLC blocks)
          dense AS (
            SELECT cbp.id, cbp.frame_idx, CAST(bb.b AS BIGINT) AS b,
              cbp.mb,
              CASE WHEN (cbp.id + cbp.mb + bb.b) % 5 = 0 THEN 16
                   ELSE 4 + (cbp.id + cbp.mb + bb.b) % 4 END AS tc
            FROM cbp, UNNEST([0, 2, 8, 10]) AS bb(b)
            WHERE leftpcm AND cbpl),
          densec AS (
            SELECT id, frame_idx,
              (1 + (id + mb + b * 7 + kk.k * 5) % 19) *
              (CASE WHEN (id + kk.k + b) % 2 = 0 THEN 1 ELSE -1 END) *
              (mb * 131 + (1 + b) * 17 +
                (CASE WHEN kk.k < tc - 1 THEN kk.k
                 ELSE tc - 1 + (CASE WHEN tc = 16 THEN 0
                   ELSE (id + 3 * b + mb) % (16 - tc + 1) END) END) + 1) AS c
            FROM dense, UNNEST(range(0, tc)) AS kk(k)),
          lsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM (SELECT * FROM contrib UNION ALL SELECT * FROM densec)
            GROUP BY id, frame_idx),
          counts AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN ispcm THEN 1 ELSE 0 END) AS BIGINT) AS n_pcm,
              CAST(sum(CASE WHEN isi4 THEN 1 ELSE 0 END) AS BIGINT) AS n_i4
            FROM cls GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            ct.n_pcm, ct.n_i4, fr.qp AS qp,
            coalesce(m16.mode_sum, 0) AS mode_sum,
            coalesce(i4.i4_mode_sum, 0) AS i4_mode_sum,
            coalesce(cm.chroma_mode_sum, 0) AS chroma_mode_sum,
            coalesce(p.pcm_checksum, 0) AS pcm_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN counts ct ON ct.id = fr.id AND ct.frame_idx = fr.frame_idx
          LEFT JOIN m16 ON m16.id = fr.id AND m16.frame_idx = fr.frame_idx
          LEFT JOIN i4m i4 ON i4.id = fr.id AND i4.frame_idx = fr.frame_idx
          LEFT JOIN cmode cm ON cm.id = fr.id AND cm.frame_idx = fr.frame_idx
          LEFT JOIN pcmsum p ON p.id = fr.id AND p.frame_idx = fr.frame_idx
          LEFT JOIN lsums l ON l.id = fr.id AND l.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 B-SLICE decode (the r14 "What's missing" successor to
    //      q309's P path): BIDIRECTIONALLY-predicted pictures with REAL
    //      output reordering — POC type 0 (pic_order_cnt_lsb in every
    //      slice header), transmission order I,P,B,B vs display order
    //      I,B,B,P, non-reference B pictures (nal_ref_idc 0, never
    //      entering the DPB), per-POC reference-list derivation (L0 =
    //      nearest past, L1 = nearest future), Table 7-14's transcribed
    //      head (mb_type 1 B_L0_16x16 / 2 B_L1_16x16 / 3 B_Bi_16x16),
    //      per-list median MV prediction on per-list motion grids, and
    //      the DEFAULT bipredictive sample average (L0+L1+1)>>1 of
    //      §8.4.2.3 on top of q309's quarter-pel MC and residual
    //      machinery. Since r16 the fixture also straddles B_Skip
    //      (mb_skip_run) and B_Direct_16x16 with SPATIAL direct MV
    //      derivation (§8.4.1.2.2: MinPositive refs, median MVP,
    //      directZeroPrediction, per-4x4 colZeroFlag against the
    //      co-located P-frame motion field). Temporal direct and CABAC
    //      stay documented fall-throughs. The oracle re-derives the
    //      B-frame syntax (type/mvd/level checksums, skip/direct
    //      counts, POC plan) in SQL; recon_exact gates BIT-EXACT
    //      planes for all four frames (the I/P bit layers are
    //      independently SQL-gated by q303/q309). Row-local fan-out,
    //      zero shuffle. ----------------------------------------------
    Q("q313_h264_bframes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 37 === 19)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264.encodeBi(id, wMb, hMb, qp)
              val st = H264.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                val isB = f >= 2
                (id, f.toLong, got.poc, got.poc / 2,
                  (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, qp.toLong,
                  if (isB) got.typeSum else 0L,
                  if (isB) got.mvdChecksum else 0L,
                  if (isB) got.levelChecksum else 0L,
                  if (isB) got.nSkip else 0L,
                  if (isB) got.nDirect else 0L,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "poc", "display_idx", "width",
            "height", "n_mbs", "qp", "b_type_sum", "b_mvd_checksum",
            "b_level_checksum", "n_b_skip", "n_direct", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(37, 19)}
          $h264PocFrames
          bmb AS (
            -- MB classes (r16): cls 2 -> B_Skip (no syntax, no levels),
            -- cls 4 -> B_Direct_16x16 (CBP + levels, no mvd), else the
            -- explicit bt 1/2/3 16x16 types
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              (id + frame_idx + m.m) % 7 AS cls,
              1 + (id + frame_idx + m.m) % 3 AS bt,
              CAST((id + frame_idx + m.m) % 8 AS INT) AS cbpidx
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)
            WHERE frame_idx >= 2),
          bsums AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN cls IN (2, 4) THEN 0
                ELSE bt * (mb + 1) END) AS BIGINT) AS b_type_sum,
              CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b_skip,
              CAST(sum(CASE WHEN cls = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_direct,
              CAST(sum(CASE WHEN cls IN (2, 4) THEN 0 ELSE
                (CASE WHEN bt IN (1, 3) THEN
                  (mb * 64 + 1) * (((id + 3 * frame_idx + 5 * mb) % 17) - 8) +
                  (mb * 64 + 3) * (((3 * id + frame_idx + 2 * mb) % 17) - 8)
                 ELSE 0 END) +
                (CASE WHEN bt IN (2, 3) THEN
                  (mb * 64 + 17) * (((id + 3 * frame_idx + 5 * mb + 11) % 17) - 8) +
                  (mb * 64 + 19) * (((3 * id + frame_idx + 2 * mb + 7) % 17) - 8)
                 ELSE 0 END) END) AS BIGINT) AS b_mvd_checksum
            FROM bmb GROUP BY id, frame_idx),
          tags AS (
            SELECT bmb.*,
              list_extract([0, 16, 1, 2, 4, 8, 32, 3], cbpidx + 1) AS cbp,
              CAST(tg.tag AS BIGINT) AS tag,
              CASE WHEN tg.tag BETWEEN 1 AND 16 THEN 16
                   WHEN tg.tag BETWEEN 17 AND 18 THEN 4
                   ELSE 15 END AS ncoeffs
            FROM bmb, UNNEST(range(1, 27)) AS tg(tag)
            WHERE bmb.cls != 2 -- B_Skip MBs carry no residual
              AND ((tg.tag BETWEEN 1 AND 16 AND
                   ((list_extract([0, 16, 1, 2, 4, 8, 32, 3], cbpidx + 1) % 16)
                     >> CAST((tg.tag - 1) // 4 AS INT)) & 1 = 1)
               OR (tg.tag BETWEEN 17 AND 18 AND
                   list_extract([0, 16, 1, 2, 4, 8, 32, 3], cbpidx + 1) // 16 > 0)
               OR (tg.tag BETWEEN 19 AND 26 AND
                   list_extract([0, 16, 1, 2, 4, 8, 32, 3], cbpidx + 1) // 16 = 2))),
          ${h264Levels()}
          lsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS b_level_checksum
            FROM contrib GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.poc AS BIGINT) AS poc,
            CAST(fr.poc // 2 AS BIGINT) AS display_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            fr.qp AS qp,
            coalesce(b.b_type_sum, 0) AS b_type_sum,
            coalesce(b.b_mvd_checksum, 0) AS b_mvd_checksum,
            coalesce(l.b_level_checksum, 0) AS b_level_checksum,
            coalesce(b.n_b_skip, 0) AS n_b_skip,
            coalesce(b.n_direct, 0) AS n_direct,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          LEFT JOIN bsums b ON b.id = fr.id AND b.frame_idx = fr.frame_idx
          LEFT JOIN lsums l ON l.id = fr.id AND l.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 CABAC INTRA decode (VERDICT r15 item 1, q314): the
    //      §9.3 binary arithmetic engine (rangeTabLPS subdivision,
    //      64-state FSM, renorm/bypass/terminate/flush), cabac_
    //      alignment_one_bit, I-slice mb_type / intra-mode / CBP /
    //      mb_qp_delta binarizations with neighbor context increments,
    //      and the full residual chain (coded_block_flag, significance
    //      + last maps, UEG0 coeff_abs_level_minus1 with bypass signs)
    //      under entropy_coding_mode_flag = 1, reusing q303/q307's
    //      prediction + transform machinery unchanged. Context INIT is
    //      the documented uniform stand-in (H264Cabac scope note);
    //      I_NxN CBP sweeps all 48 values (bin-coded, no me(v) bound);
    //      the I_16x16 DC blocks carry wide levels that escape into
    //      the EG0 bypass suffix. The oracle re-derives mode sums, the
    //      CBP sweep, the mb_type BIN-STRING checksum and the level
    //      checksum in SQL; recon_exact gates BIT-EXACT planes.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q314_h264_cabac_intra",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 41 === 23)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val wMb = (2 + id % 2).toInt
              val hMb = (1 + nch % 2).toInt
              val nf = (1 + id % 2).toInt
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264Cabac.encode(id, wMb, hMb, nf, qp)
              val st = H264Cabac.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, got.nI4Mbs, qp.toLong,
                  got.modeSum, got.i4ModeSum, got.chromaModeSum,
                  got.cbpSum, got.binChecksum, got.levelChecksum,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "n_i4",
            "qp", "mode_sum", "i4_mode_sum", "chroma_mode_sum",
            "cbp_sum", "bin_checksum", "level_checksum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(41, 23, wmb = "2 + doc_id % 2")}
          $h264Frames
          $h264MbGrid
          ${h264CabacCls()}
          -- I_16x16 prediction mode, availability-aware (q303 rule)
          ${h264CabacPm16()}
          m16 AS (
            SELECT id, frame_idx,
              CAST(sum(pm) AS BIGINT) AS mode_sum,
              -- mb_type bin-string checksum: 1-bins weighted mb*8+j+1
              -- (j: 0 prefix, 2 cbpL, 3 chroma>0, 4 chroma=2,
              --  5 pm>>1, 6 pm&1; terminate bin j=1 is always 0)
              CAST(sum((mb * 8 + 1) +
                CASE WHEN cbpl15 THEN mb * 8 + 3 ELSE 0 END +
                CASE WHEN cbpc16 > 0 THEN mb * 8 + 4 ELSE 0 END +
                CASE WHEN cbpc16 = 2 THEN mb * 8 + 5 ELSE 0 END +
                CASE WHEN pm // 2 = 1 THEN mb * 8 + 6 ELSE 0 END +
                CASE WHEN pm % 2 = 1 THEN mb * 8 + 7 ELSE 0 END)
                AS BIGINT) AS bin_checksum
            FROM pm16 GROUP BY id, frame_idx),
          ${h264CabacCbpChroma()}
          ${h264I4Modes()}
          -- standard blockLevels contributions: I_16x16 AC + chroma,
          -- I_NxN luma gated per 8x8 CBP bit
          ${h264CabacTags()}
          ${h264Levels()}
          -- WIDE I_16x16 DC contributions (tag 0, magnitudes 1..25)
          ${h264WideDc()}
          lsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM (SELECT * FROM contrib UNION ALL SELECT * FROM widec)
            GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            cb.n_i4, fr.qp AS qp,
            coalesce(m16.mode_sum, 0) AS mode_sum,
            coalesce(i4.i4_mode_sum, 0) AS i4_mode_sum,
            coalesce(cm.chroma_mode_sum, 0) AS chroma_mode_sum,
            cb.cbp_sum,
            coalesce(m16.bin_checksum, 0) AS bin_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN cbps cb ON cb.id = fr.id AND cb.frame_idx = fr.frame_idx
          LEFT JOIN m16 ON m16.id = fr.id AND m16.frame_idx = fr.frame_idx
          LEFT JOIN i4m i4 ON i4.id = fr.id AND i4.frame_idx = fr.frame_idx
          LEFT JOIN cmode cm ON cm.id = fr.id AND cm.frame_idx = fr.frame_idx
          LEFT JOIN lsums l ON l.id = fr.id AND l.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 CABAC INTER decode (q316 — the entropy-coding
    //      completion of q309: P slices under entropy_coding_mode 1,
    //      the profile real corpora actually use): per-MB mb_skip_flag
    //      with availability contexts (replacing CAVLC's skip runs),
    //      the Table 9-37 P mb_type tree, sub_mb_type, unary ref_idx
    //      with refIdx>0 neighbor conditions, UEG3 mvd with the
    //      |mvdA|+|mvdB| bucket contexts over per-cell mvd grids,
    //      bin-coded CBP sweeping ALL 48 values (CAVLC was bounded by
    //      the transcribed me(v) head), and the q314 residual chain
    //      with the inter coded_block_flag neighbor rule
    //      (§9.3.3.1.1.9's unavailable→0 flip). Frame 0 is a full
    //      q314 CABAC intra IDR; motion machinery (median MVP,
    //      P_Skip inference, quarter-pel MC, 2-frame DPB) is q309's,
    //      unchanged. The oracle re-derives BOTH constructions in
    //      SQL: the intra frame's mode/cbp/bin/level sums and the P
    //      frames' skip/type/ref/mvd/cbp48/level sums; recon_exact
    //      gates bit-exact planes through the whole prediction chain.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q316_h264_cabac_inter",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 47 === 19)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val nf = H264.ConstructP.nFrames(id)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) =
                H264CabacInter.encodeInter(id, wMb, hMb, nf, qp)
              val st = H264CabacInter.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, qp.toLong,
                  if (f == 0) 1L else 0L, got.nI4Mbs, got.modeSum,
                  got.i4ModeSum, got.chromaModeSum, got.binChecksum,
                  got.nSkip, got.typeSum, got.refSum, got.mvdChecksum,
                  got.cbpSum, got.levelChecksum, if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "n_mbs", "qp",
            "is_intra", "n_i4", "mode_sum", "i4_mode_sum",
            "chroma_mode_sum", "bin_checksum", "n_skip", "type_sum",
            "ref_sum", "mvd_checksum", "cbp_sum", "level_checksum",
            "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h264Docs(47, 19)}
          fr AS (
            SELECT id, wmb, hmb, qp, CAST(t.f AS BIGINT) AS frame_idx
            FROM d, UNNEST(range(0, 3 + id % 2)) AS t(f)),
          -- ============ frame 0: the q314 CABAC intra construction
          imb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              CAST(m.m % wmb AS BIGINT) AS mbx,
              CAST(m.m // wmb AS BIGINT) AS mby
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)
            WHERE frame_idx = 0),
          ${h264CabacCls("i")}
          ${h264CabacPm16("i")}
          im16 AS (
            SELECT id, frame_idx,
              CAST(sum(pm) AS BIGINT) AS mode_sum,
              CAST(sum((mb * 8 + 1) +
                CASE WHEN cbpl15 THEN mb * 8 + 3 ELSE 0 END +
                CASE WHEN cbpc16 > 0 THEN mb * 8 + 4 ELSE 0 END +
                CASE WHEN cbpc16 = 2 THEN mb * 8 + 5 ELSE 0 END +
                CASE WHEN pm // 2 = 1 THEN mb * 8 + 6 ELSE 0 END +
                CASE WHEN pm % 2 = 1 THEN mb * 8 + 7 ELSE 0 END)
                AS BIGINT) AS bin_checksum
            FROM ipm16 GROUP BY id, frame_idx),
          ${h264CabacCbpChroma("i")}
          ${h264I4Modes("i")}
          ${h264CabacTags("i")}
          ${h264Levels("i")}
          ${h264WideDc("i")}
          ilsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM (SELECT * FROM icontrib UNION ALL SELECT * FROM iwidec)
            GROUP BY id, frame_idx),
          -- ============ P frames: q309's construction + cbp48 sweep
          pmb AS (
            SELECT fr.*, CAST(m.m AS BIGINT) AS mb,
              (id + frame_idx + m.m) % 5 = 1 AS skip,
              CAST((id + 2 * frame_idx + m.m) % 4 AS BIGINT) AS pt,
              CASE WHEN frame_idx >= 2 THEN 2 ELSE 1 END AS nrefs,
              CAST((id + 5 * frame_idx + 29 * m.m) % 48 AS BIGINT) AS cbp
            FROM fr, UNNEST(range(0, wmb * hmb)) AS m(m)
            WHERE frame_idx >= 1),
          pcoded AS (
            SELECT *,
              CASE pt WHEN 0 THEN 1 WHEN 3 THEN 4 ELSE 2 END AS np
            FROM pmb WHERE NOT skip),
          pparts AS (
            SELECT pcoded.*, CAST(pp.p AS BIGINT) AS part,
              CAST(((id + 3 * frame_idx + 5 * mb + 7 * pp.p) % 41) - 20
                AS BIGINT) AS mvdx,
              CAST(((3 * id + frame_idx + 2 * mb + 5 * pp.p) % 41) - 20
                AS BIGINT) AS mvdy,
              CASE WHEN nrefs = 2 THEN (id + mb + pp.p) % 2 ELSE 0 END AS ref
            FROM pcoded, UNNEST(range(0, np)) AS pp(p)),
          ppsums AS (
            SELECT id, frame_idx,
              CAST(sum((mb * 64 + part * 8 + 1) * mvdx +
                       (mb * 64 + part * 8 + 3) * mvdy) AS BIGINT)
                AS mvd_checksum,
              CAST(sum(ref * (mb + 1)) AS BIGINT) AS ref_sum
            FROM pparts GROUP BY id, frame_idx),
          pmsums AS (
            SELECT id, frame_idx,
              CAST(sum((pt + 1) * (mb + 1)) AS BIGINT) AS type_sum,
              CAST(sum(cbp * (mb + 1)) AS BIGINT) AS cbp_sum
            FROM pcoded GROUP BY id, frame_idx),
          pssums AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skip
            FROM pmb GROUP BY id, frame_idx),
          ${h264InterTags("p")}
          ${h264Levels("p")}
          plsums AS (
            SELECT id, frame_idx, CAST(sum(c) AS BIGINT) AS level_checksum
            FROM pcontrib GROUP BY id, frame_idx)
          SELECT fr.id, fr.frame_idx,
            CAST(fr.wmb * 16 AS BIGINT) AS width,
            CAST(fr.hmb * 16 AS BIGINT) AS height,
            CAST(fr.wmb * fr.hmb AS BIGINT) AS n_mbs,
            fr.qp AS qp,
            CASE WHEN fr.frame_idx = 0 THEN 1 ELSE 0 END AS is_intra,
            coalesce(icb.n_i4, 0) AS n_i4,
            coalesce(im.mode_sum, 0) AS mode_sum,
            coalesce(ii4.i4_mode_sum, 0) AS i4_mode_sum,
            coalesce(icm.chroma_mode_sum, 0) AS chroma_mode_sum,
            coalesce(im.bin_checksum, 0) AS bin_checksum,
            coalesce(pss.n_skip, 0) AS n_skip,
            coalesce(pms.type_sum, 0) AS type_sum,
            coalesce(pps.ref_sum, 0) AS ref_sum,
            coalesce(pps.mvd_checksum, 0) AS mvd_checksum,
            coalesce(icb.cbp_sum, pms.cbp_sum, 0) AS cbp_sum,
            coalesce(il.level_checksum, pl.level_checksum, 0)
              AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          LEFT JOIN icbps icb ON icb.id = fr.id AND icb.frame_idx = fr.frame_idx
          LEFT JOIN im16 im ON im.id = fr.id AND im.frame_idx = fr.frame_idx
          LEFT JOIN ii4m ii4 ON ii4.id = fr.id AND ii4.frame_idx = fr.frame_idx
          LEFT JOIN icmode icm ON icm.id = fr.id AND icm.frame_idx = fr.frame_idx
          LEFT JOIN ilsums il ON il.id = fr.id AND il.frame_idx = fr.frame_idx
          LEFT JOIN pssums pss ON pss.id = fr.id AND pss.frame_idx = fr.frame_idx
          LEFT JOIN pmsums pms ON pms.id = fr.id AND pms.frame_idx = fr.frame_idx
          LEFT JOIN ppsums pps ON pps.id = fr.id AND pps.frame_idx = fr.frame_idx
          LEFT JOIN plsums pl ON pl.id = fr.id AND pl.frame_idx = fr.frame_idx
          ORDER BY fr.id, fr.frame_idx""")),

    // ---- H.264 CABAC B-SLICES (q317 — q313's alphabet under
    //      entropy_coding_mode 1, closing the CABAC video surface up
    //      to temporal direct): per-MB mb_skip_flag with the B
    //      contexts, the Table 9-37 B mb_type tree ('0' direct, '100'
    //      L0, '101' L1, '110000' Bi) whose bin-0 condition counts
    //      only EXPLICIT inter neighbors, per-list UEG3 mvd contexts
    //      over per-list grids, bin-coded CBP (full 48 sweep also in
    //      B — new b_cbp_sum gate), spatial direct (MinPositive refs,
    //      per-cell colZeroFlag vs the P frame's motion field),
    //      default biprediction and POC-type-0 reordering — all the
    //      motion/recon machinery shared with q313 unchanged. The
    //      oracle re-derives the B frames' type/mvd/cbp/level sums;
    //      recon_exact gates bit-exact planes on ALL four frames
    //      (I and P carry their own gates in q314/q316).
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q317_h264_cabac_bframes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 53 === 23)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264CabacInter.encodeBi(id, wMb, hMb, qp)
              val st = H264CabacInter.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                val isB = f >= 2
                (id, f.toLong, got.poc, got.poc / 2,
                  (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, qp.toLong,
                  if (isB) got.typeSum else 0L,
                  if (isB) got.mvdChecksum else 0L,
                  if (isB) got.cbpSum else 0L,
                  if (isB) got.levelChecksum else 0L,
                  if (isB) got.nSkip else 0L,
                  if (isB) got.nDirect else 0L,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "poc", "display_idx", "width",
            "height", "n_mbs", "qp", "b_type_sum", "b_mvd_checksum",
            "b_cbp_sum", "b_level_checksum", "n_b_skip", "n_direct",
            "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(h264CabacBOracle(53, 23))),

    // ---- H.264 TEMPORAL DIRECT under CABAC (q318 — the LAST H.264
    //      alphabet fall-through): the same I/P/B/B plan as q317 with
    //      direct_spatial_mv_pred_flag = 0, so every B_Skip and
    //      B_Direct_16x16 macroblock derives its motion by POC-
    //      distance scaling of the co-located P-frame cell's MV
    //      (§8.4.1.2.3: tx = (16384+|td/2|)/td, DistScaleFactor =
    //      clip((tb*tx+32)>>6), mvL0 = (DSF*mvCol+128)>>8, mvL1 =
    //      mvL0 - mvCol, biprediction always on). The transmitted
    //      syntax is identical to q317's (the derivation is decoder-
    //      side), so the oracle re-derives the same type/mvd/cbp/
    //      level sums from the construction on a DIFFERENT document
    //      slice and the discriminating gate is recon_exact: planes
    //      must be bit-exact through the temporal MV scaling on both
    //      B frames. Row-local fan-out, zero shuffle. -------------------
    Q("q318_h264_cabac_tdirect",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 59 === 29)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val (wMb, hMb) = H264.ConstructH.dims(id, nch)
              val qp = H264.ConstructH.qp(id)
              val (bytes, expect) = H264CabacInter.encodeBi(id, wMb, hMb, qp, spatial = false)
              val st = H264CabacInter.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                val isB = f >= 2
                (id, f.toLong, got.poc, got.poc / 2,
                  (wMb * 16).toLong, (hMb * 16).toLong,
                  (wMb * hMb).toLong, qp.toLong,
                  if (isB) got.typeSum else 0L,
                  if (isB) got.mvdChecksum else 0L,
                  if (isB) got.cbpSum else 0L,
                  if (isB) got.levelChecksum else 0L,
                  if (isB) got.nSkip else 0L,
                  if (isB) got.nDirect else 0L,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "poc", "display_idx", "width",
            "height", "n_mbs", "qp", "b_type_sum", "b_mvd_checksum",
            "b_cbp_sum", "b_level_checksum", "n_b_skip", "n_direct",
            "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(h264CabacBOracle(59, 29))),

    // ---- H.265/HEVC INTRA decode (VERDICT r15 item 8, q315): CTB-32
    //      coding quadtree (split_cu_flag with neighbor-depth
    //      contexts), PART_2Nx2N CUs 8..32 plus PART_NxN at 8x8 (the
    //      spec's only 4x4-DST producer), all 35 intra modes through
    //      the 3-candidate MPM chain, HEVC residual coding (last_sig
    //      prefix/suffix, coefficient groups, pattern-based sig
    //      contexts, gt1/gt2 sets, adaptive Golomb-Rice remainder)
    //      over the SAME arithmetic engine as q314 (HEVC §9.3.4.3 ==
    //      H.264 §9.3 tables), uniform-init contexts documented in
    //      H265's scope note. The oracle re-derives the quadtree, the
    //      per-PU mode/chroma-candidate substitution, cbf layout, and
    //      the last-position/level checksums from the construction
    //      formulas in SQL; recon_exact gates BIT-EXACT planes through
    //      prediction + DST/DCT inverse transforms both directions.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q315_h265_intra",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 43 === 17)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val wCtb = (2 + id % 2).toInt
              val hCtb = (1 + nch % 2).toInt
              val nf = (1 + (id + nch) % 2).toInt
              val qp = H265.ConstructV.qp(id)
              val (bytes, expect) = H265.encode(id, wCtb, hCtb, nf, qp)
              val st = H265.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wCtb * 32).toLong, (hCtb * 32).toLong,
                  qp.toLong, (wCtb * hCtb).toLong, got.nCus, got.nNxN,
                  got.splitSum, got.modeSum, got.chromaModeSum,
                  got.cbfSum, got.lastChecksum, got.levelChecksum,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "qp", "n_ctus",
            "n_cus", "n_nxn", "split_sum", "mode_sum",
            "chroma_mode_sum", "cbf_sum", "last_checksum",
            "level_checksum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h265Docs(43, 17)}
          fr AS (
            SELECT id, wctb, hctb, qp, CAST(t.f AS BIGINT) AS f
            FROM d, UNNEST(range(0, 1 + (id + n_chars) % 2)) AS t(f)),
          $h265Ctu
          $h265Quads
          -- the coding-quadtree leaves at their three sizes
          $h265Cus
          cuk AS (
            SELECT cus.*, (cuy // 8) * 16 + (cux // 8) AS cukey,
              log2s = 3 AND (id + (cuy // 8) * 16 + (cux // 8)) % 3 = 0
                AS nxn
            FROM cus),
          $h265Splits
          -- luma PUs: one for 2Nx2N, four for NxN
          pus AS (
            SELECT cuk.*, CAST(t.s2 AS BIGINT) AS s2,
              (id + f + (cux // 8) + 2 * (cuy // 8) + log2s + 2 * t.s2)
                % 35 AS pmode
            FROM cuk, UNNEST(range(0, 4)) AS t(s2)
            WHERE t.s2 < CASE WHEN nxn THEN 4 ELSE 1 END),
          msums AS (
            SELECT id, f,
              CAST(sum(pmode * (cukey * 8 + s2 + 1)) AS BIGINT)
                AS mode_sum,
              CAST(count(*) FILTER (WHERE s2 = 0) AS BIGINT) AS n_cus,
              CAST(count(*) FILTER (WHERE s2 = 0 AND nxn) AS BIGINT)
                AS n_nxn
            FROM pus GROUP BY id, f),
          -- chroma mode: candidate list {planar,26,10,DC} with the
          -- duplicate-of-luma slot replaced by 34; icpm 4 = derived
          cmodes AS (
            SELECT cuk.*, icpm,
              CASE WHEN icpm = 4 THEN pm0
                   WHEN cand = pm0 THEN 34 ELSE cand END AS cmode
            FROM (
              SELECT cuk.*,
                (id + f + (cux // 8) + (cuy // 8)) % 5 AS icpm,
                (id + f + (cux // 8) + 2 * (cuy // 8) + log2s) % 35
                  AS pm0,
                list_extract([0, 26, 10, 1],
                  CAST((id + f + (cux // 8) + (cuy // 8)) % 5 AS INT)
                    % 4 + 1) AS cand
              FROM cuk) cuk),
          csums AS (
            SELECT id, f,
              CAST(sum(cmode * (cukey + 1)) AS BIGINT)
                AS chroma_mode_sum
            FROM cmodes GROUP BY id, f),
          -- TUs: luma s2 (0 or 0..3 under NxN), chroma cb=4 / cr=5;
          -- coded iff (id + cukey + s2) % 4 != 3
          tus AS (
            SELECT cuk.*, CAST(t.s2 AS BIGINT) AS s2,
              cukey * 8 + t.s2 AS tag,
              CASE WHEN t.s2 >= 4 THEN (1 << (log2s - 1))
                   WHEN nxn THEN 4 ELSE (1 << log2s) END AS ntbs
            FROM cuk, UNNEST(range(0, 6)) AS t(s2)
            WHERE (t.s2 >= 4 OR t.s2 < CASE WHEN nxn THEN 4 ELSE 1 END)
              AND (id + cukey + t.s2) % 4 != 3),
          $h265Levels
          SELECT fr.id, fr.f AS frame_idx,
            CAST(fr.wctb * 32 AS BIGINT) AS width,
            CAST(fr.hctb * 32 AS BIGINT) AS height,
            fr.qp AS qp,
            CAST(fr.wctb * fr.hctb AS BIGINT) AS n_ctus,
            m.n_cus, m.n_nxn,
            coalesce(s.s32, 0) + coalesce(s16.s16, 0) AS split_sum,
            m.mode_sum,
            c.chroma_mode_sum,
            coalesce(cb.cbf_sum, 0) AS cbf_sum,
            coalesce(cb.last_checksum, 0) AS last_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN msums m ON m.id = fr.id AND m.f = fr.f
          JOIN csums c ON c.id = fr.id AND c.f = fr.f
          LEFT JOIN splits s ON s.id = fr.id AND s.f = fr.f
          LEFT JOIN splits16 s16 ON s16.id = fr.id AND s16.f = fr.f
          LEFT JOIN cbfsums cb ON cb.id = fr.id AND cb.f = fr.f
          LEFT JOIN lsums l ON l.id = fr.id AND l.f = fr.f
          ORDER BY fr.id, fr.f""")),

    // ---- H.265/HEVC INTER P-slices (q319 — the north-star video
    //      surface's next rung after q315; the remaining stub is HEVC
    //      B): cu_skip_flag with neighbor contexts, pred_mode_flag
    //      (intra CUs inside P slices decode through q315's machinery
    //      unchanged), merge_flag + merge_idx over the SPATIAL
    //      A1/B1/B0/A0/B2 candidate list with pairwise pruning and
    //      zero fill (MaxNumMergeCand 3; TMVP off in the SPS so no
    //      temporal candidate exists), AMVP (A then B scan, duplicate
    //      collapse, mvp_l0_flag) with HEVC mvd_coding (greater0/
    //      greater1 contexts + EG1 bypass remainder), rqt_root_cbf
    //      with the §7.3.8.8 cbf_luma INFERENCE when both chroma cbfs
    //      are zero, quarter-pel luma MC through the published 8-tap
    //      DCT-IF filters and eighth-pel 4-tap chroma (|mvd| to 18
    //      quarter-pels sweeps every fractional phase), and q315's
    //      residual coder on the diagonal scan. The oracle re-derives
    //      the quadtree, CU classes, merge-index/mvd/root-cbf sums
    //      and the unified intra+inter TU checksums in SQL;
    //      recon_exact gates BIT-EXACT planes through candidate
    //      derivation + interpolation. Row-local, zero shuffle. ---------
    Q("q319_h265_inter",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 61 === 31)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val wCtb = (2 + id % 2).toInt
              val hCtb = (1 + nch % 2).toInt
              val nf = (2 + (id + nch) % 2).toInt
              val qp = H265.ConstructV.qp(id)
              val (bytes, expect) = H265Inter.encode(id, wCtb, hCtb, nf, qp)
              val st = H265Inter.decode(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wCtb * 32).toLong, (hCtb * 32).toLong,
                  qp.toLong, (wCtb * hCtb).toLong, got.nCus, got.nNxN,
                  got.splitSum, got.modeSum, got.chromaModeSum,
                  got.cbfSum, got.lastChecksum, got.levelChecksum,
                  got.nSkipCu, got.nMergeCu, got.nAmvpCu, got.nIntraCu,
                  got.mergeIdxSum, got.mvdChecksum, got.rootCbfSum,
                  if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "qp", "n_ctus",
            "n_cus", "n_nxn", "split_sum", "mode_sum",
            "chroma_mode_sum", "cbf_sum", "last_checksum",
            "level_checksum", "n_skip_cu", "n_merge_cu", "n_amvp_cu",
            "n_intra_cu", "merge_idx_sum", "mvd_checksum",
            "root_cbf_sum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h265Docs(61, 31)}
          fr AS (
            SELECT id, wctb, hctb, qp, CAST(t.f AS BIGINT) AS f
            FROM d, UNNEST(range(0, 2 + (id + n_chars) % 2)) AS t(f)),
          $h265Ctu
          $h265Quads
          $h265Cus
          -- CU classes: frame 0 is all-intra; P frames split 5 ways
          cuk AS (
            SELECT cus.*, (cuy // 8) * 16 + (cux // 8) AS cukey,
              CASE WHEN f = 0 THEN 2
                   ELSE (id + f + (cuy // 8) * 16 + (cux // 8)) % 5
                   END AS cls,
              f = 0 OR (id + f + (cuy // 8) * 16 + (cux // 8)) % 5 = 2
                AS isintra
            FROM cus),
          cuki AS (
            SELECT cuk.*,
              log2s = 3 AND isintra AND (id + cukey) % 3 = 0 AS nxn,
              cls IN (1, 3, 4) AND (id + f + cukey) % 4 != 3 AS rootcbf
            FROM cuk),
          $h265Splits
          clssums AS (
            SELECT id, f,
              CAST(count(*) AS BIGINT) AS n_cus,
              CAST(count(*) FILTER (WHERE nxn) AS BIGINT) AS n_nxn,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 0) AS BIGINT)
                AS n_skip_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 1) AS BIGINT)
                AS n_merge_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls IN (3, 4))
                AS BIGINT) AS n_amvp_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 2) AS BIGINT)
                AS n_intra_cu,
              CAST(sum(CASE WHEN f > 0 AND cls IN (0, 1)
                THEN ((id + cukey) % 3) * (cukey + 1) ELSE 0 END)
                AS BIGINT) AS merge_idx_sum,
              CAST(sum(CASE WHEN f > 0 AND cls IN (3, 4) THEN
                  (((id + 3 * f + 5 * cukey) % 37) - 18) * (cukey * 4 + 1) +
                  (((3 * id + f + 2 * cukey) % 37) - 18) * (cukey * 4 + 3)
                ELSE 0 END) AS BIGINT) AS mvd_checksum,
              CAST(sum(CASE WHEN rootcbf THEN cukey + 1 ELSE 0 END)
                AS BIGINT) AS root_cbf_sum
            FROM cuki GROUP BY id, f),
          $h265InterModes
          $h265Levels
          SELECT fr.id, fr.f AS frame_idx,
            CAST(fr.wctb * 32 AS BIGINT) AS width,
            CAST(fr.hctb * 32 AS BIGINT) AS height,
            fr.qp AS qp,
            CAST(fr.wctb * fr.hctb AS BIGINT) AS n_ctus,
            cl.n_cus, cl.n_nxn,
            coalesce(s.s32, 0) + coalesce(s16.s16, 0) AS split_sum,
            coalesce(m.mode_sum, 0) AS mode_sum,
            coalesce(c.chroma_mode_sum, 0) AS chroma_mode_sum,
            coalesce(cb.cbf_sum, 0) AS cbf_sum,
            coalesce(cb.last_checksum, 0) AS last_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            cl.n_skip_cu, cl.n_merge_cu, cl.n_amvp_cu, cl.n_intra_cu,
            cl.merge_idx_sum, cl.mvd_checksum,
            cl.root_cbf_sum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN clssums cl ON cl.id = fr.id AND cl.f = fr.f
          LEFT JOIN splits s ON s.id = fr.id AND s.f = fr.f
          LEFT JOIN splits16 s16 ON s16.id = fr.id AND s16.f = fr.f
          LEFT JOIN msums m ON m.id = fr.id AND m.f = fr.f
          LEFT JOIN csums c ON c.id = fr.id AND c.f = fr.f
          LEFT JOIN cbfsums cb ON cb.id = fr.id AND cb.f = fr.f
          LEFT JOIN lsums l ON l.id = fr.id AND l.f = fr.f
          ORDER BY fr.id, fr.f""")),

    // ---- H.265/HEVC B-SLICES (q320 — the video stub surface is now
    //      EMPTY): a fixed I/P/B group (decode order; display I,B,P)
    //      where the non-reference TRAIL_N B picture carries two
    //      reference lists (L0 = the I frame, L1 = the P frame),
    //      inter_pred_idc with the depth-keyed bin-0 context,
    //      per-list HEVC mvd_coding + mvp flags, the B merge list
    //      (full-motion spatial pruning + COMBINED bi-predictive
    //      candidates + bi zero fill), and DEFAULT BI-PREDICTION that
    //      averages the two lists' unrounded 14-bit DCT-IF
    //      intermediates per §8.5.4.2.3 (the mcRaw/mc split exists
    //      for exactly this). Skip/merge/L0/L1/BI/intra CU classes
    //      all occur; the oracle re-derives every per-frame sum
    //      (including pred_idc and the per-list mvd terms) and
    //      recon_exact gates bit-exact planes through bi-prediction.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q320_h265_bframes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 67 === 37)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .mapPartitions { it =>
            it.flatMap { case (id, nch) =>
              val wCtb = (2 + id % 2).toInt
              val hCtb = (1 + nch % 2).toInt
              val qp = H265.ConstructV.qp(id)
              val (bytes, expect) = H265Inter.encodeGop(id, wCtb, hCtb, qp)
              val st = H265Inter.decodeGop(bytes).get
              st.frames.zip(expect).zipWithIndex.map { case ((got, exp), f) =>
                val exact = got.y.sameElements(exp.y) &&
                  got.cb.sameElements(exp.cb) && got.cr.sameElements(exp.cr)
                (id, f.toLong, (wCtb * 32).toLong, (hCtb * 32).toLong,
                  qp.toLong, got.nCus, got.nNxN,
                  got.splitSum, got.modeSum, got.chromaModeSum,
                  got.cbfSum, got.lastChecksum, got.levelChecksum,
                  got.nSkipCu, got.nMergeCu, got.nAmvpCu, got.nIntraCu,
                  got.mergeIdxSum, got.mvdChecksum, got.rootCbfSum,
                  got.predIdcSum, if (exact) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "width", "height", "qp",
            "n_cus", "n_nxn", "split_sum", "mode_sum",
            "chroma_mode_sum", "cbf_sum", "last_checksum",
            "level_checksum", "n_skip_cu", "n_merge_cu", "n_amvp_cu",
            "n_intra_cu", "merge_idx_sum", "mvd_checksum",
            "root_cbf_sum", "pred_idc_sum", "recon_exact")
          .orderBy($"id", $"frame_idx")
      },
      Some(s"""${h265Docs(67, 37)}
          fr AS (
            SELECT id, wctb, hctb, qp, CAST(t.f AS BIGINT) AS f
            FROM d, UNNEST(range(0, 3)) AS t(f)),
          $h265Ctu
          $h265Quads
          $h265Cus
          -- CU classes: frame 0 is all-intra; P frames split 5 ways
          cuk AS (
            SELECT cus.*, (cuy // 8) * 16 + (cux // 8) AS cukey,
              CASE WHEN f = 0 THEN 2
                   WHEN f = 1 THEN
                     (id + f + (cuy // 8) * 16 + (cux // 8)) % 5
                   ELSE (id + f + (cuy // 8) * 16 + (cux // 8)) % 6
                   END AS cls
            FROM cus),
          cukx AS (
            SELECT cuk.*, f = 0 OR cls = 2 AS isintra
            FROM cuk),
          cuki AS (
            SELECT cukx.*,
              log2s = 3 AND isintra AND (id + cukey) % 3 = 0 AS nxn,
              NOT isintra AND cls != 0 AND (id + f + cukey) % 4 != 3
                AS rootcbf
            FROM cukx),
          $h265Splits
          clssums AS (
            SELECT id, f,
              CAST(count(*) AS BIGINT) AS n_cus,
              CAST(count(*) FILTER (WHERE nxn) AS BIGINT) AS n_nxn,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 0) AS BIGINT)
                AS n_skip_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 1) AS BIGINT)
                AS n_merge_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls >= 3)
                AS BIGINT) AS n_amvp_cu,
              CAST(count(*) FILTER (WHERE f > 0 AND cls = 2) AS BIGINT)
                AS n_intra_cu,
              CAST(sum(CASE WHEN f > 0 AND cls IN (0, 1)
                THEN ((id + cukey) % 3) * (cukey + 1) ELSE 0 END)
                AS BIGINT) AS merge_idx_sum,
              CAST(sum(CASE
                WHEN f = 1 AND cls IN (3, 4) THEN
                  (((id + 3 * f + 5 * cukey) % 37) - 18) * (cukey * 4 + 1) +
                  (((3 * id + f + 2 * cukey) % 37) - 18) * (cukey * 4 + 3)
                WHEN f = 2 AND cls IN (3, 5) THEN
                  (((id + 3 * f + 5 * cukey) % 37) - 18) * (cukey * 8 + 1) +
                  (((3 * id + f + 2 * cukey) % 37) - 18) * (cukey * 8 + 3) +
                  CASE WHEN cls = 5 THEN
                    (((id + 5 * f + 7 * cukey) % 37) - 18) * (cukey * 8 + 5) +
                    (((5 * id + 3 * f + cukey) % 37) - 18) * (cukey * 8 + 7)
                  ELSE 0 END
                WHEN f = 2 AND cls = 4 THEN
                  (((id + 5 * f + 7 * cukey) % 37) - 18) * (cukey * 8 + 5) +
                  (((5 * id + 3 * f + cukey) % 37) - 18) * (cukey * 8 + 7)
                ELSE 0 END) AS BIGINT) AS mvd_checksum,
              CAST(sum(CASE WHEN rootcbf THEN cukey + 1 ELSE 0 END)
                AS BIGINT) AS root_cbf_sum,
              CAST(sum(CASE WHEN f = 2 AND cls >= 3
                THEN (cls - 2) * (cukey + 1) ELSE 0 END) AS BIGINT)
                AS pred_idc_sum
            FROM cuki GROUP BY id, f),
          $h265InterModes
          $h265Levels
          SELECT fr.id, fr.f AS frame_idx,
            CAST(fr.wctb * 32 AS BIGINT) AS width,
            CAST(fr.hctb * 32 AS BIGINT) AS height,
            fr.qp AS qp,
            cl.n_cus, cl.n_nxn,
            coalesce(s.s32, 0) + coalesce(s16.s16, 0) AS split_sum,
            coalesce(m.mode_sum, 0) AS mode_sum,
            coalesce(c.chroma_mode_sum, 0) AS chroma_mode_sum,
            coalesce(cb.cbf_sum, 0) AS cbf_sum,
            coalesce(cb.last_checksum, 0) AS last_checksum,
            coalesce(l.level_checksum, 0) AS level_checksum,
            cl.n_skip_cu, cl.n_merge_cu, cl.n_amvp_cu, cl.n_intra_cu,
            cl.merge_idx_sum, cl.mvd_checksum,
            cl.root_cbf_sum, cl.pred_idc_sum,
            CAST(1 AS BIGINT) AS recon_exact
          FROM fr
          JOIN clssums cl ON cl.id = fr.id AND cl.f = fr.f
          LEFT JOIN splits s ON s.id = fr.id AND s.f = fr.f
          LEFT JOIN splits16 s16 ON s16.id = fr.id AND s16.f = fr.f
          LEFT JOIN msums m ON m.id = fr.id AND m.f = fr.f
          LEFT JOIN csums c ON c.id = fr.id AND c.f = fr.f
          LEFT JOIN cbfsums cb ON cb.id = fr.id AND cb.f = fr.f
          LEFT JOIN lsums l ON l.id = fr.id AND l.f = fr.f
          ORDER BY fr.id, fr.f""")),

    // ---- MP2 STEREO + Table-B.2b operating point + the PERFECT-
    //      RECONSTRUCTION gate (VERDICT r14 item 3): q302's sibling at
    //      32 kHz / 192 kbit/s / STEREO — Table B.2b's sblimit 30, the
    //      §2.4.1.6 subband-major/channel-minor bit layout, per-channel
    //      scfsi/scale-factor/sample paths with the two channels
    //      allocating DIFFERENT subbands (ConstructS keys by 2·id+ch),
    //      and per-channel polyphase synthesis state. code_checksum
    //      gates the full bit chain per channel against the oracle's
    //      independent SQL replay of allocate→quantize→pack; requant_ok
    //      bounds decoded subbands in-row. pr_ok closes r14's open
    //      deviation: the construction-inverse ANALYSIS filterbank run
    //      against the (r15-corrected π/64) synthesis must reconstruct
    //      a deterministic per-id probe to within Mp2.PrBound of a
    //      delayed identity — the analysis∘synthesis bound that makes
    //      the computed window's PCM path gateable end-to-end.
    //      Row-local fan-out, zero shuffle. ------------------------------
    Q("q310_mp2_stereo",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 23 === 11)
          .select($"doc_id")
          .as[Long].fanout
          .mapPartitions { it =>
            it.flatMap { id =>
              val nf = (2 + id % 2).toInt
              val specs = (0 until nf).map(f =>
                IndexedSeq(Mp2.ConstructS.frameSpec(id * 2, f),
                  Mp2.ConstructS.frameSpec(id * 2 + 1, f)))
              val bytes = Mp2.encodeFrames(Mp2.OpStereo32, specs)
              val st = Mp2.decode(bytes).get
              // analysis∘synthesis PR probe, once per id
              val probe = Array.tabulate(2048) { t =>
                math.sin(2 * math.Pi * t * (1 + id % 5) / 256.0) +
                  0.3 * math.sin(2 * math.Pi * t * (3 + id % 11) / 37.0)
              }
              val prOk = Mp2.prError(probe) < Mp2.PrBound
              for {
                (chFrames, fi) <- st.frames.zipWithIndex
                (fr, ch) <- chFrames.zipWithIndex
              } yield {
                val id2 = id * 2 + ch
                var nAlloc = 0L
                var nlevSum = 0L
                var sfSum = 0L
                var checksum = 0L
                var requantOk = 1L
                var sb = 0
                while (sb < Mp2.OpStereo32.sblimit) {
                  val nlev = fr.allocNlevels(sb)
                  if (nlev != 0) {
                    nAlloc += 1
                    nlevSum += nlev
                    sfSum += fr.sfIdx(sb)(0)
                    if (!fr.sfIdx(sb).forall(_ == fr.sfIdx(sb)(0)))
                      requantOk = 0
                    val q = Mp2.quantClass(nlev)
                    val sf = Mp2.scaleFactor(Mp2.ConstructS.sfIdx(id2, sb))
                    val bound = Mp2.quantBound(q) * sf * (1 + 1e-9) + 1e-12
                    var t = 0
                    while (t < 36) {
                      checksum += fr.codes(sb)(t).toLong * (sb * 36 + t + 1)
                      if (math.abs(fr.subband(sb)(t) -
                          Mp2.ConstructS.u(id2, fi, sb, t) * sf) > bound)
                        requantOk = 0
                      t += 1
                    }
                  } else if (fr.subband(sb).exists(_ != 0.0)) requantOk = 0
                  sb += 1
                }
                (id, fi.toLong, ch.toLong, st.sampleRate.toLong,
                  st.channels.toLong, nAlloc, nlevSum, sfSum, checksum,
                  requantOk, if (prOk) 1L else 0L)
              }
            }
          }
          .toDF("id", "frame_idx", "ch", "sample_rate", "channels",
            "n_alloc", "nlevels_sum", "sf_sum", "code_checksum",
            "requant_ok", "pr_ok")
          .orderBy($"id", $"frame_idx", $"ch")
      },
      Some(s"""WITH fr AS (
            SELECT doc_id AS id, CAST(t.f AS BIGINT) AS frame_idx,
              CAST(c.c AS BIGINT) AS ch,
              doc_id * 2 + c.c AS id2
            FROM documents,
              UNNEST(range(0, 2 + doc_id % 2)) AS t(f),
              UNNEST(range(0, 2)) AS c(c)
            WHERE doc_id % 23 = 11),
          cell AS (
            SELECT id, frame_idx, ch, id2, sb.sb AS sb, tt.t AS t,
              CASE
                WHEN (id2 + frame_idx + sb.sb) % 2 = 1 THEN 0
                WHEN sb.sb = 0 THEN list_extract([0,3,7,15],
                  CAST(1 + (id2 + frame_idx) % 3 AS INT) + 1)
                WHEN sb.sb = 3 THEN list_extract([0,3,5,7,9,15],
                  CAST(1 + (id2 + frame_idx * 5) % 5 AS INT) + 1)
                WHEN sb.sb < 3 THEN list_extract([0,3,7,15],
                  CAST(1 + (id2 + sb.sb * 3 + frame_idx) % 3 AS INT) + 1)
                WHEN sb.sb < 23 THEN list_extract([0,3,5,7],
                  CAST(1 + (id2 + sb.sb * 3 + frame_idx) % 3 AS INT) + 1)
                ELSE list_extract([0,3,5],
                  CAST(1 + (id2 + sb.sb * 3 + frame_idx) % 2 AS INT) + 1)
              END AS nlev,
              (id2 * 7 + sb.sb * 5) % 63 AS sfi,
              ((id2 * 29 + frame_idx * 13 + sb.sb * 11 + tt.t * 3) % 167
                - 83) / 97.0 AS u
            FROM fr, UNNEST(range(0, 30)) AS sb(sb),
              UNNEST(range(0, 36)) AS tt(t)),
          qc AS (
            SELECT *, CAST(ceil(log2(nlev + 1)) AS INT) AS nb
            FROM cell WHERE nlev > 0),
          code AS (
            SELECT id, frame_idx, ch, sb, t, sfi, nlev,
              $mp2QuantizeSql
            FROM qc),
          agg AS (
            SELECT id, frame_idx, ch,
              CAST(count(*) / 36 AS BIGINT) AS n_alloc,
              CAST(sum(nlev) / 36 AS BIGINT) AS nlevels_sum,
              CAST(sum(sfi) / 36 AS BIGINT) AS sf_sum,
              CAST(sum(c * (sb * 36 + t + 1)) AS BIGINT) AS code_checksum
            FROM code GROUP BY id, frame_idx, ch)
          SELECT fr.id, fr.frame_idx, fr.ch,
            CAST(32000 AS BIGINT) AS sample_rate,
            CAST(2 AS BIGINT) AS channels,
            coalesce(a.n_alloc, 0) AS n_alloc,
            coalesce(a.nlevels_sum, 0) AS nlevels_sum,
            coalesce(a.sf_sum, 0) AS sf_sum,
            coalesce(a.code_checksum, 0) AS code_checksum,
            CAST(1 AS BIGINT) AS requant_ok,
            CAST(1 AS BIGINT) AS pr_ok
          FROM fr LEFT JOIN agg a
            ON a.id = fr.id AND a.frame_idx = fr.frame_idx AND a.ch = fr.ch
          ORDER BY fr.id, fr.frame_idx, fr.ch""")),

    // ---- MP3 (Layer III) HUFFMAN PAYLOAD decode (VERDICT r14 item 2 —
    //      q195 stops at frame headers; this empties StubCodec's MP3
    //      fall-through for the in-scope operating point): side-info
    //      parse (part2_3_length, big_values, global_gain,
    //      scalefac_compress, table_select, region counts), scale
    //      factors with scfsi GRANULE SHARING, big_values Huffman via
    //      transcribed Table 1 + count1 via the 4-bit-complement FLC
    //      table B with per-value sign bits, EXACT part2_3_length
    //      consumption, closed-form requantization (global_gain /
    //      scalefac_scale / |is|^(4/3)), alias-reduction butterflies
    //      (derived cs/ca from the eight c_i constants), the 36-point
    //      IMDCT hybrid filterbank with cross-granule overlap-add and
    //      frequency inversion, feeding Mp2's (r15-corrected) polyphase
    //      synthesis. The oracle re-derives the WHOLE coded chain in
    //      SQL: side-info fields, the bit-accounted part2_3_length
    //      (scale-factor bits per scfsi + Huffman code/sign bits), the
    //      effective scale-factor sum, and a per-line spectral-value
    //      checksum the decoder must reproduce bit-exactly. Since r16
    //      (VERDICT r15 items 2+3) the fixture straddles the BIT
    //      RESERVOIR (main_data_begin back-pointers into earlier
    //      frames' slot bytes, re-derived as a closed form in SQL) and
    //      SHORT BLOCKS (block_type 2: 12-band×3-window scale factors,
    //      subblock_gain requant, spectral reorder, 12-point×3 IMDCT),
    //      and pr_ok VALUE-gates the hybrid filterbank: the
    //      construction-inverse MDCT analysis composed with the
    //      decoder's own synthesis must be the delayed identity within
    //      Mp3.PrBound on BOTH window families (alias round-trip
    //      included on the long chain). Scope bounds documented in
    //      Mp3.scala (lines < 24, Table-1 big_values, no transition
    //      windows). Row-local, zero shuffle. ---------------------------
    Q("q311_mp3_layer3",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 29 === 13)
          .select($"doc_id")
          .as[Long].fanout
          .mapPartitions { it =>
            it.flatMap { id =>
              val bytes = Mp3.encode(id)
              val st = Mp3.decode(bytes).get
              // hybrid-filterbank perfect-reconstruction gate (r16):
              // analysis∘synthesis ≤ PrBound on both window families
              val (prL, prS) = Mp3.prError(id)
              val prOk = if (prL <= Mp3.PrBound && prS <= Mp3.PrBound) 1L else 0L
              for {
                (grans, fi) <- st.frames.zipWithIndex
                (g, gr) <- grans.zipWithIndex
              } yield {
                var requantOk = 1L
                val mult = if (g.scalefacScale == 0) 0.5 else 1.0
                val short = g.blockType == 2
                for (i <- 0 until Mp3.MaxLine) {
                  val isv = Mp3.ConstructM.isVal(id, fi, gr, i)
                  if (g.is(i) != isv) requantOk = 0
                  val gain =
                    if (short) {
                      val b = i / 12; val w = (i % 12) / 4
                      (g.globalGain - 210) / 4.0 - 2.0 * g.sbg(w) -
                        mult * g.scalefacs(b * 3 + w)
                    } else (g.globalGain - 210) / 4.0 -
                      mult * g.scalefacs(i / 4)
                  val expected =
                    if (isv == 0) 0.0
                    else math.signum(isv.toDouble) *
                      math.pow(math.abs(isv.toDouble), 4.0 / 3.0) *
                      math.pow(2.0, gain)
                  if (math.abs(g.xr(i) - expected) >
                    1e-12 * (1 + math.abs(expected))) requantOk = 0
                }
                val pcmOk = g.pcm.length == 576 &&
                  g.pcm.forall(v => !v.isNaN && !v.isInfinite)
                (id, fi.toLong, gr.toLong, st.sampleRate.toLong,
                  g.blockType.toLong, g.mainDataBegin.toLong,
                  g.part23.toLong, g.bigValues.toLong,
                  g.globalGain.toLong, g.scalefacCompress.toLong,
                  g.scalefacScale.toLong, g.sbg.map(_.toLong).sum,
                  g.scalefacs.map(_.toLong).sum,
                  g.is.zipWithIndex.map { case (v, i) =>
                    v.toLong * (i + 1)
                  }.sum,
                  requantOk, if (pcmOk) 1L else 0L, prOk)
              }
            }
          }
          .toDF("id", "frame_idx", "gr", "sample_rate", "block_type",
            "main_data_begin", "part23_len", "big_values", "global_gain",
            "sf_compress", "sf_scale", "sbg_sum", "scalefac_sum",
            "code_checksum", "requant_ok", "pcm_finite", "pr_ok")
          .orderBy($"id", $"frame_idx", $"gr")
      },
      Some("""WITH g AS (
            SELECT doc_id AS id, CAST(t.f AS BIGINT) AS frame_idx,
              CAST(gg.g AS BIGINT) AS gr
            FROM documents,
              UNNEST(range(0, 3)) AS t(f), UNNEST(range(0, 2)) AS gg(g)
            WHERE doc_id % 29 = 13),
          base AS (
            SELECT *,
              160 + (id + frame_idx * 7 + gr * 3) % 40 AS global_gain,
              (id + frame_idx + 3 * gr) % 16 AS sfc,
              (id + gr) % 2 AS sf_scale,
              (id + frame_idx + gr) % 13 AS bv,
              (id + 2 * frame_idx + gr) % 3 = 0 AS is_short,
              -- a frame has a short granule iff (id+2f)%3 != 1
              (id + 2 * frame_idx) % 3 != 1 AS has_short,
              CASE WHEN frame_idx = 0 THEN 0
                ELSE (id * 13 + 7 * frame_idx) % 56 END AS mdb
            FROM g),
          b2 AS (
            SELECT *,
              (id + frame_idx + 2 * gr) % ((24 - 2 * bv) // 4 + 1) AS n1,
              list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
                CAST(sfc AS INT) + 1) AS s1,
              list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
                CAST(sfc AS INT) + 1) AS s2
            FROM base),
          -- scale-factor bits: short granules send 12 bands x 3 windows;
          -- long granule 0 (or granule 1 in a short-containing frame,
          -- where scfsi is forced 0) sends all 21 bands; long granule 1
          -- in a long-only frame sends only the scfsi-0 groups
          sfb AS (
            SELECT b2.*,
              CASE WHEN is_short THEN 18 * s1 + 18 * s2
              WHEN gr = 0 OR has_short THEN 11 * s1 + 10 * s2
              ELSE
                (CASE WHEN (id + frame_idx + 0) % 2 = 0 THEN 6 * s1 ELSE 0 END) +
                (CASE WHEN (id + frame_idx + 1) % 2 = 0 THEN 5 * s1 ELSE 0 END) +
                (CASE WHEN (id + frame_idx + 2) % 2 = 0 THEN 5 * s2 ELSE 0 END) +
                (CASE WHEN (id + frame_idx + 3) % 2 = 0 THEN 5 * s2 ELSE 0 END)
              END AS sf_bits
            FROM b2),
          lines AS (
            SELECT sfb.*, CAST(l.l AS BIGINT) AS line,
              CASE WHEN l.l < 2 * bv + 4 * n1
                THEN (id + frame_idx + 3 * gr + l.l) % 3 - 1
                ELSE 0 END AS isv
            FROM sfb, UNNEST(range(0, 24)) AS l(l)),
          -- Huffman bits: per big_values pair, table-1 code length
          -- (1/3/2/3 for (0,0)/(0,1)/(1,0)/(1,1)) + one sign bit per
          -- nonzero; count1: 4-bit FLC + signs
          pairbits AS (
            SELECT id, frame_idx, gr,
              sum(CASE
                WHEN ax = 0 AND ay = 0 THEN 1
                WHEN ax = 0 THEN 3 + 1
                WHEN ay = 0 THEN 2 + 1
                ELSE 3 + 2 END) AS big_bits
            FROM (
              SELECT sfb.id, sfb.frame_idx, sfb.gr,
                abs((sfb.id + sfb.frame_idx + 3 * sfb.gr + 2 * p.p) % 3 - 1) AS ax,
                abs((sfb.id + sfb.frame_idx + 3 * sfb.gr + 2 * p.p + 1) % 3 - 1) AS ay
              FROM sfb, UNNEST(range(0, bv)) AS p(p))
            GROUP BY id, frame_idx, gr),
          c1bits AS (
            SELECT id, frame_idx, gr,
              CAST(4 * max(n1) AS BIGINT) +
              sum(CASE WHEN line >= 2 * bv AND isv != 0 THEN 1 ELSE 0 END)
                AS c1_bits
            FROM lines GROUP BY id, frame_idx, gr),
          sums AS (
            SELECT id, frame_idx, gr,
              CAST(sum(isv * (line + 1)) AS BIGINT) AS code_checksum
            FROM lines GROUP BY id, frame_idx, gr),
          -- SHORT scale factors: 12 bands x 3 windows, own values
          sfshort AS (
            SELECT id, frame_idx, gr,
              CAST(sum(CASE WHEN slen > 0
                THEN (id + 2 * b + 3 * w) % CAST(pow(2, slen) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS scalefac_sum
            FROM (
              SELECT b2.id, b2.frame_idx, b2.gr, bb2.b, ww2.w,
                CASE WHEN bb2.b < 6 THEN b2.s1 ELSE b2.s2 END AS slen
              FROM b2, UNNEST(range(0, 12)) AS bb2(b),
                UNNEST(range(0, 3)) AS ww2(w)
              WHERE b2.is_short)
            GROUP BY id, frame_idx, gr),
          -- LONG effective scale factors with scfsi SHARING: granule 1's
          -- shared groups copy granule 0's transmitted values — which
          -- use granule 0's slen widths (sfc differs per granule);
          -- sharing is disabled in short-containing frames
          sflong AS (
            SELECT id, frame_idx, gr,
              CAST(sum(CASE WHEN slen_u > 0
                THEN (id + 2 * b) % CAST(pow(2, slen_u) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS scalefac_sum
            FROM (
              SELECT b2.id, b2.frame_idx, b2.gr, bb.b,
                CASE WHEN bb.b < 11
                  THEN list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
                    CAST((b2.id + b2.frame_idx + 3 * ug.u) % 16 AS INT) + 1)
                  ELSE list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
                    CAST((b2.id + b2.frame_idx + 3 * ug.u) % 16 AS INT) + 1)
                END AS slen_u
              FROM b2, UNNEST(range(0, 21)) AS bb(b),
                LATERAL (SELECT CASE WHEN b2.gr = 1 AND NOT b2.has_short AND
                    (b2.id + b2.frame_idx +
                     CASE WHEN bb.b < 6 THEN 0 WHEN bb.b < 11 THEN 1
                          WHEN bb.b < 16 THEN 2 ELSE 3 END) % 2 = 1
                  THEN 0 ELSE b2.gr END AS u) AS ug(u)
              WHERE NOT b2.is_short)
            GROUP BY id, frame_idx, gr)
          SELECT s.id, s.frame_idx, s.gr,
            CAST(48000 AS BIGINT) AS sample_rate,
            CAST(CASE WHEN s.is_short THEN 2 ELSE 0 END AS BIGINT)
              AS block_type,
            CAST(s.mdb AS BIGINT) AS main_data_begin,
            CAST(s.sf_bits + coalesce(p.big_bits, 0) + c.c1_bits
              AS BIGINT) AS part23_len,
            CAST(s.bv AS BIGINT) AS big_values,
            CAST(s.global_gain AS BIGINT) AS global_gain,
            CAST(s.sfc AS BIGINT) AS sf_compress,
            CAST(s.sf_scale AS BIGINT) AS sf_scale,
            CAST(CASE WHEN s.is_short THEN
                (s.id + s.frame_idx + s.gr) % 8 +
                (s.id + s.frame_idx + s.gr + 1) % 8 +
                (s.id + s.frame_idx + s.gr + 2) % 8
              ELSE 0 END AS BIGINT) AS sbg_sum,
            coalesce(ss.scalefac_sum, sl.scalefac_sum) AS scalefac_sum,
            cs.code_checksum,
            CAST(1 AS BIGINT) AS requant_ok,
            CAST(1 AS BIGINT) AS pcm_finite,
            CAST(1 AS BIGINT) AS pr_ok
          FROM sfb s
          LEFT JOIN pairbits p
            ON p.id = s.id AND p.frame_idx = s.frame_idx AND p.gr = s.gr
          JOIN c1bits c
            ON c.id = s.id AND c.frame_idx = s.frame_idx AND c.gr = s.gr
          JOIN sums cs
            ON cs.id = s.id AND cs.frame_idx = s.frame_idx AND cs.gr = s.gr
          LEFT JOIN sfshort ss
            ON ss.id = s.id AND ss.frame_idx = s.frame_idx AND ss.gr = s.gr
          LEFT JOIN sflong sl
            ON sl.id = s.id AND sl.frame_idx = s.frame_idx AND sl.gr = s.gr
          ORDER BY s.id, s.frame_idx, s.gr""")),

    // ---- REAL animated-format frame extraction: each doc's metadata
    //      derives an animated GIF (spec-valid 89a, hand-written LZW
    //      stream ImageIO decodes identically — ImageIOCrossCheckSpec),
    //      decoded back frame-by-frame with a REAL LZW decompressor. The
    //      per-frame fan-out row (frame index, pixel count, palette-index
    //      sum) is what q111's byte-slice sampling stood in for — now the
    //      frames are genuine image planes. Pixel (f, i) is
    //      (seed + f·17 + i·31) & 0xff, so the oracle recomputes every
    //      frame's sum. Row-local fan-out, zero shuffle. -------------------
    Q("q158_gif_frames",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 4 === 1)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .flatMap { case (id, nch) =>
            val w = (8 + id % 8).toInt
            val h = (4 + nch % 8).toInt
            val nf = (2 + id % 3).toInt
            val gif = Multimodal.MediaCodecs.encodeGif(w, h, nf, id)
            val (_, _, frames) = Multimodal.MediaCodecs.gifFrames(gif).get
            frames.zipWithIndex.map { case (px, f) =>
              var sum = 0L
              var i = 0
              while (i < px.length) { sum += px(i) & 0xff; i += 1 }
              (id, f, px.length.toLong, sum)
            }
          }
          .toDF("id", "frame_idx", "n_pixels", "idx_sum")
          .orderBy($"id", $"frame_idx")
      },
      Some("""WITH g AS (SELECT doc_id AS id,
              CAST(8 + doc_id % 8 AS BIGINT) AS w,
              CAST(4 + n_chars % 8 AS BIGINT) AS h,
              CAST(2 + doc_id % 3 AS BIGINT) AS nf
            FROM documents WHERE doc_id % 4 = 1),
          fr AS (SELECT id, w, h, CAST(f AS INT) AS frame_idx
                 FROM g, UNNEST(range(0, nf)) AS t(f)),
          px AS (SELECT id, frame_idx, (id + frame_idx * 17 + i * 31) & 255 AS v
                 FROM fr, UNNEST(range(0, w * h)) AS t(i))
          SELECT id, frame_idx, CAST(count(*) AS BIGINT) AS n_pixels,
            CAST(sum(v) AS BIGINT) AS idx_sum
          FROM px GROUP BY id, frame_idx ORDER BY id, frame_idx""")),

    // ---- REAL raw-video frame extraction: Y4M (YUV4MPEG2 — the container
    //      ffmpeg pipelines exchange raw frames in) encodes per-doc
    //      animated 4:4:4 video, decoded back by exact header + FRAME
    //      marker + plane-size parsing — no codec, the format IS raw
    //      planes. Per frame: plane byte count and the exact plane sum,
    //      recomputed by the oracle from (seed + f·23 + i·31) & 0xff.
    //      Completes the real-decode triad: image (q156/q157), audio
    //      (q141), video (here). Row-local fan-out, zero shuffle. ----------
    Q("q159_y4m_frames",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"doc_id" % 4 === 3)
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)]
          .flatMap { case (id, nch) =>
            val w = (4 + id % 8).toInt
            val h = (2 + nch % 8).toInt
            val nf = (2 + id % 4).toInt
            val y4m = Multimodal.MediaCodecs.encodeY4m(w, h, nf, id)
            val (_, _, frames) = Multimodal.MediaCodecs.y4mFrames(y4m).get
            frames.zipWithIndex.map { case (px, f) =>
              var sum = 0L
              var i = 0
              while (i < px.length) { sum += px(i) & 0xff; i += 1 }
              (id, f, px.length.toLong, sum)
            }
          }
          .toDF("id", "frame_idx", "n_plane_bytes", "plane_sum")
          .orderBy($"id", $"frame_idx")
      },
      Some("""WITH g AS (SELECT doc_id AS id,
              CAST(4 + doc_id % 8 AS BIGINT) AS w,
              CAST(2 + n_chars % 8 AS BIGINT) AS h,
              CAST(2 + doc_id % 4 AS BIGINT) AS nf
            FROM documents WHERE doc_id % 4 = 3),
          fr AS (SELECT id, w, h, CAST(f AS INT) AS frame_idx
                 FROM g, UNNEST(range(0, nf)) AS t(f)),
          px AS (SELECT id, frame_idx, (id + frame_idx * 23 + i * 31) & 255 AS v
                 FROM fr, UNNEST(range(0, w * h * 3)) AS t(i))
          SELECT id, frame_idx, CAST(count(*) AS BIGINT) AS n_plane_bytes,
            CAST(sum(v) AS BIGINT) AS plane_sum
          FROM px GROUP BY id, frame_idx ORDER BY id, frame_idx""")),

    // ---- mixed-format media catalog: one corpus carrying FIVE real
    //      formats (BMP, PCM WAV, PNG, animated GIF, Y4M raw video — every
    //      codec the engine decodes for real), pushed through the SAME
    //      mapPartitions batch operator production inference uses
    //      (Multimodal.extractFeatures → HeaderCodec dispatch). Every
    //      decoded field (dims, frame count, sample rate) is a pure
    //      function of table columns, so the oracle recomputes the whole
    //      catalog — a mis-dispatch (e.g. a PNG parsed by the GIF path or
    //      falling to the stub) diverges the hash immediately. -------------
    Q("q160_media_catalog",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .map { case (id, nch) =>
            val w = (8 + id % 8).toInt
            val h = (4 + nch % 8).toInt
            (id % 5) match {
              case 0 => Multimodal.MediaRow(id, "image", "image/bmp",
                Multimodal.MediaCodecs.encodeBmp(w, h, id))
              case 1 => Multimodal.MediaRow(id, "audio", "audio/wav",
                Multimodal.MediaCodecs.encodeWavPcm16(
                  (8000 + (id % 4) * 8000).toInt, (50 + nch % 50).toInt, id))
              case 2 => Multimodal.MediaRow(id, "image", "image/png",
                Multimodal.MediaCodecs.encodePng(w, h, id))
              case 3 => Multimodal.MediaRow(id, "image", "image/gif",
                Multimodal.MediaCodecs.encodeGif(w, h, (2 + id % 3).toInt, id))
              case _ => Multimodal.MediaRow(id, "video", "video/x-y4m",
                Multimodal.MediaCodecs.encodeY4m(w, h, (2 + id % 4).toInt, id))
            }
          }
        Multimodal.extractFeatures(media)
          .toDF()
          .select($"id", $"modality", $"width", $"height",
            $"n_frames", $"sample_rate")
          .orderBy($"id")
      },
      Some("""SELECT doc_id AS id,
          CASE doc_id % 5 WHEN 1 THEN 'audio' WHEN 4 THEN 'video'
               ELSE 'image' END AS modality,
          CAST(CASE WHEN doc_id % 5 = 1 THEN 0
               ELSE 8 + doc_id % 8 END AS INT) AS width,
          CAST(CASE WHEN doc_id % 5 = 1 THEN 0
               ELSE 4 + n_chars % 8 END AS INT) AS height,
          CAST(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 2 THEN 1
               WHEN 1 THEN 50 + n_chars % 50
               WHEN 3 THEN 2 + doc_id % 3
               ELSE 2 + doc_id % 4 END AS INT) AS n_frames,
          CAST(CASE WHEN doc_id % 5 = 1 THEN 8000 + (doc_id % 4) * 8000
               ELSE 0 END AS INT) AS sample_rate
        FROM documents ORDER BY id""")),

    // ---- multimodal byte audit — the ORACLE-CHECKABLE half of the q38
    //      path: the same MediaRow → mapPartitions batch pipeline, but
    //      aggregating features DuckDB can recompute (the binary content is
    //      UTF-8 text bytes, so octet_length(encode(text)) replays n_bytes
    //      exactly). Proves the binary plumbing end-to-end at the driver
    //      gate; only the codec stub's outputs stay golden-pinned. ----------
    Q("q82_multimodal_audit",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .map { case (id, text) =>
            val modality = Seq("image", "audio", "video")((id % 3).toInt)
            Multimodal.MediaRow(id, modality, s"application/x-$modality",
              text.getBytes("UTF-8"))
          }
        Multimodal.extractFeatures(media)
          .toDF()
          .groupBy($"modality")
          .agg(count(lit(1)).as("n_media"),
            sum($"n_bytes").as("total_bytes"),
            max($"n_bytes").as("max_bytes"))
          .orderBy($"modality")
      },
      Some("""SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                     ELSE 'video' END AS modality,
          count(*) AS n_media,
          CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
          CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents GROUP BY 1 ORDER BY modality""")),

    // ---- frame sampling over the video-modality binary columns: 64-byte
    //      slices every 128 bytes, hashed per frame — the zero-shuffle
    //      row-local fan-out a video pipeline runs before per-frame
    //      inference. The media bytes are UTF-8 text (all-ASCII at every
    //      SF, asserted by the oracle equality itself), so DuckDB replays
    //      each byte slice as a substring md5. ----------------------------
    Q("q111_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .filter($"doc_id" % 3 === 2)
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .map { case (id, text) =>
            Multimodal.MediaRow(id, "video", "application/x-video",
              text.getBytes("UTF-8"))
          }
        Multimodal.sampleFrames(media, frameBytes = 64, stride = 128)
          .toDF()
          .select($"id".as("doc_id"), $"frame_idx", $"offset".as("byte_off"),
            $"n_bytes", $"frame_md5")
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""WITH v AS (SELECT doc_id, text, octet_length(encode(text)) AS len
              FROM documents WHERE doc_id % 3 = 2),
          f AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
                  CAST(i * 128 AS BIGINT) AS byte_off,
                  CAST(least(64, len - i * 128) AS BIGINT) AS n_bytes,
                  md5(substr(text, CAST(i * 128 + 1 AS INT),
                      CAST(least(64, len - i * 128) AS INT))) AS frame_md5
                FROM v, UNNEST(range(0, CAST(ceil(len / 128.0) AS BIGINT))) AS t(i))
          SELECT doc_id, frame_idx, byte_off, n_bytes, frame_md5
          FROM f ORDER BY doc_id, frame_idx""")),

    // ---- C4 avg-logits fusion through the production operator, with
    //      deterministic inputs so the oracle can check the full path ------
    Q("q40_fusion_operator",
      (s, dir) => {
        import s.implicits._
        val c = Tables(s, dir, "customer")
          .join(broadcast(Tables(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_regionkey".cast("string").as("case_id"),
            $"n_name".as("src_attr"), $"n_name".as("tgt_attr"))
          .agg(sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("score"))
        val su = Tables(s, dir, "supplier")
          .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_regionkey".cast("string").as("case_id"),
            $"n_name".as("src_attr"), $"n_name".as("tgt_attr"))
          .agg(sum($"s_acctbal".cast("decimal(18,2)")).cast("double").as("score"))
        graft.ops.ScoreFusion.avgLogits(c, su, graft.ops.ScoreFusion.Average)
          .orderBy($"case_id", $"src_attr")
      },
      Some("""WITH f AS (SELECT CAST(n_regionkey AS VARCHAR) AS case_id, n_name AS src_attr,
                n_name AS tgt_attr,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS fwd_score
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_regionkey, n_name),
            b AS (SELECT CAST(n_regionkey AS VARCHAR) AS case_id, n_name AS src_attr,
                n_name AS tgt_attr,
                CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bwd_score
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              GROUP BY n_regionkey, n_name)
        SELECT case_id, src_attr, tgt_attr,
          COALESCE(fwd_score, 0.0) AS fwd_score,
          COALESCE(bwd_score, 0.0) AS bwd_score,
          (COALESCE(fwd_score, 0.0) + COALESCE(bwd_score, 0.0)) / 2.0 AS score
        FROM f FULL OUTER JOIN b USING (case_id, src_attr, tgt_attr)
        WHERE (COALESCE(fwd_score, 0.0) + COALESCE(bwd_score, 0.0)) / 2.0 <> 0.0
        ORDER BY case_id, src_attr""")),

    // ---- cross-run ensembling over three seeded mock runs (H1-H3/D6) -----
    Q("q47_ensemble_pipeline",
      (s, dir) => {
        import s.implicits._
        val tcs = cases(s, dir)
        val runs = Seq(1, 2, 3).map { seed =>
          val qs = s.createDataset(for {
            tc <- tcs.map(graft.core.Readers.shuffleCase(_, seed))
            tgt <- tc.targetSchema.map(_.name)
          } yield PromptRenderer.n2oneQuestion(tc, tgt, Map.empty))
          LlmOperator.generate(qs, MockLlmClient.Factory())
            .flatMap(g => Parsers.parseMatches(g.response)
              .map(m => (g.caseId, g.queryAttr, m, g.queryAttr)))
            .toDF("case_id", "query_attr", "src_attr", "tgt_attr")
            .withColumn("run_id", lit(seed))
        }.reduce(_ unionByName _)
        // one pass over the 3-run subtree: the three ensemble modes each
        // reference `runs`, and Spark re-executes common subtrees per
        // branch — checkpoint once (pattern shared with q39/q41)
        val runsOnce = runs.localCheckpoint(true)
        val union = graft.ops.Ensemble.union(runsOnce).withColumn("mode", lit("union"))
        val inter = graft.ops.Ensemble.intersection(runsOnce, 3).withColumn("mode", lit("intersection"))
        val maj = graft.ops.Ensemble.majority(runsOnce).drop("votes").withColumn("mode", lit("majority"))
        union.unionByName(inter).unionByName(maj)
          .groupBy($"mode").agg(count(lit(1)).as("n_pairs"))
          .orderBy($"mode")
      },
      // End-to-end oracle (VERDICT r9/r10 item 2, upgrading from golden):
      // every stage is deterministic and DuckDB-replayable — the seeded
      // shuffle is a sort by md5("$seed|$caseId|s|$name") (Readers
      // .shuffleCase), the prompt render is pure string assembly over the
      // table schemas (information_schema supplies names; the type text is
      // Spark's simpleString, mapped from DuckDB's), and the mock LLM is
      // argmax of the shared 48-bit md5 polynomial over the prompt's "- "
      // option lines (source cols + the no-match sentinel). Ensemble modes
      // are plain distinct/having/window counts. Comparison is
      // integer-exact (counts only).
      Some(s"""WITH cols AS (
          SELECT table_name AS t, column_name AS name,
                 CASE data_type WHEN 'INTEGER' THEN 'int' WHEN 'BIGINT' THEN 'bigint'
                      WHEN 'VARCHAR' THEN 'string' WHEN 'DOUBLE' THEN 'double'
                      ELSE 'UNMAPPED:' || data_type END AS typ
          FROM information_schema.columns
          WHERE table_name IN ('region','nation','customer','supplier','part')),
        seeds AS (SELECT unnest([1,2,3]) AS seed),
        shuf AS (
          SELECT seed, t, name, typ,
                 md5(seed || '|src:' || t || '|tgt:' || t || '|s|' || name) AS skey
          FROM cols, seeds),
        srcjson AS (
          SELECT seed, t,
            '[' || string_agg('{"name": "' || name || '", "type": "' || typ || '", "samples": []}', ', ' ORDER BY skey) || ']' AS sj,
            string_agg('- ' || name, chr(10) ORDER BY skey) AS optlines
          FROM shuf GROUP BY seed, t),
        q AS (
          SELECT s.seed, s.t, 'src:' || s.t || '|tgt:' || s.t AS case_id, 't_' || g.name AS tgt,
            ${n2onePrompt("prompt")}
          FROM srcjson s JOIN cols g ON s.t = g.t),
        cands AS (
          SELECT q.seed, q.case_id, q.tgt, c.name AS cand, q.prompt FROM q JOIN cols c ON c.t = q.t
          UNION ALL
          SELECT seed, case_id, tgt, 'there is no match.', prompt FROM q),
        h AS (SELECT seed, case_id, tgt, cand,
                ${graft.functions.TextFunctions.hexPolySql(12, "prompt || '|' || cand")} AS hv
              FROM cands),
        best AS (
          SELECT seed, case_id, tgt, cand,
            ROW_NUMBER() OVER (PARTITION BY seed, case_id, tgt ORDER BY hv DESC, cand) AS rn
          FROM h),
        pairs AS (
          SELECT case_id, tgt AS query_attr, cand AS src_attr, tgt AS tgt_attr,
                 count(DISTINCT seed) AS votes
          FROM best WHERE rn = 1 GROUP BY 1, 2, 3, 4),
        maj AS (
          SELECT count(*) AS n FROM (
            SELECT votes, max(votes) OVER (PARTITION BY case_id, query_attr) AS mx FROM pairs
          ) WHERE votes = mx)
        SELECT 'intersection' AS mode, (SELECT count(*) FROM pairs WHERE votes = 3) AS n_pairs
        UNION ALL SELECT 'majority', (SELECT n FROM maj)
        UNION ALL SELECT 'union', (SELECT count(*) FROM pairs)
        ORDER BY mode""")),

    // ---- ICL-enabled matching pipeline: leave-one-out demos packed under
    //      a token budget (F9), then the standard generate->parse path -----
    Q("q48_icl_pipeline",
      (s, dir) => {
        import s.implicits._
        val tcs = cases(s, dir)
        // demo pool: gold pairs of OTHER cases (leave-one-out)
        val questions = s.createDataset(for {
          tc <- tcs
          demoPool = tcs.filterNot(_.id == tc.id)
            .flatMap(o => o.goldMapping.take(2).map(g => (s"match ${g._2}", g._1)))
          tgt <- tc.targetSchema.map(_.name)
        } yield {
          def render(ds: Seq[(String, String)]) =
            PromptRenderer.n2oneQuestion(tc, tgt, Map.empty,
              icl = ds).prompt
          val kept = PromptRenderer.packIcl(render, demoPool, maxTokens = 120)
          PromptRenderer.n2oneQuestion(tc, tgt, Map.empty, icl = kept)
        })
        LlmOperator.generate(questions, MockLlmClient.Factory())
          .flatMap(g => Parsers.parseMatches(g.response).map(m => (g.caseId, g.queryAttr, m)))
          .toDF("case_id", "tgt_attr", "src_attr")
          .orderBy($"case_id", $"tgt_attr", $"src_attr")
      },
      // End-to-end oracle (VERDICT r9/r10 item 2): packIcl's greedy
      // verify-before-accept loop is replayed as a RECURSIVE CTE over the
      // demo pool in tcs order (region..part literal order, self excluded,
      // 2 gold pairs per other case), accumulating accepted whitespace
      // token counts — additivity holds because tokenEstimate splits on
      // whitespace and every rendered fragment is newline-joined, so
      // tokens(demos + base) = Σ tokens(demo line) + tokens(base). The
      // kept demo indices rebuild the exact "Q: …\nA: …\n" prefix, then
      // the mock argmax runs over the full prompt as in q34/q47. The
      // sentinel is NOT schema-validated here (no semi-join in the Spark
      // plan), so "there is no match." rows flow through to the output.
      Some(s"""WITH RECURSIVE cols AS (
          SELECT table_name AS t, column_name AS name,
                 CASE data_type WHEN 'INTEGER' THEN 'int' WHEN 'BIGINT' THEN 'bigint'
                      WHEN 'VARCHAR' THEN 'string' WHEN 'DOUBLE' THEN 'double'
                      ELSE 'UNMAPPED:' || data_type END AS typ,
                 ordinal_position AS pos,
                 CASE table_name WHEN 'region' THEN 1 WHEN 'nation' THEN 2
                      WHEN 'customer' THEN 3 WHEN 'supplier' THEN 4 WHEN 'part' THEN 5 END AS tord
          FROM information_schema.columns
          WHERE table_name IN ('region','nation','customer','supplier','part')),
        srcjson AS (
          SELECT t,
            '[' || string_agg('{"name": "' || name || '", "type": "' || typ || '", "samples": []}', ', ' ORDER BY pos) || ']' AS sj,
            string_agg('- ' || name, chr(10) ORDER BY pos) AS optlines
          FROM cols GROUP BY t),
        q AS (
          SELECT s.t, 'src:' || s.t || '|tgt:' || s.t AS case_id, 't_' || g.name AS tgt,
            ${n2onePrompt("base_prompt")}
          FROM srcjson s JOIN cols g ON s.t = g.t),
        demopool AS (
          SELECT me.t AS case_t,
                 ROW_NUMBER() OVER (PARTITION BY me.t ORDER BY o.tord, o.pos) AS idx,
                 'match t_' || o.name AS dq, o.name AS da
          FROM (SELECT DISTINCT t FROM cols) me
          JOIN cols o ON o.t <> me.t AND o.pos <= 2),
        dtoks AS (
          SELECT case_t, idx, dq, da,
            len(list_filter(regexp_split_to_array('Q: ' || dq || chr(10) || 'A: ' || da, '\\s+'), x -> x <> '')) AS dtok
          FROM demopool),
        ndemo AS (SELECT case_t, max(idx) AS n FROM dtoks GROUP BY case_t),
        pack AS (
          SELECT q.case_id, q.t, q.tgt, 0 AS idx, 0 AS kept_tokens,
            len(list_filter(regexp_split_to_array(q.base_prompt, '\\s+'), x -> x <> '')) AS base_tokens,
            CAST([] AS INT[]) AS kept
          FROM q
          UNION ALL
          SELECT p.case_id, p.t, p.tgt, p.idx + 1,
            CASE WHEN p.base_tokens + p.kept_tokens + d.dtok + 32 <= 120
                 THEN p.kept_tokens + d.dtok ELSE p.kept_tokens END,
            p.base_tokens,
            CASE WHEN p.base_tokens + p.kept_tokens + d.dtok + 32 <= 120
                 THEN list_append(p.kept, p.idx + 1) ELSE p.kept END
          FROM pack p
          JOIN ndemo n ON n.case_t = p.t
          JOIN dtoks d ON d.case_t = p.t AND d.idx = p.idx + 1
          WHERE p.idx < n.n),
        final AS (
          SELECT p.case_id, p.t, p.tgt, p.kept
          FROM pack p JOIN ndemo n ON n.case_t = p.t
          WHERE p.idx = n.n),
        prompts AS (
          SELECT f.case_id, f.t, f.tgt,
            COALESCE((SELECT string_agg('Q: ' || d.dq || chr(10) || 'A: ' || d.da, chr(10) ORDER BY d.idx) || chr(10)
                      FROM dtoks d WHERE d.case_t = f.t AND list_contains(f.kept, d.idx)), '')
              || q.base_prompt AS prompt
          FROM final f JOIN q ON q.case_id = f.case_id AND q.tgt = f.tgt),
        cands AS (
          SELECT p.case_id, p.tgt, c.name AS cand, p.prompt FROM prompts p JOIN cols c ON c.t = p.t
          UNION ALL
          SELECT case_id, tgt, 'there is no match.', prompt FROM prompts),
        h AS (SELECT case_id, tgt, cand,
                ${graft.functions.TextFunctions.hexPolySql(12, "prompt || '|' || cand")} AS hv
              FROM cands),
        best AS (
          SELECT case_id, tgt, cand,
            ROW_NUMBER() OVER (PARTITION BY case_id, tgt ORDER BY hv DESC, cand) AS rn
          FROM h)
        SELECT case_id, tgt AS tgt_attr, cand AS src_attr
        FROM best WHERE rn = 1
        ORDER BY case_id, tgt_attr, src_attr""")),

    // ---- F5: the LLM inference operator (mapPartitions, batching)
    //      run END-TO-END against the DuckDB-replayable mock: the mock's
    //      "generation" is argmax over candidates of a 48-bit md5 hash of
    //      (prompt|candidate), and the prompt here is simple enough for the
    //      oracle to rebuild byte-for-byte — so batching bugs, prompt
    //      corruption, response drift and parse errors all diverge the hash.
    //      Comparison stays integer-exact (no float crosses the gate). -----
    Q("q71_llm_generate",
      (s, dir) => {
        import s.implicits._
        LlmOperator.generate(mockQuestions(s, dir), MockLlmClient.Factory(), batchSize = 4)
          .flatMap(g => Parsers.parseMatches(g.response).map(m => (g.caseId, m)))
          .toDF("case_id", "best")
          .orderBy($"case_id", $"best")
      },
      Some(s"""WITH $mockHashCtes,
        r AS (SELECT case_id, cand,
                ROW_NUMBER() OVER (PARTITION BY case_id ORDER BY hv DESC, cand) AS rn
              FROM h)
        SELECT case_id, cand AS best FROM r WHERE rn = 1 ORDER BY case_id, best""")),

    // ---- F6/E1: logit candidate scoring + score-descending ranking -------
    //      softmax is strictly monotone in the hash, so the RANKS are
    //      integer-exact and oracle-checkable even though the float scores
    //      themselves never cross the gate
    Q("q72_llm_score_rank",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"caseId").orderBy($"score".desc, $"candAttr")
        LlmOperator.score(mockQuestions(s, dir), MockLlmClient.Factory()).toDF()
          .withColumn("rank", row_number().over(w))
          .select($"caseId".as("case_id"), $"candAttr".as("cand"), $"rank")
          .orderBy($"case_id", $"rank")
      },
      Some(s"""WITH $mockHashCtes
        SELECT case_id, cand,
          CAST(ROW_NUMBER() OVER (PARTITION BY case_id ORDER BY hv DESC, cand) AS INT) AS rank
        FROM h
        ORDER BY case_id, rank""")),

    // ---- skew-tolerant salted aggregation, oracle-checked ----------------
    Q("q46_salted_counts",
      (s, dir) => {
        import s.implicits._
        graft.functions.SkewAgg.saltedCount(
            Tables(s, dir, "lineitem"), Seq("l_returnflag"), buckets = 64)
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS count
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- custom physical operator: heap-based top-k per key (no sort) ----
    Q("q42_topk_custom",
      (s, dir) => {
        import s.implicits._
        graft.plans.TopK.perKey(
            Tables(s, dir, "part").select($"p_brand", $"p_partkey", $"p_retailprice"),
            keyCols = Seq("p_brand"),
            order = Seq(graft.plans.TopK.Order("p_retailprice", ascending = false),
              graft.plans.TopK.Order("p_partkey")),
            k = 3)
          .orderBy($"p_brand", $"p_retailprice".desc, $"p_partkey")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part) WHERE rn <= 3
        ORDER BY p_brand, p_retailprice DESC, p_partkey""")),

    // ---- Structured Streaming tumbling aggregation, driven to completion.
    //      The 2000-event feed prefix is ordered by (ts, event_id) — a total
    //      order, so the prefix is identical under any partitioning and the
    //      DuckDB batch twin replays it exactly. Complete mode emits every
    //      window, and the ts-ordered two-batch feed means no late drops, so
    //      the streaming result EQUALS the batch aggregation of the prefix. -
    Q("q41_streaming_tumbling",
      (s, dir) => {
        // the state-partition count is baked in at FIRST query start: 32
        // stateful-store partitions per micro-batch for a 2000-row feed is
        // pure overhead — the stream runs on a DEDICATED child session
        // scoped to 4 (results are partitioning-invariant; the oracle hash
        // is unchanged), so the shared session's conf is never touched
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_type", $"value", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"ts", $"event_type", $"value")
          .as[(java.sql.Timestamp, String, Double)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Complete())(
            ds => StreamingOps.tumblingCounts(ds.toDF("ts", "event_type", "value")))
          .orderBy($"window_start", $"event_type")
      },
      Some("""WITH e AS (SELECT ts, event_type, value FROM events
          ORDER BY ts, event_id LIMIT 2000)
        SELECT date_trunc('hour', ts) AS window_start, event_type,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM e GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // ---- Structured Streaming watermark-bounded dedup, driven to
    //      completion: batch 1 delivers the first half of the (ts, event_id)
    //      ordered 2000-event prefix; batch 2 REDELIVERS that half re-stamped
    //      +60 s (simulating at-least-once redelivery with a new ingest
    //      time) plus the second half. Every redelivered copy must vanish:
    //      either late (below the 30-min watermark) or deduplicated (its
    //      original's state is still alive, since 30 min > 60 s — the two
    //      regimes tile all cases exactly). The surviving rows are the
    //      original prefix, which IS the DuckDB twin. ----------------------
    Q("q77_streaming_dedup",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"user_id", $"event_id", $"value")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .as[(java.sql.Timestamp, Long, Long, Double)].collect()
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
        val qn = s"graft_dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val query = StreamingOps.dedupStream(
            mem.toDF().toDF("ts", "user_id", "event_id", "value"), Seq("event_id"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          val (b1, b2) = evts.splitAt(evts.length / 2)
          mem.addData(b1.toSeq); query.processAllAvailable()
          val redelivered = b1.map(e =>
            (new java.sql.Timestamp(e._1.getTime + 60000L), e._2, e._3, e._4))
          mem.addData((redelivered ++ b2).toSeq); query.processAllAvailable()
          ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .orderBy($"event_id")
        } finally query.stop()
      },
      Some("""WITH e AS (SELECT ts, user_id, event_id, value FROM events
          ORDER BY ts, event_id LIMIT 2000)
        SELECT ts, user_id, event_id, value FROM e ORDER BY event_id""")),

    // ---- CHECKPOINT-RECOVERY gate (VERDICT r12 item 4): q77's dedup
    //      semantics run across a STOP + RESTART. Batch 1 feeds half the
    //      (ts, event_id)-ordered prefix into a PARQUET sink (the
    //      production exactly-once sink — its _spark_metadata commit log
    //      is what makes restart atomic; a memory sink forgets its rows
    //      on restart); the query is STOPPED; a NEW query instance starts
    //      from the same checkpoint and receives batch 2 = every batch-1
    //      row REDELIVERED re-stamped +60 s plus the second half. Every
    //      redelivered copy must vanish — which only happens if the
    //      restarted query RESTORED the dedup state and watermark from
    //      the checkpoint (fresh state would pass all re-stamped copies
    //      through, doubling the rows and diverging the hash). Final
    //      output = whatever the sink's commit log exposes = the original
    //      prefix, the exact batch twin. This is the 100 TB story's real
    //      streaming risk — a pipeline that only works in single-lifetime
    //      runs isn't restartable — made a gated query. --------------------
    Q("q286_streaming_restart",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val rm = IngestQueries.deleteRecursively _
        val base = java.nio.file.Paths.get(
          s"/tmp/graft-restart/${graft.core.Det.md5hex(dir).take(12)}-" +
            ProcessHandle.current().pid())
        // a leftover checkpoint would make the "first" start a resume —
        // every run must exercise a genuine cold start + one restart
        rm(base)
        val ckpt = s"$base/ckpt"
        val out = s"$base/out"
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"user_id", $"event_id", $"value")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .as[(java.sql.Timestamp, Long, Long, Double)].collect()
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
        def start() = StreamingOps.dedupStream(
            mem.toDF().toDF("ts", "user_id", "event_id", "value"), Seq("event_id"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        val (b1, b2) = evts.splitAt(evts.length / 2)
        val q1 = start()
        try { mem.addData(b1.toSeq); q1.processAllAvailable() }
        finally q1.stop()
        // restart: NEW StreamingQuery, same checkpoint + sink — state,
        // watermark and committed offsets all come back from disk
        val redelivered = b1.map(e =>
          (new java.sql.Timestamp(e._1.getTime + 60000L), e._2, e._3, e._4))
        val q2 = start()
        try { mem.addData((redelivered ++ b2).toSeq); q2.processAllAvailable() }
        finally q2.stop()
        val result = ss.read.parquet(out)
          .coalesce(1).localCheckpoint(eager = true) // detach before the dir is swept
        rm(base)
        // sort on the detached frame so the global ORDER BY is the plan's
        // final operator (the driver-gate contract QueriesSpec sweeps)
        result.orderBy($"event_id")
      },
      Some("""WITH e AS (SELECT ts, user_id, event_id, value FROM events
          ORDER BY ts, event_id LIMIT 2000)
        SELECT ts, user_id, event_id, value FROM e ORDER BY event_id"""),
      streaming = true),

    // ---- stream-static decontamination: incoming docs (two micro-batches)
    //      shingle row-locally and probe the STATIC benchmark shingle set
    //      via a broadcast inner join — stateless, no watermark, stream
    //      side never shuffles. The per-doc distinct-hit rollup runs batch-
    //      side on the sink table; the oracle is q104's hits CTE (docs with
    //      at least one shared shingle). ------------------------------------
    Q("q108_streaming_decontaminate",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        import graft.functions.TextFunctions.{tokens, wordShingles}
        // static side: the benchmark shingle set, persisted so each
        // micro-batch probes the cache instead of re-deriving the scan +
        // distinct per trigger. Derived LEAN since r16: the shared
        // sourceShingles distincts (doc_id, source, shingle) corpus-wide
        // before this filter could cut it to the bench slice — deriving
        // the shingle set directly from the bench docs pushes the source
        // filter to the scan and distincts ONE column over the slice
        // (identical set; the oracle's bench CTE is unchanged).
        import graft.functions.TextFunctions.{tokens => tfTokens, wordShingles => tfShingles}
        val bench = Tables(ss, dir, "documents")
          .filter($"source".isin(TextQueries.benchSources: _*))
          .select(explode(tfShingles(tfTokens($"text"), 3)).as("shingle"))
          .distinct().persist()
        bench.count()
        // harness feed capped at a 2000-doc prefix (bounded driver memory,
        // same rule as the q41/q77 event feeds); production would
        // readStream the corpus directly
        val feed = Tables(ss, dir, "documents")
          .filter(!$"source".isin(TextQueries.benchSources: _*))
          .select($"doc_id", $"text").orderBy($"doc_id").limit(StreamingOps.feedLimit)
          .as[(Long, String)].collect()
        // r17: a MemoryStream batch is ONE input partition per addData
        // block by default, so the per-batch shingle explode + broadcast
        // probe (the whole cost of this stateless query) ran single-task
        // (probe: ~1.2 s/batch; the 8-core bench beat the 32-core one).
        // Asking the source for the child session's partition count
        // spreads each batch across its 4 tasks; the groupBy output is
        // partitioning-independent.
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](
          ss.conf.get("spark.sql.shuffle.partitions").toInt)
        val qn = s"graft_decon_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        try {
          val stream = mem.toDF().toDF("doc_id", "text")
            .select($"doc_id", explode(wordShingles(tokens($"text"), 3)).as("shingle"))
          val query = StreamingOps.decontaminateStream(stream, bench)
            .writeStream.format("memory").queryName(qn)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
          try {
            val (b1, b2) = feed.splitAt(feed.length / 2)
            mem.addData(b1.toSeq); query.processAllAvailable()
            mem.addData(b2.toSeq); query.processAllAvailable()
            ss.table(qn)
              .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
              .groupBy($"doc_id")
              .agg(countDistinct($"shingle").as("n_hits"))
              .orderBy($"doc_id")
          } finally query.stop()
        } finally bench.unpersist()
      },
      Some(s"""WITH ${TextQueries.benchShingleCte},
          feed AS (SELECT doc_id, text FROM documents
                   WHERE source NOT IN ('src0', 'src1')
                   ORDER BY doc_id LIMIT 2000),
          fw AS (SELECT doc_id, string_split(text, ' ') AS w FROM feed),
          fsh AS (SELECT DISTINCT doc_id,
                         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                  FROM fw, UNNEST(range(1, len(w) - 1)) AS t(i))
          SELECT doc_id, count(*) AS n_hits
          FROM fsh JOIN bench USING (shingle)
          GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Structured Streaming stream-stream interval join, driven to
    //      completion: purchases and clicks arrive as two MemoryStreams
    //      (split at the same global (ts, event_id) point so the joint
    //      watermark advances in lockstep) through
    //      StreamingOps.intervalJoin — per purchase, the same user's
    //      clicks in the preceding 30 minutes. MATCHED rows are emitted
    //      eagerly on arrival and cross-batch state survives (needed
    //      clicks have c_ts ≥ split−30min; eviction requires
    //      c_ts < split−40min at the 10-min watermark delay), so the
    //      matched set is deterministic and equals q94's batch INNER core
    //      over the same prefix. Outer-null emission timing depends on
    //      where the final watermark parks — those rows are filtered here
    //      and gated separately by q132, which parks the watermark
    //      deterministically with sentinel batches. ------------------------
    Q("q119_streaming_interval_join",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val pref = Tables(ss, dir, "events")
          .filter($"event_type".isin("purchase", "click"))
          .select($"ts", $"event_id", $"user_id", $"event_type")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .as[(java.sql.Timestamp, Long, Long, String)].collect()
        val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
        val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
        val qn = s"graft_ivj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val (b1, b2) = pref.splitAt(pref.length / 2)
        def feed(b: Array[(java.sql.Timestamp, Long, Long, String)]): Unit = {
          memP.addData(b.filter(_._4 == "purchase")
            .map(e => (e._3, e._2, e._1)).toSeq)
          memC.addData(b.filter(_._4 == "click")
            .map(e => (e._3, e._1)).toSeq)
        }
        // r17: round 1 is fed BEFORE start() — with the engine already
        // polling, the two per-source addData calls raced the trigger and
        // round 1 routinely split into two data micro-batches (probe: 489
        // then 511 rows), each paying the full per-batch state-store
        // commit + incremental-planning floor. Offsets added before start
        // land in one batch; the two-round feed protocol is unchanged.
        feed(b1)
        val query = StreamingOps.intervalJoin(
            memP.toDF().toDF("p_user", "purchase_id", "p_ts"),
            memC.toDF().toDF("c_user", "c_ts"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          query.processAllAvailable()
          feed(b2)
          query.processAllAvailable()
          ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .filter($"c_ts".isNotNull)
            .groupBy($"purchase_id", $"p_ts")
            .agg(count(lit(1)).as("n_prior_clicks"),
              max($"c_ts").as("last_click_ts"))
            .orderBy($"purchase_id")
        } finally query.stop()
      },
      Some(s"""$purchaseClickCtes
          SELECT purchase_id, p_ts, count(*) AS n_prior_clicks,
                 max(c_ts) AS last_click_ts
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts < p.p_ts
          GROUP BY purchase_id, p_ts ORDER BY purchase_id""")),

    // ---- Structured Streaming UPDATE-mode running counts: per-user event
    //      totals re-emitted on every trigger that changes them — the
    //      live-dashboard output mode (Complete re-emits everything,
    //      Append only finals; Update emits the delta keys). The memory
    //      sink therefore holds one row PER UPDATE; since a count only
    //      grows, max(n) per user is the final state and equals the batch
    //      count of the same prefix. Keyed aggregation state here is
    //      unbounded by design (150 users); production bounds it with a
    //      window or state TTL. --------------------------------------------
    Q("q128_streaming_update_counts",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_id", $"user_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id", $"ts")
          .as[(Long, java.sql.Timestamp)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            _.toDF("user_id", "ts").groupBy($"user_id").agg(count(lit(1)).as("n")))
          .groupBy($"user_id").agg(max($"n").as("n_events"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id FROM events
            ORDER BY ts, event_id LIMIT 2000)
          SELECT user_id, count(*) AS n_events
          FROM e GROUP BY user_id ORDER BY user_id""")),

    // ---- Spark 4 transformWithState running totals, driven to completion:
    //      the modern arbitrary-state API (typed ValueState on the RocksDB
    //      provider — set HERE on the dedicated child session; the default
    //      HDFS store does not support transformWithState) computing the
    //      q128 semantics through explicit state instead of a built-in agg.
    //      Each batch emits a per-key snapshot; the LAST snapshot per user
    //      (max n, and the matching monotone sum) equals the batch
    //      count/sum over the same 2000-event prefix — which is exactly
    //      what the DuckDB twin computes. Values ride as exact 1e-6 longs
    //      end-to-end (fold order cannot move the result). ----------------
    // ---- streaming Misra-Gries heavy hitters on transformWithState:
    //      q201's sketch run INCREMENTALLY — per hash-bucket ValueState
    //      cells each holding one ≤k-entry MG map (the SAME
    //      functions.MisraGries kernel batch uses), snapshots re-emitted
    //      per batch in Update mode. Buckets partition the token space, so
    //      the union of final bucket sketches is itself an MG summary
    //      (per-bucket error ≤ N_b/(k+1) ≤ N/(k+1)) — the shard-parallel
    //      deployment shape of the sketch. The gate audits the same
    //      deterministic theorem implications as q201 over the standard
    //      2000-event ordered prefix, bot-amplified ×201 for the FIXED
    //      bot set (user_id ≡ 0 mod 37, < 150 — scale-robust: the bot
    //      count must not grow with the user population or each bot
    //      dilutes below N/(k+1) at larger sf, q201's rule);
    //      the ≤4 final snapshots are the only driver-side
    //      collect beyond the documented harness feed. ---------------------
    Q("q206_streaming_heavy_hitters",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val k = 16
        val toks: Seq[(Int, String)] = Tables(ss, dir, "events")
          .select($"ts", $"event_id", $"user_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id").as[Long].collect().toSeq
          .flatMap { u =>
            val rep = if (u % 37 == 0 && u < 150) 201 else 1
            Seq.fill(rep)(((u % 4).toInt, u.toString))
          }
        val snaps = StreamingOps.driveTwoBatches(ss, toks,
          org.apache.spark.sql.streaming.OutputMode.Update())(
          ds => StreamingOps.heavyHitters(ds, k))
        val last = snaps.groupBy($"bucket").agg(max($"n_seen").as("n_seen"))
          .join(snaps, Seq("bucket", "n_seen"))
          .select($"counts").as[Map[String, Long]].collect()
        require(last.map(_.keySet.size).sum == last.flatMap(_.keySet).distinct.size,
          "bucket sketches overlapped — hash partitioning broke")
        val mg: Map[String, Long] = last.flatten.toMap
        val exact = ss.createDataset(toks).toDF("bucket", "tok")
          .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        val tot = ss.createDataset(toks).toDF("bucket", "tok")
          .agg(count(lit(1)).as("n"))
        exact.crossJoin(broadcast(tot))
          .filter($"cnt" * (k + 1) > $"n")
          .select($"tok".cast("long").as("user_id"),
            $"cnt".cast("long").as("exact_cnt"),
            when(typedlit(mg).getItem($"tok").isNotNull, 1).otherwise(0)
              .cast("int").as("in_sketch"),
            when(coalesce(typedlit(mg).getItem($"tok"), lit(0L)) <= $"cnt" &&
              ($"cnt" - coalesce(typedlit(mg).getItem($"tok"), lit(0L))) * (k + 1) <= $"n",
              1).otherwise(0).cast("int").as("est_ok"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id FROM events ORDER BY ts, event_id LIMIT 2000),
        ev AS (SELECT user_id,
            1 + CASE WHEN user_id % 37 = 0 AND user_id < 150 THEN 200 ELSE 0 END AS rep
          FROM e),
        st AS (SELECT user_id FROM ev, UNNEST(range(0, rep))),
        c AS (SELECT user_id, count(*) AS cnt FROM st GROUP BY user_id),
        n AS (SELECT count(*) AS n FROM st)
        SELECT user_id, CAST(cnt AS BIGINT) AS exact_cnt,
          CAST(1 AS INT) AS in_sketch, CAST(1 AS INT) AS est_ok
        FROM c, n WHERE cnt * 17 > n ORDER BY user_id""")),

    Q("q184_tws_running_totals",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_id", $"user_id",
            round($"value" * 1e6).cast("long").as("vmicro"))
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id", $"vmicro")
          .as[(Long, Long)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            StreamingOps.runningTotals)
          // LAST snapshot per user = the one with max n (n strictly
          // increases per emission); taking the struct max keeps the sum
          // PAIRED with that snapshot — an independent max(sum_micro)
          // would silently diverge if values ever went negative
          .groupBy($"user_id")
          .agg(max(struct($"n_events", $"sum_micro")).as("m"))
          .select($"user_id", $"m.n_events".as("n_events"),
            ($"m.sum_micro".cast("double") / 1e6).as("value_sum"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS vmicro
            FROM events ORDER BY ts, event_id LIMIT 2000)
          SELECT user_id, count(*) AS n_events,
            CAST(sum(vmicro) AS DOUBLE) / 1000000.0 AS value_sum
          FROM e GROUP BY user_id ORDER BY user_id""")),

    // ---- last-k event replay buffer per user on transformWithState
    //      LISTSTATE (the composite-state API member q184/q188/q206 don't
    //      touch): each user's k=3 most-recent events by event time,
    //      maintained as an order-independent bounded fold (keep the k
    //      largest (ts, event_id) keys — rows inside a micro-batch have no
    //      ordering guarantee), snapshot emitted per batch, gate keeps the
    //      max-n_seen snapshot (q184's paired-struct trick). The oracle
    //      replays the same contract as a per-user top-3-by-time
    //      string_agg over the fed prefix. State O(k) per key on RocksDB;
    //      2000-row MemoryStream feed is the documented harness bound. ----
    Q("q220_tws_replay_buffer",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"user_id", expr("unix_micros(ts)").as("tsu"), $"event_id")
          .orderBy($"tsu", $"event_id").limit(StreamingOps.feedLimit)
          .as[(Long, Long, Long)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            StreamingOps.replayBuffer(_, 3))
          .groupBy($"user_id")
          .agg(max(struct($"n_seen", $"last_ids")).as("m"))
          .select($"user_id", $"m.n_seen".cast("long").as("n_seen"),
            $"m.last_ids".as("last_ids"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id FROM events
            ORDER BY ts, event_id LIMIT 2000),
          r AS (SELECT user_id, ts, event_id,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rd,
              count(*) OVER (PARTITION BY user_id) AS n_seen
            FROM e)
          SELECT user_id, CAST(n_seen AS BIGINT) AS n_seen,
            string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)
              AS last_ids
          FROM r WHERE rd <= 3
          GROUP BY user_id, n_seen ORDER BY user_id""")),

    // ---- Structured Streaming sessionization, driven to completion -------
    // (MemoryStream-fed incremental run of the q33 semantics; the driver
    // sees the closed sessions as a batch result). Emitted rows = every
    // session closed in-batch (a later event opened the next one) plus each
    // user's LAST session iff the event-time timeout fired: the final
    // watermark (max feed ts, ms precision, minus the 10-min delay) passed
    // its end+gap horizon. Both rules are deterministic over the
    // (ts, event_id)-ordered prefix, so the DuckDB twin replays them.
    Q("q39_streaming_sessions",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"user_id", $"ts", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id", $"ts")
          .as[(Long, java.sql.Timestamp)]
          .collect().map(e => StreamingOps.Evt(e._1, e._2))
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Append())(
            StreamingOps.sessionize(_, gapMinutes = 30))
          .orderBy($"user_id", $"session_start")
      },
      // batch twin: gaps-and-islands sessions over the same prefix (µs gap
      // arithmetic), emitted = non-last session per user OR timeout fired
      // (timeoutTs = end_ms + gap strictly below the final ms watermark)
      Some(closedSessionsOracle)),

    // ---- q39's sessionization re-expressed on transformWithState with
    //      EVENT-TIME TIMERS (Spark 4 arbitrary-state API, RocksDB
    //      provider on the child session): in-batch gap closes emit
    //      directly; the open session registers an event-time timer at
    //      end+gap, re-registered (delete + register) as events extend it,
    //      and the timer firing under the advancing watermark closes the
    //      session — the explicit-timer form of GroupState's single
    //      implicit timeout. Emission contract is IDENTICAL to q39, so the
    //      same gaps-and-islands oracle replays it. ------------------------
    Q("q188_tws_sessions",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"user_id", $"ts", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id", $"ts")
          .as[(Long, java.sql.Timestamp)]
          .collect().map(e => StreamingOps.Evt(e._1, e._2))
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Append())(
            StreamingOps.sessionizeTws(_, gapMinutes = 30))
          .orderBy($"user_id", $"session_start")
      },
      Some(closedSessionsOracle)),

    // ---- transformWithState MAPSTATE (the composite-state surface):
    //      per-(user, event_type) running counts where each user's state is
    //      a RocksDB-backed map keyed by type — one cell updates per
    //      arrival, no whole-blob rewrite. Each batch emits the user's
    //      full updated snapshot; max-per-(user, type) over the update log
    //      equals the batch GROUP BY the oracle recomputes. ---------------
    Q("q189_tws_type_counts",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_id", $"user_id", $"event_type")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"user_id", $"event_type")
          .as[(Long, String)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            StreamingOps.typeCounts)
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n_events"))
          .orderBy($"user_id", $"event_type")
      },
      Some("""WITH e AS (SELECT user_id, event_type FROM events
            ORDER BY ts, event_id LIMIT 2000)
          SELECT user_id, event_type, count(*) AS n_events
          FROM e GROUP BY user_id, event_type ORDER BY user_id, event_type""")),

    // ---- q119's OUTER-NULL half, driven to a deterministic emission:
    //      left-outer interval-join rows (purchases with NO click in the
    //      preceding 30 min) only emit once the joint watermark passes
    //      their window, so after the two real batches a pair of far-future
    //      sentinel rows is fed to EACH stream (the joint watermark is the
    //      min across streams): sentinel batch 1 advances the watermark
    //      past all real purchases, sentinel batch 2 triggers the
    //      micro-batch in which the state store evicts and null-pads them.
    //      Result = q94's LEFT JOIN twin minus the inner core, exactly the
    //      anti-join the DuckDB oracle recomputes. --------------------------
    Q("q132_streaming_outer_nulls",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val pref = Tables(ss, dir, "events")
          .filter($"event_type".isin("purchase", "click"))
          .select($"ts", $"event_id", $"user_id", $"event_type")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .as[(java.sql.Timestamp, Long, Long, String)].collect()
        val maxMs = pref.map(_._1.getTime).max
        def sentinelTs(days: Int) =
          new java.sql.Timestamp(maxMs + days * 86400000L)
        val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
        val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
        val qn = s"graft_ivjo_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val (b1, b2) = pref.splitAt(pref.length / 2)
        def feed(b: Array[(java.sql.Timestamp, Long, Long, String)]): Unit = {
          memP.addData(b.filter(_._4 == "purchase")
            .map(e => (e._3, e._2, e._1)).toSeq)
          memC.addData(b.filter(_._4 == "click")
            .map(e => (e._3, e._1)).toSeq)
        }
        // r17: round 1 fed before start() so both sources land in ONE
        // micro-batch (see q119 — the polling engine raced the two
        // addData calls and split the round)
        feed(b1)
        val query = StreamingOps.intervalJoin(
            memP.toDF().toDF("p_user", "purchase_id", "p_ts"),
            memC.toDF().toDF("c_user", "c_ts"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          query.processAllAvailable()
          feed(b2)
          query.processAllAvailable()
          // watermark-advancing sentinel (user -1 matches no real row).
          // ONE round since r16: processAllAvailable already reruns the
          // eviction micro-batch itself when the watermark advances
          // (WatermarkTracker / shouldRunAnotherBatch), so the second
          // sentinel round only bought two more no-op micro-batches
          // (~0.6 s each on this harness); output verified identical.
          // SPARK-VERSION DEPENDENCY (ADVICE r16 #5): this one-round
          // protocol relies on the pinned Spark's no-data-batch semantics
          // (MicroBatchExecution reruns the eviction batch inside the same
          // processAllAvailable). On a Spark upgrade, re-check the five
          // one-round streaming queries (q132/q196/q255/q274 + here)
          // against the oracle FIRST — the row-count/hash gate catches a
          // semantics change, this note says where to look.
          Seq(2).foreach { d =>
            memP.addData(Seq((-1L, -1L, sentinelTs(d))))
            memC.addData(Seq((-1L, sentinelTs(d))))
            query.processAllAvailable()
          }
          ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .filter($"c_ts".isNull && $"purchase_id" >= 0)
            .select($"purchase_id", $"p_ts")
            .orderBy($"purchase_id")
        } finally query.stop()
      },
      Some(s"""$purchaseClickCtes
          SELECT purchase_id, p_ts
          FROM p
          WHERE NOT EXISTS (SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts < p.p_ts)
          ORDER BY purchase_id""")),

    // ---- streaming distribution-drift monitor: q114's PSI computed
    //      against a LIVE incoming stream. Reference distribution = the
    //      existing corpus (doc_id < the q122 integer ingest watermark);
    //      the incoming slice streams through an UPDATE-mode lang count
    //      (state = one long per lang — bounded by lang cardinality, the
    //      right 100 TB contract for a monitor); the readout takes the
    //      final stream counts (max(n) per lang over the update log, the
    //      q128 recipe), full-joins the static reference so a lang absent
    //      from either side still contributes, and emits per-lang PSI
    //      terms rounded at 1e-6 before any cross-row use. The DuckDB
    //      twin recomputes both distributions from the deterministic
    //      doc_id split. --------------------------------------------------
    Q("q171_streaming_drift",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        val docsAll = Tables(ss, dir, "documents")
        val cut = docsAll.agg(expr("max(doc_id) - max(doc_id) div 10").as("c"))
          .collect()(0).getLong(0)
        val incoming = docsAll.filter($"doc_id" >= cut)
          .select($"doc_id", $"lang").orderBy($"doc_id")
          .as[(Long, String)].collect()
        val inc = StreamingOps.driveTwoBatches(ss, incoming.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            _.toDF("doc_id", "lang").groupBy($"lang").agg(count(lit(1)).as("n")))
          .groupBy($"lang").agg(max($"n").as("n_inc"))
        val ref = docsAll.filter($"doc_id" < cut)
          .groupBy($"lang").agg(count(lit(1)).as("n_ref"))
        val counts = ref.join(inc, Seq("lang"), "full")
          .select($"lang", coalesce($"n_ref", lit(0L)).as("n_ref"),
            coalesce($"n_inc", lit(0L)).as("n_inc"))
        val tot = counts.agg(count(lit(1)).cast("double").as("k"),
          sum($"n_ref").cast("double").as("tot_ref"),
          sum($"n_inc").cast("double").as("tot_inc"))
        counts.join(broadcast(tot))
          .select($"lang", $"n_ref", $"n_inc",
            (($"n_ref" + 1) / ($"tot_ref" + $"k")).as("p_ref"),
            (($"n_inc" + 1) / ($"tot_inc" + $"k")).as("p_inc"))
          .withColumn("psi_term",
            round(($"p_ref" - $"p_inc") * log($"p_ref" / $"p_inc"), 6))
          .select($"lang", $"n_ref", $"n_inc",
            round($"p_ref", 6).as("p_ref"), round($"p_inc", 6).as("p_inc"),
            $"psi_term")
          .orderBy($"lang")
      },
      Some("""WITH m AS (SELECT max(doc_id) - max(doc_id) // 10 AS cut FROM documents),
          counts AS (SELECT lang,
              CAST(sum(CASE WHEN doc_id < cut THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
              CAST(sum(CASE WHEN doc_id >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_inc
            FROM documents, m GROUP BY lang),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS k,
              CAST(sum(n_ref) AS DOUBLE) AS tot_ref,
              CAST(sum(n_inc) AS DOUBLE) AS tot_inc FROM counts),
          p AS (SELECT lang, n_ref, n_inc,
              (n_ref + 1) / (tot_ref + k) AS p_ref,
              (n_inc + 1) / (tot_inc + k) AS p_inc
            FROM counts CROSS JOIN tot)
          SELECT lang, n_ref, n_inc,
            round(p_ref, 6) AS p_ref, round(p_inc, 6) AS p_inc,
            round((p_ref - p_inc) * ln(p_ref / p_inc), 6) AS psi_term
          FROM p ORDER BY lang""")),

    // ---- F1/E3 stability CERTIFICATE: since r12 the matcher is ALSO
    //      fully oracle-replayed (q35's recursive batch-deferred-
    //      acceptance CTE), and independently of that replay,
    //      its OUTPUT is auditable by one query. q190 writes q35's cleaned
    //      preference lists and matched pairs to parquet, then BOTH engines
    //      run the SAME certificate SQL over those files: per round,
    //      (a) n_blocking — pairs mutually present in the round's working
    //      lists where both sides STRICTLY prefer each other over their
    //      round-r partners (None-safe: unmatched = −∞) — must be 0 for a
    //      weakly-stable round (ref semantics: stable_match.py:133-161);
    //      (b) n_invalid — matched pairs absent from either working list
    //      (tier violation: pairs matched in earlier rounds are REMOVED,
    //      so a re-match or an off-list match lands here); (c) n_multi —
    //      endpoints matched twice within one round (per-round 1:1).
    //      Fixture content is SF-invariant (cases derive from the fixed
    //      star schemas; scores from the deterministic mock), so the fixed
    //      path follows the q60 idempotent-rewrite contract. ---------------
    Q("q190_stable_certificate",
      (s, dir) => certificateQuery(s, dir, maxRounds = 2,
        certPrefsPath, certMatchesPath),
      Some(stableCertSql(
        s"read_parquet('$certPrefsPath/*.parquet')",
        s"read_parquet('$certMatchesPath/*.parquet')"))),

    // ---- q190 at maxRounds = 5 (VERDICT r7 item 5): tier removal is
    //      audited DEEPER than the pipeline's 2-round default — rounds 3-5
    //      must still show zero blocking pairs, zero tier violations and
    //      per-round 1:1 endpoints against their progressively shrunken
    //      working lists, or appear as all-zero rows once the matcher
    //      naturally runs out of new matches. Own fixture paths so the
    //      two parameterizations never clobber each other's oracle
    //      inputs. -----------------------------------------------------------
    Q("q253_stable_certificate_r5",
      (s, dir) => certificateQuery(s, dir, maxRounds = 5,
        certPrefsPath5, certMatchesPath5),
      Some(stableCertSql(
        s"read_parquet('$certPrefsPath5/*.parquet')",
        s"read_parquet('$certMatchesPath5/*.parquet')",
        maxRounds = 5))),

    // ---- ISO-BMFF (MP4) container catalog, construction-inverse oracle:
    //      every doc becomes a spec-valid MP4 (ftyp + moov(mvhd, trak*) +
    //      mdat) whose box parameters are pure functions of table columns;
    //      the REAL box walker (Multimodal.MediaCodecs.parseMp4) extracts
    //      duration, track count, codec fourccs, tkhd dimensions, stsz
    //      sample counts and the stss keyframe index, and the oracle
    //      recomputes all of them from the format math — a mis-parsed
    //      offset anywhere in the box tree diverges the hash. Audio tracks
    //      carry no stss, so their samples count as sync per spec. FRAME
    //      decode (H.264) is a permanent documented skip; the container
    //      layer is what a 100 TB media-curation catalog actually scans.
    //      Row-local encode+parse, zero shuffle before the sort. ----------
    Q("q191_mp4_boxes",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .map { case (id, nch) =>
            val video = ("avc1", (160 + (id % 8) * 16).toInt,
              (120 + (nch % 6) * 16).toInt, (24 + id % 48).toInt, 8)
            val tracks =
              if (id % 2 == 1)
                Seq(video, ("mp4a", 0, 0, (100 + nch % 50).toInt, 0))
              else Seq(video)
            val bytes = Multimodal.MediaCodecs.encodeMp4(
              timescale = 1000, duration = 500 + (nch % 1000) * 10,
              tracks, seed = id)
            val m = Multimodal.MediaCodecs.parseMp4(bytes).get
            (id, m.durationMs, m.nTracks, m.codecs.mkString(","),
              m.width, m.height, m.nSamples, m.nKeyframes)
          }
          .toDF("id", "duration_ms", "n_tracks", "codecs", "width",
            "height", "n_samples", "n_keyframes")
          .orderBy($"id")
      },
      Some("""SELECT doc_id AS id,
          CAST(500 + (n_chars % 1000) * 10 AS BIGINT) AS duration_ms,
          CAST(1 + doc_id % 2 AS INT) AS n_tracks,
          CASE WHEN doc_id % 2 = 1 THEN 'avc1,mp4a' ELSE 'avc1' END AS codecs,
          CAST(160 + (doc_id % 8) * 16 AS INT) AS width,
          CAST(120 + (n_chars % 6) * 16 AS INT) AS height,
          CAST(24 + doc_id % 48
            + CASE WHEN doc_id % 2 = 1 THEN 100 + n_chars % 50 ELSE 0 END
            AS BIGINT) AS n_samples,
          CAST((24 + doc_id % 48 + 7) // 8
            + CASE WHEN doc_id % 2 = 1 THEN 100 + n_chars % 50 ELSE 0 END
            AS BIGINT) AS n_keyframes
        FROM documents ORDER BY id""")),

    // ---- MPEG audio (MP3) catalog, construction-inverse oracle: each doc
    //      becomes a CBR MPEG-1 Layer III stream with an ID3v2.3 tag whose
    //      parameters are pure functions of table columns; the REAL header
    //      walker (Multimodal.MediaCodecs.parseMp3) skips the tag via the
    //      synchsafe size, walks every frame header through the public
    //      bitrate/sample-rate tables and the 144·br/rate+padding length
    //      math, and the oracle recomputes tag size, frame count, bitrate,
    //      rate and 1152-samples-per-frame duration from the same format
    //      math — a mis-read anywhere desyncs the walk and diverges the
    //      hash. Frame decode (huffman/MDCT) is out of scope like H.264;
    //      this is the layer a 100 TB audio-curation scan actually reads.
    //      Row-local encode+parse, zero shuffle before the sort. ----------
    Q("q195_mp3_frames",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", $"n_chars")
          .as[(Long, Long)].fanout
          .map { case (id, nch) =>
            val bytes = Multimodal.MediaCodecs.encodeMp3(
              bitrateIdx = 1 + (id % 14).toInt, rateIdx = (id % 3).toInt,
              nFrames = 20 + (nch % 30).toInt,
              id3Content = 100 + (id % 200).toInt, seed = id)
            val m = Multimodal.MediaCodecs.parseMp3(bytes).get
            (id, m.id3Bytes.toLong, m.nFrames, m.bitrateKbps.toLong,
              m.sampleRate.toLong, m.durationMs)
          }
          .toDF("id", "id3_bytes", "n_frames", "bitrate_kbps",
            "sample_rate", "duration_ms")
          .orderBy($"id")
      },
      Some("""WITH br(i, kbps) AS (VALUES (1, 32), (2, 40), (3, 48), (4, 56),
            (5, 64), (6, 80), (7, 96), (8, 112), (9, 128), (10, 160),
            (11, 192), (12, 224), (13, 256), (14, 320)),
          m AS (SELECT doc_id AS id,
              CAST(110 + doc_id % 200 AS BIGINT) AS id3_bytes,
              CAST(20 + n_chars % 30 AS BIGINT) AS n_frames,
              CAST(kbps AS BIGINT) AS bitrate_kbps,
              CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                   ELSE 32000 END AS BIGINT) AS sample_rate
            FROM documents JOIN br ON br.i = 1 + doc_id % 14)
          SELECT id, id3_bytes, n_frames, bitrate_kbps, sample_rate,
            CAST(n_frames * 1152 * 1000 // sample_rate AS BIGINT) AS duration_ms
          FROM m ORDER BY id""")),

    // ---- CHAINED stateful operators in one streaming query: hourly
    //      counts re-windowed into 6-hour roll-ups — two event-time
    //      aggregations back-to-back on one watermark (the Spark ≥3.5
    //      multiple-stateful-operator path; before it, this took two
    //      queries with an intermediate sink). Append mode: a roll-up
    //      emits only when the watermark passes its 6-hour end, so after
    //      the two real batches two far-future sentinel batches advance
    //      the watermark and flush the state (q132's recipe); sentinel
    //      windows themselves are filtered by type. The DuckDB twin is
    //      the same double-windowing as one batch GROUP BY chain over
    //      the prefix. --------------------------------------------------
    Q("q196_streaming_chained_aggs",
      (s, dir) => {
        // dedicated 4-partition child session (see q41's comment)
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_type", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"ts", $"event_type")
          .as[(java.sql.Timestamp, String)].collect()
        val maxMs = evts.map(_._1.getTime).max
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
        val qn = s"graft_chain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val query = StreamingOps.chainedWindowCounts(
            mem.toDF().toDF("ts", "event_type"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          val (b1, b2) = evts.splitAt(evts.length / 2)
          mem.addData(b1.toSeq); query.processAllAvailable()
          mem.addData(b2.toSeq); query.processAllAvailable()
          // advance the watermark past every real 6-hour window; the
          // flushing micro-batch runs inside the same processAllAvailable
          // (shouldRunAnotherBatch — see q132), so ONE round since r16
          Seq(2).foreach { d =>
            mem.addData(Seq((new java.sql.Timestamp(maxMs + d * 86400000L),
              "zz_sentinel")))
            query.processAllAvailable()
          }
          ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .filter($"event_type" =!= "zz_sentinel")
            .orderBy($"bucket_start", $"event_type")
        } finally query.stop()
      },
      Some("""WITH e AS (SELECT ts, event_type FROM events
            ORDER BY ts, event_id LIMIT 2000),
          h AS (SELECT date_trunc('hour', ts) AS hs, event_type,
                count(*) AS n_hour FROM e GROUP BY 1, 2),
          b AS (SELECT make_timestamp((CAST(epoch(hs) AS BIGINT) // 21600) * 21600 * 1000000)
                  AS bucket_start, event_type,
                CAST(sum(n_hour) AS BIGINT) AS n_events,
                count(*) AS n_active_hours,
                CAST(max(n_hour) AS BIGINT) AS max_hourly
              FROM h GROUP BY 1, 2)
          SELECT bucket_start, event_type, n_events, n_active_hours,
            max_hourly
          FROM b ORDER BY bucket_start, event_type""")),

    // ---- STREAMING HLL: per-hour distinct-user ESTIMATE via mergeable
    //      registers in streaming state (StreamingOps.windowedHllDistinct)
    //      — the sketch q254 builds in batch, held incrementally: exact
    //      per-window distinct state is O(users×windows) and unbounded on
    //      a real stream; register state is O(windows×128) ints and
    //      watermark-evicted. Two chained event-time aggs on one
    //      watermark (q196's pattern); the DuckDB twin replays the
    //      identical integer register math over the same 2000-row feed,
    //      so the gate hash-matches estimates, not a tolerance. The raw
    //      estimate is biased low-cardinality (no small-range correction
    //      by design — ln() isn't cross-engine reproducible); the
    //      deliverable documents d_scaled so any consumer can apply its
    //      own correction downstream. -----------------------------------------
    Q("q255_streaming_hll",
      (s, dir) => {
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"user_id", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"ts", $"user_id")
          .as[(java.sql.Timestamp, Long)].collect()
        val maxMs = evts.map(_._1.getTime).max
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
        val qn = s"graft_shll_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val query = StreamingOps.windowedHllDistinct(
            mem.toDF().toDF("ts", "user_id"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          val (b1, b2) = evts.splitAt(evts.length / 2)
          mem.addData(b1.toSeq); query.processAllAvailable()
          mem.addData(b2.toSeq); query.processAllAvailable()
          // advance the watermark past every real window; the flushing
          // micro-batch runs inside the same processAllAvailable
          // (shouldRunAnotherBatch — see q132), so ONE round since r16;
          // sentinel windows are cut by the window_start bound below
          Seq(2).foreach { d =>
            mem.addData(Seq((new java.sql.Timestamp(maxMs + d * 86400000L), -1L)))
            query.processAllAvailable()
          }
          ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .filter($"window_start" <= new java.sql.Timestamp(maxMs))
            .orderBy($"window_start")
        } finally query.stop()
      },
      Some {
        import graft.functions.HyperLogLog.{M, RhoMax, WordBits}
        val hashSql = graft.functions.TextFunctions.hexPolySql(15,
          "concat_ws('|', 'hll', user_id)")
        val estSql = graft.functions.HyperLogLog.estimateSql("d_scaled")
        s"""WITH e AS (SELECT ts, user_id FROM events
            ORDER BY ts, event_id LIMIT 2000),
          h AS (SELECT date_trunc('hour', ts) AS ws, $hashSql AS h FROM e),
          b AS (SELECT ws, h >> $WordBits AS bkt,
              h & ${(1L << WordBits) - 1} AS w FROM h),
          r AS (SELECT ws, bkt,
              max(CASE WHEN w = 0 THEN $RhoMax
                  ELSE CAST(log2(w & (-w)) AS INT) + 1 END) AS reg
            FROM b GROUP BY 1, 2),
          p AS (SELECT ws, count(*) AS n_buckets,
              sum(CAST(1 AS BIGINT) << ($RhoMax - reg)) AS d_present
            FROM r GROUP BY 1),
          s AS (SELECT ws AS window_start,
              CAST($M - n_buckets AS BIGINT) AS v_empty,
              CAST(d_present + ($M - n_buckets) * (CAST(1 AS BIGINT) << $RhoMax)
                AS BIGINT) AS d_scaled
            FROM p)
          SELECT window_start, v_empty, d_scaled, $estSql AS hll_estimate
          FROM s ORDER BY window_start"""
      }),

    // ---- STREAMING COUNT-MIN: the sketch-family completion — HLL has
    //      batch q254 / stream q255, Misra–Gries has q201/q206; CMS had
    //      only batch q166. Per-hour d×w frequency cells held in
    //      watermark-evicted streaming state (exact per-key counts are
    //      O(keys×windows) and unbounded); the cells are SUMS — order-free
    //      and mergeable — so the micro-batch build lands on exactly the
    //      batch counters and the DuckDB twin replays the stream's output
    //      hash-exact, point estimates included (min over the d probe
    //      cells, one-sided overcount ≥ 0 by construction). Same md5
    //      column family as q166 (`cms<j>:<key>`). --------------------------
    Q("q274_streaming_cms",
      (s, dir) => {
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_type", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select($"ts", $"event_type")
          .as[(java.sql.Timestamp, String)].collect()
        val maxMs = evts.map(_._1.getTime).max
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
        val qn = s"graft_scms_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val query = StreamingOps.windowedCmsCells(
            mem.toDF().toDF("ts", "event_type"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
        try {
          val (b1, b2) = evts.splitAt(evts.length / 2)
          mem.addData(b1.toSeq); query.processAllAvailable()
          mem.addData(b2.toSeq); query.processAllAvailable()
          // advance the watermark past every real window; the flushing
          // micro-batch runs inside the same processAllAvailable
          // (shouldRunAnotherBatch — see q132), so ONE round since r16
          Seq(2).foreach { d =>
            mem.addData(Seq((new java.sql.Timestamp(maxMs + d * 86400000L),
              "zz_sentinel")))
            query.processAllAvailable()
          }
          val cells = ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .filter($"window_start" <= new java.sql.Timestamp(maxMs))
          // point-estimate audit over the same feed: per (window, key)
          // exact counts probe their d cells, estimate = min — the same
          // rows both engines see, so overcount is gateable, not bounded
          def cmsCol(j: Int) = expr(
            s"cast(conv(substring(md5(concat('cms$j:', event_type)), 1, 12), 16, 10) as bigint) % 16")
          val rc = array((0 until 4).map(j =>
            struct(lit(j.toLong).as("j"), cmsCol(j).as("c"))): _*)
          val exact = ss.createDataset(evts.toSeq).toDF("ts", "event_type")
            .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
            .agg(count(lit(1)).as("exact_cnt"))
          exact
            .select($"window_start", $"event_type", $"exact_cnt",
              explode(rc).as("rc"))
            .select($"window_start", $"event_type", $"exact_cnt",
              $"rc.j".as("j"), $"rc.c".as("c"))
            .join(cells, Seq("window_start", "j", "c"))
            .groupBy($"window_start", $"event_type", $"exact_cnt")
            .agg(min($"cell").as("cms_est"))
            .select($"window_start", $"event_type", $"exact_cnt",
              $"cms_est", ($"cms_est" - $"exact_cnt").as("overcount"))
            .orderBy($"window_start", $"event_type")
        } finally query.stop()
      },
      Some {
        val c = graft.functions.TextFunctions.hexPolySql(12,
          "'cms' || j || ':' || event_type")
        s"""WITH e AS (SELECT ts, event_type FROM events
              ORDER BY ts, event_id LIMIT 2000),
          cells AS (SELECT date_trunc('hour', ts) AS window_start, j,
                ($c % 16) AS cc, count(*) AS cell
              FROM e, UNNEST(range(0, 4)) AS r(j) GROUP BY 1, 2, 3),
          ex AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS exact_cnt
              FROM e GROUP BY 1, 2),
          pp AS (SELECT window_start, event_type, exact_cnt, j,
                ($c % 16) AS cc
              FROM ex, UNNEST(range(0, 4)) AS r(j)),
          est AS (SELECT pp.window_start, event_type, exact_cnt,
                min(cell) AS cms_est
              FROM pp JOIN cells ON cells.window_start = pp.window_start
                AND cells.j = pp.j AND cells.cc = pp.cc
              GROUP BY 1, 2, 3)
          SELECT window_start, event_type, CAST(exact_cnt AS BIGINT) AS exact_cnt,
            CAST(cms_est AS BIGINT) AS cms_est,
            CAST(cms_est - exact_cnt AS BIGINT) AS overcount
          FROM est ORDER BY window_start, event_type"""
      }),

    // ---- STREAMING KMV: the quantile/distinct sample family's stream
    //      twin, completing the batch/stream sketch symmetry — HLL has
    //      q254/q255, Misra–Gries q201/q206, CMS q166/q274; KMV (q210/
    //      q230/q263 in batch) gets its streaming member here. Per-hour
    //      bottom-64 DISTINCT deterministic hash draws held in RocksDB
    //      ListState via transformWithState: min-k of a union is min-k of
    //      per-batch min-ks, so batch boundaries and in-batch order
    //      vanish from the final state (the mergeable-summaries
    //      contract). Snapshots are sequence-numbered by exact arrival
    //      count and the gate keeps the LAST per window (u_k is not
    //      monotone while the set fills, so min/max over the update log
    //      can't stand in — q220's trick). The DuckDB twin replays the
    //      min-k per window from the same 2000-row feed over the shared
    //      detRand kernel; estimate = exact k below the fill line,
    //      (k−1)/u_k above it — identical float ops both sides. ------------
    Q("q297_streaming_kmv",
      (s, dir) => {
        val ss = StreamingOps.rocksSession(s)
        import ss.implicits._
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"user_id", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .select(
            date_trunc("hour", $"ts").cast("long").as("window_s"),
            graft.operators.Sampling.detRand(297L,
              $"user_id".cast("string")).as("u"))
          .as[(Long, Double)].collect()
        StreamingOps.driveTwoBatches(ss, evts.toSeq,
            org.apache.spark.sql.streaming.OutputMode.Update())(
            d => StreamingOps.kmvDistinct(d, 64))
          .groupBy($"window_s")
          .agg(max($"n_seen").as("n_seen"),
            max_by($"k_got", $"n_seen").as("k_got"),
            max_by($"u_k", $"n_seen").as("u_k"))
          .select($"window_s", $"n_seen",
            $"k_got".cast("int").as("k_got"), $"u_k",
            when($"k_got" < 64, $"k_got".cast("double"))
              .otherwise(($"k_got" - 1).cast("double") / $"u_k")
              .as("est_distinct"))
          .orderBy($"window_s")
      },
      Some {
        val u = graft.operators.Sampling.detRandSql(297L,
          Seq("CAST(user_id AS VARCHAR)"))
        s"""WITH e AS (SELECT ts, user_id FROM events
              ORDER BY ts, event_id LIMIT 2000),
          h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                AS window_s, $u AS u FROM e),
          n AS (SELECT window_s, count(*) AS n_seen FROM h GROUP BY 1),
          d AS (SELECT DISTINCT window_s, u FROM h),
          r AS (SELECT window_s, u, row_number() OVER (PARTITION BY window_s
                ORDER BY u) AS rn FROM d),
          k AS (SELECT window_s, count(*) AS k_got, max(u) AS u_k
            FROM r WHERE rn <= 64 GROUP BY 1)
          SELECT k.window_s, CAST(n.n_seen AS BIGINT) AS n_seen,
            CAST(k.k_got AS INT) AS k_got, k.u_k,
            CASE WHEN k.k_got < 64 THEN CAST(k.k_got AS DOUBLE)
                 ELSE CAST(k.k_got - 1 AS DOUBLE) / k.u_k END AS est_distinct
          FROM k JOIN n ON n.window_s = k.window_s
          ORDER BY k.window_s"""
      }),

    // ---- watermark DEAD-LETTER audit: how many rows does the watermark
    //      actually drop, per window? The feed deliberately arrives out of
    //      order (even-index rows first, odd-index rows second), so batch 2
    //      carries genuinely late data; the hourly windowed count runs with
    //      a 48-hour watermark in Update mode, and rows whose window
    //      closed before batch 2's watermark are silently discarded — the
    //      audit makes that loss a DELIVERABLE: n_dead = per-window input
    //      total minus what the stream accepted. The oracle REPLAYS the
    //      watermark protocol analytically: wm₂ = max(batch-1 ts) − 48 h
    //      (batch 1 runs against the initial zero watermark), and a batch-2
    //      row is dropped iff its window_end ≤ wm₂ — the same predicate
    //      Spark's stateful aggregation applies to late input. Boundary
    //      note: window ends are hour-aligned while wm₂ carries event-time
    //      microseconds, so the ≤-vs-< edge cannot fire on this data. ------
    Q("q244_streaming_dead_letter",
      (s, dir) => {
        val ss = StreamingOps.streamSession(s)
        import ss.implicits._
        implicit val sqlCtx = ss.sqlContext
        val evts = Tables(ss, dir, "events")
          .select($"ts", $"event_id")
          .orderBy($"ts", $"event_id").limit(StreamingOps.feedLimit)
          .as[(java.sql.Timestamp, Long)].collect()
        // deterministic out-of-order feed: evens then odds
        val (b1, b2) = evts.zipWithIndex.partition(_._2 % 2 == 0)
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
        val qn = s"graft_dl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val query = mem.toDF().toDF("ts", "event_id")
          .withWatermark("ts", "48 hours")
          .groupBy(window($"ts", "1 hour"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(qn)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update).start()
        try {
          mem.addData(b1.map(_._1).toSeq); query.processAllAvailable()
          mem.addData(b2.map(_._1).toSeq); query.processAllAvailable()
          val accepted = ss.table(qn)
            .coalesce(1).localCheckpoint(eager = true) // detach from the stopped stream
            .groupBy($"window.start".as("window_start"))
            .agg(max($"n").as("n_accepted"))
          // per-window input totals from the same 2000-row feed: the
          // difference IS the dead-letter count the watermark caused
          val totals = ss.createDataset(evts.toSeq).toDF("ts", "event_id")
            .groupBy(window($"ts", "1 hour"))
            .agg(count(lit(1)).as("n_total"))
            .select($"window.start".as("window_start"), $"n_total")
          totals.join(accepted, Seq("window_start"), "left")
            .select($"window_start", $"n_total".cast("long").as("n_total"),
              coalesce($"n_accepted", lit(0L)).cast("long").as("n_accepted"),
              ($"n_total" - coalesce($"n_accepted", lit(0L))).cast("long")
                .as("n_dead"))
            .orderBy($"window_start")
        } finally query.stop()
      },
      Some("""WITH e AS (SELECT ts, event_id,
              row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
            FROM (SELECT ts, event_id FROM events
                  ORDER BY ts, event_id LIMIT 2000)),
          b1 AS (SELECT * FROM e WHERE rn % 2 = 0),
          b2 AS (SELECT * FROM e WHERE rn % 2 = 1),
          wm AS (SELECT max(ts) - INTERVAL 48 HOUR AS w FROM b1),
          dropped AS (SELECT date_trunc('hour', b2.ts) AS ws
            FROM b2, wm
            WHERE date_trunc('hour', b2.ts) + INTERVAL 1 HOUR <= wm.w),
          tot AS (SELECT date_trunc('hour', ts) AS window_start,
              count(*) AS n_total FROM e GROUP BY 1),
          dl AS (SELECT ws AS window_start, count(*) AS n_dead
            FROM dropped GROUP BY 1)
          SELECT t.window_start, CAST(t.n_total AS BIGINT) AS n_total,
            CAST(t.n_total - COALESCE(d.n_dead, 0) AS BIGINT) AS n_accepted,
            CAST(COALESCE(d.n_dead, 0) AS BIGINT) AS n_dead
          FROM tot t LEFT JOIN dl d ON t.window_start = d.window_start
          ORDER BY t.window_start"""))
  )

  private val certFixDir = "/tmp/graft_fixtures"
  private val certPrefsPath = s"$certFixDir/q190_prefs.parquet"
  private val certMatchesPath = s"$certFixDir/q190_matches.parquet"
  // q253 re-runs the certificate with maxRounds = 5 (deeper tier-removal
  // audit than the pipeline's default 2); separate fixture paths so the
  // two parameterizations never clobber each other's oracle inputs
  private val certPrefsPath5 = s"$certFixDir/q253_prefs.parquet"
  private val certMatchesPath5 = s"$certFixDir/q253_matches.parquet"

  /** Near-atomic parquet fixture publish: Spark writes the dataframe to a
    * pid-keyed temp directory, then the fixed path is swapped in with two
    * renames (old dir aside, temp in). A crash mid-Spark-write leaves the
    * previous complete fixture untouched at the fixed path; the exposed
    * window is two rename syscalls, not a whole write job. Stale temp/old
    * dirs carry a trailing `_<pid>` and are swept by the same
    * stale-process prune the other parquet fixtures use
    * (IngestQueries.pruneStaleFixtures).
    */
  private def publishParquet(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val rm = IngestQueries.deleteRecursively _
    val pid = ProcessHandle.current().pid()
    val tmp = s"$path.tmp_$pid"
    val old = s"$path.old_$pid"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val p = Paths.get(path)
    // fixture content is deterministic and SF-invariant, so a concurrent
    // process winning any step of the swap leaves identical bytes at the
    // fixed path — losing a race is tolerated, but a GENUINE move failure
    // (permissions, IO error) must restore the previous fixture and
    // surface the cause instead of deleting both copies silently
    if (Files.exists(p)) {
      // a stale `old_<pid>` left by a crashed earlier publish whose pid was
      // since reused would make Files.move throw FileAlreadyExistsException
      // and fail the publish — clear the aside target first
      rm(Paths.get(old))
      try Files.move(p, Paths.get(old))
      catch { case _: java.nio.file.NoSuchFileException => } // raced away
    }
    try Files.move(Paths.get(tmp), p)
    catch {
      case e: java.nio.file.FileSystemException =>
        rm(Paths.get(tmp))
        if (!Files.exists(p)) {
          // not a concurrent winner — put the previous fixture back; if
          // that leaves the path empty too, fail loudly with the cause
          try Files.move(Paths.get(old), p)
          catch { case _: java.nio.file.FileSystemException => }
          if (!Files.exists(p)) throw e
        }
    }
    rm(Paths.get(old))
  }

  /** The matcher run + certificate audit behind q190 (maxRounds = 2) and
    * q253 (maxRounds = 5): scores both directions with the mock client,
    * runs the distributed matcher, publishes the cleaned preference lists
    * and matches to the given fixture paths (atomic swap — see
    * publishParquet), and returns the certificate over them.
    */
  private def certificateQuery(s: SparkSession, dir: String, maxRounds: Int,
      prefsPath: String, matchesPath: String): DataFrame = {
    import s.implicits._
    val tcs = cases(s, dir)
    val fwdQ = s.createDataset(for {
      tc <- tcs; t <- tc.targetSchema.map(_.name)
    } yield Question(tc.id, t, s"fwd|${tc.id}|$t", tc.sourceSchema.map(_.name)))
    val bwdQ = s.createDataset(for {
      tc <- tcs; c <- tc.sourceSchema.map(_.name)
    } yield Question(tc.id, c, s"bwd|${tc.id}|$c", tc.targetSchema.map(_.name)))
    val fwd = LlmOperator.score(fwdQ, MockLlmClient.Factory())
      .toDF("case_id", "query_attr", "cand_attr", "score")
      .withColumn("direction", lit("bwd"))
    val bwd = LlmOperator.score(bwdQ, MockLlmClient.Factory())
      .toDF("case_id", "query_attr", "cand_attr", "score")
      .withColumn("direction", lit("fwd"))
    // MEASURED REJECTION (r17): materializing prefs (consumed by both the
    // matcher's collect and the published audit) read WORSE in quiet-box
    // fresh-JVM A/B (cold 3.05→3.6 s, warm 1.54→1.72 s) — the mock scoring
    // re-run is cheaper than the cache write + eager pass it replaces.
    val prefs = fwd.unionByName(bwd)
    val matches = StableMatcher.matchCases(prefs, maxRounds = maxRounds)
    // mirror the matcher's clean(): lowercase/trim both attrs, drop
    // sentinel candidates — the certificate must audit the lists the
    // matcher actually consumed
    val cleaned = prefs.select($"case_id", $"direction",
        lower(trim($"query_attr")).as("query_attr"),
        lower(trim($"cand_attr")).as("cand_attr"), $"score")
      .filter(!lower(trim($"cand_attr"))
        .isin(StableMatcher.defaultSentinels.toSeq: _*))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(certFixDir))
    publishParquet(cleaned, prefsPath)
    publishParquet(matches, matchesPath)
    s.sql(stableCertSql(
      s"parquet.`$prefsPath`", s"parquet.`$matchesPath`", maxRounds))
  }

  /** One certificate text, two engines: `prefsRef`/`matchesRef` are the
    * dialect-specific table expressions; everything else is shared ANSI.
    * Working list at round r = full (cleaned) list minus pairs matched in
    * rounds < r; blocking needs STRICT preference on both sides (the
    * matcher's strictly-greater acceptance makes ties non-blocking).
    * `maxRounds` drives the audited round axis (q190: 2, q253: 5).
    */
  private[graft] def stableCertSql(prefsRef: String, matchesRef: String,
      maxRounds: Int = 2): String =
    s"""WITH pr AS (SELECT * FROM $prefsRef),
        mt AS (SELECT * FROM $matchesRef),
        rounds AS (${(1 to maxRounds)
          .map(r => s"SELECT $r AS r").mkString(" UNION ALL ")}),
        fwd AS (SELECT case_id, query_attr AS s, cand_attr AS t, score
                FROM pr WHERE direction = 'fwd'),
        bwd AS (SELECT case_id, query_attr AS t, cand_attr AS s, score
                FROM pr WHERE direction = 'bwd'),
        mr AS (SELECT round AS r, case_id, src_attr AS s, tgt_attr AS t FROM mt),
        first_m AS (SELECT case_id, s, t, min(r) AS first_r
                    FROM mr GROUP BY case_id, s, t),
        wf AS (SELECT r.r, f.case_id, f.s, f.t, f.score
               FROM rounds r CROSS JOIN fwd f
               LEFT JOIN first_m e ON e.case_id = f.case_id AND e.s = f.s AND e.t = f.t
               WHERE e.first_r IS NULL OR e.first_r >= r.r),
        wb AS (SELECT r.r, b.case_id, b.s, b.t, b.score
               FROM rounds r CROSS JOIN bwd b
               LEFT JOIN first_m e ON e.case_id = b.case_id AND e.s = b.s AND e.t = b.t
               WHERE e.first_r IS NULL OR e.first_r >= r.r),
        scur AS (SELECT m.r, m.case_id, m.s, f.score FROM mr m JOIN fwd f
                 ON f.case_id = m.case_id AND f.s = m.s AND f.t = m.t),
        tcur AS (SELECT m.r, m.case_id, m.t, b.score FROM mr m JOIN bwd b
                 ON b.case_id = m.case_id AND b.t = m.t AND b.s = m.s),
        cand AS (SELECT f.r, f.case_id, f.s, f.t, f.score AS fs, b.score AS bs
                 FROM wf f JOIN wb b
                 ON b.r = f.r AND b.case_id = f.case_id AND b.s = f.s AND b.t = f.t),
        blk AS (SELECT c.r, count(*) AS n_blocking
                FROM cand c
                  LEFT JOIN scur ON scur.r = c.r AND scur.case_id = c.case_id AND scur.s = c.s
                  LEFT JOIN tcur ON tcur.r = c.r AND tcur.case_id = c.case_id AND tcur.t = c.t
                  LEFT JOIN mr me ON me.r = c.r AND me.case_id = c.case_id
                    AND me.s = c.s AND me.t = c.t
                WHERE me.s IS NULL
                  AND (scur.score IS NULL OR c.fs > scur.score)
                  AND (tcur.score IS NULL OR c.bs > tcur.score)
                GROUP BY c.r),
        inv AS (SELECT m.r, count(*) AS n_invalid FROM mr m
                  LEFT JOIN wf ON wf.r = m.r AND wf.case_id = m.case_id
                    AND wf.s = m.s AND wf.t = m.t
                  LEFT JOIN wb ON wb.r = m.r AND wb.case_id = m.case_id
                    AND wb.s = m.s AND wb.t = m.t
                WHERE wf.s IS NULL OR wb.s IS NULL
                GROUP BY m.r),
        ends AS (SELECT r, case_id, s AS a, count(*) AS c
                 FROM mr GROUP BY r, case_id, s
                 UNION ALL
                 SELECT r, case_id, t AS a, count(*) AS c
                 FROM mr GROUP BY r, case_id, t),
        mul AS (SELECT r, count(*) AS n_multi FROM ends WHERE c > 1 GROUP BY r),
        nm AS (SELECT r, count(*) AS n_matches FROM mr GROUP BY r)
        SELECT CAST(r.r AS BIGINT) AS round,
          CAST(COALESCE(nm.n_matches, 0) AS BIGINT) AS n_matches,
          CAST(COALESCE(blk.n_blocking, 0) AS BIGINT) AS n_blocking,
          CAST(COALESCE(inv.n_invalid, 0) AS BIGINT) AS n_invalid,
          CAST(COALESCE(mul.n_multi, 0) AS BIGINT) AS n_multi
        FROM rounds r
          LEFT JOIN nm ON nm.r = r.r
          LEFT JOIN blk ON blk.r = r.r
          LEFT JOIN inv ON inv.r = r.r
          LEFT JOIN mul ON mul.r = r.r
        ORDER BY round"""
}
