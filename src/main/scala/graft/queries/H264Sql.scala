package graft.queries

/** DuckDB replay of the H.264 macroblock streams
  * ([[graft.operators.H264]]) as CTE text — the pieces the
  * q_multimodal_h264_mb, q_multimodal_h264_ac and q_multimodal_h264_cbp
  * oracles share: the per-macroblock grid, the spec tables, the 8.5.10
  * DC Hadamard + scale, and the left-only DC prediction chain unrolled
  * over mbx 0..9 (widthMbs <= 10; the Lloyd/GD CTE unroll move).
  * DuckDB's `>>` is arithmetic on negatives, matching the engine's
  * Scala `>>`.
  */
private[queries] object H264Sql {

  /** `mb`: one row (d, qp, mby, mbx, idx) per macroblock of every
    * document's clip, idx its raster index. */
  val grid: String =
    """d AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
      |pp AS (SELECT d, 2 + d % 9 AS w, 2 + d % 5 AS h,
      |         20 + d % 16 AS qp FROM d),
      |mb AS (SELECT d, qp, mby, mbx, mby * w + mbx AS idx
      |       FROM pp,
      |       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS mby) uy,
      |       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS mbx) ux)"""
      .stripMargin

  /** `zz` zig-zag scan (p -> pr, pc), `hm` Hadamard matrix (i, k, v)
    * and `na` normAdjust4x4 (m, cls, a); class 0 is the DC
    * LevelScale4x4(m, 0, 0). */
  val tables: String =
    """zz AS (SELECT * FROM (VALUES (0,0,0),(1,0,1),(2,1,0),(3,2,0),
      |        (4,1,1),(5,0,2),(6,0,3),(7,1,2),(8,2,1),(9,3,0),(10,3,1),
      |        (11,2,2),(12,1,3),(13,2,3),(14,3,2),(15,3,3))
      |        v(p, pr, pc)),
      |hm AS (SELECT * FROM (VALUES (0,0,1),(0,1,1),(0,2,1),(0,3,1),
      |        (1,0,1),(1,1,1),(1,2,-1),(1,3,-1),
      |        (2,0,1),(2,1,-1),(2,2,-1),(2,3,1),
      |        (3,0,1),(3,1,-1),(3,2,1),(3,3,-1)) v(i, k, v)),
      |na AS (SELECT * FROM (VALUES (0,0,10),(0,1,16),(0,2,13),
      |        (1,0,11),(1,1,18),(1,2,14),(2,0,13),(2,1,20),(2,2,16),
      |        (3,0,14),(3,1,23),(3,2,18),(4,0,16),(4,1,25),(4,2,20),
      |        (5,0,18),(5,1,29),(5,2,23)) v(m, cls, a))""".stripMargin

  /** `co`: the 0-3 (pos, lvl) DC coefficients of every macroblock of
    * the multi-coefficient corpus (the ac stream and the CBP stream's
    * DC block), TrailingOnes drawn directly. */
  val acDcCoefs: String =
    """co AS (SELECT m.d, m.mby, m.mbx, m.qp,
      |         ((m.d + m.idx * 7) % 6)
      |           + kk.k * (1 + (m.d + m.idx) % 5) AS pos,
      |         (CASE WHEN (m.d + m.idx + kk.k) % 2 = 0
      |               THEN 1 ELSE -1 END)
      |         * (CASE WHEN kk.k >= (m.d + m.idx) % 4
      |                   - (m.d + m.idx * 5) % ((m.d + m.idx) % 4 + 1)
      |                 THEN 1
      |                 ELSE 2 + (m.d + m.idx * 3 + kk.k * 11) % 24 END)
      |           AS lvl
      |       FROM mb m, (SELECT unnest([0, 1, 2]) AS k) kk
      |       WHERE kk.k < (m.d + m.idx) % 4)""".stripMargin

  /** `dcy`: every macroblock's DC block (the (d, mby, mbx, pos, lvl)
    * rows of `co`) through the Hadamard f = H c H and the DC scale —
    * one (bi, bj) row per 4x4 block, 0-coefficient blocks included. */
  val dcScale: String =
    """dcf AS (SELECT c.d, c.mby, c.mbx, h1.i AS bi, h2.i AS bj,
      |         SUM(c.lvl * h1.v * h2.v) AS f
      |       FROM co c
      |       JOIN zz ON zz.p = c.pos
      |       JOIN hm h1 ON h1.k = zz.pr
      |       JOIN hm h2 ON h2.k = zz.pc
      |       GROUP BY 1, 2, 3, 4, 5),
      |dcy AS (SELECT m.d, m.mby, m.mbx, g.bi, g.bj,
      |         ((COALESCE(f.f, 0) * n0.a
      |             + (CAST(1 AS BIGINT) << (5 - m.qp // 6)))
      |           >> (6 - m.qp // 6)) AS dcy
      |       FROM mb m
      |       JOIN na n0 ON n0.m = m.qp % 6 AND n0.cls = 0
      |       CROSS JOIN (SELECT h1.i AS bi, h2.i AS bj FROM
      |         (SELECT DISTINCT i FROM hm) h1,
      |         (SELECT DISTINCT i FROM hm) h2) g
      |       LEFT JOIN dcf f ON f.d = m.d AND f.mby = m.mby
      |         AND f.mbx = m.mbx AND f.bi = g.bi AND f.bj = g.bj)"""
      .stripMargin

  private def clip(e: String) = s"LEAST(GREATEST($e, 0), 255)"

  /** The prediction chain over `src`'s (d, mby, mbx, res) pixels: `s$k`
    * reconstructs column mbx = k under the DC prediction `pred` (128
    * at k = 0; it reads the left column's `p.rc_sum`) and sums
    * recon_sum, rc_sum over the pixels where `right` holds, and each
    * `(weight, name)` of `extra` as SUM(weight * pixel). `u` unions the
    * ten columns with their mbx. */
  def chain(src: String, pred: String, right: String,
            extra: Seq[(String, String)] = Nil): String = {
    val steps = (0 to 9).map { k =>
      val p = if (k == 0) "128" else pred
      val join = if (k == 0) ""
        else s" JOIN s${k - 1} p ON p.d = b.d AND p.mby = b.mby"
      val v = clip(s"($p) + b.res")
      val sums = extra.map { case (w, n) => s",\n  SUM($w * $v) AS $n" }
      s"""s$k AS (SELECT b.d, b.mby, $p AS pred,
         |  SUM($v) AS recon_sum,
         |  SUM(CASE WHEN $right THEN $v ELSE 0 END) AS rc_sum${sums.mkString}
         |  FROM $src b$join WHERE b.mbx = $k
         |  GROUP BY 1, 2, 3)""".stripMargin
    }
    val union = (0 to 9).map(k =>
      s"SELECT CAST($k AS BIGINT) AS mbx, * FROM s$k")
      .mkString("\nUNION ALL ")
    steps.mkString(",\n") + s",\nu AS ($union)"
  }

  /** DC-only reconstruction of `co`'s blocks: [[dcScale]], the DC-only
    * inverse core (dc+32)>>6 uniform over each 4x4 block, then the
    * chain with the left-only prediction from the left macroblock's
    * right column (bj = 3). */
  val dcOnlyRecon: String =
    s"""$dcScale,
       |blk AS (SELECT d, mby, mbx, bi, bj, (dcy + 32) >> 6 AS res
       |       FROM dcy),
       |""".stripMargin + chain("blk", "(4 * p.rc_sum + 8) >> 4", "b.bj = 3")
}
