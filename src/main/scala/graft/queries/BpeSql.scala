package graft.queries

/** DuckDB replay of the engine's one BPE merge chain
  * ([[graft.operators.Bpe]]) as CTE text — the round chain the
  * q_bpe_train, q_bpe_train_deep, q_bpe_fertility, q_bpe_fertility_lang,
  * q_unigram_fertility and q_bpe_encode oracles share. A corpus CTE has
  * the lowercased text `t` plus any carried columns; pairs are counted
  * by position over 1-based substrings, and a merge is a literal
  * `replace`, the engine's greedy left-to-right non-overlap. Every round
  * CTE is MATERIALIZED: DuckDB re-inlines plain CTEs, and a 64-level
  * chain whose rounds each have several readers would re-inline
  * exponentially.
  */
private[queries] object BpeSql {

  /** Adjacent-pair counts (pr, c) of the corpus `src`. */
  def pairs(src: String): String =
    s"""SELECT substr(t, CAST(i AS INT), 2) AS pr, COUNT(*) AS c
       |FROM $src, LATERAL (SELECT unnest(generate_series(1,
       |       greatest(len(t) - 1, 1))) AS i) u
       |WHERE len(substr(t, CAST(i AS INT), 2)) = 2 GROUP BY 1"""
      .stripMargin

  /** `n` merge rounds from the corpus `d0`: round r counts `p$r` over
    * `d${r-1}`, picks the merge `m$r` (count desc, pair asc) and writes
    * `d$r` with that pair replaced by chr(`base` + r), `carry` passed
    * through. */
  def rounds(n: Int, base: Int, carry: Seq[String] = Nil): String =
    (1 to n).map { r =>
      s"""p$r AS MATERIALIZED (${pairs(s"d${r - 1}")}),
         |m$r AS MATERIALIZED (SELECT pr FROM p$r
         |  ORDER BY c DESC, pr ASC LIMIT 1),
         |d$r AS MATERIALIZED (SELECT ${carry.map(_ + ", ").mkString}
         |  replace(t, (SELECT pr FROM m$r), chr(${base + r})) AS t
         |  FROM d${r - 1})""".stripMargin
    }.mkString(",\n")

  /** Code points (a, b) of merge `m$r`'s pair; (0, 0) for r = 0, the
    * corpus before any merge. */
  def merge(r: Int): String =
    if (r == 0) "CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b"
    else s"""CAST(unicode(substr((SELECT pr FROM m$r), 1, 1)) AS BIGINT) AS a,
            |CAST(unicode(substr((SELECT pr FROM m$r), 2, 1)) AS BIGINT) AS b"""
      .stripMargin
}
