package graft.queries

/** DuckDB replay of the engine's one Lloyd trainer
  * ([[graft.operators.Lloyd]]) as CTE text — the assign/recenter chain
  * the IVF, IVF-PQ, bitext, delta-index, embedding-monitor and
  * line-k-means oracles share. Assignment ranks on round(d2, 6) with the
  * cluster label as tie-break (element-ordered list arithmetic, the
  * kernel's fold); recentering is an element-wise AVG, whose unordered
  * sum the rounded ranking absorbs; a cluster no row chose drops out of
  * the next model. A model table has columns (`by`..., cluster, ce);
  * `by` names the columns that split it into books (PQ's subspace `s`),
  * and a row only meets the centroids of its own book.
  */
private[queries] object LloydSql {

  /** round(d2, 6) of two `dim`-wide lists — the assignment key. */
  def d2(e1: String, e2: String, dim: Int): String =
    s"""ROUND(list_sum(list_transform(range(1, ${dim + 1}),
       |        i -> ($e1[i] - $e2[i]) * ($e1[i] - $e2[i]))), 6)""".stripMargin

  /** `out`: every row of `src` (key `id`, vector `e`) once for each of
    * its `keep` nearest centroids of model `cents`, with that centroid's
    * `cluster` appended. */
  def nearest(out: String, src: String, id: String, cents: String,
              dim: Int, keep: Int = 1, by: Seq[String] = Nil): String =
    s"""$out AS (
       |  SELECT n.*, c.cluster
       |  FROM $src n JOIN $cents c
       |    ON ${(by.map(b => s"n.$b = c.$b") :+ "TRUE").mkString(" AND ")}
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY ${(id +: by).map("n." + _).mkString(", ")}
       |    ORDER BY ${d2("n.e", "c.ce", dim)}, c.cluster) <= $keep)"""
      .stripMargin

  /** `${p}c0`: the `k` smallest ids of `src` as the seed model, labelled
    * by id. */
  def idSeeds(p: String, src: String, id: String, k: Int): String =
    s"""${p}c0 AS (SELECT $id AS cluster, e AS ce FROM $src
       |       ORDER BY $id LIMIT $k)""".stripMargin

  /** `rounds` Lloyd rounds from the seed model `${p}c0` over `src`
    * (vector column `e`): models `${p}c1`.. `${p}c<rounds>`, and
    * `${p}idx` — `src` assigned to the final model. */
  def chain(p: String, src: String, id: String, dim: Int, rounds: Int,
            by: Seq[String] = Nil): String = {
    val rs = (1 to rounds).flatMap(r => Seq(
      nearest(s"${p}a$r", src, id, s"${p}c${r - 1}", dim, by = by),
      recenter(s"${p}c$r", s"${p}a$r", dim, by)))
    (rs :+ nearest(s"${p}idx", src, id, s"${p}c$rounds", dim, by = by))
      .mkString(",\n")
  }

  private def recenter(out: String, assigned: String, dim: Int,
                       by: Seq[String]): String = {
    val keys = by :+ "cluster"
    s"""$out AS (
       |  SELECT ${keys.mkString(", ")}, list(m ORDER BY i) AS ce FROM (
       |    SELECT ${keys.map("a." + _).mkString(", ")}, u.i,
       |      AVG(a.e[u.i]) AS m
       |    FROM $assigned a,
       |         (SELECT unnest(generate_series(1, $dim)) AS i) u
       |    GROUP BY ALL)
       |  GROUP BY ALL)""".stripMargin
  }
}
