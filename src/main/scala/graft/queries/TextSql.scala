package graft.queries

/** DuckDB twins of the engine's text hashes as SQL text — the one
  * polynomial fold ([[graft.functions.TextFunctions.fold]]), the rolling
  * fingerprint over a string's char codes, the k-shingle window, the
  * normalizer, and the Bloom hash family ([[graft.operators.Bloom]]) that
  * the curation, dedup, retrieval, source and analytics oracles share.
  * Integer arithmetic only, so both engines agree bit for bit. The Bloom
  * constants are written out here, not read from the engine: an oracle
  * trusts nothing of what it checks.
  */
private[queries] object TextSql {

  val P = 1000000007L

  /** ((0·base + x1)·base + x2)·… mod `mod` over the BIGINT list `list`. */
  def fold(list: String, base: Long, mod: Long = P): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), $list),
       |  (a, b) -> (a * $base + b) % $mod)""".stripMargin

  /** The BIGINT char codes of the string `str`. */
  def codes(str: String): String =
    s"""list_transform(list_filter(string_split($str, ''), c -> len(c) > 0),
       |  c -> CAST(ascii(c) AS BIGINT))""".stripMargin

  /** TextFunctions.rollingFingerprint: `fold` over `str`'s char codes. */
  def fp(str: String, base: Long = 31, mod: Long = P): String =
    fold(codes(str), base, mod)

  /** One row per `k`-char window of column `t` of `src`: `src`'s
    * columns, the 0-based window start `pos`, and the window's `fp` as
    * `s`. */
  def shingles(src: String, k: Int, base: Long, mod: Long = P): String =
    s"""SELECT w.*, CAST(i - 1 AS BIGINT) AS pos,
       |  ${fp(s"substr(t, CAST(i AS INT), $k)", base, mod)} AS s
       |FROM $src w, LATERAL (SELECT unnest(generate_series(1,
       |  greatest(len(t) - ${k - 1}, 1))) AS i) u
       |WHERE len(substr(t, CAST(i AS INT), $k)) = $k""".stripMargin

  /** TextFunctions.norm: whitespace-collapsed, trimmed, lowercased. */
  def norm(src: String): String =
    s"lower(trim(regexp_replace($src, '\\s+', ' ', 'g')))"

  /** The Bloom hash family as the table `h(a, b)`. */
  val bloomHashes: String =
    "(VALUES (31, 1), (131, 9177), (1009, 18353), (65537, 27529)) h(a, b)"

  /** The position of `key` under the hash row `h` in an `mBits` filter. */
  def bloomPos(key: String, mBits: Long): String =
    s"(($key * h.a + h.b) % $P) % $mBits"
}
