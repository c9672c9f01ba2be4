package graft.oracle

/** Shared SQL fragments of the oracles: the hash mixers and salted row
  * hashes that mirror the engine's Scala hashing bit for bit, and the
  * margin helper that splices a multi-line fragment into a
  * `stripMargin` string. */
private[oracle] object Fragments {

  /** fnv1a(word) as a DuckDB expression: wrapping 64-bit arithmetic via
    * UBIGINT xor + HUGEINT multiply mod 2^64. list_reduce has no initial-
    * value form in DuckDB 1.0, so the init is PREPENDED to a homogeneous
    * UBIGINT list (reduce uses the first element as the seed). Chars are
    * UTF-16-safe for the BMP corpus (unicode() is per codepoint). */
  val fnvWordSql: String =
    """list_reduce(
      |        list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |          list_transform(string_split(w, ''), c -> CAST(unicode(c) AS UBIGINT))),
      |        (h2, c2) -> CAST((CAST(xor(h2, c2) AS HUGEINT) * 1099511628211)
      |                        % 18446744073709551616 AS UBIGINT))""".stripMargin

  /** 64-bit wrapping multiply by a CONSTANT in DuckDB: HUGEINT would
    * overflow on a full 64×64 product, so the constant is split into
    * 32-bit halves — x·C mod 2^64 = (x·C_lo + ((x·C_hi mod 2^32)·2^32))
    * mod 2^64, every intermediate < 2^97. */
  private def modmulSql(x: String, c: Long): String = {
    val hi = c >>> 32
    val lo = c & 0xFFFFFFFFL
    s"CAST(((CAST(($x) AS HUGEINT) * $lo + " +
      s"((CAST(($x) AS HUGEINT) * $hi) % 4294967296) * 4294967296) " +
      s"% 18446744073709551616) AS UBIGINT)"
  }

  /** splitmix64 finalizer (Dedup.mix64) as a UBIGINT-domain expression. */
  def mix64Sql(inner: String): String = {
    val z1 = s"CAST((CAST(($inner) AS HUGEINT) + 11400714819323198485) " +
      s"% 18446744073709551616 AS UBIGINT)"
    val z2 = modmulSql(s"xor($z1, ($z1) >> 30)", 0xBF58476D1CE4E5B9L)
    val z3 = modmulSql(s"xor($z2, ($z2) >> 27)", 0x94D049BB133111EBL)
    s"xor($z3, ($z3) >> 31)"
  }

  /** UBIGINT → DOUBLE mirroring Spark's TWO-step conversion exactly:
    * Spark computes fp(signed) + 2⁶⁴ (two roundings) for values ≥ 2⁶³; a
    * single-rounded CAST(UBIGINT AS DOUBLE) can differ by one ulp at a
    * half-ulp tie (double-rounding anomaly). */
  def unsignedDblSql(c: String): String =
    s"(CASE WHEN $c >= 9223372036854775808 " +
      s"THEN CAST(CAST($c AS HUGEINT) - 18446744073709551616 AS DOUBLE) " +
      s"+ 18446744073709551616.0 ELSE CAST($c AS DOUBLE) END)"

  /** splitmix64-finalized salted fnv1a of 'salt:doc_id' as a UBIGINT
    * expression (mirrors Splits.hashCol: graft_mix64(graft_fnv1a64(...))
    * over the same ASCII string). */
  def saltedHashSql(salt: String, idExpr: String = "doc_id"): String =
    mix64Sql(s"list_transform(['$salt:' || CAST($idExpr AS VARCHAR)], w -> $fnvWordSql)[1]")

  /** UBIGINT → the same SIGNED 64-bit value Spark's long carries (the
    * q_fingerprint two's-complement reinterpretation, as a helper). */
  def signedSql(u: String): String =
    s"CAST(CASE WHEN ($u) >= 9223372036854775808 " +
      s"THEN CAST(($u) AS HUGEINT) - 18446744073709551616 " +
      s"ELSE CAST(($u) AS HUGEINT) END AS BIGINT)"

  /** Re-margin an already-stripped multi-line SQL fragment for embedding
    * inside another `stripMargin` template: every interior line gets a
    * leading `|` so the OUTER stripMargin strips exactly that pipe and
    * restores the line verbatim. Without this, fragment lines that start
    * with whitespace + `||` (string concat) lose one pipe to the outer
    * stripMargin and the SQL silently degrades to a bitwise `|`. */
  def margined(frag: String): String = frag.replace("\n", "\n|")
}
