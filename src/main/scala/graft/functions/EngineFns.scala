package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable column builders shared by the dedup / similarity
  * operators. Everything here is a pure Catalyst expression (codegen'd,
  * no UDFs) and — where an oracle exists — arithmetically identical to a
  * DuckDB SQL formulation:
  *
  *  - `hash31` uses md5 (same bytes in any engine) → first 15 hex chars →
  *    bigint → mod 2^31-1; `hash31Sql` is its DuckDB text, and
  *    `hash31Value` and `hash31Digest` the same function on a Scala
  *    string and on an md5 digest.
  *  - `cosine` folds products left-to-right in double, so the result is
  *    bit-identical to DuckDB's list_reduce over list_zip.
  */
object EngineFns {

  /** Deterministic 31-bit positive hash of a string column, identical in
    * Spark and DuckDB (md5-derived — no engine-private hash). */
  def hash31(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10)
      .cast("long") % 2147483647L

  /** The DuckDB mirror of [[hash31]] over the SQL expression `x`,
    * parenthesized so it composes under `*`, `%` and `>>`. */
  def hash31Sql(x: String): String =
    s"(CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) % 2147483647)"

  /** [[hash31]] of a Scala string (its UTF-8 bytes), for values computed
    * outside a query plan: plan-build-time constants and GenSource rows. */
  def hash31Value(s: String): Long =
    hash31Digest(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")))

  /** [[hash31]] of an md5 digest `d`: its first 15 hex digits (the first
    * 7 bytes and the high nibble of the 8th) mod 2^31-1. */
  def hash31Digest(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
    v % 2147483647L
  }

  /** Whitespace tokens of a text column. Spark `split` keeps trailing
    * empty strings (limit = -1), matching DuckDB `string_split`. */
  def tokens(c: Column): Column = split(c, " ")

  /** Distinct n-word shingles of a text column (empty array below n
    * tokens). The shingle *set* feeds Jaccard / MinHash. */
  def shingles(c: Column, n: Int): Column = {
    val ts = tokens(c)
    array_distinct(
      when(size(ts) >= n,
        transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", slice(ts, i + lit(1), lit(n)))))
        .otherwise(slice(ts, lit(1), lit(0))))
  }

  /** MinHash signature (numPerms values) over a shingle-array column.
    * Permutation p: h_p(s) = ((2p+3) * hash31(s) + p) mod 2^31-1 — odd
    * multipliers keep the family injective mod the Mersenne prime; all
    * arithmetic stays below 2^37 so 64-bit ops never overflow.
    *
    * The md5 base hash is computed ONCE per shingle (not once per
    * permutation): at 100 TB the md5 is the dominant cost and permuting
    * a long is a few instructions. */
  def minhashSig(sh: Column, numPerms: Int): Column =
    element_at(
      transform(array(transform(sh, s => hash31(s))), hs =>
        minhashSigFromHashes(hs, numPerms)),
      1)

  /** MinHash signature over an already-hashed shingle array. When `hs` is
    * a materialized column (not an inline expression), referencing it from
    * the 16 permutation lambdas is free — pair this with a shuffle barrier
    * to keep the md5 work out of downstream stages' codegen. */
  def minhashSigFromHashes(hs: Column, numPerms: Int): Column =
    transform(sequence(lit(0), lit(numPerms - 1)), p =>
      array_min(transform(hs, h =>
        ((p * 2 + 3).cast("long") * h + p) % 2147483647L)))

  /** Dot product of two float-array columns, folded left-to-right in
    * double — bit-identical to the DuckDB list_reduce formulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity: dot / sqrt(normA * normB) — single canonical
    * operation order, mirrored exactly in the oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** DuckDB SQL for dot(a, b) (list_reduce starts at the first element;
    * IEEE 0.0 + x == x keeps it bit-identical to the Spark fold). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"

  /** DuckDB SQL for cosine(a, b) with the same operation order. */
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"
}
