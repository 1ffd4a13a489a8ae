package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable fixed-point base-2 logarithm of a positive integer column.
  *
  * The repo's exactness convention (see StatQueries) forbids libm
  * transcendentals in hash-compared output: `ln`/`log2` are NOT required
  * to be correctly rounded by IEEE 754, so JVM and DuckDB may disagree in
  * the last ulp. This module makes log2 portable by making it INTEGER:
  *
  *   log2q10(n) = 1024·e + |{ k in [0,1024) : x >= T[k] }| − 1
  *
  * where e = floor(log2 n) (exact, via binary-string length), x = n/2^e
  * in [1,2) (an EXACT double for n < 2^53 — division by a power of two
  * only shifts the exponent), and T[k] = 2^(k/1024) is a boundary table
  * computed ONCE on the JVM and embedded as shortest-repr double literals
  * in the DuckDB oracle SQL. Both engines then evaluate only comparisons
  * between identical doubles — no libm call on either side — so the
  * result is the same exact BIGINT everywhere: floor(1024·log2(n)) up to
  * the table's own half-ulp boundary rounding, deterministically.
  *
  * Being an exact integer, log2q10 composes order-independently:
  * Σ c·log2q10(c) is an exact integer sum, which makes Shannon entropy,
  * PMI and KL divergence hash-stable aggregates — impossible with a
  * float log whose summation order varies across partitions.
  *
  * Precision: 2^-10 ≈ 0.001 bits per term, plenty for corpus analytics;
  * domain: 1 <= n < 2^53 (the exact-double range).
  */
object PortableLog {

  /** Fixed-point denominator: results are in units of 1/1024 bit. */
  val Q = 1024

  /** Boundary table T[k] = 2^(k/Q). Computed once per JVM; the oracle SQL
    * embeds these exact values (shortest round-trip repr), so both
    * engines compare against bit-identical constants.
    */
  val boundaries: Array[Double] = Array.tabulate(Q)(k => math.pow(2.0, k.toDouble / Q))

  /** floor-ish(Q·log2(n)) as an exact BIGINT column; n must be >= 1.
    *
    * Backed by the native [[org.apache.spark.sql.graft.Log2Q10Expr]]
    * (round 10): the original higher-order `filter` over the boundary
    * table evaluated 1024 boxed comparisons per CALL — applied at fact
    * grain that dominated whole queries (text_bm25_topk spent 9.5 of
    * 9.8 s at sf1 inside the two idf logs before they were hoisted).
    * The expression is a codegen'd exponent-extract + binary search
    * over the same static table — bit-identical results (PortableLog-
    * Spec pins expression == HOF formula across the domain and on
    * boundary-exact inputs), ~100× less work per call.
    */
  def log2q10(n: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.Log2Q10Expr(
        org.apache.spark.sql.graft.ColumnBridge.expression(n.cast("long"))))

  /** Scalar runtime of the native expression — replicates the column
    * form exactly, including the out-of-contract n <= 0 inputs
    * (`bin()` length semantics: 1 for 0, 64 for negatives).
    */
  def log2q10Long(n: Long): Long = {
    val e = if (n == 0L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(n)
    val x = n.toDouble / (1L << e).toDouble
    val idx = java.util.Arrays.binarySearch(boundaries, x)
    val cnt = if (idx >= 0) idx + 1 else -(idx + 1)
    e.toLong * Q + cnt - 1
  }

  /** The boundary table as a DuckDB CTE clause: `WITH <l2tCte>, ...`.
    * Queries reference it by adding `, l2t` to a FROM list (1 row, so the
    * cross join is a no-op), keeping the 1024-literal array out of every
    * call site.
    */
  lazy val l2tCte: String =
    s"l2t AS (SELECT [${boundaries.map(_.toString).mkString(",")}]::DOUBLE[] AS t)"

  /** DuckDB mirror of [[log2q10]] over SQL expression `n` (requires `l2t`
    * in scope via [[l2tCte]]).
    */
  def log2q10Sql(n: String): String =
    s"""(CAST(length(bin(CAST($n AS BIGINT))) - 1 AS BIGINT) * $Q
       + len(list_filter(l2t.t, v ->
           CAST($n AS DOUBLE)
             / CAST(CAST(1 AS BIGINT) << (length(bin(CAST($n AS BIGINT))) - 1) AS DOUBLE)
           >= v)) - 1)"""
}
