package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** 56-bit deterministic string hash computed identically by Spark and
  * DuckDB: the first 14 hex digits of md5, read as an integer. Used
  * wherever a hash participates in ORACLE-CHECKED results (MinHash,
  * SimHash, fingerprints). 56 bits always fit a positive BIGINT in
  * both engines. It is the one hash family these operators use: the
  * results they produce are the results the oracle checks.
  */
object PortableHash {

  /** Spark side: conv(substr(md5(x),1,14), 16, 10)::long — computed
    * natively by [[Md5Num]] (same md5, bits read off the digest bytes,
    * no hex-string materialization or base-16 parse; bit-equality
    * property-tested in Md5NumSpec).
    */
  def md5num56(c: Column): Column = Md5Num.of(c, 14)

  /** DuckDB-side fragment for oracle SQL (same value). */
  def md5num56Sql(inner: String): String =
    s"('0x' || substr(md5($inner), 1, 14))::BIGINT"

  /** 28-bit variant: small enough that affine permutations
    * `(a*h + b) mod p` stay exact in signed 64-bit on both engines
    * (a < 2^24, h < 2^28 -> product < 2^52).
    */
  def md5num28(c: Column): Column = Md5Num.of(c, 7)

  def md5num28Sql(inner: String): String =
    s"('0x' || substr(md5($inner), 1, 7))::BIGINT"

  /** MinHash permutation constants: deterministic odd multipliers and
    * offsets below 2^24, prime modulus 2^31-1. Shared by the Spark
    * implementation and generated oracle SQL.
    */
  val MinHashP: Long = 2147483647L
  def minHashA(i: Int): Long = (2654435761L * (i + 1) + 1) % 16777213L | 1L
  def minHashB(i: Int): Long = (40503L * (i + 7) * (i + 7) + 17L) % 16777213L
}
