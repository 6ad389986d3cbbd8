package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Determinism helpers for oracle parity.
  *
  * The driver hash-compares query results against a DuckDB oracle, so every
  * double-valued aggregate must be bit-identical regardless of Spark's
  * partition/combine order. Strategy: aggregate in DECIMAL (exact, associative,
  * order-independent), then round + cast to double at the very end. The
  * matching DuckDB SQL applies the same casts.
  *
  * All money-ish source columns in the harness tables carry two decimals
  * (l_extendedprice, l_discount, o_totalprice, value), so DECIMAL(18,2)
  * represents them exactly.
  */
object Det {
  val Money: DecimalType = DecimalType(18, 2)

  /** Exact decimal view of a 2-decimal double column. */
  def dec(c: Column): Column = c.cast(Money)

  /** Order-independent SUM of a 2-decimal double, emitted as double.
    * DuckDB: CAST(round(sum(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) */
  def dsum(c: Column): Column = round(sum(dec(c)), 2).cast(DoubleType)

  /** Order-independent SUM of a product of two 2-decimal doubles.
    * DuckDB: CAST(round(sum(CAST(a AS DECIMAL(18,2)) * CAST(b AS DECIMAL(18,2))), 2) AS DOUBLE) */
  def dsumProd(a: Column, b: Column): Column =
    round(sum(dec(a) * dec(b)), 2).cast(DoubleType)

  /** Epoch-day key of a timestamp column (integer days since 1970-01-01) —
    * the portable day grain for cohort/rolling/partition queries.
    * DuckDB: CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) */
  def dayI(ts: Column): Column =
    datediff(to_date(ts), lit("1970-01-01").cast(DateType)).cast(LongType)

  /** Deterministic AVG: exact decimal sum -> double, divided by exact count,
    * rounded to 6 decimals.
    * DuckDB: round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(x), 6) */
  def davg(c: Column): Column =
    round(sum(dec(c)).cast(DoubleType) / count(c), 6)

  /** Deterministic ratio of two exact decimal sums, 0-guarded, 6 decimals. */
  def dratio(num: Column, den: Column): Column = {
    val n = sum(dec(num)).cast(DoubleType)
    val d = sum(dec(den)).cast(DoubleType)
    when(d === 0d, 0d).otherwise(round(n / d, 6))
  }

  /** Epoch microseconds of a timestamp column (all engine time arithmetic is
    * done in long micros — exact, and identical in DuckDB via epoch_us()).
    * Accepts TIMESTAMP and TIMESTAMP_NTZ (NTZ wall time read as UTC — the
    * session timezone — matching DuckDB's naive-as-UTC convention). */
  def us(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Epoch micros -> naive (NTZ) timestamp, wall time in UTC. All engine
    * timestamp OUTPUTS are NTZ so parquet matches DuckDB's naive type. */
  def tsNtz(usCol: Column): Column =
    timestamp_micros(usCol).cast(TimestampNTZType)

  private val NtzEpoch = lit("1970-01-01 00:00:00").cast(TimestampNTZType)

  /** TIMEZONE-INVARIANT wall-clock micros of a TIMESTAMP_NTZ column (the
    * naive value read as UTC no matter what the session timezone is).
    * [[us]] is the right call under the engine's pinned-UTC sessions, but
    * it routes through a session-tz cast — operators that must behave
    * identically in ANY session tz (the streaming windows; see
    * StreamOps) use this instead: a pure NTZ difference from the NTZ
    * epoch never consults a timezone. */
  def ntzUs(c: Column): Column = timestamp_diff("MICROSECOND", NtzEpoch, c)

  /** Inverse of [[ntzUs]]: micros -> TIMESTAMP_NTZ, timezone-invariant
    * (pure NTZ addition; [[tsNtz]]'s instant cast is equivalent only under
    * a UTC session). */
  def ntzFromUs(usCol: Column): Column = timestamp_add("MICROSECOND", usCol, NtzEpoch)

  /** TIMESTAMP_NTZ -> TIMESTAMP carrying the SAME wall clock as UTC
    * instant, timezone-invariantly (a bare cast would shift by the session
    * offset). This is how the streaming operators obtain the
    * TimestampType event-time column Spark's watermark machinery requires
    * without inheriting session-tz window boundaries. */
  def ntzAsUtcInstant(c: Column): Column = timestamp_micros(ntzUs(c))

  /** TIMESTAMP (instant) -> TIMESTAMP_NTZ showing its UTC wall clock,
    * timezone-invariantly — the inverse of [[ntzAsUtcInstant]]. */
  def instantAsUtcNtz(c: Column): Column = ntzFromUs(unix_micros(c))

  /** Deterministic pseudo-random key from a long id (Knuth multiplicative
    * hash mod a prime) — replaces unseeded sampling so results oracle-match.
    * The id is reduced mod the prime BEFORE multiplying: the product then
    * stays under 2^62 for ANY 64-bit id, where the naive id*2654435761
    * silently wraps in Spark but raises BIGINT-out-of-range in DuckDB.
    * DuckDB: ((id % 1000000007) * 2654435761) % 1000000007 */
  def pseudoRand(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * lit(2654435761L), lit(1000000007L))

  /** Spark's string order (`UTF8String.compareTo`, unsigned byte-wise over
    * UTF-8; nulls first), for Scala code that must reproduce a Spark
    * `min`, `sort_array` or struct tie-break. `String.compareTo` compares
    * UTF-16 units and differs above U+FFFF and around the surrogates. */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
}
