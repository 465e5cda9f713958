package graft.certs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `run` builds the Spark result from a data dir,
  * `oracleSql` is the DuckDB SQL the driver hash-compares it against.
  *
  * ORACLE-AUTHORING RULES — the driver sorts columns by NAME and
  * HASHES values; a query that is value-exact locally can still go
  * red at the driver. These traps have each fired at least once:
  *
  *  1. NO DECIMAL OUTPUT COLUMNS, any precision. <=18 digits has
  *     passed so far but >18 (byte-array-backed decimal128) is
  *     PROVEN hash-unstable (rel_decimal_exact r7, store_segment_widen
  *     r12). Emit exact scaled BIGINT (cents) when the magnitude fits
  *     a Long, else CAST(... AS STRING) on BOTH sides. Storing
  *     decimals in tables is fine — only the final projection matters.
  *  2. DuckDB sum(INT/BIGINT) returns HUGEINT — CAST(... AS BIGINT)
  *     in the oracle SQL to match Spark's LongType.
  *  3. Total ORDER BY on a unique key on BOTH sides — ties in the
  *     sort key make row order (and thus the hash) nondeterministic.
  *  4. Identical column aliases both sides: alias every computed
  *     column in the Spark query (.as("x") / AS x) AND the oracle.
  *  5. Avoid FLOAT outputs where an expression reorders between
  *     engines; DOUBLE computed the same way on both sides is fine.
  */
final case class Cert(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)
