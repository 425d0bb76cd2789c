package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-hash output-type probes (r14).
  *
  * r12/r13 left one piece of engineering knowledge missing: WHICH output
  * type profiles the driver's correctness hasher canonicalizes
  * identically between the Spark parquet dump and the DuckDB oracle
  * replay. Evidence so far (r13 verdict + local bisection):
  *
  *  - DuckDB's pandas bridge converts EVERY DECIMAL to float64, while
  *    the Spark dump read back via Arrow keeps java-scale Decimal
  *    objects. So a decimal output column hash-matches only when its
  *    dump-scale rendering coincides with the float's rendering:
  *    scale-4 "123.4500" vs "123.45" → red (all 9 r13 red rows);
  *    scale-2 "123.45" vs "123.45" → green UNLESS the cents digit is a
  *    trailing zero ("10.00" vs "10.0" — untested, the one green (38,2)
  *    query has no such value at sf0.01).
  *
  * Each probe emits the SAME deterministic values (nation ⊕ exact
  * decimal literals, 25 rows) in one profile per query, so a single
  * driver artifact pins the canonicalization rule for good
  * (VERDICT r13 task #2).
  *
  * RESULT (CORRECTNESS_r14, recorded in BASELINE.md "Driver hash
  * canonicalization"): probe_hash_double / probe_hash_string /
  * probe_hash_decimal_s2 GREEN; probe_hash_decimal_s4 RED (dump
  * renders "x.3700", floated oracle renders "x.37");
  * probe_hash_decimal_s2_tz RED (trailing-zero cents "x.50" vs the
  * float's "x.5") — the driver raw-stringifies, so NO decimal output
  * column is ever hash-safe. Safe profiles: DOUBLE (floor-snapped for
  * derived floats), INT/BIGINT, STRING, DATE.
  *
  * The experiment is complete, so the two red-by-design probes are NO
  * LONGER REGISTERED in [[queries]] (a standing expected-red row in the
  * driver gate normalizes red and can mask a real regression — r14
  * ADVICE). They live on in [[diagnostics]], exercised by ProbeSpec
  * (value exactness + the rendering divergence that makes them red);
  * tools/check.py keeps an (empty) EXPECTED_RED list ready should an
  * expected-red row ever need registering again.
  *
  * All arithmetic is decimal-exact on both sides (string-constructed
  * BigDecimal literals; DuckDB decimal literals), so any mismatch is
  * canonicalization, never value drift.
  */
object ProbeQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** n_nationkey ⊕ 0.37 as exact DECIMAL(19,2) — no trailing-zero cents. */
  private def base(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .select(col("n_nationkey"),
        (col("n_nationkey").cast("decimal(18,2)") +
          lit(BigDecimal("0.37")).cast("decimal(18,2)")).as("v0"))

  /** n_nationkey ⊕ 0.50 — every value has a trailing-zero cents digit. */
  private def baseTz(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .select(col("n_nationkey"),
        (col("n_nationkey").cast("decimal(18,2)") +
          lit(BigDecimal("0.50")).cast("decimal(18,2)")).as("v0"))

  /** The three GREEN profiles — the only ones registered at the driver
    * gate; they keep the pinned rule continuously regression-tested. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "probe_hash_decimal_s2" -> ((s, dir) =>
      base(s, dir).select(col("n_nationkey"),
        col("v0").cast("decimal(38,2)").as("v")).orderBy("n_nationkey")),
    "probe_hash_double" -> ((s, dir) =>
      base(s, dir).select(col("n_nationkey"),
        col("v0").cast("double").as("v")).orderBy("n_nationkey")),
    "probe_hash_string" -> ((s, dir) =>
      base(s, dir).select(col("n_nationkey"),
        col("v0").cast("decimal(38,4)").cast("string").as("v"))
        .orderBy("n_nationkey")))

  /** The two RED-by-design profiles, DEREGISTERED after they pinned the
    * rule in CORRECTNESS_r14 (values exact, hash red — see object doc).
    * Kept runnable for ProbeSpec and future re-probing; never part of
    * the production pack again. */
  def diagnostics: Map[String, (SparkSession, String) => DataFrame] = Map(
    "probe_hash_decimal_s4" -> ((s, dir) =>
      base(s, dir).select(col("n_nationkey"),
        col("v0").cast("decimal(38,4)").as("v")).orderBy("n_nationkey")),
    "probe_hash_decimal_s2_tz" -> ((s, dir) =>
      baseTz(s, dir).select(col("n_nationkey"),
        col("v0").cast("decimal(38,2)").as("v")).orderBy("n_nationkey")))

  private def sql(castExpr: String) =
    s"""SELECT n_nationkey,
       |  $castExpr AS v
       |FROM nation ORDER BY n_nationkey""".stripMargin

  def oracles: Map[String, String] = Map(
    "probe_hash_decimal_s2" -> sql(
      "CAST(CAST(n_nationkey AS DECIMAL(18,2)) + CAST(0.37 AS DECIMAL(18,2)) AS DECIMAL(38,2))"),
    "probe_hash_double" -> sql(
      "CAST(CAST(n_nationkey AS DECIMAL(18,2)) + CAST(0.37 AS DECIMAL(18,2)) AS DOUBLE)"),
    "probe_hash_string" -> sql(
      "CAST(CAST(CAST(n_nationkey AS DECIMAL(18,2)) + CAST(0.37 AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS VARCHAR)"))
}
