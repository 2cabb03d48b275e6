package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: a Spark-side implementation plus (usually) an
  * equivalent DuckDB oracle SQL. Queries without an oracle get the driver's
  * weaker rows-only check (non-SQL-expressible ops, e.g. the seeded
  * generator).
  *
  * Oracle-parity ground rules used throughout this package:
  *   - every floating-point output is derived from exact integer arithmetic
  *     (cents / basis points / quantized vector components) followed by the
  *     same deterministic IEEE ops (div, sqrt) in both engines — engine
  *     ROUND/SUM-over-double ordering differences can never flip a hash;
  *   - DuckDB decimal literals are DECIMAL, not DOUBLE, so oracle SQL wraps
  *     every fractional literal in CAST(x AS DOUBLE) (`Sql.D`);
  *   - every query ends in a total ORDER BY (nulls-position pinned) so row
  *     order is identical;
  *   - column names are aliased identically on both sides.
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  /** Testdata loader. Parquet µs timestamps written WITHOUT the
    * isAdjustedToUTC flag read back as TIMESTAMP_NTZ under Spark 4's
    * inference; every temporal function this engine grades
    * (`unix_millis`, watermarks, …) wants the instant-typed TIMESTAMP.
    * The session runs in UTC, so the NTZ→LTZ cast reinterprets the
    * wall clock as the same instant DuckDB's naive-timestamp epoch
    * arithmetic sees — one normalization at the single load seam
    * instead of per-function NTZ special-casing.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    raw.schema.fields.foldLeft(raw) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
  }

  /** `events.ts` is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set in every session this engine builds). The nanos-long is folded
    * back to a µs TimestampType via integer division — same truncation
    * DuckDB applies when casting ns→µs, and no double-precision loss.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
}

/** Tiny helpers for generating DuckDB oracle SQL from the same Scala
  * constants the Spark side uses — one source of truth per lookup table.
  *
  * The same rule holds for inputs: an input several oracles read is
  * written ONCE, as a prelude of CTEs every such oracle interpolates
  * (`WITH $prelude, ...`), so its contract cannot drift between them —
  * [[quantCtes]] here, and in `GraphQueries` one prelude per
  * materialized graph input. Declare a prelude as a `def` (or in
  * another object, as `quantCtes` is): a `val` interpolated above its
  * declaration in the same object reads null.
  */
object Sql {
  /** Fractional literal as a true DOUBLE. */
  def D(x: String): String = s"CAST($x AS DOUBLE)"
  def D(x: Double): String = D(x.toString)

  /** Full-precision double constant. `CAST(0.12493873660829993 AS DOUBLE)`
    * is parsed by DuckDB as a 17-digit DECIMAL first, whose int mantissa
    * exceeds 2^53 — the DECIMAL→DOUBLE hop can land 1 ulp away from the
    * correctly-rounded parse. Casting from a *string* uses the
    * shortest-round-trip parser, which is bit-identical to the JVM double
    * the Spark side embeds via `lit`. Use this (not `D`) for any constant
    * with >15 significant digits.
    */
  def Dlit(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"

  /** round-half-up to 2 dp via deterministic double ops — the SQL twin of
    * `graft.etl.Transform.round2`. */
  def round2(e: String): String =
    s"CAST(FLOOR(($e) * ${D("100")} + ${D("0.5")}) AS BIGINT) / ${D("100")}"

  /** Exact money sum: double 2-dp values → integer cents → BIGINT sum →
    * double. Deterministic under any aggregation order. */
  def sumCents(e: String): String =
    s"CAST(SUM(CAST(FLOOR(($e) * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) / ${D("100")}"

  /** Same at 4 dp (price × discount products). */
  def sumBps(e: String): String =
    s"CAST(SUM(CAST(FLOOR(($e) * ${D("10000")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) / ${D("10000")}"

  def caseByIndex(keyExpr: String, items: Seq[String]): String = {
    val whens = items.zipWithIndex.map {
      case (null, i) => s"WHEN $i THEN NULL"
      case (s, i)    => s"WHEN $i THEN '${s.replace("'", "''")}'"
    }
    s"CASE CAST($keyExpr AS INT) ${whens.mkString(" ")} END"
  }

  def caseByKey(keyExpr: String, m: Seq[(String, Double)], default: Double): String = {
    val whens = m.map { case (k, v) => s"WHEN '${k.replace("'", "''")}' THEN ${D(v)}" }
    s"CASE $keyExpr ${whens.mkString(" ")} ELSE ${D(default)} END"
  }

  /** Shared embedding-oracle prelude — quantized vectors flattened to
    * (vec_id, i, e) BIGINT components + per-vector squared norms, the
    * SQL twin of [[graft.operators.Similarity.quantize]]/`normSqQ`.
    * ONE copy: every vector-query oracle (SimilarityQueries,
    * SignatureQueries) interpolates this, so the quantization contract
    * cannot drift between oracle families.
    */
  val quantCtes: String = s"""q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * ${graft.operators.Similarity.Scale} + ${D("0.5")}) AS BIGINT)) AS qv
  FROM embeddings
),
flat AS (
  SELECT vec_id, unnest(qv) AS e, unnest(generate_series(1, len(qv))) AS i FROM q
),
norms AS (
  SELECT vec_id, CAST(SUM(e * e) AS BIGINT) AS nn FROM flat GROUP BY vec_id
)"""
}
