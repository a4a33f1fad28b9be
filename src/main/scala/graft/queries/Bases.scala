package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableSql
import graft.text.TextAnalysis

/** Bases shared across the query families. Each Spark frame sits beside
  * the DuckDB text its oracles use, so the two cannot drift apart.
  */
object Bases {

  /** The q332 house form: exact 4-dp fixed-point daily mass per type. */
  def dailyMass(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("v"))

  /** DuckDB twin of [[dailyMass]]. */
  val dailyMassSql = """
    SELECT event_type, CAST(ts AS DATE) AS day,
      CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY 1, 2"""

  /** DuckDB expression for the normalized text form
    * ([[TextAnalysis.normalizeText]]).
    */
  val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  /** DuckDB language score of `documents.text` for one
    * [[TextAnalysis.LangMarkers]] language: its marker-word count over
    * the space-padded normalized text.
    */
  def langScoreSql(lang: String): String = {
    val paddedSql = s"(' ' || $normSql || ' ')"
    TextAnalysis.LangMarkers.toMap.apply(lang)
      .map(m => PortableSql.countOccurrences(paddedSql, m))
      .mkString("(", " + ", ")")
  }

  /** Words CTE `w(id, ws)` shared by the text oracles — the exact
    * derivation of [[TextAnalysis.normalizeText]] + [[TextAnalysis.tokens]].
    */
  val wordsCte = """
    WITH w AS (
      SELECT doc_id AS id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""

  /** [[wordsCte]] with the source column carried: `w(id, source, ws)`. */
  val sourceWordsCte = """
    WITH w AS (
      SELECT doc_id AS id, source,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""

  /** Width of the `embeddings` fixture vectors. */
  val Dim = 64

  /** HLL precision (2^6 registers) of the sketch queries. */
  val HllP = 6

  /** Exact half-up integer division floor((a + d/2) / d) for a ≥ 0,
    * 0 < d < 2^53, in DECIMAL(38,0) arithmetic — engine-portable (the
    * DuckDB twin is `(a + d // 2) // d` on HUGEINT). Avoids the
    * engine-divergent big-double `round(x, 6)` trap (q187/q330): sums of
    * squared integer deviations overflow 2^53, where double rounding is
    * not exactly representable and engines disagree in the last ULP.
    * The division here is exact: (a2 - a2 % d) is divisible by d, so the
    * DECIMAL(38,6) quotient is an integer and the final cast is lossless. */
  def rdiv(a: Column, d: Column): Column = {
    val dd = d.cast("decimal(38,0)")
    val a2 = (a.cast("decimal(38,0)") +
      (d.cast("double") / 2).cast("long")).cast("decimal(38,0)")
    ((a2 - a2 % dd) / dd).cast("decimal(38,0)")
  }
}
