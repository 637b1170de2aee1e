package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. graft receives only what this produces.
  *
  * Documents follow the `documents` table shape that
  * `graft.sources.Seqs.fromDocuments` reads (`doc_id`, `n_chars`,
  * `source`, plus `lang`). Row `r` keeps the same `n_chars`, `source` and
  * `lang` under every seed, so every seed has the same token total and
  * length distribution; only the doc ids, and with them the synthesized
  * token content, depend on the seed.
  *
  * Doc ids are `(r * 7919 + seed * 104729) mod 10^6`. 7919 is prime and
  * coprime to 10^6, so the map is one-to-one on [0, 10^6): ids never
  * collide under the six-digit `lpad` that `Seqs.fromDocuments` applies.
  */
object Gen {

  val IdSpace = 1000000L
  val Sources = 20
  val Langs = Seq("en", "zh", "es", "fr", "de")

  /** Largest document set the id map supports without collisions. */
  def checkSize(n: Long): Unit =
    require(n > 0 && n <= IdSpace, s"document count $n outside (0, $IdSpace]")

  /** `n` documents for `seed`. n_chars spans [44, 577], the range of the
    * sf0.1 `documents` table, so token counts span 704 to the 8192 cap. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    checkSize(n)
    val langs = Langs.map(l => s"'$l'").mkString("array(", ", ", ")")
    spark.range(0, n, 1, 4).select(
      pmod(col("id") * 7919L + lit(seed) * 104729L, lit(IdSpace)).as("doc_id"),
      (pmod(col("id") * 2654435761L, lit(534L)) + 44L).as("n_chars"),
      concat(lit("src"), pmod(col("id"), lit(Sources.toLong)).cast("string")).as("source"),
      expr(s"element_at($langs, CAST(pmod(id * 40503, ${Langs.size}) AS INT) + 1)").as("lang"))
  }

  /** Doc id of row `r` as `Seqs.fromDocuments` formats it. */
  def formattedId(r: Long, seed: Long): String =
    f"d${Math.floorMod(r * 7919L + seed * 104729L, IdSpace)}%06d"

  /** The seed's changed set: the formatted ids of exactly `k` of the `n`
    * rows. Row `r` is changed iff `(r * 7919 + seed * 31337) mod n < k`,
    * a bijection on the rows when gcd(7919, n) = 1. */
  def changedIds(n: Long, k: Long, seed: Long): Seq[String] = {
    require(BigInt(7919).gcd(BigInt(n)) == 1, s"7919 divides $n")
    require(k >= 1 && k < n, s"changed count $k outside [1, $n)")
    (0L until n).filter(r => Math.floorMod(r * 7919L + seed * 31337L, n) < k)
      .map(formattedId(_, seed))
  }

  /** `tokens` with the seed's `k` changed docs shortened by 1 to 64 tokens
    * (a new `n_tok`, so the version column differs) and all other rows
    * unchanged. `tokens` carries `doc_id`, `tokens`, `n_tok`, `source`. */
  def changeTokens(tokens: DataFrame, n: Long, k: Long, seed: Long): DataFrame = {
    val chg = col("doc_id").isin(changedIds(n, k, seed): _*)
    val cut = expr(s"1 + CAST(pmod(xxhash64(doc_id, ${seed}L), 64) AS INT)")
    tokens
      .withColumn("n_tok", when(chg, col("n_tok") - cut).otherwise(col("n_tok")))
      .withColumn("tokens", when(chg, slice(col("tokens"), lit(1), col("n_tok")))
        .otherwise(col("tokens")))
  }
}
