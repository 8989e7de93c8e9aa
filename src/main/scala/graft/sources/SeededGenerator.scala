package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First-class seeded synthetic data generator (SURVEY.md §2.9 R3).
  *
  * The reference generates rankings CSVs with Faker + `random` in a
  * process pool (`random_data_generator.py:13-45`: 4 domains × 5M rows,
  * `fake.domain_name()/uri_path()/word()`, `randint(1,100)` rank,
  * step-10 volume, 2dp cpc). The Spark-first realization is
  * `spark.range(n)` with every column a PURE FUNCTION of (row id, seed):
  * no Random instances, no rand() — `xxhash64(id, seed, tag)` drives each
  * column, so the output is bit-identical across partitionings, retries,
  * and cluster sizes (the same content-derived discipline as ops/Skew
  * salts), and any slice of the id space can be regenerated independently
  * — which is what makes the generator usable as a distributed fixture
  * source at any scale: 20M rows or 20B is one `range()` away.
  */
object SeededGenerator {

  private val words = Seq("alpha", "bravo", "delta", "echo", "fox", "golf",
    "hotel", "india", "kilo", "lima", "mike", "nova", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "ultra", "victor")
  private val tlds = Seq("com", "org", "net", "io", "co.uk")

  /** `rankings_v1`-shaped rows (schema = `Tables.rankingsV1Schema` names
    * and types): `n` rows over `domains` synthetic domains (contiguous id
    * blocks per domain, like the reference's per-domain inner loop), dated
    * within 360 days before `asOf` (the reference's
    * `date_between('-360d', 'today')` with 'today' pinned for
    * reproducibility).
    */
  def rankings(
      spark: SparkSession,
      n: Long,
      seed: Long,
      asOf: String = "2023-03-15",
      domains: Int = 4): DataFrame = {
    def h(tag: String) =
      abs(xxhash64(col("id"), lit(seed), lit(tag)))
    def pick(tag: String, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pmod(h(tag), lit(xs.size)) + 1).cast("int"))
    val perDomain = math.max(1L, n / domains)
    // one domain NAME per contiguous id block (the reference's outer loop:
    // fake.domain_name() once per domain, then 5M rows under it) — derived
    // from the block index, not the row id, so its cardinality is `domains`
    val blockIdx = pmod(expr(s"id DIV ${perDomain}L"), lit(domains.toLong))
    def hb(tag: String) = abs(xxhash64(blockIdx, lit(seed), lit(tag)))
    def pickB(tag: String, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pmod(hb(tag), lit(xs.size)) + 1).cast("int"))
    spark.range(n)
      .withColumn("domain",
        concat(pickB("dw", words), lit("-"), blockIdx.cast("string"),
          lit("."), pickB("dt", tlds)))
      .withColumn("date",
        date_sub(to_date(lit(asOf)), pmod(h("date"), lit(360)).cast("int")))
      .withColumn("term", pick("term", words))
      .withColumn("url",
        concat(lit("https://"), col("domain"), lit("/"),
          pick("p1", words), lit("/"), pick("p2", words)))
      .withColumn("rank", (pmod(h("rank"), lit(100)) + 1).cast("int"))
      .withColumn("volume", pmod(h("vol"), lit(4999999L)) * 10L + 10L)
      .withColumn("cpc", pmod(h("cpc"), lit(1001)).cast("double") / 100.0)
      .select("domain", "date", "term", "url", "rank", "volume", "cpc")
  }
}
