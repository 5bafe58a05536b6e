package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Country-name → ISO alpha-3 resolution (reference F1/X1: pycountry
  * `search_fuzzy` applied per row, ETL_DAG.py:144-151,193).
  *
  * NOT ported as a per-row UDF. Idiomatic Spark shape (SURVEY.md §2.3 F1):
  * a small country dimension broadcast-joined to the data on the
  * normalized name, with tiers:
  *   1. exact match on normalized name (broadcast hash join, codegen'd);
  *   2. fuzzy fallback, a column expression over the same rows: the dim
  *      rides the plan as a literal array, and a row tier 1 missed takes
  *      the entry with the least `levenshtein` distance ≤ 2, ties broken
  *      by alphabetical code for determinism;
  *   3. still unmatched → NULL, which the quality gate then reports
  *      (ETL_DAG.py:149-151,196-199 semantics).
  *
  * At 100 TB the fact side never shuffles and is scanned once: tier 1 is
  * a broadcast join, and tier 2 is evaluated only for the rows tier 1
  * left null, inside the same projection.
  */
object CountryDim {

  /** Public-knowledge name→alpha3 table (ISO 3166 is public data),
    * including common aliases; enough coverage for the reference workload
    * shape. Extendable without code changes downstream. */
  val entries: Seq[(String, String)] = Seq(
    "ALGERIA" -> "DZA", "ARGENTINA" -> "ARG", "AUSTRALIA" -> "AUS",
    "AUSTRIA" -> "AUT", "BELGIUM" -> "BEL", "BRAZIL" -> "BRA",
    "CANADA" -> "CAN", "CHILE" -> "CHL", "CHINA" -> "CHN",
    "COLOMBIA" -> "COL", "DENMARK" -> "DNK", "EGYPT" -> "EGY",
    "ETHIOPIA" -> "ETH", "FINLAND" -> "FIN", "FRANCE" -> "FRA",
    "GERMANY" -> "DEU", "GREECE" -> "GRC", "INDIA" -> "IND",
    "INDONESIA" -> "IDN", "IRAN" -> "IRN", "IRAQ" -> "IRQ",
    "IRELAND" -> "IRL", "ISRAEL" -> "ISR", "ITALY" -> "ITA",
    "JAPAN" -> "JPN", "JORDAN" -> "JOR", "KENYA" -> "KEN",
    "MEXICO" -> "MEX", "MOROCCO" -> "MAR", "MOZAMBIQUE" -> "MOZ",
    "NETHERLANDS" -> "NLD", "NIGERIA" -> "NGA", "NORWAY" -> "NOR",
    "PERU" -> "PER", "POLAND" -> "POL", "PORTUGAL" -> "PRT",
    "ROMANIA" -> "ROU", "RUSSIA" -> "RUS", "SAUDI ARABIA" -> "SAU",
    "SOUTH AFRICA" -> "ZAF", "SOUTH KOREA" -> "KOR", "SPAIN" -> "ESP",
    "SWEDEN" -> "SWE", "SWITZERLAND" -> "CHE", "THAILAND" -> "THA",
    "TURKEY" -> "TUR", "UKRAINE" -> "UKR", "UNITED ARAB EMIRATES" -> "ARE",
    "UNITED KINGDOM" -> "GBR", "UNITED STATES" -> "USA",
    "VIETNAM" -> "VNM",
    // aliases → same codes
    "USA" -> "USA", "US" -> "USA", "UNITED STATES OF AMERICA" -> "USA",
    "UK" -> "GBR", "GREAT BRITAIN" -> "GBR", "ENGLAND" -> "GBR",
    "RUSSIAN FEDERATION" -> "RUS", "KOREA" -> "KOR", "HOLLAND" -> "NLD",
    "UAE" -> "ARE")

  def dim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.toDF("country_name", "alpha3")
  }

  private def normalize(c: org.apache.spark.sql.Column) =
    upper(trim(regexp_replace(c, "\\s+", " ")))

  /** Resolve `countryCol` on `df` to a new column `alpha3` (null when
    * unresolvable). Custom dims (e.g. the fixture's NATION_i names) can be
    * passed in place of the built-in one. */
  def resolve(df: DataFrame, countryCol: String,
              dimDf: DataFrame, fuzzy: Boolean = true): DataFrame = {
    val d = broadcast(dimDf.select(
      normalize(col("country_name")).as("__cd_name"), col("alpha3")))
    val exact = df.join(d, normalize(col(countryCol)) === col("__cd_name"), "left")
      .drop("__cd_name")
    if (!fuzzy) return exact

    // tier 2: the dim is collected once on the driver (the built-in dim is
    // a local relation, so no job runs) and inlined as a literal array;
    // `coalesce` evaluates the scan over it only when tier 1 gave null.
    // Structs order by (distance, code), so `array_min` keeps the
    // alphabetical tie-break.
    val entries = d.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val norm = normalize(col(countryCol))
    val best = array_min(filter(
      transform(typedlit(entries), e =>
        struct(levenshtein(norm, e("_1")).as("d"), e("_2").as("c"))),
      x => x("d") <= 2))("c")
    exact.withColumn("alpha3", coalesce(col("alpha3"), best))
  }
}
