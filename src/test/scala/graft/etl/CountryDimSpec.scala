package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

class CountryDimSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def resolve(names: Seq[String]): Map[String, String] = {
    val df = names.toDF("COUNTRY")
    CountryDim.resolve(df, "COUNTRY", CountryDim.dim(spark))
      .collect().map(r => r.getString(0) -> Option(r.getString(1)).orNull).toMap
  }

  test("exact normalized match") {
    val got = resolve(Seq("Germany", "  france ", "UNITED STATES"))
    assert(got == Map("Germany" -> "DEU", "  france " -> "FRA",
      "UNITED STATES" -> "USA"))
  }

  test("alias tier") {
    val got = resolve(Seq("USA", "UK", "Holland", "Russian Federation"))
    assert(got.values.toSet == Set("USA", "GBR", "NLD", "RUS"))
  }

  test("fuzzy levenshtein <= 2 tier") {
    val got = resolve(Seq("Untied States", "Grmany", "Japaan"))
    assert(got("Untied States") == "USA")
    assert(got("Grmany") == "DEU")
    assert(got("Japaan") == "JPN")
  }

  test("fuzzy tie at equal distance resolves deterministically") {
    // "Jpaan" is levenshtein-2 from both JAPAN and SPAIN; alphabetical
    // code tiebreak must always pick ESP, never flip between runs.
    val got = resolve(Seq("Jpaan"))
    assert(got("Jpaan") == "ESP")
  }

  test("unresolvable stays null (gate catches downstream)") {
    val got = resolve(Seq("Atlantis"))
    assert(got("Atlantis") == null)
  }

  test("duplicate input rows survive the fuzzy tier") {
    val df = Seq("Grmany", "Grmany", "Spain").toDF("COUNTRY")
    val out = CountryDim.resolve(df, "COUNTRY", CountryDim.dim(spark))
    assert(out.count() == 3)
  }

  test("null country stays null") {
    val df = Seq[String](null, "Spain").toDF("COUNTRY")
    val got = CountryDim.resolve(df, "COUNTRY", CountryDim.dim(spark)).collect()
      .map(r => Option(r.getString(0)) -> Option(r.getString(1))).toSet
    assert(got == Set(None -> None, Some("Spain") -> Some("ESP")))
  }

  test("fuzzy tier stops at distance 2") {
    // SWITZERLAND minus I, E is distance 2; minus I, E, A is distance 3,
    // and no other entry is within 2 of either
    val got = resolve(Seq("Swtzrland", "Swtzrlnd"))
    assert(got == Map("Swtzrland" -> "CHE", "Swtzrlnd" -> null))
  }

  test("mixed frame keeps its rows and each row's code") {
    val names = Seq("Germany", "Grmany", "Jpaan", "Atlantis", null, "Germany",
      " holland ", "Untied States", "Swtzrlnd")
    val out = CountryDim.resolve(names.toDF("COUNTRY"), "COUNTRY", CountryDim.dim(spark))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out.sortBy(_.toString) == names.zip(Seq("DEU", "DEU", "ESP", null, null,
      "DEU", "NLD", "USA", null)).sortBy(_.toString))
  }

  test("fuzzy resolve scans its input once, with no union, window or shuffle") {
    val path = java.nio.file.Files.createTempDirectory("graft-cdim").toString + "/in"
    Seq("Germany", "Grmany", "Atlantis").toDF("COUNTRY").write.parquet(path)
    val out = CountryDim.resolve(spark.read.parquet(path), "COUNTRY", CountryDim.dim(spark))
    assert(out.collect().length == 3)
    val plan = out.queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, plan)
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
  }
}
