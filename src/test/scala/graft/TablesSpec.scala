package graft

/** `Tables.load` reads every fixture through a declared schema. These
  * cases keep the declarations honest: each must equal what Spark infers
  * from the files at every shipped scale, so a fixture change fails here
  * instead of reading nulls, and a load must stay free of Spark jobs. */
class TablesSpec extends SparkSpec {

  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => sf001.replace("sf0.001", sf))

  test("every declared fixture schema equals the schema Spark infers") {
    for (sfDir <- scales; n <- Tables.names) {
      val inferred = spark.read.parquet(s"$sfDir/$n.parquet").schema
      assert(Tables.schemas(n) == inferred,
        s"$sfDir/$n: declared ${Tables.schemas(n).simpleString} != " +
          s"inferred ${inferred.simpleString}")
    }
  }

  test("loading every fixture table submits no Spark job") {
    val jobs = jobsOf(Tables.names.foreach(n =>
      Tables.load(spark, sf001, n).schema))
    assert(jobs == 0, s"fixture loads ran $jobs schema-inference jobs")
  }
}
