package graft

import org.scalatest.funsuite.AnyFunSuite

/** A warm registry entry builds its plan without starting a Spark job:
  * input schemas come from the `Tables.read` memo and every eager probe
  * from its session memo. Covers the relational family and the entries
  * the fixed-overhead benchmark times.
  */
class ZeroJobBuildSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = TestData.dir("sf0.001")
  private val names = SparkEntry.queries.keys.filter(_.matches("q\\d+.*")).toSeq.sorted ++
    Seq("d12_stratified_split", "d27_sequence_packing", "e05_int8_quantize")

  test("the second build of every q entry and the batch-floor entries starts 0 jobs") {
    // the 37 relational entries: q01–q35 plus q34b and q34c
    assert(names.count(_.startsWith("q")) === 37)
    val s = spark.newSession()
    try {
      val warm = names.map { name =>
        val fn = SparkEntry.queries(name)
        fn(s, dir).collect()
        name -> Jobs.during(s)(fn(s, dir))._2
      }
      val started = warm.filter(_._2 != 0)
      assert(started.isEmpty, s"warm builds that started jobs: ${started.mkString(", ")}")
    } finally SessionMemos.evict(s)
  }
}
