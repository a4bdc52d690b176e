package perfbench

import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LayerListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("counts the jobs, stages and tasks of a small shuffle job") {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    try {
      l.take()
      val t0 = System.currentTimeMillis()
      val n = spark.sparkContext.parallelize(1 to 1000, 4).map(i => (i % 10, 1)).reduceByKey(_ + _).count()
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      val t1 = System.currentTimeMillis()
      assert(n === 10)
      val w = l.take()
      assert(w.jobCount === 1)
      assert(w.totals.stages === 2)
      assert(w.totals.tasks === 4 + 4)
      assert(w.totals.shuffleWriteBytes > 0)
      assert(w.totals.shuffleReadBytes > 0)
      assert(w.totals.taskRunMs >= 0)
      assert(w.worstSkew >= 1.0)
      assert(w.jobsStartedIn(t0, t1) === 1)
      // a window starts empty after take()
      val empty = l.take()
      assert(empty.jobCount === 0 && empty.totals.tasks === 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("time with no job running is the interval minus the union of job intervals") {
    val w = LayerListener.Window(LayerListener.Totals(), Vector((10L, 20L), (15L, 30L), (50L, 60L), (90L, 200L)), 1.0)
    assert(w.noJobMs(0L, 100L) === 100 - 20 - 10 - 10)
    assert(w.noJobMs(25L, 55L) === 30 - 5 - 5)
    assert(w.jobsStartedIn(0L, 50L) === 3)
  }
}
