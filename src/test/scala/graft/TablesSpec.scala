package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read`'s schema memo: one inference per (session, path, file
  * fingerprint); a rewrite is served with its new schema and rows.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = TestData.dir("sf0.001")

  private def delete(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private def withTempDir[T](f: Path => T): T = {
    val d = Files.createTempDirectory("graft-tables-spec")
    try f(d) finally delete(d)
  }

  test("a second load of an unchanged file infers nothing: 0 jobs") {
    val s = spark.newSession()
    try {
      val (first, coldJobs) = Jobs.during(s)(Tables.load(s, dir, "customer"))
      assert(coldJobs >= 1, "the first read infers the schema")
      val (second, warmJobs) = Jobs.during(s)(Tables.load(s, dir, "customer"))
      assert(warmJobs === 0)
      assert(second.schema === first.schema)
      assert(second.count() === first.count())
    } finally SessionMemos.evict(s)
  }

  test("a rewrite with a different schema and rows serves the new schema and rows") {
    withTempDir { tmp =>
      val s = spark.newSession()
      import s.implicits._
      val path = tmp.resolve("t.parquet").toString
      try {
        Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
        assert(Tables.read(s, path).as[(Long, String)].collect().toSet ===
          Set((1L, "a"), (2L, "b")))
        Tables.read(s, path) // memo hit
        delete(tmp.resolve("t.parquet"))
        Seq((7, 1.5, true)).toDF("k", "v", "flag").write.parquet(path)
        val df = Tables.read(s, path)
        assert(df.columns.toSeq === Seq("k", "v", "flag"))
        assert(df.as[(Int, Double, Boolean)].collect().toSeq === Seq((7, 1.5, true)))
      } finally SessionMemos.evict(s)
    }
  }

  test("Tables.events follows a rewrite from a long ts to a timestamp ts") {
    withTempDir { tmp =>
      val s = spark.newSession()
      import s.implicits._
      val path = tmp.resolve("events.parquet")
      // 2024-01-01T00:00:00Z, as nanoseconds and as a timestamp
      val nanos = 1704067200000000000L
      try {
        Seq((1L, nanos)).toDF("event_id", "ts").write.parquet(path.toString)
        val asLong = Tables.events(s, tmp.toString)
        assert(Tables.read(s, path.toString).schema("ts").dataType === LongType)
        val want = asLong.select("ts").as[java.sql.Timestamp].head()
        assert(want.getTime === nanos / 1000000L)
        delete(path)
        Seq((1L, want)).toDF("event_id", "ts").write.parquet(path.toString)
        val asTs = Tables.events(s, tmp.toString)
        assert(asTs.schema("ts").dataType === TimestampType)
        assert(asTs.select("ts").as[java.sql.Timestamp].head() === want)
      } finally SessionMemos.evict(s)
    }
  }

  test("two sessions share no entry, and SessionMemos.evict drops a session's entries") {
    val a = spark.newSession()
    val b = spark.newSession()
    try {
      Tables.load(a, dir, "nation")
      Tables.load(a, dir, "region")
      assert(SessionMemos.entries(a, "tables") === 2)
      assert(SessionMemos.entries(b, "tables") === 0)
      // b's first read infers for itself: a's entry is not visible to it
      val (_, bJobs) = Jobs.during(b)(Tables.load(b, dir, "nation"))
      assert(bJobs >= 1)
      assert(SessionMemos.entries(b, "tables") === 1)
      SessionMemos.evict(a)
      assert(SessionMemos.entries(a, "tables") === 0)
      assert(SessionMemos.entries(b, "tables") === 1)
      val (_, again) = Jobs.during(a)(Tables.load(a, dir, "nation"))
      assert(again >= 1, "an evicted session infers again")
    } finally { SessionMemos.evict(a); SessionMemos.evict(b) }
  }
}
