package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SessionMemo]] on toy memos: release by how the value was pinned,
  * invalidation by input across memos, session isolation, idempotent
  * arming, the residency text; and a guard that no session-keyed
  * concurrent map grows back outside it.
  */
class SessionMemoSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def withTable[T](f: String => T): T = {
    val d = Files.createTempDirectory("graft-session-memo")
    try f(d.resolve("t.parquet").toString)
    finally {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def write(path: String, rows: Long): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
    spark.range(rows).write.parquet(path)
  }

  /** The RDD ids behind the localCheckpoint leaves of `df`'s plan. */
  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  test("a value is released the way its memo pinned it") {
    val persisted = SessionMemo.persisted[String]("spec_release.persisted")(SessionMemo.tableOf)
    val checkpointed =
      SessionMemo.checkpointed[String]("spec_release.checkpointed")(SessionMemo.tableOf)
    val s = spark.newSession()
    withTable { path =>
      write(path, 10)
      val key = Some(path.stripSuffix(".parquet"))
      val p = persisted(s, key)(s.read.parquet(path).selectExpr("id * 31 AS x"))
      val c = checkpointed(s, key)(s.read.parquet(path).selectExpr("id * 37 AS y"))
      assert(p.storageLevel === StorageLevel.MEMORY_AND_DISK)
      val rdds = checkpointRdds(c)
      assert(rdds.nonEmpty && rdds.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      // a hit hands back the stored values
      assert(persisted(s, key)(fail("rebuilt")) eq p)
      assert(checkpointed(s, key)(fail("rebuilt")) eq c)

      SessionMemos.evict(s)
      assert(SessionMemos.entries(s, "spec_release") === 0)
      assert(p.storageLevel === StorageLevel.NONE)
      assert(rdds.intersect(spark.sparkContext.getPersistentRDDs.keySet).isEmpty)
    }
  }

  test("a new version of an input drops every entry derived from the old one, in every memo") {
    val counts = SessionMemo.plain[String, Long]("spec_cascade.counts")(SessionMemo.tableOf)
    val frames = SessionMemo.persisted[(String, Int)]("spec_cascade.frames")(
      k => SessionMemo.tableOf(k._1))
    val s = spark.newSession()
    withTable { path =>
      val key = path.stripSuffix(".parquet")
      write(path, 10)
      assert(counts(s, Some(key))(s.read.parquet(path).count()) === 10L)
      val f = frames(s, Some((key, 1)))(s.read.parquet(path).selectExpr("id * 41 AS z"))
      f.collect()
      assert(SessionMemos.entries(s, "spec_cascade") === 2)

      write(path, 4)
      // one lookup in one memo sees the new fingerprint: both entries go
      assert(counts(s, Some(key))(s.read.parquet(path).count()) === 4L)
      assert(SessionMemos.entries(s, "spec_cascade") === 1)
      assert(f.storageLevel === StorageLevel.NONE, "the superseded frame is unpersisted")
      val g = frames(s, Some((key, 1)))(s.read.parquet(path).selectExpr("id * 41 AS z"))
      assert(g.count() === 4L)

      // and invalidating the input drops everything derived from it
      SessionMemos.invalidate(s, path)
      assert(SessionMemos.entries(s, "spec_cascade") === 0)
      assert(g.storageLevel === StorageLevel.NONE)
    }
    SessionMemos.evict(s)
  }

  test("sessions share no entry; evicting one spares the other; arm is idempotent") {
    val memo = SessionMemo.plain[String, Long]("spec_sessions.count")(SessionMemo.tableOf)
    val a = spark.newSession()
    val b = spark.newSession()
    withTable { path =>
      write(path, 3)
      val key = Some(path.stripSuffix(".parquet"))
      var builds = 0
      def count(s: org.apache.spark.sql.SparkSession) = memo(s, key) { builds += 1; 3L }
      count(a); count(a)
      assert(builds === 1)
      count(b)
      assert(builds === 2, "b does not see a's entry")
      assert(SessionMemos.entries(a, "spec_sessions") === 1)
      assert(SessionMemos.entries(b, "spec_sessions") === 1)
      SessionMemos.evict(a)
      assert(SessionMemos.entries(a, "spec_sessions") === 0)
      assert(SessionMemos.entries(b, "spec_sessions") === 1)
      // both sessions share one context: it is armed once
      val armed = SessionMemos.armedCount
      SessionMemos.arm(a); SessionMemos.arm(b)
      assert(SessionMemos.armedCount === armed)

      val text = SessionMemos.prometheusText
      assert(text.contains("# TYPE graft_memo_entries gauge\n"))
      assert(text.contains("graft_memo_entries{memo=\"spec_sessions.count\"} 1\n"))
      assert(text.contains("graft_memo_hits_total{memo=\"spec_sessions.count\"} 1\n"))
      assert(text.contains("graft_memo_misses_total{memo=\"spec_sessions.count\"} 2\n"))
      SessionMemos.evict(b)
    }
  }

  test("no concurrent map keyed by SparkSession is declared outside SessionMemo") {
    // Maps that are not session memos (index locks and markers, the
    // bench's job counts, the stream retrain state, the serve receipts,
    // the armed contexts) are keyed by strings, so they do not match.
    val main = Paths.get("src/main/scala")
    val files = {
      val walk = Files.walk(main)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val maps = "(TrieMap|ConcurrentHashMap|ConcurrentSkipListMap|ConcurrentMap|concurrent\\.Map)\\b".r
    def typeArgs(src: String, from: Int): String = {
      val open = src.indexOf('[', from)
      if (open < 0 || !src.substring(from, open).matches("(?s)[\\s.]*(empty)?[\\s]*")) ""
      else {
        var depth = 0
        var i = open
        do {
          if (src(i) == '[') depth += 1 else if (src(i) == ']') depth -= 1
          i += 1
        } while (depth > 0 && i < src.length)
        src.substring(open, i)
      }
    }
    val offenders = for {
      f <- files if f.getFileName.toString != "SessionMemo.scala"
      src = new String(Files.readAllBytes(f), "UTF-8")
      m <- maps.findAllMatchIn(src) if typeArgs(src, m.end).contains("SparkSession")
    } yield s"${main.relativize(f)}:${src.substring(0, m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, s"session-keyed maps outside SessionMemo: ${offenders.mkString(", ")}")
  }
}
