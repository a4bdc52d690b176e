package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite

/** The dir-keyed memos (the graph tables behind g22, d22's Bloom bytes,
  * d37's eval-gram table, s10's measured pair support, the power-law
  * fixture behind g22c, e04's pair set, e02c's exact ground truth and
  * e08's PQ index) record their input's file fingerprint: a table
  * rewritten mid-session is never served from the memo built on the old
  * rows.
  */
class MemoFingerprintSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val src = java.nio.file.Paths.get(TestData.dir("sf0.001"))
  private val entries = Seq("g22_common_neighbors", "d22_bloom_decontamination",
    "d37_incremental_manifest", "s10_windowed_pair_counts", "g22c_common_neighbors_powerlaw",
    "e04_cosine_near_dup_blocked", "e02c_ann_ivf_recall_floor", "e08_ann_pq_topk")

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
      t.toFile.setWritable(true)
    } finally walk.close()
  }

  private def run(s: org.apache.spark.sql.SparkSession, dir: Path): Map[String, Seq[String]] =
    entries.map(e => e -> SparkEntry.queries(e)(s, dir.toString).collect().map(_.toString).toSeq.sorted).toMap

  test("g22, d22 and d37 rebuild their memos and follow rewritten events and documents") {
    // (and s10 and g22c, whose memos derive from the same two tables, and
    // e04, e02c and e08, whose memos derive from the embeddings)
    val tmp = Files.createTempDirectory("graft-memo-fp")
    val fresh = Files.createTempDirectory("graft-memo-fp-ref")
    val s = spark.newSession()
    val ref = spark.newSession()
    def indexDirs = Seq(tmp, fresh).map(_.toString.replaceAll("[^A-Za-z0-9._-]", "_"))
    try {
      copyTree(src, tmp)
      val before = run(s, tmp)
      val graphBefore = graph.GraphTables.forDir(s, tmp.toString)
      val pipelineMemos = SessionMemos.entries(s, "pipeline")
      assert(pipelineMemos >= 2, "d22's Bloom bytes and d37's eval grams are memoized")
      assert(SessionMemos.entries(s, "phrase_stream") === 1, "s10's support is memoized")
      val supportProbes = SessionMemos.residency().find(_.memo == "phrase_stream.support").get.misses
      val fixtureBefore = queries.GraphPack.powerLawEdgesMemo(s, tmp.toString)

      // the same tables with rows removed, written beside the copy and
      // swapped in; a second copy of the new tables, at another path, is
      // the reference no memo of `s` can reach
      val stage = Files.createDirectories(tmp.resolve("_stage"))
      // (the events rewrite drops users too, so the graph's node count,
      // which sizes the power-law fixture, changes)
      for ((table, keep) <- Seq("events" -> "event_id % 3 != 0 AND user_id % 5 != 2",
          "documents" -> "doc_id % 7 != 3", "embeddings" -> "vec_id % 7 != 3")) {
        val staged = stage.resolve(s"$table.parquet")
        spark.read.parquet(tmp.resolve(s"$table.parquet").toString).where(keep)
          .write.parquet(staged.toString)
        delete(tmp.resolve(s"$table.parquet"))
        Files.move(staged, tmp.resolve(s"$table.parquet"))
      }
      delete(stage)
      copyTree(tmp, fresh)

      // the first keyed access after the rewrite drops the stale entries
      queries.PipelinePack.documentsKey(s, tmp.toString)
      assert(SessionMemos.entries(s, "pipeline") === 0)
      val after = run(s, tmp)
      assert(SessionMemos.entries(s, "pipeline") === pipelineMemos, "rebuilt")
      assert(!(graph.GraphTables.forDir(s, tmp.toString) eq graphBefore), "graph rebuilt")
      assert(SessionMemos.residency().find(_.memo == "phrase_stream.support").get.misses ===
        supportProbes + 1, "s10's support probed again under the new fingerprint")
      assert(SessionMemos.entries(s, "phrase_stream") === 1, "the superseded support is dropped")
      assert(!(queries.GraphPack.powerLawEdgesMemo(s, tmp.toString) eq fixtureBefore),
        "power-law fixture rebuilt")

      val reference = run(ref, fresh)
      for (e <- entries) {
        assert(after(e) === reference(e), s"$e follows the new rows")
        assert(after(e) !== before(e), s"$e: removing rows changes the answer")
      }
    } finally {
      SessionMemos.evict(s); SessionMemos.evict(ref)
      delete(tmp); delete(fresh)
      for (root <- Seq("/tmp/graft_sigindex", "/tmp/graft_annindex"); d <- indexDirs) {
        val r = java.nio.file.Paths.get(root)
        if (Files.isDirectory(r)) {
          val ls = Files.list(r)
          try ls.filter(_.getFileName.toString.startsWith(d)).forEach(p => delete(p))
          finally ls.close()
        }
      }
    }
  }
}
