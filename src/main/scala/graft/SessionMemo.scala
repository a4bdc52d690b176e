package graft

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One per-session memo: a value per (SparkSession, key), reused only
  * while the input it was derived from is unchanged. Kremis answers from
  * the current state alone, so reuse within a session is sound only when
  * it is keyed on the exact snapshot the work read. Three rules make
  * that hold:
  *
  *   - Every entry records its inputs ([[SessionMemo.Input]]): a path
  *     with its [[graft.sources.VersionedIndex.dirFingerprint]], or an
  *     index path with a committed version. `inputsOf` derives them from
  *     the key at lookup, BEFORE the build runs, so a rewrite that races
  *     the build leaves an entry whose fingerprint never matches again.
  *   - A lookup whose inputs differ from its entry's rebuilds. A lookup
  *     that misses first drops, in every memo, each entry of the session
  *     derived from another version of one of its inputs
  *     ([[SessionMemos.supersede]]): one stale input invalidates
  *     everything derived from it.
  *   - A value is released the way it was pinned. `pin` runs on every
  *     stored value and `release` undoes it when the entry is dropped
  *     (superseded, evicted with its session, or cleared by a test
  *     bypass): [[SessionMemo.persisted]] unpersists,
  *     [[SessionMemo.checkpointed]] releases the checkpointed RDD's
  *     blocks, [[SessionMemo.plain]] only forgets the reference.
  *
  * Every memo registers itself with [[SessionMemos]], the one lifecycle
  * hub: session eviction, invalidation by input, the entry counts and
  * the hit and miss counters all go through it.
  */
final class SessionMemo[K, V](
    val name: String,
    inputsOf: K => Seq[SessionMemo.Input],
    pin: V => V,
    release: V => Unit) {
  import SessionMemo.{Entry, Input}

  private val entries = TrieMap.empty[(SparkSession, K), Entry[V]]
  private[graft] val hits = new LongAdder
  private[graft] val misses = new LongAdder

  SessionMemos.register(this)

  /** The value for `key` in `spark`: the stored one while its inputs
    * are unchanged, otherwise built, pinned and stored. No key, no memo:
    * the build runs unpinned, as it does while a test bypasses the memo.
    */
  def apply(spark: SparkSession, key: Option[K])(build: => V): V = key match {
    case Some(k) if !SessionMemos.bypasses(this) => lookup(spark, k, build)
    case _ => build
  }

  private def lookup(spark: SparkSession, k: K, build: => V): V = {
    val inputs = inputsOf(k)
    entries.get((spark, k)) match {
      case Some(e) if e.inputs == inputs => hits.increment(); e.value
      case stale =>
        misses.increment()
        SessionMemos.arm(spark)
        stale.foreach(drop((spark, k), _))
        inputs.foreach(SessionMemos.supersede(spark, _))
        val v = pin(build)
        entries.putIfAbsent((spark, k), Entry(v, inputs)) match {
          case None => v
          // a concurrent build from the same inputs won: ride it
          case Some(w) if w.inputs == inputs => release(v); w.value
          // a concurrent build from another version: serve ours unmemoized
          case Some(_) => v
        }
    }
  }

  /** The inputs of `spark`'s entry holding `value` (none if no entry
    * does): what a memo over that value derives from.
    */
  private[graft] def inputsBehind(spark: SparkSession, value: V): Seq[Input] =
    entries.collectFirst {
      case ((s, _), e) if (s eq spark) && (e.value.asInstanceOf[AnyRef] eq value.asInstanceOf[AnyRef]) =>
        e.inputs
    }.getOrElse(Nil)

  private[graft] def dropWhere(p: (SparkSession, Seq[Input]) => Boolean): Unit =
    entries.foreach { case (k, e) => if (p(k._1, e.inputs)) drop(k, e) }

  private def drop(k: (SparkSession, K), e: Entry[V]): Unit =
    if (entries.remove(k, e)) release(e.value)

  private[graft] def entriesFor(session: Option[SparkSession]): Int =
    session.fold(entries.size)(s => entries.keysIterator.count(_._1 eq s))
}

object SessionMemo {

  /** What an entry was derived from: `id` names the input (a table
    * path, an index path) and `version` the state of it that was read
    * (a file fingerprint, a committed index version).
    */
  final case class Input(id: String, version: String)

  object Input {
    /** A file or directory at its current fingerprint: a stat walk,
      * never a job. A path the snapshot provider cannot see is `absent`.
      */
    def file(path: String): Input =
      Input(path, graft.sources.VersionedIndex.dirFingerprint(path))

    /** The file roots `df`'s plan scans, each at its current fingerprint. */
    def scannedBy(df: DataFrame): Seq[Input] = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      df.queryExecution.analyzed.collectLeaves().flatMap {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(p => file(p.toUri.getPath))
          case _ => Nil
        }
        case _ => Nil
      }.distinct
    }
  }

  /** The input a string memo key names. String keys follow one
    * convention: the source table's path without `.parquet`
    * (`"$dir/embeddings"`), then `#`-separated derivation tags
    * (`"$dir/embeddings#raw"`), so the key up to its first `#` names the
    * table the entry was derived from.
    */
  def tableOf(key: String): Seq[Input] =
    Seq(Input.file(key.takeWhile(_ != '#') + ".parquet"))

  private final case class Entry[V](value: V, inputs: Seq[Input])

  /** Values that pin nothing: dropping an entry forgets the reference. */
  def plain[K, V](name: String)(inputsOf: K => Seq[Input]): SessionMemo[K, V] =
    new SessionMemo[K, V](name, inputsOf, identity, _ => ())

  /** DataFrames persisted MEMORY_AND_DISK, unpersisted when dropped. */
  def persisted[K](name: String)(inputsOf: K => Seq[Input]): SessionMemo[K, DataFrame] =
    new SessionMemo[K, DataFrame](name, inputsOf,
      _.persist(StorageLevel.MEMORY_AND_DISK), SessionMemos.safeUnpersist)

  /** DataFrames pinned by `localCheckpoint`, whose RDD blocks are
    * released when dropped.
    */
  def checkpointed[K](name: String)(inputsOf: K => Seq[Input]): SessionMemo[K, DataFrame] =
    new SessionMemo[K, DataFrame](name, inputsOf,
      _.localCheckpoint(), SessionMemos.releaseCheckpoints)
}

/** The lifecycle hub of every [[SessionMemo]]. Memos key by
  * SparkSession, so in a long-lived multi-session JVM the entries of
  * dead sessions would otherwise accumulate and keep their blocks
  * pinned. Two exits release them:
  *
  *   - [[evict]](session): the explicit call. A server closing a logical
  *     session drops exactly that session's entries, each released the
  *     way its memo pinned it.
  *   - [[arm]](session): run by every memo on a miss; registers (once
  *     per SparkContext) a listener that evicts every entry of the
  *     stopping context on application end, so a plain `spark.stop()`
  *     (Verify, Bench, the CLI) leaves no stale references behind.
  *
  * Within a live session, [[supersede]] drops what a new input version
  * makes stale, and [[invalidate]] drops everything derived from one
  * input.
  */
object SessionMemos {

  private val memos = new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]

  /** Contexts that already carry the stop-hook listener (by appId,
    * unique per live context in a JVM).
    */
  private val armedContexts = TrieMap.empty[String, Unit]

  /** The memos a test has bypassed: see [[bypassing]]. */
  @volatile private var bypassed = Set.empty[SessionMemo[_, _]]

  private[graft] def register(m: SessionMemo[_, _]): Unit = memos.add(m)

  private def all: Seq[SessionMemo[_, _]] = memos.asScala.toSeq

  /** Idempotently install the context-stop hook for `session`'s context. */
  def arm(session: SparkSession): Unit = {
    val sc = session.sparkContext
    if (armedContexts.putIfAbsent(sc.applicationId, ()).isEmpty) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          // the context is tearing down: every session on it is dead.
          // Unpersist calls are best-effort no-ops here; the point is
          // releasing the driver-side references.
          evictWhere(s => s.sparkContext eq sc)
          armedContexts.remove(sc.applicationId)
        }
      })
    }
  }

  /** Evict every entry belonging to exactly `session`; other sessions'
    * entries are untouched.
    *
    * Caveat on shared cached data: Spark's CacheManager is context-wide
    * and plan-keyed, so if another session memoized a structurally
    * IDENTICAL plan (same corpus, same threshold), both entries point at
    * one cached dataset and this unpersist drops it for both; the
    * survivor recomputes on next use (correctness unaffected).
    */
  def evict(session: SparkSession): Unit = evictWhere(_ eq session)

  private def evictWhere(p: SparkSession => Boolean): Unit =
    all.foreach(_.dropWhere((s, _) => p(s)))

  /** Drop, in every memo, `spark`'s entries derived from a version of
    * `input.id` other than `input.version`.
    */
  def supersede(spark: SparkSession, input: SessionMemo.Input): Unit =
    all.foreach(_.dropWhere((s, ins) =>
      (s eq spark) && ins.exists(i => i.id == input.id && i.version != input.version)))

  /** Drop, in every memo, `spark`'s entries derived from any version of
    * the input `id`.
    */
  def invalidate(spark: SparkSession, id: String): Unit =
    all.foreach(_.dropWhere((s, ins) => (s eq spark) && ins.exists(_.id == id)))

  private[graft] def bypasses(m: SessionMemo[_, _]): Boolean = bypassed.contains(m)

  /** Test-only: run `body` with `memos` neither read nor written, after
    * dropping their entries in every session. A plan-shape spec needs the
    * raw plan, and Spark's CacheManager would substitute a persisted
    * relation for any structurally equal plan while the entry lived.
    */
  private[graft] def bypassing[A](memos: SessionMemo[_, _]*)(body: => A): A = {
    memos.foreach(_.dropWhere((_, _) => true))
    synchronized(bypassed ++= memos)
    try body finally synchronized(bypassed --= memos)
  }

  /** Entries `session` holds in the memos of one owner: those whose
    * name starts with `owner` and a dot.
    */
  private[graft] def entries(session: SparkSession, owner: String): Int =
    all.filter(_.name.startsWith(s"$owner.")).map(_.entriesFor(Some(session))).sum

  /** One memo's residency: entries held (in one session, or in all),
    * and its process-wide hit and miss counts.
    */
  final case class Residency(memo: String, entries: Int, hits: Long, misses: Long)

  def residency(session: Option[SparkSession] = None): Seq[Residency] =
    all.map(m => Residency(m.name, m.entriesFor(session), m.hits.sum, m.misses.sum))
      .sortBy(_.memo)

  /** [[residency]] over every session, as Prometheus text. */
  def prometheusText: String = {
    val rs = residency()
    def family(name: String, kind: String, help: String, value: Residency => Long) =
      s"# HELP $name $help\n# TYPE $name $kind\n" +
        rs.map(r => s"""$name{memo="${r.memo}"} ${value(r)}\n""").mkString
    family("graft_memo_entries", "gauge", "Session memo entries held, per memo", _.entries) +
      family("graft_memo_hits_total", "counter", "Session memo lookups served, per memo", _.hits) +
      family("graft_memo_misses_total", "counter", "Session memo lookups built, per memo", _.misses)
  }

  private[graft] def armedCount: Int = armedContexts.size

  /** Unpersist that never lets a stopped-context error escape a release
    * (fatal errors, OOM and interrupts, still propagate).
    */
  private[graft] def safeUnpersist(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case NonFatal(_) => () }

  /** Release the RDD blocks behind any localCheckpoint leaves in `df`'s
    * plan: `Dataset.unpersist` only clears the plan-keyed CacheManager
    * entry, while a checkpointed Dataset is backed by an RDD persisted at
    * the RDD level; without this, those blocks wait for the
    * ContextCleaner to GC the reference. Only call when the value is
    * dropped: a localCheckpoint'd RDD cannot recompute after unpersist
    * (its lineage is truncated by design), which is safe exactly because
    * a dropped entry is rebuilt from source by any later caller.
    */
  private[graft] def releaseCheckpoints(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try lr.rdd.unpersist(blocking = false)
        catch { case NonFatal(_) => () }
      case _ => ()
    } catch { case NonFatal(_) => () }
}
