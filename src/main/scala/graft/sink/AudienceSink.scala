package graft.sink

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Audience-style sink with the reference's Mailchimp semantics
  * (SURVEY §2.1 S11–S13), emulated over an in-JVM "service" so the
  * batch/retry/GC protocol is testable without the network. Every push
  * is keyed: each row carries a `scope` that routes it to one sink, so
  * one executor pass serves every job of a `syncMany` call.
  *
  *  - S11 + S13 [[AudienceSink.upsertAndTag]]: each task posts a
  *    member batch of ≤300 rows (`mailchimp/src/members.rs:130-134` —
  *    500 documented as timing out), then that batch's tag updates in
  *    chunks of ≤1000 (`members.rs:249-274`), so a member is never
  *    tagged before it exists; the tag endpoint answers 404 for an
  *    unknown member, as Mailchimp's does.
  *  - S12 [[AudienceSink.retainAll]]: one snapshot of every given
  *    registry, keyed by scope, cleaned members left out
  *    (`members.rs:68-97`), left-anti joined with the keep set on
  *    (scope, id); the doomed ids are deleted in the same kind of pass.
  *    The snapshot is a driver-side LocalRelation fixed before the
  *    deletes run; a production sink would page the "list members"
  *    endpoint from executors instead (graft.sources.AudienceDataSource),
  *    and would then have to materialize the doomed set before deleting,
  *    since a live paged scan shifts its offsets under deletes.
  *  - The class's `upsertMany`, `retain` and `updateTags` are the
  *    one-sink case of the same loop.
  *
  * The pass runs in at most `tasks` tasks (`coalesce`, no shuffle), so
  * at most `tasks` calls are in flight across all its sinks. The
  * reference's ceiling is per list, `try_for_each_concurrent(8)`
  * ([[AudienceSink.ListConcurrency]]); a one-sink push keeps it.
  * Every call goes through [[AudienceSink.withRetry]]: exponential
  * backoff capped at 5 s (`mailchimp/src/lib.rs:331-364`), transient
  * failures only; a [[AudienceSink.SinkHttpError]] with status 401,
  * 403 or 404 is permanent (`lib.rs:352-361`, `error.rs:54-70`). A
  * scope whose call fails for good is recorded with its error and its
  * later rows in that task are skipped; other scopes go on (D4). The
  * closure captures only sink ids and stateless functions; state lives
  * in a static registry — exactly where the real HTTP endpoint would
  * sit. Every operation is a keyed upsert or delete, so Spark task
  * retries are idempotent (SURVEY §7.4.4).
  */
object AudienceSink {
  final class State {
    /** member id → (email, status, merge-json). */
    val members = new ConcurrentHashMap[String, (String, String, String)]()
    val tags = new ConcurrentHashMap[String, Set[String]]()
    /** injectable fault count (retry testing): the next n calls fail. */
    val failNextAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    /** HTTP status the injected faults carry; 0 (the default) injects a
      * network error, a plain `IOException`. */
    val failStatus = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  /** A sink call answered with HTTP `status`. */
  final class SinkHttpError(val status: Int, msg: String)
      extends java.io.IOException(s"HTTP $status: $msg")

  /** Statuses a retry cannot change (bad key, no permission, no such
    * list); 5xx, 429 and network errors stay transient. */
  private val PermanentStatuses: Set[Int] = Set(401, 403, 404)

  private def transient(e: java.io.IOException): Boolean = e match {
    case h: SinkHttpError => !PermanentStatuses(h.status)
    case _ => true
  }
  private val registry = new ConcurrentHashMap[String, State]()
  def state(id: String): State = registry.computeIfAbsent(id, _ => new State)

  private def maybeFail(st: State): Unit =
    if (st.failNextAttempts.getAndUpdate(n => math.max(0, n - 1)) > 0) st.failStatus.get match {
      case 0 => throw new java.io.IOException("transient sink error (injected)")
      case status => throw new SinkHttpError(status, "injected")
    }

  /** Transport boundary: a real implementation POSTs the batch here. */
  private[sink] def postBatch(sinkId: String,
      rows: Seq[(String, String, String, String)]): Unit = {
    val st = state(sinkId)
    maybeFail(st)
    rows.foreach { case (id, email, status, merge) =>
      st.members.put(id, (email, status, merge))
    }
  }

  /** Transport boundary for the S12 batch DELETE. */
  private[sink] def deleteBatch(sinkId: String, ids: Seq[String]): Unit = {
    val st = state(sinkId)
    maybeFail(st)
    ids.foreach { id => st.members.remove(id); st.tags.remove(id) }
  }

  /** Transport boundary for the S13 tag POST. Like Mailchimp's
    * member-tags endpoint, it answers 404 for an id with no member; the
    * whole batch is then rejected. */
  private[sink] def postTagBatch(sinkId: String,
      updates: Seq[(String, String, Boolean)]): Unit = {
    val st = state(sinkId)
    maybeFail(st)
    updates.find(u => !st.members.containsKey(u._1)).foreach { case (id, _, _) =>
      throw new SinkHttpError(404, s"no member $id in $sinkId")
    }
    updates.foreach { case (id, tag, active) =>
      st.tags.compute(id, (_, cur) => {
        val s = Option(cur).getOrElse(Set.empty[String])
        if (active) s + tag else s - tag
      })
    }
  }

  /** `f`, retried up to `retries` more times on a transient failure with
    * doubling backoff capped at 5 s like the reference; a permanent
    * failure, or the last transient one, propagates. */
  @annotation.tailrec
  private[sink] def withRetry[T](retries: Int, delayMs: Long = 50L)(f: => T): T = {
    val outcome =
      try Right(f)
      catch { case e: java.io.IOException if retries > 0 && transient(e) => Left(e) }
    outcome match {
      case Right(v) => v
      case Left(_) =>
        Thread.sleep(math.min(delayMs, 5000L))
        withRetry(retries - 1, delayMs * 2)(f)
    }
  }

  /** What a push posted to one sink (the D6 per-job stats). */
  final case class Stats(upserted: Long = 0L, deleted: Long = 0L, tagOps: Long = 0L) {
    def +(o: Stats): Stats = Stats(upserted + o.upserted, deleted + o.deleted, tagOps + o.tagOps)
  }

  /** The outcome of one keyed push: what each scope posted, and an
    * error for each scope whose posting failed. */
  final case class Pushed(stats: Map[Long, Stats], errors: Map[Long, String])

  /** Calls in flight to one list in the reference
    * (`try_for_each_concurrent(8)`, `members.rs:151`). */
  val ListConcurrency = 8

  /** Tag updates per tag POST (`members.rs:249-274`). */
  private val TagChunk = 1000

  /** S13: `updates` (id, tag, active) posted to `sinkId` in chunks of
    * ≤[[TagChunk]], each chunk retried on its own; returns the number of
    * tag operations. */
  private def postTags(sinkId: String, updates: Seq[(String, String, Boolean)],
      retries: Int): Long = {
    updates.grouped(TagChunk).foreach(c => withRetry(retries)(postTagBatch(sinkId, c)))
    updates.size
  }

  /** The one executor push loop: `data` is coalesced to at most `tasks`
    * tasks; each task groups its rows by scope (`decode`'s key) into
    * batches of ≤`size` and hands each full batch, then each remainder,
    * to `post`. A batch that throws (a permanent failure, or retries run
    * out) records its scope's error, and the task skips that scope's
    * later rows.
    *
    * The coalesce adds no shuffle, so the bound also applies to the
    * stage that computes `data`; callers pass a cached frame or a small
    * plan over one. The stats ride an accumulator inside the SAME pass
    * that posts, so the input plan runs once; accumulator updates inside
    * an action apply once per successful task, so task retries don't
    * double-count. */
  private def pushKeyed[T](data: DataFrame, tasks: Int, size: Int)(
      decode: Row => (Long, T))(post: (Long, Seq[T]) => Stats): Pushed = {
    val sc = data.sparkSession.sparkContext
    val posted = sc.collectionAccumulator[(Long, Stats)]("audience_posted")
    val failed = sc.collectionAccumulator[(Long, String)]("audience_failed")
    data.coalesce(tasks).foreachPartition { rows: Iterator[Row] =>
      val pending = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[T]]
      val sent = scala.collection.mutable.Map.empty[Long, Stats]
      val dead = scala.collection.mutable.LinkedHashMap.empty[Long, String]
      def flush(key: Long): Unit = {
        try sent(key) = sent.getOrElse(key, Stats()) + post(key, pending(key))
        catch { case scala.util.control.NonFatal(e) =>
          dead(key) = Option(e.getMessage).getOrElse(e.getClass.getSimpleName) }
        pending(key) = Vector.empty
      }
      rows.map(decode).foreach { case (key, item) =>
        if (!dead.contains(key)) {
          pending(key) = pending.getOrElse(key, Vector.empty) :+ item
          if (pending(key).size >= size) flush(key)
        }
      }
      for ((key, batch) <- pending.toSeq if batch.nonEmpty && !dead.contains(key)) flush(key)
      sent.foreach(posted.add)
      dead.foreach(failed.add)
    }
    Pushed(posted.value.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _),
      failed.value.asScala.toSeq.groupMapReduce(_._1)(_._2)((first, _) => first))
  }

  /** S11 + S13 in one pass: `rows` (scope, id, email, status,
    * merge_json, tags: array<struct<tag, active>>) go to `sinks(scope)`,
    * each member batch first, then its tag updates. */
  def upsertAndTag(rows: DataFrame, sinks: Map[Long, String], tasks: Int,
      batchSize: Int = 300, maxRetries: Int = 3): Pushed =
    pushKeyed(rows.select("scope", "id", "email", "status", "merge_json", "tags"),
        tasks, batchSize) { r =>
      val id = r.getString(1)
      r.getLong(0) -> ((id, r.getString(2), r.getString(3), r.getString(4)),
        r.getSeq[Row](5).map(t => (id, t.getString(0), t.getBoolean(1))))
    } { (scope, batch) =>
      withRetry(maxRetries)(postBatch(sinks(scope), batch.map(_._1)))
      Stats(upserted = batch.size, tagOps = postTags(sinks(scope), batch.flatMap(_._2), maxRetries))
    }

  /** The "list members" endpoint of every sink in `sinks` as one
    * (scope, id) frame, cleaned members left out: one driver-side
    * snapshot per call. */
  private def snapshot(spark: SparkSession, sinks: Map[Long, String]): DataFrame = {
    import spark.implicits._
    sinks.toSeq.flatMap { case (scope, sid) =>
      state(sid).members.asScala.iterator.collect {
        case (id, (_, status, _)) if status != "cleaned" => (scope, id)
      }
    }.toDF("scope", "id")
  }

  /** S12 for every sink in `sinks` at once: the members of each scope's
    * snapshot that are not in `keep` (scope, id) are deleted in one
    * pass; cleaned members are spared. */
  def retainAll(spark: SparkSession, sinks: Map[Long, String], keep: DataFrame,
      tasks: Int, batchSize: Int = 300, maxRetries: Int = 3): Pushed = {
    val doomed = graft.operators.Merge.retainDeletes(snapshot(spark, sinks), keep, Seq("scope", "id"))
    pushKeyed(doomed, tasks, batchSize)(r => r.getLong(0) -> r.getString(1)) { (scope, ids) =>
      withRetry(maxRetries)(deleteBatch(sinks(scope), ids))
      Stats(deleted = ids.size)
    }
  }
}

/** One sink on its own: the keyed pushes with a single scope. A failed
  * call throws its error. */
final class AudienceSink(val sinkId: String, batchSize: Int = 300,
    sinkPartitions: Int = AudienceSink.ListConcurrency, maxRetries: Int = 3) extends Serializable {
  import AudienceSink._

  def size: Int = state(sinkId).members.size
  def get(id: String): Option[(String, String, String)] =
    Option(state(sinkId).members.get(id))
  def tagsOf(id: String): Set[String] =
    state(sinkId).tags.getOrDefault(id, Set.empty)
  def allIds: Set[String] = state(sinkId).members.keySet().asScala.toSet
  def injectTransientFailures(n: Int): Unit = injectFailures(n, status = 0)
  /** The next `n` sink calls fail with HTTP `status`, or with a network
    * error when `status` is 0. */
  def injectFailures(n: Int, status: Int): Unit = {
    state(sinkId).failStatus.set(status)
    state(sinkId).failNextAttempts.set(n)
  }

  private def sinks = Map(0L -> sinkId)
  private def scoped(df: DataFrame): DataFrame = df.withColumn("scope", lit(0L))
  private def only(p: Pushed): Stats = {
    p.errors.get(0L).foreach(e => throw new java.io.IOException(s"sink $sinkId: $e"))
    p.stats.getOrElse(0L, Stats())
  }

  /** S11: df(id, email, status, merge_json) upserted in ≤batchSize
    * chunks; returns the upserted count. */
  def upsertMany(df: DataFrame): Long =
    only(upsertAndTag(scoped(df).withColumn("tags",
        array().cast("array<struct<tag:string,active:boolean>>")),
      sinks, sinkPartitions, batchSize, maxRetries)).upserted

  /** S12: delete members not in `keep` (a DataFrame of ids), excluding
    * cleaned. Returns the deleted count. */
  def retain(spark: SparkSession, keep: DataFrame): Long = {
    val keepIds =
      if (keep.columns.contains("id")) keep.select("id")
      else {
        require(keep.columns.length == 1,
          s"retain keep-set needs an 'id' column or exactly one column, got ${keep.columns.mkString(",")}")
        keep.select(col(keep.columns.head).as("id"))
      }
    only(retainAll(spark, sinks, scoped(keepIds), sinkPartitions, batchSize, maxRetries)).deleted
  }

  /** S13: (id, tag, active) updates applied in chunks of 1000. Returns
    * the number of tag operations. */
  def updateTags(updates: DataFrame): Long = {
    val (sid, retries) = (sinkId, maxRetries)
    only(pushKeyed(updates.select("id", "tag", "active"), sinkPartitions, TagChunk) { r =>
      0L -> ((r.getString(0), r.getString(1), r.getBoolean(2)))
    } { (_, chunk) => Stats(tagOps = postTags(sid, chunk, retries)) }).tagOps
  }
}
