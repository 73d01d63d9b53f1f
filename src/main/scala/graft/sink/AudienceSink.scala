package graft.sink

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Audience-style sink with the reference's Mailchimp semantics
  * (SURVEY §2.1 S11–S13), emulated over an in-JVM "service" so the
  * batch/retry/GC protocol is testable without the network:
  *
  *  - S11 `upsertMany`: members pushed from executors in chunks of ≤300
  *    per batch (`mailchimp/src/members.rs:130-134` — 500 documented as
  *    timing out), at most n batch streams at once via `coalesce(n)`
  *    (reference: ≤8 concurrent batches, `try_for_each_concurrent(8)` —
  *    a ceiling), per-batch retry with exponential backoff capped at
  *    5 s (`mailchimp/src/lib.rs:331-364`). Only transient failures
  *    are retried: a [[AudienceSink.SinkHttpError]] with status 401, 403
  *    or 404 is permanent (`mailchimp/src/lib.rs:352-361`,
  *    `error.rs:54-70`), tried once, and fails the call.
  *  - S12 `retain`: delete audience rows whose id is NOT in the keep set,
  *    never touching `cleaned` members (`mailchimp/src/members.rs:68-97`).
  *    The keep set is a DataFrame and the doomed set is a distributed
  *    anti-join (Merge.retainDeletes); deletes are pushed from executors
  *    in batches. The anti-join's audience side is `membersDf`, which
  *    in this emulation is a driver-side LocalRelation of the whole
  *    registry, built on every `retain`; a production sink would read
  *    the audience through a distributed paged scan instead, so that
  *    the driver holds no member rows.
  *  - S13 `updateTags`: per-member tag-state updates applied from
  *    executors in chunks of 1000 (`mailchimp/src/members.rs:249-274`),
  *    same partition-parallel shape as S11.
  *
  * All three run one executor push loop (`pushBatches`), whose closure
  * captures only the sink id (a string) and stateless row/batch
  * functions; state lives in a static registry — exactly where the real
  * HTTP endpoint would sit. Every operation is keyed upsert/delete, so
  * Spark task retries are idempotent (SURVEY §7.4.4). Swapping the
  * registry calls for REST POSTs yields the production sink unchanged.
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

  /** Transport boundary for the S13 tag POST. */
  private[sink] def postTagBatch(sinkId: String,
      updates: Seq[(String, String, Boolean)]): Unit = {
    val st = state(sinkId)
    maybeFail(st)
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
}

final class AudienceSink(val sinkId: String, batchSize: Int = 300,
    sinkPartitions: Int = 8, maxRetries: Int = 3) extends Serializable {
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

  /** The audience "list members" endpoint as a DataFrame (id, status).
    * The emulation snapshots the whole registry on the driver into a
    * LocalRelation, so every call holds one row per member in driver
    * memory. The sink does not read the paged DSv2 scan
    * (graft.sources.AudienceDataSource); a production sink would page
    * the endpoint from executors, as that source does, so no member
    * rows reach the driver. */
  def membersDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    state(sinkId).members.asScala.toSeq
      .map { case (id, (_, status, _)) => (id, status) }
      .toDF("id", "status")
  }

  /** The one executor push loop behind S11–S13: `data` is coalesced to
    * at most `sinkPartitions` tasks (the bounded sink-side parallelism),
    * each task posts its rows in ≤`size` batches, and every batch goes
    * through [[AudienceSink.withRetry]]. Returns the rows posted.
    *
    * The coalesce adds no shuffle, so the bound also applies to the stage
    * that computes `data`: it runs in at most `sinkPartitions` tasks.
    * Callers therefore pass a cached frame (the mail-sync jobs push
    * slices of their persisted audience frame; `retain` pushes its
    * persisted doomed set), so the push reads the cache rather than
    * recomputing a wide plan at reduced parallelism.
    *
    * The count rides a LongAccumulator inside the SAME pass that posts
    * the batches, so the upstream plan executes once per sink call (a
    * trailing `count()` would run the whole member transform a second
    * time, and could diverge from what was actually posted for
    * non-deterministic inputs). Accumulator updates inside an action are
    * applied exactly once per successful task, so task retries don't
    * double-count. */
  private def pushBatches[T](data: DataFrame, size: Int, counter: String)(
      decode: Row => T)(post: (String, Seq[T]) => Unit): Long = {
    val (sid, retries) = (sinkId, maxRetries)
    val sent = data.sparkSession.sparkContext.longAccumulator(counter)
    data.coalesce(sinkPartitions).foreachPartition { it: Iterator[Row] =>
      it.map(decode).grouped(size).foreach { batch =>
        withRetry(retries)(post(sid, batch))
        sent.add(batch.size)
      }
    }
    sent.value
  }

  /** S11: df(id, email, status, merge_json) upserted in ≤batchSize
    * chunks; returns the upserted count (stats only — the keep set for
    * S12 stays a DataFrame on the caller's side). */
  def upsertMany(df: DataFrame): Long =
    pushBatches(df.select("id", "email", "status", "merge_json"), batchSize,
        "audience_upserted") { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
    }(postBatch)

  /** S12: delete members not in `keep` (a DataFrame of ids), excluding
    * cleaned — the doomed set is a distributed anti-join and the deletes
    * are executor-side batches. Returns the deleted count. */
  def retain(spark: SparkSession, keep: DataFrame): Long = {
    val keepIds =
      if (keep.columns.contains("id")) keep.select("id")
      else {
        require(keep.columns.length == 1,
          s"retain keep-set needs an 'id' column or exactly one column, got ${keep.columns.mkString(",")}")
        keep.select(col(keep.columns.head).as("id"))
      }
    val doomed = graft.operators.Merge.retainDeletes(
        membersDf(spark), keepIds, Seq("id"),
        exempt = Some(col("status") === "cleaned"))
      .select("id").persist()
    try {
      // D6 stats; also materializes the doomed set before the deletes
      // mutate the audience it is computed from (a live paged scan
      // shifts its offsets under deletes)
      val n = doomed.count()
      pushBatches(doomed, batchSize, "audience_deleted")(_.getString(0))(deleteBatch)
      n
    } finally doomed.unpersist()
  }

  /** S13: (id, tag, active) updates applied in chunks of 1000. Returns
    * the number of tag operations, counted in the same single pass that
    * posts them. */
  def updateTags(updates: DataFrame): Long =
    pushBatches(updates.select("id", "tag", "active"), 1000, "audience_tag_ops") { r =>
      (r.getString(0), r.getString(1), r.getBoolean(2))
    }(postTagBatch)
}
