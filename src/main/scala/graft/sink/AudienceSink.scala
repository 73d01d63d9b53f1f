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
  *    timing out), bounded sink-side parallelism via `repartition(n)`
  *    (reference: 8 concurrent batches), per-batch retry with exponential
  *    backoff capped at 5 s (`mailchimp/src/lib.rs:331-364`).
  *  - S12 `retain`: delete audience rows whose id is NOT in the keep set,
  *    never touching `cleaned` members (`mailchimp/src/members.rs:68-97`).
  *    The keep set is a DataFrame and the doomed set is a distributed
  *    anti-join (Merge.retainDeletes); deletes are pushed from executors
  *    in batches. Nothing member-shaped ever lands on the driver — at a
  *    10⁸-member audience the driver only sees counts.
  *  - S13 `updateTags`: per-member tag-state updates applied from
  *    executors in chunks of 1000 (`mailchimp/src/members.rs:249-274`),
  *    same partition-parallel shape as S11.
  *
  * The executor-side closure captures only the sink id (a string); state
  * lives in a static registry — exactly where the real HTTP endpoint
  * would sit. Every operation is keyed upsert/delete, so Spark task
  * retries are idempotent (SURVEY §7.4.4). Swapping the registry calls
  * for REST POSTs yields the production sink unchanged.
  */
object AudienceSink {
  final class State {
    /** member id → (email, status, merge-json). */
    val members = new ConcurrentHashMap[String, (String, String, String)]()
    val tags = new ConcurrentHashMap[String, Set[String]]()
    /** injectable transient fault count (retry testing). */
    val failNextAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
  }
  private val registry = new ConcurrentHashMap[String, State]()
  def state(id: String): State = registry.computeIfAbsent(id, _ => new State)

  private def maybeFail(st: State): Unit =
    if (st.failNextAttempts.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new java.io.IOException("transient sink error (injected)")

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

  private[sink] def withRetry[T](maxRetries: Int)(f: => T): T = {
    var delay = 50L
    var tries = 0
    while (tries <= maxRetries) {
      try return f
      catch {
        case _: java.io.IOException if tries < maxRetries =>
          tries += 1
          Thread.sleep(math.min(delay, 5000)) // cap 5 s like the reference
          delay *= 2
      }
    }
    throw new IllegalStateException("retries exhausted")
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
  def injectTransientFailures(n: Int): Unit =
    state(sinkId).failNextAttempts.set(n)

  /** The audience "list members" endpoint as a DataFrame (id, status).
    * Production shape: the paged DSv2 scan (graft.sources
    * .AudienceDataSource) — a distributed, column-pruned page fan-out.
    * The in-JVM emulation snapshots the registry service-side; the
    * PIPELINE never collects it. */
  def membersDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    state(sinkId).members.asScala.toSeq
      .map { case (id, (_, status, _)) => (id, status) }
      .toDF("id", "status")
  }

  /** S11: df(id, email, status, merge_json) upserted from executors in
    * ≤batchSize chunks; returns the upserted count (stats only — the
    * keep set for S12 stays a DataFrame on the caller's side).
    *
    * The count rides a LongAccumulator inside the SAME foreachPartition
    * pass that posts the batches: the upstream plan executes once per
    * call (the old trailing `count()` ran the whole member transform a
    * second time — at 100 TB, twice the pipeline per sink call — and
    * could diverge from what was actually posted for non-deterministic
    * inputs). Accumulator updates inside an action are applied exactly
    * once per successful task, so task retries don't double-count. */
  def upsertMany(df: DataFrame): Long = {
    val (sid, bs, retries) = (sinkId, batchSize, maxRetries)
    val data = df.select("id", "email", "status", "merge_json")
    val sent = data.sparkSession.sparkContext.longAccumulator("audience_upserted")
    data.repartition(sinkPartitions)
      .foreachPartition { it: Iterator[Row] =>
        it.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
          .grouped(bs)
          .foreach { batch =>
            withRetry(retries)(postBatch(sid, batch))
            sent.add(batch.size)
          }
      }
    sent.value
  }

  /** S12: delete members not in `keep` (a DataFrame of ids), excluding
    * cleaned — the doomed set is a distributed anti-join and the deletes
    * are executor-side batches. Returns the deleted count. */
  def retain(spark: SparkSession, keep: DataFrame): Long = {
    val (sid, bs, retries) = (sinkId, batchSize, maxRetries)
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
      val n = doomed.count() // D6 stats; also materializes before mutation
      doomed.repartition(sinkPartitions).foreachPartition { it: Iterator[Row] =>
        it.map(_.getString(0)).grouped(bs)
          .foreach(ids => withRetry(retries)(deleteBatch(sid, ids)))
      }
      n
    } finally doomed.unpersist()
  }

  /** S13: (id, tag, active) updates applied from executors in chunks of
    * 1000. Returns the number of tag operations, counted in the same
    * single pass that posts them (see upsertMany). */
  def updateTags(updates: DataFrame): Long = {
    val (sid, retries) = (sinkId, maxRetries)
    val data = updates.select("id", "tag", "active")
    val sent = data.sparkSession.sparkContext.longAccumulator("audience_tag_ops")
    data.repartition(sinkPartitions).foreachPartition { it: Iterator[Row] =>
      it.map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
        .grouped(1000)
        .foreach { chunk =>
          withRetry(retries)(postTagBatch(sid, chunk))
          sent.add(chunk.size)
        }
    }
    sent.value
  }
}
