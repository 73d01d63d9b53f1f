package graft.pipeline

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.AudienceSink

/** One configured sync job — the reference's `mailchimp` jobs-table row
  * (`sync-mail/src/mailchimp.rs:34-58`): scope is club XOR region XOR
  * all, `list` is the target audience. (api_key is transport config —
  * out of the data path here.) */
final case class SyncJob(id: Long, name: String, list: String,
    club: Option[Long] = None, region: Option[Long] = None)

/** S3: the job-config source — CRUD over the jobs table plus DataFrame
  * round-trip, mirroring `Job::{all,get,create,update,delete}`
  * (`sync-mail/src/mailchimp.rs:101-162`). The store is an in-JVM table
  * standing in for the reference's Postgres `mailchimp` table; the
  * DataFrame view/parse is the Spark-side contract so jobs can live in
  * any table Spark reads. */
object JobStore {
  private val jobs = TrieMap.empty[Long, SyncJob]
  private val nextId = new AtomicLong(1)

  def create(job: SyncJob): SyncJob = {
    val assigned = job.copy(id = nextId.getAndIncrement())
    jobs.put(assigned.id, assigned)
    assigned
  }
  def get(id: Long): Option[SyncJob] = jobs.get(id)
  def all(): Seq[SyncJob] = jobs.values.toSeq.sortBy(_.id)
  /** Dynamic UPDATE composition (F12's data side): only supplied fields
    * change, mirroring JobUpdate::setters. */
  def update(id: Long, name: Option[String] = None, list: Option[String] = None,
      club: Option[Option[Long]] = None, region: Option[Option[Long]] = None): Option[SyncJob] =
    jobs.get(id).map { cur =>
      val next = cur.copy(
        name = name.getOrElse(cur.name), list = list.getOrElse(cur.list),
        club = club.getOrElse(cur.club), region = region.getOrElse(cur.region))
      jobs.put(id, next); next
    }
  def delete(id: Long): Boolean = jobs.remove(id).isDefined
  def clear(): Unit = jobs.clear()

  def toDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all().map(j => (j.id, j.name, j.list, j.club, j.region))
      .toDF("id", "name", "list", "club", "region")
  }

  /** Parse a jobs DataFrame (id, name, list, club, region). */
  def fromDf(df: DataFrame): Seq[SyncJob] =
    df.select("id", "name", "list", "club", "region").collect().toSeq.map { r =>
      SyncJob(r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }.sortBy(_.id)
}

/** D4: the multi-job sync loop with per-job failure isolation —
  * `Job::sync_many` (`sync-mail/src/mailchimp.rs:200-236`): a failing
  * job is recorded (and logged) but never aborts the rest, and results
  * come back keyed by job id.
  *
  * One call reads one snapshot at one `asOf`, so its jobs share one
  * audience frame ([[MailSyncPipeline.audienceRows]], every job's rows
  * tagged by job id in `scope`). [[syncMany]] persists it, materializes
  * it once, and unpersists it when the call ends; the frame's lifetime
  * is the call's, not [[graft.CacheScope]]'s. The sink side is two
  * keyed executor passes for every job at once, each row routed to its
  * job's sink (`job-${list}`):
  *
  *  1. [[AudienceSink.upsertAndTag]] over [[MailSyncPipeline.jobRows]]:
  *     S11 upserts, each batch followed by its S13 tag updates;
  *  2. [[AudienceSink.retainAll]] for every job whose pass succeeded:
  *     one registry snapshot keyed by scope, left-anti joined with the
  *     audience's (scope, id), deleted in one pass (S12).
  *
  * The reference runs upsert → retain → tags per job; tagging before the
  * retain ends in the same audience, because the retain deletes only ids
  * that are not kept and the tags touch only kept ids.
  *
  * Both passes run in at most min(`concurrency`, 8 × jobs) tasks: one
  * job keeps the reference's ceiling of eight pushes in flight to its
  * list ([[AudienceSink.ListConcurrency]]); with several jobs the bound
  * is on the whole pass, not on each list.
  *
  * A job whose sink call fails for good carries that error and gets no
  * retain; the other jobs are unaffected. A failure of the retain
  * itself (its snapshot, join or a task) fails the jobs it covered and
  * leaves the others' upsert-pass errors as they were. A failure of the
  * upsert pass itself, outside a sink call (a task or stage failure),
  * fails every job of the call, as does a failed shared build (say, a
  * missing snapshot dir), each `JobResult` carrying the error; a failed
  * build touches no sink. */
object MultiJobSync {

  final case class JobResult(jobId: Long, name: String,
      stats: Option[AudienceSink.Stats], error: Option[String]) {
    /** D6 per-job stats line (serde-style: absent fields skipped). Names
      * and error messages are JSON-escaped — an exception text with a
      * quote or backslash must not emit a malformed stats line. */
    def statsJson: String = {
      val base = s"""{"job":$jobId,"name":${JobResult.esc(name)}"""
      stats.map(st => base +
          s""","upserted":${st.upserted},"deleted":${st.deleted},"tagOps":${st.tagOps}}""")
        .getOrElse(base + s""","error":${JobResult.esc(error.getOrElse("unknown"))}}""")
    }
  }

  object JobResult {
    /** Minimal JSON string encoder (quote, backslash, control chars). */
    private[pipeline] def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  /** The jobs' shared audience frame, persisted and materialized; on a
    * failed build nothing stays cached. */
  private def sharedAudience(spark: SparkSession, dir: String,
      jobs: Seq[SyncJob]): Try[DataFrame] = Try {
    val audience = MailSyncPipeline.audienceRows(spark, dir, jobs).persist()
    try { audience.count(); audience }
    catch { case e: Throwable => audience.unpersist(); throw e }
  }

  /** Both sink passes over the shared audience: per job, its stats or
    * its error. */
  private def push(spark: SparkSession, audience: DataFrame, jobs: Seq[SyncJob],
      tasks: Int): Map[Long, Either[String, AudienceSink.Stats]] = {
    val sinks = jobs.map(j => j.id -> s"job-${j.list}").toMap
    val pass = AudienceSink.upsertAndTag(MailSyncPipeline.jobRows(audience, jobs), sinks, tasks)
    val retained = sinks -- pass.errors.keys
    val retain =
      if (retained.isEmpty) AudienceSink.Pushed(Map.empty, Map.empty)
      else Try(AudienceSink.retainAll(spark, retained, audience.select("scope", "id"), tasks))
        .fold(e => AudienceSink.Pushed(Map.empty, retained.map(_._1 -> message(e))), identity)
    val errors = pass.errors ++ retain.errors
    jobs.map { j =>
      j.id -> errors.get(j.id).toLeft(
        Seq(pass, retain).flatMap(_.stats.get(j.id)).foldLeft(AudienceSink.Stats())(_ + _))
    }.toMap
  }

  /** [[syncMany]] with one job, throwing its error. */
  def runJob(spark: SparkSession, dir: String, job: SyncJob): AudienceSink.Stats = {
    val r = syncMany(spark, dir, Seq(job))(job.id)
    r.stats.getOrElse(throw new RuntimeException(r.error.getOrElse("unknown")))
  }

  private def message(e: Throwable) = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  /** Sync every job in `jobsIn`; `concurrency` caps the sink passes'
    * task count, so at most that many pushes are in flight across all
    * the jobs' lists; the pass takes at most eight tasks per job. */
  def syncMany(spark: SparkSession, dir: String, jobsIn: Seq[SyncJob],
      concurrency: Int = 20): Map[Long, JobResult] = {
    require(concurrency >= 1, s"syncMany concurrency must be >= 1, got $concurrency")
    if (jobsIn.isEmpty) return Map.empty
    val tasks = math.min(concurrency, AudienceSink.ListConcurrency * jobsIn.size)
    val outcomes = sharedAudience(spark, dir, jobsIn).flatMap { audience =>
      try Try(push(spark, audience, jobsIn, tasks)) finally audience.unpersist()
    }.fold(e => jobsIn.map(_.id -> Left(message(e))).toMap, identity)
    jobsIn.map { job =>
      job.id -> (outcomes(job.id) match {
        case Right(stats) => JobResult(job.id, job.name, Some(stats), None)
        case Left(error) =>
          System.err.println(s"[sync] job ${job.id} '${job.name}' failed: $error")
          JobResult(job.id, job.name, None, Some(error))
      })
    }.toMap
  }

  /** The full `sync-mail run` surface: jobs table → sync_many →
    * per-job stats JSON lines. */
  def run(spark: SparkSession, dir: String, jobsDf: DataFrame,
      concurrency: Int = 20): Map[Long, JobResult] = {
    val results = syncMany(spark, dir, JobStore.fromDf(jobsDf), concurrency)
    results.toSeq.sortBy(_._1).foreach { case (_, r) => println(r.statsJson) }
    // syncMany has already unpersisted its shared audience frame; the
    // per-query CacheScope release runs here, after it returns
    // (CacheScope's concurrency contract)
    graft.CacheScope.releaseAll()
    results
  }
}
