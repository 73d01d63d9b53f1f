package graft.pipeline

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * `Job::sync_many` (`sync-mail/src/mailchimp.rs:200-236`): up to 20
  * jobs in flight, a failing job is recorded (and logged) but never
  * aborts the rest, and results come back keyed by job id. Spark
  * supports concurrent actions from multiple driver threads, so each
  * job's sink pushes run as an independent Future over the shared
  * session.
  *
  * One call reads one snapshot at one `asOf`, so its jobs share one
  * audience frame ([[MailSyncPipeline.audienceRows]], every job's rows
  * tagged by job id): [[syncMany]] persists it, materializes it once
  * before the pool starts, and unpersists it after the pool drains; each
  * job reads only its own slice. The frame's lifetime is the call's, not
  * [[graft.CacheScope]]'s. Failure isolation holds per job for its sink
  * pushes; a failed shared build (say, a missing snapshot dir) fails
  * every job of the call, each `JobResult` carrying the error, and
  * touches no sink. */
object MultiJobSync {

  final case class JobResult(jobId: Long, name: String,
      stats: Option[MailSyncPipeline.JobStats], error: Option[String]) {
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

  /** Push one job's slice of the shared audience frame through its
    * list's sink: S11 upsert, S12 retain, S13 tag updates. */
  private def pushJob(spark: SparkSession, audience: DataFrame,
      job: SyncJob): MailSyncPipeline.JobStats = {
    val sink = new AudienceSink(sinkId = s"job-${job.list}")
    val rows = MailSyncPipeline.jobRows(audience, job)
    val upserted = sink.upsertMany(rows)
    val deleted = sink.retain(spark, rows.select("id"))
    val tagOps = sink.updateTags(MailSyncPipeline.memberTagUpdates(rows))
    MailSyncPipeline.JobStats(upserted, deleted, tagOps)
  }

  /** Run one job end-to-end against its list's sink: the [[syncMany]]
    * path with one job, throwing its error. */
  def runJob(spark: SparkSession, dir: String, job: SyncJob): MailSyncPipeline.JobStats = {
    val audience = sharedAudience(spark, dir, Seq(job)).get
    try pushJob(spark, audience, job) finally audience.unpersist()
  }

  def syncMany(spark: SparkSession, dir: String, jobsIn: Seq[SyncJob],
      concurrency: Int = 20): Map[Long, JobResult] = {
    require(concurrency >= 1, s"syncMany concurrency must be >= 1, got $concurrency")
    if (jobsIn.isEmpty) return Map.empty
    def result(job: SyncJob, outcome: Try[MailSyncPipeline.JobStats]): (Long, JobResult) =
      outcome match {
        case Success(stats) =>
          job.id -> JobResult(job.id, job.name, Some(stats), None)
        case Failure(e) =>
          System.err.println(s"[sync] job ${job.id} '${job.name}' failed: ${e.getMessage}")
          job.id -> JobResult(job.id, job.name, None,
            Some(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    sharedAudience(spark, dir, jobsIn) match {
      case Failure(e) => jobsIn.map(result(_, Failure(e))).toMap
      case Success(audience) =>
        val pool = Executors.newFixedThreadPool(math.min(concurrency, jobsIn.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val futures = jobsIn.map(job => Future(result(job, Try(pushJob(spark, audience, job)))))
          Await.result(Future.sequence(futures), Duration.Inf).toMap
        } finally {
          pool.shutdown()
          audience.unpersist()
        }
    }
  }

  /** The full `sync-mail run` surface: jobs table → sync_many →
    * per-job stats JSON lines. */
  def run(spark: SparkSession, dir: String, jobsDf: DataFrame,
      concurrency: Int = 20): Map[Long, JobResult] = {
    val results = syncMany(spark, dir, JobStore.fromDf(jobsDf), concurrency)
    results.toSeq.sortBy(_._1).foreach { case (_, r) => println(r.statsJson) }
    // syncMany has already unpersisted its shared audience frame; the
    // per-query CacheScope release runs here, after the pool has drained
    // (CacheScope's concurrency contract)
    graft.CacheScope.releaseAll()
    results
  }
}
