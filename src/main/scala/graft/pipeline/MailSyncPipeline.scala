package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Dedup

/** Audience rows for the jobs of one `sync-mail run` (reference
  * `sync-mail/src/mailchimp.rs:238-290`, SURVEY §3.3):
  *
  *   scoped members (`Job::db_members`) → primary + partner rows (A9) →
  *   validate emails (P10) → dedup (A6) → member id (F2), then per job
  *   the merge-field render (F8), plus the member tag updates (F10).
  *
  * Every job's rows come from ONE member assembly keyed by job: the
  * members carry the job's id as `scope` (one [[Members.Scope]] per job)
  * and every step up to F8 is keyed by that scope. [[MultiJobSync]]
  * persists the shared frame once per call and pushes each job's
  * `scope` slice through its sink: S11 batch upsert → S12 retain
  * (cleaned spared) → S13 tag updates.
  */
object MailSyncPipeline {
  import graft.queries.Members

  final case class JobStats(upserted: Long, deleted: Long, tagOps: Long)

  /** Audience rows of every job in `jobs`, tagged with the job's id in
    * `scope`: each job's members are exactly the reference's
    * `Job::db_members` (by_club / by_region / all,
    * `sync-mail/src/mailchimp.rs:170-180`), and partner records expand
    * to their own audience row sharing the membership merge fields
    * (`ddb/src/members.rs:887-895`, SURVEY §7.4.7). Job ids must be
    * distinct. */
  def audienceRows(spark: SparkSession, dir: String, jobs: Seq[SyncJob]): DataFrame =
    memberAudienceRows(Members.scoped(spark, dir,
      jobs.map(j => Members.Scope(j.id, j.club, j.region))))

  /** One job's audience rows: its `scope` slice of [[audienceRows]], with
    * the merge JSON rendered from the job's declared catalog (club jobs
    * use the club subset — `Job::merge_fields`, mailchimp.rs:182-189). */
  def jobRows(audience: DataFrame, job: SyncJob): DataFrame = {
    val catalog = if (job.club.isDefined) graft.sources.MergeFieldCatalog.club
                  else graft.sources.MergeFieldCatalog.all
    val rows = audience.filter(col("scope") === job.id)
    rows.select(col("id"), col("email"), col("status"),
      graft.functions.MergeFieldRender.mergeJson(rows, catalog, Map(
        "NAME" -> col("name"), "JOINED" -> col("joined"), "BDAY" -> col("bday"),
        "ROLE" -> col("role"), "SEGMENT" -> col("segment"))).as("merge_json"),
      col("role"))
  }

  /** Audience rows of one job on its own: [[jobRows]] over a one-job
    * [[audienceRows]]. */
  def audienceRowsFor(spark: SparkSession, dir: String, job: SyncJob): DataFrame =
    jobRows(audienceRows(spark, dir, Seq(job)), job)

  /** Scope-tagged member rows → scope-tagged audience rows in one member
    * scan: each member row expands in place into its primary and
    * partner audience rows, then email validity (P10, which also drops
    * an absent partner's NULL email) and dedup on (scope, normalized
    * email). Keeps the merge-field values for [[jobRows]]' render and
    * `role` for tag derivation. */
  def memberAudienceRows(members: DataFrame): DataFrame = {
    def person(email: String, first: String, last: String, bday: String, role: Column) =
      struct(col(email).as("email"), concat_ws(" ", col(first), col(last)).as("name"),
        col(bday).as("bday"), role.as("role"))
    val valid = members.select(col("scope"), col("join_date").as("joined"),
        col("member_class").as("segment"),
        inline(array(
          person("email", "first_name", "last_name", "birthday",
            coalesce(col("member_type"), lit("member"))),
          person("partner_email", "partner_first_name", "partner_last_name",
            "partner_birthday", lit("partner")))))
      .filter(F.isValidEmail(col("email")))
    Dedup.keepOneByKey(valid, Seq(col("scope"), lower(col("email"))),
        Seq(col("role"), col("name")))
      .select(col("scope"),
        F.memberIdForEmail(col("email")).as("id"),
        lower(col("email")).as("email"),
        lit("subscribed").as("status"),
        col("name"), col("joined"), col("bday"), col("role"), col("segment"))
  }

  /** Tag updates for member-based audience rows (F10): membership-kind
    * tags mirror the reference's member/partner tagging (both partner
    * rows get the same updates, ddb/src/members.rs:811-831). */
  def memberTagUpdates(rows: DataFrame): DataFrame =
    rows.select(col("id"), explode(array(
        struct(lit("partner").as("tag"), (col("role") === "partner").as("active")),
        struct(lit("affiliate").as("tag"), (col("role") === "affiliate").as("active")),
        struct(lit("member").as("tag"), (col("role") === "regular").as("active"))))
        .as("t"))
      .select(col("id"), col("t.tag").as("tag"), col("t.active").as("active"))
}
