package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Dedup

/** Audience rows for the jobs of one `sync-mail run` (reference
  * `sync-mail/src/mailchimp.rs:238-290`, SURVEY §3.3):
  *
  *   scoped members (`Job::db_members`) → primary + partner rows (A9) →
  *   validate emails (P10) → dedup (A6) → member id (F2), then each
  *   row's merge-field render from its job's catalog (F8) and its member
  *   tag updates (F10).
  *
  * Every job's rows come from ONE member assembly keyed by job: the
  * members carry the job's id as `scope` (one [[Members.Scope]] per job)
  * and every step is keyed by that scope. [[MultiJobSync]] persists the
  * shared frame once per call and pushes every job's rows in one pass:
  * S11 batch upsert with S13 tag updates, then one S12 retain (cleaned
  * spared) for every job whose pass succeeded.
  */
object MailSyncPipeline {
  import graft.queries.Members

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

  /** The rows [[MultiJobSync]] pushes for `jobs`: their `scope` rows of
    * [[audienceRows]], each with the merge JSON rendered from its job's
    * declared catalog (club jobs use the club subset — `Job::merge_fields`,
    * mailchimp.rs:182-189) and its member tag updates in `tags` (F10). */
  def jobRows(audience: DataFrame, jobs: Seq[SyncJob]): DataFrame = {
    def render(catalog: Seq[graft.sources.MergeField]): Column =
      graft.functions.MergeFieldRender.mergeJson(audience, catalog, Map(
        "NAME" -> col("name"), "JOINED" -> col("joined"), "BDAY" -> col("bday"),
        "ROLE" -> col("role"), "SEGMENT" -> col("segment")))
    val clubJobs = jobs.filter(_.club.isDefined).map(_.id)
    audience.filter(col("scope").isin(jobs.map(_.id): _*))
      .select(col("scope"), col("id"), col("email"), col("status"),
        when(col("scope").isin(clubJobs: _*), render(graft.sources.MergeFieldCatalog.club))
          .otherwise(render(graft.sources.MergeFieldCatalog.all)).as("merge_json"),
        col("role"), memberTags.as("tags"))
  }

  /** Audience rows of one job on its own: [[jobRows]] over a one-job
    * [[audienceRows]]. */
  def audienceRowsFor(spark: SparkSession, dir: String, job: SyncJob): DataFrame =
    jobRows(audienceRows(spark, dir, Seq(job)), Seq(job))

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

  /** F10: a row's membership-kind tag updates, mirroring the
    * reference's member/partner tagging (both partner rows get the same
    * updates, ddb/src/members.rs:811-831). */
  private def memberTags: Column =
    array(Seq("partner" -> "partner", "affiliate" -> "affiliate", "member" -> "regular").map {
      case (tag, role) => struct(lit(tag).as("tag"), (col("role") === role).as("active"))
    }: _*)
}
