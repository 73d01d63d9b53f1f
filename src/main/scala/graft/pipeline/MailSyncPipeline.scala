package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Dedup

/** Audience rows for one `sync-mail run` job (reference
  * `sync-mail/src/mailchimp.rs:238-290`, SURVEY §3.3):
  *
  *   scoped members (`Job::db_members`) → primary + partner rows (A9) →
  *   validate emails (P10) → dedup (A6) → merge-field render (F8) +
  *   member id (F2), plus the member tag updates (F10).
  *
  * [[MultiJobSync.runJob]] pushes these rows through the sink: S11
  * batch upsert → S12 retain (cleaned spared) → S13 tag updates.
  */
object MailSyncPipeline {

  final case class JobStats(upserted: Long, deleted: Long, tagOps: Long)

  /** Audience rows for a scoped JOB: members come from the composed
    * Members queries (by_club / by_region / all — exactly the reference's
    * `Job::db_members`, `sync-mail/src/mailchimp.rs:170-180`), partner
    * records expand to their own audience row sharing the membership
    * merge fields (`ddb/src/members.rs:887-895`, SURVEY §7.4.7), and the
    * merge JSON renders from the job's declared catalog (club jobs use
    * the club subset — `Job::merge_fields`, mailchimp.rs:182-189). */
  def audienceRowsFor(spark: SparkSession, dir: String, job: SyncJob): DataFrame = {
    val members = job.club.map(c => graft.queries.Members.byClub(spark, dir, c))
      .orElse(job.region.map(r => graft.queries.Members.byRegion(spark, dir, r)))
      .getOrElse(graft.queries.Members.all(spark, dir))
    val catalog = if (job.club.isDefined) graft.sources.MergeFieldCatalog.club
                  else graft.sources.MergeFieldCatalog.all
    memberAudienceRows(members, catalog)
  }

  /** Member rows → audience rows in one member scan: each member row
    * expands in place into its primary and partner audience rows, then
    * email validity (P10, which also drops an absent partner's NULL
    * email), dedup on normalized email, catalog-driven F8 render. Keeps
    * `role` for tag derivation. */
  def memberAudienceRows(members: DataFrame,
      catalog: Seq[graft.sources.MergeField]): DataFrame = {
    def person(email: String, first: String, last: String, bday: String, role: Column) =
      struct(col(email).as("email"), concat_ws(" ", col(first), col(last)).as("name"),
        col(bday).as("bday"), role.as("role"))
    val valid = members.select(col("join_date").as("joined"), col("member_class").as("segment"),
        inline(array(
          person("email", "first_name", "last_name", "birthday",
            coalesce(col("member_type"), lit("member"))),
          person("partner_email", "partner_first_name", "partner_last_name",
            "partner_birthday", lit("partner")))))
      .filter(F.isValidEmail(col("email")))
    val deduped = Dedup.keepOneByKey(valid, Seq(lower(col("email"))),
      Seq(col("role"), col("name")))
    deduped.select(
      F.memberIdForEmail(col("email")).as("id"),
      lower(col("email")).as("email"),
      lit("subscribed").as("status"),
      graft.functions.MergeFieldRender.mergeJson(deduped, catalog, Map(
        "NAME" -> col("name"), "JOINED" -> col("joined"), "BDAY" -> col("bday"),
        "ROLE" -> col("role"), "SEGMENT" -> col("segment"))).as("merge_json"),
      col("role"))
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
