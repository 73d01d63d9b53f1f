package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Dedup
import graft.sink.AudienceSink

/** Audience sync pipeline — the Spark shape of `sync-mail run` per job
  * (reference `sync-mail/src/mailchimp.rs:238-290`, SURVEY §3.3):
  *
  *   scope members → validate emails (P10) → priority dedup (A6) →
  *   partner expansion (A9) → merge-field render (F8) + member id (F2) →
  *   S11 batch upsert → S12 retain (cleaned spared) → S13 tag updates.
  *
  * Members here derive from the customer fixture (synthetic emails);
  * swapping the extract for the DDB member query and the sink transport
  * for HTTP yields the reference pipeline unchanged.
  */
object MailSyncPipeline {

  final case class JobStats(upserted: Long, deleted: Long, tagOps: Long)

  /** Member rows with validated, deduped, rendered audience fields. */
  def audienceRows(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val base = Tables.customer(spark, dir).select(
      col("c_custkey").as("cust_id"),
      F.synthEmail(col("c_name"), col("c_custkey")).as("email"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").as("balance"))
    // P10 email validity, then A6: one row per email, BUILDING priority
    val valid = base.filter(F.isValidEmail(col("email")))
    val deduped = Dedup.priorityMerge(valid, Seq(col("email")),
      when(col("segment") === "BUILDING", 0).otherwise(1), Seq(col("cust_id")))
    // A9 partner expansion: every 4th member carries a partner account
    val expanded = deduped.select(col("*"),
        explode(when(col("cust_id") % 4 === 0,
          array(lit("primary"), lit("partner"))).otherwise(array(lit("primary"))))
          .as("role"))
      .withColumn("email",
        when(col("role") === "partner", concat(lit("partner+"), col("email")))
          .otherwise(col("email")))
    // F2 id + F8 typed merge-field rendering driven by the declared
    // catalog (MergeFieldCatalog.all): values dispatch on (Spark type ×
    // declared MergeType), nulls skipped in the JSON (F9).
    val withFields = expanded
      .withColumn("bal", col("balance").cast("decimal(12,2)"))
      .withColumn("joined",
        date_add(lit("1995-01-01").cast("date"), (col("cust_id") % 1000).cast("int")))
    withFields.select(
      F.memberIdForEmail(col("email")).as("id"),
      lower(col("email")).as("email"),
      lit("subscribed").as("status"),
      graft.functions.MergeFieldRender.mergeJson(withFields,
        graft.sources.MergeFieldCatalog.all, Map(
          "NAME" -> col("name"), "BAL" -> col("bal"), "JOINED" -> col("joined"),
          "ROLE" -> col("role"), "SEGMENT" -> col("segment"))).as("merge_json"),
      col("segment"), col("balance"))
  }

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

  /** F10 tag derivation per audience row. */
  def tagUpdates(rows: DataFrame): DataFrame =
    rows.select(col("id"), explode(array(
        struct(lit("building").as("tag"), (col("segment") === "BUILDING").as("active")),
        struct(lit("debtor").as("tag"), (col("balance") < 0.0).as("active")))).as("t"))
      .select(col("id"), col("t.tag").as("tag"), col("t.active").as("active"))

  def run(spark: SparkSession, dir: String, sink: AudienceSink): JobStats = {
    val rows = audienceRows(spark, dir).cache()
    val upserted = sink.upsertMany(rows)              // S11 (returns count)
    val deleted = sink.retain(spark, rows.select("id")) // S12: keep set stays a DataFrame
    val tagOps = sink.updateTags(tagUpdates(rows))    // S13
    rows.unpersist()
    // driver contract (CacheScope): release operator-internal persists
    // registered by any stage feeding audienceRows
    graft.CacheScope.releaseAll()
    JobStats(upserted, deleted, tagOps)
  }
}
