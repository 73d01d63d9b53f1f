package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.sources.Tables

/** Date filter for leadership queries — `ddb/src/leadership.rs:6-15`.
  * `Current` resolves against the injected clock (Catalog.AsOf), never
  * wall time (SURVEY §7.4.2 determinism). */
sealed trait DateFilter
object DateFilter {
  case object Current extends DateFilter
  case object All extends DateFilter
  final case class AsOf(date: String) extends DateFilter
}

/** Extra Drupal-shaped fixtures for the named DDB query API (same
  * derivation discipline as DrupalFixture: every table is a pure
  * deterministic projection of one driver parquet table). */
object DdbFixture {
  /** Leadership assignments (role paragraphs): entity kind cycles
    * club / region / standing-committee / international. Reads
    * DrupalFixture's cached orders base, as the member assembly does. */
  def leadership(s: SparkSession, d: String): DataFrame = {
    val o = DrupalFixture.ordersB(s, d).filter(col("o_orderkey") % 13 === 0)
    o.select(
      col("o_custkey").as("uid"),
      (col("o_orderkey") % 4).as("kind"), // 0 club, 1 region, 2 committee, 3 intl
      when(col("o_orderkey") % 4 === 0, col("o_orderkey") % 25)
        .when(col("o_orderkey") % 4 === 1, col("o_orderkey") % 5)
        .when(col("o_orderkey") % 4 === 2, col("o_orderkey") % 6 + 900)
        .otherwise(9999).cast("long").as("entity_uid"),
      (col("o_orderkey") % 8).cast("long").as("role_uid"),
      to_date(col("o_orderdate")).as("start_date"),
      when(col("o_orderkey") % 3 === 0, lit(null).cast("date"))
        .otherwise(date_add(to_date(col("o_orderdate")), 730)).as("end_date"))
  }

  /** Role taxonomy decode (F7). */
  def roleTitles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq(0L -> "President", 1L -> "Vice President", 2L -> "Secretary",
      3L -> "Treasurer", 4L -> "Trustee", 5L -> "Membership Chair",
      6L -> "Newsletter Editor", 7L -> "Webmaster")
      .toDF("role_uid", "role_title")
  }
}

/** Named query API mirroring `ddb/src/users.rs:99-126`. */
object Users {
  def all(s: SparkSession, d: String): DataFrame =
    DrupalFixture.users(s, d)
      .join(DrupalFixture.profile(s, d), col("uid") === col("user_id"))
      .select(col("uid"), col("email"), col("first_name"), col("last_name"),
        (col("status") === 1).as("active"),
        to_date(from_unixtime(col("login"))).as("last_login"))
  def byUid(s: SparkSession, d: String, uid: Long): DataFrame =
    all(s, d).filter(col("uid") === uid)
  def byEmail(s: SparkSession, d: String, email: String): DataFrame =
    all(s, d).filter(col("email") === email)
}

/** Mirrors `ddb/src/clubs.rs:5-33`. */
object Clubs {
  def all(s: SparkSession, d: String): DataFrame =
    DrupalFixture.clubNodes(s, d)
      .join(DrupalFixture.clubNumber(s, d), col("nid") === col("entity_id"))
      .select(col("nid").as("uid"), col("title").as("name"),
        col("club_number").as("number"), col("regionkey").as("region_uid"))
  def byUid(s: SparkSession, d: String, uid: Long): DataFrame =
    all(s, d).filter(col("uid") === uid)
  def byNumber(s: SparkSession, d: String, number: Long): DataFrame =
    all(s, d).filter(col("number") === number)
}

/** Mirrors `ddb/src/regions.rs:5-33`. */
object Regions {
  def all(s: SparkSession, d: String): DataFrame =
    DrupalFixture.regionB(s, d)
      .join(DrupalFixture.regionNumber(s, d),
        col("r_regionkey").cast("long") === col("entity_id"))
      .select(col("r_regionkey").cast("long").as("uid"),
        col("r_name").as("name"), col("region_number").as("number"))
  def byUid(s: SparkSession, d: String, uid: Long): DataFrame =
    all(s, d).filter(col("uid") === uid)
  def byNumber(s: SparkSession, d: String, number: Long): DataFrame =
    all(s, d).filter(col("number") === number)
}

/** Leadership queries with date filtering — `ddb/src/leadership.rs:158-212`.
  * Every variant is the same plan: kind filter → date filter (T1/T2) →
  * role decode (broadcast) → user probe. */
object Leadership {
  private def base(s: SparkSession, d: String, kind: Int,
      entity: Option[Long], filter: DateFilter): DataFrame = {
    val lead = DdbFixture.leadership(s, d).filter(col("kind") === kind)
    val scoped = entity.map(e => lead.filter(col("entity_uid") === e)).getOrElse(lead)
    val dated = filter match {
      case DateFilter.All => scoped
      case DateFilter.Current =>
        scoped.filter(F.validAsOf(col("start_date"), col("end_date"),
          lit(Catalog.AsOf).cast("date")))
      case DateFilter.AsOf(dt) =>
        scoped.filter(F.validAsOf(col("start_date"), col("end_date"),
          lit(dt).cast("date")))
    }
    dated
      .join(broadcast(DdbFixture.roleTitles(s, d)), Seq("role_uid"))
      .join(Users.all(s, d), Seq("uid"))
      .select(col("entity_uid"), col("role_uid"), col("role_title"),
        col("start_date"), col("end_date"), col("uid"), col("email"),
        col("first_name"), col("last_name"))
  }

  def forClub(s: SparkSession, d: String, uid: Long, f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 0, Some(uid), f)
  def forAllClubs(s: SparkSession, d: String, f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 0, None, f)
  def forRegion(s: SparkSession, d: String, uid: Long, f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 1, Some(uid), f)
  def forAllRegions(s: SparkSession, d: String, f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 1, None, f)
  def forClubByNumber(s: SparkSession, d: String, number: Long,
      f: DateFilter = DateFilter.Current): DataFrame =
    forAllClubs(s, d, f).join(broadcast(Clubs.byNumber(s, d, number)
      .select(col("uid").as("entity_uid"))), Seq("entity_uid"), "left_semi")
  def forRegionByNumber(s: SparkSession, d: String, number: Long,
      f: DateFilter = DateFilter.Current): DataFrame =
    forAllRegions(s, d, f).join(broadcast(Regions.byNumber(s, d, number)
      .select(col("uid").as("entity_uid"))), Seq("entity_uid"), "left_semi")
  def forInternational(s: SparkSession, d: String, f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 3, None, f)
  def forStandingCommittee(s: SparkSession, d: String, uid: Long,
      f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 2, Some(uid), f)
  def forAllStandingCommittees(s: SparkSession, d: String,
      f: DateFilter = DateFilter.Current): DataFrame =
    base(s, d, 2, None, f)
}

/** Mirrors `ddb/src/standing_committees.rs:5-19`. */
object StandingCommittees {
  def all(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).filter(col("s_suppkey") % 15 === 0)
      .select((col("s_suppkey") % 6 + 900).cast("long").as("uid"),
        col("s_name").as("name")).distinct()
  def byUid(s: SparkSession, d: String, uid: Long): DataFrame =
    all(s, d).filter(col("uid") === uid)
}

/** Mirrors `ddb/src/races.rs:14` (taxonomy listing). */
object Races {
  def all(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_mktsegment").as("name")).distinct()
      .select((lit(600) + dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("name")))).cast("long")
        .as("uid"), col("name"))
}

/** Mirrors `ddb/src/roles.rs:26-60`. */
object Roles {
  /** All user-role assignments. */
  def all(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 21 === 0)
      .select(col("o_custkey").as("uid"),
        when(col("o_orderkey") % 2 === 0, "editor").otherwise("administrator")
          .as("role")).distinct()
  /** Microsite admins: role holders joined to their club + user row. */
  def micrositeAdmins(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 35 === 0)
      .select(col("o_custkey").as("uid"),
        (col("o_orderkey") % 25).cast("long").as("club_uid")).distinct()
      .join(Users.all(s, d), Seq("uid"))
      .select(col("uid"), col("club_uid"), col("email"),
        col("first_name"), col("last_name"))
}

/** Mirrors `ddb/src/airstreams.rs:81-97`. */
object Airstreams {
  def all(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 9 === 0)
      .select(col("o_custkey").as("user_id"),
        concat(lit("AS-"), col("o_orderkey")).as("name"),
        (lit(1990) + col("o_orderkey") % 20).cast("long").as("year"))
  def byUserId(s: SparkSession, d: String, userId: Long): DataFrame =
    all(s, d).filter(col("user_id") === userId)
}

/** Mirrors `ddb/src/addresses.rs:75-93` (+ Members.mailing_address,
  * `ddb/src/members.rs:528-560`). */
object Addresses {
  def all(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.nationB(s, d),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_uid"),
        // fixture has no address/phone columns — derive deterministically
        concat(lit("Street "), (col("c_custkey") % 100).cast("string")).as("address"),
        concat(lit("+1-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")).as("phone"),
        col("n_name").as("country"))
  def byUserId(s: SparkSession, d: String, userUid: Long): DataFrame =
    all(s, d).filter(col("user_uid") === userUid)
}

/** Oracle-checked entries for the named API (the rest of the named fns
  * delegate to operators already under oracle coverage; DdbApiSpec
  * drives every signature). */
object DdbCatalog {
  private val UsersCte =
    "u AS (SELECT c_custkey AS uid, " +
      "replace(lower(c_name), '#', '.') || CASE WHEN c_custkey % 10 = 0 " +
      "THEN '@example.com' ELSE '@acme.org' END AS email, " +
      "substr(c_name, 1, 8) AS first_name, substr(c_name, 10, 18) AS last_name " +
      "FROM customer)"

  // LDR1: club leadership as-of — kind filter → T2 date filter → F7 role
  // decode (broadcast) → user probe, the whole Leadership.forX surface.
  val ldr1 = Q(
    (s, d) => Catalog.ordered(
      Leadership.forAllClubs(s, d, DateFilter.AsOf(Catalog.AsOf))),
    Some("WITH lead AS (SELECT o_custkey AS uid, " +
      "CAST(o_orderkey % 25 AS BIGINT) AS entity_uid, " +
      "CAST(o_orderkey % 8 AS BIGINT) AS role_uid, " +
      "CAST(o_orderdate AS DATE) AS start_date, " +
      "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) + 730 END AS end_date " +
      "FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 4 = 0), " +
      "r AS (SELECT CAST(role_uid AS BIGINT) AS role_uid, role_title FROM (VALUES " +
      "(0, 'President'), (1, 'Vice President'), (2, 'Secretary'), (3, 'Treasurer'), " +
      "(4, 'Trustee'), (5, 'Membership Chair'), (6, 'Newsletter Editor'), " +
      "(7, 'Webmaster')) t(role_uid, role_title)), " + UsersCte + " " +
      "SELECT entity_uid, role_uid, role_title, start_date, end_date, uid, email, " +
      "first_name, last_name FROM lead JOIN r USING (role_uid) JOIN u USING (uid) " +
      "WHERE start_date <= DATE '" + Catalog.AsOf + "' " +
      "AND (end_date IS NULL OR end_date >= DATE '" + Catalog.AsOf + "') " +
      "ORDER BY ALL NULLS FIRST"))

  val entries: Seq[(String, Q)] = Seq("ldr1_leadership_asof" -> ldr1)
}
