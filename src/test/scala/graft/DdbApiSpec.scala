package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** The named reference-mirroring query API (SURVEY §7.1.4): every public
  * fn of ddb/src/{users,clubs,regions,leadership,roles,airstreams,
  * addresses,races,standing_committees,members}.rs has a Spark twin with
  * a matching signature; this suite calls each one on sf0.001. */
class DdbApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("Users.{all, byUid, byEmail}") {
    val all = Users.all(spark, d)
    assert(all.count() > 0)
    assert(all.columns.toSeq == Seq("uid", "email", "first_name", "last_name",
      "active", "last_login"))
    assert(Users.byUid(spark, d, 1L).count() == 1)
    val email = all.orderBy("uid").select("email").first().getString(0)
    assert(Users.byEmail(spark, d, email).count() == 1)
  }

  test("Clubs / Regions: all, byUid, byNumber") {
    assert(Clubs.all(spark, d).count() == 25)
    assert(Clubs.byUid(spark, d, 7L).count() == 1)
    assert(Clubs.byNumber(spark, d, 107L).select("uid").first().getLong(0) == 7L)
    assert(Regions.all(spark, d).count() == 5)
    assert(Regions.byUid(spark, d, 2L).count() == 1)
    assert(Regions.byNumber(spark, d, 12L).select("uid").first().getLong(0) == 2L)
  }

  test("Leadership.forX across scopes and DateFilters") {
    val allClubs = Leadership.forAllClubs(spark, d, DateFilter.All)
    val current = Leadership.forAllClubs(spark, d) // Current default
    val asOf = Leadership.forAllClubs(spark, d, DateFilter.AsOf("1996-01-01"))
    assert(allClubs.count() > 0)
    assert(current.count() <= allClubs.count())
    assert(asOf.count() <= allClubs.count())
    // scoped variants are subsets of the all-scope plan
    val club = allClubs.select("entity_uid").first().getLong(0)
    assert(Leadership.forClub(spark, d, club, DateFilter.All).count() > 0)
    assert(Leadership.forRegion(spark, d, 0L, DateFilter.All).count() ==
      Leadership.forAllRegions(spark, d, DateFilter.All)
        .filter(col("entity_uid") === 0L).count())
    assert(Leadership.forClubByNumber(spark, d, club + 100, DateFilter.All).count() ==
      Leadership.forClub(spark, d, club, DateFilter.All).count())
    assert(Leadership.forRegionByNumber(spark, d, 10L, DateFilter.All).count() ==
      Leadership.forRegion(spark, d, 0L, DateFilter.All).count())
    // remaining scopes exercise without error (may be empty at sf0.001)
    Leadership.forInternational(spark, d, DateFilter.All).count()
    Leadership.forAllStandingCommittees(spark, d, DateFilter.All).count()
    Leadership.forStandingCommittee(spark, d, 900L, DateFilter.All).count()
  }

  test("StandingCommittees, Races, Roles, Airstreams, Addresses") {
    StandingCommittees.all(spark, d).count()
    StandingCommittees.byUid(spark, d, 900L).count()
    assert(Races.all(spark, d).count() == 5) // one per segment
    Roles.all(spark, d).count()
    Roles.micrositeAdmins(spark, d).count()
    val as = Airstreams.all(spark, d)
    assert(as.count() > 0)
    val someUser = as.select("user_id").first().getLong(0)
    assert(Airstreams.byUserId(spark, d, someUser).count() > 0)
    assert(Addresses.all(spark, d).count() > 0)
    assert(Addresses.byUserId(spark, d, 1L).count() == 1)
  }

  test("Members point lookups (byUid, byEmail) ride the composed plan") {
    val m = Members.all(spark, d)
    val uid = m.orderBy("uid").select("uid").first().getLong(0)
    assert(Members.byUid(spark, d, uid).count() == 1)
    val email = m.orderBy("uid").select("email").first().getString(0)
    assert(Members.byEmail(spark, d, email).count() == 1)
  }

  test("Members.scoped: each scope's slice equals its one-scope oracle SQL") {
    import graft.sources.Tables
    val s2 = spark.newSession() // the oracle's fixture views stay here
    for (t <- Seq("orders", "customer", "nation", "region"))
      Tables.t(s2, d, t).createOrReplaceTempView(t)
    // the oracle SQL is DuckDB's; two spellings differ in Spark
    def oracle(name: String) = s2.sql(MembersCatalog.entries.toMap.apply(name).oracle.get
      .replace("string_agg(v, ',' ORDER BY v)", "array_join(array_sort(collect_list(v)), ',')")
      .replace("VARCHAR", "STRING"))
    // club 7 lies in region 2: scope 1 overlaps scope 2, and scope 4
    // names club 7 both itself and through its region
    assert(DrupalFixture.clubRegion(s2, d).filter(col("entity_id") === 7L)
      .select("region_target").collect().map(_.getLong(0)).toSeq == Seq(2L))
    val scoped = Members.scoped(s2, d, Seq(Members.Scope(1, club = Some(7L)),
      Members.Scope(2, region = Some(2L)), Members.Scope(3),
      Members.Scope(4, club = Some(7L), region = Some(2L)))).persist()
    try {
      def slice(id: Long) = scoped.filter(col("scope") === id).drop("scope")
      def same(name: String, got: org.apache.spark.sql.DataFrame,
          want: org.apache.spark.sql.DataFrame): Unit = {
        assert(got.columns.toSeq == want.columns.toSeq, name)
        val n = want.count()
        assert(n > 0 && got.count() == n, name)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
      }
      same("mbr1_members_by_club", slice(1), oracle("mbr1_members_by_club"))
      same("mbr2_members_by_region", slice(2), oracle("mbr2_members_by_region"))
      same("mbr3_members_all", slice(3), oracle("mbr3_members_all"))
      // the IN-subquery's set semantics: a club named twice matches once
      same("club 7 + region 2", slice(4), slice(2))
      assert(slice(4).select("uid").distinct().count() == slice(4).count())
      // non-vacuity: the club and region scopes share members
      assert(scoped.filter(col("scope").isin(1L, 2L)).groupBy("uid").count()
        .filter(col("count") >= 2).count() > 0)
    } finally scoped.unpersist()
  }

  test("membership histories equal their oracle SQL when paragraphs and links repeat") {
    // sf0.001 orders plus a copy of the home-club-linked ones under the
    // next customer: each copied paragraph has two p rows, two rows in
    // every attribute table and two home-club links, so every chained
    // join fans out; the oracle's JOINs over the same rows do the same
    import graft.sources.Tables
    val s2 = spark.newSession() // the oracle's `orders` / `customer` views stay here
    val orders = Tables.t(s2, d, "orders")
    val doubled = orders.unionByName(orders
      .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") < 2000)
      .withColumn("o_custkey", col("o_custkey") + 1))
    val customer = Tables.t(s2, d, "customer")
    doubled.createOrReplaceTempView("orders")
    customer.createOrReplaceTempView("customer")
    val oracle = MembersCatalog.entries.toMap.map { case (k, q) => k -> q.oracle.get }
    DrupalFixture.withBases(Map("orders" -> doubled, "customer" -> customer)) {
      for ((name, got) <- Seq(
          "mh1_membership_history" -> Members.historyAll(s2, d),
          "mh2_intl_history" -> Members.internationalHistoryAll(s2, d))) {
        val want = s2.sql(oracle(name))
        assert(got.columns.toSeq == want.columns.toSeq, name)
        assert(got.count() == want.count(), name)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
      }
      // non-vacuity: the copied home-club paragraphs do fan out
      assert(Members.historyAll(s2, d).groupBy("paragraph_id").count()
        .filter(col("count") > 1).count() > 0)
    }
  }
}
