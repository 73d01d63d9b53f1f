package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{JobStore, MailSyncPipeline, MultiJobSync, SyncJob}
import graft.sink.AudienceSink

/** S3 job-config source + D4 multi-job sync with failure isolation
  * (sync-mail/src/mailchimp.rs:101-162, 200-236). */
class MultiJobSyncSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("JobStore CRUD + DataFrame round-trip (S3)") {
    JobStore.clear()
    val a = JobStore.create(SyncJob(0, "all-members", "LA"))
    val b = JobStore.create(SyncJob(0, "club-7", "LB", club = Some(7L)))
    assert(a.id != b.id && JobStore.all().size == 2)
    assert(JobStore.get(b.id).exists(_.club.contains(7L)))
    // dynamic update: only supplied fields change (JobUpdate::setters)
    JobStore.update(b.id, region = Some(Some(2L)), club = Some(None))
    assert(JobStore.get(b.id).exists(j => j.region.contains(2L) && j.club.isEmpty))
    val roundTrip = JobStore.fromDf(JobStore.toDf(spark))
    assert(roundTrip == JobStore.all())
    assert(JobStore.delete(a.id) && JobStore.all().size == 1)
    JobStore.clear()
  }

  test("sync_many: one failing job never aborts the rest; per-job stats emit (D4)") {
    import spark.implicits._
    // the `sync-mail run` surface: jobs table → sync_many → stats lines;
    // listed out of id order, the lines still come back in id order
    val jobsDf = Seq[(Long, String, String, Option[Long], Option[Long])](
      (3, "region-2", "mj-ok2", None, Some(2L)),
      (1, "club-7", "mj-ok1", Some(7L), None),
      (2, "poison", "mj-bad", None, None)).toDF("id", "name", "list", "club", "region")
    // poison job's sink fails more times than the retry budget ever tries
    AudienceSink.state("job-mj-bad").failNextAttempts.set(1000000)

    val out = new java.io.ByteArrayOutputStream()
    val results = Console.withOut(out)(MultiJobSync.run(spark, dir, jobsDf, concurrency = 3))
    assert(results.size == 3)
    assert(results(1).stats.exists(_.upserted > 0), "job 1 must succeed")
    assert(results(3).stats.exists(_.upserted > 0), "job 3 must succeed")
    assert(results(2).stats.isEmpty && results(2).error.nonEmpty, "job 2 must fail isolated")
    // per-job stats JSON lines (D6): one strict-JSON line per job in id
    // order; success lines carry counts, the failed line the error
    val lines = out.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    val parsed = lines.map(l => spark.read.option("mode", "FAILFAST")
      .json(Seq(l).toDS).collect().head)
    assert(parsed.map(_.getAs[Long]("job")) == Seq(1L, 2L, 3L), lines.mkString("\n"))
    for (r <- parsed) {
      val failed = r.getAs[Long]("job") == 2L
      assert(r.schema.fieldNames.contains("error") == failed, r)
      assert(r.schema.fieldNames.contains("upserted") == !failed, r)
    }
    // the failed job wrote nothing; the good jobs' sinks are populated
    assert(new AudienceSink("job-mj-ok1").size > 0)
    assert(new AudienceSink("job-mj-ok2").size > 0)
    AudienceSink.state("job-mj-bad").failNextAttempts.set(0)
  }

  test("statsJson escapes quotes/backslashes/control chars in name and error") {
    import graft.pipeline.MultiJobSync.JobResult
    val r = JobResult(7, "club \"A\" \\ west\n", None,
      Some("boom: path \"C:\\tmp\"\tfailed"))
    val line = r.statsJson
    assert(!line.exists(c => c < ' '), "raw control char leaked into JSON line")
    // the line must round-trip through a strict JSON parser back to the
    // original strings — a malformed line breaks the D6 stats contract
    import spark.implicits._
    val parsed = spark.read
      .option("mode", "FAILFAST").json(Seq(line).toDS)
      .select("job", "name", "error").collect()(0)
    assert(parsed.getLong(0) == 7)
    assert(parsed.getString(1) == "club \"A\" \\ west\n")
    assert(parsed.getString(2) == "boom: path \"C:\\tmp\"\tfailed")
  }

  test("job scope drives the member extract and merge-field catalog") {
    val clubRows = graft.pipeline.MailSyncPipeline
      .audienceRowsFor(spark, dir, SyncJob(9, "c", "x", club = Some(7L)))
    val allRows = graft.pipeline.MailSyncPipeline
      .audienceRowsFor(spark, dir, SyncJob(10, "a", "y"))
    assert(clubRows.count() > 0 && allRows.count() > clubRows.count())
    // club jobs render the club catalog subset (no BDAY/SEGMENT keys)
    val clubJson = clubRows.select("merge_json").limit(1).collect()(0).getString(0)
    assert(clubJson.contains("\"NAME\"") && !clubJson.contains("\"BDAY\""))
    val allJson = allRows.filter(col("merge_json").contains("\"BDAY\"")).count()
    assert(allJson > 0)
    // partner expansion: partner audience rows exist with their own id
    assert(allRows.filter(col("role") === "partner").count() > 0)
  }

  test("syncMany rejects a concurrency below 1 by name") {
    val e = intercept[IllegalArgumentException](
      MultiJobSync.syncMany(spark, dir, Seq(SyncJob(1, "a", "mj-c0")), concurrency = 0))
    assert(e.getMessage.contains("concurrency"))
  }

  test("a 3-job syncMany evaluates the member assembly once") {
    import graft.queries.{DrupalFixture, Members}
    // the assembly reads the region base once (its region-number
    // lookup), so each evaluation of the assembly bumps the probe once
    // per region row; non-deterministic, so no filter is pushed below it
    val evals = spark.sparkContext.longAccumulator("assembly_evals")
    val bump = udf { (k: Long) => evals.add(1); k }.asNondeterministic()
    val region = graft.sources.Tables.t(spark, dir, "region")
      .withColumn("r_regionkey", bump(col("r_regionkey")))
    val jobs = Seq(SyncJob(1, "club-7", "mj-once1", club = Some(7L)),
      SyncJob(2, "region-2", "mj-once2", region = Some(2L)), SyncJob(3, "all", "mj-once3"))
    DrupalFixture.withBases(Map("region" -> region)) {
      Members.all(spark, dir).count()
      val once = evals.value
      evals.reset()
      val results = MultiJobSync.syncMany(spark, dir, jobs, concurrency = 3)
      assert(results.values.forall(r => r.error.isEmpty && r.stats.exists(_.upserted > 0)),
        results.values.map(_.statsJson).mkString("\n"))
      assert(once > 0 && evals.value == once,
        s"syncMany evaluated the member assembly ${evals.value.toDouble / once} times, expected 1")
    }
  }

  test("a failed shared build fails every job of the call and touches no sink") {
    import spark.implicits._
    val jobs = Seq(SyncJob(1, "club-7", "mj-nodir1", club = Some(7L)),
      SyncJob(2, "all", "mj-nodir2"))
    val seeded = new AudienceSink(sinkId = "job-mj-nodir1")
    seeded.upsertMany(Seq(("old", "old@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json"))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val results = MultiJobSync.syncMany(spark, s"$dir/no-such-snapshot", jobs, concurrency = 2)
    assert(results.keySet == Set(1L, 2L))
    for (r <- results.values)
      assert(r.stats.isEmpty && r.error.exists(_.nonEmpty), r.statsJson)
    assert(results(1).error == results(2).error, "both jobs carry the one build error")
    assert(seeded.allIds == Set("old") && new AudienceSink(sinkId = "job-mj-nodir2").size == 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "a failed build must leave nothing cached")
  }

  test("memberAudienceRows evaluates each member row once") {
    val evals = spark.sparkContext.longAccumulator("member_evals")
    val bump = udf { (id: Long) => evals.add(1); id }
    // every member has a partner, so a per-branch re-read would show 2x
    val members = spark.range(0, 40, 1, 4).select(lit(1L).as("scope"),
      concat(lit("m"), col("id"), lit("@x.org")).as("email"),
      lit("Ann").as("first_name"), concat(lit("L"), col("id")).as("last_name"),
      lit(null).cast("date").as("birthday"),
      date_add(lit("2020-01-01").cast("date"), bump(col("id")).cast("int")).as("join_date"),
      lit("regular").as("member_type"), lit("A").as("member_class"),
      concat(lit("p"), col("id"), lit("@x.org")).as("partner_email"),
      lit("Bob").as("partner_first_name"), lit("L").as("partner_last_name"),
      lit(null).cast("date").as("partner_birthday"))
    val rows = MailSyncPipeline.jobRows(MailSyncPipeline.memberAudienceRows(members),
      SyncJob(1, "all", "x")).collect()
    assert(rows.length == 80 && rows.count(_.getAs[String]("role") == "partner") == 40)
    assert(evals.value == 40, s"member rows evaluated ${evals.value} times, expected 40")
  }

  test("audienceRowsFor matches the two-branch union formulation on every scope") {
    import graft.queries.Members
    // The former formulation, kept as the reference: primary and partner
    // rows from two reads of the member assembly, unioned.
    def unionRows(members: DataFrame, catalog: Seq[graft.sources.MergeField]): DataFrame = {
      val primary = members.select(
        col("email"),
        concat_ws(" ", col("first_name"), col("last_name")).as("name"),
        col("birthday").as("bday"), col("join_date").as("joined"),
        coalesce(col("member_type"), lit("member")).as("role"),
        col("member_class").as("segment"))
      val partner = members.filter(col("partner_email").isNotNull).select(
        col("partner_email").as("email"),
        concat_ws(" ", col("partner_first_name"), col("partner_last_name")).as("name"),
        col("partner_birthday").as("bday"), col("join_date").as("joined"),
        lit("partner").as("role"), col("member_class").as("segment"))
      val valid = primary.unionByName(partner).filter(graft.functions.F.isValidEmail(col("email")))
      val deduped = graft.operators.Dedup.keepOneByKey(valid, Seq(lower(col("email"))),
        Seq(col("role"), col("name")))
      deduped.select(
        graft.functions.F.memberIdForEmail(col("email")).as("id"),
        lower(col("email")).as("email"),
        lit("subscribed").as("status"),
        graft.functions.MergeFieldRender.mergeJson(deduped, catalog, Map(
          "NAME" -> col("name"), "JOINED" -> col("joined"), "BDAY" -> col("bday"),
          "ROLE" -> col("role"), "SEGMENT" -> col("segment"))).as("merge_json"),
        col("role"))
    }
    def broadcasts(df: DataFrame): Int = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collectWithSubqueries { case b: BroadcastExchangeExec => b }.size
    val scopes = Seq(
      (SyncJob(1, "club-7", "x", club = Some(7L)), Members.byClub(spark, dir, 7L),
        graft.sources.MergeFieldCatalog.club),
      (SyncJob(2, "region-2", "x", region = Some(2L)), Members.byRegion(spark, dir, 2L),
        graft.sources.MergeFieldCatalog.all),
      (SyncJob(3, "all", "x"), Members.all(spark, dir), graft.sources.MergeFieldCatalog.all))
    for ((job, members, catalog) <- scopes) {
      val got = MailSyncPipeline.audienceRowsFor(spark, dir, job)
        .select("id", "email", "status", "merge_json", "role")
      val want = unionRows(members, catalog)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, job.name)
      val n = want.count()
      assert(got.count() == n && n > 0, job.name)
      // one member-assembly subtree: the audience plan broadcasts no more
      // than the member plan does (pruned columns can drop a lookup join)
      val (gotB, memberB) = (broadcasts(got), broadcasts(members))
      assert(gotB <= memberB, s"${job.name}: $gotB broadcasts, member plan has $memberB")
    }
  }

  test("a warm audience build over a churned snapshot compiles no new code") {
    // the build's JVM options reach the session: dropping the class-cache
    // size (or a byte-stability setting) from build.sbt fails here
    val src = scala.io.Source.fromFile("build.sbt", "UTF-8")
    val opts = try "\"-D(spark\\.[\\w.]+)=([^\"]*)\"".r.findAllMatchIn(src.mkString)
      .map(m => m.group(1) -> m.group(2)).toMap finally src.close()
    assert(opts.get("spark.sql.codegen.cache.maxEntries").exists(_.toInt >= 1000),
      s"build.sbt does not size the codegen cache: $opts")
    for ((k, v) <- opts) assert(spark.conf.get(k) == v, k)

    // a churned copy of the snapshot: customers leave, orders are re-dated
    val churned = java.nio.file.Files.createTempDirectory("churned").toString
    def copy(t: String)(f: DataFrame => DataFrame): Unit =
      f(spark.read.parquet(s"$dir/$t.parquet")).write.parquet(s"$churned/$t.parquet")
    copy("customer")(_.filter(col("c_custkey") % 29 =!= 0))
    copy("orders")(o => o.withColumn("o_orderdate",
      when(col("o_orderkey") % 13 === 0, date_add(col("o_orderdate"), 40))
        .otherwise(col("o_orderdate"))))
    copy("nation")(identity)
    copy("region")(identity)

    val jobs = Seq(SyncJob(1, "club-7", "x", club = Some(7L)),
      SyncJob(2, "region-2", "x", region = Some(2L)), SyncJob(3, "all", "x"))
    def compiles(d: String): (Long, Long) = {
      val n0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val audience = MailSyncPipeline.audienceRows(spark, d, jobs)
      val rows = audience.collect().length.toLong
      (rows, org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
    }
    val (coldRows, _) = compiles(dir)
    val (warmRows, warm) = compiles(churned)
    assert(coldRows > 0 && warmRows > 0 && warmRows != coldRows)
    // new data, same plans: every generated class is a cache hit
    assert(warm == 0, s"the warm build compiled $warm classes")
  }
}
