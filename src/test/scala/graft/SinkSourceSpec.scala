package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.AudienceSink

class SinkSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("audience sink: upsert chunks, id set, retain spares cleaned, tags diff") {
    val sink = new AudienceSink(sinkId = "t1", batchSize = 10, sinkPartitions = 4)
    val members = (0 until 95).map(i =>
      (f"m$i%03d", s"u$i@x.org", if (i % 10 == 0) "cleaned" else "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
    val upserted = sink.upsertMany(members)
    assert(upserted == 95 && sink.size == 95)

    // second sync keeps only even ids → odds deleted EXCEPT cleaned ones
    val keep = (0 until 95 by 2).map(i => f"m$i%03d")
    val deleted = sink.retain(spark, keep.toDF("id"))
    val survivors = sink.allIds
    assert(deleted == 95 - keep.size - /* odd cleaned don't exist: cleaned are %10==0 (even) */ 0)
    assert(keep.toSet.subsetOf(survivors))

    val tagUpdates = Seq(("m000", "member", true), ("m000", "lapsed", false),
      ("m002", "lapsed", true)).toDF("id", "tag", "active")
    sink.updateTags(tagUpdates)
    assert(sink.tagsOf("m000") == Set("member"))
    assert(sink.tagsOf("m002") == Set("lapsed"))
  }

  test("audience sink: upsert and tag stats come from ONE pass over the input") {
    // The r2 wart: upsertMany/updateTags ran foreachPartition then
    // count(), executing the upstream plan twice per sink call. A static
    // per-row probe in the input plan counts actual evaluations — if the
    // plan ran twice the probe doubles.
    SinkSourceSpec.planEvals.set(0)
    val probe = udf { (id: String) => SinkSourceSpec.planEvals.incrementAndGet(); id }
    val sink = new AudienceSink(sinkId = "t_onepass", batchSize = 10, sinkPartitions = 2)
    val members = (0 until 40).map(i => (f"m$i%03d", s"u$i@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
      .withColumn("id", probe(col("id")))
    assert(sink.upsertMany(members) == 40)
    assert(SinkSourceSpec.planEvals.get() == 40,
      s"upsertMany evaluated the input plan ${SinkSourceSpec.planEvals.get() / 40.0} times")

    SinkSourceSpec.planEvals.set(0)
    val tagProbe = udf { (id: String) => SinkSourceSpec.planEvals.incrementAndGet(); id }
    val tags = (0 until 30).map(i => (f"m$i%03d", "member", true))
      .toDF("id", "tag", "active")
      .withColumn("id", tagProbe(col("id")))
    assert(sink.updateTags(tags) == 30)
    assert(SinkSourceSpec.planEvals.get() == 30,
      s"updateTags evaluated the input plan ${SinkSourceSpec.planEvals.get() / 30.0} times")

    // retain: the keep-set plan runs once, in the count that materializes
    // the doomed set; the deletes read that cache. The probe is marked
    // non-deterministic so the anti-join's inferred isnotnull(id) filter
    // is not pushed below it (that would call it twice per row per run).
    SinkSourceSpec.planEvals.set(0)
    val keepProbe = udf { (id: String) => SinkSourceSpec.planEvals.incrementAndGet(); id }
      .asNondeterministic()
    val keep = spark.range(0, 20, 1, 2)
      .select(keepProbe(format_string("m%03d", col("id"))).as("id"))
    assert(sink.retain(spark, keep) == 20)
    assert(sink.allIds == (0 until 20).map(i => f"m$i%03d").toSet)
    assert(SinkSourceSpec.planEvals.get() == 20,
      s"retain evaluated the keep-set plan ${SinkSourceSpec.planEvals.get() / 20.0} times")
  }

  test("audience sink: a push coalesces to its task bound without a shuffle") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val pushes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "foreachPartition") pushes.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sink = new AudienceSink(sinkId = "t_noshuffle", batchSize = 10, sinkPartitions = 2)
      val members = spark.range(0, 40, 1, 4).select(format_string("m%03d", col("id")).as("id"),
        lit("u@x.org").as("email"), lit("subscribed").as("status"), lit("{}").as("merge_json"))
      assert(sink.upsertMany(members) == 40 && sink.size == 40)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (pushes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!pushes.isEmpty, "the push's execution was not observed")
      pushes.forEach { p =>
        assert(!nodes(p).exists(_.isInstanceOf[ShuffleExchangeExec]), s"push plan shuffles:\n$p")
        assert(p.execute().getNumPartitions <= 2, s"push runs more than 2 tasks:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("audience sink: transient batch failures retried to success") {
    val sink = new AudienceSink(sinkId = "t2", batchSize = 50, sinkPartitions = 2)
    sink.injectTransientFailures(2)
    val members = (0 until 100).map(i => (s"r$i", s"r$i@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
    val upserted = sink.upsertMany(members)
    assert(upserted == 100 && sink.size == 100)
  }

  test("audience sink: 401/403/404 are tried once and fail the call; 5xx and network errors retry") {
    val members = (0 until 20).map(i => (s"p$i", s"p$i@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
    // one task, one batch: each sink call is exactly one attempt
    def sink(id: String) = new AudienceSink(sinkId = id, batchSize = 50, sinkPartitions = 1)
    for (status <- Seq(401, 403, 404)) {
      val s = sink(s"t_perm_$status")
      s.injectFailures(3, status)
      val e = intercept[Exception](s.upsertMany(members))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains(s"HTTP $status")), s"$status: $e")
      // tried once: two of the three injected faults are left unspent
      assert(AudienceSink.state(s.sinkId).failNextAttempts.get == 2, s"$status retried")
      assert(s.size == 0)
    }
    for (status <- Seq(500, 503, 0)) {
      val s = sink(s"t_transient_$status")
      s.injectFailures(3, status)
      assert(s.upsertMany(members) == 20 && s.size == 20, s"$status")
      assert(AudienceSink.state(s.sinkId).failNextAttempts.get == 0)
    }
    // a transient failure that outlasts the retries fails after 1 + 3 attempts
    val s = sink("t_transient_exhausted")
    s.injectFailures(5, 503)
    intercept[Exception](s.upsertMany(members))
    assert(AudienceSink.state(s.sinkId).failNextAttempts.get == 1)
  }

  test("audience sink retain semantics mirror cleaned-exclusion") {
    val sink = new AudienceSink(sinkId = "t3")
    sink.upsertMany(Seq(
      ("a", "a@x.org", "subscribed", "{}"),
      ("b", "b@x.org", "cleaned", "{}"),
      ("c", "c@x.org", "subscribed", "{}")).toDF("id", "email", "status", "merge_json"))
    val n = sink.retain(spark, Seq("a").toDF("id"))
    assert(n == 1)                       // only c deleted
    assert(sink.allIds == Set("a", "b")) // cleaned b spared
  }

  test("audience sink: retain frees its doomed cache when the deletes fail") {
    val sink = new AudienceSink(sinkId = "t_retain_fail", sinkPartitions = 2, maxRetries = 1)
    sink.upsertMany(Seq("a", "b", "c").map(id => (id, s"$id@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    sink.injectTransientFailures(100)
    try intercept[Exception](sink.retain(spark, Seq("a").toDF("id")))
    finally sink.injectTransientFailures(0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"retain left cached RDDs $leaked")
  }
}

class MailPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mail sync end-to-end: upsert, retain idempotence, tags") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import graft.pipeline.{MultiJobSync, SyncJob}
    val job = SyncJob(1, "all-members", "mail1")
    val st = AudienceSink.state("job-mail1")
    st.members.clear(); st.tags.clear()
    // pre-seed the job's sink with a stale member that the retain pass
    // must GC, plus a cleaned member it must spare
    val sink = new AudienceSink(sinkId = "job-mail1")
    sink.upsertMany(Seq(
      ("stale", "old@x.org", "subscribed", "{}"),
      ("ghost", "ghost@x.org", "cleaned", "{}")).toDF("id", "email", "status", "merge_json"))

    val stats = MultiJobSync.runJob(spark, "/root/testdata/sf0.001", job)
    assert(stats.upserted > 0)
    assert(stats.deleted == 1)                    // stale gone
    assert(sink.get("ghost").nonEmpty)            // cleaned spared
    assert(sink.get("stale").isEmpty)
    // idempotent: re-running changes nothing
    val stats2 = MultiJobSync.runJob(spark, "/root/testdata/sf0.001", job)
    assert(stats2.upserted == stats.upserted && stats2.deleted == 0)
    // member tags land: three tag updates per audience row
    assert(stats.tagOps == 3 * stats.upserted)
    val tagged = sink.allIds.flatMap(sink.tagsOf)
    assert(Set("member", "partner").subsetOf(tagged), s"tags landed: $tagged")
    // no invalid address is ever posted
    val emails = st.members.values.asScala.map(_._1)
    assert(emails.size == stats.upserted + 1)
    assert(!emails.exists(_.endsWith("example.com")))
  }
}

class DataSourceV2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def read(total: Int) = spark.read
    .format("graft.sources.AudienceDataSource")
    .option("total", total).option("pageSize", 300)
    .load()

  test("DSv2 camelCase options are honored (non-default pageSize)") {
    // getTable receives the original-case map; a lowercase-only lookup
    // silently ignored pageSize (masked when it equaled the default)
    val df = spark.read.format("graft.sources.AudienceDataSource")
      .option("total", 1000).option("pageSize", 100).load()
    assert(df.rdd.getNumPartitions == 10) // ceil(1000/100) pages
  }

  test("DSv2 audience source: full scan, one partition per page") {
    val df = read(1000)
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 4) // ceil(1000/300) pages
    assert(df.select("id").distinct().count() == 1000)
  }

  test("DSv2 projection pushdown prunes to requested columns at the scan") {
    val df = read(900).select("id", "rating")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.columns.toSeq == Seq("id", "rating"))
    assert(plan.contains("ReadSchema") || df.count() == 900)
    // the scan's readSchema must carry only the pruned columns
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "rating"))
  }

  test("DSv2 source composes with catalog operators (retain semantics)") {
    import org.apache.spark.sql.functions._
    val audience = read(500)
    val keep = audience.filter(col("rating") >= 2).select("id")
    val deletes = graft.operators.Merge.retainDeletes(
      audience, keep, Seq("id"), exempt = Some(col("status") === "cleaned"))
    val got = deletes.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(got == Set("subscribed")) // cleaned never in the delete set
  }
}

object SinkSourceSpec {
  /** Per-row evaluation probe for the one-pass sink-stats test; static so
    * executor-side (local-mode) UDF calls and the test share the count. */
  val planEvals = new java.util.concurrent.atomic.AtomicInteger(0)
}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("saltedJoin result equals plain equi-join (inner and left)") {
    val big = (0 until 500).map(i => (i.toLong, i % 7)).toDF("row_id", "k")
    val small = (0 until 7).map(k => (k, s"name$k")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val salted = graft.operators.Skew.saltedJoin(big, small, "k",
        pmod(col("row_id"), lit(4)), 4, jt).select("row_id", "k", "name")
      val plain = big.join(small, Seq("k"), jt).select("row_id", "k", "name")
      assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
      assert(salted.count() == plain.count())
    }
  }
}
