package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SyncPipeline
import graft.sources.ParquetStore
import graft.streaming.EventStream

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("sync pipeline: FK order, upsert, leaf-first GC, stats") {
    val p = SyncPipeline.runDemo(spark, sf)
    val custs = p.table("customers")
    val ords = p.table("orders")
    // GC invariant: every surviving order's FK exists in customers
    val orphan = ords.join(custs.select(col("id").as("cust_id")), Seq("cust_id"), "left_anti")
    assert(orphan.count() == 0)
    assert(p.statsMap("customers").upserted > 0)
    assert(p.statsJson.contains("\"orders\""))
  }

  test("file-backed store: write-then-swap matches in-memory results") {
    val storeDir = java.nio.file.Files.createTempDirectory("sync_store").toString
    val mem = SyncPipeline.runDemo(spark, sf)
    val file = SyncPipeline.runDemo(spark, sf, tableStore = Some(ParquetStore(storeDir)))
    for (t <- Seq("customers", "orders")) {
      assert(file.table(t).except(mem.table(t)).count() == 0)
      assert(mem.table(t).except(file.table(t)).count() == 0)
    }
    // both versions persisted: v1 (load) and v2 (gc) — the swap never
    // destroys the previous state, so a failed write can't lose a table
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$storeDir/customers/v1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$storeDir/customers/v2")))
    assert(file.statsMap("customers").deleted == mem.statsMap("customers").deleted)

    // gc rewrites only when it deletes: a keep-set covering every key
    // leaves the committed version in place
    def versions(t: String) = new java.io.File(s"$storeDir/$t").list()
      .count(_.startsWith("v"))
    val p = new SyncPipeline(spark, tableStore = Some(ParquetStore(storeDir)))
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    p.load("gc_cases", rows.toDF("id", "v"), Seq("id"))
    val before = p.table("gc_cases").collect().toSet
    p.gc("gc_cases", Seq(1L, 2L, 3L, 4L).toDF("id"), Seq("id"))
    assert(versions("gc_cases") == 1)
    assert(p.table("gc_cases").collect().toSet == before)
    assert(p.statsMap("gc_cases").deleted == 0)
    // a gc that deletes still writes exactly one new version
    p.gc("gc_cases", Seq(1L, 3L).toDF("id"), Seq("id"))
    assert(versions("gc_cases") == 2)
    assert(p.table("gc_cases").as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    assert(p.statsMap("gc_cases").deleted == 1)
    // a NULL key never matches the keep-set: counted as deleted, rewritten
    val withNull = Seq((Some(1L), "a"), (None, "n")).toDF("id", "v")
    p.load("gc_null", withNull, Seq("id"))
    p.gc("gc_null", Seq(1L).toDF("id"), Seq("id"))
    assert(p.statsMap("gc_null").deleted == 1)
    assert(versions("gc_null") == 2)
    assert(p.table("gc_null").as[(Option[Long], String)].collect().toSeq == Seq((Some(1L), "a")))
    CacheScope.releaseAll()
  }

  test("one load and one gc of the same source compute that source once") {
    val storeDir = java.nio.file.Files.createTempDirectory("sync_once").toString
    val evals = spark.sparkContext.longAccumulator("source_evals")
    val bump = udf { (id: Long) => evals.add(1); id }
    val p = new SyncPipeline(spark, tableStore = Some(ParquetStore(storeDir)))
    p.load("t", spark.range(0, 120).select(col("id"), lit("old").as("v")), Seq("id"))
    // distinct: a count cannot prune the UDF away, as with a real extract
    val source = spark.range(0, 100, 1, 4)
      .select(bump(col("id")).as("id"), lit("new").as("v")).distinct()
    p.load("t", source, Seq("id"))
    p.gc("t", source, Seq("id"))
    CacheScope.releaseAll()
    assert(p.statsMap("t").upserted == 100 && p.statsMap("t").deleted == 20)
    assert(p.table("t").count() == 100)
    assert(evals.value == 100, s"source rows computed ${evals.value} times, expected 100")
  }

  test("two-phase curation ≡ fused dp1, via the Cli verb, with committed artifacts") {
    val ckpt = java.nio.file.Files.createTempDirectory("curation_ckpt").toString
    val fused = graft.queries.Catalog.ordered(
      graft.queries.DataCatalog.dp1.build(spark, sf)).collect().toSeq
    CacheScope.releaseAll()
    val twoPhase = graft.queries.Catalog.ordered(
      Cli.resolve(spark, sf, Seq("curate", "--checkpoint-dir", ckpt))).collect().toSeq
    CacheScope.releaseAll()
    assert(twoPhase == fused)
    // the expensive artifacts are committed tables a restart can reuse
    val store = graft.sources.ParquetStore(ckpt)
    assert(store.table(spark, graft.pipeline.Curation.PairsTable).count() > 0)
    assert(store.table(spark, graft.pipeline.Curation.SurvivorsTable).count() > 0)
  }

  test("corpus-prep Cli verb ≡ direct operator composition, and the export verifies") {
    val ckpt = java.nio.file.Files.createTempDirectory("corpusprep_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("corpusprep_out").toString
    val cli = graft.queries.Catalog.ordered(Cli.resolve(spark, sf,
      Seq("corpus-prep", "--checkpoint-dir", ckpt, "--out", out, "--shards", "4")))
      .collect().toSeq
    CacheScope.releaseAll()
    // reference: the same stages composed directly over the fused dp1
    // curation (two-phase ≡ fused is pinned by the test above)
    val curated = graft.sources.Tables.documents(spark, sf).join(
      graft.queries.DataCatalog.dp1.build(spark, sf).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val direct = graft.queries.Catalog.ordered(graft.pipeline.CorpusPrep.packStats(
      graft.pipeline.CorpusPrep.packedChunks(curated))).collect().toSeq
    CacheScope.releaseAll()
    assert(cli == direct)
    assert(cli.nonEmpty)
    // the export is complete and internally consistent: committed
    // manifest + every shard re-verifies ok from its written bytes
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/MANIFEST.json")))
    val status = graft.operators.Sharding.verify(spark, out,
      col("chunk_key"), col("chunk_text"))
    assert(status.count() == 4)
    assert(status.filter(col("status") =!= "ok").count() == 0)
  }

  test("pretrain-prep Cli verb ≡ the dp5 catalog entry, and the export verifies") {
    val ckpt = java.nio.file.Files.createTempDirectory("pretrain_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("pretrain_out").toString
    val cli = graft.queries.Catalog.ordered(Cli.resolve(spark, sf,
      Seq("pretrain-prep", "--checkpoint-dir", ckpt, "--out", out, "--shards", "4")))
      .collect().toSeq
    CacheScope.releaseAll()
    // reference: the oracle-gated dp5 entry (fused curation; two-phase
    // ≡ fused is pinned above) — same mixture, stride, packing, rank
    val entry = graft.queries.DataCatalog.dp5.build(spark, sf).collect().toSeq
    CacheScope.releaseAll()
    assert(cli == entry)
    assert(cli.nonEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/MANIFEST.json")))
    val status = graft.operators.Sharding.verify(spark, out,
      col("chunk_key"), col("chunk_text"))
    assert(status.count() == 4)
    assert(status.filter(col("status") =!= "ok").count() == 0)
  }

  test("writeSwap after a driver restart claims a NEW version, never the committed dir") {
    val dir = java.nio.file.Files.createTempDirectory("swap_restart").toString
    val t = "restart_table"
    graft.sources.ParquetStore(dir)
      .writeSwap(spark, t, Seq((1L, "a")).toDF("id", "v"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t/v1/_SUCCESS")))
    // a FRESH store instance (new JVM in real life) re-runs the phase:
    // it must allocate v2 — overwriting committed v1 in place would
    // destroy the only committed copy if this rewrite crashed mid-write
    val fresh = graft.sources.ParquetStore(dir)
    fresh.writeSwap(spark, t, Seq((2L, "b")).toDF("id", "v"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t/v2/_SUCCESS")))
    assert(fresh.table(spark, t).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // and yet another fresh instance reads the v2 it committed
    assert(graft.sources.ParquetStore(dir).table(spark, t)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("SyncPipeline releases operator-internal caches (CacheScope driver contract)") {
    import graft.operators.NearDup
    val sc = spark.sparkContext
    CacheScope.releaseAll() // clean slate
    val before = sc.getPersistentRDDs.keySet
    // a curation stage composed into a pipeline run registers persists…
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(NearDup.minhashLsh(docs, col("doc_id"), col("text"), 0.5).count() >= 0)
    val operatorCaches = sc.getPersistentRDDs.keySet -- before
    assert(operatorCaches.nonEmpty,
      "expected a live operator cache before the pipeline driver finished")
    // …and the pipeline driver's end-of-run release cleans exactly those
    // up (the pipeline's own store tables are its to keep — only
    // CacheScope-registered operator intermediates must not outlive it)
    SyncPipeline.runDemo(spark, sf)
    val leaked = sc.getPersistentRDDs.keySet & operatorCaches
    assert(leaked.isEmpty, s"operator caches leaked past SyncPipeline end: $leaked")
  }

  test("dedupClustersSparse ≡ dense dedupClusters (singletons via coalesce)") {
    import graft.operators.NearDup
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val dense = NearDup.dedupClusters(nodes, col("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    val sparse = NearDup.dedupClustersSparse(nodes, col("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    assert(sparse == dense)
    assert(sparse(4L) == 4L && sparse(7L) == 7L) // singletons self-label
  }

  test("streaming windowed HLL distinct (availableNow) matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_hll")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runWindowHllAvailableNow(spark, dir.toString, "hll_out")
    val streamed = spark.table("hll_out")
      .select("window_start", "event_type", "est")
    val batch = EventStream.windowedHll(Tables.events(spark, sf))
      .select("window_start", "event_type", "est")
    assert(streamed.count() > 0)
    // the sketch merge is exact (bytewise register max), so every
    // watermark-closed window's streamed ESTIMATE equals the batch
    // estimate bit-for-bit — only the un-closed tail may be withheld
    assert(streamed.except(batch).count() == 0)
    val cutoff = Tables.events(spark, sf).agg(max(col("ts"))).head().getTimestamp(0)
    val withheld = batch.except(streamed)
      .filter(col("window_start") < timestamp_millis(lit(cutoff.getTime - 26L * 3600 * 1000)))
    assert(withheld.count() == 0)
  }

  test("t10 streaming twin: stream-static as-of ≡ batch ≡ union-window formulation") {
    import graft.sources.Tables
    import graft.operators.Temporal
    val dir = java.nio.file.Files.createTempDirectory("ev_asof")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val ev = Tables.events(spark, sf)
    // versioned dimension: 4 feature versions per user spread across the
    // event-time range; tolerance of half a version gap makes staleness
    // bite (events late in a version's life get NULL, not stale state)
    val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val lo = bounds.getTimestamp(0).getTime
    val span = bounds.getTimestamp(1).getTime - lo
    val dim = ev.select(col("user_id")).distinct()
      .crossJoin(spark.range(4).toDF("k"))
      .select(col("user_id"),
        timestamp_millis(lit(lo) + col("k") * lit(span / 4)).as("vt"),
        (col("user_id") * 10 + col("k")).cast("double").as("feature"))
    val tol = math.max(span / 8 / 1000, 1L)
    EventStream.runAsofEnrichAvailableNow(spark, dir.toString, dim,
      "user_id", "vt", "feature", tol, "asof_out")
    val streamed = spark.table("asof_out")
    val batch = EventStream.asofEnrich(ev, dim, "user_id", "ts", "vt", "feature", tol)
    assert(streamed.count() == ev.count(), "left join must keep every event")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
    // the interval rewrite IS t10: bit-identical to union + window fill
    val t10 = Temporal.asofJoinTolerance(ev, dim, "user_id", "ts", "vt", "feature", tol)
    assert(batch.except(t10).count() == 0 && t10.except(batch).count() == 0)
    assert(batch.filter(col("asof_value").isNotNull).count() > 0, "some events must match")
    assert(batch.filter(col("asof_value").isNull).count() > 0, "staleness must bite")
  }

  test("streaming windowed agg (availableNow) matches batch twin") {
    import graft.sources.Tables
    // stream sources need a directory; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runAvailableNow(spark, dir.toString, "ev_out")
    val streamed = spark.table("ev_out")
      .select("window_start", "event_type", "n", "value_cents")
    val batch = EventStream.windowedAgg(Tables.events(spark, sf))
      .select("window_start", "event_type", "n", "value_cents")
    assert(streamed.count() > 0)
    // append mode emits only watermark-closed windows: everything emitted
    // must match the batch twin, and only the un-closed tail (within
    // watermark 2h + window 1h of stream end) may be withheld.
    assert(streamed.except(batch).count() == 0)
    val cutoff = Tables.events(spark, sf).agg(max(col("ts"))).head().getTimestamp(0)
    val withheld = batch.except(streamed)
      .filter(col("window_start") < timestamp_millis(lit(cutoff.getTime - 3L * 3600 * 1000)))
    assert(withheld.count() == 0)
  }

  test("streaming dedup (availableNow) matches batch dropDuplicates") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_dedup")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // duplicate the file: every event arrives twice
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_dup.parquet"))
    EventStream.runDedupAvailableNow(spark, dir.toString, "ev_dedup_out")
    val streamed = spark.table("ev_dedup_out")
    val batch = EventStream.dedupBatch(Tables.events(spark, sf))
    // streaming dedup must emit each key once despite duplicated input
    assert(streamed.count() == batch.count())
    assert(streamed.groupBy("user_id", "event_type", "ts").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("stream-stream correlation join matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_corr")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runCorrelateAvailableNow(spark, dir.toString, "ev_corr_out")
    val streamed = spark.table("ev_corr_out")
    val batch = EventStream.correlate(Tables.events(spark, sf))
    // watermark (2h) exceeds the join window (1h), so no legitimate pair
    // is evicted: stream must equal batch exactly
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("stream-static enrichment join matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_enrich")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    EventStream.runEnrichAvailableNow(spark, dir.toString, dim,
      "c_custkey", "c_name", "ev_enrich_out")
    val streamed = spark.table("ev_enrich_out")
    val batch = EventStream.enrich(Tables.events(spark, sf), dim,
      "c_custkey", "c_name")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("sessionize splits on gap and covers all events") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val sess = EventStream.sessionize(ev, 30)
    assert(sess.agg(sum(col("n_events"))).as[Long].head() == ev.count())
    assert(sess.filter(col("session_end") < col("session_start")).count() == 0)
  }
}
