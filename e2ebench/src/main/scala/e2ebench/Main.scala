package e2ebench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** One benchmark process: build the session the way `graft.Cli` does,
  * then run sync cycles back to back over the pre-generated snapshots
  * `<inputs>/cycle_NNN` until `--seconds` have passed (at least
  * [[MinCycles]]). Writes `<work>/result.json` and, traced, the spans to
  * `<work>/spans.jsonl`.
  *
  *   e2ebench.Main --workload app-sync --inputs DIR --work DIR --seconds 10
  *                 --seed 1 --trace 0 --launch-ns <epoch ns at process launch>
  */
object Main {
  val MinCycles = 2
  private val MB = 1024.0 * 1024.0

  /** Oracle queries the correctness check replays in DuckDB. */
  val OracleNames = Seq("mbr1_members_by_club", "mbr2_members_by_region", "mbr3_members_all",
    "ldr1_leadership_asof", "dp3_corpus_prep", "dp5_pretrain_prep")

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Block until Spark's listener bus has delivered every queued event.
    * The bus is Spark-internal (public only in bytecode), hence the
    * reflective call. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
  }

  private def writeFile(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opt("work")
    val launchNs = opt("launch-ns").toLong
    val nproc = Runtime.getRuntime.availableProcessors()
    // the session exactly as graft.Cli.main builds it, with cpus = nproc
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val setupS = (epochNs() - launchNs) / 1e9

    val seed = opt("seed").toLong
    val traced = opt.get("trace").contains("1")
    val tracer = if (traced) Some(new Tracer(s"${opt("workload")}-$seed")) else None
    tracer.foreach(_.listen(spark))
    val workload = Workload(opt("workload"), spark, work, seed, tracer)
    val dirs = Option(new java.io.File(opt("inputs")).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("cycle_")).map(_.getPath).sorted
    val seconds = opt("seconds").toDouble
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    var k = 0
    while (k < dirs.length && (k < MinCycles || (System.nanoTime() - loop0) / 1e9 < seconds)) {
      workload.beforeCycle(k)
      val codegen0 = Codegen.compiles()
      val open = tracer.map(_.begin())
      val t0 = System.nanoTime()
      val ops = workload.cycle(k, dirs(k))
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = tracer.map(_.nowMs)
      val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / MB
      val codegen = Codegen.compiles() - codegen0
      val after = workload.afterCycle(k)
      for (tr <- tracer; o <- open; e <- endMs)
        tr.endAt(o, "cycle", e, after.attrs ++ Map("cycle" -> k, "wall_s" -> wall,
          "spark.codegen_compiles" -> codegen, "spark.cached_mb" -> cachedMb))
      ops.errors.foreach(e => System.err.println(s"[e2ebench] cycle $k: $e"))
      cycles += Map("cycle" -> k, "dir" -> dirs(k), "wall_s" -> wall,
        "attempted" -> ops.attempted, "failed" -> ops.failed, "errors" -> ops.errors.toSeq,
        "rows" -> after.rows, "record" -> after.record)
      k += 1
    }

    // residue a long-lived driver carries: heap in use after full GCs,
    // once Spark's listeners (and the status store behind them) have
    // caught up. Each GC lets the context cleaner drop more broadcast and
    // shuffle state asynchronously, so GC until the reading settles.
    drainListenerBus(spark)
    def heapMb(): Double = {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var prevMb = heapMb()
    var retainedMb = heapMb()
    var rounds = 0
    while (math.abs(prevMb - retainedMb) > 1.0 && rounds < 20) {
      prevMb = retainedMb
      retainedMb = heapMb()
      rounds += 1
    }

    // graft.Bench's box-state probes, re-measured here (outside any cycle)
    def calib(job: () => Unit): Double = {
      val ts = (0 until 6).map { _ =>
        val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e6
      }.drop(1).sorted // rep 1 absorbs codegen
      ts(ts.size / 2)
    }
    val shuffleMs = calib(() =>
      spark.range(1 << 16).repartition(32).groupBy((col("id") % 101).as("k"))
        .count().write.format("noop").mode("overwrite").save())
    val mapMs = calib(() =>
      spark.range(1 << 20).select(sum(col("id"))).write.format("noop")
        .mode("overwrite").save())

    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => OracleNames.contains(n) }
    writeFile(s"$work/oracle.json", Json.value(oracle))
    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sortBy(_._1)
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    spark.stop() // drains the listener bus before the spans are written
    tracer.foreach(_.write(s"$work/spans.jsonl"))
    writeFile(s"$work/result.json", Json.obj(
      "setup_s" -> setupS,
      "cycles" -> cycles.toSeq,
      "retained_heap_mb" -> retainedMb,
      "calib_shuffle_ms" -> shuffleMs,
      "calib_map_ms" -> mapMs,
      "context" -> Map(
        "nproc" -> nproc,
        "xmx" -> jvmArgs.filter(_.startsWith("-Xmx")).lastOption.getOrElse(""),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
        "jvm_args" -> jvmArgs.filterNot(a => a.startsWith("--add-opens") || a.endsWith("=ALL-UNNAMED")),
        "spark_conf" -> conf.toMap)))
  }
}

/** Whole-stage and expression codegen compilations so far (Spark's
  * CodegenMetrics compilation-time histogram counts one per compile). */
object Codegen {
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
