package e2ebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.CacheScope
import graft.pipeline.{CorpusPrep, MultiJobSync, SyncJob, SyncPipeline}
import graft.queries.{Catalog, Clubs, Leadership, Members, Regions, Users}
import graft.sink.AudienceSink
import graft.sources.ParquetStore

/** Operations of one cycle: each is attempted once and either succeeds
  * or counts as failed (its exception text is kept for the report). */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def apply(what: String)(f: => Unit): Unit = {
    attempted += 1
    try f
    catch { case NonFatal(e) => failed += 1; errors += s"$what: $e" }
  }
}

/** What a cycle leaves behind, gathered after its timed interval:
  * rows delivered, span attributes (traced mode) and the record the
  * correctness check reads. */
final case class After(rows: Long, attrs: Map[String, Any], record: Map[String, Any])

/** One user path driven through its public functions, one sync cycle at
  * a time. Only [[cycle]] is timed; [[beforeCycle]] and [[afterCycle]]
  * run outside the timed interval. */
trait Workload {
  def beforeCycle(k: Int): Unit = ()
  def cycle(k: Int, dir: String): Ops
  def afterCycle(k: Int): After
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String, seed: Long,
      tr: Option[Tracer]): Workload = name match {
    case "app-sync"    => new AppSync(spark, work, tr)
    case "mail-sync"   => new MailSync(spark, work, seed, tr)
    case "corpus-prep" => new CorpusPrepCycles(spark, work, tr)
    case other         => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def spanned[T](tr: Option[Tracer], name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    tr.fold(f)(_.span(name, attrs)(f))
}

/** `sync-app run`: extract the five entities through `queries/`, load
  * them into a parquet-backed store in FK order, then GC leaf-first to
  * the keys of this cycle's extract. */
final class AppSync(spark: SparkSession, work: String, tr: Option[Tracer]) extends Workload {
  import Workload.spanned
  private val storeDir = s"$work/store"
  private val base = ParquetStore(storeDir)
  private val pipeline = new SyncPipeline(spark,
    tableStore = Some(tr.map(t => new TimedStore(base, t)).getOrElse(base)))

  /** Load order (parents first) with each table's key. */
  val tables: Seq[(String, Seq[String])] = Seq(
    "regions" -> Seq("uid"), "clubs" -> Seq("uid"), "users" -> Seq("uid"),
    "members" -> Seq("uid"),
    "leadership" -> Seq("entity_uid", "role_uid", "uid", "start_date"))

  def cycle(k: Int, d: String): Ops = {
    val ops = new Ops
    def q(name: String)(f: => DataFrame): DataFrame = spanned(tr, s"queries.$name")(f)
    def extract(name: String): DataFrame = name match {
      case "regions" => q("Regions.all")(Regions.all(spark, d))
      case "clubs" => q("Clubs.all")(Clubs.all(spark, d))
      case "users" => q("Users.all")(Users.all(spark, d))
      case "members" => q("Members.all")(Members.all(spark, d))
      case "leadership" => q("Leadership.forAllClubs")(Leadership.forAllClubs(spark, d))
    }
    // FK filters read the parent table as this cycle just loaded it
    def fk(name: String, df: DataFrame): DataFrame = name match {
      case "clubs" => pipeline.fkFilter(df, "region_uid", pipeline.table("regions"), "uid")
      case "members" => pipeline.fkFilter(df, "uid", pipeline.table("users"), "uid")
      case "leadership" =>
        pipeline.fkFilter(pipeline.fkFilter(df, "uid", pipeline.table("users"), "uid"),
          "entity_uid", pipeline.table("clubs"), "uid")
      case _ => df
    }
    val sources = mutable.Map.empty[String, DataFrame]
    for ((name, keys) <- tables) ops(s"load $name") {
      val src = fk(name, extract(name))
      sources(name) = src
      spanned(tr, "pipeline.load", Map("table" -> name))(pipeline.load(name, src, keys))
    }
    for ((name, keys) <- tables.reverse) ops(s"gc $name") {
      spanned(tr, "pipeline.gc", Map("table" -> name))(pipeline.gc(name, sources(name), keys))
    }
    CacheScope.releaseAll()
    ops
  }

  /** Highest committed version of `name` in the store directory. */
  private def currentVersion(name: String): String = {
    val d = new java.io.File(s"$storeDir/$name")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
      .maxByOption(_.getName.drop(1).toInt).map(_.getPath).getOrElse("")
  }

  def afterCycle(k: Int): After = {
    val st = pipeline.statsMap
    val per = tables.map { case (name, _) =>
      val s = st.get(name)
      name -> Map("path" -> currentVersion(name),
        "upserted" -> s.map(_.upserted).getOrElse(-1L),
        "deleted" -> s.map(_.deleted).getOrElse(-1L))
    }
    val up = st.values.map(_.upserted).sum
    val del = st.values.map(_.deleted).sum
    After(up + del, Map("pipeline.upserted" -> up, "pipeline.deleted" -> del,
      "queries.rows" -> up), Map("tables" -> per.toMap))
  }
}

/** `sync-mail run`: club-, region- and all-scoped jobs over one shared
  * session via MultiJobSync.syncMany. Between cycles a seeded few audience
  * members are marked `cleaned` and a seeded subset of sinks gets up to
  * three transient faults. */
final class MailSync(spark: SparkSession, work: String, seed: Long, tr: Option[Tracer])
    extends Workload {
  import Workload.spanned
  private val nproc = Runtime.getRuntime.availableProcessors()
  // Nation 2 lies in region 1: the club job's members are a subset of
  // the region job's, and both are subsets of the all job's.
  val jobs: Seq[SyncJob] = Seq(
    SyncJob(1, "club-2", "club-2", club = Some(2L)),
    SyncJob(2, "region-1", "region-1", region = Some(1L)),
    SyncJob(3, "all", "all"))
  private def sinkId(j: SyncJob) = s"job-${j.list}" // MultiJobSync.runJob's naming

  private var cleaned = Map.empty[Long, Seq[String]]
  private var injected = Map.empty[Long, Int]
  private var before = Map.empty[Long, Map[String, Any]]
  private var results = Map.empty[Long, MultiJobSync.JobResult]

  private def snapshot(j: SyncJob): Map[String, Any] = {
    val st = AudienceSink.state(sinkId(j))
    st.members.asScala.toMap.map { case (id, v) =>
      id -> (v, Option(st.tags.get(id)).getOrElse(Set.empty[String]))
    }
  }

  override def beforeCycle(k: Int): Unit = {
    val rnd = new scala.util.Random(seed * 1000003L + k)
    cleaned = jobs.map { j =>
      val st = AudienceSink.state(sinkId(j))
      val ids = st.members.keySet().asScala.toSeq.sorted
      val pick = if (ids.isEmpty) Seq.empty else rnd.shuffle(ids).take(math.max(1, ids.size / 100))
      pick.foreach(id => st.members.computeIfPresent(id, (_, v) => (v._1, "cleaned", v._3)))
      j.id -> pick.sorted
    }.toMap
    injected = jobs.filter(_ => rnd.nextInt(3) == 0).map(j => j.id -> (1 + rnd.nextInt(3))).toMap
    for (j <- jobs) AudienceSink.state(sinkId(j)).failNextAttempts.set(injected.getOrElse(j.id, 0))
    if (tr.isDefined) before = jobs.map(j => j.id -> snapshot(j)).toMap
  }

  def cycle(k: Int, d: String): Ops = {
    val ops = new Ops
    try {
      results = spanned(tr, "pipeline.sync_many")(
        MultiJobSync.syncMany(spark, d, jobs, concurrency = nproc))
      CacheScope.releaseAll()
    } catch { case NonFatal(e) => results = Map.empty; ops.errors += s"syncMany: $e" }
    for (j <- jobs) ops(s"job ${j.name}") {
      results.get(j.id).flatMap(_.error).foreach(e => throw new RuntimeException(e))
      require(results.contains(j.id), "no result")
    }
    ops
  }

  def afterCycle(k: Int): After = {
    val stats = jobs.flatMap(j => results.get(j.id).flatMap(_.stats).map(j.id -> _)).toMap
    val up = stats.values.map(_.upserted).sum
    val del = stats.values.map(_.deleted).sum
    val tags = stats.values.map(_.tagOps).sum
    val retries = jobs.map(j => injected.getOrElse(j.id, 0) -
      AudienceSink.state(sinkId(j)).failNextAttempts.get()).sum
    val dump = s"$work/sinks_c$k.tsv"
    val w = new java.io.PrintWriter(dump, "UTF-8")
    try for (j <- jobs; (id, v) <- AudienceSink.state(sinkId(j)).members.asScala)
      w.println(s"${j.id}\t$id\t${v._2}")
    finally w.close()
    val changed =
      if (tr.isEmpty) 0L
      else jobs.map { j =>
        val (b, a) = (before(j.id), snapshot(j))
        (b.keySet ++ a.keySet).count(id => b.get(id) != a.get(id)).toLong
      }.sum
    val posted = up + del + tags
    After(posted,
      Map("sink.upserted" -> up, "sink.deleted" -> del, "sink.tag_ops" -> tags,
        "sink.retries" -> retries,
        "sink.useful_ratio" -> (if (posted > 0) changed.toDouble / posted else 0.0)),
      Map("sinks_file" -> dump,
        "jobs" -> jobs.map(j => Map("id" -> j.id, "club" -> j.club, "region" -> j.region,
          "upserted" -> stats.get(j.id).map(_.upserted), "deleted" -> stats.get(j.id).map(_.deleted),
          "tag_ops" -> stats.get(j.id).map(_.tagOps),
          "cleaned" -> cleaned.getOrElse(j.id, Seq.empty)))))
  }
}

/** `corpus-prep` then `pretrain-prep` on each cycle's snapshot, each into
  * fresh checkpoint and output directories; the receipts are collected
  * the way the CLI prints them. */
final class CorpusPrepCycles(spark: SparkSession, work: String, tr: Option[Tracer])
    extends Workload {
  import Workload.spanned
  private var prep = Array.empty[Row]
  private var pretrain = Array.empty[Row]
  private def dir(k: Int, what: String) = s"$work/corpus/c$k/$what"

  def cycle(k: Int, d: String): Ops = {
    val ops = new Ops
    prep = Array.empty; pretrain = Array.empty
    ops("corpus-prep") {
      prep = spanned(tr, "pipeline.corpus_prep")(Catalog.ordered(
        CorpusPrep.run(spark, d, dir(k, "ckpt_prep"), dir(k, "out_prep"))).collect())
    }
    ops("pretrain-prep") {
      pretrain = spanned(tr, "pipeline.pretrain_prep")(Catalog.ordered(
        CorpusPrep.runPretrain(spark, d, dir(k, "ckpt_pretrain"), dir(k, "out_pretrain"))).collect())
    }
    CacheScope.releaseAll()
    ops
  }

  /** Exported rows, summed from the export's MANIFEST.json. */
  private def exported(out: String): Long = {
    val f = new java.io.File(s"$out/MANIFEST.json")
    if (!f.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(l => "\"n_rows\":(\\d+)".r.findFirstMatchIn(l)
        .map(_.group(1).toLong).getOrElse(0L)).sum
      finally src.close()
    }
  }

  def afterCycle(k: Int): After = {
    val rows = exported(dir(k, "out_prep")) + exported(dir(k, "out_pretrain"))
    def cells(rs: Array[Row]) = rs.toSeq.map(_.toSeq)
    After(rows, Map.empty,
      Map("prep" -> cells(prep), "pretrain" -> cells(pretrain),
        "out_prep" -> dir(k, "out_prep"), "out_pretrain" -> dir(k, "out_pretrain")))
  }
}
