package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{JdbcStore, ParquetStore, Tables, TableStore}

/** The S1/S2 source/sink seam: option plumbing and the staging-swap
  * protocol of the JDBC impl, exercised against a recording stub
  * transport (no live database in the sandbox), plus routing and the
  * parquet default through the same trait. */
class JdbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Records every transport call; serves canned tables. */
  class Recorder extends JdbcStore.Transport {
    val reads = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val writes = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val execs = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String], Seq[String])]
    var served: Map[String, DataFrame] = Map.empty
    override def read(s: SparkSession, options: Map[String, String]): DataFrame = {
      reads += options
      served.getOrElse(options("dbtable"), Seq((1L, "x")).toDF("id", "v"))
    }
    override def write(df: DataFrame, options: Map[String, String]): Unit = {
      writes += options
      served += options("dbtable") -> df
    }
    private val Rename = """ALTER TABLE "(.+)" RENAME TO "(.+)"""".r
    private val MyRename = """RENAME TABLE `(.+)` TO `(.+)`, `(.+)` TO `(.+)`""".r
    private val MyDrop = """DROP TABLE IF EXISTS `(.+)`""".r
    override def exec(url: String, options: Map[String, String],
        statements: Seq[String]): Unit = {
      execs += ((url, options, statements))
      // behave like the database: apply renames so post-swap reads of
      // the live table see the staged data
      statements.foreach {
        case Rename(from, to) =>
          served.get(from).foreach { df => served += to -> df; served -= from }
        case MyRename(a, b, c, d) => // atomic multi-rename: all-or-nothing
          require(served.contains(a) && served.contains(c),
            s"RENAME TABLE with missing source: $a or $c")
          val (dfA, dfC) = (served(a), served(c))
          served = served - a - c + (b -> dfA) + (d -> dfC)
        case MyDrop(t) => served -= t
        case _ => ()
      }
    }
  }

  private val url = "jdbc:postgresql://warehouse:5432/conformed"

  test("jdbc read: url/dbtable/partitioning options reach the transport") {
    val rec = new Recorder
    val store = JdbcStore(url,
      options = Map("user" -> "svc", "fetchsize" -> "10000",
        "partitionColumn" -> "id", "lowerBound" -> "0", "upperBound" -> "1000000"),
      numPartitions = 16, transport = rec)
    store.table(spark, "members").count()
    val opts = rec.reads.head
    assert(opts("url") == url && opts("dbtable") == "members")
    assert(opts("numPartitions") == "16" && opts("partitionColumn") == "id")
    assert(opts("fetchsize") == "10000" && opts("user") == "svc")
  }

  test("jdbc writeSwap: staging write, atomic rename, re-read of committed state") {
    val rec = new Recorder
    val store = JdbcStore(url, options = Map("user" -> "svc", "password" -> "s3cr3t"),
      transport = rec)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val committed = store.writeSwap(spark, "members", df)
    // write went to the staging table, not the live one
    assert(rec.writes.map(_("dbtable")) == Seq("members__staging"))
    // one transaction of individual quoted statements, credentials carried
    val (execUrl, execOpts, statements) = rec.execs.head
    assert(execUrl == url)
    assert(execOpts("user") == "svc" && execOpts("password") == "s3cr3t")
    assert(statements == Seq(
      "DROP TABLE IF EXISTS \"members\"",
      "ALTER TABLE \"members__staging\" RENAME TO \"members\""))
    // the returned frame re-reads the committed table
    assert(rec.reads.map(_("dbtable")) == Seq("members"))
    assert(committed.count() == 2)
  }

  test("jdbc writeSwap on MySQL: backtick quoting, single atomic RENAME TABLE") {
    val rec = new Recorder
    // live table pre-exists (the steady-state publish)
    rec.served += "members" -> Seq((9L, "old")).toDF("id", "v")
    val store = JdbcStore("jdbc:mysql://ddb:3306/drupal",
      options = Map("user" -> "svc"), transport = rec)
    val committed = store.writeSwap(spark, "members",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val (_, _, statements) = rec.execs.head
    // MySQL DDL implicitly commits, so DROP+ALTER can't be made atomic
    // by a transaction; the swap must be the one-statement multi-rename
    assert(statements == Seq(
      "DROP TABLE IF EXISTS `members__old`",
      "CREATE TABLE IF NOT EXISTS `members` LIKE `members__staging`",
      "RENAME TABLE `members` TO `members__old`, `members__staging` TO `members`",
      "DROP TABLE IF EXISTS `members__old`"))
    assert(statements.count(_.contains("RENAME TABLE")) == 1)
    assert(committed.count() == 2)
    // identifiers with embedded backticks stay escaped
    assert(JdbcStore.MySqlDialect.quote("we`ird") == "`we``ird`")
    // and the subprotocol routes the dialect automatically
    assert(JdbcStore.dialectFor("jdbc:mysql://x/y") == JdbcStore.MySqlDialect)
    assert(JdbcStore.dialectFor("jdbc:mariadb://x/y") == JdbcStore.MySqlDialect)
    assert(JdbcStore.dialectFor(url) == JdbcStore.AnsiDialect)
  }

  test("jdbc writeSwap on MySQL: first-ever publish (no live table) still lands") {
    val rec = new Recorder
    // emulate CREATE IF NOT EXISTS on the recorder: seed live on demand
    val store = JdbcStore("jdbc:mysql://ddb:3306/drupal", transport = new Recorder {
      override def exec(url: String, options: Map[String, String],
          statements: Seq[String]): Unit = {
        statements.foreach { st =>
          if (st.startsWith("CREATE TABLE IF NOT EXISTS `members`") &&
              !served.contains("members"))
            served += "members" -> Seq.empty[(Long, String)].toDF("id", "v")
        }
        super.exec(url, options, statements)
      }
    })
    val committed = store.writeSwap(spark, "members", Seq((1L, "a")).toDF("id", "v"))
    assert(committed.count() == 1)
  }

  test("ParquetStore: a failed write never publishes — reads stay on the old version") {
    val dir = java.nio.file.Files.createTempDirectory("pstore-fail").toString
    val store: TableStore = ParquetStore(dir)
    store.writeSwap(spark, "t", Seq((1L, "a")).toDF("id", "v"))
    // a plan that fails at write time (division by zero under ANSI off
    // still fails via raise_error)
    val bad = Seq(Tuple1(1L)).toDF("id")
      .selectExpr("id", "raise_error('boom') as v")
    intercept[Exception] { store.writeSwap(spark, "t", bad) }
    // reads-after-failure: still the committed v1, not the broken v2
    assert(store.table(spark, "t").count() == 1)
    // and the next successful write still lands and publishes
    assert(store.writeSwap(spark, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v")).count() == 2)
    assert(store.table(spark, "t").count() == 2)
  }

  test("Tables.t routes jdbc: urls to JdbcStore and paths to ParquetStore") {
    assert(Tables.source(url).isInstanceOf[JdbcStore])
    assert(Tables.source("/root/testdata/sf0.001").isInstanceOf[ParquetStore])
    // parquet default still reads fixtures through the seam
    assert(Tables.t(spark, "/root/testdata/sf0.001", "region").count() == 5)
  }

  test("SyncPipeline load/gc runs through an injected TableStore") {
    val rec = new Recorder
    val store = JdbcStore(url, transport = rec)
    val p = new graft.pipeline.SyncPipeline(spark, tableStore = Some(store))
    p.load("customers", Seq((1L, "ann"), (2L, "bo")).toDF("id", "name"), Seq("id"))
    assert(rec.writes.map(_("dbtable")) == Seq("customers__staging"))
    assert(rec.execs.size == 1)
    p.gc("customers", Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    assert(rec.writes.size == 2 && rec.execs.size == 2)
    assert(p.statsMap("customers").deleted == 1)
    CacheScope.releaseAll() // driver contract: frees the persisted sources
  }

  test("ParquetStore writeSwap: versioned dirs, old version intact after new write") {
    val dir = java.nio.file.Files.createTempDirectory("pstore").toString
    val store: TableStore = ParquetStore(dir)
    val v1 = store.writeSwap(spark, "t", Seq((1L, "a")).toDF("id", "v"))
    assert(v1.count() == 1)
    val v2 = store.writeSwap(spark, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(v2.count() == 2 && store.table(spark, "t").count() == 2)
    // previous version still readable (failed-write safety)
    assert(spark.read.parquet(s"$dir/t/v1").count() == 1)
    // the committed frame carries the schema a plain read infers,
    // nullability included
    import org.apache.spark.sql.functions._
    val typed = spark.range(3).select(col("id"),
      (col("id") * 100).cast("decimal(12,2)").as("amount"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")).as("day"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      array(col("id"), col("id") + 1).as("ids"),
      when(col("id") > 0, lit("x")).as("maybe"))
    assert(!typed.schema("id").nullable && typed.schema("maybe").nullable)
    val back = store.writeSwap(spark, "typed", typed)
    assert(back.schema == spark.read.parquet(s"$dir/typed/v1").schema)
    assert(back.collect().toSet == typed.collect().toSet)
  }
}
