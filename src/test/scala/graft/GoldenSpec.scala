package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{JobStore, JsonOut, MultiJobSync, SyncJob, SyncPipeline}
import graft.queries.{Catalog, Members}

/** Golden end-to-end JSON contracts (S7/F9, SURVEY §5.3): the three §3
  * pipeline shapes produce byte-stable JSON — null fields skipped,
  * schema-ordered keys, deterministically sorted rows — diffed against
  * checked-in goldens. Regenerate intentionally with
  * `sbt "Test/runMain graft.GoldenGen"`. */
object GoldenSpec {
  val goldenDir = "src/test/resources/goldens"
  private val sf = "/root/testdata/sf0.001"

  /** name → JSON lines for each §3 pipeline shape. */
  def shapes(spark: SparkSession): Seq[(String, Seq[String])] = Seq(
    // §3.1 `aci-ddb members all`: composed member assembly → print_json
    "members_all" -> JsonOut.lines(Catalog.ordered(Members.all(spark, sf))),
    // §3.2 `sync-app run`: ordered load/GC stats map (durations are
    // wall-clock — zeroed for the golden; counts are the contract)
    "sync_app_stats" -> Seq(
      SyncPipeline.runDemo(spark, sf).statsJson
        .replaceAll("\"duration\":[0-9.]+", "\"duration\":0")),
    // §3.3 `sync-mail run`: per-job stats JSON lines, failure isolated
    "sync_mail_stats" -> {
      graft.sink.AudienceSink.state("job-golden-all").members.clear()
      graft.sink.AudienceSink.state("job-golden-c7").members.clear()
      JobStore.clear()
      val jobs = Seq(
        SyncJob(1, "all-members", "golden-all"),
        SyncJob(2, "club-7", "golden-c7", club = Some(7L)))
      MultiJobSync.syncMany(spark, sf, jobs, concurrency = 2)
        .toSeq.sortBy(_._1).map(_._2.statsJson)
    })
}

class GoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  /** All three shapes, built once for the three tests. */
  private lazy val actualByName = GoldenSpec.shapes(spark).toMap

  private def golden(name: String): Seq[String] =
    Files.readAllLines(Paths.get(s"${GoldenSpec.goldenDir}/$name.jsonl"))
      .asScala.toSeq

  for ((name, _) <- Seq("members_all", "sync_app_stats", "sync_mail_stats")
      .map(n => n -> ())) {
    test(s"golden: $name matches checked-in contract") {
      val actual = actualByName(name)
      val expected = golden(name)
      assert(actual.size == expected.size,
        s"line count drifted: ${actual.size} vs golden ${expected.size}")
      actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
        assert(a == e, s"$name line ${i + 1} drifted:\n actual: $a\n golden: $e")
      }
    }
  }
}
