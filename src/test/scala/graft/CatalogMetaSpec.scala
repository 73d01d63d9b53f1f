package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{MergeField, MergeFieldCatalog}

class CatalogMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merge-field catalog validates tags, types, duplicates") {
    assert(MergeFieldCatalog.validate(MergeFieldCatalog.all).isRight)
    assert(MergeFieldCatalog.validate(Seq(MergeField("TOOLONGTAG1", "text", "x"))).isLeft)
    assert(MergeFieldCatalog.validate(Seq(MergeField("A", "nonsense", "x"))).isLeft)
    assert(MergeFieldCatalog.validate(Seq(
      MergeField("A", "text", "x"), MergeField("A", "text", "y"))).isLeft)
  }

  test("merge-field config parse round-trip") {
    val lines = Iterator("# catalog", "NAME:text:Full Name:required", "BAL:number:Balance")
    val parsed = MergeFieldCatalog.parse(lines)
    assert(parsed == Right(Seq(
      MergeField("NAME", "text", "Full Name", required = true),
      MergeField("BAL", "number", "Balance"))))
    assert(MergeFieldCatalog.parse(Iterator("garbage")).isLeft)
  }

  test("schema diff partitions into add/delete/update") {
    val declared = Seq(MergeField("A", "text", "a"), MergeField("B", "number", "b2"))
    val live = Seq(MergeField("B", "number", "b"), MergeField("C", "text", "c"))
    val (add, del, upd) = MergeFieldCatalog.diff(declared, live)
    assert(add.map(_.tag) == Seq("A"))
    assert(del.map(_.tag) == Seq("C"))
    assert(upd.map(_.tag) == Seq("B")) // name changed b → b2
  }

  test("bench headline covers every catalog entry exactly once") {
    // Round-7 verdict: 23 oracle entries had no bench coverage, so a perf
    // regression in them was invisible round-over-round. Pin headline ≡
    // catalog so a new entry can't be added without bench coverage.
    val dups = Bench.headline.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate headline entries: $dups")
    val missing = SparkEntry.queries.keySet -- Bench.headline.toSet
    val stale = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"catalog entries missing from bench headline: ${missing.toSeq.sorted}")
    assert(stale.isEmpty, s"stale headline names not in catalog: ${stale.toSeq.sorted}")
  }

  test("F9 JSON output contract: null fields skipped (serde skip_serializing_if)") {
    val df = Seq(("x", Some(1)), ("y", None)).toDF("name", "opt")
    val json = df.select(to_json(struct(col("name"), col("opt")),
      Map("ignoreNullFields" -> "true")).as("j")).as[String].collect().toSet
    assert(json == Set("""{"name":"x","opt":1}""", """{"name":"y"}"""))
  }

  /** `.scala` files under `root` whose text contains `needle`, relative to `root`. */
  private def filesContaining(root: String, needle: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => base.relativize(p).toString).toSet
    finally walk.close()
  }

  test("one session factory and one session-memo form in the sources") {
    // needles built by concatenation so this file does not match itself
    assert(filesContaining("src", "SparkSession" + ".builder()") ==
      Set("main/scala/graft/GraftSession.scala"),
      "build sessions through GraftSession.build")
    assert(filesContaining("src/main", "onSessionRelease" + "(") ==
      Set("scala/graft/CacheScope.scala", "scala/graft/queries/Members.scala"),
      "cross-query caches are SessionMemos; only the DrupalFixture LRU registers its own hook")
    assert(!filesContaining("src/main", "ConcurrentHashMap")
      .contains("scala/graft/queries/DataCatalog.scala"),
      "DataCatalog memos are SessionMemos")
  }

  test("GraftSession sessions run with adaptive execution on") {
    assert(spark.sessionState.conf.adaptiveExecutionEnabled)
  }
}
