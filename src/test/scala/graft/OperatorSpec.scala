package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.F
import graft.operators.{Dedup, Merge}

object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)
}

class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keepOneByKey picks deterministic min row per key") {
    val df = Seq((1, 5, "b"), (1, 3, "a"), (2, 9, "c")).toDF("k", "ord", "v")
    val got = Dedup.keepOneByKey(df, Seq(col("k")), Seq(col("ord").asc))
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "c")))
  }

  test("priorityMerge: regular beats affiliate per key, min-id tie-break") {
    // mirrors ddb/src/members.rs:41-55 semantics
    val df = Seq(
      ("a@x.com", 1L, "affiliate"), ("a@x.com", 2L, "regular"),
      ("b@x.com", 3L, "affiliate"), ("c@x.com", 5L, "regular"), ("c@x.com", 4L, "regular")
    ).toDF("email", "id", "mtype")
      .withColumn("prio", when(col("mtype") === "regular", 0).otherwise(1))
    val got = Dedup.priorityMerge(df, Seq(col("email")), col("prio"), Seq(col("id")))
      .select("email", "id").as[(String, Long)].collect().toMap
    assert(got == Map("a@x.com" -> 2L, "b@x.com" -> 3L, "c@x.com" -> 4L))
  }

  test("uniqueBy keeps first occurrence by source rank") {
    val df = Seq((1, 0, 10, "fromA"), (1, 1, 5, "fromB"), (2, 1, 1, "fromB"))
      .toDF("k", "rank", "tie", "src")
    val got = Dedup.uniqueBy(df, Seq(col("k")), col("rank"), Seq(col("tie")))
      .select("k", "src").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "fromA", 2 -> "fromB"))
  }

  test("upsert: source wins on conflict, both sides survive") {
    val target = Seq((1, "old"), (2, "keep")).toDF("id", "v")
    val source = Seq((1, "new"), (3, "ins")).toDF("id", "v")
    val got = Merge.upsert(target, source, Seq("id"))
      .as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "new", 2 -> "keep", 3 -> "ins"))
  }

  test("upsert then retain leaves target keys == source keys (idempotent)") {
    val target = Seq((1, "a"), (2, "b"), (9, "gone")).toDF("id", "v")
    val source = Seq((1, "a2"), (3, "c")).toDF("id", "v")
    val up = Merge.upsert(target, source, Seq("id"))
    val gc = Merge.retain(up, source, Seq("id"))
    assert(gc.select("id").as[Int].collect().toSet == Set(1, 3))
    val gc2 = Merge.retain(Merge.upsert(gc, source, Seq("id")), source, Seq("id"))
    assert(gc2.as[(Int, String)].collect().toSet == gc.as[(Int, String)].collect().toSet)
  }

  test("retainDeletes excludes exempt rows (cleaned-status semantics)") {
    val target = Seq((1, "ok"), (2, "cleaned"), (3, "ok")).toDF("id", "status")
    val keep = Seq(Tuple1(1)).toDF("id")
    val del = Merge.retainDeletes(target, keep, Seq("id"),
      exempt = Some(col("status") === "cleaned"))
    assert(del.select("id").as[Int].collect().toSet == Set(3))
  }

  test("keep-side semi/anti joins: duplicate and NULL keep keys need no distinct") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val target = Seq((Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"), (None, "n"),
      (Some(1L), "a2")).toDF("k", "v")
    val keep = Seq(Some(1L), Some(1L), Some(3L), Some(3L), None, None, Some(9L)).toDF("k")
    val dim = keep.select(col("k").as("dim_k"))
    val cases = Seq(
      ("retain", Merge.retain(target, keep, Seq("k")),
        target.join(keep.distinct(), Seq("k"), "left_semi")),
      ("retainDeletes", Merge.retainDeletes(target, keep, Seq("k")),
        target.join(keep.distinct(), Seq("k"), "left_anti")),
      ("fkFilter", new graft.pipeline.SyncPipeline(spark).fkFilter(target, "k", dim, "dim_k"),
        target.join(dim.select(col("dim_k").as("k")).distinct(), Seq("k"), "left_semi")))
    for ((name, got, want) <- cases) {
      val n = want.count()
      assert(n > 0 && got.count() == n, name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
      // the keep side is joined as it is: the executed plan (after the
      // counts above) has no aggregate, and so no shuffle under one
      val aggs = nodes(got.queryExecution.executedPlan).collect { case a: BaseAggregateExec => a }
      assert(aggs.isEmpty, s"$name plans an aggregate over its keep side:\n${got.queryExecution.executedPlan}")
    }
  }

  test("idForEmail matches sha256/base64url vector and normalizes") {
    val df = Seq(("  X@Y.com  "), ("x@y.com")).toDF("email")
      .select(F.idForEmail(col("email")).as("id"))
    val ids = df.as[String].collect()
    assert(ids(0) == "uXKzgFtTjhn-jqztM9qq0D7sD5YZc947Rx7OTlz_sIQ")
    assert(ids(0) == ids(1))
  }

  test("memberIdForEmail is md5 of lowercased email") {
    val id = Seq("X@Y.com").toDF("e")
      .select(F.memberIdForEmail(col("e"))).as[String].head()
    assert(id == "767934a648524da57388558217ad9c2d")
  }

  test("portableHash60 matches md5-prefix reference value") {
    val h = Seq("tok").toDF("t")
      .select(F.portableHash60(col("t"), 7)).as[Long].head()
    assert(h == 760900949347048473L)
  }

  test("isValidEmail rejects empty and blocked domains") {
    val got = Seq("a@b.com", "", "x@noemail.com", "X@EXAMPLE.COM", "ok@sub.example.org")
      .toDF("e").select(F.isValidEmail(col("e"))).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false, false, true))
  }

  test("validAsOf boundary semantics: start==asOf and end==asOf included, null end open") {
    val asOf = lit("2000-01-01").cast("date")
    val df = Seq(
      ("2000-01-01", Some("2000-06-01")), // starts on asOf → valid
      ("1999-01-01", Some("2000-01-01")), // ends on asOf → valid
      ("1999-01-01", None),               // open-ended → valid
      ("2000-01-02", None),               // starts after → invalid
      ("1999-01-01", Some("1999-12-31"))  // ended before → invalid
    ).toDF("s", "e")
      .select(col("s").cast("date").as("s"), col("e").cast("date").as("e"))
    val got = df.select(F.validAsOf(col("s"), col("e"), asOf)).as[Boolean].collect().toSeq
    assert(got == Seq(true, true, true, false, false))
  }
}
