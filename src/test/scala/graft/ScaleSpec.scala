package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bucketing
import graft.streaming.EventStream

/** Scale-mechanics specs: bucketed joins really skip the shuffle, and
  * stateful streaming sessionization matches its batch twin. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  /** Flatten the EXECUTED plan through AQE wrappers: after an action,
    * `executedPlan` is an AdaptiveSparkPlanExec whose children are
    * hidden behind query-stage nodes, so a naive `plan.collect` sees
    * almost nothing and every plan assertion passes vacuously. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case r: ReusedExchangeExec => p +: flatten(r.child)
      case _ => p +: p.children.flatMap(flatten)
    }
  }
  private def nodes(df: org.apache.spark.sql.DataFrame) =
    flatten(df.queryExecution.executedPlan)

  test("bucketed co-located join plans without any shuffle exchange") {
    import graft.sources.Tables
    Bucketing.writeBucketed(Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice")), "b_orders", "k", 8)
    Bucketing.writeBucketed(Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_quantity")), "b_lineitem", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "k")
      assert(joined.count() > 0)
      val shuffles = nodes(joined).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, "bucketed join must not shuffle either side")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("mbr1b: the bucketed EAV assembly join plans with ZERO ShuffleExchange") {
    import graft.queries.{DrupalFixture, Members}
    import graft.sources.{BucketedStore, Tables}
    val table = "graft_orders_bykey_" + BucketedStore.sfTag(sf)
    val orders = BucketedStore.ensure(spark, table,
      Tables.t(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
      "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force SMJ: at 100 TB none of these fact-side frames broadcasts,
      // so the pin models the at-scale plan, not the fixture's
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the flagship's acp subtree, the production paragraph chain
      // (p ⋈ pc ⋈ fjd ⋈ fld on paragraph_id), over the PRE-BUCKETED
      // base: every projection inherits HashPartitioning(o_orderkey)
      // from the scan (alias-aware), so the 4-way join needs no exchange
      def acpOf(): org.apache.spark.sql.DataFrame =
        Members.paragraphChain(spark, sf, "membership", Some(Members.liveClubs(spark, sf)))
      val bucketed = DrupalFixture.withBases(Map("orders" -> orders))(acpOf())
      assert(bucketed.count() > 0)
      val shuffles = nodes(bucketed).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        "the pre-bucketed assembly join must plan shuffle-free — at 100 TB " +
          "these are the flagship's multi-terabyte fact exchanges")
      // non-vacuity: the SAME subtree on plain storage does shuffle
      val plain = acpOf()
      plain.count()
      assert(nodes(plain).collect { case s: ShuffleExchangeExec => s }.nonEmpty,
        "control: the unbucketed assembly join should shuffle under SMJ")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      CacheScope.releaseAll()
    }
  }

  test("mbr bucketed storage: FULL flagship plan exchange count vs documented lower bound") {
    // r16 (the r15 verdict's ask #5): the acp-subtree pin above proves
    // the EAV assembly goes exchange-free; this pin counts exchanges on
    // the WHOLE byClub plan. Measured under forced SMJ at 4 shuffle
    // partitions: PLAIN storage = 20 exchanges; BUCKETED (orders by
    // o_orderkey, customer by c_custkey) = 11. The 9 eliminated are the
    // 4-way EAV assembly (paragraph_id ×4, one per chain side) and the
    // customer-derived frames' uid-side shuffles (md/pm/pu/pp) — at
    // 100 TB these are the multi-terabyte fact exchanges. The remaining
    // exchanges are the documented LOWER BOUND: every one is an
    // algorithmic RE-KEY no single bucketing per table can avoid —
    //   email            (the dedupe_members window key)
    //   partner_user_id  (partner self-joins re-key uid → partner)
    //   uid              (flags rollup re-keys acp from paragraph_id;
    //                     partition-count alignment with the 32-bucket
    //                     customer scan can add a width-change echo)
    //   (uid, pid) ×3    (flag-link joins on the composite key)
    //   ap_pid           (active-pick re-keys flags onto paragraphs)
    //   o_custkey        (brns re-keys orders from o_orderkey)
    // Sharp claim, pinned by KEY: the bucketed plan has NO exchange on
    // a bare assembly key (paragraph_id / entity_id); the plain plan
    // has 4 (the control that keeps the pin non-vacuous).
    import graft.queries.{DrupalFixture, Members, MembersCatalog}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
        df.count()
        nodes(df).collect { case s: ShuffleExchangeExec => s }
      }
      def bareAssemblyKeys(xs: Seq[ShuffleExchangeExec]): Seq[String] = xs
        .map(_.outputPartitioning)
        .collect {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
              if h.expressions.size == 1 => h.expressions.head.references.map(_.name).toSeq
        }
        .flatten.filter(n => n == "paragraph_id" || n == "entity_id")
      val plain = exchanges(Members.byClub(spark, sf, 7L))
      val bucketed = exchanges(
        DrupalFixture.withBases(MembersCatalog.bucketedBases(spark, sf)) {
          Members.byClub(spark, sf, 7L)
        })
      assert(bareAssemblyKeys(bucketed).isEmpty,
        s"bucketed full plan must not shuffle on bare assembly keys, got ${bareAssemblyKeys(bucketed)}")
      assert(bareAssemblyKeys(plain).size >= 4,
        "control: plain storage should shuffle the 4-way assembly")
      assert(bucketed.size <= 12,
        s"bucketed full plan regressed past the documented bound: ${bucketed.size} exchanges")
      assert(plain.size - bucketed.size >= 8,
        s"bucketing must eliminate the assembly + customer-side exchanges " +
          s"(plain ${plain.size}, bucketed ${bucketed.size})")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      CacheScope.releaseAll()
    }
  }

  test("DrupalFixture base cache is a one-dir LRU: alternating dirs never pin both") {
    // r16 (the r15 verdict's ask #1): the r15 standing hook closed the
    // many-dirs leak by evicting on EVERY per-query releaseAll, which
    // cost the mbr/mh bench family its cross-query cache (mbr4 2.03×).
    // The leak's actual grain is the DIR: requesting a different
    // fixture dir evicts the previous dir's frames, so (a) two dirs
    // alternating leave at most one dir's frames pinned, and (b) a
    // per-query releaseAll no longer touches the cache at all.
    import graft.queries.DrupalFixture
    val d1 = "/root/testdata/sf0.001"
    val d2 = "/root/testdata/sf0.01"
    CacheScope.releaseSession() // reset whatever earlier suites pinned
    DrupalFixture.paragraphs(spark, d1).count()
    assert(DrupalFixture.pinnedBaseDirs == Set(d1))
    CacheScope.releaseAll() // per-query release must NOT evict the dir's bases
    assert(DrupalFixture.pinnedBaseDirs == Set(d1),
      "per-query releaseAll must not drop the fixture base cache (the r15 mbr4 regression)")
    DrupalFixture.paragraphs(spark, d2).count()
    assert(DrupalFixture.pinnedBaseDirs == Set(d2),
      "switching dirs must evict the previous dir's frames (the leak bound)")
    DrupalFixture.paragraphs(spark, d1).count()
    assert(DrupalFixture.pinnedBaseDirs == Set(d1))
    CacheScope.releaseSession()
    assert(DrupalFixture.pinnedBaseDirs.isEmpty,
      "session release must leave nothing pinned")
  }

  test("bpe training scans the corpus once; iterations run on the cached vocab") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Bpe
    import graft.sources.Tables
    val (merges, fin) = Bpe.learn(
      Bpe.wordCounts(Tables.documents(spark, sf), col("text")), 4)
    assert(merges.size == 4)
    fin.count()
    val ns = nodes(fin)
    // every iteration (and the final vocab) reads the persisted word-
    // frequency table — the corpus parquet is scanned exactly once, at
    // vocab build; at 100 TB re-deriving it per merge would be fatal
    assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "bpe vocab must be persisted: iterations may not re-derive it from the corpus")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "bpe must stay join-free over the vocab")
    CacheScope.releaseAll()
  }

  test("exact-substring dedup: one persisted window pass, hash-equi semi-join only, no pair join") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.NearDup
    import graft.sources.Tables
    val spans = NearDup.exactSubstrSpans(
      Tables.documents(spark, sf), col("doc_id"), col("text"), 8)
    spans.count()
    val ns = nodes(spans)
    // the stride-1 window frame feeds BOTH the distinct-doc count and
    // the coverage semi-join — it must come from the persisted pass, not
    // a second corpus expansion
    assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "window frame must be persisted and reused, not re-expanded from the corpus")
    // membership is decided by shared window hashes; there is no doc-pair
    // join anywhere — the property that keeps dsub1 linear at 100 TB
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "exact-substring dedup must never form doc pairs")
    CacheScope.releaseAll()
  }

  test("graph-walk ANN: hops are equi-joins on the adjacency list, never a pair scan") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Similarity
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val walk = Similarity.graphWalk(e,
      Similarity.mutualKnn(e, "label", 10),
      e.filter(col("vec_id") % 50 === 0), 5)
    walk.count()
    val ns = nodes(walk)
    // frontier × adjacency and candidate-vector fetches are id
    // equi-joins; the corpus is never crossed with itself — the
    // property that separates a graph walk from brute force at 100 TB
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "graph walk must never form a cross/nested-loop product")
    CacheScope.releaseAll()
  }

  test("seeded graph walk: centroid routing is a broadcast rank; seeding adds no pair scan") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.{Clustering, Similarity}
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val walk = Similarity.graphWalkSeeded(e,
      Similarity.mutualKnn(e, "label", 10),
      e.filter(col("vec_id") % 50 === 0),
      Clustering.kmeans(e, 10, 3), 5)
    walk.count()
    val ns = nodes(walk)
    // the only legal cartesian in the whole plan is the k-row centroid
    // frame crossed against queries/corpus for assignment (the IVF
    // broadcast rank); a corpus-sized cross product must never appear
    val cross = ns.collect {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    cross.foreach { n =>
      assert(n.output.exists(a => a.name == "cid" || a.name == "cv"),
        s"non-centroid cross product in the seeded walk: ${n.nodeName}")
    }
    CacheScope.releaseAll()
  }

  test("layered graph walk: no constant-key equi-join; every cross is a bounded frame") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import graft.operators.{Clustering, Similarity}
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    // cutLineage=false: production checkpoints the memoized layer frames
    // (plan truncation only — the construction is identical); the pin
    // needs the layer-build subtrees visible to assert on their joins.
    val walk = Similarity.graphWalkLayered(e,
      Similarity.mutualKnn(e, "label", 10),
      e.filter(col("vec_id") % 50 === 0),
      Clustering.kmeans(e, 10, 3), 5, cutLineage = false)
    walk.count()
    // the r13 apex funnelled a corpus-proportional sample through a
    // `gcell = lit(0)` equi-join — all pair work on ONE shuffle key, and
    // quadratic in the corpus at a fixed permille. The r14 contract:
    // (a) no synthetic constant cell column anywhere in the plan,
    assert(!walk.queryExecution.analyzed.toString.contains("gcell"),
      "a constant synthetic cell column is back in the layered walk")
    // (b) no equi-join keyed on a foldable (constant) expression,
    val ns = nodes(walk)
    val eqKeys = ns.flatMap {
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case _ => Nil
    }
    assert(!eqKeys.exists(_.foldable),
      s"constant-literal equi-join key in the layered walk: " +
        eqKeys.filter(_.foldable).mkString(", "))
    // (c) every cross/NLJ is bounded: either the k-row centroid
    // assignment frame (IVF broadcast rank — outputs cid) or the
    // fixed-COUNT apex kNN, whose subtree carries the topCount limit
    // (TakeOrderedAndProject/GlobalLimit) that makes it model-sized
    val cross = ns.collect {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    cross.foreach { n =>
      val centroid = n.output.exists(_.name == "cid")
      val bounded = flatten(n).exists {
        case _: TakeOrderedAndProjectExec => true
        case _: GlobalLimitExec => true
        case _ => false
      }
      assert(centroid || bounded,
        s"unbounded cross product in the layered walk: ${n.nodeName}")
    }
    CacheScope.releaseAll()
  }

  test("substring mask: document text never rides a shuffle — masks broadcast to the scan") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.NearDup
    import graft.sources.Tables
    val masked = NearDup.exactSubstrMask(
      Tables.documents(spark, sf), col("doc_id"), col("text"), 8)
    masked.count()
    val ns = nodes(masked)
    // the mask frame (span-bearing docs only) broadcasts; the doc scan
    // applies it map-side — the property that keeps dsub2's text path
    // shuffle-free at 100 TB
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the per-doc mask must broadcast-join to the document scan")
    val textThroughShuffle = ns.collect { case s: ShuffleExchangeExec => s }
      .filter(_.output.exists(a =>
        a.name == "tk" || a.name == "text" || a.name == "kept" || a.name == "clean_text"))
    assert(textThroughShuffle.isEmpty,
      s"document text/token arrays must never shuffle, got: $textThroughShuffle")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "substring mask must never form doc pairs")
    CacheScope.releaseAll()
  }

  test("substring mask size-guard: oversized mask frame degrades to an un-hinted doc_id join; small frame still broadcasts") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.NearDup
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val spans = NearDup.exactSubstrSpans(docs, col("doc_id"), col("text"), 8)
    // Disable BOTH auto-broadcast thresholds so the only way a broadcast
    // hash join appears is via maskSpans' explicit hint — this isolates
    // the guard: with the cap exceeded the hint must be ABSENT (the
    // fallback the scaladoc promises), under the cap it must be present.
    val savedStatic = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(key: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = NearDup.maskSpans(docs, col("doc_id"), col("text"), spans,
        broadcastMaxDocs = 0L) // every non-empty mask frame exceeds the cap
      val small = NearDup.maskSpans(docs, col("doc_id"), col("text"), spans)
      val bigRows = big.count(); val smallRows = small.count()
      assert(bigRows == smallRows,
        "both join strategies must produce the same masked corpus")
      assert(!nodes(big).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "over the cap, the mask join must NOT be forced to broadcast " +
          "(this is the OOM path on a high-duplication corpus)")
      assert(nodes(small).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "under the cap, the mask frame must still broadcast to the scan")
      assert(big.exceptAll(small).isEmpty && small.exceptAll(big).isEmpty,
        "fallback join must be value-identical to the broadcast plan")
    } finally {
      restore("spark.sql.autoBroadcastJoinThreshold", savedStatic)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAqe)
      CacheScope.releaseAll()
    }
  }

  test("walk hop size-guard: the frontier broadcasts up to its row bound, and joins plainly above it") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.Similarity
    // 2 queries × beam 3 = 6 frontier rows, each node with two edges
    val frontier = spark.range(0, 6).select((col("id") % 2).as("query_id"), col("id").as("node_id"))
    val adj = spark.range(0, 12).select((col("id") % 6).as("src"), (col("id") + 100).as("dst"))
    // auto-broadcast off on both planners: a broadcast hash join can only
    // come from expand's hint
    val savedStatic = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(key: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // nQ feeds only the guard, so the same small frontier can stand on
      // either side of the bound
      val bound = Similarity.FrontierBroadcastMaxRows
      val panel = Similarity.expand(frontier, adj, nQ = 2, beam = 3)
      val at = Similarity.expand(frontier, adj, nQ = bound, beam = 1)
      val over = Similarity.expand(frontier, adj, nQ = bound + 1, beam = 1)
      assert(at.count() == 12 && over.count() == 12)
      assert(nodes(panel).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "a catalog-sized panel must stay under the bound")
      assert(nodes(at).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "at the bound the frontier must broadcast")
      assert(!nodes(over).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "over the bound the expansion join must not be forced to broadcast")
      assert(panel.exceptAll(over).isEmpty && over.exceptAll(panel).isEmpty,
        "both join strategies must reach the same nodes")
    } finally {
      restore("spark.sql.autoBroadcastJoinThreshold", savedStatic)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAqe)
    }
  }

  test("real media pipelines: payload bytes never ride a shuffle — only fingerprints leave the decode tasks") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Multimodal
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val plans = Seq(
      "m4c" -> Multimodal.imageDupPairs(Multimodal.imageDHash(
        Multimodal.syntheticJpegImages(docs)), 3),
      "m4d" -> Multimodal.imageDupPairs(Multimodal.imageDHashOriented(
        Multimodal.syntheticJpegExifImages(docs)), 3),
      "m5b" -> Multimodal.audioDupPairs(Multimodal.audioSpectralFingerprint(
        Multimodal.syntheticAudio(docs)), 4),
      "m6b" -> Multimodal.videoDupPairs(Multimodal.videoFrameHashesReal(
        Multimodal.syntheticMjpegVideos(docs)), 3, 3),
      "m6d" -> Multimodal.videoDupPairs(Multimodal.videoFrameHashesReal(
        Multimodal.syntheticMixedContainerVideos(docs)), 3, 3),
      "m5c" -> Multimodal.audioDupPairs(Multimodal.audioFingerprint(
        Multimodal.syntheticMixedStorageAudio(docs)), 3))
    plans.foreach { case (name, df) =>
      df.count()
      val ns = nodes(df)
      // decode runs inside the scan's mapPartitions; the only rows that
      // shuffle are 8-byte fingerprints + ids — the property that makes
      // a 100 TB media corpus dedupable without moving the media
      val payloadShuffles = ns.collect { case s: ShuffleExchangeExec => s }
        .filter(_.output.exists(_.name == "payload"))
      assert(payloadShuffles.isEmpty,
        s"$name: media payloads must never shuffle, got $payloadShuffles")
      assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$name: banded pair search must never form a cross product")
    }
    CacheScope.releaseAll()
  }

  test("bm25 statistics derive from one persisted tokenize pass, not repeated text scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.operators.Retrieval
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val qs = Seq((1L, "spark table join")).toDF("q_id", "q_text")
    val ranked = Retrieval.bm25(docs, col("doc_id"), col("text"), qs)
    ranked.count()
    val ns = nodes(ranked)
    assert(ns.count(_.isInstanceOf[InMemoryTableScanExec]) >= 3,
      "tf/dl/df/total must read the persisted term-frequency table")
    // the raw text column is tokenized once (inside the cached tf build);
    // the only other corpus access is the column-pruned n_docs count
    val textScans = ns.collect { case f: FileSourceScanExec => f }
      .count(_.schema.fieldNames.contains("text"))
    assert(textScans == 0,
      s"no post-cache plan node may rescan the text column, saw $textScans")
    CacheScope.releaseAll()
  }

  test("lm coverage scoring joins the corpus against a BROADCAST reference model") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.LmFilter
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val ref = LmFilter.refBigrams(docs, col("doc_id"), col("text"), 1000)
    val gate = LmFilter.coverageGate(docs, col("doc_id"), col("text"), ref)
    gate.count()
    val ns = nodes(gate)
    // the V-row model must reach every scoring task as a broadcast —
    // a shuffled join here would reshuffle the whole exploded corpus
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "reference-bigram join must be a broadcast hash join")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("near-dup pair generation never plans a nested-loop/cartesian join") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import graft.operators.NearDup
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    // d4/d7-shape (co-group counting) and d2-shape (band candidates):
    // the pair space must come from equi-joins only — a nested-loop node
    // would mean the quadratic all-pairs regression snuck back in
    for (df <- Seq(
        NearDup.ngramJaccardBlocked(docs, col("doc_id"), col("text"),
          Seq(col("lang"), col("source")), 0.5),
        NearDup.ngramJaccardBlocked(docs, col("doc_id"), col("text"),
          Seq(col("lang"), col("source")), 0.3, maxDocFreq = Some(20L)),
        NearDup.candidates(NearDup.bands(
          NearDup.minhashSigs(docs, col("doc_id"), col("text")))))) {
      df.count()
      val bad = nodes(df).collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(bad.isEmpty, s"non-equi join in near-dup plan: $bad")
    }
  }

  test("simhash band keys draw from the full 16-bit space, not 256 buckets") {
    import graft.operators.NearDup
    import graft.sources.Tables
    // The r2 scale wart: 8-bit band keys (256 values) made each band's
    // bucket self-join quadratic at corpus scale. With 64-bit signatures
    // and 16-bit bands the key space is 65,536 per band — on even a tiny
    // corpus the observed keys must overflow the old 8-bit range, and
    // every one of the 64 signature bits must actually vary (no dead
    // top-4 bits from the 60-bit token hash).
    val sig = NearDup.simhash(Tables.documents(spark, sf), col("doc_id"), col("text"))
      .persist()
    try {
      val banded = sig.select(
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(65535).as("key"))): _*)).as("bs"))
        .select(col("bs.band").as("band"), col("bs.key").as("key"))
      val perBand = banded.groupBy("band")
        .agg(max("key").as("mx"), countDistinct("key").as("nk"))
        .collect()
      assert(perBand.length == 4)
      perBand.foreach { r =>
        assert(r.getAs[Long]("mx") > 255L,
          s"band ${r.get(0)} keys confined to 8 bits — banding regressed")
      }
      val bitsSeen = sig.agg(
        sum(when(col("simhash") < 0, 1L).otherwise(0L)).as("neg"),
        bit_or(col("simhash")).as("anyset")).collect()(0)
      assert(bitsSeen.getAs[Long]("neg") > 0, "sign bit (63) never set — dead top bits")
      assert(bitsSeen.getAs[Long]("anyset") == -1L, "some signature bit never varies")
    } finally sig.unpersist()
  }

  test("contamination scan plans equi-joins only; sampling is a shuffle-free map") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.{Contamination, Sampling}
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val c = Contamination.flagged(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"), 0.5)
    c.count()
    val bad = nodes(c).collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, s"non-equi join in contamination plan: $bad")
    // deterministic sampling must not shuffle: keep/drop is per-row
    val smp = Sampling.bernoulli(docs, col("doc_id"), 200)
    smp.count()
    val shuffles = nodes(smp).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, "sampling plan must be a pure map")
  }

  test("bloom semi-join probes the filter at the fact scan, before any join") {
    import graft.plans.{BloomJoin, BloomMightContain}
    import graft.sources.Tables
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val urgent = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
    val out = BloomJoin.semiJoin(
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity")),
      col("l_orderkey"), urgent, col("o_orderkey"))
    out.count()
    // the might_contain filter must sit BELOW the semi-join (map-side,
    // pre-shuffle), not above it
    val joins = nodes(out).collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    val bloomFiltersUnderJoin = joins.flatMap(_.children.flatMap(flatten)).collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomMightContain]) => f
    }
    assert(bloomFiltersUnderJoin.nonEmpty,
      "bloom might_contain not applied below the join")
  }

  test("bloom anti-join ≡ plain left_anti; bloom-negative rows skip the join (r18, dp14's shape)") {
    import graft.plans.{BloomJoin, BloomMightContain}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    // string keys with partial overlap — the crawled-set shape
    val probe = spark.range(0, 5000)
      .select(concat(lit("https://h.org/p/"), col("id")).as("url"))
    val crawled = spark.range(0, 5000, 3)
      .select(concat(lit("https://h.org/p/"), col("id")).as("curl"))
    val out = BloomJoin.antiJoin(probe, col("url"), crawled, col("curl"))
    val plain = probe.join(crawled, col("url") === col("curl"), "left_anti")
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty,
      "bloom anti-join must be exactly a left_anti (collisions scrubbed by the real key)")
    // plan shape: a NEGATED might_contain filter exists OUTSIDE any
    // join (the no-shuffle pass-through lane), and the exact anti-join
    // probes only the bloom-positive slice
    out.count()
    val plan = nodes(out)
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "the exact anti-join must exist (fpp scrub)")
    val bloomFilters = plan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomMightContain]) => f
    }
    assert(bloomFilters.size >= 2,
      "both lanes (bloom-negative pass-through, bloom-positive join probe) must filter on the bloom")
  }

  test("tx8 does not force-broadcast the vocabulary-cardinality df table") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = graft.queries.DataCatalog.tx8.build(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // the only acceptable hint is the 1-row corpus count; the per-term
    // doc-frequency aggregate (output column `df`) is vocabulary-sized —
    // billions of terms on a web corpus — and must never be hint-forced
    hints.foreach { h =>
      assert(!h.child.output.exists(_.name == "df"),
        "doc-frequency subtree is force-broadcast — OOMs at corpus scale")
      assert(h.child.maxRows.contains(1L),
        s"forced broadcast of a non-single-row subtree: ${h.child.output.map(_.name)}")
    }
  }

  test("packing: the corpus-side window is partitioned; only the bucket-offset frame is global") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.Packing
    val rows = spark.range(0, 2000)
      .select(col("id").as("doc_id"), (pmod(col("id") * 7, lit(50)) + 1).as("toks"))
    val packed = Packing.pack(rows, col("doc_id"), col("toks"), budget = 512, buckets = 16)
    packed.write.format("noop").mode("overwrite").save()
    val wins = nodes(packed).collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected window nodes in the packing plan")
    // Global (unpartitioned) windows single-thread their input. Packing
    // is allowed exactly one — the exclusive prefix over the ≤ buckets
    // bucket totals — never one over the corpus itself.
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.size == 1,
      s"exactly one global window (the tiny bucket-offset frame), got ${global.size}")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the per-doc running sum must be partitioned by bucket")
    // the offsets frame joins back by broadcast — the corpus side must
    // not shuffle for a ≤ buckets-row join
    assert(nodes(packed).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bucket offsets should broadcast-join back to the corpus")
  }

  test("global rank: corpus window is bucket-partitioned; only the offsets frame is global") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.Ranking
    val rows = spark.range(0, 2000)
      .select(col("id"), (pmod(col("id") * 31, lit(997))).as("score"))
    val ranked = Ranking.globalRank(rows, col("id"), col("score"), buckets = 16)
    ranked.write.format("noop").mode("overwrite").save()
    val wins = nodes(ranked).collect { case w: WindowExec => w }
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.size == 1,
      s"exactly one global window (the ≤ buckets offsets frame), got ${global.size}")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the per-row row_number must be partitioned by score bucket")
    assert(nodes(ranked).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bucket offsets should broadcast-join back to the corpus")
  }

  test("grouped rank: corpus window partitions by (grp, bucket); only the offsets frame is global") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.Ranking
    val rows = spark.range(0, 2000)
      .select(concat(lit("g"), pmod(col("id"), lit(3))).as("g"), col("id"),
        (pmod(col("id") * 31, lit(997))).as("score"))
    val ranked = Ranking.groupRank(rows, col("g"), col("id"), col("score"),
      buckets = 16)
    ranked.write.format("noop").mode("overwrite").save()
    val wins = nodes(ranked).collect { case w: WindowExec => w }
    // NO unpartitioned window anywhere: even the offsets frame
    // partitions by grp (≤ groups×buckets rows), and the per-row
    // row_number partitions by (grp, bucket) — a plain per-language
    // window would show a partitionSpec of just the group column over
    // corpus rows, which is exactly the degenerate shape this operator
    // exists to avoid.
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "every window must be partitioned")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the per-row row_number must partition by (grp, bucket)")
    assert(nodes(ranked).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bounds/offsets frames should broadcast-join back to the corpus")
  }

  test("keyless bucketed range join: one bucket equi-join, no cartesian, no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.sources.Tables
    import graft.operators.Temporal
    val ev = Tables.events(spark, sf)
    val wins = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("w_id"), col("ts").as("w_start"),
        (col("ts") + expr("(event_id % 2 + 1) * INTERVAL 1 HOURS")).as("w_end"))
    val out = Temporal.rangeJoinBucketed(ev.select(col("event_id"), col("ts")),
      "ts", wins, "w_start", "w_end", 7200000000L)
    assert(out.count() > 0, "fixture must produce matches")
    val ns = nodes(out)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "the rewrite's whole point: the naive probes×intervals nested loop must not appear")
  }

  test("bigram association: vocab joins are equi-joins, top-k takes ordered, no global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.TextOps
    import graft.sources.Tables
    val out = TextOps.bigramAssoc(Tables.documents(spark, sf), col("text"),
      minCount = 1L)
    assert(out.count() > 0)
    val ns = nodes(out)
    assert(ns.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-k must plan as TakeOrderedAndProject, never a global sort of the bigram table")
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty)
  }

  test("shard manifest aggregates map-side (partial agg) and shuffles only shard_id groups") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import graft.operators.Sharding
    import graft.sources.Tables
    val m = Sharding.manifest(Tables.documents(spark, sf), col("doc_id"), col("text"), 8)
    m.write.format("noop").mode("overwrite").save()
    val aggs = nodes(m).collect { case a: HashAggregateExec => a }
    // partial + final pair: the mod-sum is computed map-side, so only
    // numShards partial rows per task cross the exchange — at 100 TB the
    // shuffle for the whole manifest is KB-sized.
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "manifest must do map-side partial aggregation")
    val shuffles = nodes(m).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, // shard_id agg + the ordered() output sort
      s"manifest should shuffle once for the agg (+1 output sort), got ${shuffles.size}")
  }

  test("pq assignment broadcasts the codebook; corpus floats never shuffle") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    import graft.operators.Clustering
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val codes = Clustering.pqAssign(e, Clustering.pqTrain(e))
    codes.write.format("noop").mode("overwrite").save()
    val ns = nodes(codes)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "codebook must broadcast-join the exploded subvectors")
    assert(!ns.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      "no shuffle join anywhere in the assignment plan")
    // the only exchange is the (vec_id, sub) argmax aggregation
    val shuffles = ns.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"assignment should shuffle once (argmax agg), got ${shuffles.size}")
  }

  test("sim5 ADC: corpus side of the scoring join carries code ints + norm, never float vectors") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.operators.{Clustering, Similarity}
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val cells = Clustering.kmeansAssign(e, 4, 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val cb = Clustering.pqTrain(e, m = 8, k = 2, iters = 1)
    val out = Similarity.topKIvfPq(
      e.join(cells, Seq("vec_id")), Clustering.pqAssign(e, cb), cb, cells, 3)
    assert(out.count() > 0)
    val plan = out.queryExecution.optimizedPlan
    // the reconstruct path is gone: no sub-centroid flatten anywhere,
    // scoring goes through the per-query ADC lookup tables
    assert(!plan.toString.contains("flatten("),
      "sim5 must not reconstruct full vectors at scan time")
    assert(plan.toString.contains("map_from_entries"),
      "ADC tables missing from the plan")
    // every join side that carries the PQ codes carries NO float vector:
    // the corpus scan payload into scoring is (sub, code) ints + rn2
    val codeSides = plan.collect { case j: Join => j }
      .flatMap(j => Seq(j.left, j.right))
      .filter(_.output.exists(_.name == "codes"))
    assert(codeSides.nonEmpty, "scoring join with PQ codes not found")
    codeSides.foreach { side =>
      val floats = side.output.filter(_.dataType == ArrayType(FloatType))
      assert(floats.isEmpty,
        s"corpus side of the ADC scoring join carries float vectors: $floats")
    }
  }

  test("sim5b refine: re-score join touches only candidate rows — equi-joins, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Similarity
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    // a synthetic candidate list (k′ = 3 per query over a %10 sample):
    // refine must plan id-equi-joins against the full-precision vectors
    // and score EXACTLY one row per candidate — never a per-cell or
    // corpus-wide rescan
    val cands = graft.CacheScope.persist(
      Similarity.topKIvf(e.withColumn("cell", col("vec_id") % 7), "cell", 3)
        .select("query_id", "neighbor_id"))
    val nCands = cands.count()
    val out = Similarity.refineTopK(cands, e, 2)
    assert(out.count() > 0)
    val ns = nodes(out)
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "refine re-score must be equi-joins on (query_id) and (neighbor_id)")
    // |rescored| = |candidates|: drop the top-k window, count the scored rows
    val scoredRows = Similarity.refineTopK(cands, e, Int.MaxValue).count()
    assert(scoredRows == nCands,
      s"re-score touched $scoredRows rows for $nCands candidates — must be 1:1")
    graft.CacheScope.releaseAll()
  }

  test("sim6 SQ8: cell equi-join over code ints — no cartesian, no corpus floats in scoring") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.operators.Similarity
    import graft.sources.Tables
    val out = Similarity.topKIvfSq(Tables.embeddings(spark, sf), "label", 3)
    assert(out.count() > 0)
    val ns = nodes(out)
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "sim6 candidate generation must stay an equi-join on cell")
    // the corpus side of the scoring join carries the SQ8 payload —
    // code longs + rn2 — never the float vectors it was encoded from
    // (the 8×-smaller-scan property that makes SQ8 worth having)
    val plan = out.queryExecution.optimizedPlan
    val codeSides = plan.collect { case j: Join => j }
      .flatMap(j => Seq(j.left, j.right))
      .filter(_.output.exists(_.name == "codes"))
    assert(codeSides.nonEmpty, "SQ8 scoring join with codes not found")
    codeSides.foreach { side =>
      val floats = side.output.filter(_.dataType == ArrayType(FloatType))
      assert(floats.isEmpty,
        s"corpus side of the SQ8 scoring join carries float vectors: $floats")
    }
  }

  test("pr1 pagerank: iterations read the persisted edge table, never a cartesian") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.{Graph, TextOps}
    import graft.sources.Tables
    val withLinks = Tables.documents(spark, sf).withColumn("text",
      concat(col("text"), lit(" https://h"), col("doc_id") % 5, lit(".org/x")))
    val edges = TextOps.docHosts(withLinks, col("doc_id"), col("text"))
      .select(concat(lit("s"), col("doc_id") % 3).as("src"), col("host").as("dst"))
    val out = Graph.pagerank(edges, 3)
    assert(out.count() > 0)
    val ns = nodes(out)
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "every pagerank iteration must stay an equi-join on src")
    // the edge+degree table is derived from the corpus ONCE and cached;
    // each of the 3 iterations reads the in-memory copy, not the text
    assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "iterations must reuse the persisted edge table")
    CacheScope.releaseAll()
  }

  test("smp6 weighted sample plans as TakeOrdered — per-partition top-k, no global sort") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import graft.operators.Sampling
    import graft.sources.Tables
    val out = Sampling.weightedSample(Tables.documents(spark, sf), col("doc_id"),
      col("lang"), Map("en" -> 5L, "de" -> 2L, "fr" -> 2L, "zh" -> 1L), 50)
    assert(out.count() == 50)
    val ns = nodes(out)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "orderBy+limit must plan as TakeOrderedAndProject")
    assert(!ns.exists(_.isInstanceOf[SortExec]),
      "the sample must not materialize a global sort of the corpus")
  }

  test("dp7 authority curation: rank joins broadcast, corpus top-k takes ordered, no pair join") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.{Graph, Sampling, TextOps}
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val own = docs.select(col("doc_id"),
      concat(lit("example"), col("doc_id") % 11, lit(".org")).as("host"))
    val withLinks = docs.withColumn("text", concat(col("text"),
      lit(" https://example"), col("doc_id") % 7, lit(".org/a")))
    val edges = TextOps.docHosts(withLinks, col("doc_id"), col("text"))
      .join(own.withColumnRenamed("host", "src"), Seq("doc_id"))
      .select(col("src"), col("host").as("dst"))
    val ranks = Graph.pagerank(edges, 2)
      .select(col("host"), (lit(1L) + expr("rank_micro DIV 50000000000")).as("host_weight"))
    val out = Sampling.weightedSampleBy(
      own.join(broadcast(ranks), Seq("host")), col("doc_id"), col("host_weight"), 20)
    assert(out.count() == 20)
    val ns = nodes(out)
    // the O(hosts) rank frame broadcasts onto the corpus — the corpus
    // itself never shuffles for the weight join
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "doc←rank weight join must broadcast the host-rank frame")
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "weighted selection must plan as TakeOrderedAndProject")
    assert(!ns.exists(_.isInstanceOf[SortExec]),
      "the selection must not materialize a global sort of the corpus")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "dp7 must stay equi-join only")
    CacheScope.releaseAll()
  }

  test("kmeans fast update aggregates map-side: no per-member collect_list") {
    import graft.operators.Clustering
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val upd = Clustering.updateMeansFast(
      Clustering.assign(e, Clustering.kmeans(e, 4, 1)), e)
    assert(upd.count() > 0)
    val plan = upd.queryExecution.optimizedPlan.toString
    // the 100 TB path: members stream through posexplode + partial sums;
    // the ONLY collect_list is the dim-bounded (pos, mean) assembly —
    // never the strict fold's per-member (vec_id, embedding) list whose
    // size grows with the cell
    assert(plan.contains("posexplode"), "fast update must posexplode members")
    assert(plan.contains("collect_list(struct(pos"),
      "dim-bounded mean assembly missing (plan-print drift? update the pin)")
    assert(!plan.contains("collect_list(struct(vec_id"),
      "fast update must not materialize per-member embedding lists")
  }

  test("semanticDedup plans equi-joins only: no cartesian, no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Similarity
    import graft.sources.Tables
    // plan shape is independent of cell provenance, so the fixture label
    // stands in for learned cells here (sem1's kmeans is plan-tested by
    // the pq/assign tests; this pins the PRUNE stage's join shape)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label").as("cell"))
    val survivors = Similarity.semanticDedup(e, "cell", 0.4)
    survivors.write.format("noop").mode("overwrite").save()
    val bad = nodes(survivors).collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, s"non-equi join in semanticDedup plan: $bad")
  }

  test("mixture filter is a pure map: no shuffle beyond the S-row rate lookup") {
    import graft.operators.Sampling
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val mixed = Sampling.mixture(docs, col("doc_id"), col("lang"),
      Map("en" -> 5L, "de" -> 2L, "fr" -> 2L, "zh" -> 1L))
    mixed.write.format("noop").mode("overwrite").save()
    // after the counts collect (driver model state), the kept-row plan
    // is scan + filter only — no exchange at any corpus size
    val shuffles = nodes(mixed).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, "mixture must plan as a shuffle-free filter")
  }

  test("epoch mixture is a pure map + explode: zero exchanges, fan-out = copy count") {
    import graft.operators.Sampling
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val out = Sampling.epochs(docs, col("doc_id"), col("lang"),
      Map("en" -> 1300L, "de" -> 2500L, "fr" -> 700L, "zh" -> 2000L))
    out.write.format("noop").mode("overwrite").save()
    val shuffles = nodes(out).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, "epochs must plan as scan + filter + generate, no exchange")
  }

  test("boilerplate filter: doc-freq count partial-aggregates; no cartesian anywhere") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.TextOps
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val out = TextOps.boilerplateFilter(docs, col("doc_id"), col("text"), " ", 5)
    out.write.format("noop").mode("overwrite").save()
    val ns = nodes(out)
    assert(!ns.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]), "non-equi join in boilerplate plan")
    // the hot-paragraph doc-freq count must partial-aggregate map-side:
    // boilerplate hashes are exactly the keys that would otherwise pile
    // their full row streams onto one reducer
    val partials = ns.collect { case a: HashAggregateExec => a }
      .filter(_.aggregateExpressions.exists(_.mode.toString.contains("Partial")))
    assert(partials.nonEmpty, "doc-freq count lost its map-side partial aggregate")
  }

  test("cross-corpus contamination pairs plan as a cell equi-join, never a nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Similarity
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val pairs = Similarity.crossCorpusPairs(
      e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0), "label", 0.9)
    pairs.count()
    val bad = nodes(pairs).collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, s"contamination probe must equi-join on the cell: $bad")
  }

  test("snapshot diff shuffles fingerprints, never the document bytes") {
    import graft.operators.{Profiling, Sampling}
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val b = Sampling.bucket(col("doc_id"))
    val out = Profiling.snapshotDiff(
      docs.filter(b < 980).select("doc_id", "text", "source"),
      docs.filter(b >= 30).select("doc_id", "text", "source"),
      "doc_id", "text", Seq("source"))
    out.write.format("noop").mode("overwrite").save()
    // every exchange's payload is (key, 32-char md5, carry) — the text
    // column must be projected away before any shuffle
    val leaky = nodes(out).collect { case s: ShuffleExchangeExec => s }
      .filter(_.output.exists(_.name == "text"))
    assert(leaky.isEmpty, "content column crossed an exchange; hash at the scan instead")
  }

  test("operator-internal persists are released at pipeline end (no cache leak)") {
    import graft.queries.DataCatalog
    val sc = spark.sparkContext
    // Pre-fill the SESSION-tier caches these entries consume (r19: d6
    // reads the memoized near-dup pair graph): session memos hold
    // checkpointed frames alive past the per-query releaseAll by
    // design — the DrupalFixture discipline — so they must be in the
    // baseline set, not counted as leaks. What this test pins is that
    // OPERATOR-internal per-query persists are released.
    DataCatalog.d6.build(spark, sf).count()
    graft.CacheScope.releaseAll() // clean slate (other suites may have run queries)
    val before = sc.getPersistentRDDs.keySet
    // the three persist-using operator families, run end-to-end
    DataCatalog.d2.build(spark, sf).count() // minhashLsh signatures
    DataCatalog.d3.build(spark, sf).count() // simhash banded signatures
    DataCatalog.d6.build(spark, sf).count() // dedupClusters converged labels
    assert(sc.getPersistentRDDs.keySet.size > before.size,
      "expected live operator caches mid-pipeline (did the persists disappear?)")
    graft.CacheScope.releaseAll()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs leaked past pipeline end: $leaked")
  }

  test("bloom filter build is one job with expectedItems, two without") {
    import graft.plans.BloomJoin
    import graft.sources.Tables
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").persist()
    urgent.count() // materialize so job counts below are only the builds
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the listener bus is async: poll until the count survives two
      // consecutive 200ms windows unchanged (one delivery-gap window
      // alone undercounts), bounded at 10s so a never-idle bus fails
      // the test instead of hanging it
      def drain(): Int = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var stable = 0
        var prev = jobs.get()
        while (stable < 2 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          val cur = jobs.get()
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        }
        assert(stable >= 2, "listener bus never quiesced within 10s")
        prev
      }
      def countJobs(body: => Unit): Int = {
        drain(); jobs.set(0); body; drain()
      }
      val sized = countJobs(BloomJoin.buildFilter(urgent, col("o_orderkey"), 0.01,
        expectedItems = Some(2000L)))
      val unsized = countJobs(BloomJoin.buildFilter(urgent, col("o_orderkey"), 0.01))
      // absolute job counts are a Spark-internal detail (stat.bloomFilter
      // and AQE each schedule more than one); the contract is that
      // expectedItems strictly skips the sizing pass
      assert(sized < unsized,
        s"expectedItems must skip the sizing pass: sized=$sized unsized=$unsized")
      // and the auto-sized filter is functionally sound: every real key
      // contained, fpp in the requested ballpark on foreign keys
      val bf = BloomJoin.buildFilter(urgent, col("o_orderkey"), 0.01)
      val keys = urgent.select(col("o_orderkey")).distinct()
        .collect().map(_.getLong(0))
      assert(keys.forall(bf.mightContainLong), "bloom filter missed a real key")
      val falsePos = (1L to 20000L).filterNot(keys.toSet)
        .count(bf.mightContainLong)
      assert(falsePos < 600, s"auto-sized filter fpp way above 1%: $falsePos/20000")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      urgent.unpersist()
    }
  }

  test("classifier gate is stateless: streaming scores ≡ batch (availableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Learning
    val dir = java.nio.file.Files.createTempDirectory("lr_gate")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val batchIn = spark.read.parquet(dir.toString)
    val w = Learning.logregTrain(batchIn, col("embedding"),
      (col("label") < 5).cast("double"), 64, 3, 2.0)
    val src = spark.readStream.schema(batchIn.schema).parquet(dir.toString)
    val q = Learning.classifierGate(src, col("embedding"), col("vec_id"), w, 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("lr_gate_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("lr_gate_out")
    val batch = Learning.classifierGate(batchIn, col("embedding"), col("vec_id"), w, 0.5)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("hll sketch aggregates map-side: partial ObjectHashAggregate below the exchange, no Expand") {
    import graft.plans.HllSketch
    val df = spark.range(0, 20000, 1, 8)
      .selectExpr("id % 7 AS g", "id % 997 AS v")
      .groupBy("g").agg(HllSketch.estimate(md5(col("v").cast("string"))).as("e"))
    val plan = df.queryExecution.executedPlan.toString
    // one partial + one final object-hash aggregate: the 256-byte buffer
    // crosses the shuffle, not the rows — the property that makes the
    // sketch 100 TB-shaped (count-distinct would plan an Expand +
    // two shuffles on (g, v))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_hllsketch") || plan.contains("partial_HllSketch") ||
      plan.toLowerCase.contains("partial_hll"), s"expected a partial hll stage:\n$plan")
    assert(!plan.contains("Expand"), "hll must not plan count-distinct's Expand")
  }

  test("blocklist gate is stateless: streaming keeps ≡ batch (availableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.TextOps
    import graft.streaming.DocStream
    val dir = java.nio.file.Files.createTempDirectory("blk_gate")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val batchIn = spark.read.schema(DocStream.schema).parquet(dir.toString)
    val src = spark.readStream.schema(DocStream.schema).parquet(dir.toString)
    val q = TextOps.blocklistGate(src, col("text"), Seq("slow", "stale"), 20L)
      .select("doc_id", "n_hits", "n_tokens")
      .writeStream.outputMode("append").format("memory")
      .queryName("blk_gate_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("blk_gate_out")
    val batch = TextOps.blocklistGate(batchIn, col("text"), Seq("slow", "stale"), 20L)
      .select("doc_id", "n_hits", "n_tokens")
    assert(streamed.count() > 0 && streamed.count() < batchIn.count(),
      "gate should fire on the fixture")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("importance gate: 64-row weight frame broadcasts, no pair joins anywhere") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.Sampling
    import graft.sources.Tables
    val out = Sampling.importanceGate(Tables.documents(spark, sf),
      col("doc_id"), col("text"), col("lang") === "en")
    out.count()
    val ns = nodes(out)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the bucket-weight model frame must broadcast into the scoring join")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "importance scoring must never form row pairs")
  }

  test("backoff coverage: reference-set joins are equi-joins, never pair-forming") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.LmFilter
    import graft.sources.Tables
    val out = LmFilter.backoffCoverage(Tables.documents(spark, sf),
      col("doc_id"), col("text"), col("doc_id") % 2 === 0)
    out.count()
    val ns = nodes(out)
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "backoff resolution must stay on the trigram/bigram/unigram equi-keys")
    // the resolved-level frame carries (doc_id, lvl) only — the doc
    // TEXT must not ride any shuffle past tokenization
    val textThroughShuffle = ns
      .collect { case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }
      .filter(_.output.exists(_.name == "text"))
    assert(textThroughShuffle.isEmpty,
      s"document text must never shuffle, got: $textThroughShuffle")
  }

  test("gopher rule battery is stateless: streaming verdicts ≡ batch (availableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.TextOps
    import graft.streaming.DocStream
    val dir = java.nio.file.Files.createTempDirectory("gopher_gate")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val batchIn = spark.read.schema(DocStream.schema).parquet(dir.toString)
    val src = spark.readStream.schema(DocStream.schema).parquet(dir.toString)
    val q = TextOps.gopherRules(src, col("doc_id"), col("text"))
      .select("doc_id", "n_words", "kept")
      .writeStream.outputMode("append").format("memory")
      .queryName("gopher_gate_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("gopher_gate_out")
    val batch = TextOps.gopherRules(batchIn, col("doc_id"), col("text"))
      .select("doc_id", "n_words", "kept")
    assert(streamed.count() == batchIn.count(), "one verdict row per doc")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("c4 rule battery is stateless: streaming verdicts ≡ batch (availableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.TextOps
    import graft.streaming.DocStream
    val dir = java.nio.file.Files.createTempDirectory("c4_gate")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val batchIn = spark.read.schema(DocStream.schema).parquet(dir.toString)
    val src = spark.readStream.schema(DocStream.schema).parquet(dir.toString)
    val q = TextOps.c4Rules(src, col("doc_id"), col("text"))
      .select("doc_id", "n_kept_lines", "cleaned_md5", "kept")
      .writeStream.outputMode("append").format("memory")
      .queryName("c4_gate_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("c4_gate_out")
    val batch = TextOps.c4Rules(batchIn, col("doc_id"), col("text"))
      .select("doc_id", "n_kept_lines", "cleaned_md5", "kept")
    assert(streamed.count() == batchIn.count(), "one verdict row per doc")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming funnel: per-stage counts over emitted rows equal the batch funnel card") {
    import graft.streaming.EventStream
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_funnel")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stages = Seq("view", "click", "purchase")
    EventStream.runFunnelAvailableNow(spark, dir.toString, stages, "funnel_out")
    // latest emitted row per user is the final state (single batch here)
    val streamed = spark.table("funnel_out")
      .groupBy("user_id").agg(max("stage_reached").as("stage_reached"))
    val streamCounts = stages.indices.map { i =>
      streamed.filter(col("stage_reached") >= i + 1).count()
    }
    val batch = EventStream.funnel(Tables.events(spark, sf), stages)
      .orderBy("stage_idx").select("n_users").as[Long].collect().toSeq
    assert(streamCounts.map(_.toLong) == batch,
      s"stream funnel $streamCounts != batch $batch")
    assert(batch.head > 0 && batch.last > 0, "fixture should convert through all stages")
    CacheScope.releaseAll()
  }

  test("streaming image admission: stream ≡ batch, no visual dup of the corpus admitted") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).select("doc_id")
    // the pixel fixture keys content on doc_id % 251, so the group
    // RESIDUE decides novelty: corpus = groups < 126, batch = all —
    // batch members in groups < 126 are visual dups (identical or
    // one-pixel-edited re-encodes) and must reject; groups >= 126 are
    // genuinely new images and must (mostly) admit
    val corpus = Multimodal.syntheticPixelImages(
      docs.filter(col("doc_id") % 251 < 126))
    val fp = Multimodal.imageFingerprint(Multimodal.imageDHash(corpus))
    val batchMedia = Multimodal.syntheticPixelImages(docs)
    val dir = java.nio.file.Files.createTempDirectory("img_admit")
    batchMedia.toDF().coalesce(1).write.mode("overwrite").parquet(dir.toString)
    DocStream.runImageAdmitAvailableNow(spark, dir.toString, fp, "img_admit_out")
    val streamed = spark.table("img_admit_out")
    val batch = Multimodal.imageAdmit(batchMedia, fp)
    assert(streamed.count() > 0 && streamed.count() < batchMedia.count(),
      "gate should admit the new groups and reject the corpus twins")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "stream must equal batch exactly (stateless gate)")
    // no admitted image pairs with the corpus under the m4 gate
    val cross = graft.operators.NearDup.simhashPairs(
      Multimodal.imageDHash(corpus).select(col("doc_id"), col("phash").as("simhash"))
        .unionByName(streamed.select(col("doc_id") + 1000000, col("phash").as("simhash"))
          .toDF("doc_id", "simhash")), 3)
      .filter((col("id_a") < 1000000) =!= (col("id_b") < 1000000))
    assert(cross.count() == 0, "an admitted image is a visual dup of the corpus")
    CacheScope.releaseAll()
  }

  test("streaming audio admission: stream ≡ batch, no audio dup of the corpus admitted") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).select("doc_id")
    // clip content keys on doc_id % 97: corpus = groups < 49 — batch
    // members of those groups are the same or window-1-halved clips
    // (fingerprints ≤2 bits apart ⇒ ≥2 shared bands) and must reject;
    // groups >= 49 are genuinely new sound and must (mostly) admit
    val corpus = Multimodal.syntheticAudio(docs.filter(col("doc_id") % 97 < 49))
    val fp = Multimodal.audioCorpusFingerprint(Multimodal.audioFingerprint(corpus))
    val batchMedia = Multimodal.syntheticAudio(docs)
    val dir = java.nio.file.Files.createTempDirectory("aud_admit")
    batchMedia.toDF().coalesce(1).write.mode("overwrite").parquet(dir.toString)
    DocStream.runAudioAdmitAvailableNow(spark, dir.toString, fp, "aud_admit_out")
    val streamed = spark.table("aud_admit_out")
    val batch = Multimodal.audioAdmit(batchMedia, fp)
    assert(streamed.count() > 0 && streamed.count() < batchMedia.count(),
      "gate should admit the new groups and reject the corpus twins")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "stream must equal batch exactly (stateless gate)")
    // no admitted clip pairs with the corpus under the m5 gate
    val cross = graft.operators.NearDup.simhashPairs(
      Multimodal.audioFingerprint(corpus).select(col("doc_id"), col("afp").as("simhash"))
        .unionByName(streamed.select(col("doc_id") + 1000000, col("afp").as("simhash"))
          .toDF("doc_id", "simhash")), 3)
      .filter((col("id_a") < 1000000) =!= (col("id_b") < 1000000))
    assert(cross.count() == 0, "an admitted clip is an audio dup of the corpus")
    CacheScope.releaseAll()
  }

  test("streaming video admission: stream ≡ batch, no clip sharing a frame with the corpus admitted") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal
    import graft.sources.Tables
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
    // clip frames key on doc_id % 151: corpus = groups < 76 — batch
    // members of those groups share ≥3 byte-identical frames (odd ids
    // only re-render frame 0) so ANY-frame-hit must reject them;
    // groups >= 76 are new clips and must (mostly) admit
    val corpus = Multimodal.syntheticMjpegVideos(docs.filter(col("doc_id") % 151 < 76))
    val fp = Multimodal.videoCorpusFingerprint(Multimodal.videoFrameHashesReal(corpus))
    val batchMedia = Multimodal.syntheticMjpegVideos(docs)
    val dir = java.nio.file.Files.createTempDirectory("vid_admit")
    batchMedia.toDF().coalesce(1).write.mode("overwrite").parquet(dir.toString)
    DocStream.runVideoAdmitAvailableNow(spark, dir.toString, fp, "vid_admit_out")
    val streamed = spark.table("vid_admit_out")
    val batch = Multimodal.videoAdmit(batchMedia, fp)
    assert(streamed.count() > 0 && streamed.count() < batchMedia.count(),
      "gate should admit the new groups and reject the corpus twins")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "stream must equal batch exactly (stateless gate)")
    // every admitted clip decoded its full 4-frame fixture
    assert(streamed.filter(col("n_frames") =!= 4).count() == 0,
      "fixture clips must decode all sampled frames")
    // frame-level cross-check under the m6 gate: admitted clips'
    // real frames never pair with any corpus frame
    val admittedMedia = batchMedia.toDF()
      .join(streamed.select("doc_id"), "doc_id")
      .as[Multimodal.MediaRow]
    val cross = graft.operators.NearDup.simhashPairs(
      Multimodal.videoFrameHashesReal(corpus)
        .select(col("doc_id").as("doc_id"), col("fhash").as("simhash"))
        .unionByName(Multimodal.videoFrameHashesReal(admittedMedia)
          .select((col("doc_id") + 1000000).as("doc_id"), col("fhash").as("simhash"))), 3)
      .filter((col("id_a") < 1000000) =!= (col("id_b") < 1000000))
    assert(cross.count() == 0, "an admitted clip shares a frame with the corpus")
    CacheScope.releaseAll()
  }

  test("video admission is container-blind: an MP4 re-mux neither evades nor trips the AVI-built gate") {
    import graft.operators.Multimodal
    import graft.sources.Tables
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
      .filter(col("doc_id") < 3000) // gate behavior, not throughput
    // fingerprint built from ALL-AVI storage (yesterday's corpus)...
    val corpus = Multimodal.syntheticMjpegVideos(docs.filter(col("doc_id") % 151 < 76))
    val fp = Multimodal.videoCorpusFingerprint(Multimodal.videoFrameHashesReal(corpus))
    // ...gating today's arrivals in whatever container the crawler
    // found: every third clip re-muxed as ISO BMFF, same frame bytes
    val avi = Multimodal.syntheticMjpegVideos(docs)
    val mixed = Multimodal.syntheticMixedContainerVideos(docs)
    val a = Multimodal.videoAdmit(avi, fp).orderBy("doc_id").collect()
    val m = Multimodal.videoAdmit(mixed, fp).orderBy("doc_id").collect()
    assert(a.nonEmpty, "the new groups must admit")
    assert(a.sameElements(m),
      "admission must depend on decoded frames only — a re-muxed dup that " +
        "slips the gate re-pollutes the corpus; a re-muxed original that " +
        "trips it starves ingest")
    CacheScope.releaseAll()
  }

  test("audio admission is storage-blind: a FLAC re-encode neither evades nor trips the WAV-built gate") {
    import graft.operators.Multimodal
    import graft.sources.Tables
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
      .filter(col("doc_id") < 3000)
    // fingerprint built from ALL-WAV storage (yesterday's corpus)...
    val corpus = Multimodal.syntheticAudio(docs.filter(col("doc_id") % 97 < 49))
    val fp = Multimodal.audioCorpusFingerprint(Multimodal.audioFingerprint(corpus))
    // ...gating arrivals whose dups may have been FLAC-compressed in
    // transit: lossless decode → identical samples → identical verdict
    val wav = Multimodal.syntheticAudio(docs)
    val mixed = Multimodal.syntheticMixedStorageAudio(docs)
    val a = Multimodal.audioAdmit(wav, fp).orderBy("doc_id").collect()
    val m = Multimodal.audioAdmit(mixed, fp).orderBy("doc_id").collect()
    assert(a.nonEmpty, "the new groups must admit")
    assert(a.sameElements(m),
      "admission must depend on decoded samples only, not storage")
    CacheScope.releaseAll()
  }

  test("audio admission is storage-blind over LEGACY codecs: mu-law/A-law/ADPCM neither evade nor trip the gate (m8b ⊇ m5d)") {
    import graft.operators.Multimodal
    import graft.sources.Tables
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
      .filter(col("doc_id") < 3000)
    // fingerprint built from half the groups, in whatever storage the
    // fixture assigned (mixed coded/PCM)...
    val corpus = Multimodal.syntheticLegacyAudio(docs.filter(col("doc_id") % 97 < 49))
    val fp = Multimodal.audioCorpusFingerprint(Multimodal.audioFingerprint(corpus))
    // ...gating the same arrivals stored all-PCM vs legacy-coded: the
    // projections are identical by construction, so the verdicts must
    // be too — a coded dup that slips the gate re-pollutes the corpus,
    // a coded original that trips it starves ingest
    val pcm = Multimodal.syntheticLegacyAudio(docs, allPcm = true)
    val mixed = Multimodal.syntheticLegacyAudio(docs)
    val a = Multimodal.audioAdmit(pcm, fp).orderBy("doc_id").collect()
    val m = Multimodal.audioAdmit(mixed, fp).orderBy("doc_id").collect()
    assert(a.nonEmpty, "the new groups must admit")
    assert(a.sameElements(m),
      "admission must depend on decoded samples only, not legacy storage")
    CacheScope.releaseAll()
  }

  test("streaming contamination gate emits exactly the batch result, never admits contaminated") {
    import graft.streaming.DocStream
    import graft.operators.NearDup
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("doc_contam")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val fp = DocStream.benchFingerprint(bench, 8)
    DocStream.runContamGateAvailableNow(spark, dir.toString, fp, 8, "contam_out")
    val streamed = spark.table("contam_out")
    val batchIn = spark.read.schema(DocStream.schema).parquet(dir.toString)
    val batch = DocStream.contamGate(batchIn, fp, 8)
    assert(streamed.count() < batchIn.count(), "gate should fire on the fixture")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "stream must equal batch exactly (stateless gate)")
    // no truly contaminated doc admitted: every admitted doc has zero
    // exact c7 spans (blooms have no false negatives)
    val admittedSpans = NearDup.benchSubstrSpans(
      streamed.select(col("doc_id"), col("text")), bench,
      col("doc_id"), col("text"), 8)
    assert(admittedSpans.count() == 0,
      "an admitted document carried a verbatim benchmark span")
    CacheScope.releaseAll()
  }

  test("streaming incremental index: appended segments merge to exactly the batch rebuild") {
    import graft.streaming.DocStream
    import graft.operators.Retrieval
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(DocStream.schema.fieldNames.map(col): _*)
    // ingest lands as block-aligned files (the scheduler-allocated
    // id-range shape): three files covering disjoint multiples of 256
    val dir = java.nio.file.Files.createTempDirectory("idx_stream")
    val segDir = java.nio.file.Files.createTempDirectory("idx_segs").toString + "/segs"
    Seq(0L, 1L, 2L).foreach { part =>
      docs.filter(col("doc_id") >= part * 128 && col("doc_id") < (part + 1) * 128)
        .coalesce(1).write.mode("append").parquet(dir.toString + s"/f$part")
    }
    // flatten the per-range dirs into one source dir of single files
    val srcDir = java.nio.file.Files.createTempDirectory("idx_src")
    Seq(0, 1, 2).foreach { part =>
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir.toString, s"f$part"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(f, srcDir.resolve(s"part$part.parquet"))
    }
    DocStream.runIndexSegmentsAvailableNow(spark, srcDir.toString, segDir,
      blockWidth = 128)
    val segTable = spark.read.parquet(segDir)
    assert(segTable.select("segment_id").distinct().count() == 3,
      "maxFilesPerTrigger=1 must produce one segment per ingest file")
    val merged = Retrieval.mergeSegmentTable(segTable)
      .select("term", "block", "n_docs_block", "postings", "df")
    val rebuilt = Retrieval.postingsIndex(
      spark.read.parquet(srcDir.toString), col("doc_id"), col("text"), 128)
      .select("term", "block", "n_docs_block", "postings", "df")
    assert(merged.count() > 0)
    assert(merged.except(rebuilt).count() == 0 && rebuilt.except(merged).count() == 0,
      "segment-table merge must equal the full batch rebuild")
    CacheScope.releaseAll()
  }

  test("z-order assignment: the only unpartitioned window is the card-sized bucket frame") {
    import graft.operators.Zorder
    import graft.sources.Tables
    import org.apache.spark.sql.execution.window.WindowExec
    val base = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"),
        expr("least(CAST(15 AS BIGINT), CAST(length(text) AS BIGINT) DIV 64)").as("x"),
        (col("doc_id") % 11).as("y"))
    val assigned = Zorder.assignFiles(base, col("id"), col("x"), col("y"), 32, 4,
      zorder = true)
    assigned.write.format("noop").mode("overwrite").save()
    // the global order rides the two-level prefix-count rank: the ONLY
    // unpartitioned window allowed is globalRank's bucket-frame pass —
    // its input is the per-bucket COUNT aggregate (<= 256 rows by
    // construction), never corpus rows. Any unpartitioned window whose
    // subtree lacks that grouping aggregate would be the corpus
    // through one task at 100 TB.
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val planNodes = nodes(assigned)
    val unpartitioned = planNodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.nonEmpty, "globalRank's bucket frame must exist (vacuity guard)")
    unpartitioned.foreach { w =>
      val grouped = flatten(w.child).exists {
        case a: HashAggregateExec => a.groupingExpressions.nonEmpty
        case a: ObjectHashAggregateExec => a.groupingExpressions.nonEmpty
        case a: SortAggregateExec => a.groupingExpressions.nonEmpty
        case _ => false
      }
      assert(grouped,
        "an unpartitioned window must sit above the bucket-count " +
          "aggregate (card-sized frame), never over corpus rows")
    }
    // vacuity guard: the assignment genuinely ran over the corpus
    assert(assigned.count() == base.count())
    CacheScope.releaseAll()
  }

  test("streaming Count-Min sketch equals the batch sketch (bounded mergeable state)") {
    import graft.streaming.DocStream
    import graft.operators.CountMin
    val dir = java.nio.file.Files.createTempDirectory("doc_cms")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    DocStream.runCmsAvailableNow(spark, dir.toString, "cms_out")
    val streamed = spark.table("cms_out").as[(Long, Long, Long)].collect().toSet
    val batch = CountMin.sketch(
      spark.read.schema(DocStream.schema).parquet(dir.toString)
        .select(explode(split(trim(col("text")), "\\s+")).as("term")),
      col("term"), 4, 256).as[(Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, "streamed sketch cells must equal the batch sketch exactly")
  }

  test("streaming WARC ingest emits exactly the batch record scan; curation composes in flight") {
    import graft.streaming.{DocStream, WarcStream}
    import graft.sources.{Tables, WarcSource}
    val dir = java.nio.file.Files.createTempDirectory("warc_stream").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"),
      col("text"), concat(lit("https://example"), col("doc_id") % 7,
        lit(".org/doc/"), col("doc_id")).as("uri"))
    WarcSource.writeWet(docs, dir, 4)
    // record scan: the text file-stream source splits each file at the
    // record delimiter and the stream runs the SAME parse kernel — the
    // row set must equal the batch reader's exactly
    WarcStream.runWetAvailableNow(spark, dir + "/wet-*.warc", "warc_stream_out")
    val streamed = spark.table("warc_stream_out")
    val batch = WarcSource.readWet(spark, dir + "/wet-*.warc")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "streaming record scan must equal the batch reader row-for-row")
    // crawl -> curated corpus in flight: the composed stream gate must
    // equal batch curation over the batch-extracted docs
    WarcStream.runCuratedAvailableNow(spark, dir + "/wet-*.warc",
      Seq("en", "de", "fr"), 20, 0.6, 800, "warc_curate_out")
    val curStream = spark.table("warc_curate_out")
    val batchDocs = batch.filter(col("warc_type") === "conversion").select(
      regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long").as("doc_id"),
      col("content_lang").as("lang"), col("body").as("text"),
      col("target_uri").as("source"))
    val curBatch = DocStream.curate(batchDocs, Seq("en", "de", "fr"), 20, 0.6, 800)
    assert(curStream.count() > 0)
    assert(curStream.except(curBatch).count() == 0 &&
      curBatch.except(curStream).count() == 0,
      "in-flight curation must equal the batch pipeline")
  }

  test("extraction expressions ride WholeStageCodegen (no interpreted eval in the hot path)") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // a REAL scan under the projection — a literal local relation would
    // constant-fold the expressions at optimization time and the pin
    // would pass (or fail) vacuously with no codegen span anywhere
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat(lit("<body><p>"), col("text"), lit("</p><a href=\"/x\">t</a></body>"))
          .as("html"),
        concat(lit("https://example"), col("doc_id") % 7,
          lit(".org/doc/"), col("doc_id")).as("base"))
      .select(col("doc_id"),
        graft.plans.HtmlTextExpr.htmlToText(col("html")).as("text"),
        graft.plans.HtmlTextExpr.htmlTitle(col("html")).as("title"),
        graft.plans.HtmlTextExpr.resolveUrl(col("base"), lit("../x")).as("r"))
      .filter(col("text").isNotNull)
    assert(df.count() > 0)
    // every extraction expression must sit INSIDE a codegen span — a
    // CodegenFallback would silently drop the projection out of
    // whole-stage codegen and interpret per row at 100 TB
    val spans = nodes(df).collect { case w: WholeStageCodegenExec => w.toString }
    assert(spans.exists(s => s.contains("htmltotext") || s.contains("HtmlToText")),
      s"htmlToText must be codegen'd; spans:\n${spans.mkString("\n")}")
    assert(spans.exists(s => s.toLowerCase.contains("htmltitle")),
      "htmlTitle must be codegen'd")
    assert(spans.exists(s => s.toLowerCase.contains("resolveurl")),
      "resolveUrl must be codegen'd")
  }

  test("robots frontier gate: broadcast-join plan, decisions equal the literal when-chain") {
    import graft.operators.Robots
    val txt = "User-agent: bot\nDisallow: /a/\nAllow: /a/b\n" +
      "Disallow: /c/*d\nDisallow: /e$\n"
    val rules = Robots.parseRules(txt, "bot")
    val frontier = (0L until 500L).map { i =>
      (i, s"https://h${i % 5}.example.org/" +
        Seq("a/x", "a/b/y", "c/qd", "c/q", "e", "ee", "other")(
          (i % 7).toInt))
    }.toDF("id", "link")
    import org.apache.spark.sql.functions.{col => c}
    val rulesDf = (for { k <- 0 until 5; r <- rules }
      yield (s"h$k.example.org", r.pattern, r.allow)).toDF("host", "pattern", "allow")
    val gated = Robots.gateFrontier(frontier, c("link"), rulesDf)
    // the data-driven plan must reach the literal plan's decisions
    val literal = frontier.select(c("id"), c("link"),
      Robots.allowCol(Robots.urlPath(c("link")), rules).as("allowed"))
    assert(gated.count() == 500)
    assert(gated.except(literal).count() == 0 && literal.except(gated).count() == 0,
      "broadcast gate must equal the literal when-chain row-for-row")
    // plan shape: rules ride a broadcast hash join, never a shuffle of
    // the frontier before the join
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val joins = nodes(gated).collect { case b: BroadcastHashJoinExec => b }
    assert(joins.nonEmpty, "rules must join by broadcast")
    CacheScope.releaseAll()
  }

  test("streaming raw-crawl extraction emits exactly the batch extraction chain") {
    import graft.streaming.WarcStream
    import graft.sources.{Tables, WarcSource}
    val dir = java.nio.file.Files.createTempDirectory("warc_extract_stream").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"),
      col("text"), concat(lit("https://example"), col("doc_id") % 7,
        lit(".org/doc/"), col("doc_id")).as("uri"))
    WarcSource.writeHtmlResponses(docs, dir, 4)
    // response segments land whole (binaryFile source), records split at
    // BYTE level, envelope + encodings + charset + extraction run
    // row-locally: the streamed documents frame must equal the batch
    // readResponses → htmlToText chain row-for-row — including the
    // non-UTF-8 charset slices a text-source stream would mangle
    WarcStream.runExtractedAvailableNow(spark, dir + "/warc-*.warc",
      "warc_extract_out")
    val streamed = spark.table("warc_extract_out")
    val batch = WarcSource.readResponses(spark, dir + "/warc-*.warc")
      .filter(col("warc_type") === "response" && col("encoding_ok"))
      .select(
        regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long").as("doc_id"),
        col("content_lang").as("lang"),
        graft.plans.HtmlTextExpr.htmlToText(col("payload")).as("text"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "in-flight extraction must equal the batch chain row-for-row")
  }

  test("streaming curation gate emits exactly the batch result (stateless, rerun-stable)") {
    import graft.streaming.DocStream
    val dir = java.nio.file.Files.createTempDirectory("doc_curate")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    DocStream.runCurateAvailableNow(spark, dir.toString, "curate_out")
    val streamed = spark.table("curate_out")
    val batch = DocStream.curate(
      spark.read.schema(DocStream.schema).parquet(dir.toString),
      Seq("en", "de", "fr"), 20, 0.6, 800)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming epoch mixture emits exactly the batch fan-out (stateless, rerun-stable)") {
    import graft.streaming.DocStream
    import graft.operators.Sampling
    val dir = java.nio.file.Files.createTempDirectory("doc_epochs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val rates = Map("en" -> 1300L, "de" -> 2500L, "fr" -> 700L, "zh" -> 2000L)
    DocStream.runEpochsAvailableNow(spark, dir.toString, rates, "epochs_out")
    val streamed = spark.table("epochs_out")
    val batch = Sampling.epochs(
      spark.read.schema(DocStream.schema).parquet(dir.toString)
        .select(col("doc_id"), col("lang"), col("source")),
      col("doc_id"), col("lang"), rates)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming admission gate: conservative subset of batch d8, no exact dup admitted") {
    import graft.streaming.DocStream
    import graft.operators.NearDup
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 >= 2)
    val batch = docs.filter(col("doc_id") % 10 < 2)
    val dir = java.nio.file.Files.createTempDirectory("doc_admit")
    batch.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/in")

    val fp = DocStream.fingerprint(corpus)
    DocStream.runAdmitAvailableNow(spark, dir.toString + "/in", fp, "admit_out")
    val streamed = spark.table("admit_out").select("doc_id").as[Long].collect().toSet

    // batch reference: d8 admits after exact + VERIFIED near dedup
    val d8 = NearDup.incremental(corpus, batch, col("doc_id"), col("text"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    // exact-dup content of the corpus must never be admitted (bloom has
    // no false negatives)
    val corpusHashes = corpus.select(md5(col("text"))).as[String].collect().toSet
    val admittedHashes = batch.join(
      spark.table("admit_out").select("doc_id"), Seq("doc_id"), "left_semi")
      .select(md5(col("text"))).as[String].collect().toSet
    assert(admittedHashes.intersect(corpusHashes).isEmpty)
    // conservative: stream admits only docs d8 admits, PLUS intra-batch
    // dups (stateless gate doesn't dedup within the stream)
    val intraBatchDups = batch.join(
      NearDup.exact(batch, col("doc_id"), col("text")).select("doc_id"),
      Seq("doc_id"), "left_anti").select("doc_id").as[Long].collect().toSet
    assert((streamed -- intraBatchDups).subsetOf(d8), "stream must be conservative vs batch d8")
    assert(streamed.nonEmpty)
    // rerun-stable: second pass over the same files emits the same set
    DocStream.runAdmitAvailableNow(spark, dir.toString + "/in", fp, "admit_out2")
    assert(spark.table("admit_out2").select("doc_id").as[Long].collect().toSet == streamed)
  }

  test("streaming coverage gate: admitted set is exactly admit ∩ batch coverage keeps") {
    import graft.streaming.DocStream
    import graft.operators.LmFilter
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 >= 2)
    val batch = docs.filter(col("doc_id") % 10 < 2)
    val dir = java.nio.file.Files.createTempDirectory("doc_cov")
    batch.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/in")

    val fp = DocStream.fingerprint(corpus)
    // topV=450 sits on the fixture's coverage knee (V≤300 rejects all,
    // V≥600 keeps all) so both gate outcomes are exercised
    val ref = LmFilter.refBigrams(corpus, col("doc_id"), col("text"), 450,
      minScore = 0.0)
    val refSeq = ref.as[String].collect().toSeq
    DocStream.runAdmitCoverageAvailableNow(
      spark, dir.toString + "/in", fp, refSeq, "cov_out")
    val streamed = spark.table("cov_out").select("doc_id").as[Long].collect().toSet

    // batch twin: the plain admission set intersected with the batch
    // coverage gate's kept rows over the same reference model
    DocStream.runAdmitAvailableNow(spark, dir.toString + "/in", fp, "cov_admit_ref")
    val admitted = spark.table("cov_admit_ref").select("doc_id").as[Long].collect().toSet
    val kept = LmFilter.coverageGate(batch, col("doc_id"), col("text"), ref)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(streamed == admitted.intersect(kept),
      "stream coverage gate must equal admit ∩ batch coverage keeps, bit-for-bit")
    assert(streamed.nonEmpty && streamed != admitted,
      "fixture must exercise the coverage rejection path")
  }

  test("stateful streaming sessionization: closed sessions match batch twin") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    // drive through a real stream (availableNow over a staged dir)
    val dir = java.nio.file.Files.createTempDirectory("ev_sess")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val src = EventStream.streamSource(spark, dir.toString)
    val q = EventStream.sessionizeStream(src, 30).writeStream
      .outputMode("append").format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("sess_out")
      .select("user_id", "session_start", "session_end", "n_events")
    val batch = EventStream.sessionize(ev, 30)
      .select("user_id", "session_start", "session_end", "n_events")
    // every emitted (closed) session is a batch session…
    assert(streamed.except(batch).count() == 0)
    // …and exactly one open session per user is withheld in state
    val users = ev.select("user_id").distinct().count()
    assert(batch.count() - streamed.count() == users)
  }

  test("keyless bucketed range join is streaming-legal: stream-static ≡ batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Tables
    import graft.operators.Temporal
    // the rewrite is WHY this streams: a naive range join against a
    // keyless interval set is an unbounded stream-side state problem,
    // while quantize+explode+equi-join is a stateless map plus a
    // stream-static join — append mode, no watermark, no state store.
    val ev = Tables.events(spark, sf)
    val wins = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("w_id"), col("ts").as("w_start"),
        (col("ts") + expr("(event_id % 2 + 1) * INTERVAL 1 HOURS")).as("w_end"))
    val dir = java.nio.file.Files.createTempDirectory("ev_rj")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val src = EventStream.streamSource(spark, dir.toString)
    val q = Temporal.rangeJoinBucketed(src.select(col("event_id"), col("ts")),
        "ts", wins, "w_start", "w_end", 7200000000L)
      .select("event_id", "w_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("rj_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("rj_out")
    val batch = Temporal.rangeJoinBucketed(
        ev.select(col("event_id"), col("ts")), "ts",
        wins, "w_start", "w_end", 7200000000L)
      .select("event_id", "w_id")
    assert(streamed.count() > 0, "fixture must produce matches")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming transitions: emitted pair multiset equals the batch lag window") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Tables
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ev_trn")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val src = EventStream.streamSource(spark, dir.toString)
    val q = EventStream.transitionStream(src).writeStream
      .outputMode("append").format("memory").queryName("trn_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("trn_out")
      .groupBy("user_id", "prev_type", "next_type").count()
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val batch = ev.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("next_type"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy("user_id", "prev_type", "next_type").count()
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "per-user transition counts must match the batch lag window exactly")
  }

  test("streaming session transcripts: closed sessions match batch twin bit-for-bit") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ev_tr")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val src = EventStream.streamSource(spark, dir.toString)
    val q = EventStream.transcriptStream(src, 30).writeStream
      .outputMode("append").format("memory").queryName("tr_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("tr_out")
      .select("user_id", "session_start", "n_events", "transcript")
    val batch = EventStream.sessionTranscripts(ev, 30)
      .select("user_id", "session_start", "n_events", "transcript")
    // closed-session transcripts are exactly batch rows (order included)…
    assert(streamed.except(batch).count() == 0)
    // …one open session per user withheld, and real multi-event
    // transcripts flowed through the '->' serialization
    val users = ev.select("user_id").distinct().count()
    assert(batch.count() - streamed.count() == users)
    assert(spark.table("tr_out").filter(col("transcript").contains("->")).count() > 0)
  }

  test("audience overlap: self equi-join on entity, totals broadcast, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.sources.Tables
    val card = graft.operators.Profiling.audienceOverlap(
      Tables.events(spark, sf), col("user_id"), col("event_type"))
    card.count()
    val ns = nodes(card)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "overlap matrix must stay an equi-join — T² via pairs of tags, never rows")
    assert(ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "per-tag totals should broadcast onto the T²-row card")
  }

  test("range search: corpus is scanned, queries broadcast — corpus never shuffles") {
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
    val res = graft.operators.Similarity.rangeSearch(
      e.filter(col("vec_id") % 50 === 0), e, 0.25)
    res.count()
    val ns = nodes(res)
    assert(ns.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "radius search must not shuffle the corpus — the query side broadcasts")
    assert(ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "query side must be the broadcast build side")
  }

  test("dim-covariance card: pair fan-out partial-aggregates map-side; marginals broadcast") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import graft.sources.Tables
    // the catalog's emb11 body, minus the output sort
    val q = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
    val pairs = q.select(explode(expr(
        "flatten(transform(sequence(0, size(q) - 1), i -> " +
        "transform(sequence(i, size(q) - 1), j -> " +
        "named_struct('i', i, 'j', j, 'p', q[i] * q[j]))))")).as("s"))
      .select(col("s.i").as("i"), col("s.j").as("j"), col("s.p").as("p"))
    val ag = pairs.groupBy("i", "j").agg(count(lit(1)).as("n"), sum("p").as("s_ij"))
    ag.count()
    val ns = nodes(ag)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty)
    // partial aggregate must sit BELOW the exchange so the shuffle carries
    // ≤ d(d+1)/2 keys per partition, not the d²/2-per-row fan-out
    val aggs = ns.collect { case h: HashAggregateExec => h }
    assert(aggs.size >= 2, "expected partial+final hash aggregate pair")
    val shuffles = ns.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"one pair-key shuffle expected, got ${shuffles.size}")
  }

  test("point-in-time feature join: both features shuffle on user_id only, no pair join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val versions = graft.operators.Dedup.keepOneByKey(
      ev.filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("ts").as("valid_from"),
          col("event_type").as("state"), col("event_id")),
      Seq(col("user_id"), col("valid_from")), Seq(col("event_id")))
      .select("user_id", "valid_from", "state")
    val probes = ev.selectExpr("event_id", "user_id", "ts", "event_type", "value",
        "CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prior_events")
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value", "prior_events")
    val fs = graft.operators.Temporal.asofJoin(
      probes, versions, "user_id", "ts", "valid_from", "state", "state_at")
    fs.count()
    val ns = nodes(fs)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "PIT assembly must never materialize event×version pairs")
    // every window is keyed — no single-partition global window anywhere
    assert(ns.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty),
      "all windows must partition by user_id")
  }

  test("maxsim rerank: query groups broadcast; no unhinted cartesian; quantize-then-sum") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import graft.sources.Tables
    val e = Tables.embeddings(spark, sf)
      .withColumn("label", col("label").cast("long"))
    val res = graft.operators.Similarity.maxSimRerank(
      e.filter(col("vec_id") % 50 === 0), e, "label", "label", 3)
    res.count()
    val ns = nodes(res)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty,
      "the Q×N pass must ride the broadcast build side, never a shuffled cartesian")
    assert(ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "query vectors must broadcast")
    // self-retrieval sanity: a group containing its own query vector ranks itself first
    val top = res.filter(col("rank") === 1)
    assert(top.filter(col("q_group") === col("d_group")).count() == top.count())
  }

  test("daily snapshots: grid explode + keyed as-of windows, no pair join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.sources.Tables
    val ch = Tables.events(spark, sf).filter(col("event_id") % 7 === 0)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_type").as("state"), col("event_id"))
    val daily = graft.operators.Dedup.keepOneByKey(ch,
        Seq(col("user_id"), col("day")),
        Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("day").as("chg_day"), col("state"))
    val grid = daily.groupBy("user_id")
      .agg(min("chg_day").as("d0"), max("chg_day").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val snap = graft.operators.Temporal.asofJoin(
      grid, daily, "user_id", "day", "chg_day", "state", "state")
    val n = snap.count()
    val ns = nodes(snap)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "densification must never pair-join grid×changes")
    assert(ns.collect { case w: WindowExec => w }.forall(_.partitionSpec.nonEmpty),
      "as-of and last-change-of-day windows must partition by user/day keys")
    // the grid is dense: one row per user-day across each user's span
    val spans = daily.groupBy("user_id")
      .agg((datediff(max("chg_day"), min("chg_day")) + 1).as("s"))
      .agg(sum("s")).head().getLong(0)
    assert(n == spans, s"expected $spans dense user-days, got $n")
  }

  test("video frame dedup: banded equi-join only, frames align in the join key, partial matches survive") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.sources.Tables
    val frames = graft.operators.Multimodal.videoFrameHashes(
      Tables.documents(spark, sf))
    val pairs = graft.operators.Multimodal.videoDupPairs(frames, 3, 3)
    pairs.count()
    val ns = nodes(pairs)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "video pair generation must ride the banded equi-join, never a pair matrix")
    // the fixture's one-frame re-render produces true PARTIAL matches:
    // both 3-of-4 and 4-of-4 pairs must exist
    val dist = pairs.groupBy("n_matched_frames").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.keySet == Set(3L, 4L),
      s"expected 3-of-4 and 4-of-4 match classes, got $dist")
  }

  test("partitioned layout: a day-equality predicate prunes to one partition at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("part_ev").toString
    Bucketing.writePartitioned(
      Tables.events(spark, sf)
        .withColumn("day", to_date(col("ts")).cast("string")),
      dir, "day")
    val days = spark.read.parquet(dir).select("day").distinct().count()
    assert(days > 1, "fixture must span multiple partition directories")
    val one = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    one.count()
    val scans = nodes(one).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a V1 parquet scan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the day predicate must reach the scan as a PARTITION filter, not a row filter")
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 1,
      "exactly one partition directory must survive pruning")
  }

  test("arrival-decay score: streaming O(1)-state twin ≡ batch suffix-shift windows") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ev_decay")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val src = EventStream.streamSource(spark, dir.toString)
    val q = EventStream.decayStream(src).writeStream
      .outputMode("append").format("memory").queryName("decay_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("decay_out")
    val batch = EventStream.decayScore(ev)
      .select(col("user_id"), col("n_events"),
        datediff(col("last_day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").as("last_di"),
        col("score_micro"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0,
      "per-user decayed scores must be bit-equal between 24-byte stream state and batch windows")
  }

  test("interleaved mixture order: dense positions, weighted strata lead, no global sort window") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val ord = graft.operators.Sampling.interleavedOrder(
      docs, col("lang"), col("doc_id"), Map("en" -> 4L))
    val n = ord.count()
    assert(n == docs.count(), "every doc gets a position")
    assert(ord.agg(min("position"), max("position")).head() ==
      org.apache.spark.sql.Row(1L, n), "positions are a dense 1..N permutation")
    // weighted fair queuing: within the first 100 positions the weight-4
    // stratum supplies roughly 4/(4+k-1) of rows — at least double its
    // unweighted share
    val enShare = ord.filter(col("position") <= 100)
      .filter(col("stratum") === "en").count()
    assert(enShare >= 40, s"en (weight 4) supplied only $enShare of the first 100")
    // the only unpartitioned windows are the two ≤256-row bucket-offset
    // frames of the rank machinery (grouped + global)
    import org.apache.spark.sql.execution.window.WindowExec
    val globalWins = nodes(ord).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWins.size <= 2,
      s"expected only the bucket-offset frames unpartitioned, got ${globalWins.size}")
  }

  test("token-id rewrite (out7b shape): vocab joins broadcast, no cartesian, corpus explodes only") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Bpe
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val (_, fin) = Bpe.learn(Bpe.wordCounts(docs, col("text")), 6)
    val symIds = fin.select(explode(split(col("sym"), " ")).as("token")).distinct()
      .withColumn("tid", row_number().over(Window.orderBy("token")).cast("long"))
    val seq = docs.select(col("doc_id"),
        posexplode(graft.functions.F.tokens(lower(col("text")))).as(Seq("wpos", "word")))
      .where(length(col("word")) > 0)
      .join(fin.select(col("word"), split(col("sym"), " ").as("syms")), Seq("word"))
      .select(col("doc_id"), col("wpos"), posexplode(col("syms")).as(Seq("spos", "token")))
      .join(symIds, Seq("token"))
    seq.count()
    val ns = nodes(seq)
    assert(ns.collect { case c: CartesianProductExec => c }.isEmpty &&
      ns.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "id rewrite must stay equi-joins — never a pair join over the corpus")
    val bhj = ns.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2,
      s"both model-sized frames (word→symbols, symbol→id) should broadcast, got ${bhj.size}")
    // the corpus side must never be a broadcast build: its exchanges are
    // only the vocab-derived frames, each bounded by the model
    import org.apache.spark.sql.execution.window.WindowExec
    val globalWins = nodes(seq).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWins.size <= 1,
      s"only the vocab-rank window may be unpartitioned, got ${globalWins.size}")
  }
}
