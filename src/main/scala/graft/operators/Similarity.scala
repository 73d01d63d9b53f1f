package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.FloatDotProduct

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cell-restricted variant as the scale path, and cosine near-dup pairs.
  *
  * Numeric contract: dot products are a strict left fold in DOUBLE — the
  * codegen'd FloatDotProduct expression — so the DuckDB oracle
  * (list_reduce over double-cast lists) reproduces values bit-for-bit.
  *
  * Scale design:
  *  - Norms are computed ONCE per vector before the pair join (not per
  *    pair): O(N) instead of O(N·M) norm work.
  *  - Brute-force is O(Q×N) with the corpus side broadcast when small /
  *    block-nested when not; IVF restricts candidates to the query's
  *    coarse cell (`label` stands in for a learned coarse quantizer),
  *    turning the cross product into an equi-join on cell id.
  *  - Top-k is a windowed row_number; the shuffle sort does per-query
  *    partial top-k map-side.
  */
object Similarity {

  /** Codegen'd strict-left-fold double dot product (graft.plans). */
  def dot(a: Column, b: Column): Column = FloatDotProduct.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def withNorm(df: DataFrame, id: String, v: String, n: String): DataFrame =
    df.withColumn(n, sqrt(dot(col(v), col(v))))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos").as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Exact top-k neighbors by cosine for the given query rows.
    * Ties broken by ascending neighbor id (deterministic).
    *
    * This is the exact BASELINE: the plan is a broadcast-nested-loop
    * O(Q×N) scoring pass, intentional only while the query side is
    * small. `maxQueries` bounds that contract — a query set past the
    * cap fails fast with a pointer at the IVF scale path instead of
    * silently materializing a Q×N cross product on the cluster. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
      maxQueries: Int = 10000): DataFrame = {
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"Similarity.topK is the exact O(Q*N) baseline and its query side " +
      s"exceeds maxQueries=$maxQueries; use topKIvf/topKMultiProbe for " +
      s"large query sets, or raise maxQueries deliberately")
    val q = withNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", "qn")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Radius (range) search — FAISS `range_search`'s semantics: ALL
    * corpus vectors within cosine ≥ `threshold` of each query, not a
    * fixed k. The shape retrieval wants when the question is "everything
    * this similar" (dedup sweeps, recall-complete candidate pools)
    * rather than "the best k".
    *
    * Same exact-baseline contract as [[topK]] (O(Q×N) scoring pass with
    * the query side capped and broadcast — the corpus is scanned once,
    * never shuffled); at corpus scale restrict the candidate side to
    * neighboring cells first ([[nearDupPairs]] is that shape for the
    * self-join case). Output: (query_id, neighbor_id, cosine) — no rank
    * column, because a radius result has no k to rank within. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, threshold: Double,
      maxQueries: Int = 10000): DataFrame = {
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"Similarity.rangeSearch is the exact O(Q*N) baseline and its query " +
      s"side exceeds maxQueries=$maxQueries; block by cell for large query sets")
    val q = withNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", "qn")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv", "cn")
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Late-interaction MaxSim rerank (sim10) — ColBERT's scoring rule
    * over multi-vector representations: a query GROUP of vectors scores
    * a document GROUP as Σ over query vectors of the max cosine against
    * any document vector. Each per-(query-vector, doc-group) max is
    * floor-quantized to micro units BEFORE the sum, so the group score
    * is an order-independent BIGINT sum — bit-identical on any
    * partitioning (a float Σ of maxes would reassociate).
    *
    * Exact-baseline contract like [[topK]]: the query groups broadcast
    * and the corpus is scanned once (Q·N scoring pass, query side
    * capped); at corpus scale the doc-group side restricts to candidate
    * groups nominated by a first-stage retriever (ret1/sim2) — MaxSim
    * is the RE-RANKER, not the candidate generator. Ties break by
    * ascending doc group. Output: (q_group, d_group, maxsim_micro,
    * rank ≤ k). */
  def maxSimRerank(queries: DataFrame, corpus: DataFrame, qGroup: String,
      dGroup: String, k: Int, maxQueryVecs: Int = 10000): DataFrame = {
    val nq = queries.limit(maxQueryVecs + 1).count()
    require(nq <= maxQueryVecs,
      s"Similarity.maxSimRerank is the exact O(Q*N) baseline and its query " +
      s"side exceeds maxQueryVecs=$maxQueryVecs; rerank retriever candidates instead")
    val q = withNorm(queries.select(col(qGroup).as("q_group"),
      col("vec_id").as("q_id"), col("embedding").as("qv")), "q_id", "qv", "qn")
    val c = withNorm(corpus.select(col(dGroup).as("d_group"),
      col("vec_id").as("d_id"), col("embedding").as("cv")), "d_id", "cv", "cn")
    val best = c.join(broadcast(q), lit(true))
      .select(col("q_group"), col("q_id"), col("d_group"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .groupBy("q_group", "q_id", "d_group").agg(max(col("cos")).as("mc"))
      .select(col("q_group"), col("d_group"),
        floor(col("mc") * 1000000.0).cast("long").as("mc_micro"))
    val scores = best.groupBy("q_group", "d_group")
      .agg(sum("mc_micro").as("maxsim_micro"))
    val w = Window.partitionBy("q_group")
      .orderBy(col("maxsim_micro").desc, col("d_group").asc)
    scores.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining (sim8) for contrastive/embedding training:
    * for each query, the top-k most similar corpus vectors that are
    * (a) NOT plausibly the same item — cosine < `maxCos` excludes the
    * near-dup band — and (b) NOT a positive: a different `labelCol`
    * group (the coarse cell standing in for the supervision signal).
    * These "close but wrong" rows are the negatives that actually move
    * a contrastive loss; random negatives are trivially separable.
    *
    * Same exact-baseline contract as [[topK]] (O(Q×N) scoring pass,
    * query side capped); at corpus scale the candidate side restricts
    * to the query's neighboring cells first (compose with
    * [[topKMultiProbe]]'s cell machinery). Ties break by ascending
    * neighbor id. Output: (query_id, neighbor_id, cosine, rank). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, labelCol: String,
      k: Int, maxCos: Double = 0.9, maxQueries: Int = 10000): DataFrame = {
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"Similarity.hardNegatives is the exact O(Q*N) baseline and its " +
      s"query side exceeds maxQueries=$maxQueries; restrict candidates " +
      s"by cell for large query sets, or raise maxQueries deliberately")
    val q = withNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col(labelCol).as("qlab")), "query_id", "qv", "qn")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col(labelCol).as("clab")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, col("qlab") =!= col("clab"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .filter(col("cos") < maxCos)
    rankTopK(scored, k)
  }

  /** 60-bit SIGN sketch per embedding (emb10): bit i = [vec[i+1] > 0]
    * — the 1-bit-per-dimension binary embedding (sign quantization,
    * the extreme point of the emb1/SQ8/PQ compression ladder: 64
    * floats → 8 bytes, 32× smaller than SQ8). Cosine-similar vectors
    * agree in most sign bits, so Hamming distance on the sketch is the
    * cheap similarity proxy binary-embedding retrieval runs on. 60
    * bits (not 64) keeps the packed value clear of the Long sign bit —
    * shift arithmetic stays ANSI-safe and identical in the oracle.
    * Pure map, one codegen'd fold per row. */
  def signHash(vectors: DataFrame, dims: Int = 60): DataFrame = {
    require(dims >= 1 && dims <= 60, s"dims in [1, 60], got $dims")
    vectors.select(col("vec_id"), expr(
      s"aggregate(sequence(1, $dims), 0L, (acc, i) -> acc + " +
        "CASE WHEN element_at(embedding, i) > 0D THEN shiftleft(1L, i - 1) ELSE 0L END)")
      .as("sig"))
  }

  /** Banded Hamming near-dup pairs over [[signHash]] sketches: 4×15-bit
    * band keys generate candidates by equi-join (pigeonhole-exact for
    * maxDist ≤ 3: a pair within distance 3 agrees on ≥1 of 4 bands),
    * then the exact popcount-of-xor filter keeps true close pairs —
    * d3's SimHash machinery applied to sign-quantized embeddings, so
    * embedding near-dup candidates cost an equi-join on 32k-key bands
    * instead of any vector math. Output: (id_a, id_b, hamming). */
  def signHammingPairs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist in [0, 3] (pigeonhole bound for 4 bands), got $maxDist")
    val banded = sigs.select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("k", expr("shiftright(sig, band * 15)") bitwiseAND lit(32767L))
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("vec_id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
      .join(sigs.select(col("vec_id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa") bitwiseXOR col("sb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** sim12 — two-stage BINARY ANN (the compression ladder composed end
    * to end): stage 1 nominates candidates from the 60-bit sign
    * sketches — banded equi-join (4×15-bit keys) then a Hamming cap —
    * touching 8 bytes per corpus vector; stage 2 re-scores ONLY the
    * survivors with the exact strict-fold cosine and ranks top-k. The
    * binary-embedding retrieval pattern: the full-precision corpus is
    * read only for candidate ids (an id-equi fetch), so the scan-side
    * payload is 32× smaller than SQ8 and the expensive math runs on a
    * candidate set, not N. Recall is graded against exact truth by the
    * catalog entry (eval1 protocol).
    *
    * Scale shape: sign sketches are a pure map; candidates come from a
    * band equi-join + popcount filter (never a cross product — pinned);
    * rerank joins are id-equi against the vector table. */
  def topKSignRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      maxHamming: Int = 20): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 60, s"maxHamming in [0, 60], got $maxHamming")
    def banded(sigs: DataFrame, idc: String, sc: String) =
      sigs.select(col(idc), col(sc), explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bk", expr(s"shiftright($sc, band * 15)") bitwiseAND lit(32767L))
    val qs = signHash(queries).select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val cs = signHash(corpus).select(col("vec_id").as("neighbor_id"), col("sig").as("csig"))
    val cand = banded(qs, "query_id", "qsig")
      .join(banded(cs, "neighbor_id", "csig"), Seq("band", "bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qsig", "csig").distinct()
      .filter(bit_count(col("qsig") bitwiseXOR col("csig")) <= maxHamming)
      .select("query_id", "neighbor_id")
    val q = withNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", "qn")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv", "cn")
    val scored = cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF-style ANN: candidates restricted to the query's coarse cell. */
  def topKIvf(vectors: DataFrame, cellCol: String, k: Int): DataFrame = {
    val q = withNorm(vectors.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col(cellCol).as("cell")), "query_id", "qv", "qn")
    val c = withNorm(vectors.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col(cellCol).as("cell")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Asymmetric IVF top-k: queries score against a DIFFERENT corpus
    * representation than their own — the IVF-PQ search shape (sim5),
    * where the corpus side is PQ reconstructions
    * ([[Clustering.pqReconstruct]]) while queries stay full-precision.
    * Same equi-join-on-cell candidate generation as [[topKIvf]]; at
    * scale the reconstructed corpus is the compact artifact that
    * actually fits memory, queries arrive raw. Both frames need
    * (vec_id, embedding, cellCol). */
  def topKIvfAsym(queries: DataFrame, corpus: DataFrame, cellCol: String, k: Int): DataFrame = {
    val q = withNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col(cellCol).as("cell")), "query_id", "qv", "qn")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col(cellCol).as("cell")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF multi-probe ANN over a FIXTURE cell column: each query probes
    * its own coarse cell plus `nprobe - 1` ring-adjacent cells
    * ((cell ± i) mod numCells). Candidate generation stays an equi-join
    * on cell id: the query side fans out ×nprobe (map-side explode, no
    * extra shuffle of the corpus), and because every corpus vector
    * lives in exactly one cell the probe union is duplicate-free by
    * construction. Recall ⊇ single-probe topKIvf at ×nprobe candidate
    * cost — still O(N·nprobe/numCells) per query, never O(N).
    *
    * The ring is metric-BLIND — id-adjacent cells are not cosine-
    * adjacent centroids, so the extra candidates buy near-random recall.
    * It exists for corpora whose cell column is an opaque label with no
    * centroids to rank. When centroids are available (emb4 training),
    * use the centroid-ranked overload below: same candidate cost,
    * strictly better recall per candidate (property-tested in
    * DataOpsSpec). */
  def topKMultiProbe(vectors: DataFrame, cellCol: String, k: Int,
      numCells: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCells,
      s"nprobe must be in [1, numCells=$numCells], got $nprobe")
    // ring offsets 0, +1, -1, +2, -2, … taking the first nprobe
    val offsets = (0 until numCells)
      .flatMap(i => if (i == 0) Seq(0) else Seq(i, -i))
      .take(nprobe)
    val probes = array(offsets.map(o =>
      pmod(col(cellCol) + lit(o), lit(numCells))): _*)
    val q = withNorm(vectors.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), explode(probes).as("cell")),
      "query_id", "qv", "qn")
    val c = withNorm(vectors.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col(cellCol).as("cell")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF-PQ top-k via ASYMMETRIC DISTANCE COMPUTATION (ADC) — the real
    * IVF-PQ scan. The corpus side never carries floats into the scoring
    * join: each corpus vector is its m PQ codes (small ints) plus one
    * precomputed reconstruction-norm² double. Each QUERY precomputes its
    * m×k table of sub-centroid dot products against the broadcast
    * codebook (tiny — k·m doubles per query), and scoring a candidate is
    * m map lookups folded in subspace order:
    *
    *   cos(q, rec(c)) = Σ_s qd[s][code_s] / (‖q‖ · sqrt(Σ_s cn2[s][code_s]))
    *
    * identical math to scoring against [[Clustering.pqReconstruct]]
    * output, with ~dim/m× less scan arithmetic and no transient
    * full-vector materialization. Determinism contract: both Σ folds run
    * in ascending-subspace order (sorted struct arrays + aggregate's
    * strict left fold), each qd/cn2 is FloatDotProduct's strict fold, so
    * the DuckDB oracle (list_reduce over sub-ordered lists) reproduces
    * every cosine bit-for-bit.
    *
    * `queries` = (vec_id, embedding, cell); `codes` = pqAssign output
    * (vec_id, sub, code); `codebook` = pqTrain output (sub, cid, cv);
    * `corpusCells` = (vec_id, cell) coarse routing. */
  def topKIvfPq(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
      corpusCells: DataFrame, k: Int, m: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    // corpus scan payload: m (sub, code) ints + Σ cn2 — no embedding col
    val cbn = codebook.select(col("sub"), col("cid"),
      dot(col("cv"), col("cv")).as("cn2"))
    val corpus = codes.alias("a")
      .join(broadcast(cbn.alias("b")),
        col("a.sub") === col("b.sub") && col("a.code") === col("b.cid"))
      .select(col("a.vec_id").as("vec_id"), col("a.sub").as("sub"),
        col("a.code").as("code"), col("b.cn2").as("cn2"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("sub"), col("code"), col("cn2")))).as("scs"))
      .select(col("vec_id").as("neighbor_id"),
        expr("transform(scs, x -> struct(x.sub AS sub, x.code AS code))").as("codes"),
        expr("aggregate(scs, 0D, (acc, x) -> acc + x.cn2)").as("rn2"))
      .join(corpusCells.select(col("vec_id").as("neighbor_id"), col("cell")),
        Seq("neighbor_id"))
    // per-query ADC table: map sub -> (map code -> dot(q_sub, sub-centroid))
    val parts = queries.select(col("vec_id"),
        explode(array((0 until m).map(sx =>
          struct(lit(sx.toLong).as("sub"),
            slice(col("embedding"), sx * subDim + 1, subDim).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))
    val qtab = parts.join(broadcast(codebook), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        dot(col("sv"), col("cv")).as("qd"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(map_from_entries(collect_list(struct(col("cid"), col("qd")))).as("mp"))
      .groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("sub"), col("mp")))).as("qdt"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("cell"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
      .join(qtab.select(col("vec_id").as("query_id"), col("qdt")), Seq("query_id"))
    val scored = q.join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("aggregate(codes, 0D, (acc, x) -> acc + qdt[x.sub][x.code])") /
          (col("qn") * sqrt(col("rn2")))).as("cos"))
    rankTopK(scored, k)
  }

  /** Exact re-rank refinement (sim5b) — standard IVF-PQ practice (the
    * FAISS refine stage): a cheap quantized scan ([[topKIvfPq]]) nominates
    * top-k′ candidates per query (k′ = a small multiple of k), then ONLY
    * those (query, candidate) pairs are re-scored against full-precision
    * vectors and the final top-k emitted. ADC's quantization error can
    * mis-order near-ties; re-scoring k′ rows per query removes that error
    * from the final ranking at O(Q·k′) exact-dot cost — never O(Q·N).
    *
    * `candidates` = (query_id, neighbor_id) pairs (extra columns
    * ignored); `vectors` = (vec_id, embedding) full precision. The plan
    * is two equi-joins pulling each side's embedding by id — the corpus
    * is touched only at candidate rows (ScaleSpec pins no cartesian and
    * |rescored| = |candidates|). Ties broken by ascending neighbor id,
    * same contract as every other ranker here. */
  def refineTopK(candidates: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val q = withNorm(vectors.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", "qn")
    val c = withNorm(vectors.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv", "cn")
    val scored = candidates.select(col("query_id"), col("neighbor_id"))
      .join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Rank every centroid per vector by [[Clustering.assign]]'s scoring
    * (cosine desc, min-cid tie-break): (vec_id, cid, crank). The cross
    * join is against the BROADCAST k-row centroid model — N×k rows, a
    * pure map — and the rank window partitions by vec_id. */
  private def rankCells(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val scored = vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (dot(col("embedding"), col("cv")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("cv"), col("cv"))))).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("crank", row_number().over(w))
  }

  /** Metric-aware IVF multi-probe ANN on LEARNED centroids (the real
    * multi-probe): each query probes the `nprobe` centroids NEAREST to
    * it — ranked by the same cosine/min-cid scoring the quantizer
    * assigns with ([[Clustering.assign]]) — instead of id-ring
    * neighbors. Corpus vectors live in their rank-1 cell; query
    * candidates fan out to rank ≤ nprobe cells, so recall ⊇ single-
    * probe by construction and every extra candidate comes from a cell
    * the query is actually close to. `cents` is the k-row (cid, cv)
    * model from [[Clustering.kmeans]] — broadcast, never shuffled; the
    * corpus side still moves only through one equi-join on cell id. */
  def topKMultiProbe(vectors: DataFrame, cents: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // probe assignments feed BOTH join sides (rank ≤ nprobe queries,
    // rank 1 corpus) — persist the N×nprobe (vec_id, cid, crank) ints
    // once instead of running the broadcast-score + rank window twice;
    // released by the driver's CacheScope.releaseAll at query end
    val probes = graft.CacheScope.persist(
      rankCells(vectors, cents).filter(col("crank") <= nprobe))
    val q = withNorm(vectors.join(
        probes.select(col("vec_id"), col("cid").as("cell")), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell")), "query_id", "qv", "qn")
    val c = withNorm(vectors.join(
        probes.filter(col("crank") === 1)
          .select(col("vec_id"), col("cid").as("cell")), Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("cell")), "neighbor_id", "cv", "cn")
    val scored = q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Per-dimension scalar-quantizer model (the FAISS SQ8 index's train
    * step): (mn_d, st_d) with st_d = (max_d - min_d) / 255. Bounded
    * driver model state (dim rows), like the k-means centroids: the
    * per-dim min/max aggregate is posexplode + groupBy(dim) — map-side
    * combined, so the shuffle carries dim rows per input partition at
    * any corpus size. */
  def sq8Train(corpus: DataFrame, dim: Int = 64): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
    require(stats.length == dim,
      s"sq8Train saw ${stats.length} dimensions, expected $dim")
    val mn = new Array[Double](dim)
    val st = new Array[Double](dim)
    stats.foreach { r =>
      val i = r.getInt(0)
      mn(i) = r.getDouble(1)
      st(i) = (r.getDouble(2) - mn(i)) / 255.0
    }
    (mn, st)
  }

  /** SQ8 asymmetric-distance ANN (sim6): the scalar-quantization
    * companion to the PQ path ([[topKIvfPq]]). The corpus is stored as
    * one int8-range code per DIMENSION — code_d = floor((x_d - mn_d) /
    * st_d) ∈ [0, 255], an 8× smaller scan/shuffle payload than raw
    * floats with none of PQ's codebook training — while queries stay
    * full-precision. Scoring uses the ADC decomposition
    *
    *   dot(q, dec(c)) = Σ q_d·mn_d  +  Σ (q_d·st_d)·c_d
    *
    * so each query precomputes its offset Σ q_d·mn_d and scaled vector
    * q_d·st_d ONCE (pure maps), and the per-pair work inside the
    * cell-restricted join is a single codegen'd array<double>×array<long>
    * fold ([[graft.plans.CodeDotProduct]]). Candidate generation is the
    * same equi-join on coarse cell as [[topKIvf]] — never O(N²).
    * Reconstruction norms (rn2) are computed once per corpus row at
    * encode time. Every fold is strict left-to-right in DOUBLE, so the
    * DuckDB oracle reproduces each cosine bit-for-bit. Ties broken by
    * ascending neighbor id like every ranker here. */
  def topKIvfSq(vectors: DataFrame, cellCol: String, k: Int, dim: Int = 64): DataFrame = {
    val (mn, st) = sq8Train(vectors, dim)
    val mnL = typedLit(mn.toSeq)
    val stL = typedLit(st.toSeq)
    val codes = transform(col("embedding"), (x, i) =>
      when(element_at(stL, i + 1) === 0.0, lit(0L))
        .otherwise(floor((x.cast("double") - element_at(mnL, i + 1)) /
          element_at(stL, i + 1)).cast("long")))
    val dec = transform(col("codes"), (c, i) =>
      element_at(mnL, i + 1) + c.cast("double") * element_at(stL, i + 1))
    val c = vectors
      .select(col("vec_id").as("neighbor_id"), col(cellCol).as("cell"),
        codes.as("codes"))
      .withColumn("rn2", aggregate(dec, lit(0.0), (acc, x) => acc + x * x))
    val q = vectors.select(col("vec_id").as("query_id"), col(cellCol).as("cell"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * element_at(stL, i + 1)).as("qs"),
      aggregate(transform(col("embedding"), (x, i) =>
          x.cast("double") * element_at(mnL, i + 1)),
        lit(0.0), (acc, x) => acc + x).as("qoff"),
      sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ((col("qoff") + graft.plans.CodeDotProduct.dot(col("qs"), col("codes"))) /
          (col("qn") * sqrt(col("rn2")))).as("cos"))
    rankTopK(scored, k)
  }

  /** sim7 — mutual-kNN graph: undirected edges (a < b) where each
    * endpoint is in the OTHER's top-k (the standard kNN-graph
    * construction under graph clustering and graph-based dedup;
    * mutuality prunes hub-induced asymmetric edges). The kNN lists are
    * computed once ([[topKIvf]]) and persisted; mutuality is one
    * self-equi-join on the (query, neighbor)↔(neighbor, query) pair —
    * k·N rows a side, never the corpus. Cosine is symmetric and both
    * directions compute the identical strict fold, so either side's
    * value is THE value. */
  def mutualKnn(vectors: DataFrame, cellCol: String, k: Int): DataFrame = {
    val knn = graft.CacheScope.persist(
      topKIvf(vectors, cellCol, k)
        .select(col("query_id"), col("neighbor_id"), col("cosine")))
    knn.alias("x").join(knn.alias("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .filter(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine").as("cosine"))
  }

  /** sim13 — INCREMENTAL mutual-kNN graph maintenance (the serving
    * deployment's move: a corpus admits a batch without rebuilding the
    * index from scratch — d8/idx2/out3's incremental contract for the
    * ANN family). Given the standing corpus `base` and an arriving
    * `batch` (both (vec_id, embedding, cellCol)), produce the mutual-
    * kNN graph of base ∪ batch EXACTLY equal to a full [[mutualKnn]]
    * rebuild, while touching only O(batch · cell) new pairs:
    *
    *  1. the stored index — base's within-cell kNN lists WITH scores —
    *     is what the deployment already holds (recomputed here so the
    *     operator is self-contained; its cost is the standing index's,
    *     not the insert's);
    *  2. each batch node scores against every current node in its cell
    *     (old + other new) — the only NEW pair work, O(batch · cell);
    *  3. old nodes' lists update by MERGE, not rescan: only a new node
    *     can displace a stored top-k entry (any old-vs-old pair outside
    *     the stored list is dominated by k stored pairs), so
    *     top-k(stored ∪ transposed-batch-scores) = top-k(full rebuild).
    *     The transpose is exact: the strict-left dot fold and the norm
    *     product both commute bit-for-bit, so cos(new, old) IS
    *     cos(old, new);
    *  4. mutuality is the usual self-equi-join of the merged k·N lists.
    *
    * Equivalence to the rebuild is oracle-gated (sim13 grades against
    * sim7's full-rebuild SQL verbatim), not asserted. */
  def knnInsertMutual(base: DataFrame, batch: DataFrame, cellCol: String,
      k: Int): DataFrame = {
    val stored = topKIvf(base, cellCol, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("cos"))
    val q = withNorm(batch.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col(cellCol).as("cell")), "query_id", "qv", "qn")
    val cAll = withNorm(
      base.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col(cellCol).as("cell"), lit(false).as("is_new"))
        .unionByName(batch.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col(cellCol).as("cell"),
          lit(true).as("is_new"))),
      "neighbor_id", "cv", "cn")
    // batch-side scores feed BOTH the new nodes' own lists and the old
    // nodes' merge (transposed) — persist the O(batch · cell) frame once
    val scored = graft.CacheScope.persist(
      q.join(cAll, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("is_new"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos")))
    val batchKnn = rankTopK(scored.select(col("query_id"), col("neighbor_id"),
      col("cos")), k)
    // transpose only new-vs-OLD rows: new-vs-new pairs already appear in
    // both directions within `scored` and must not duplicate
    val oldVsNew = scored.filter(!col("is_new")).select(
      col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id"),
      col("cos"))
    val updatedOld = rankTopK(stored.unionByName(oldVsNew), k)
    val knn = graft.CacheScope.persist(
      updatedOld.unionByName(batchKnn)
        .select(col("query_id"), col("neighbor_id"), col("cosine")))
    knn.alias("x").join(knn.alias("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .filter(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine").as("cosine"))
  }

  /** Incremental DELETE maintenance for the mutual-kNN graph — the
    * other half of [[knnInsertMutual]]'s serving contract (a standing
    * ANN deployment retires vectors: GDPR erasure, content takedowns,
    * corpus re-curation). The rebuild over the survivor corpus is
    * reproduced WITHOUT rescoring unaffected nodes:
    *
    *  1. deleted nodes' own stored lists drop (anti-join);
    *  2. a survivor whose remaining list referenced a deleted neighbor
    *     is AFFECTED: a slot opened, and a candidate outside the stored
    *     k may enter — it rescores within its cell against the survivor
    *     corpus (O(affected · cell) work, never corpus · cell);
    *  3. every other survivor keeps its stored list VERBATIM — a proof,
    *     not a heuristic: its stored k neighbors were the best over a
    *     SUPERSET of the survivor corpus and are all still present, so
    *     they are the best over the subset, in the same deterministic
    *     (cos DESC, neighbor_id ASC) order;
    *  4. mutuality is the usual self-equi-join of the merged lists.
    *
    * Equivalence to the rebuild is oracle-gated (sim14 grades against
    * sim7's rebuild SQL over the survivor corpus verbatim); cosines are
    * bit-exact because kept lists carry the originally scored values
    * and rescored lists run the identical strict-left dot fold. */
  def knnDeleteMutual(corpus: DataFrame, deleteIds: DataFrame, cellCol: String,
      k: Int): DataFrame = {
    val del = deleteIds.select(col("vec_id").as("del_id"))
    val stored = topKIvf(corpus, cellCol, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // survivors' standing lists (deleted nodes' own lists drop) — read
    // twice below (affected probe + pass-through), persist once
    val kept = graft.CacheScope.persist(
      stored.join(del, col("query_id") === col("del_id"), "left_anti"))
    val affectedIds = kept
      .join(del, col("neighbor_id") === col("del_id"), "left_semi")
      .select(col("query_id")).distinct()
    val survivors = corpus.join(del, col("vec_id") === col("del_id"), "left_anti")
    val rescored = topKIvfAsym(
      survivors.join(affectedIds, col("vec_id") === col("query_id"), "left_semi"),
      survivors, cellCol, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val untouched = kept
      .join(affectedIds.select(col("query_id").as("aff_id")),
        col("query_id") === col("aff_id"), "left_anti")
    val knn = graft.CacheScope.persist(untouched.unionByName(rescored))
    knn.alias("x").join(knn.alias("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .filter(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine").as("cosine"))
  }

  /** [[mutualKnn]] for a BOUNDED, model-sized frame (a fixed-count node
    * set like [[graphWalkLayered]]'s apex layer): identical mutual-top-k
    * semantics, but scored by one broadcast-nested-loop pass instead of a
    * cell equi-join — the [[topK]] shape. The caller owns the bound: this
    * is K² pair work for a K-row frame, correct only when K is a fixed
    * COUNT independent of the corpus (the k-means contract — centroid
    * tables, apex layers, never a corpus sample at a rate). Crucially it
    * contains NO constant-key equi-join: a `lit(0)` cell column would
    * funnel every pair through one shuffle key, where the broadcast pass
    * parallelizes over the probe side (ScaleSpec pins the absence of
    * foldable join keys in the layered walk's plan). */
  def mutualKnnBounded(vectors: DataFrame, k: Int): DataFrame = {
    val q = withNorm(vectors.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", "qn")
    val c = withNorm(vectors.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv")), "neighbor_id", "cv", "cn")
    val scored = q.join(broadcast(c), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val knn = graft.CacheScope.persist(
      rankTopK(scored, k).select(col("query_id"), col("neighbor_id"), col("cosine")))
    knn.alias("x").join(knn.alias("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .filter(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cosine").as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b) with cosine ≥
    * threshold, blocked by coarse cell to avoid the full cross product. */
  def nearDupPairs(vectors: DataFrame, cellCol: String, threshold: Double): DataFrame = {
    val a = withNorm(vectors.select(col("vec_id").as("id_a"),
      col("embedding").as("va"), col(cellCol).as("cell")), "id_a", "va", "na")
    val b = withNorm(vectors.select(col("vec_id").as("id_b"),
      col("embedding").as("vb"), col(cellCol).as("cell")), "id_b", "vb", "nb")
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos").as("cosine"))
  }

  /** Semantic dedup (sem1, SemDeDup-style): drop every vector that has a
    * SMALLER-id within-cell neighbor at cosine ≥ threshold; survivors
    * keep their cell. The pruning rule is one pass and deterministic —
    * "drop x iff ∃ y < x in x's cell with cos(x,y) ≥ τ" — the same
    * min-id-survivor convention as the text dedup family (d1/d2), not a
    * transitive clustering (that's d6's job; compose with it if cluster
    * semantics are wanted). Blocked by the cell column, so the intended
    * composition is cells learned by [[graft.operators.Clustering.kmeansAssign]]:
    * cluster the corpus semantically, then prune redundancy inside each
    * cell — prunes O(Σ cell²) pairs instead of O(N²).
    *
    * Scale shape: [[nearDupPairs]]'s banded equi-join on the cell plus
    * one left-anti join — no cartesian node anywhere (ScaleSpec pins
    * it).
    *
    * Domain: vectors must have NON-ZERO norm. A zero vector's cosine is
    * NaN, and both engines order NaN above any threshold, so a zero
    * vector is silently DROPPED whenever a smaller-id cell-mate exists
    * (and keeps cell-mates it should arguably not match). Filter zero
    * vectors out (or L2-normalize via emb2) before deduping; the same
    * caveat applies to [[nearDupPairs]], whose pairs carry NaN cosines
    * for zero-vector members. */
  def semanticDedup(vectors: DataFrame, cellCol: String, threshold: Double): DataFrame = {
    val dropIds = nearDupPairs(vectors, cellCol, threshold)
      .select(col("id_b").as("vec_id")).distinct()
    vectors.join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col(cellCol))
  }

  /** Cross-corpus within-cell pairs (c6): every `(corpus, probe)` pair
    * sharing a coarse cell with cosine ≥ threshold — the BIPARTITE
    * sibling of [[nearDupPairs]] (which pairs a corpus with itself).
    * Built for semantic contamination scanning: probe = benchmark
    * embeddings, corpus = training embeddings; a hit is an eval item
    * the model will have effectively seen even when no n-gram overlaps
    * (paraphrase contamination that c1's shingle scan cannot catch).
    *
    * Scale shape: both sides assign to the same learned cells (emb4),
    * so candidates come from one equi-join on the cell id — O(Σ
    * cell_corpus × cell_probe), never |corpus| × |probe|; the probe
    * side (benchmarks) is small and broadcasts under AQE. Same
    * non-zero-norm domain as [[nearDupPairs]]. */
  def crossCorpusPairs(corpus: DataFrame, probe: DataFrame, cellCol: String,
      threshold: Double): DataFrame = {
    val c = withNorm(corpus.select(col("vec_id"),
      col("embedding").as("cv"), col(cellCol).as("cell")), "vec_id", "cv", "cn")
    val p = withNorm(probe.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"), col(cellCol).as("cell")), "probe_id", "pv", "pn")
    c.join(p, Seq("cell"))
      .select(col("vec_id"), col("probe_id"),
        (dot(col("cv"), col("pv")) / (col("cn") * col("pn"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id"), col("probe_id"), col("cos").as("cosine"))
  }

  /** ANN recall scorecard (eval1): per-query hit counts of an
    * approximate result list against exact ground truth — the number
    * that justifies (or indicts) every IVF/PQ parameter choice before a
    * corpus-sized run. Both inputs are `(query_id, neighbor_id, …)`
    * top-k lists (truth from [[topK]] on a query SAMPLE, approximate
    * from any of the IVF family); output is one row per query:
    * `(query_id, n_truth, n_hits)` — mean recall = Σhits / Σtruth,
    * derivable exactly downstream, integer counts only so the card is
    * deterministic across engines.
    *
    * Scale shape: one equi-join of two k-row-per-query lists on
    * (query_id, neighbor_id) + one query-keyed agg — the corpus is
    * never touched; cost scales with the query sample, not N. */
  def annRecall(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))

  /** sim11 — graph-walk ANN (the NSW/HNSW-shaped complement to the IVF
    * family): greedy beam search over a prebuilt kNN graph
    * ([[mutualKnn]] or any `(id_a, id_b)` edge frame). Each query seeds
    * at its OWN graph node (queries are corpus members, the self-query
    * shape of every sim entry); each hop expands the frontier one edge
    * outward, scores the newly reached nodes with the exact strict-fold
    * cosine, folds them into the visited set, and keeps the best `beam`
    * visited nodes (cos DESC, node ASC — deterministic) as the next
    * frontier. After `hops` expansions the best k visited non-self
    * nodes are the answer. Fixed hop count instead of
    * walk-until-converged keeps the operator engine-replicable (an
    * oracle states H hops as H CTE blocks) and the plan depth bounded.
    *
    * Scale shape: adjacency and vectors persist once; each hop is one
    * equi-join of the O(Q·beam) frontier against the adjacency list,
    * one id-equi-join to fetch candidate vectors, and a per-query
    * top-beam rank over O(Q·beam·k) rows — never a cross product, and
    * the corpus is touched only through id-equi-joins (pinned in
    * ScaleSpec). Per-hop visited frames persist lazily (multi-consumer:
    * next hop's union + frontier rank); no eager action anywhere — the
    * pagerank lesson. */
  def graphWalk(vectors: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beam: Int = 8, hops: Int = 3): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1,
      s"k/beam/hops must be >= 1, got $k/$beam/$hops")
    val (adj, v, q, nQ) = walkFrames(vectors, graph, queries)
    val visited0 = q.select(col("query_id"), col("query_id").as("node_id"),
      lit(1.0).as("cos"))
    walkLoop(adj, v, q, nQ, visited0, k, beam, hops)
  }

  /** sim11b — graph-walk ANN seeded from the coarse quantizer (the
    * HNSW-shaped entry-point discipline): [[graphWalk]]'s self-seed
    * frames the query as a GRAPH MEMBER, but a production query is
    * not in the graph — it has no node to start from. This variant
    * routes each query to its nearest emb4 centroid (the same
    * broadcast rank as IVF) and seeds the beam at that cell's
    * `nSeeds` members closest to the centroid — graph nodes that
    * exist regardless of the query, playing the role of HNSW's
    * per-layer entry points. The walk itself (hop loop, beam rank,
    * final top-k) is [[graphWalk]]'s verbatim.
    *
    * Scale shape on top of graphWalk's: centroid routing is one
    * broadcast k-row rank per query (the sim3b move); the seed table
    * is ≤ cells·nSeeds rows built from ONE corpus assignment pass
    * (already paid if the IVF index exists) and joins the query frame
    * on cell id. `nSeeds` must be ≤ `beam` or hop-1's rank would
    * discard seeds before they expand. */
  def graphWalkSeeded(vectors: DataFrame, graph: DataFrame,
      queries: DataFrame, cents: DataFrame, k: Int, beam: Int = 8,
      hops: Int = 3, nSeeds: Int = 8,
      sharedAssign: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1,
      s"k/beam/hops must be >= 1, got $k/$beam/$hops")
    require(nSeeds >= 1 && nSeeds <= beam,
      s"nSeeds must be in [1, beam=$beam], got $nSeeds")
    val (adj, v, q, nQ) = walkFrames(vectors, graph, queries)
    // sharedAssign (r19 opt): a caller holding the session's corpus
    // assignment against the SAME centroids (the catalog's
    // kmAssignShared) passes it here instead of re-running the
    // corpus-wide assign per invocation; the seed construction is
    // identical either way.
    val asg = sharedAssign.getOrElse(
      graft.CacheScope.persist(Clustering.assign(vectors, cents)))
    val sw = Window.partitionBy(col("cid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val seeds = asg.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= nSeeds)
      .select(col("cid").as("cell"), col("vec_id").as("node_id"))
    val qCell = Clustering.assign(queries, cents)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"))
    val visited0 = qCell.join(seeds, Seq("cell"))
      .select(col("query_id"), col("node_id"))
      .join(v, Seq("node_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("node_id"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    walkLoop(adj, v, q, nQ, visited0, k, beam, hops)
  }

  /** sim11c — layered graph-walk ANN (the HNSW move proper): the
    * mutual-kNN base graph is SPARSE — its components are small, and a
    * beam that enters one component can never leave it, which is
    * exactly why [[graphWalkSeeded]]'s measured recall plateaus (0.34
    * mean at sf0.01 — honest, and not good). HNSW's answer is layered
    * long-range links plus diverse entry points; this variant builds
    * both deterministically on machinery the repo already has:
    *
    *  - MID layer: an smp1-style content-stable md5-bucket sample of
    *    the corpus (`midPermille`‰) ∪ the entry-point pool, given its
    *    OWN mutual-kNN edges ([[mutualKnn]], `kUpper` per side)
    *    blocked by the LEARNED kmeans cell — geometry, not the label
    *    metadata the base graph blocks on. Sampled nodes' nearest
    *    SAMPLED cell-mates sit ~4× farther out than base neighbors:
    *    genuine long-range edges, and they cross labels.
    *  - TOP layer: a FIXED-COUNT node set — the `topCount` smallest
    *    corpus ids by content-stable md5 priority
    *    ([[Sampling.hashPriority]], smp6's machinery; a
    *    TakeOrderedAndProject, never a global sort) ∪ the pool —
    *    mutual-kNN'd over the whole bounded frame
    *    ([[mutualKnnBounded]], one broadcast pass, no cell key). The
    *    HNSW apex whose edges cross even cell boundaries, so the beam
    *    can migrate between cells instead of being confined to the one
    *    it was routed to (the routed cell holds only 13/50 of the
    *    exact truth at sf0.01; the quantizer, not the walk, is the
    *    binding cap).
    *  - ENTRY: each query routes to its `nProbe` best cells
    *    ([[Clustering.assignTop]]) and the beam seeds at the
    *    `nEntry` centroid-nearest pool members of EACH — same total
    *    seed count as [[graphWalkSeeded]] at the defaults (2·4 = 8),
    *    but spread over two cells.
    *
    * The walk itself (hop loop, beam rank, final top-k) is
    * [[graphWalk]]'s verbatim, at the same hops/beam.
    *
    * Measured (sf0.01, eval1 protocol, 10 queries × top-5 truth):
    * mean recall 0.68 at ~163 exact dots/query vs [[graphWalkSeeded]]'s
    * 0.34 at ~104 — and the budget does not explain it: the UN-layered
    * graph given MORE budget (beam 16, ~146 dots) reaches only 0.42,
    * because no amount of beam can cross edges that don't exist. The
    * recall/hops trade: hops beyond 3 buy nothing here (the graph
    * diameter within bridged components is ~3); what moves recall is
    * nProbe (entry diversity) and the top layer (cross-cell edges).
    *
    * Scale shape on top of [[graphWalkSeeded]]'s: the mid layer is one
    * content-stable filter + [[mutualKnn]]'s cell-blocked equi-join
    * over the sample (at 250‰, 1/16th of the base kNN's pair work;
    * cell sizes constant under the IVF discipline → corpus-linear);
    * the top layer is BOUNDED like the centroid table — `topCount` is
    * a fixed COUNT, not a rate, so its kNN is K² work on a model-sized
    * frame regardless of the corpus (the k-means contract), done by
    * [[mutualKnnBounded]]'s broadcast pass with NO constant-key
    * equi-join anywhere (ScaleSpec pins no foldable join key survives
    * into the plan); the union adds ≤ (mid + top)·kUpper rows to
    * the persisted adjacency. Everything else is unchanged: same
    * per-hop frontier equi-joins, same final rank. */
  def graphWalkLayered(vectors: DataFrame, graph: DataFrame,
      queries: DataFrame, cents: DataFrame, k: Int, beam: Int = 8,
      hops: Int = 3, nProbe: Int = 2, nEntry: Int = 4,
      poolPerCell: Int = 8, midPermille: Int = 250, topCount: Int = 64,
      kUpper: Int = 5, cutLineage: Boolean = true): DataFrame = {
    val (adj, v, q, nQ, visited0) = layeredPrep(vectors, graph, queries, cents,
      k, beam, hops, nProbe, nEntry, poolPerCell, midPermille, topCount, kUpper,
      cutLineage)
    walkLoop(adj, v, q, nQ, visited0, k, beam, hops)
  }

  /** sim11d — [[graphWalkLayered]] plus its EXACT-DOT cost accounting:
    * returns (walk top-k, per-query dots) where dots counts every
    * exact-cosine scoring event the walk performs — seeds plus each
    * hop's newly reached frontier expansion, duplicates across hops
    * included, exactly as the loop spends them. The cost axis of the
    * recall/cost frontier card: recall alone rewards unbounded budget,
    * so the sweep grades configs on BOTH. Same join shapes as the
    * un-carded walk — whose ScaleSpec plan pins therefore cover this
    * construction — but lineage is CUT per hop with lazy
    * localCheckpoints: three configs' growing hop plans otherwise
    * spend more wall time in repeated optimization/codegen than in
    * the Q·beam-bounded data, and the checkpointed frames double as
    * the shared cache for the two consumers of each hop's reached set
    * (the scorer and the dot counter). Checkpoint residue is
    * Q·beam-row RDDs, freed with the session. */
  def graphWalkLayeredCarded(vectors: DataFrame, graph: DataFrame,
      queries: DataFrame, cents: DataFrame, k: Int, beam: Int = 8,
      hops: Int = 3, nProbe: Int = 2, nEntry: Int = 4,
      poolPerCell: Int = 8, midPermille: Int = 250, topCount: Int = 64,
      kUpper: Int = 5, cutLineage: Boolean = true): (DataFrame, DataFrame) = {
    val (adj, v, q, nQ, visited0) = layeredPrep(vectors, graph, queries, cents,
      k, beam, hops, nProbe, nEntry, poolPerCell, midPermille, topCount, kUpper,
      cutLineage)
    // Lineage is CUT per hop with lazy localCheckpoints instead of
    // persists (the Graph.scala iterative-operator move): each hop's
    // frame otherwise carries the whole layer-build tree below it, and
    // with the sweep running THREE configs the repeated optimization /
    // codegen of those growing plans dominated the entry's wall time
    // (the data per hop is beam-bounded and tiny). The checkpointed
    // frames are Q·beam-row residues, freed with the session.
    val hopParts = hopPartitions(nQ, beam, q.sparkSession)
    var dotsEvents = visited0.select(col("query_id"), col("node_id"))
    var visited = visited0.localCheckpoint(false)
    var frontier = visited.select("query_id", "node_id")
    for (_ <- 1 to hops) {
      // The distinct STAYS here (unlike walkLoop's): the dots card
      // counts distinct reached nodes per hop — that is its contract.
      // The repartition ahead of it is walkLoop's one-exchange move:
      // query_id clustering satisfies the (query_id, node_id) distinct
      // and the fold aggregate alike. Partition count from the panel,
      // not the session (hopPartitions — three of these loops run
      // concurrently in sim11d's sweep).
      // frontier broadcasts into the expansion join (walkLoop's r19
      // move — the adjacency otherwise pays a SortMergeJoin per hop)
      val reached = broadcast(frontier).join(adj, col("node_id") === col("src"))
        .select(col("query_id"), col("dst").as("node_id"))
        .repartition(hopParts, col("query_id")).distinct()
        .localCheckpoint(false)
      dotsEvents = dotsEvents.unionByName(reached)
      val scoredHop = reached.join(v, Seq("node_id")).join(q, Seq("query_id"))
        .select(col("query_id"), col("node_id"),
          (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      visited = visited.unionByName(scoredHop)
        .repartition(hopParts, col("query_id"))
        .groupBy("query_id", "node_id").agg(max("cos").as("cos"))
        .localCheckpoint(false)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("node_id").asc)
      frontier = visited.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam).select("query_id", "node_id")
    }
    val walk = rankTopK(visited.filter(col("query_id") =!= col("node_id"))
      .select(col("query_id"), col("node_id").as("neighbor_id"), col("cos")), k)
    val dots = dotsEvents.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_dots"))
    (walk, dots)
  }

  /** Memo key for the layered walk's QUERY-INDEPENDENT frames —
    * reference identity on the input frames (plan equality is
    * undecidable; callers opt in by passing the same frame objects,
    * which the catalog's session memo does) plus the layer
    * parameters. Case-class equality over Dataset fields IS reference
    * equality — Dataset doesn't override equals. */
  private case class PrepKey(vectors: AnyRef, graph: AnyRef, cents: AnyRef,
    poolPerCell: Int, midPermille: Int, topCount: Int, kUpper: Int,
    cutLineage: Boolean)
  private val prepMemo = new graft.SessionMemo[PrepKey, (DataFrame, DataFrame, DataFrame)](
    t => Seq(t._1, t._2, t._3).foreach(_.unpersist(blocking = false)))

  /** The layered walk's query-INDEPENDENT frames — three-layer
    * adjacency, normed corpus, entry-point pool — memoized per
    * (input-frame identity × layer params) for the SESSION (r18, the
    * r17 verdict's ask #9: sim11c and sim11d's base config built the
    * identical adjacency back to back — the frames don't depend on
    * the query panel, so one build serves every caller passing the
    * same inputs). Frames are session-persisted directly (the
    * per-query releaseAll must not evict a cross-query cache) and
    * unpersisted by the memo's session release. */
  private def layeredFrames(vectors: DataFrame, graph: DataFrame,
      cents: DataFrame, poolPerCell: Int, midPermille: Int,
      topCount: Int, kUpper: Int, cutLineage: Boolean): (DataFrame, DataFrame, DataFrame) =
    prepMemo(PrepKey(vectors, graph, cents, poolPerCell, midPermille, topCount, kUpper,
      cutLineage)) {
      val asg = graft.CacheScope.persist(Clustering.assign(vectors, cents))
      val sw = Window.partitionBy(col("cid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val poolBuilt = asg.withColumn("srn", row_number().over(sw))
        .filter(col("srn") <= poolPerCell)
        .select(col("cid"), col("vec_id"), col("srn"))
      val pool =
        if (cutLineage) poolBuilt.localCheckpoint() else poolBuilt.persist()
      val poolIds = pool.select(col("vec_id"))
      val midIds = vectors.filter(Sampling.bucket(col("vec_id")) < midPermille)
        .select(col("vec_id")).unionByName(poolIds).distinct()
      val midEdges = mutualKnn(
        vectors.join(midIds, Seq("vec_id"))
          .join(asg.select(col("vec_id"), col("cid")), Seq("vec_id")),
        "cid", kUpper)
      // apex node set: smallest-topCount by content-stable priority —
      // a TakeOrderedAndProject over the corpus, then a model-sized frame
      val topIds = vectors
        .select(col("vec_id"), Sampling.hashPriority(col("vec_id")).as("pri"))
        .orderBy(col("pri"), col("vec_id")).limit(topCount)
        .select(col("vec_id")).unionByName(poolIds).distinct()
      val topEdges = mutualKnnBounded(vectors.join(topIds, Seq("vec_id")), kUpper)
      val layered = graph.select(col("id_a"), col("id_b"))
        .unionByName(midEdges.select(col("id_a"), col("id_b")))
        .unionByName(topEdges.select(col("id_a"), col("id_b")))
      val adjBuilt = layered.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(layered.select(col("id_b").as("src"), col("id_a").as("dst")))
      val vBuilt = withNorm(
        vectors.select(col("vec_id").as("node_id"), col("embedding").as("nv")),
        "node_id", "nv", "nn")
      // cutLineage (r18 opt, guide §3.3 "materialising an intermediate
      // truncates the plan"): the memoized frames feed every hop of
      // every rep, and keeping their FULL build lineage under the hop
      // loop made the executed plan ~2.7 MB of text with >1000 Exchange
      // nodes — Catalyst re-optimized that tree on every rep even
      // though execution reused the persisted frames. An eager
      // localCheckpoint turns each frame into a flat scan (execution
      // identical — the same persisted partitions) and collapses
      // per-rep planning to the hop loop itself. ScaleSpec passes
      // cutLineage=false so its plan pins still see the layer-build
      // join shapes; the flag changes WHERE the plan is truncated,
      // never what is computed. Checkpoint residue: model-sized edge
      // and norm frames, freed with the session.
      val adj = if (cutLineage) adjBuilt.localCheckpoint() else adjBuilt.persist()
      val v = if (cutLineage) vBuilt.localCheckpoint() else vBuilt.persist()
      (adj, v, pool)
    }

  /** The layered walk's shared preparation: the memoized
    * query-independent frames plus the normed query panel and the
    * nProbe×nEntry seed set (see [[graphWalkLayered]]'s scaladoc for
    * the full design and scale story). */
  private def layeredPrep(vectors: DataFrame, graph: DataFrame,
      queries: DataFrame, cents: DataFrame, k: Int, beam: Int,
      hops: Int, nProbe: Int, nEntry: Int, poolPerCell: Int,
      midPermille: Int, topCount: Int, kUpper: Int,
      cutLineage: Boolean):
      (DataFrame, DataFrame, DataFrame, Long, DataFrame) = {
    require(k >= 1 && beam >= 1 && hops >= 1,
      s"k/beam/hops must be >= 1, got $k/$beam/$hops")
    require(nProbe >= 1 && nEntry >= 1 && nEntry <= poolPerCell,
      s"need 1 <= nEntry <= poolPerCell, got nProbe=$nProbe nEntry=$nEntry pool=$poolPerCell")
    require(nProbe * nEntry <= beam,
      s"nProbe*nEntry must be <= beam or hop-1's rank discards seeds, got ${nProbe * nEntry} > $beam")
    require(midPermille >= 1 && midPermille <= 1000,
      s"midPermille must be in [1,1000], got $midPermille")
    require(topCount >= 1, s"topCount must be >= 1, got $topCount")
    require(kUpper >= 1, s"kUpper must be >= 1, got $kUpper")
    val (adj, v, pool) = layeredFrames(vectors, graph, cents,
      poolPerCell, midPermille, topCount, kUpper, cutLineage)
    val (q, nQ) = queryPanel(queries)
    val qCells = Clustering.assignTop(queries, cents, nProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"))
    val visited0 = qCells
      .join(pool.filter(col("srn") <= nEntry)
        .select(col("cid").as("cell"), col("vec_id").as("node_id")), Seq("cell"))
      .select(col("query_id"), col("node_id"))
      .join(v, Seq("node_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("node_id"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    (adj, v, q, nQ, visited0)
  }

  /** The persisted frames every walk variant shares: symmetrized
    * adjacency, normed corpus vectors, and the [[queryPanel]] with its
    * row count. */
  private def walkFrames(vectors: DataFrame, graph: DataFrame,
      queries: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    val (q, nQ) = queryPanel(queries)
    (graft.CacheScope.persist(
      graph.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(graph.select(col("id_b").as("src"), col("id_a").as("dst")))),
      graft.CacheScope.persist(withNorm(
        vectors.select(col("vec_id").as("node_id"), col("embedding").as("nv")),
        "node_id", "nv", "nn")),
      q, nQ)
  }

  /** The normed query panel of a walk, persisted and materialized at
    * once by one count, which sizes the hop exchanges
    * ([[hopPartitions]]). Walks that run concurrently over one panel
    * (sim11d's sweep) get it built once before they start, so they read
    * a filled cache instead of racing to fill it. */
  private[graft] def queryPanel(queries: DataFrame): (DataFrame, Long) = {
    val q = graft.CacheScope.persist(withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "query_id", "qv", "qn"))
    (q, q.count())
  }

  /** The shared hop loop: expand frontier along adj, exact-score the
    * newly reached nodes, fold into visited, keep the best `beam` as
    * the next frontier; after `hops` rounds the best k visited
    * non-self nodes are the answer. The initial frontier is ALL of
    * `visited0`'s nodes (callers keep seed counts ≤ beam).
    *
    * The loop persists per hop and keeps the hop-loop lineage — the
    * ScaleSpec plan pins (no constant-key equi-join, bounded crosses,
    * no pair scan) read the final plan, and cutting lineage HERE would
    * turn the hop subtrees into opaque RDD scans and make every pin
    * vacuous. The layer-build subtrees BELOW the loop are truncated by
    * the memoized frames' `cutLineage` checkpoint in production
    * (ScaleSpec passes cutLineage=false to keep them visible — same
    * construction, different truncation point). The carded sweep
    * variant ([[graphWalkLayeredCarded]]), which runs the same join
    * shapes three configs at a time, additionally cuts lineage per hop
    * and is covered by these pins through the shared construction. */
  /** Hop-exchange partition count sized by the QUERY PANEL, not the
    * session (r19 opt, guide §2 scale-adaptive partitioning): the
    * r18 scaling block measured sim11c/d running 2–3× FASTER on 8
    * cores than 32 — with `shuffle.partitions = cpus`, concurrent
    * ~15-stage hop loops split beam-bounded data into cpus-many tiny
    * tasks per stage and contended on the scheduler. The fold input is
    * ≤ queries × beam × degree rows of a few dozen bytes, so one
    * partition per ~64k query·beam units keeps partitions O(MB); the
    * count grows with the panel and is capped by the session's
    * parallelism. `nQ` is the panel's row count, taken once when
    * [[queryPanel]] materializes it. */
  private def hopPartitions(nQ: Long, beam: Int, spark: SparkSession): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (nQ * beam + (1L << 16) - 1) / (1L << 16))).toInt

  private def walkLoop(adj: DataFrame, v: DataFrame, q: DataFrame, nQ: Long,
      visited0: DataFrame, k: Int, beam: Int, hops: Int): DataFrame = {
    val hopParts = hopPartitions(nQ, beam, q.sparkSession)
    var visited = visited0
    var frontier = visited.select("query_id", "node_id")
    for (_ <- 1 to hops) {
      // No distinct on the reached set: the visited fold's max() dedups
      // (query_id, node_id) anyway, so the extra aggregate bought nothing
      // but an exchange (r18 opt: duplicates here are ≤ beam·degree rows
      // per query that score to identical cosines — the fold keeps one).
      // The frontier side BROADCASTS into the expansion join (r19 opt,
      // guide §3.1): the checkpointed adjacency reports unknown stats,
      // so the planner picked a SortMergeJoin that shuffled + sorted the
      // model-sized edge list EVERY hop. The frontier is ≤ panel × beam
      // rows — panel-bounded by the recall protocol (Similarity.topK
      // caps the query side at maxQueries), so the broadcast stays
      // model-sized at any corpus scale while adj never moves.
      val reached = broadcast(frontier).join(adj, col("node_id") === col("src"))
        .select(col("query_id"), col("dst").as("node_id"))
      val scoredHop = reached.join(v, Seq("node_id")).join(q, Seq("query_id"))
        .select(col("query_id"), col("node_id"),
          (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      // ONE exchange per hop (r18 opt, guide §2.4 "share one exchange"):
      // hash-partition the fold input by query_id alone — that clustering
      // satisfies BOTH the (query_id, node_id) aggregate (subset rule)
      // and the query_id beam window, where the naive shape paid one
      // exchange for each (hash(query_id, node_id) does not satisfy the
      // window's query_id clustering). Deterministic hash partitioning;
      // results unchanged.
      visited = graft.CacheScope.persist(
        visited.unionByName(scoredHop)
          .repartition(hopParts, col("query_id"))
          .groupBy("query_id", "node_id").agg(max("cos").as("cos")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("node_id").asc)
      frontier = visited.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam).select("query_id", "node_id")
    }
    rankTopK(visited.filter(col("query_id") =!= col("node_id"))
      .select(col("query_id"), col("node_id").as("neighbor_id"), col("cos")), k)
  }
}
