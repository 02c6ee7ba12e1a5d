package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.CacheRegistry.TrackedPersist

/** Similarity search over an `embeddings(vec_id, embedding ARRAY<FLOAT>,
  * label)` relation: exact brute-force cosine top-k as the baseline, and
  * an IVF (inverted-file, centroid-probed) variant as the scale path.
  *
  * 100 TB design notes:
  *  - brute force is O(|Q|·N) — correct but only viable for small query
  *    sets; it exists as the ground-truth baseline;
  *  - the IVF variant partitions vectors by a coarse cluster id (here
  *    the `label` column stands in for a trained coarse quantizer) and
  *    probes only the nearest centroid's partition: at cluster scale the
  *    vector table is hash-partitioned (or bucketed) by cluster id, the
  *    centroid table is broadcast (n_clusters rows), and each query
  *    shuffles to exactly its probed partition(s);
  *  - determinism: per-element products are quantized to exact integer
  *    picos via `floor(x*y*1e12 + 0.5)` — primitive IEEE double ops that
  *    any engine computes bit-identically (unlike double→DECIMAL casts,
  *    whose rounding paths differ between engines) — then summed as
  *    integers, so the quantized cosine is order-insensitive and
  *    engine-independent. Quantization error ~1e-10 on the similarity,
  *    far below any meaningful neighbour distinction; exact ties rank
  *    by vec_id in both engines.
  */
object Similarity {

  private val Q = 1e12

  /** Exact integer-quantized dot product of two float-array columns
    * (sum of 64 pico-scaled longs — fits a long with 5 orders of
    * headroom for unit-ish vectors). Higher-order-function reference
    * formulation; the operators below use the codegen'd native
    * expression [[graft.functions.CosineSimQ]], which computes the
    * identical formula in one fused loop.
    */
  def dotQ(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * y.cast("double") * Q + 0.5)),
      lit(0L),
      (acc, x) => acc + x)

  /** Cosine similarity from quantized dot/norms (single deterministic
    * double ops at the end) — native-expression form; requires
    * [[graft.functions.GraftFunctions.install]] on the session.
    */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim_q", a, b)

  /** HOF formulation of [[cosine]] — kept as the executable spec the
    * native expression is tested against.
    */
  def cosineHof(a: Column, b: Column): Column =
    (dotQ(a, b).cast("double") / Q) /
      (sqrt(dotQ(a, a).cast("double") / Q) *
        sqrt(dotQ(b, b).cast("double") / Q))

  /** DuckDB oracle spelling of the quantized dot product over the
    * per-dimension expansion (columns `<p>.v` × `<q>.v`).
    */
  def dotQSql(x: String, y: String): String =
    s"SUM(CAST(FLOOR($x * $y * 1000000000000 + 0.5) AS BIGINT))"

  /** Shared scaffold of every bounded-query brute-force ranking
    * ([[cosineTopK]], [[hybridTopK]], [[hardNegatives]]): broadcast
    * the BOUNDED query side `(qid, qv, …)` — left as a size-estimate
    * choice the planner would build the corpus side at small SF and
    * OOM at 100× — stream the candidate side `(tid, tv, …)` through
    * the join predicate, score with the quantized cosine, rank per
    * query (ties → tid). The build-side discipline lives here, once.
    */
  private def rankTopK(q: DataFrame, t: DataFrame,
      pred: Column, k: Int): DataFrame = {
    val scored = broadcast(q).join(t, pred)
      .select(col("qid"), col("tid"),
        cosine(col("qv"), col("tv")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), col("tid"))
    scored
      .select(col("qid"), col("tid"), col("cosine"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Exact top-k neighbours by brute force for queries `vec_id < maxQid`
    * (self excluded). Ground-truth baseline; O(|Q|·N).
    */
  def cosineTopK(emb: DataFrame, maxQid: Long = 10, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val q = emb.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val t = emb.select(col("vec_id").as("tid"), col("embedding").as("tv"))
    rankTopK(q, t, col("tid") =!= col("qid"), k)
  }

  /** Hybrid retrieval: exact cosine top-k restricted to a metadata-
    * filtered corpus — embeddings whose document row passes a
    * relational predicate (here `lang = 'en'`). The composition a RAG /
    * curation stack actually runs: filter by metadata FIRST (cheap
    * relational semi-join that Catalyst pushes down), rank by vector
    * similarity only within the survivors.
    *
    * Scale shape: the filter is a semi-join on the corpus scan, the
    * bounded query set broadcasts, and the corpus side streams — the
    * same build-side discipline as [[cosineTopK]]; selective filters
    * shrink the streamed side before any vector math runs.
    */
  def hybridTopK(emb: DataFrame, docs: DataFrame, maxQid: Long = 10,
      k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val keep = docs.where(col("lang") === "en")
      .select(col("doc_id").as("kid"))
    val t = emb.join(keep, col("vec_id") === col("kid"), "left_semi")
      .select(col("vec_id").as("tid"), col("embedding").as("tv"))
    val q = emb.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    rankTopK(q, t, col("tid") =!= col("qid"), k)
  }

  /** k-NN label-classification evaluation: hold out every `mod`-th
    * vector as the eval set, predict each eval vector's label by
    * majority vote over its k nearest train vectors (exact quantized
    * cosine), and report per-true-label accuracy in exact ppm — the
    * "do these embeddings separate my labels" health check run before
    * committing a corpus to similarity-based curation.
    *
    * Determinism end to end: neighbours rank on the quantized cosine
    * with tid tie-break (the q34 discipline), majority votes break ties
    * to the SMALLER label (min(struct(-votes, label))), and the final
    * accuracy is an integer ppm DIV. Scale shape: the deterministic
    * eval sample broadcasts and the train corpus STREAMS through the
    * scoring join (the [[cosineTopK]] build-side discipline — the eval
    * fraction is a knob; a deployment keeps |eval| bounded and
    * escalates the scoring join to [[ivfTopK]]/[[pqAdcTopK]] blocking
    * when |eval|·N stops fitting the night); per-query ranking is one
    * qid-keyed window over the scored pairs, everything after is
    * |eval|- then |labels|-sized.
    *
    * SCALE-ADAPTIVE by default: this entry point counts the eval side
    * once and routes — below [[KnnEvalExactMax]] eval vectors it runs
    * the exact broadcast path ([[knnLabelEvalExact]]); at or above it
    * the broadcast side would be an unbounded fraction of the corpus
    * (N/mod full vectors — an OOM at 100 TB regardless of mod), so it
    * escalates to the trained-quantizer blocking
    * ([[knnLabelEvalBlocked]]) with the cluster count derived from the
    * train-corpus size, exactly the [[semanticDedup]] k=0 discipline.
    * The routing decision is the pure function [[knnEvalPlan]].
    */
  def knnLabelEval(emb: DataFrame, mod: Long = 17, k: Int = 5): DataFrame = {
    val nEval = emb.where(col("vec_id") % mod === 0).count()
    knnEvalPlan(nEval, emb.count() - nEval) match {
      case Left(_) => knnLabelEvalExact(emb, mod, k)
      case Right(nc) => knnLabelEvalBlocked(emb, mod, kNN = k,
        nClusters = nc, sampleN = math.max(256, 2 * nc))
    }
  }

  /** The exact-scoring path of [[knnLabelEval]]: every eval vector is
    * ranked against the FULL train corpus (broadcast eval side, train
    * streams). Correct at any |eval| but the broadcast is |eval| full
    * vectors — callers outside the gate go through the auto-routed
    * [[knnLabelEval]] front door.
    */
  def knnLabelEvalExact(emb: DataFrame, mod: Long = 17,
      k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val q = emb.where(col("vec_id") % mod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").cast("long").as("qlabel"))
    val t = emb.where(col("vec_id") % mod =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("tv"),
        col("label").cast("long").as("tlabel"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cos"), col("tid"))
    val nn = broadcast(q).join(t, col("tid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("tid"), col("tlabel"),
        cosine(col("qv"), col("tv")).as("cos"))
      .select(col("qid"), col("qlabel"), col("tlabel"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= k)
    voteCensus(nn)
  }

  /** Shared tail of [[knnLabelEval]]/[[knnLabelEvalBlocked]]: majority
    * vote per eval vector over its (qid, qlabel, tlabel) neighbour
    * rows — vote ties break to the SMALLER label via
    * min(struct(-votes, label)) — then the per-true-label accuracy
    * census in exact ppm.
    */
  private def voteCensus(nn: DataFrame): DataFrame = {
    val pred = nn.groupBy(col("qid"), col("qlabel"), col("tlabel"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(min(struct((-col("v")).as("neg"), col("tlabel").as("l")))
        .as("top"))
      .select(col("qid"), col("qlabel"), col("top.l").as("pred"))
    pred.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("qlabel"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_eval"), col("n_correct"),
        expr("n_correct * 1000000 DIV n_eval").as("acc_ppm"))
      .orderBy("label")
  }

  /** The SCALE path of [[knnLabelEval]]: candidates come from the
    * trained-quantizer blocks (nprobe nearest clusters per eval
    * vector — the q52 quantizer, identical training both engines)
    * instead of the full train corpus, so the scoring volume is
    * Σ|probed block| per query rather than |eval|·N. Same exact-cosine
    * ranking, same majority vote, same census — recall vs the exact
    * variant is the q87-style trade of the quantizer's
    * nClusters/nprobe tune (`kNN` is the neighbour knob, `nClusters`
    * the quantizer's cluster count — deliberately NOT both named `k`).
    *
    * Scale notes: the probes table is |eval|·nprobe rows — broadcast
    * here (2 longs per row; fine to ~10⁷ eval vectors); past that the
    * assignment table is written bucketed by cluster and the probe
    * join salts the |clusters|-cardinality key exactly as [[knnGraph]]
    * documents for its block self-join. An eval vector whose probed
    * blocks hold only eval vectors drops from the census (no
    * candidates) — inner-join semantics, identical in the oracle.
    */
  def knnLabelEvalBlocked(emb: DataFrame, mod: Long = 17, kNN: Int = 5,
      nClusters: Int = 8, sampleN: Int = 256, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val (scores, assignK) =
      trainedAssignments(emb, nClusters, sampleN, iters)
    val assign = assignK.select(col("vec_id").as("tid"), col("k"))
      .where(col("tid") % mod =!= 0)
    val probes = scores.where(col("vec_id") % mod === 0)
      .select(col("vec_id").as("qid"), col("k"),
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(desc("score"), col("k"))).as("crnk"))
      .where(col("crnk") <= nprobe)
      .select(col("qid"), col("k"))
    val vecs = emb.select(col("vec_id"), col("embedding"),
      col("label").cast("long").as("lbl"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cos"), col("tid"))
    val nn = broadcast(probes)
      .join(assign, "k")
      .select(col("qid"), col("tid"))
      .join(vecs.as("vq"), col("vq.vec_id") === col("qid"))
      .join(vecs.as("vt"), col("vt.vec_id") === col("tid"))
      .select(col("qid"), col("vq.lbl").as("qlabel"), col("tid"),
        col("vt.lbl").as("tlabel"),
        cosine(col("vq.embedding"), col("vt.embedding")).as("cos"))
      .select(col("qid"), col("qlabel"), col("tlabel"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= kNN)
    voteCensus(nn)
  }

  /** Eval-set size at which [[knnLabelEval]]'s default switches from
    * exact broadcast scoring to trained-quantizer blocking. Measured
    * (eval-size sweep at the 50×/200× sf0.1 replicas, PERF_NOTES
    * round 13): the exact path's wall is |eval|·N cosines and tracks
    * it linearly; the blocked path pays a fixed quantizer-training
    * prelude and then Σ|probed block| — the measured crossover sits at
    * |eval| in the low thousands once N is replica-scale, and the
    * broadcast by itself (|eval| full vectors, ~1 KB each) stops being
    * executor-safe in the 10⁷ range. 4096 is below every measured
    * crossover while keeping the gate corpus (sf0.01, |eval| ≈ 353) on
    * the exact path the q168 oracle replays.
    */
  val KnnEvalExactMax = 4096L

  /** The routing decision of [[knnLabelEval]] as a pure function of
    * the eval/train counts (unit-testable without a training run; a
    * replaying engine derives the same plan): Left(nEval) = exact
    * broadcast scoring, Right(nClusters) = trained-quantizer blocking
    * with nClusters ≈ √(nTrain/2) — the [[knnGraph]] block sizing, so
    * blocks stay ~√N and the scoring volume Σ|probed block| is
    * ~|eval|·nprobe·√(2·nTrain).
    */
  def knnEvalPlan(nEval: Long, nTrain: Long): Either[Long, Int] =
    if (nEval < KnnEvalExactMax) Left(nEval)
    else Right(math.max(8,
      math.ceil(math.sqrt(nTrain / 2.0)).toInt))

  /** Embedding quality-control report: per label, vector count,
    * dimension min/max (catches ragged arrays), and the min / max /
    * mean squared norm — the drift signals that catch a broken encoder
    * or an unnormalized batch before it poisons similarity search.
    * Norms stay pico-quantized longs until the final single division
    * (the mean divides once by `1e12 · n`, both factors exact), so the
    * report is bit-stable at any parallelism; the sum accumulates as
    * DECIMAL(38,0) against long wrap at corpus scale. One scan, one
    * label-keyed hash agg.
    */
  def embeddingQc(emb: DataFrame): DataFrame =
    emb
      .select(col("label"),
        size(col("embedding")).cast("long").as("d"),
        dotQ(col("embedding"), col("embedding")).as("qn"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("d")).as("min_dims"), max(col("d")).as("max_dims"),
        (min(col("qn")).cast("double") / Q).as("min_norm2"),
        (max(col("qn")).cast("double") / Q).as("max_norm2"),
        (sum(col("qn").cast(DecimalType(38, 0))).cast("double")
          / (lit(Q) * count(lit(1)))).as("avg_norm2"))
      .orderBy("label")

  /** Per-cluster centroids: mean of each pico-quantized dimension.
    * Sums accumulate as DECIMAL(38,0) (128-bit) — a long would wrap at
    * ~1e6 vectors × 1e12 quanta; the oracle's SUM(BIGINT)→HUGEINT
    * mirrors this. Emitted as (label, centroid ARRAY<DOUBLE>).
    */
  def centroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg((sum(floor(col("v").cast("double") * Q + 0.5)
        .cast(DecimalType(38, 0))).cast("double") / Q / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** Embedding near-duplicate pairs via random-hyperplane LSH: 16
    * deterministic ±1 hyperplanes (signs derived from md5(plane|dim),
    * so any engine regenerates the identical planes), each vector's
    * 16-bit sign-of-projection bucket key, candidate pairs within a
    * bucket only, then exact quantized-cosine verification ≥
    * `threshold`.
    *
    * 100 TB notes: the plane matrix is 16×64 constants (broadcast); the
    * projection pass is one narrow join + aggregate; candidates come
    * from a bucket-key equi-join — never all-pairs. Collision
    * probability per plane is 1-θ/π, so 16 bits concentrate candidates
    * at cosine ≈ 1 — exactly the near-dup regime.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.99,
      planes: Int = 16, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val spark = emb.sparkSession
    val dims = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), (col("pos") + 1).as("i"),
        col("vf").cast("double").as("v"))
    // `dim` must equal the embedding width: the plane join keeps only
    // dimensions 1..dim, so a wider vector would silently project on a
    // prefix while the cosine verify below uses the full vector
    val planeTab = spark.range(planes).select(col("id").as("p"))
      .crossJoin(spark.range(1, dim + 1).select(col("id").as("i")))
      .select(col("p"), col("i"),
        when(expr("(instr('0123456789abcdef', substr(md5(CAST(concat(p, '|', i) AS BINARY)), 1, 1)) - 1) % 2 = 1"),
          1).otherwise(-1).as("s"))
    val proj = dims.join(broadcast(planeTab), "i")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(floor(col("s") * col("v") * 1e12 + 0.5)).as("pr"))
    import graft.operators.CacheRegistry.TrackedPersist
    val keys = proj
      .select(col("vec_id"), col("p"),
        when(col("pr") >= 0, "1").otherwise("0").as("bit"))
      .groupBy(col("vec_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("bit")))),
        s => s.getField("bit")), "").as("bucket"))
      // |vectors|-sized (vec_id, 16-char bucket); feeds BOTH sides of
      // the candidate self-join — unpersisted, the projection pass
      // (explode + plane join + two aggs) runs twice (the q194
      // shared-subtree rule, caught by PlanLint rule 4)
      .trackedPersist()
    val cand = keys.as("k1")
      .join(keys.as("k2"),
        col("k1.bucket") === col("k2.bucket") &&
          col("k1.vec_id") < col("k2.vec_id"))
      .select(col("k1.vec_id").as("a"), col("k2.vec_id").as("b"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.as("va"), col("va.vec_id") === col("a"))
      .join(vecs.as("vb"), col("vb.vec_id") === col("b"))
      .select(col("a"), col("b"),
        cosine(col("va.embedding"), col("vb.embedding")).as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy("a", "b")
  }

  /** Product-quantization (PQ) census: train per-subspace codebooks
    * (the vector-compression sketch behind every large-scale ANN
    * index — IVF-PQ stores an m-byte code instead of a d×4-byte
    * vector), assign every corpus vector's m subvectors to their
    * nearest codes, and report the code-usage and quantization-error
    * table per (subspace, code) — the calibration a deployment reads
    * before committing to a codebook size (dead codes → wasted bits;
    * one code absorbing everything → m·log₂(k) bits of noise).
    *
    * Deterministic end to end, same discipline as the trained-IVF
    * chain (the oracle replays it statement-for-statement):
    * md5-ordered sample, first-k init per subspace, fixed Lloyd
    * iterations with ties → smaller code and empty-cluster carryover;
    * distances are pico-quantized EXACT integer sums
    * (Σ⌊(v−c)²·10¹²+0.5⌋ as longs — argmin over exact integers never
    * flips on float noise), means use the floor-quantized integer-sum
    * arithmetic, and the reported MSE is two final double divisions.
    *
    * 100 TB notes: training touches only the fixed sample; corpus
    * assignment is one broadcast join (m·k·(d/m) codebook rows —
    * broadcastable at any corpus size) + a map-side-partial hash agg,
    * linear in N·d·k; the census is m·k rows. err_q stays in int64
    * while N·(d/m)·4·10¹² < 2⁶³ per cell (~10⁵ vectors per cell at
    * these defaults); past that the sum column lifts to DECIMAL(38,0)
    * — the census shape is unchanged.
    */
  def pqCensus(emb: DataFrame, m: Int = 8, dim: Int = 64, codes: Int = 4,
      sampleN: Int = 64, iters: Int = 2,
      salt: String = "|pqseed"): DataFrame = {
    val (sd, cent) = pqTrain(emb, m, dim, codes, sampleN, iters, salt)
    pqAssign(sd, cent)
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("err_q"),
        (sum(col("d2")).cast("double") / Q / count(lit(1))).as("mse"))
      .orderBy("sub", "code")
  }

  /** PQ asymmetric-distance top-k (ADC — the SEARCH path the
    * [[pqCensus]] codebooks exist for): database vectors are
    * represented only by their m codes; each bounded query precomputes
    * a (sub, code) → partial-distance lookup table against the
    * codebooks from its FULL vector, and a candidate's distance is the
    * m-term table sum — the memory-bound trick that scans an m-byte
    * code instead of a d-float vector per candidate.
    *
    * Determinism: the LUT entries are the same pico-quantized exact
    * integer sums as training, a candidate's ADC distance is an
    * m-term LONG sum of them, and ranking is (distance ASC, tid) — a
    * total order over exact integers; the reported distance is one
    * final double division.
    *
    * 100 TB notes: the LUT is |Q|·m·k rows (bounded-query scaffold —
    * broadcastable always); scoring is ONE broadcast join + hash agg
    * over the code table (N·m rows — the compressed index, 8 bytes of
    * code per vector here vs 256 bytes of floats), never touching the
    * raw vectors; top-k is the per-query window over |Q|·N rows with
    * map-side partial aggregation. The accuracy loss vs exact search
    * is the quantization error q155 censuses — the two gates together
    * are the size-vs-recall trade study.
    */
  def pqAdcTopK(emb: DataFrame, maxQid: Long = 10, topK: Int = 5,
      m: Int = 8, dim: Int = 64, codes: Int = 4, sampleN: Int = 64,
      iters: Int = 2, salt: String = "|pqseed"): DataFrame = {
    val (sd, cent) = pqTrain(emb, m, dim, codes, sampleN, iters, salt)
    val codeTable = pqAssign(sd, cent)
      .select(col("vec_id").as("tid"), col("sub"), col("code"))
    val lut = sd.where(col("vec_id") < maxQid)
      .join(broadcast(cent), Seq("sub", "j"))
      .groupBy(col("vec_id").as("qid"), col("sub"), col("code"))
      .agg(sum(floor((col("v") - col("c")) * (col("v") - col("c")) * Q
        + 0.5).cast("long")).as("d2"))
    val rnk = Window.partitionBy(col("qid"))
      .orderBy(col("adcq"), col("tid"))
    codeTable
      .join(broadcast(lut), Seq("sub", "code"))
      .where(col("tid") =!= col("qid"))
      .groupBy(col("qid"), col("tid"))
      .agg(sum(col("d2")).as("adcq"))
      .withColumn("rnk", row_number().over(rnk).cast("long"))
      .where(col("rnk") <= topK)
      .select(col("qid"), col("tid"),
        (col("adcq").cast("double") / Q).as("adc_dist2"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Recall@k of the PQ-ADC search against EXACT L2 brute force — the
    * number that closes the q155/q156 trade study: q155 prices the
    * codebook (bits + quantization error), q156 prices the search,
    * this reports what the compression costs in answer quality.
    * Per query: |ADC top-k ∩ exact top-k| and the exact-ppm recall.
    *
    * Determinism: both rankings are total orders over exact quantized
    * integer distances (ties → tid), so the intersection is
    * bit-stable; recall is one integer ppm DIV.
    *
    * 100 TB notes: the exact side is the bounded-query brute-force
    * scaffold (broadcast |Q| queries, stream the corpus — ground
    * truth is O(|Q|·N) by definition and |Q| is bounded); the ADC
    * side reuses the code table; the join is |Q|·k rows against
    * |Q|·k rows.
    */
  def pqRecall(emb: DataFrame, maxQid: Long = 10, topK: Int = 5,
      m: Int = 8, dim: Int = 64, codes: Int = 4, sampleN: Int = 64,
      iters: Int = 2, salt: String = "|pqseed"): DataFrame = {
    val adc = pqAdcTopK(emb, maxQid, topK, m, dim, codes, sampleN,
      iters, salt).select(col("qid"), col("tid"))
    def l2q(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) =>
          floor((x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double")) * Q + 0.5)
            .cast("long")),
        lit(0L), (acc, x) => acc + x)
    val q = emb.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("tid"))
    val exact = broadcast(q)
      .join(emb.select(col("vec_id").as("tid"), col("embedding").as("tv")),
        col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"), l2q(col("qv"), col("tv")).as("d2"))
      .select(col("qid"), col("tid"), row_number().over(w).as("rn"))
      .where(col("rn") <= topK)
      .select(col("qid"), col("tid"))
    val hits = adc.join(exact, Seq("qid", "tid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n"), lit(0L)).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        expr(s"n_hits * 1000000 DIV $topK").as("recall_ppm"))
      .orderBy("qid")
  }

  /** Shared PQ training prelude: subvector expansion + per-subspace
    * deterministic Lloyd ([[pqCensus]]'s scaladoc spells the
    * contract). Returns the subvector frame and the trained codebook
    * (sub, code, j, c). Kept in one place so the q155/q156 oracles'
    * replayed arithmetic can never desynchronize between the census
    * and the search path.
    */
  private def pqTrain(emb: DataFrame, m: Int, dim: Int, codes: Int,
      sampleN: Int, iters: Int, salt: String): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val subDim = dim / m
    val sd = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"),
        expr(s"CAST(pos DIV $subDim AS BIGINT)").as("sub"),
        expr(s"CAST(pos % $subDim AS BIGINT)").as("j"),
        col("vf").cast("double").as("v"))
    val ranked = emb
      .select(col("vec_id"),
        md5(concat(col("vec_id"), lit(salt)).cast("binary")).as("h"))
      .orderBy("h").limit(sampleN)
      .select(col("vec_id"),
        row_number().over(Window.orderBy("h")).as("r"))
    val sampleSd = sd.join(ranked, "vec_id").trackedPersist()
    var cent = sampleSd.where(col("r") <= codes)
      .select(col("sub"), (col("r") - 1).cast("long").as("code"),
        col("j"), col("v").as("c"))
    for (_ <- 1 to iters) {
      val a = pqAssign(sampleSd, cent)
        .select(col("vec_id"), col("sub"), col("code"))
      val means = sampleSd.join(a, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("code"), col("j"))
        .agg((sum(floor(col("v") * Q + 0.5)).cast("double") / Q
          / count(lit(1))).as("cnew"))
      cent = cent.select(col("sub"), col("code"), col("j"),
          col("c").as("cold"))
        .join(means, Seq("sub", "code", "j"), "left")
        .select(col("sub"), col("code"), col("j"),
          coalesce(col("cnew"), col("cold")).as("c"))
    }
    (sd, cent)
  }

  /** Nearest-code assignment of subvectors `pts` against codebook
    * `cb`: exact pico-quantized L2 per (vec, sub, code), argmin with
    * ties → smaller code. Broadcast join + map-side-partial agg,
    * linear in N·d·k.
    */
  private def pqAssign(pts: DataFrame, cb: DataFrame): DataFrame = {
    val best = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("code"))
    pts.join(broadcast(cb), Seq("sub", "j"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(sum(floor((col("v") - col("c")) * (col("v") - col("c")) * Q
        + 0.5).cast("long")).as("d2"))
      .withColumn("rn", row_number().over(best))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("d2"))
  }

  /** Trained coarse quantizer: deterministic Lloyd k-means over an
    * md5-ordered sample, fully replayable by any engine.
    *
    * Algorithm (the DuckDB oracle replays it statement-for-statement):
    *  - sample = first `sampleN` vectors ordered by
    *    `md5(vec_id || '|ivfseed')` — content-stable, no RNG;
    *  - init: the first `k` of those same ranked vectors are the
    *    starting centroids (centroid id = rank order);
    *  - `iters` fixed Lloyd iterations over the sample: assign to the
    *    best centroid by quantized score `dotQ/1e12/sqrt(cnorm2)`
    *    (ties → smaller centroid id), then per-dimension mean with the
    *    floor-quantized integer-sum arithmetic (exact in any engine);
    *    a cluster that loses all members keeps its previous centroid;
    *  - emitted exploded as (k, i, c) — the materialized centroid table.
    *
    * 100 TB notes: training touches only the fixed-size sample (the
    * md5 order-by is over narrow (vec_id, hash) pairs; at extreme scale
    * swap the sort for an md5-threshold filter); each iteration is one
    * broadcast join + two hash aggregates; the centroid table is k×dim
    * rows — broadcastable forever.
    */
  def trainedCentroids(emb: DataFrame, k: Int = 8, sampleN: Int = 256,
      iters: Int = 2, salt: String = "|ivfseed"): DataFrame = {
    val dims = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), (col("pos") + 1).as("i"),
        col("vf").cast("double").as("v"))
    val ranked = emb
      .select(col("vec_id"),
        md5(concat(col("vec_id"), lit(salt)).cast("binary")).as("h"))
      .orderBy("h").limit(sampleN)
      .select(col("vec_id"),
        row_number().over(Window.orderBy("h")).as("r"))
    val sampleDims = dims.join(ranked, "vec_id")
      .select(col("vec_id"), col("i"), col("v"), col("r"))
      .trackedPersist()
    var cent = sampleDims.where(col("r") <= k)
      .select((col("r") - 1).as("k"), col("i"), col("v").as("c"))
    for (_ <- 1 to iters) {
      val cn = cent.groupBy("k")
        .agg((sum(floor(col("c") * col("c") * Q + 0.5)).cast("double") / Q)
          .as("cn2"))
      val best = Window.partitionBy(col("vec_id"))
        .orderBy(desc("score"), col("k"))
      val assigned = sampleDims.join(broadcast(cent), "i")
        .groupBy(col("vec_id"), col("k"))
        .agg(sum(floor(col("v") * col("c") * Q + 0.5)).as("dq"))
        .join(broadcast(cn), "k")
        .select(col("vec_id"), col("k"),
          (col("dq").cast("double") / Q / sqrt(col("cn2"))).as("score"))
        .select(col("vec_id"), col("k"),
          row_number().over(best).as("rn"))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("k"))
      val means = sampleDims.join(assigned, "vec_id")
        .groupBy(col("k"), col("i"))
        .agg((sum(floor(col("v") * Q + 0.5)).cast("double") / Q
          / count(lit(1))).as("cnew"))
      cent = cent.select(col("k"), col("i"), col("c").as("cold"))
        .join(means, Seq("k", "i"), "left")
        .select(col("k"), col("i"), coalesce(col("cnew"), col("cold")).as("c"))
    }
    cent
  }

  /** IVF top-k with the TRAINED quantizer and multi-probe: every corpus
    * vector is assigned to its nearest trained centroid once (the
    * inverted file); each query probes its `nprobe` best centroids and
    * brute-forces only those clusters. The oracle replays the identical
    * training + probe algorithm, so the gate hash pins the whole path.
    *
    * 100 TB notes: the centroid table broadcasts (k×dim rows); corpus
    * assignment is one broadcast join + hash agg and would be written
    * bucketed by cluster id at scale; the probe join streams only the
    * probed clusters' vectors — never all-pairs.
    */
  /** Per-vector similarity scores against a trained centroid table:
    * (vec_id, k, score) with the pico-quantized exact arithmetic the
    * oracle replays. Shared by [[trainedIvfTopK]] (probes + inverted
    * file) and [[knnGraph]] (blocking assignment). Centroids broadcast
    * (k×dim rows at any corpus size); the score agg is one corpus pass
    * with map-side partials.
    */
  private def trainedScores(emb: DataFrame, cent: DataFrame): DataFrame = {
    // The centroid table is quantizer-sized (k×d), never corpus-sized —
    // collect it once and re-emit it as ONE in-plan array literal, so
    // scoring is a per-row higher-order function over N·k rows with NO
    // join and NO aggregation. The previous formulation (posexplode →
    // dims ⋈ broadcast(cent) on i → hash agg) pushed N·d·k rows
    // through an aggregate — 1e9+ rows at the 50× replica once k
    // scales with N. Arithmetic is the identical IEEE sequence per
    // element (floor((v·c)·Q + 0.5), summed as exact integer-valued
    // doubles ≤ d terms), so scores are bit-equal and the oracle
    // parity is unchanged.
    val rows = cent.collect().map { r =>
      (r.get(0).asInstanceOf[Number].intValue,
        r.get(1).asInstanceOf[Number].intValue,
        r.get(2).asInstanceOf[Number].doubleValue)
    }
    val kStructs = rows.map(_._1).distinct.sorted.map { kid =>
      val cs = rows.filter(_._1 == kid).sortBy(_._2).map(_._3).toSeq
      val cn2 = cs.map(c => math.floor(c * c * Q + 0.5)).sum / Q
      struct(lit(kid).as("k"),
        array(cs.map(lit(_)): _*).as("cvec"),
        lit(cn2).as("cn2"))
    }
    emb.select(col("vec_id"), col("embedding"),
        explode(array(kStructs.toSeq: _*)).as("kc"))
      .select(col("vec_id"), col("kc.k").as("k"),
        (aggregate(
          zip_with(col("embedding"), col("kc.cvec"),
            (x, c) => floor(x.cast("double") * c * lit(Q) + lit(0.5))),
          lit(0.0d), (acc, x) => acc + x)
          .cast("double") / Q / sqrt(col("kc.cn2"))).as("score"))
  }

  /** The blocking parameter every Σ|block|² operator must derive when
    * not pinned: k ≈ √(N/2) keeps blocks ~√N and the candidate volume
    * linear-ish in N (see [[knnGraph]]'s scaladoc for the measured
    * consequence of a fixed small k). A pure function of the corpus
    * COUNT, so a replaying engine derives the same value.
    */
  private def derivedK(emb: DataFrame, k: Int): Int =
    if (k > 0) k
    else math.max(8, math.ceil(math.sqrt(emb.count() / 2.0)).toInt)

  /** Shared trained-quantizer prelude of every blocked operator
    * ([[trainedIvfTopK]], [[knnGraph]], [[semanticDedup]],
    * [[semanticDecontamination]]): train the centroids, score the
    * corpus, take each vector's argmax cluster. Kept in ONE place so
    * the oracle-replayed arithmetic (q52's exact chain) can never
    * desynchronize between the operators that splice its SQL prefix.
    *
    * Both frames persist: scores feed cluster assignment AND probe
    * ranking (the q96 shared-subtree lesson), and the assignment
    * self-joins or double-joins in every consumer. N·k / N narrow
    * rows — MEMORY_AND_DISK spills rather than OOMs; at real scale
    * these are the materialized inverted file, written bucketed by
    * cluster id. The frames stay cached for the session (each
    * consumer's single action reuses them, and Spark's plan-keyed
    * CacheManager dedupes repeat persists of the same combo), and
    * every persist registers with [[CacheRegistry]] — long-lived
    * sessions and sweep harnesses call
    * `CacheRegistry.release()` to drop all engine frames precisely
    * (ADVICE r8/r9).
    */
  private def trainedAssignments(emb: DataFrame, k: Int, sampleN: Int,
      iters: Int, salt: String = "|ivfseed"): (DataFrame, DataFrame) = {
    // NB the 2k floor: sampleN is raised to at least 2·k so Lloyd init
    // has spare sample beyond the k seed centroids; callers passing an
    // explicit sampleN < 2k get the floored value (q52's gate chain
    // pins the defaults, where the floor is inert).
    val cent = trainedCentroids(emb, k, math.max(sampleN, 2 * k), iters,
      salt).trackedPersist()
    val scores = trainedScores(emb, cent)
      .trackedPersist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = Window.partitionBy(col("vec_id"))
      .orderBy(desc("score"), col("k"))
    val assign = scores
      .select(col("vec_id"), col("k"), row_number().over(best).as("rn"))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("k"))
      .trackedPersist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (scores, assign)
  }

  /** NB `sampleN` is floored at 2·k by the shared prelude (see
    * [[trainedAssignments]]): an explicit sampleN below 2k trains on
    * the floored sample, not the literal value. Defaults (256, k=8)
    * are unaffected, and q52's oracle replays the default chain.
    */
  def trainedIvfTopK(emb: DataFrame, maxQid: Long = 10, topK: Int = 5,
      k: Int = 8, sampleN: Int = 256, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val (scores, assignK) = trainedAssignments(emb, k, sampleN, iters)
    val assign = assignK.select(col("vec_id").as("tid"), col("k"))
    val probes = scores.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("k"),
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(desc("score"), col("k"))).as("crnk"))
      .where(col("crnk") <= nprobe)
      .select(col("qid"), col("k"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), col("tid"))
    // each tid lives in exactly one cluster and a query's probes are
    // distinct clusters, so (qid, tid) candidates are already unique
    broadcast(probes)
      .join(assign, "k")
      .where(col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"))
      .join(vecs.as("vq"), col("vq.vec_id") === col("qid"))
      .join(vecs.as("vt"), col("vt.vec_id") === col("tid"))
      .select(col("qid"), col("tid"),
        cosine(col("vq.embedding"), col("vt.embedding")).as("cosine"))
      .select(col("qid"), col("tid"), col("cosine"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= topK)
      .orderBy("qid", "rnk")
  }

  /** Approximate k-nearest-neighbor GRAPH over the whole corpus (every
    * vector, not a bounded query set): each vector's top `neighbors`
    * most-cosine-similar vectors within its trained-centroid block —
    * the structure semantic-dedup clustering, diversity sampling, and
    * graph-based label propagation all start from.
    *
    * Blocked, never all-pairs: vectors are assigned to their nearest
    * trained centroid (the q52 quantizer — identical training), and
    * candidates are the block self-join, so the pair count is
    * Σ|block|² ≈ N²/k instead of N². The blocking parameter therefore
    * MUST grow with the corpus: k ≈ √(N/2) keeps blocks ~√N and the
    * candidate volume linear-ish in N. `k = 0` (the default) derives
    * it that way from a corpus count; a FIXED small k at large N is a
    * disguised all-pairs — measured: k=8 on the 250k-vector replica
    * spilled the pair join past 79 GB of local disk before finishing.
    * The gate pins k=8 at small SF where blocks are ~60 vectors. At
    * 100 TB the assignment table is written bucketed by k and the
    * self-join is shuffle-keyed on k — each block's pairs materialize
    * only inside its partition. A vector whose block is a singleton
    * emits no edges (matching the oracle).
    *
    * Determinism: assignment replays q52's exact pico-quantized
    * scoring; edge cosines are [[graft.functions.CosineSimQ]]'s exact
    * quantized arithmetic; ranks break ties on neighbor id. The
    * auto-derived k is a pure function of the corpus COUNT, so a
    * replaying engine derives the same value.
    */
  def knnGraph(emb: DataFrame, neighbors: Int = 3, k: Int = 0,
      sampleN: Int = 256, iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    // the assignment table joins with ITSELF on k; the shared prelude
    // persists it (the static plan showed 146 parquet scans before)
    val (_, assign) =
      trainedAssignments(emb, derivedK(emb, k), sampleN, iters)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cosine"), col("nbr"))
    assign.select(col("vec_id").as("qid"), col("k"))
      .join(assign.select(col("vec_id").as("nbr"), col("k")), "k")
      .where(col("nbr") =!= col("qid"))
      .join(vecs.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("nv")),
        "nbr")
      .select(col("qid").as("vec_id"), col("nbr"),
        cosine(col("qv"), col("nv")).as("cosine"))
      .select(col("vec_id"), col("nbr"), col("cosine"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= neighbors)
      .orderBy("vec_id", "rnk")
  }

  /** Label outliers: for each label, the `k` member vectors with the
    * LOWEST cosine to their own label's micro-centroid — the ranked
    * label-noise worklist (mislabeled or out-of-distribution members)
    * a curation pass reviews before trusting `label` as a stratum.
    * Complements [[centroidAssignment]] (which says how much mass is
    * misassigned; this names the specific vectors).
    *
    * Determinism: true cosine — integer dot of the micro-quantized
    * vector against the shared [[microCentroids]], divided by
    * (sqrt(|q|²)·sqrt(|c|²)) of exact-long norms in one fixed-order
    * IEEE expression; ties rank by vec_id.
    *
    * Scale shape: centroids broadcast (|labels| rows); one corpus pass
    * computes each vector's single own-label score (no candidate
    * fan-out at all). The per-label bottom-k window shuffles 3 narrow
    * columns keyed on label; with few labels and huge N, production
    * would swap the window for a bounded k-heap aggregate per label —
    * the composition is otherwise unchanged.
    */
  def labelOutliers(emb: DataFrame, k: Int = 3): DataFrame = {
    val cents = microCentroids(emb)
    val vq = emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, " +
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT))")
        .as("qv"))
      .withColumn("nq", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("score"), col("vec_id"))
    vq.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        (expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), " +
          "0L, (acc, p) -> acc + p)").cast("double") /
          (sqrt(col("nq").cast("double")) *
            sqrt(col("nsq").cast("double")))).as("score"))
      .select(col("label"), col("vec_id"), col("score"),
        row_number().over(w).cast("long").as("rk"))
      .where(col("rk") <= k)
      .orderBy("label", "rk")
  }

  /** IVF top-k: assign each query to its nearest centroid (1-probe),
    * then brute-force only within that cluster. Approximate by design;
    * the oracle replays the identical algorithm.
    */
  def ivfTopK(emb: DataFrame, maxQid: Long = 10, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val cent = centroids(emb)
    val q = emb.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // nearest centroid per query (broadcast: n_clusters rows at any scale)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(desc("ccos"), col("label"))
    val assigned = q.crossJoin(broadcast(cent))
      .select(col("qid"), col("qv"), col("label"),
        cosine(col("qv"), col("centroid")).as("ccos"))
      .select(col("qid"), col("qv"), col("label"),
        row_number().over(wq).as("crnk"))
      .where(col("crnk") === 1)
      .select(col("qid"), col("qv"), col("label").as("probe"))
    val t = emb.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("label"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), col("tid"))
    broadcast(assigned)
      .join(t, col("label") === col("probe") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"), cosine(col("qv"), col("tv")).as("cosine"))
      .select(col("qid"), col("tid"), col("cosine"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Int8 symmetric quantization for embedding storage: per-vector
    * scale = max|x| / 127, codes = round(x / scale) ∈ [-127, 127] —
    * the standard 4× storage shrink an embedding corpus takes before
    * ANN serving. Emits per-vector audit stats (code sum/max and the
    * reconstruction error) rather than the raw code array, which is
    * what a pipeline monitors for quantization drift. Determinism: the
    * scale is a single division of a float-derived double (identical
    * IEEE bits on any engine); codes are `floor(x/scale + 0.5)` over
    * primitive doubles; the squared reconstruction error is quantized
    * to exact integer picos per element and summed as integers, so no
    * order-dependent double sum exists anywhere. Pure per-row
    * projection + one per-vector aggregate — no shuffle, trivially
    * parallel at 100 TB.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .withColumn("max_abs",
        array_max(expr("transform(embedding, x -> abs(x))")).cast("double"))
      .withColumn("scale", col("max_abs") / 127)
      .withColumn("qs", expr(
        """CASE WHEN max_abs = 0D THEN transform(embedding, x -> 0L)
          |ELSE transform(embedding,
          |  x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5D) AS BIGINT))
          |END""".stripMargin))
      .withColumn("err_pico", expr(
        """aggregate(
          |  zip_with(embedding, qs,
          |    (x, q) -> CAST(FLOOR((CAST(x AS DOUBLE) - q * scale)
          |                       * (CAST(x AS DOUBLE) - q * scale)
          |                       * 1e12 + 0.5D) AS BIGINT)),
          |  0L, (acc, e) -> acc + e)""".stripMargin))
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        col("scale"),
        expr("aggregate(qs, 0L, (acc, q) -> acc + q)").as("sum_q"),
        array_max(col("qs")).as("max_q"),
        col("err_pico").as("recon_err_pico"))
      .orderBy("vec_id")

  /** Label-centroid separability matrix: the cosine between every pair
    * of per-label mean vectors — the embedding-space diagnostic a
    * curator reads before trusting `label` as a sampling stratum (two
    * labels with centroid cosine ≈ 1 are not separable classes).
    *
    * Determinism: each component is micro-quantized per ROW
    * (`floor(x·1e6 + 0.5)` — exact longs), per-(label, dim) sums are
    * integer, the centroid component is one floor of an exact-long
    * division, and the pairwise dot/norms are again integer sums —
    * the only doubles are the final sqrt/divide on exact longs, so the
    * matrix is bit-identical across engines and partitionings (unlike
    * a dot over [[centroids]]' double arrays, whose fold order would
    * matter).
    *
    * Scale shape: ONE corpus pass — posexplode emits |corpus|·d rows
    * that collapse map-side into a (|labels|·d)-row table (the only
    * corpus-sized shuffle, keyed (label, dim) with partial integer
    * sums), which then folds into |labels| centroid ARRAYS; the
    * pairwise stage is a self-join of that constant-size table. The
    * self-join's two branches are identical subtrees, so exchange
    * reuse executes the scan + (label, dim) shuffle ONCE (verified:
    * the executed plan shows ReusedExchange); a naive per-dim
    * self-join instead plans 4 corpus scans.
    */
  /** Micro-quantized per-label centroids: (label, cv ARRAY<LONG>, nsq)
    * with each component `floor(mean(floor(x·1e6 + 0.5)))` — exact-long
    * arithmetic end to end, shared by [[centroidCosine]] and
    * [[centroidAssignment]] so the two reports agree bit-for-bit on
    * what "the centroid" is.
    *
    * Computed with the [[graft.functions.VecSumAgg]] typed aggregator:
    * one pass folding each vector into a d-long buffer with map-side
    * combine, so the shuffle carries |partitions|·|labels| buffers —
    * the posexplode spelling this replaced shuffled |corpus|·d
    * (label, dim) rows instead (measured 1.52 → see PERF_NOTES r8).
    * The per-row arithmetic is the identical IEEE sequence, so the
    * result is bit-equal (gates q91/q100 pin it against the DuckDB
    * explode oracle).
    */
  private def microCentroids(emb: DataFrame): DataFrame = {
    val vecSum = udaf(graft.functions.VecSumAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    emb.groupBy(col("label"))
      .agg(vecSum(col("embedding")).as("s"))
      .select(col("label"), expr(
        "transform(s.sums, x -> CAST(FLOOR(CAST(x AS DOUBLE) / s.n) AS BIGINT))")
        .as("cv"))
      .withColumn("nsq", expr("aggregate(cv, 0L, (a, x) -> a + x * x)"))
  }

  def centroidCosine(emb: DataFrame): DataFrame = {
    val cents = microCentroids(emb)
    cents.as("x")
      .join(cents.as("y"), col("x.label") < col("y.label"))
      .select(col("x.label").as("label_a"), col("y.label").as("label_b"),
        (expr("aggregate(zip_with(x.cv, y.cv, (a, b) -> a * b), " +
          "0L, (acc, p) -> acc + p)").cast("double") /
          (sqrt(col("x.nsq").cast("double")) *
            sqrt(col("y.nsq").cast("double")))).as("centroid_cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Nearest-centroid assignment confusion matrix: every vector assigned
    * to its closest label centroid (by cosine against the
    * [[microCentroids]] this module uses everywhere), counted against
    * its ACTUAL label. The label-noise / cluster-quality eval a curator
    * runs before trusting `label` for IVF partitioning or stratified
    * sampling — an off-diagonal mass says vectors sit in the wrong
    * stratum (and predicts q35/q52's probe misses).
    *
    * Determinism: the vector side micro-quantizes per row (exact
    * longs), the dot is an integer sum (≤ 64·1e12 per pair — 5 orders
    * of long headroom), and the comparison score divides by the
    * centroid norm only (the query norm is constant within a vector's
    * candidates) — one IEEE divide of exact-long-derived doubles, so
    * every engine ranks identically; ties break by label.
    *
    * Scale shape: centroids are |labels| rows → broadcast; assignment
    * is one corpus pass (per-row codegen'd zip_with against ≤|labels|
    * arrays). The argmax is a struct-MAX aggregate, NOT a window: a
    * vector's |labels| candidate rows are produced consecutively from
    * its single input row, so map-side partial aggregation collapses
    * them to ONE row before the vec_id shuffle — a window
    * (row_number over vec_id) would shuffle N·|labels| rows instead.
    * The final confusion agg is |labels|²-bounded.
    */
  def centroidAssignment(emb: DataFrame): DataFrame = {
    val cents = microCentroids(emb)
      .select(col("label").as("cand"), col("cv"), col("nsq"))
    val vq = emb.select(col("vec_id"), col("label").as("true_label"),
      expr("transform(embedding, " +
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT))")
        .as("qv"))
    vq.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("true_label"), col("cand"),
        (expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), " +
          "0L, (acc, p) -> acc + p)").cast("double") /
          sqrt(col("nsq").cast("double"))).as("score"))
      // argmax score, ties to the SMALLEST candidate label (negated
      // field makes lexicographic struct MAX break ties downward)
      .groupBy(col("vec_id"), col("true_label"))
      .agg(max(struct(col("score"), (-col("cand")).as("nc"))).as("m"))
      .select(col("true_label"), (-col("m.nc")).as("assigned"))
      .groupBy(col("true_label").as("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** Embedding-index coverage: per source, how many documents have a
    * vector in the embedding index — the readiness check a pipeline
    * runs before routing retrieval/near-dup screening through ANN
    * (a source with coverage below threshold silently falls out of
    * semantic dedup). Exact-ppm coverage rate.
    *
    * Scale shape: the index side reduces to its id column only; one
    * doc_id-keyed left join (both sides bucketable by id at scale →
    * shuffle-free) and a |sources|-bounded hash agg with map-side
    * partials.
    */
  def embeddingCoverage(docs: DataFrame, emb: DataFrame): DataFrame = {
    val idx = emb.select(col("vec_id").as("doc_id"), lit(1L).as("has"))
    docs.select(col("doc_id"), col("source"))
      .join(idx, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("has"), lit(0L))).as("n_indexed"))
      .withColumn("n_missing", col("n_docs") - col("n_indexed"))
      .withColumn("coverage_ppm", expr("n_indexed * 1000000 DIV n_docs"))
      .orderBy("source")
  }

  /** ANN recall report: per query, how many of the exact cosine top-k
    * ([[cosineTopK]]) the trained IVF ([[trainedIvfTopK]]) retrieved —
    * the eval a pipeline runs when tuning nprobe/k before trusting the
    * approximate index for retrieval or near-dup screening. The
    * denominator is the ACTUAL exact-result size (may be < k on a small
    * cluster), so recall is honest at any corpus size.
    *
    * Scale shape: both sides are bounded (maxQid queries × k rows), so
    * the overlap semi-join and per-query counts touch only O(maxQid·k)
    * rows regardless of corpus size; the expensive parts are the two
    * underlying searches, each already scale-shaped (bounded query-side
    * broadcast, probe-pruned IVF).
    */
  def recallReport(emb: DataFrame, maxQid: Long = 10, k: Int = 5):
      DataFrame = {
    val exact = cosineTopK(emb, maxQid, k).select(col("qid"), col("tid"))
    val approx = trainedIvfTopK(emb, maxQid, k)
      .select(col("qid"), col("tid"))
    val hits = exact.join(approx, Seq("qid", "tid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy("qid")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    * the corpus with the trained coarse quantizer (the q52 k-means,
    * identical training), then inside each cluster drop every vector
    * that has a LOWER-id cluster-mate with cosine ≥ `threshold`. The
    * report is per-cluster: members, dropped, and the keep rate — the
    * curation summary a pipeline reads before committing the prune.
    *
    * Blocked, never all-pairs (the SemDeDup design point): candidate
    * pairs exist only within a cluster, so the pair count is Σ|cluster|²
    * ≈ N²/k, and the cluster count is the blocking parameter — it MUST
    * grow with the corpus or the prune is a disguised all-pairs (the
    * measured knnGraph lesson). `k = 0` (the default) derives
    * k ≈ √(N/2) from the corpus count exactly as [[knnGraph]] does;
    * the gate pins k=8 to match the oracle's replayed quantizer. At
    * real scale the assignment table is written bucketed by cluster id
    * and the self-join shuffles on it.
    *
    * `threshold` is corpus-calibrated: this driver's synthetic
    * embeddings are near-orthogonal (all-pairs max cosine ≈ 0.51 at
    * sf0.01), so the gate uses 0.25 to exercise the prune; production
    * embedding corpora sit at 0.95+. Determinism: assignment replays
    * q52's pico-quantized scoring; pair cosines are
    * [[graft.functions.CosineSimQ]] exact quantized arithmetic; the
    * keep-lowest-id rule needs no tie-breaking.
    *
    * With `k = 0` (derive the blocking) the DEFAULT path is scale-
    * adaptive: at or above [[TwoLevelAutoThreshold]] corpus vectors it
    * takes the [[semanticDedupTwoLevel]] branch (N^(4/3) total work)
    * instead of single-level blocking (N^(3/2)) — see
    * [[dedupBlockingPlan]] for the measured crossover. An explicit
    * `k > 0` always pins single-level at that k (the q122 gate's
    * replayed-quantizer contract).
    */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.25, k: Int = 0,
      sampleN: Int = 256, iters: Int = 2): DataFrame =
    if (k > 0) semanticDedupSingle(emb, threshold, k, sampleN, iters)
    else dedupBlockingPlan(emb.count()) match {
      case Right(kk) =>
        semanticDedupTwoLevel(emb, threshold, kk, kk, sampleN, iters)
      case Left(kk) =>
        semanticDedupSingle(emb, threshold, kk, sampleN, iters)
    }

  /** Corpus-count threshold at which the k=0 default of
    * [[semanticDedup]] switches to two-level blocking. Measured
    * crossover (derived k on both sides, cold/warm seconds,
    * PERF_NOTES round 10): 10k vectors 15.1/2.8 single vs 17.1/2.2
    * two-level (fixed overhead dominates — single wins cold), 20k
    * 18.1/2.3 vs 17.8/2.4 (parity), 50k 22.6/2.9 vs 21.9/2.4, 100k
    * 35.9/4.6 vs 27.6/3.3, 200k 63.7/8.2 vs 37.4/4.6, 400k 135.2/19.2
    * vs 64.5/10.4 (2.1×). The asymptotic model (N^(3/2)·√2 vs
    * ~2.4·N^(4/3)) predicts an even lower crossover; 20k is where the
    * second quantizer's fixed training cost stops mattering in
    * practice. Above it two-level never lost a sample.
    */
  val TwoLevelAutoThreshold = 20000L

  /** The k=0 blocking decision as a pure function of the corpus count
    * (so the branch is unit-testable without a 20k-row training run
    * and a replaying engine derives the same plan): Left(k) =
    * single-level at k ≈ √(n/2), Right(k) = two-level at
    * k1 = k2 = k ≈ n^(1/3).
    */
  def dedupBlockingPlan(n: Long): Either[Int, Int] =
    if (n >= TwoLevelAutoThreshold)
      Right(math.max(8, math.ceil(math.cbrt(n.toDouble)).toInt))
    else Left(math.max(8, math.ceil(math.sqrt(n / 2.0)).toInt))

  private def semanticDedupSingle(emb: DataFrame, threshold: Double,
      k: Int, sampleN: Int, iters: Int): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val (_, assign) =
      trainedAssignments(emb, k, sampleN, iters)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val dropped = assign.select(col("k"), col("vec_id").as("a"))
      .join(assign.select(col("k"), col("vec_id").as("b")), "k")
      .where(col("a") < col("b"))
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("av")),
        "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("bv")),
        "b")
      .where(cosine(col("av"), col("bv")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    assign
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"),
        "left")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
      .select(col("k").cast("long").as("cluster"), col("n_vectors"),
        col("n_dropped"),
        expr("(n_vectors - n_dropped) * 1000000 DIV n_vectors")
          .as("keep_ppm"))
      .orderBy("cluster")
  }

  /** Two-level-blocked semantic dedup — [[semanticDedup]]'s scale path
    * for the Σ|block|² law. Single-level blocking at the derived
    * k ≈ √(N/2) leaves candidate volume ~N^1.5; intersecting TWO
    * independently-trained coarse quantizers (second trained on an
    * independent md5 sample order, salt `|ivfseed2`) blocks on the
    * cell (k1, k2), so candidates fall to ~N²/(k1·k2) while the
    * assignment scoring cost is N·(k1+k2) instead of N·k1·k2. The
    * cost-balanced derivation: minimizing
    * `α·N·(k1+k2) + β·N²/(k1·k2)` at k1=k2=k gives k ≈ N^(1/3) —
    * total work ~N^(4/3), vs the single-level optimum's ~N^(3/2).
    *
    * Approximation contract: a pair is a candidate only when it shares
    * BOTH cells. Near-identical vectors land in the same cell of each
    * quantizer with high probability (each assigns by nearest
    * centroid), but the two-level prune is strictly tighter than
    * single-level — this is the standard IVF-style recall/cost dial,
    * turned one notch further. The q122 gate pins single-level k=8
    * (the oracle's replayed quantizer); [[semanticDedup]]'s k=0
    * default ROUTES HERE at or above [[TwoLevelAutoThreshold]]
    * vectors, so this IS the production path at scale — measured in
    * the two-level sweep (crossover table at [[TwoLevelAutoThreshold]]).
    *
    * Determinism: both quantizers replay q52's exact chain (the salt
    * only changes which vectors seed the sample); pair cosines are the
    * same quantized arithmetic; the report shape matches
    * [[semanticDedup]] (grouped by the LEVEL-1 cluster, so the two are
    * directly comparable).
    */
  def semanticDedupTwoLevel(emb: DataFrame, threshold: Double = 0.25,
      k1: Int = 0, k2: Int = 0, sampleN: Int = 256, iters: Int = 2):
      DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val kk1 =
      if (k1 > 0) k1
      else math.max(8, math.ceil(math.cbrt(emb.count().toDouble)).toInt)
    val kk2 = if (k2 > 0) k2 else kk1
    val (_, a1) = trainedAssignments(emb, kk1, sampleN, iters)
    val (_, a2) =
      trainedAssignments(emb, kk2, sampleN, iters, salt = "|ivfseed2")
    val cells = a1
      .join(a2.select(col("vec_id"), col("k").as("k2")), "vec_id")
      .trackedPersist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val dropped = cells.select(col("k"), col("k2"), col("vec_id").as("a"))
      .join(cells.select(col("k"), col("k2"), col("vec_id").as("b")),
        Seq("k", "k2"))
      .where(col("a") < col("b"))
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("av")),
        "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("bv")),
        "b")
      .where(cosine(col("av"), col("bv")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    cells
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"),
        "left")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
      .select(col("k").cast("long").as("cluster"), col("n_vectors"),
        col("n_dropped"),
        expr("(n_vectors - n_dropped) * 1000000 DIV n_vectors")
          .as("keep_ppm"))
      .orderBy("cluster")
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most-similar vectors carrying a DIFFERENT label — the negatives an
    * embedding-model trainer wants (similar enough to be hard, labelled
    * different so they are true negatives).
    *
    * Scale shape: identical build-side discipline to [[cosineTopK]] —
    * the bounded query set broadcasts with its labels, the corpus
    * streams, and the label inequality prunes before any vector math;
    * at real scale the corpus side would first be blocked by the
    * trained quantizer exactly as [[knnGraph]] does. Determinism:
    * quantized cosine, ties rank by tid.
    */
  def hardNegatives(emb: DataFrame, maxQid: Long = 10, k: Int = 3):
      DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val q = emb.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val t = emb.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("label").as("tlabel"))
    rankTopK(q, t, col("tlabel") =!= col("qlabel"), k)
  }

  /** Semantic decontamination: flag TRAIN vectors whose embedding is
    * too close (cosine ≥ `threshold`) to any BENCHMARK vector — the
    * embedding-space complement of the n-gram decontamination passes
    * (q57 exact shingles, q121 Bloom-screened): paraphrased or
    * reformatted eval material that shares no 3-gram still collides in
    * embedding space. Emits the per-cluster flag-rate report a
    * curation pass reads before cutting.
    *
    * IVF-screened, never all-pairs: every vector is assigned to its
    * trained centroid once (the q52 inverted file); each BENCH vector
    * probes its `nprobe` best clusters and compares only against those
    * clusters' train members — the identical probe discipline as
    * [[trainedIvfTopK]], with the bench set as the query side. At real
    * scale the blocking parameter grows k ≈ √(N/2) ([[knnGraph]]'s
    * derivation, the default here); the gate pins k=8 to the oracle's
    * replayed quantizer.
    *
    * Determinism: q52's pico-quantized scoring end-to-end; the flag
    * set is a DISTINCT over exact comparisons — no tie-breaking
    * needed. `threshold` is corpus-calibrated like [[semanticDedup]].
    */
  def semanticDecontamination(emb: DataFrame,
      isBench: Column = col("vec_id") % 97 === 0,
      threshold: Double = 0.25, k: Int = 0, sampleN: Int = 256,
      iters: Int = 2, nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.install(emb.sparkSession)
    val (scores, assign) =
      trainedAssignments(emb, derivedK(emb, k), sampleN, iters)
    val benchIds = emb.where(isBench).select(col("vec_id").as("bid"))
    val trainAssign = assign
      .join(benchIds, assign("vec_id") === col("bid"), "left_anti")
    val probes = scores
      .join(benchIds, scores("vec_id") === col("bid"), "left_semi")
      .select(col("vec_id").as("qid"), col("k"),
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(desc("score"), col("k"))).as("crnk"))
      .where(col("crnk") <= nprobe)
      .select(col("qid"), col("k"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val flagged = broadcast(probes)
      .join(trainAssign.select(col("vec_id").as("tid"), col("k")), "k")
      .join(vecs.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid")
      .join(vecs.select(col("vec_id").as("tid"), col("embedding").as("tv")),
        "tid")
      .where(cosine(col("qv"), col("tv")) >= threshold)
      .select(col("tid")).distinct()
    trainAssign.select(col("vec_id"), col("k"))
      .join(flagged.withColumn("is_flagged", lit(1L)),
        col("vec_id") === col("tid"), "left")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("is_flagged"), lit(0L))).as("n_flagged"))
      .select(col("k").cast("long").as("cluster"), col("n_train"),
        col("n_flagged"),
        expr("n_flagged * 1000000 DIV n_train").as("flagged_ppm"))
      .orderBy("cluster")
  }

  /** Per-dimension moments of the embedding matrix: count, mean, and
    * variance for each of the 64 coordinates — the whitening / feature-
    * scaling pre-pass an ANN index or PCA runs before trusting raw
    * coordinates ([[embeddingQc]] is per-VECTOR norms; this is the
    * per-DIMENSION complement).
    *
    * Determinism: values are micro-quantized per row
    * (`floor(v·1e6 + 0.5)` — primitive IEEE ops, bit-identical in any
    * engine); s1 = Σq and s2 = Σq² are exact integer sums; mean and
    * variance are fixed-order double expressions over (s1, s2, n) —
    * `s2/n/1e12 − (s1/n/1e6)²` — so both engines emit identical bits
    * at any parallelism. Headroom: per-row q² ≤ ~4e11 for unit-ish
    * coordinates, so s2 stays in-long up to ~2e7 vectors; beyond that
    * split hi/lo words exactly as `Q.sumExact` does.
    *
    * Scale shape: one corpus pass (posexplode to 64·N narrow rows),
    * one 64-key hash agg with map-side partials — no join, no skew
    * (dimension keys are uniform by construction).
    *
    * FIXED-DIMENSION CONTRACT (like DimsCte): every embedding is
    * exactly 64 elements, none NULL. posexplode emits rows only for
    * elements that EXIST, while the q127 oracle cross-joins a fixed
    * range(1,65) and counts rows where the subscript resolves — the
    * two spellings agree only under this contract (the corpus schema
    * guarantees it; a ragged corpus would diverge silently, so state
    * the dimension in the pipeline schema before reusing this).
    */
  def dimMoments(emb: DataFrame): DataFrame = {
    val M = 1e6
    emb.select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select((col("pos") + 1).as("i"),
        floor(col("vf").cast("double") * M + 0.5).cast("long").as("q"))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"))
      .select(col("i").cast("long").as("i"), col("n"),
        (col("s1").cast("double") / col("n") / lit(M)).as("mean"),
        ((col("s2").cast("double") / col("n") / lit(M * M)) -
          (col("s1").cast("double") / col("n") / lit(M)) *
            (col("s1").cast("double") / col("n") / lit(M)))
          .as("variance"))
      .orderBy("i")
  }

  /** Per-label embedding centroid drift against the global centroid:
    * for each label, the L1 drift across dimensions and the single
    * dimension whose per-label mean shifts farthest from the global
    * mean — the embedding-space balance check a label-stratified
    * sampling decision reads (a label whose centroid sits far off the
    * corpus centroid dominates any cosine-bucketed pipeline stage).
    *
    * Exact without a float mean: components quantize per row to
    * micro-units (`floor(x·10⁶ + 0.5)` — FLOAT→DOUBLE promotion is
    * exact and the floor is the same IEEE primitive in both engines);
    * per-(label, dim) sums are plain codegen'd long aggregates; the
    * mean comparison cross-multiplies in DECIMAL(38,0):
    * `|s_l·n_g − s_g·n_l| DIV (n_l·n_g)` is the floored micro-shift
    * (products ≤ max|q|·n_l·n_g ≈ 10⁶·n² — int64 wraps past ~10⁶
    * vectors, DECIMAL holds to ~10¹⁶ per side). Scale shape: the
    * dim-fan-out explodes map-side straight into the (label, dim)
    * partial aggregate — |labels|·dim rows cross the exchange, never
    * N·dim; the global centroid is a |dim|-row rollup of THAT table
    * (not a second corpus pass) attached by broadcast; the finish is
    * |labels| rows. Ties on the max-shift dimension break to the
    * lowest dim index in both engines.
    */
  def centroidShift(embs: DataFrame): DataFrame = {
    // Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    // PERF_NOTES r15 (measured floor stage, scales, anchors).
    val qd = embs.select(col("label"),
      posexplode(expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS double) * 1000000 + 0.5) AS bigint))"))
        .as(Seq("dim", "q")))
    val ld = qd.groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .trackedPersist() // feeds the global rollup AND the shift join
    val gd = ld.groupBy(col("dim"))
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
    ld.join(broadcast(gd), "dim")
      .withColumn("shift", expr(
        "CAST(abs(CAST(s AS decimal(38,0)) * gn - " +
          "CAST(gs AS decimal(38,0)) * n) DIV " +
          "(CAST(n AS decimal(38,0)) * gn) AS bigint)"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("shift")).as("drift_l1"),
        min(struct((-col("shift")).as("neg"),
          col("dim").cast("long").as("d"))).as("top"))
      .select(col("label"), col("n_vecs"), col("drift_l1"),
        col("top.d").as("top_dim"), (-col("top.neg")).as("top_shift"))
      .orderBy("label")
  }

  /** Per-label L2-norm band census: vectors bucketed by quantized
    * squared norm in tenth-of-unit-norm² bands — the norm-distribution
    * sanity check an embedding pipeline runs before cosine math (a
    * label whose norms drift from ~1 signals an unnormalized encoder
    * batch; cosine buckets silently degrade there).
    *
    * Exact and engine-independent: the squared norm is [[dotQ]]'s
    * per-component pico-quantized self-dot (plain long sum), the band
    * is integer `DIV 10¹¹` (norm² 1.0 → band 10) — no float compare
    * anywhere. Scale shape: pure per-row map into a (label, band) hash
    * aggregate — ≤|labels|·|bands| rows cross the exchange.
    */
  def normBands(embs: DataFrame): DataFrame = {
    // Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    // PERF_NOTES r15 (measured floor stage, scales, anchors): the
    // floor is the bare array<float> scan.
    embs.select(col("label"), dotQ(col("embedding"), col("embedding")).as("n2q"))
      .select(col("label"), expr("n2q DIV 100000000000").as("band"))
      .groupBy(col("label"), col("band"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "band")
  }

  /** Centroid-assignment purity per label: the share of vectors whose
    * OWN label centroid is the nearest label centroid under squared L2
    * — the nearest-centroid-classifier self-consistency check that
    * tells a curation pipeline whether a label column still carries
    * geometric signal (next to [[knnLabelEval]]'s neighbour vote and
    * [[centroidShift]]'s drift).
    *
    * Exact with NO float mean and NO division: components micro-
    * quantize (the [[centroidShift]] scale); the distance of x to
    * label b's centroid S_b/n_b compares through the n²-scaled form
    * D_b = Σ_d (n_b·x_d − S_bd)², and "own is nearest" is the integer
    * cross-multiplication D_a·n_b² ≤ D_b·n_a² for every other label —
    * DECIMAL(38,0) products (oracle HUGEINT), exact to ~10⁹ vectors
    * per label at micro quantization (D·n² ≈ 10³⁸ beyond; drop one
    * quantization decade per 10× past that).
    *
    * Scale shape: per-label per-dim sums collapse map-side
    * (|labels|·dim rows cross that exchange, never N·dim); the
    * ≤|labels|-row centroid table gathers into ONE broadcast row; each
    * vector then evaluates ALL centroid comparisons inside a single
    * codegen'd projection (`forall` over the broadcast array with a
    * nested exact-integer distance fold) — zero joins, zero extra
    * exchanges; the label rollup is ≤|labels| rows.
    */
  def centroidPurity(embs: DataFrame): DataFrame = {
    val qd = embs.select(col("label"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS double) * 1000000 + 0.5) AS bigint))")
        .as("xq"))
    val ld = qd
      .select(col("label"), posexplode(col("xq")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val cent = ld.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        expr("transform(array_sort(collect_list(struct(dim, s))), " +
          "c -> c.s)").as("sarr"))
    val gathered = cent
      .agg(collect_list(struct(col("label"), col("n"), col("sarr")))
        .as("cents"))
    // n²-scaled squared distance of this row's xq to centroid c, as an
    // exact DECIMAL(38,0) fold (order-insensitive: integer addition)
    def dist(c: String): String =
      s"aggregate(zip_with(xq, $c.sarr, (x, sv) -> $c.n * x - sv), " +
        "CAST(0 AS decimal(38,0)), (acc, t) -> acc + CAST(t AS " +
        "decimal(38,0)) * t)"
    qd.crossJoin(broadcast(gathered))
      .withColumn("own", expr("filter(cents, c -> c.label = label)[0]"))
      .withColumn("da", expr(dist("own")))
      .withColumn("pure", expr(
        s"forall(cents, c -> c.label = label OR " +
          s"da * (CAST(c.n AS decimal(38,0)) * c.n) <= " +
          s"${dist("c")} * (CAST(own.n AS decimal(38,0)) * own.n))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pure"), 1L).otherwise(0L)).as("n_pure"))
      .withColumn("purity_ppm", expr("n_pure * 1000000 DIV n_vecs"))
      .orderBy("label")
  }

  /** Cosine-band pair census over two deterministic mod-samples — the
    * threshold-calibration histogram for SEMANTIC dedup: before picking
    * the q122 cosine cut, measure how sampled pair similarity actually
    * distributes. Exact banding without a single square root: for
    * t ∈ {0.25, 0.5, 0.75}, cos(a,b) ≥ t ⟺ dot ≥ 0 ∧ k²·dot² ≥
    * m²·‖a‖²·‖b‖² (t = m/k), evaluated on the 1e6 fixed-point grid in
    * DECIMAL(38,0) (dot ≤ ~6.4e13 for 64 unit-ish dims; its square
    * ≤ ~4e27 — inside the 38-digit cap), so both engines classify every
    * pair bit-identically.
    *
    * Scale shape: a calibration histogram needs a FIXED sample budget,
    * not a fixed sampling RATE — a corpus-linear sample squares into a
    * corpus-quadratic pair count (measured: the fixed-rate 7/11 form
    * took ~780 s at the 200× replica where the budgeted form is
    * seconds). Defaults are therefore scale-adaptive via
    * [[cosineBandPlan]]: one count() sizes the mods so |A| ≈ ≤1400 and
    * |B| ≈ ≤900 (~1.3 M pairs) at ANY corpus size, degrading sampling
    * rate — never cost — as the corpus grows. Sample A broadcasts
    * (bounded by the budget) against one scan of sample B; per-pair
    * work is a 64-wide fused zip_with/aggregate with no shuffle at
    * all — the band counters collapse map-side to ≤6 rows. Self-pairs
    * and mirrored pairs are excluded by requiring the A-side id
    * strictly below the B-side id. Pass explicit mods to reproduce a
    * fixed published sample.
    */
  def cosineBandCensus(embs: DataFrame, modA: Int = 0, modB: Int = 0): DataFrame = {
    val (ma, mb) =
      if (modA > 0 && modB > 0) (modA, modB)
      else cosineBandPlan(embs.count())
    cosineBandCensusFixed(embs, ma, mb)
  }

  /** Pure sizing rule for [[cosineBandCensus]]: smallest mods that keep
    * the expected sample sizes inside the fixed ~1400/~900 calibration
    * budget (floors 7/11 preserve the published small-corpus sample).
    * Unit-pinned; decision logic kept driver-side and side-effect-free,
    * the knnEvalPlan pattern.
    */
  def cosineBandPlan(n: Long): (Int, Int) =
    (math.max(7L, (n + 1399) / 1400).toInt,
      math.max(11L, (n + 899) / 900).toInt)

  private def cosineBandCensusFixed(embs: DataFrame, modA: Int,
      modB: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // nrm2/dot accumulate in DECIMAL(38,0), not BIGINT: a quantized
    // element of magnitude ≥ ~3e9 (raw value ~3e3 on the 1e6 grid)
    // would silently wrap an int64 square in Spark while the DuckDB
    // oracle's HUGEINT list_sum keeps going — a silent-wrong-band
    // divergence on non-unit-normalized inputs (r13 ADVICE). The
    // decimal cost is bounded by the fixed ~1.3 M-pair budget.
    val q = embs.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) " +
        "* 1000000 + 0.5) AS BIGINT))").as("qv"))
      .withColumn("nrm2", expr(
        "aggregate(qv, CAST(0 AS DECIMAL(38,0)), " +
          "(acc, x) -> acc + CAST(x AS DECIMAL(38,0)) * x)"))
    val a = q.where(col("vec_id") % modA === 0)
      .select(col("vec_id").as("aid"), col("qv").as("qa"), col("nrm2").as("na"))
    val b = q.where(col("vec_id") % modB === 0)
      .select(col("vec_id").as("bid"), col("qv").as("qb"), col("nrm2").as("nb"))
    val pairs = b.join(broadcast(a), col("aid") < col("bid"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> CAST(x AS DECIMAL(38,0)) * y), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t)"))
      .select(
        when(dec(col("na")) * col("nb") === 0, "z_zero")
          .when(col("dot") < 0, "a_neg")
          .when(dec(col("dot")) * col("dot") * 16
            < dec(col("na")) * col("nb"), "b_lt_25")
          .when(dec(col("dot")) * col("dot") * 4
            < dec(col("na")) * col("nb"), "c_25_50")
          .when(dec(col("dot")) * col("dot") * 16
            < dec(col("na")) * col("nb") * 9, "d_50_75")
          .otherwise("e_ge_75").as("sim_band"))
    pairs.groupBy(col("sim_band"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pair_share_ppm",
        expr("n_pairs * 1000000 DIV sum(n_pairs) OVER ()"))
      .orderBy("sim_band")
  }
}
