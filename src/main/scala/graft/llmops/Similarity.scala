package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Canon.sig6
import graft.Tables
import graft.functions.GraftFunctions

/** L3 similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cosine/dot run through graft's native fused Catalyst expressions
  * ([[graft.functions.ArrayDot]]/[[graft.functions.CosineSim]], one codegen
  * loop per pair, no intermediate array) — no UDF, no MLlib Vector
  * conversion. Norms are precomputed once per row before any join so the
  * top-k pair loop only does the dot product.
  *
  * Scale paths:
  * - top-k: the query set is tiny and broadcast; the corpus side streams —
  *   embarrassingly parallel, no shuffle of the corpus.
  * - brute-force dup scan blocks on `label` (a natural blocking key) to keep
  *   the pair space 10× down; the LSH variant replaces blocking with random
  *   hyperplane signatures for the 100 TB path.
  */
object Similarity {

  /** embeddings with double-cast vector and precomputed L2 norm. */
  private def emb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(GraftFunctions.arrayDot(s, $"v", $"v")))
  }

  /** L55: product-quantization approximate top-k (the FAISS IVF-PQ code
    * path's second half, completing the ANN triad beside l08's LSH and
    * l15's IVF). The 64-dim space splits into 4 16-dim subspaces; each
    * trains its own 4-codeword codebook through the SHARED deterministic
    * Lloyd ([[graft.algos.KMeans.fitOn]] — same seeds-by-lowest-id, same
    * grid-rounded means as l14), every vector encodes to 4 small codes,
    * and query↔vector distance is the asymmetric ADC sum of per-subspace
    * query-to-codeword squared distances read from a lookup table.
    *
    * Scale posture: codebooks and the nQueries×subspaces×codes distance
    * table are tiny and broadcast; at rest a 100 TB store keeps only the
    * 4-byte codes (16× smaller than float32 — l28's int8 is 4×), and the
    * scan is a per-row table lookup plus a bounded per-(query, vector)
    * numeric aggregation — no float vectors move after encode time.
    * Determinism: codewords and table entries live on the shared 9-sig
    * grid, the ADC sum re-rounds, and the top-k cut is the (adc, vec_id)
    * total order — so DuckDB's statically unrolled per-subspace Lloyd
    * lands the identical codes, tables, and cut.
    */
  /** Registry defaults for [[pqTopK]], shared with the l55 oracle generator
    * (LlmOraclesB) so a default drift here cannot silently diverge the two
    * sides — the oracle pins exactly this configuration.
    */
  private[graft] val PqSubspaces = 4
  private[graft] val PqSubDim = 16
  private[graft] val PqCodes = 4
  private[graft] val PqIters = 3
  private[graft] val PqQueries = 5
  private[graft] val PqK = 10

  def pqTopK(s: SparkSession, dir: String, subspaces: Int = PqSubspaces,
             subDim: Int = PqSubDim, kCodes: Int = PqCodes, iters: Int = PqIters,
             nQueries: Int = PqQueries, k: Int = PqK): DataFrame = {
    import s.implicits._
    val pts = Tables.load(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .cache()
    val parts = (0 until subspaces).map { sp =>
      val sub = pts.select($"vec_id",
        slice($"v", sp * subDim + 1, subDim).as("v"))
      val (cents, codes) = graft.algos.KMeans.fitOn(s, sub, kCodes, iters)
      (sp, cents, codes)
    }
    val q = pts.filter($"vec_id" < nQueries)
    val dt = parts.map { case (sp, cents, _) =>
      val qs = slice($"v", sp * subDim + 1, subDim)
      // Explicit broadcast: the build side is ≤kCodes centroid rows, but
      // without the hint the plan depends on AQE's runtime estimate.
      q.select($"vec_id".as("query_id"), qs.as("qs"))
        .crossJoin(broadcast(cents))
        .select($"query_id", lit(sp).as("sp"), $"cluster",
          sig6(GraftFunctions.arrayDot(s, $"c", $"c") -
            lit(2.0) * GraftFunctions.arrayDot(s, $"qs", $"c") +
            GraftFunctions.arrayDot(s, $"qs", $"qs")).as("d2"))
    }.reduce(_ union _)
    val codes = parts.map { case (sp, _, cds) =>
      cds.select($"vec_id", lit(sp).as("sp"), $"cluster")
    }.reduce(_ union _)
    val adc = codes.join(broadcast(dt), Seq("sp", "cluster"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sig6(sum($"d2")).as("adc"))
    val w = Window.partitionBy($"query_id").orderBy($"adc".asc, $"vec_id".asc)
    val out = adc.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"query_id", $"vec_id", $"adc")
    // The cache's heavy consumers (the per-subspace Lloyd fits) ran eagerly
    // above; release it before returning (fitOn's own pattern) so the gate's
    // pooled phase does not accumulate per-query cached frames.
    pts.unpersist()
    out
  }

  /** Registry default for [[pcaPowerProject]], shared with the l58 oracle
    * generator so the unroll depth cannot silently diverge.
    */
  private[graft] val PcaIters = 3

  /** L58: top principal component via POWER ITERATION, and the corpus
    * projected onto it — the embedding-analysis primitive behind whitening,
    * anisotropy checks ("all-but-the-top"), and 1-D semantic sorts. The
    * covariance matvec never materializes the covariance matrix: C·v =
    * Σ_x s_x·(x−μ) with s_x = ⟨x−μ, v⟩, so each of the `iters` rounds is
    * ONE corpus aggregation (per-row fused dot + elementwise-sum sketch)
    * — the classic X^T(Xv) factorization. μ and v stay dim-sized: they
    * collect to the driver (the KMeans-centroid convention — bounded by
    * the embedding width, never by the corpus) and re-enter each round as
    * broadcast literals, so the corpus never shuffles at all; at 100 TB
    * every round is a map-side partial aggregation.
    *
    * Determinism (the g28 chained-stage discipline): every stage lands on
    * the shared 9-sig grid — μ_i, the centering scalar c = ⟨μ,v⟩, each
    * row's score s_x, the accumulated a_i and b = Σs, the recombined
    * w_i = a_i − b·μ_i, and the normalized v_i — so the DuckDB oracle's
    * statically unrolled iterations hold bit-identical doubles throughout.
    * v0 = all-ones (normalization happens after the first matvec); the
    * component's SIGN follows the deterministic iteration, not a
    * convention. Output: (vec_id, score), score = ⟨x−μ, v_final⟩.
    */
  def pcaPowerProject(s: SparkSession, dir: String, iters: Int = PcaIters)
      : DataFrame = {
    import s.implicits._
    val pts = Tables.load(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .cache()
    val n = pts.count()
    def litArr(a: Array[Double]): Column = array(a.map(lit(_)): _*)
    // Per-dimension grid-rounded mean (one ArraySumAgg pass).
    val mu: Array[Double] = pts
      .agg(GraftFunctions.arraySumAgg(s, $"v").as("sv"))
      .select(posexplode($"sv"))
      .select($"pos", sig6($"col" / lit(n.toDouble)).as("m"))
      .orderBy($"pos").collect().map(_.getDouble(1))
    val muArr = litArr(mu)
    // The centering scalar on the same grid as the oracle (computed by the
    // engine, not driver math, so round() semantics cannot drift).
    def dotMu(v: Array[Double]): Double = s.range(1)
      .select(sig6(GraftFunctions.arrayDot(s, muArr, litArr(v))).as("c"))
      .head().getDouble(0)
    var v = Array.fill(mu.length)(1.0)
    for (_ <- 1 to iters) {
      val c = dotMu(v)
      val sdf = pts.select($"vec_id",
        sig6(GraftFunctions.arrayDot(s, $"v", litArr(v)) - lit(c)).as("sc"),
        $"v")
      val agg = sdf.agg(
        GraftFunctions.arraySumAgg(s, transform($"v", e => e * $"sc")).as("sv"),
        sum($"sc").as("ss"))
      // nrm over the dim-sized w relation: a global window over 64 rows,
      // not a corpus-scale sort.
      v = agg.select(posexplode($"sv"), sig6($"ss").as("b"))
        .select($"pos",
          sig6(sig6($"col") - $"b" * element_at(muArr, $"pos" + 1)).as("w"))
        .withColumn("nrm", sqrt(sum($"w" * $"w").over(Window.partitionBy())))
        .select($"pos", sig6($"w" / $"nrm").as("x"))
        .orderBy($"pos").collect().map(_.getDouble(1))
    }
    val cF = dotMu(v)
    val out = pts.select($"vec_id",
        sig6(GraftFunctions.arrayDot(s, $"v", litArr(v)) - lit(cF)).as("score"))
      .localCheckpoint()
    pts.unpersist()
    out
  }

  /** Int8 scalar quantization of the embedding column — the storage-side
    * companion to similarity search (a 100 TB embedding store keeps int8
    * codes + per-vector (min, scale), 4× smaller than float32). Per vector:
    * scale = (max−min)/255, code = round((x−min)/scale), and the reported
    * reconstruction MSE quantifies the loss. Pure projection — no shuffle,
    * embarrassingly parallel; the arithmetic is identical IEEE double ops
    * on both engines, so the oracle hash-checks it.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("mn", array_min($"v"))
      .withColumn("mx", array_max($"v"))
      .withColumn("scale", ($"mx" - $"mn") / lit(255.0))
      .select($"vec_id", $"mn", $"mx",
        when($"scale" === 0.0, lit(0.0)).otherwise(sig6(
          aggregate($"v", lit(0.0), (acc, x) => {
            val deq = $"mn" + round((x - $"mn") / $"scale") * $"scale"
            acc + (deq - x) * (deq - x)
          }) / size($"v"))).as("mse"))
  }

  /** L3a: brute-force cosine top-k of the corpus against query vectors
    * (vec_id < nQueries). Deterministic tiebreak on vec_id.
    */
  def cosineTopK(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
    // sig6 before ranking: cross-engine canonical (ties broken by vec_id).
    val sims = e.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        sig6(GraftFunctions.arrayDot(s, $"qv", $"v") / ($"qnorm" * $"norm")).as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id".asc)
    sims.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"query_id", $"vec_id", $"sim")
  }

  /** L3h: greedy k-center (farthest-point) diversity sampling — the
    * coreset selector a curation pipeline runs to pick a small,
    * maximally-spread subset of a corpus (coverage-oriented sampling, the
    * dual of dedup's redundancy removal). Gonzalez's 2-approximation:
    * seed with the smallest vec_id, then k−1 rounds of "take the point
    * farthest (cosine distance) from the selected set", ties to the
    * smallest vec_id. Distances land on the shared sig6 grid BEFORE the
    * argmax so the DuckDB oracle replays every pick.
    *
    * Scale posture: the selected set is k rows — each round is one
    * broadcast of the single new center, one map-side `least(d, d_new)`
    * pass over the pool (running min-distance, so round r does O(n) work,
    * not O(n·r)), and one TakeOrdered(1) — the corpus never shuffles. Each
    * round's pool localCheckpoints and the PREVIOUS round's checkpoint RDD
    * is freed eagerly (Dataset.unpersist is a no-op on checkpoints — the
    * data lives on the RDD, not in the CacheManager), so live state is one
    * (id, vector, d) relation, the same footprint as a k-means iteration.
    */
  /** Default pick count — shared with the l63 oracle's static unroll so a
    * k change moves both sides together.
    */
  val KcenterK: Int = 6

  def kcenterSample(s: SparkSession, dir: String, k: Int = KcenterK): DataFrame = {
    import s.implicits._
    val e = emb(s, dir).select($"vec_id", $"v", $"norm").cache()
    val seed = e.orderBy($"vec_id".asc).limit(1).localCheckpoint()
    var out = seed.select(lit(0).as("round"), $"vec_id", lit(0.0).as("dist"))
    def asCenter(c: DataFrame) = broadcast(
      c.select($"vec_id".as("sid"), $"v".as("sv"), $"norm".as("sn")))
    var pool = e.crossJoin(asCenter(seed))
      .filter($"vec_id" =!= $"sid")
      .select($"vec_id", $"v", $"norm",
        sig6(lit(1.0) -
          GraftFunctions.arrayDot(s, $"v", $"sv") / ($"norm" * $"sn"))
          .as("d"))
      .localCheckpoint()
    (1 until k).foreach { r =>
      val next = pool.orderBy($"d".desc, $"vec_id".asc).limit(1)
        .localCheckpoint() // one row; reused by the output and the update
      out = out.union(next.select(lit(r).as("round"), $"vec_id",
        $"d".as("dist")))
      val prev = pool
      pool = pool.crossJoin(asCenter(next))
        .filter($"vec_id" =!= $"sid")
        .select($"vec_id", $"v", $"norm",
          least($"d", sig6(lit(1.0) -
            GraftFunctions.arrayDot(s, $"v", $"sv") / ($"norm" * $"sn")))
            .as("d"))
        .localCheckpoint()
      // The new checkpoint is materialized, so prev's is unreferenced —
      // free the backing RDD.
      graft.engine.Fixpoint.release(prev)
    }
    // The output rows live in the per-pick one-row checkpoints; the final
    // pool is dead state.
    graft.engine.Fixpoint.release(pool)
    e.unpersist()
    out
  }

  /** l64's operating point, shared with its oracle so neither the pool
    * cut, the pick count, nor the λ trade-off can drift between engines.
    * MmrMu is the diversity weight written as its OWN literal (not
    * `1 − λ`, whose double value 0.30000000000000004 would differ from
    * the SQL literal 0.3 before the grid rounding).
    */
  val MmrLambda: Double = 0.7
  val MmrMu: Double = 0.3
  val MmrPoolK: Int = 20
  val MmrK: Int = 5

  /** L3i: maximal marginal relevance re-ranking — the diversity-aware
    * cut a RAG retriever applies to its candidate pool (Carbonell &
    * Goldstein 1998): pick argmax λ·rel(c) − μ·max_{s∈S} sim(c, s),
    * greedily, so near-duplicate hits don't crowd the context window.
    * The relevance leg is cosine to the query embedding (vec_id 0, as
    * l33); the pool is a TakeOrdered top-`poolK` cut; every score lands
    * on the sig6 grid before each argmax (ties to the smallest vec_id)
    * so the oracle replays every pick.
    *
    * Scale posture: the corpus-sized work is exactly the l06 broadcast
    * top-k (one map-side pass + TakeOrdered); the greedy loop then runs
    * entirely on the ≤poolK-row checkpointed pool with ≤k-row broadcast
    * joins — constant-size, independent of corpus scale.
    */
  def mmrRerank(s: SparkSession, dir: String, k: Int = MmrK,
                poolK: Int = MmrPoolK): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val q = e.filter($"vec_id" === 0L)
      .select($"v".as("qv"), $"norm".as("qnorm"))
    val pool = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0L)
      .select($"vec_id", $"v", $"norm",
        sig6(GraftFunctions.arrayDot(s, $"qv", $"v") / ($"qnorm" * $"norm"))
          .as("rel"))
      .orderBy($"rel".desc, $"vec_id".asc).limit(poolK)
      .localCheckpoint()
    var selected = pool.orderBy($"rel".desc, $"vec_id".asc).limit(1)
      .select($"vec_id", $"v", $"norm", $"rel",
        sig6(lit(MmrLambda) * $"rel").as("mmr"), lit(0).as("round"))
      .localCheckpoint()
    (1 until k).foreach { r =>
      val selVecs = broadcast(selected
        .select($"vec_id".as("sid"), $"v".as("sv"), $"norm".as("sn")))
      val cand = pool.join(selected.select($"vec_id".as("sid2")),
        $"vec_id" === $"sid2", "left_anti")
      val ms = cand.crossJoin(selVecs)
        .select($"vec_id",
          sig6(GraftFunctions.arrayDot(s, $"v", $"sv") / ($"norm" * $"sn"))
            .as("sim"))
        .groupBy($"vec_id").agg(max($"sim").as("ms"))
      val next = cand.join(ms, "vec_id")
        .select($"vec_id", $"v", $"norm", $"rel",
          sig6(lit(MmrLambda) * $"rel" - lit(MmrMu) * $"ms").as("mmr"))
        .orderBy($"mmr".desc, $"vec_id".asc).limit(1)
        .withColumn("round", lit(r))
      selected = selected.union(next).localCheckpoint()
    }
    selected.select($"round", $"vec_id", $"mmr")
  }

  /** L3d: IVF (inverted-file) approximate top-k — the index-backed scale
    * path of [[cosineTopK]]. A k-means coarse quantizer partitions the
    * corpus into `kCentroids` inverted lists; each query probes only the
    * `nProbe` nearest lists and brute-forces within them. At corpus scale
    * the lists are the partitioning/bucketing key, so a probe touches
    * nProbe/kCentroids of the data and the per-query work is a pruned
    * partition scan, not a full pass. Recall < 1 by construction (a true
    * neighbor can live in an unprobed list) — but the approximation is
    * DETERMINISTIC: the quantizer is l14's sig6-grid Lloyd, probe ranking
    * and scan scoring are bit-identical doubles, so the l15 oracle
    * reproduces the same misses and the result hash-checks; ScalaTest
    * additionally measures recall against the exact scan.
    */
  def ivfTopK(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
              kCentroids: Int = 8, nProbe: Int = 3): DataFrame = {
    import s.implicits._
    val (centroids, assigned) =
      graft.algos.KMeans.fitWithCentroids(s, dir, kCentroids)
    // Corpus keyed by inverted list. At 100 TB this relation is written
    // bucketed by `cluster`; here the shuffle on cluster plays that role.
    val lists = emb(s, dir).join(assigned, "vec_id")
      .select($"cluster", $"vec_id", $"v", $"norm")
    val q = emb(s, dir).filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
    // Rank centroids per query (tiny cross product, broadcast both ways).
    val wProbe = Window.partitionBy($"query_id").orderBy($"d2".asc, $"cluster".asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("d2",
        GraftFunctions.arrayDot(s, $"c", $"c") -
          lit(2.0) * GraftFunctions.arrayDot(s, $"qv", $"c"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nProbe)
      .select($"query_id", $"qv", $"qnorm", $"cluster")
    val sims = lists.join(broadcast(probes), Seq("cluster"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        sig6(GraftFunctions.arrayDot(s, $"qv", $"v") / ($"qnorm" * $"norm")).as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id".asc)
    sims.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"query_id", $"vec_id", $"sim")
  }

  /** L3f: hybrid lexical+vector retrieval via reciprocal-rank fusion —
    * the canonical RAG combiner. The lexical leg is the BM25 scored
    * relation (TextStats.bm25Scores, fixed term set); the vector leg is
    * cosine against one query embedding (vec_id 0). Each leg is cut to a
    * `poolK` candidate pool with orderBy+limit (TakeOrdered — the pools,
    * not a global sort, are what a 100 TB deployment computes), ranked
    * within the pool, and fused: rrf = Σ 1/(kRrf + rank), legs missing a
    * doc contribute 0 (full outer join).
    *
    * Determinism across engines: both legs rank 9-sig-rounded scores with
    * id tie-breaks, so the pools and ranks are identical integers; the rrf
    * arithmetic is exact-integer division in double, identical on both
    * sides, rounded once more before the final cut.
    */
  def hybridRrf(s: SparkSession, dir: String, poolK: Int = 100,
                kRrf: Int = 60, k: Int = 20): DataFrame = {
    import s.implicits._
    val lexPool = TextStats.bm25Scores(s, dir,
        Seq("spark", "join", "window"), 1.2, 0.75)
      .orderBy($"score".desc, $"doc_id").limit(poolK)
    val lr = lexPool.select($"doc_id", row_number().over(
      Window.orderBy($"score".desc, $"doc_id")).cast("long").as("lrank"))
    val e = emb(s, dir)
    val q = e.filter($"vec_id" === 0L)
      .select($"v".as("qv"), $"norm".as("qnorm"))
    val vecPool = e.filter($"vec_id" =!= 0L).crossJoin(broadcast(q))
      .select($"vec_id",
        sig6(GraftFunctions.arrayDot(s, $"qv", $"v") / ($"qnorm" * $"norm"))
          .as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(poolK)
    val vr = vecPool.select($"vec_id".as("doc_id"), row_number().over(
      Window.orderBy($"sim".desc, $"vec_id")).cast("long").as("vrank"))
    lr.join(vr, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"lrank", $"vrank",
        sig6(coalesce(lit(1.0) / (lit(kRrf) + $"lrank"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + $"vrank"), lit(0.0))).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id")
      .limit(k)
  }

  /** L3e: per-label mean embedding (class centroids) via the ArraySumAgg
    * elementwise-sum sketch — one aggregation, k×dim doubles shuffled per
    * partition. Oracle-checked elementwise, which puts the custom aggregate
    * itself behind the DuckDB gate. Emitted as scalar (label, i, mean_val)
    * rows (posexplode, 1-based i) rather than one array column — the gate's
    * canonicalizer sorts column values, and list cells aren't sortable.
    */
  def meanEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"label", transform($"embedding", x => x.cast("double")).as("v"))
      .groupBy($"label")
      .agg(GraftFunctions.arraySumAgg(s, $"v").as("sv"), count(lit(1)).as("n"))
      .select($"label", posexplode(transform($"sv", x => sig6(x / $"n"))))
      .select($"label", ($"pos" + 1).cast("long").as("i"), $"col".as("mean_val"))
  }

  /** L3b: embedding near-duplicate pairs (cosine >= threshold), blocked on
    * `label` so the pair space stays ~n²/|labels|. Oracle-checked.
    */
  /** The shared blocked pair scan: self-join `e` on `key` with an id
    * inequality, exact-verify each candidate with the fused cosine, keep
    * pairs at/above `threshold`. Every dedup variant (label blocking,
    * kmeans cells) differs ONLY in how it derives the blocking key.
    */
  private def pairScan(s: SparkSession, e: DataFrame, key: String,
                       threshold: Double): DataFrame = {
    import s.implicits._
    e.as("a").join(e.as("b"),
        col(s"a.$key") === col(s"b.$key") && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        sig6(GraftFunctions.cosineSim(s, $"a.v", $"b.v")).as("sim"))
      .filter($"sim" >= threshold)
  }

  def embedDupPairs(s: SparkSession, dir: String, threshold: Double = 0.45): DataFrame =
    pairScan(s, emb(s, dir), "label", threshold)

  /** L3e: semantic dedup — embedding-cosine near-dup pairs with a k-means
    * coarse quantizer as the blocking key (the IVF idea applied to
    * DEDUPLICATION rather than search). Each vector is assigned to its
    * Lloyd cluster; candidate pairs are generated only WITHIN a cluster and
    * exact-verified with the fused cosine expression. Approximate by
    * construction (a near-dup pair straddling a cell boundary is missed —
    * the same recall trade every IVF/LSH blocker makes), but unlike the
    * hash blockers the cells adapt to the data's density.
    *
    * 100 TB posture: the trained centroids are tiny and broadcast; the
    * corpus shuffles ONCE on `cluster` (at rest: written bucketed by
    * cluster, making re-runs shuffle-free), and the quadratic verify is
    * confined to cells, so k is the knob that caps per-cell pair volume
    * (k ∝ √N holds cell size ~√N). Oracle-exact: the clustering itself is
    * the statically unrolled Lloyd of l14 on the sig6 grid, so DuckDB
    * reproduces the identical blocking, pairs, and rounded sims.
    */
  def semanticDedup(s: SparkSession, dir: String, k: Int = 8, iters: Int = 5,
                    threshold: Double = 0.35): DataFrame = {
    import s.implicits._
    val assigned = graft.algos.KMeans.fit(s, dir, k, iters)
    val e = emb(s, dir).join(assigned, "vec_id")
      .select($"cluster", $"vec_id", $"v")
    pairScan(s, e, "cluster", threshold)
  }

  // Random hyperplane (SRP) LSH: 48 fixed hyperplanes => 48-bit signature,
  // 4 bands of 12 bits. Deterministic seed. Band width sets the candidate
  // volume: 12-bit keys ≈ 4096 buckets/band, so a uniform corpus generates
  // ~4·n²/2/4096 candidate pairs (≈1.2M at n=50k) instead of flooding the
  // verifier; recall stays high only for genuinely near-duplicate vectors
  // (P(bit)=1-θ/π: ~97% at cos 0.99, ~3% at cos 0.45), which is the point
  // of a near-dup scan.
  private[llmops] val Dim = 64
  private[llmops] val Planes = 48
  private[llmops] val BandBits = 12
  private[llmops] val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(Planes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Threshold-adaptive banding: the divisor r of the 48-bit signature
    * whose S-curve midpoint s* = (1/b)^(1/r) = (r/48)^(1/r) sits closest
    * to the SRP per-bit agreement probability p(t) = 1 − acos(t)/π of the
    * requested similarity threshold. Candidate set {4, 6, 8, 12}: 12 is
    * the genuine-near-duplicate end (few candidates, recall ~1 only at
    * cos ≥ 0.9), 4 the high-recall / 12×-band end for low thresholds.
    * t = 0.45 → p ≈ 0.649 → 6 bits (8 bands — l51's measured operating
    * point); t ≥ 0.9 → p ≥ 0.856 → 12 bits (the classic narrow profile).
    * Wider-than-12 bands are deliberately excluded: at 2–3 bands a single
    * unlucky bit flip erases a pair's only collision chances, dropping
    * hi-sim recall below the ≥0.9 DedupSpec pin.
    */
  private[graft] def bandBitsFor(threshold: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    Seq(4, 6, 8, 12).minBy { r =>
      math.abs(math.pow(r.toDouble / Planes, 1.0 / r) - p)
    }
  }

  /** 48-bit SRP signature via the native [[graft.functions.SrpSignature]]
    * expression (one fused loop; the plane matrix rides as a reference
    * object). Registered lazily per session.
    */
  private def srpSig(s: SparkSession, v: Column): Column = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val ident = FunctionIdentifier("graft_srp_sig48")
    val reg = s.sessionState.functionRegistry
    if (!reg.functionExists(ident))
      reg.registerFunction(ident,
        new ExpressionInfo(classOf[graft.functions.SrpSignature].getName, "graft_srp_sig48"),
        es => graft.functions.SrpSignature(es.head, planes))
    call_function("graft_srp_sig48", v)
  }

  /** Per-band min-margin flipped signature (the multi-probe key) via the
    * native [[graft.functions.SrpProbeSignature]]; registered lazily per
    * session like [[srpSig]].
    */
  private def srpProbeSig(s: SparkSession, v: Column, bandBits: Int): Column = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val name = s"graft_srp_probe_sig48_$bandBits"
    val ident = FunctionIdentifier(name)
    val reg = s.sessionState.functionRegistry
    if (!reg.functionExists(ident))
      reg.registerFunction(ident,
        new ExpressionInfo(
          classOf[graft.functions.SrpProbeSignature].getName, name),
        es => graft.functions.SrpProbeSignature(es.head, planes, bandBits))
    call_function(name, v)
  }

  /** L62: query-adaptive MULTI-PROBE LSH (Lv et al. 2007) — the
    * mid-similarity recall step past l08's threshold-adaptive banding
    * (r9 advice item 6). Each vector probes TWO buckets per band: its own
    * sign-bit key and the key with the band's minimum-|margin| bit
    * flipped — the bit a true near-neighbor is most likely to disagree
    * on, because a small margin means the pair straddles that hyperplane.
    * Probing is ONE-SIDED (the lower-id endpoint is the prober), so a
    * Hamming-1 band miss is recovered when the disagreeing plane is the
    * PROBER's min-margin bit — which in practice is both endpoints': a
    * near-dup pair's margin vectors are near-identical, so their argmin
    * planes coincide (measured: both-sided probing bought zero extra
    * recall at 1.33× the candidates — see [[mpCandidates]]).
    * Candidate volume is ≤2× l08's at the same banding BY CONSTRUCTION
    * (2 collision events per band vs 1, where exhaustive 1-flip probing
    * would cost bandBits+1); measured at sf0.1: recall 0.47 (l08) → 0.80
    * at 1.85× candidates — the bench sidecar records all three numbers.
    * Deterministic like l08: margins derive from the
    * same dot products as the sign bits, so the DuckDB oracle reproduces
    * the exact buckets and the result hash-checks.
    */
  /** The multi-probe candidate join — collision rows (vec_a, vec_b, va,
    * vb), one per (band, key) agreement, shared by [[embedDupPairsLshMp]]
    * (which verifies them) and [[lshCandidateCount]] (which only counts).
    *
    * ONE-SIDED probing (the lower id is the prober): per band a pair can
    * collide through exactly two events — sign keys equal, or the
    * prober's adaptive flip matching — so candidate volume is bounded at
    * 2× the single-probe scan's BY CONSTRUCTION. Measured at sf0.1:
    * 1.85× candidates for 0.80 recall vs single-probe's 0.47 (both-sided
    * probing measured 2.47× for the SAME 0.80 recall — the third
    * collision event buys nothing here because near-duplicates' margins
    * are near-identical vectors, so the two endpoints' min-margin flips
    * almost always pick the same plane).
    */
  private def mpCandidates(s: SparkSession, dir: String, bb: Int): DataFrame = {
    import s.implicits._
    require(Planes % bb == 0,
      s"bandBits=$bb must divide the $Planes-bit signature")
    val e = emb(s, dir)
    val sig = e.withColumn("sig", srpSig(s, $"v"))
      .withColumn("psig", srpProbeSig(s, $"v", bb))
    val mask = (1L << bb) - 1
    def keys(c: Column, b: Int) =
      shiftrightunsigned(c, b * bb).bitwiseAND(lit(mask))
    // Probe side: both keys per band. Base side: the sign key only.
    val probe = sig.select($"vec_id", $"v",
        explode(array((0 until Planes / bb).flatMap(b => Seq(
          struct(lit(b).as("band_id"), keys($"sig", b).as("band_key")),
          struct(lit(b).as("band_id"), keys($"psig", b).as("band_key"))
        )): _*)).as("bk"))
      .select($"vec_id", $"v", $"bk.band_id", $"bk.band_key")
    val base = sig.select($"vec_id", $"v",
        explode(array((0 until Planes / bb).map(b =>
          struct(lit(b).as("band_id"), keys($"sig", b).as("band_key"))): _*)).as("bk"))
      .select($"vec_id", $"v", $"bk.band_id", $"bk.band_key")
    probe.as("a").join(base.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.band_key" === $"b.band_key" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.v".as("va"), $"b.v".as("vb"))
  }

  def embedDupPairsLshMp(s: SparkSession, dir: String,
                         threshold: Double = 0.45,
                         bandBits: Int = 0): DataFrame = {
    import s.implicits._
    val bb = if (bandBits > 0) bandBits else bandBitsFor(threshold)
    mpCandidates(s, dir, bb)
      .select($"vec_a", $"vec_b",
        sig6(GraftFunctions.cosineSim(s, $"va", $"vb")).as("sim"))
      .distinct()
      .filter($"sim" >= threshold)
  }

  /** Distinct CANDIDATE pair count of the l08 (single-probe) or l62
    * (multi-probe) scan BEFORE similarity verification — the recall-vs-
    * volume trade's denominator, recorded by the bench sidecar so the
    * "multi-probe buys recall within 2× candidate volume" claim is a
    * measured artifact, not an S-curve estimate. Counts the banded join
    * output directly: no cosine work, and a NaN-sim pair (zero-norm
    * vector) still counts as the candidate it was.
    */
  private[graft] def lshCandidateCount(s: SparkSession, dir: String,
                                       multiProbe: Boolean,
                                       threshold: Double = 0.45): Long = {
    import s.implicits._
    val bb = bandBitsFor(threshold)
    val cand = if (multiProbe) mpCandidates(s, dir, bb)
      else lshCandidates(s, dir, bb)
    cand.select($"vec_a", $"vec_b").distinct().count()
  }

  /** L3c: LSH-bucketed near-dup scan — the 100 TB variant of [[embedDupPairs]].
    * Candidates = pairs agreeing on >=1 band of sign bits; each candidate
    * is exact-verified. Recall < 1 near the threshold by construction, but
    * deterministic: the fixed hyperplanes inline into the l08/l51 oracles
    * as DOUBLE literals and the sign bits reproduce exactly, so DuckDB
    * lands the identical buckets and the result hash-checks; ScalaTest
    * additionally compares against brute force on a planted fixture.
    *
    * `bandBits` is the OPERATING POINT (the S-curve knob): the 48-bit
    * signature splits into 48/bandBits bands, and a pair is a candidate
    * when all bandBits bits of some band agree. 4×12 targets genuine
    * near-duplicates (recall ~1 at cos ≥0.9, ~0 at 0.5 — few candidates);
    * 8×6 is the MID-SIMILARITY point (per-band agreement p^6 instead of
    * p^12, ~8× the bucket collision volume) for duplicates around
    * cos 0.5-0.8, where the narrow-band profile is blind. By DEFAULT the
    * banding now derives from `threshold` via [[bandBitsFor]] — a
    * 0.45-threshold run gets the 8×6-class S-curve (measured recall 0.47
    * at sf0.1 where 4×12's is 0.0 by design, per the bench sidecar), a
    * ≥0.9 run the classic 4×12. Same signatures, same verify — only the
    * banding (candidate-volume vs recall trade) moves, and an explicit
    * bandBits still overrides (l51 pins the fixed 8×6 point).
    */
  def embedDupPairsLsh(s: SparkSession, dir: String, threshold: Double = 0.45,
                       bandBits: Int = 0): DataFrame = {
    import s.implicits._
    val bb = if (bandBits > 0) bandBits else bandBitsFor(threshold)
    lshCandidates(s, dir, bb)
      .select($"vec_a", $"vec_b",
        sig6(GraftFunctions.cosineSim(s, $"va", $"vb")).as("sim"))
      .distinct()
      .filter($"sim" >= threshold)
  }

  /** The single-probe candidate join — collision rows (vec_a, vec_b, va,
    * vb), one per agreeing (band, key); [[embedDupPairsLsh]] verifies
    * them, [[lshCandidateCount]] only counts.
    */
  private def lshCandidates(s: SparkSession, dir: String, bb: Int): DataFrame = {
    import s.implicits._
    require(Planes % bb == 0,
      s"bandBits=$bb must divide the $Planes-bit signature")
    val e = emb(s, dir)
    val sig = e.withColumn("sig", srpSig(s, $"v"))
    val mask = (1L << bb) - 1
    val banded = sig.select($"vec_id", $"v",
        explode(array((0 until Planes / bb).map(b =>
          struct(lit(b).as("band_id"),
            shiftrightunsigned($"sig", b * bb).bitwiseAND(lit(mask)).as("band_key"))): _*)).as("bk"))
      .select($"vec_id", $"v", $"bk.band_id", $"bk.band_key")
    banded.as("a").join(banded.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.band_key" === $"b.band_key" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.v".as("va"), $"b.v".as("vb"))
  }

  /** Cluster-quota (balanced) coreset sampling: k-means blocks, then a
    * fixed per-cluster quota picked by a deterministic md5 draw — the
    * SemDeDup/DoReMi-style "equalize cluster mass" selection that keeps a
    * sample from being dominated by the corpus's densest mode (contrast
    * [[Similarity.kcenterSample]], which optimizes coverage radius).
    *
    * Scale posture: the pick is a per-cluster window (row_number over the
    * cluster partition, never corpus-global), the draw key is md5 of the
    * id (append-stable: new vectors don't reshuffle earlier picks'
    * relative order), and clustering reuses [[graft.algos.KMeans.fit]]'s
    * broadcast-centroid assignment — the corpus shuffles once on cluster.
    */
  /** Embedding-space OUTLIER scoring: squared distance to the assigned
    * k-means centroid, z-scored within the cluster — the prototypicality
    * prune (SemDeDup's dual: l34 drops points too CLOSE together, this
    * flags points too FAR from any mode: mislabeled, garbled, or
    * off-distribution vectors a curation pass should route to review).
    * Emits the flagged tail (z > `zCut`).
    *
    * Scale posture: centroids and the k-row stats relation broadcast; the
    * corpus is scanned twice (distance pass, stats pass) with map-side
    * partial aggregates and never shuffles on anything wider than the
    * k-key cluster column. Every order-dependent float (distance, mean,
    * stddev, z) lands on the shared sig6 grid before any decision.
    */
  def embedOutliers(s: SparkSession, dir: String, k: Int = 8,
                    iters: Int = 5, zCut: Double = 2.0): DataFrame = {
    import s.implicits._
    val (centroids, assigned) =
      graft.algos.KMeans.fitWithCentroids(s, dir, k, iters)
    val pts = emb(s, dir).join(assigned, "vec_id")
      .join(broadcast(centroids), "cluster")
      .withColumn("d2", graft.Canon.sig6(
        GraftFunctions.arrayDot(s, $"v", $"v") +
          GraftFunctions.arrayDot(s, $"c", $"c") -
          lit(2.0) * GraftFunctions.arrayDot(s, $"v", $"c")))
      .select($"cluster", $"vec_id", $"d2")
      .localCheckpoint() // two consumers: the stats pass and the z pass
    val stats = pts.groupBy($"cluster").agg(
      graft.Canon.sig6(avg($"d2")).as("m"),
      graft.Canon.sig6(sqrt(greatest(lit(0.0),
        avg($"d2" * $"d2") - avg($"d2") * avg($"d2")))).as("sd"))
    // Materialize the (small) flagged tail, then free the corpus-sized
    // distance checkpoint — bounded block-manager residency across the
    // gate's pooled dump (the modularity pattern).
    val out = pts.join(broadcast(stats), "cluster")
      .filter($"sd" > 0.0)
      .withColumn("z", graft.Canon.sig6(($"d2" - $"m") / $"sd"))
      .filter($"z" > zCut)
      .select($"cluster", $"vec_id", $"d2", $"z")
      .localCheckpoint()
    graft.engine.Fixpoint.release(pts)
    out
  }

  def clusterQuotaSample(s: SparkSession, dir: String, k: Int = 8,
                         iters: Int = 5, quota: Int = 10): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val assigned = graft.algos.KMeans.fit(s, dir, k, iters)
    val w = Window.partitionBy($"cluster")
      .orderBy($"draw".asc, $"vec_id".asc)
    assigned
      .withColumn("draw",
        md5(concat(lit("cqs:"), $"vec_id".cast("string"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= quota)
      .select($"cluster", $"vec_id", $"rk")
  }
}
