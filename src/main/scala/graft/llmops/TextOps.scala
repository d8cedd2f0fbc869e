package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Shared text primitives for the LLM-data-pipeline operators (SURVEY §2.4 L*).
  *
  * Everything here stays inside whole-stage codegen: tokenization, shingling
  * and hashing are built from `org.apache.spark.sql.functions` higher-order
  * functions (no UDFs), so the hot path is a single generated loop per row.
  */
object TextOps {

  /** Lowercased alphanumeric tokens; empty strings dropped.
    * Mirrors the DuckDB oracle `list_filter(string_split_regex(lower(text),
    * '[^a-z0-9]+'), x -> x <> '')` exactly.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), x => x =!= "")

  /** Word n-gram shingles ("a b c d") over the token array. Guarded so short
    * docs yield an empty array (Spark's `sequence(1, n)` with n<1 would count
    * DOWN, not produce an empty sequence).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** documents with a distinct (doc_id, shingle) relation.
    *
    * The token array is materialized into its own column FIRST: `shingles`
    * references its input inside higher-order-function lambdas, and HOFs
    * neither codegen nor common-subexpression-eliminate across the lambda
    * boundary — feeding `tokens(text)` in directly re-runs the regex
    * tokenization once PER SHINGLE (measured 2-3× on the whole query).
    */
  def docShingles(s: SparkSession, dir: String, n: Int = 4): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(shingles($"ws", n)).as("s"))
      .distinct()
  }

  /** 60-bit base hash of a shingle/token string: the first 15 hex chars of
    * its md5, parsed as an integer. Chosen over `xxhash64` DELIBERATELY:
    * md5 is bit-identical in DuckDB (`md5(s)` yields the same hex string),
    * so every downstream sketch built on these values — the MinHash
    * permutations (integer arithmetic mod 2³¹−1) and the SimHash bit
    * counters — is exactly reproducible in oracle SQL, which is what moves
    * l04/l05 from rows-only into the hash-checked gate. Cost: md5 is a few
    * ns/row slower than xxhash64 — invisible next to the tokenize+shingle
    * work — and 60 bits keep the birthday bound ~10⁻⁷ at 10M shingles.
    */
  private[llmops] def strHash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SQL fragment computing [[strHash60]] in DuckDB over expression `e`. */
  private[llmops] def strHash60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Same relation with shingles pre-hashed to 60-bit ([[strHash60]]) — the
    * join/count path for set-similarity: an 8-byte key shuffles ~3× less
    * than the ~25-char shingle string and compares in one instruction.
    */
  def docShingleHashes(s: SparkSession, dir: String, n: Int = 4): DataFrame =
    shingleHashesOf(Tables.load(s, dir, "documents"), n)

  /** [[docShingleHashes]] over an arbitrary (doc_id, text) frame — the
    * incremental paths shingle a SUBSET (an ingest batch, the candidate
    * corpus docs) through the same code so the hashes cannot drift.
    */
  private[llmops] def shingleHashesOf(d: DataFrame, n: Int = 4): DataFrame = {
    import d.sparkSession.implicits._
    d.select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(shingles($"ws", n)).as("s"))
      .select($"doc_id", strHash60($"s").as("h"))
      .distinct()
  }
}

/** L1 exact + L2 near deduplication over `documents`.
  *
  * - exact: md5-of-text grouping (one shuffle on the 32-char digest, not the
  *   full text — at 100 TB the shuffle key is 32 bytes/row regardless of doc
  *   size, and the group-by is partial-aggregated map-side).
  * - n-gram Jaccard: inverted-index self-join on distinct word-4-gram
  *   shingles. Join explodes only docs sharing a shingle; with 4-gram
  *   shingles the posting lists stay tiny, so the pair space is ~linear in
  *   corpus size rather than O(n²).
  * - MinHash+LSH: 32 permutations banded 8×4; only band-collision candidates
  *   are verified exactly. This is the 100 TB path: signature size is
  *   constant per doc and candidate generation is a hash-shuffle on
  *   (band_id, band_key).
  */
object Dedup {
  import TextOps._

  // LSH banding: 32 permutations, default 8 bands of 4 rows (the signature
  // itself comes from the MinHashSig TypedImperativeAggregate,
  // graft.functions). The band width is threshold-ADAPTIVE by default —
  // see [[rowsFor]]; 4 remains the derived width at the classic 0.5
  // Jaccard threshold.
  private val NumPerm = 32
  private val Bands = 8
  private val Rows = NumPerm / Bands

  /** Threshold-adaptive MinHash banding (the Jaccard twin of
    * Similarity.bandBitsFor): rows-per-band r ∈ {2, 4, 8, 16} whose
    * S-curve midpoint (1/b)^(1/r) = (r/32)^(1/r) sits closest to the
    * requested Jaccard threshold (P(minhash agree) = J exactly, so the
    * midpoint lives directly in Jaccard space). 0.5 → 4 rows (the classic
    * 8×4), 0.85 → 8 rows (16-row bands at 0.95+ for near-exact dups;
    * 2-row bands for broad 0.25-class sweeps).
    */
  private[graft] def rowsFor(threshold: Double): Int =
    Seq(2, 4, 8, 16).minBy { r =>
      math.abs(math.pow(r.toDouble / NumPerm, 1.0 / r) - threshold)
    }

  /** All (a, b) pairs with a < b from a SORTED array — the posting-list /
    * bucket pair expansion used by every near-dup path. Pure higher-order
    * functions, so it stays inside whole-stage codegen.
    */
  private[llmops] def pairExpand(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + lit(2), size(ds)),
        y => struct(x.as("pa"), y.as("pb")))))

  /** Explode a (…, sig) frame into one row per LSH band, carrying every
    * non-sig column through: (…, band_id, band_key). Band keys are the
    * raw `rows`-value signature slices (see [[minhashPairs]] for why raw
    * slices, not hashes) — shared by the full scan and the incremental
    * path so the banding cannot drift between them.
    */
  private def explodeBands(sigDf: DataFrame, rows: Int = Rows): DataFrame = {
    val keep = sigDf.columns.filterNot(_ == "sig").map(col)
    val bk = explode(array((0 until NumPerm / rows).map(b =>
      struct(lit(b).as("band_id"),
        slice(col("sig"), b * rows + 1, rows).as("band_key"))): _*)).as("bk")
    sigDf.select(keep :+ bk: _*)
      .select(keep :+ col("bk.band_id") :+ col("bk.band_key"): _*)
  }

  /** L1a: duplicate groups — digest, member count, canonical survivor. */
  def exactDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .groupBy(md5($"text").as("h"))
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keep_id"))
  }

  /** L1b: the deduplicated corpus — first doc_id per digest survives.
    *
    * Survivors are picked by a (digest, doc_id)-only aggregation — 40-ish
    * bytes per row through the exchange — then semi-joined back to the
    * corpus. The obvious window over `md5(text)` would ship every byte of
    * every document through the shuffle just to pick a survivor; at corpus
    * scale that is the whole 100 TB through one exchange.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val keep = docs
      .select(md5($"text").as("h"), $"doc_id")
      .groupBy($"h")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"lang", $"source")
  }

  /** L39: per-document duplicated-span fraction — the share of a document's
    * distinct word-8-gram shingles that also occur in at least one OTHER
    * document (the RefinedWeb/Gopher-style cross-document duplication
    * signal; a per-doc quality score, where l03/l04 emit pairwise
    * candidates and l26 targets a benchmark set).
    *
    * Scale shape: shingles collapse to their 60-bit strHash60 digest
    * BEFORE the first exchange (the same shared docShingleHashes relation
    * l03/l04 aggregate — an 8-byte long key vs a ~50-byte string; the
    * birthday bound is strHash60's documented ~1e-7 at 10M shingles), the
    * doc-frequency aggregation is map-side combined, and the
    * duplicated-digest set — typically the small boilerplate tail — joins
    * back without a hint so AQE broadcasts it when it is small and
    * hash-shuffles when it is not. No collect_set posting lists, so a
    * pathological million-document boilerplate shingle costs one counter,
    * not one unbounded array.
    */
  def dupSpanFrac(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import s.implicits._
    val sh = TextOps.docShingleHashes(s, dir, n)
      .cache() // feeds both the df aggregation and the per-doc rollup
    val dups = sh.groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2)
      .select($"h", lit(1).as("isdup"))
    sh.join(dups, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"isdup" === 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        graft.Canon.sig6($"n_dup".cast("double") / $"n_shingles"))
  }

  /** L41: pairwise source-overlap matrix — for every pair of corpus
    * sources, the Jaccard similarity of their distinct word-8-gram shingle
    * sets. The corpus-composition analysis run before mixing sources into
    * a training set: a high-overlap pair means one source is (partially) a
    * mirror of the other and their mixture weights double-count it (l24
    * plans rates; this measures whether the sources are actually
    * distinct). Same signal family as l39, aggregated source-level.
    *
    * Scale shape: shingles collapse to distinct (source, strHash60) BEFORE
    * the first exchange — one shuffle of 8-byte digests keyed by hash, the
    * same posting-list pattern as l03 but with posting lists bounded by
    * the SOURCE count (dozens, not documents), so the in-row pair
    * expansion is constant-size and the quadratic blowup l03 guards with
    * `maxDf` cannot occur at all. Per-source totals broadcast back onto
    * the pair counts.
    */
  def sourceOverlap(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import s.implicits._
    val sh = Tables.load(s, dir, "documents")
      .select($"source", TextOps.tokens($"text").as("ws"))
      .select($"source", explode(TextOps.shingles($"ws", n)).as("sg"))
      .select($"source", TextOps.strHash60($"sg").as("h"))
      .distinct()
      .cache() // feeds both per-source totals and the pair counts
    val counts = sh.groupBy($"source").agg(count(lit(1)).as("ns"))
    val inter = sh.groupBy($"h")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .filter(size($"ss") >= 2)
      .select(explode(pairExpand($"ss")).as("p"))
      .groupBy($"p.pa".as("src_a"), $"p.pb".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(counts.as("ca"), $"src_a" === $"ca.source")
      .join(counts.as("cb"), $"src_b" === $"cb.source")
      .select($"src_a", $"src_b", $"ca.ns".as("n_a"), $"cb.ns".as("n_b"),
        $"n_shared",
        graft.Canon.sig6($"n_shared".cast("double") /
          ($"ca.ns" + $"cb.ns" - $"n_shared")).as("jaccard"))
  }

  /** Exact Jaccard similarity for all pairs sharing >=1 shingle, thresholded.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * Inverted-index rendering: ONE aggregation builds the posting list per
    * shingle hash (collect_set dedups (doc, shingle) map-side), pairs come
    * from in-row posting-list expansion — no self-join, so the shingle
    * relation shuffles once instead of three times. `maxDf` is the scale
    * knob: at corpus scale, shingles shared by thousands of documents are
    * non-discriminative and make pair expansion quadratic — real pipelines
    * cap document frequency. Left off (None) for oracle-exact semantics.
    */
  def jaccardPairs(s: SparkSession, dir: String, threshold: Double = 0.5,
                   maxDf: Option[Int] = None): DataFrame = {
    import s.implicits._
    // Cached: both the posting lists and the per-doc counts aggregate this
    // relation; without the cache the tokenize+shingle pipeline runs twice
    // (measured 2×). Footprint is 16 bytes/shingle for the query's
    // lifetime; Bench clears caches between queries.
    val raw = Tables.load(s, dir, "documents")
      .select($"doc_id", tokens($"text").as("ws")) // see docShingles note
      .select($"doc_id", explode(shingles($"ws", 4)).as("s"))
      .select($"doc_id", strHash60($"s").as("h"))
      .cache()
    val posts = raw.groupBy($"h")
      .agg(sort_array(collect_set($"doc_id")).as("ds"))
    val counts = raw.groupBy($"doc_id").agg(count_distinct($"h").as("n"))
    val pairable = maxDf.fold(posts)(c => posts.filter(size($"ds") <= c))
    val inter = pairable.filter(size($"ds") >= 2)
      .select(explode(pairExpand($"ds")).as("p"))
      .groupBy($"p.pa".as("doc_a"), $"p.pb".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(counts.as("cb"), $"doc_b" === $"cb.doc_id")
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"ca.n" + $"cb.n" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  /** MinHash signature per doc via the [[graft.functions.MinHashSig]]
    * TypedImperativeAggregate: one narrow aggregation, constant 256-byte
    * state per document, partial-aggregated map-side.
    */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docShingleHashes(s, dir).groupBy($"doc_id")
      .agg(graft.functions.GraftFunctions.minhashSig(s, $"h").as("sig"))
  }

  /** L2b: MinHash+LSH candidate pairs, exact-verified. Same output contract
    * as [[jaccardPairs]] but only pairs colliding in >=1 of 8 bands are
    * scored, so pair generation is quadratic only within a band bucket —
    * bounded in practice by near-dup cluster size (run exact dedup FIRST:
    * a corpus of thousands of identical docs puts them all in one bucket
    * of every band). Pairs right at the
    * threshold can be missed (1-(1-j^4)^8 recall curve): that is inherent
    * to LSH — but since round 5 the whole pipeline (md5-60 base hash,
    * mod-P permutations, raw-slice band keys) is engine-agnostic integer
    * arithmetic, so the l04 oracle reproduces the SAME approximation in
    * DuckDB and the result hash-checks exactly, recall curve and all. One
    * tokenize+shingle pass feeds BOTH the signatures and the verification
    * (the signature permutes the same [[TextOps.strHash60]] shingle hashes).
    *
    * Banding is threshold-ADAPTIVE by default ([[rowsFor]] — the Jaccard
    * twin of the SRP path's bandBitsFor): 0.5 keeps the classic 8×4, a
    * 0.85 near-exact scan gets 4×8 (fewer, stricter buckets — candidate
    * volume drops ~8× where the wide curve would flood the verifier), an
    * explicit `rows` still overrides.
    */
  def minhashPairs(s: SparkSession, dir: String, threshold: Double = 0.5,
                   maxBucket: Option[Int] = None, rows: Int = 0): DataFrame = {
    import s.implicits._
    val rw = if (rows > 0) rows else rowsFor(threshold)
    require(NumPerm % rw == 0,
      s"rows=$rw must divide the $NumPerm-permutation signature")
    val sh = docShingleHashes(s, dir).cache()
    // ONE aggregation yields both the signature and the per-doc shingle
    // count (sh is distinct per (doc, h), so count(1) = |shingle set|) —
    // a separate counts groupBy would re-shuffle the full shingle relation
    // a second time just to produce a number this pass already knows.
    val sig = sh.groupBy($"doc_id")
      .agg(graft.functions.GraftFunctions.minhashSig(s, $"h").as("sig"),
        count(lit(1)).as("n"))
      .cache()
    // Band key = the raw 4-value signature slice (not a hash of it): the
    // slice groups/joins exactly, which is what lets the DuckDB oracle
    // reproduce the candidate set verbatim; a hashed key would re-introduce
    // an engine-specific function for a 24-byte-per-row saving.
    val banded = explodeBands(sig.select($"doc_id", $"sig"), rw)
    val buckets = banded.groupBy($"band_id", $"band_key")
      .agg(sort_array(collect_set($"doc_id")).as("ds"))
      .filter(size($"ds") >= 2)
    // `maxBucket` is the quadratic-expansion guard (jaccardPairs' maxDf
    // analogue): a band bucket holding thousands of near-identical docs
    // expands O(k²) — at corpus scale cap it and let the exact-dedup pass
    // that SHOULD precede LSH own those clusters. None = expand everything.
    val capped = maxBucket.fold(buckets)(c => buckets.filter(size($"ds") <= c))
    val cand = capped
      .select(explode(pairExpand($"ds")).as("p"))
      .select($"p.pa".as("doc_a"), $"p.pb".as("doc_b"))
      .distinct()
    // Exact verification on the candidate set only (cand is tiny relative to
    // the corpus — AQE broadcasts it, so sh never shuffles here).
    val counts = sig.select($"doc_id", $"n")
    cand.join(sh.as("a"), $"doc_a" === $"a.doc_id")
      .join(sh.as("b"), $"doc_b" === $"b.doc_id" && $"a.h" === $"b.h")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(counts.as("ca"), $"doc_a" === $"ca.doc_id")
      .join(counts.as("cb"), $"doc_b" === $"cb.doc_id")
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"ca.n" + $"cb.n" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  /** L2e: INCREMENTAL near-dedup — dedup a NEW ingest batch against an
    * already-indexed corpus without touching the corpus again. The
    * corpus's LSH index — (doc_id, shingle-set size, band_id, band_key),
    * the per-doc n denormalized onto the 8 band rows so verification
    * needs no second index table — is materialized at rest once (written
    * to scratch parquet inside the query; a real pipeline amortizes that
    * build over every later ingest). Each ingest then (1) shingles and
    * signs ONLY its own documents, (2) joins its band keys against the
    * index, and (3) exact-verifies candidates by re-deriving shingles for
    * just the candidate corpus docs — a semi-join point lookup, not a
    * corpus scan. Batch volume, not corpus volume, drives every shuffle:
    * the continuous-ingest posture that keeps LSH dedup sustainable when
    * the corpus is 100 TB and the nightly ingest is 100 GB.
    *
    * Split: doc_id % 5 == 0 is the incoming batch (~20%), the rest is the
    * indexed corpus. Output (corpus_doc, batch_doc, jaccard ≥ threshold);
    * batch-internal duplicates are deliberately out of scope — a real
    * pipeline runs [[minhashPairs]] WITHIN the batch separately, and after
    * ingest the batch's bands are appended to the index.
    */
  def incrementalMinhash(s: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    // The SAME shingle/signature/band code as the full scan (shared
    // helpers), applied to subsets.
    def bandsOf(sh: DataFrame): DataFrame =
      explodeBands(sh.groupBy($"doc_id")
        .agg(graft.functions.GraftFunctions.minhashSig(s, $"h").as("sig"),
          count(lit(1)).as("n")))
    // One-time index build: the at-rest artifact every later ingest reuses.
    val ixPath = graft.sources.FormatRoundtrip.scratch(dir, "mhix50")
    bandsOf(shingleHashesOf(docs.filter($"doc_id" % 5 =!= 0)))
      .write.mode("overwrite").parquet(ixPath)
    val index = s.read.parquet(ixPath)
    // Ingest-side work: shingles/signature/bands for the batch ONLY.
    val shB = shingleHashesOf(docs.filter($"doc_id" % 5 === 0)).cache()
    val cand = index.as("c").join(bandsOf(shB).as("b"),
        $"c.band_id" === $"b.band_id" && $"c.band_key" === $"b.band_key")
      .select($"c.doc_id".as("corpus_doc"), $"c.n".as("n_c"),
        $"b.doc_id".as("batch_doc"), $"b.n".as("n_b"))
      .distinct()
    // Exact verify: the corpus text is read back only for candidate docs.
    val shC = shingleHashesOf(docs.join(
      cand.select($"corpus_doc".as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    val pairs = cand
      .join(shC.as("a"), $"corpus_doc" === $"a.doc_id")
      .join(shB.as("b"), $"batch_doc" === $"b.doc_id" && $"a.h" === $"b.h")
      .groupBy($"corpus_doc", $"batch_doc", $"n_c", $"n_b")
      .agg(count(lit(1)).as("inter"))
      .select($"corpus_doc", $"batch_doc",
        ($"inter".cast("double") /
          ($"n_c" + $"n_b" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= threshold)
      // Materialize the (small) pair set so the batch-shingle cache can be
      // released HERE — Verify, unlike Bench, never clears caches between
      // queries, and a lazily-returned plan would re-pin shB on every
      // downstream action.
      .localCheckpoint()
    shB.unpersist(blocking = false)
    pairs
  }

  /** Benchmark decontamination — the train/test-overlap scan every LLM
    * pipeline runs before training: corpus documents sharing at least
    * `minShared` word-`n`-gram shingles with ANY benchmark document are
    * flagged (with the strongest-overlap benchmark doc as evidence).
    *
    * The benchmark side is tiny by construction, so its shingle relation
    * broadcasts and the corpus scans once with a map-side hash join — at
    * 100 TB the corpus never shuffles. Here the "benchmark set" is the
    * deterministic doc_id % 10 == 0 slice standing in for an external
    * eval-set table; the operator takes any (doc_id, text) benchmark frame.
    */
  def decontaminate(s: SparkSession, dir: String, n: Int = 8,
                    minShared: Int = 2): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    decontaminateAgainst(s, docs.filter($"doc_id" % 10 =!= 0),
      docs.filter($"doc_id" % 10 === 0), n, minShared)
  }

  /** General form: flag `corpus` docs overlapping `benchmark` docs.
    *
    * The corpus side is deliberately NOT distinct()ed — that would shuffle
    * the whole corpus shingle relation. Repeated shingles ride through the
    * broadcast join and are deduplicated by `count_distinct` in the
    * aggregation, so the only shuffled rows are the MATCHED ones (tiny:
    * bounded by benchmark size × overlap).
    */
  def decontaminateAgainst(s: SparkSession, corpus: DataFrame,
                           benchmark: DataFrame, n: Int,
                           minShared: Int): DataFrame = {
    import s.implicits._
    def sh(df: DataFrame): DataFrame = df
      .select($"doc_id", tokens($"text").as("ws")) // HOF boundary: see docShingles
      .select($"doc_id", explode(shingles($"ws", n)).as("s"))
      .select($"doc_id", strHash60($"s").as("h"))
    sh(corpus).as("c")
      .join(broadcast(sh(benchmark).distinct().as("b")), $"c.h" === $"b.h")
      .groupBy($"c.doc_id".as("doc_id"), $"b.doc_id".as("bench_id"))
      .agg(count_distinct($"c.h").as("shared"))
      // Strongest-overlap benchmark doc per corpus doc; ties → smallest id.
      .groupBy($"doc_id")
      .agg(max(struct($"shared".as("s"), (lit(0L) - $"bench_id").as("nb"))).as("m"))
      .select($"doc_id", $"m.s".as("n_shared"), (lit(0L) - $"m.nb").as("bench_id"))
      .filter($"n_shared" >= minShared)
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s 100 TB first pass:
    * the benchmark's shingle set compresses into one bloom filter
    * (`bloom_filter_agg`), the corpus prunes against it map-side
    * (`might_contain`), and only survivors reach the exact broadcast join.
    * False positives are removed by the exact verification, so the result
    * is IDENTICAL to [[decontaminate]] — which is exactly what the shared
    * oracle asserts. At scale the bloom (1 MB) replaces the full shingle
    * set in the broadcast of the pruning pass.
    */
  def decontaminateBloom(s: SparkSession, dir: String, n: Int = 8,
                         minShared: Int = 2): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    def sh(df: DataFrame): DataFrame = df
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(shingles($"ws", n)).as("s"))
      .select($"doc_id", strHash60($"s").as("h"))
    graft.functions.GraftFunctions.ensureRegistered(s)
    val bench = sh(docs.filter($"doc_id" % 10 === 0)).distinct().cache()
    bench.createOrReplaceTempView("bench_shingles")
    sh(docs.filter($"doc_id" % 10 =!= 0))
      .createOrReplaceTempView("corpus_shingles")
    // might_contain requires the filter as a constant or scalar subquery —
    // the subquery executes once and ships to every task like a broadcast.
    val pruned = s.sql(
      """SELECT doc_id, h FROM corpus_shingles
        |WHERE bloom_contains(
        |  (SELECT bloom_agg(h, 100000L, 800000L) FROM bench_shingles), h)""".stripMargin)
    pruned.as("c")
      .join(broadcast(bench.as("b")), $"c.h" === $"b.h")
      .groupBy($"c.doc_id".as("doc_id"), $"b.doc_id".as("bench_id"))
      .agg(count_distinct($"c.h").as("shared"))
      .groupBy($"doc_id")
      .agg(max(struct($"shared".as("s"), (lit(0L) - $"bench_id").as("nb"))).as("m"))
      .select($"doc_id", $"m.s".as("n_shared"), (lit(0L) - $"m.nb").as("bench_id"))
      .filter($"n_shared" >= minShared)
  }

  /** SimHash near-dup pairs: 64-bit signature via the
    * [[graft.functions.SimHashSig]] TypedImperativeAggregate (64 signed
    * counters as one mergeable blob instead of 64 agg columns), 4×16-bit
    * band blocking, hamming-distance verification via bit_count(xor).
    * Oracle-exact since round 5: the token hashes are [[TextOps.strHash60]]
    * (md5-based) and every downstream step is integer/bit arithmetic DuckDB
    * reproduces verbatim — majority bit votes, 16-bit band keys, xor
    * popcount.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    import s.implicits._
    val toks = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .select($"doc_id", strHash60($"tok").as("h"))
    val sig = toks.groupBy($"doc_id")
      .agg(graft.functions.GraftFunctions.simhashSig(s, $"h").as("sig"))
    val banded = sig.select($"doc_id", $"sig",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            shiftrightunsigned($"sig", b * 16).bitwiseAND(lit(0xFFFFL)).as("band_key"))): _*)).as("bk"))
      .select($"doc_id", $"sig", $"bk.band_id", $"bk.band_key")
    banded.groupBy($"band_id", $"band_key")
      .agg(sort_array(collect_set(struct($"doc_id", $"sig"))).as("ds"))
      .filter(size($"ds") >= 2)
      .select(explode(pairExpand($"ds")).as("p"))
      .select($"p.pa.doc_id".as("doc_a"), $"p.pb.doc_id".as("doc_b"),
        bit_count($"p.pa.sig".bitwiseXOR($"p.pb.sig")).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** L52: cross-document duplicated-span SCRUB — the APPLY twin of l39's
    * measurement (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"-style span removal, approximated at fixed `n`-gram
    * granularity): every token covered by a word-`n`-gram that also occurs
    * in at least one OTHER document is removed, and the surviving tokens
    * are reassembled into the scrubbed text.
    *
    * Scale shape: every shingle-cardinality exchange carries (doc_id,
    * position, 60-bit digest) triples — never text. The duplicated-digest
    * set joins back as a semi-join (AQE broadcasts it when the boilerplate
    * tail is small); covered positions collapse to one small per-doc set;
    * the text itself is touched exactly once, doc-locally, by an indexed
    * HOF filter at the end. When the covered relation outgrows broadcast,
    * the final assembly degrades to ONE hash(doc_id) co-partition of the
    * token arrays — text relocates once at corpus cardinality (bucketed
    * storage at rest makes even that free), never at shingle or candidate
    * cardinality. PlanAuditSpec pins BOTH forms: the broadcast plan
    * ("no exchange carries text") and the past-threshold plan ("text
    * co-partitions ONCE on doc_id"). Reassembly is order-exact because
    * positions, not strings, drive the filter.
    */
  def spanScrub(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import s.implicits._
    val toks = Tables.load(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("ws"))
    // Positioned shingle digests (1-based start positions).
    val pos = toks
      .filter(size($"ws") >= n)
      .select($"doc_id", $"ws",
        explode(sequence(lit(1), size($"ws") - (n - 1))).as("i"))
      .select($"doc_id", $"i",
        TextOps.strHash60(concat_ws(" ", slice($"ws", $"i", lit(n)))).as("h"))
    val dupH = pos.select($"doc_id", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2)
      .select($"h")
    val covered = pos.join(dupH, Seq("h"), "left_semi")
      .select($"doc_id", explode(sequence($"i", $"i" + (n - 1))).as("p"))
      .groupBy($"doc_id")
      .agg(collect_set($"p").as("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"ws").cast("long").as("n_tokens"),
        coalesce(size($"cov"), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", filter($"ws", (_, idx) =>
          !coalesce(array_contains($"cov", idx + 1), lit(false))))
          .as("scrubbed"))
  }

  /** L53: overlap-FRACTION decontamination — the GPT-3-appendix-C-style
    * contamination report l26/l31 (absolute shared-count flags) don't
    * express: per corpus document, the share of its distinct word-`n`-gram
    * shingles that appear anywhere in the benchmark set, flagged at
    * `tau`. A 10k-token page quoting one benchmark item and a 40-token
    * near-copy of it are different problems; the fraction separates them.
    *
    * Scale shape: identical to [[decontaminateAgainst]] — the benchmark
    * shingle set broadcasts (or its l31 bloom stands in front at 100 TB),
    * the corpus digests semi-join map-side, and only matched rows reach
    * the per-doc aggregation. The flag compares a grid-rounded fraction
    * to an exact-decimal threshold, so engines can't disagree.
    */
  def decontaminateOverlap(s: SparkSession, dir: String, n: Int = 4,
                           tau: Double = 0.1): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val sh = TextOps.shingleHashesOf(docs.filter($"doc_id" % 10 =!= 0), n)
      .cache() // feeds the per-doc totals and the matched-shingle counts
    val bench = TextOps.shingleHashesOf(docs.filter($"doc_id" % 10 === 0), n)
      .select($"h").distinct()
    val tot = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    val out = sh.join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .join(tot, Seq("doc_id"))
      .select($"doc_id", $"n_shingles", $"n_shared",
        graft.Canon.sig6($"n_shared".cast("double") / $"n_shingles")
          .as("contam_frac"))
      .withColumn("flagged", $"contam_frac" >= tau)
    // Release the cache-manager entry before returning (KMeans.fitOn's
    // pattern): the built plan still shares one in-memory materialization
    // across its two consumers at execution time, but the entry no longer
    // accumulates in the shared block manager across the gate's pooled
    // 182-query phase.
    sh.unpersist()
    out
  }

  /** L70: DEDUP-QUALITY AUDIT — the one-row scorecard for the MinHash+LSH
    * near-dedup pass: exact-twin pair count ([[jaccardPairs]]), LSH pair
    * count ([[minhashPairs]]), true positives, misses, spurious rows
    * (zero by construction — LSH candidates are exact-verified before the
    * threshold — so a nonzero value is a pipeline bug the hash gate would
    * catch), and recall. Elevates the recall number that previously lived
    * only in bench sidecars into a first-class hash-gated result.
    *
    * Scale caveat (by design): the exact twin is corpus-quadratic in the
    * worst case and exists to AUDIT a banding configuration on a sample —
    * at 100 TB you run l70 on a sampled slice to pick the banding, then
    * run l04 alone at scale. Both inputs hash shingles with the same
    * strHash60, so the exact side and the LSH verification agree on the
    * same Jaccard values.
    */
  def dedupAudit(s: SparkSession, dir: String,
                 threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    val ex = jaccardPairs(s, dir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val fd = minhashPairs(s, dir, threshold)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val tp = ex.intersect(fd).count()
    val nEx = ex.count()
    val nFd = fd.count()
    graft.engine.Fixpoint.release(Seq(ex, fd))
    s.range(1).select(
      lit(nEx).as("n_exact"), lit(nFd).as("n_found"),
      lit(tp).as("n_true_pos"),
      lit(nEx - tp).as("n_missed"), lit(nFd - tp).as("n_spurious"),
      (if (nEx > 0)
        graft.Canon.sig6(lit(tp.toDouble) / lit(nEx.toDouble))
      else lit(0.0)).as("recall"))
  }
}
