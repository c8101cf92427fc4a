package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup is one hash-aggregate (map-side partial agg, one shuffle on
  *    the content hash);
  *  - n-gram Jaccard is the exact-but-quadratic baseline (its candidate join
  *    explodes on common shingles) — MinHash+LSH is the scale path: cost is
  *    one shuffle on (band, key) instead of one on every shared shingle, and
  *    candidate verification touches only bucket-collision pairs;
  *  - SimHash reduces a document to a 32-bit signature, candidate pairs share
  *    a byte-band (hamming ≤ 3 within 4 bands ⇒ at least one band equal by
  *    pigeonhole);
  *  - all hash families are derived from md5 strings so the DuckDB oracle can
  *    reproduce signatures bit-for-bit (no engine-private hash functions).
  */
object Dedup {

  /** See [[Seal.releaseCheckpoint]] (hoisted to the shared utility in
    * round 14 so every operator file applies the same discipline).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    Seal.releaseCheckpoint(df)

  /** Cache-lifecycle seal — see [[Seal]] (round-12 verdict task 4, Dedup
    * was the pilot; round-13 verdict task 2 extended it library-wide).
    */
  private def sealOp(result: DataFrame,
                     cached: Seq[DataFrame],
                     ckpts: Seq[DataFrame] = Nil): DataFrame =
    Seal(result, cached, ckpts)

  /** `n`-token shingles (distinct), space-joined. `slice` is 1-based. */
  def shingles(tokens: Column, n: Int): Column =
    array_distinct(
      when(size(tokens) < n, array(concat_ws(" ", tokens)))
        .otherwise(transform(sequence(lit(0), size(tokens) - n),
                             i => concat_ws(" ", slice(tokens, i + 1, lit(n))))))

  /** Exact dedup: canonical row per identical (whitespace/case-normalized)
    * content — the smallest `idCol` wins. One hash-shuffle; at 100 TB this is
    * the cheapest possible full-corpus dedup.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    df.withColumn("_fp", fp)
      .groupBy(col("_fp").as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
  }

  /** Documents exploded to (id, shingle) pairs — the base relation of the
    * exact Jaccard join.
    */
  private def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // explode_outer: see contaminationStats — avoids the pushed-down generate
    // filter re-evaluating the shingle build twice per row.
    df.select(col(idCol).as("_id"),
              explode_outer(shingles(TextAnalysis.tokens(col(textCol)), n)).as("_sh"))

  /** Exact n-gram Jaccard near-dup pairs: emit (doc_a, doc_b, overlap, union)
    * for every pair with `jaccard >= tau` (integer cross-multiplication, no
    * float compare). Quadratic in shingle co-occurrence — the correctness
    * baseline that MinHash approximates.
    */
  def ngramJaccardPairs(df: DataFrame,
                        idCol: String,
                        textCol: String,
                        n: Int = 3,
                        tauNum: Int = 1,
                        tauDen: Int = 2): DataFrame = {
    // File-backed corpora explode the SHARED cached shingle relation
    // (r16 — one tokenize→shingle materialization per corpus per JVM,
    // reused by the whole LSH family); the explode of the read-back
    // `_shs` is row-identical to the inline shingle build. In-memory
    // inputs keep the inline cached explode exactly as before.
    val eligible = lshCacheEligible(df)
    val ds =
      if (eligible)
        shingleRelationOf(df, idCol, textCol, n)
          .select(col("_id"), explode_outer(col("_shs")).as("_sh"))
      else docShingles(df, idCol, textCol, n).cache()
    val sizes = ds.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val pairs = ds.as("a")
      .join(ds.as("b"), col("a._sh") === col("b._sh") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .agg(count(lit(1)).as("overlap"))
    sealOp(pairs
      .join(sizes.withColumnRenamed("_id", "doc_a").withColumnRenamed("_n", "_na"), "doc_a")
      .join(sizes.withColumnRenamed("_id", "doc_b").withColumnRenamed("_n", "_nb"), "doc_b")
      .withColumn("union_size", col("_na") + col("_nb") - col("overlap"))
      // jaccard >= tauNum/tauDen  <=>  tauDen*overlap >= tauNum*union
      .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
      .select("doc_a", "doc_b", "overlap", "union_size"),
      cached = if (eligible) Nil else Seq(ds))
  }

  /** MinHash signature component `i` of a shingle set: the lexicographic
    * minimum of `md5(i || '-' || shingle)` — a valid min-wise hash family
    * reproducible in any engine with md5.
    */
  def minhash(shingles: Column, i: Int): Column =
    array_min(transform(shingles, s => md5(concat(lit(s"$i-"), s))))

  // Per-JVM disk cache for the minhash family's shared relations (r16 —
  // the co-purchase ResultCache discipline applied to the text-dedup
  // tier): the (_id, _shs) shingle relation per (corpus, n), and the
  // verified banded-candidate relation per (corpus, n, bands, rows).
  // ~20 gate queries derive from the SAME documents pipeline; each
  // previously re-ran tokenize→shingle→12×md5→band-join→verify per query.
  private[graft] lazy val lshCacheDir: String =
    graft.plans.ResultCache.jvmDir("graft_lsh_cache")

  /** Cache key of the (id, text) corpus projection — the CONTENT
    * fingerprint (plan + input-file stats token), with repartition nodes
    * stripped so `Tables.spread`-wrapped and plain reads of one corpus
    * share an entry. Every derivation keyed on it is set-defined
    * (joins/aggregates), so row placement is irrelevant to the result.
    */
  private def corpusKey(df: DataFrame, idCol: String, textCol: String): String =
    graft.plans.ResultCache.contentFingerprint(
      df.select(col(idCol), col(textCol)))

  /** Whether plan-keyed caching is SOUND for this input: file-backed
    * relations carry a content token (names + lengths + mtimes); a
    * LocalRelation's canonical string TRUNCATES its data rows, so two
    * different in-memory fixtures could collide on one key — those (test
    * corpora) always take the inline path.
    */
  private def lshCacheEligible(df: DataFrame): Boolean =
    df.inputFiles.nonEmpty

  /** The (_id, _shs) shingle relation of (df, idCol, textCol, n): through
    * the per-JVM result cache when the input is file-backed (materialized
    * once per corpus per JVM; every later consumer — any banding, the
    * exact-Jaccard join, the signature store publish, the incremental
    * delta — reads the parquet back instead of re-running
    * tokenize→shingle), inline otherwise. Both variants are
    * row-identical: the stored relation IS the projection below, and
    * parquet round-trips string arrays exactly. The inline variant is not
    * persisted here — callers keep their own cache lifecycle exactly as
    * before.
    */
  private[graft] def shingleRelationOf(df: DataFrame,
                                       idCol: String,
                                       textCol: String,
                                       n: Int): DataFrame = {
    val inline = df
      .select(col(idCol).as("_id"),
              shingles(TextAnalysis.tokens(col(textCol)), n).as("_shs"))
    if (!lshCacheEligible(df)) inline
    else {
      val key = corpusKey(df, idCol, textCol) + s"|shs|n=$n"
      graft.plans.ResultCache.throughKeyed(df.sparkSession, lshCacheDir, key) {
        // spread BEFORE the narrow tokenize/shingle/md5 work: the gate
        // corpora are single-row-group parquet (one scan partition), and
        // the round-robin is content-neutral — the key above is computed
        // from the unspread projection either way.
        val src = graft.sources.Tables.spread(df.sparkSession, df)
        (src.select(col(idCol).as("_id"),
                    shingles(TextAnalysis.tokens(col(textCol)), n).as("_shs")),
         Nil, Nil)
      }
    }
  }

  /** [[candidatesWithOverlapC]] through the per-JVM cache: the verified
    * (doc_a, doc_b, overlap, union_size) candidate relation BEFORE the τ
    * filter — the sharable tail of the whole LSH family (τ varies per
    * query; the candidate relation does not). Keyed on the corpus content
    * plus every pipeline parameter; computed (once per corpus × banding)
    * from the SHARED shingle relation, so a JVM pays tokenize→shingle
    * once per corpus and band-join+verify once per banding, whatever the
    * number of consuming queries. In-memory inputs take the inline path
    * unchanged.
    */
  private def candidatesCachedC(df: DataFrame,
                                idCol: String,
                                textCol: String,
                                n: Int,
                                bands: Int,
                                rows: Int): (DataFrame, Seq[DataFrame], Seq[DataFrame]) =
    if (!lshCacheEligible(df))
      candidatesWithOverlapC(df, idCol, textCol, n, bands, rows)
    else {
      val key = corpusKey(df, idCol, textCol) +
        s"|cand|n=$n|b=$bands|r=$rows|mb=$DefaultMaxBucket|pf=$PairBudgetFactor"
      val out = graft.plans.ResultCache.throughKeyed(
        df.sparkSession, lshCacheDir, key) {
        val withSh = shingleRelationOf(df, idCol, textCol, n)
        val ndocs = broadcast(df.agg(count(lit(1)).as("_ndocs")))
        verifiedPairsFor(withSh, ndocs, bands, rows)
      }
      (out, Nil, Nil)
    }

  /** MinHash+LSH near-dup pairs: `bands` bands × `rows` hashes, candidates =
    * pairs sharing any band key, verified with the exact Jaccard filter.
    * Output schema matches `ngramJaccardPairs` (verified pairs only), so at
    * equal thresholds LSH output ⊆ exact output, with high recall.
    *
    * One shuffle on the band key (vs per-shingle for the exact join), then a
    * semi-join back to shingle sets for verification of the (few) candidates.
    */
  /** The candidate stage of [[minhashLshPairs]] alone — banded pairs
    * BEFORE exact verification. Exposed so banding precision
    * (|verified| / |candidates|) can be measured when tuning (bands, rows):
    * low precision means the verify stage is doing the work the signature
    * should have.
    *
    * Cache lifecycle (round-12 verdict task 4): the result is returned as
    * an eager local checkpoint and every internal cache (shingle and
    * band-size relations) is released before returning — repeated
    * invocations in one session leave executor storage flat. The one
    * persisted RDD left is the result's own checkpoint, released by the
    * caller when done (the bench harness does so between queries).
    */
  def minhashLshCandidates(df: DataFrame,
                           idCol: String,
                           textCol: String,
                           n: Int = 3,
                           bands: Int = 4,
                           rows: Int = 3): DataFrame = {
    // cached: the bandKeys self-join below reads BOTH sides from this
    // relation — uncached, the tokenize→shingle→md5 pipeline (the
    // expensive part) would run twice (round-11 adjudication of the
    // q424/q38 bench delta; [[minhashLshPairs]] already caches its copy).
    // The shingle stage reads the SHARED per-JVM materialization for
    // file-backed corpora (r16) — the banding and everything below are
    // unchanged either way.
    val withSh = shingleRelationOf(df, idCol, textCol, n)
      .withColumn("_bands", // banded inside the cache — see incrementalPairs
                  graft.functions.MinHashBands(col("_shs"), bands, rows))
      .cache()
    val bandKeys0 = withSh
      .select(col("_id"), posexplode(col("_bands")).as(Seq("_pos", "_band")))
      .select(col("_id"),
              concat(col("_pos").cast("string"), lit(":"), col("_band")).as("_bk"))
    // same fat-bucket + pair-budget guards (and the same spanning-path
    // degrade) as [[candidatesWithOverlap]] — the two candidate builders
    // must define one relation. _ndocs counts the RAW id column
    // (column-pruned scan, no shingle work) — counting the shingle
    // relation forced a full pipeline materialization just to learn the
    // row count (same count: select preserves cardinality).
    // cached: the self-join reads this twice and the over-budget path
    // branch a third time — one window pass instead of three. The lag
    // (which needs a per-bucket SORT) runs only over the over-budget
    // residue, which is empty on healthy corpora.
    val bandSz = bandKeys0
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bk"))))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("_ndocs"))))
      .withColumn("_ok", col("_bsz") <= DefaultMaxBucket &&
        col("_bsz") * col("_bsz") <= lit(PairBudgetFactor.toLong) * col("_ndocs"))
      .select(col("_id"), col("_bk"), col("_ok"))
      .cache()
    val bandKeys = bandSz.filter(col("_ok")).select(col("_id"), col("_bk"))
    val pathPairs = bandSz
      .filter(!col("_ok"))
      .withColumn("_prev", lag(col("_id"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_bk")).orderBy(col("_id"))))
      .filter(col("_prev").isNotNull)
      .select(col("_prev").as("doc_a"), col("_id").as("doc_b"))
    sealOp(bandKeys.as("a")
      .join(bandKeys.as("b"),
            col("a._bk") === col("b._bk") && col("a._id") < col("b._id"))
      .select(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .unionByName(pathPairs)
      .distinct(),
      cached = Seq(withSh, bandSz))
  }

  def minhashLshPairs(df: DataFrame,
                      idCol: String,
                      textCol: String,
                      n: Int = 3,
                      bands: Int = 4,
                      rows: Int = 3,
                      tauNum: Int = 1,
                      tauDen: Int = 2): DataFrame = {
    val (cand, caches, cks) = candidatesCachedC(df, idCol, textCol, n, bands, rows)
    sealOp(cand
      // jaccard >= tauNum/tauDen  <=>  tauDen*overlap >= tauNum*union
      .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
      .select("doc_a", "doc_b", "overlap", "union_size"),
      cached = caches, ckpts = cks)
  }

  /** The 12-component banding grid: every (bands, rows) factorization of a
    * 12-minhash signature the planner considers. Fixed component budget =
    * fixed signature cost; only the band/row split (and hence the S-curve
    * shape and the band-key shuffle width) varies.
    */
  val BandingGrid: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2))

  /** Exact-ppm LSH collision probability P = 1 − (1 − s^r)^b with
    * truncating integer DIV after every multiply — bit-identical to the
    * q749 planner curve in both engines (the pinned arithmetic; float
    * powers never survive a cross-engine hash compare).
    */
  def collisionPpm(sPpm: Long, bands: Int, rows: Int): Long = {
    require(sPpm >= 0 && sPpm <= 1000000L && bands >= 1 && rows >= 1)
    def ipow(e: Long, k: Int): Long =
      (2 to k).foldLeft(e)((acc, _) => acc * e / 1000000L)
    1000000L - ipow(1000000L - ipow(sPpm, rows), bands)
  }

  /** LSH band-parameter autotuner (round-11 verdict task 3): pick the
    * (bands, rows) point on [[BandingGrid]] whose collision probability at
    * the target Jaccard `targetJaccardPpm` clears `recallFloorPpm`,
    * preferring the FEWEST bands (each band is one more band-key row per
    * doc through the candidate shuffle — at fixed signature budget, bands
    * is the shuffle-width dial) and breaking ties toward higher recall.
    * Returns (bands, rows, collisionPpm at the target). Throws with the
    * best-available curve point when no grid config reaches the floor —
    * the caller must lower the floor or raise the component budget, and
    * the error says by how much.
    *
    * Motivation (Stress13): the default (4, 3) banding's intrinsic miss at
    * τ = 0.5 is ~180k ppm of true pairs per band draw; (6, 2) trades ~1.5×
    * band-shuffle volume for 822k-ppm collision at the same τ. This
    * operator makes that dial explicit instead of folklore.
    */
  def planBands(targetJaccardPpm: Long,
                recallFloorPpm: Long): (Int, Int, Long) = {
    val curve = BandingGrid.map { case (b, r) =>
      (b, r, collisionPpm(targetJaccardPpm, b, r))
    }
    val ok = curve.filter(_._3 >= recallFloorPpm)
    require(ok.nonEmpty,
      s"no 12-component banding reaches ${recallFloorPpm} ppm collision at " +
        s"s=${targetJaccardPpm} ppm; best is ${curve.maxBy(_._3)} — lower " +
        "the floor or widen the signature")
    ok.minBy { case (b, _, coll) => (b, -coll) }
  }

  /** Empirical recall-delta disclosure between two bandings of the SAME
    * 12-component signature: one row per config with its analytic
    * collision probability at `targetJaccardPpm`, whether [[planBands]]
    * would pick it at `recallFloorPpm`, its verified-pair count at
    * τ = tauNum/tauDen, and how many of its pairs the OTHER banding
    * misses (`n_extra` — the measured recall gap, both directions). The
    * shingle pipeline (the expensive stage) runs ONCE; both band
    * derivations and verifications read the shared cache. Pair sets are
    * localCheckpointed before the count/anti-join aggregates so neither
    * pipeline re-executes.
    */
  def bandingRecallCompare(df: DataFrame,
                           idCol: String,
                           textCol: String,
                           n: Int = 3,
                           bandsA: Int = 4, rowsA: Int = 3,
                           bandsB: Int = 6, rowsB: Int = 2,
                           targetJaccardPpm: Long = 500000L,
                           recallFloorPpm: Long = 800000L,
                           tauNum: Int = 1,
                           tauDen: Int = 2): DataFrame = {
    // Both bandings route through the SHARED candidate cache (r16): the
    // shingle pipeline is one per-JVM materialization and each banding's
    // verified-candidate relation is materialized once — typically
    // already present from the single-banding gate queries. In-memory
    // inputs take the inline builder per banding (tiny fixtures).
    val innerCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val innerCkpts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pairsAt(b: Int, r: Int): DataFrame = {
      val (pairs, caches, cks) = candidatesCachedC(df, idCol, textCol, n, b, r)
      innerCaches ++= caches
      innerCkpts ++= cks
      pairs
        .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
        .select("doc_a", "doc_b")
        .localCheckpoint(false)
    }
    val pa = pairsAt(bandsA, rowsA)
    val pb = pairsAt(bandsB, rowsB)
    val planned = planBands(targetJaccardPpm, recallFloorPpm)
    def statsOf(b: Int, r: Int, self: DataFrame, other: DataFrame): DataFrame =
      self.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(
          self.join(other, Seq("doc_a", "doc_b"), "left_anti")
            .agg(count(lit(1)).as("n_extra"))))
        .select(lit(s"b${b}r$r").as("config"),
                lit(b.toLong).as("bands"), lit(r.toLong).as("rpb"),
                lit(collisionPpm(targetJaccardPpm, b, r)).as("collision_ppm"),
                lit(if ((planned._1, planned._2) == ((b, r))) 1L else 0L)
                  .as("is_planned"),
                col("n_pairs"), col("n_extra"))
    sealOp(statsOf(bandsA, rowsA, pa, pb)
      .unionByName(statsOf(bandsB, rowsB, pb, pa)),
      cached = innerCaches.toSeq, ckpts = Seq(pa, pb) ++ innerCkpts)
  }

  /** Banding-efficiency report for (bands, rows) tuning: ONE signature
    * pipeline pass yields both the candidate count and the τ-verified count
    * (precision = verified/candidates — low precision means the verify stage
    * is doing work the signature should have). One row:
    * (n_candidates, n_verified, precision_ppm).
    */
  def minhashLshBandingStats(df: DataFrame,
                             idCol: String,
                             textCol: String,
                             n: Int = 3,
                             bands: Int = 4,
                             rows: Int = 3,
                             tauNum: Int = 1,
                             tauDen: Int = 2): DataFrame = {
    val (cand, caches, cks) = candidatesCachedC(df, idCol, textCol, n, bands, rows)
    sealOp(cand
      .agg(count(lit(1)).as("n_candidates"),
           sum(when(col("overlap") * tauDen >= col("union_size") * tauNum,
                    lit(1L)).otherwise(lit(0L))).as("n_verified"))
      .withColumn("precision_ppm",
                  expr("n_verified * 1000000 DIV n_candidates")),
      cached = caches, ckpts = cks)
  }

  /** Shared tail of [[minhashLshPairs]] / [[minhashLshBandingStats]]: every
    * banded candidate pair with its exact (overlap, union_size), BEFORE the
    * τ filter — signatures and shingle arrays are computed exactly once.
    */
  /** Fat-bucket guard threshold shared by the LSH candidate builders AND
    * the DuckDB oracle CTE (`SparkEntry.MinhashPairsCtesNoToks`): both
    * engines must define the SAME candidate relation, so the oracle SQL
    * interpolates this constant rather than restating it.
    */
  val DefaultMaxBucket: Int = 1 << 16

  /** Corpus-RELATIVE candidate-pair budget (Stress12 decade-up finding,
    * round 10): the absolute `DefaultMaxBucket` ceiling is not enough at
    * 10M+ docs — a 5%-boilerplate corpus grows a ~47k-doc band bucket
    * that slips UNDER 65536 yet emits ~1.1e9 candidate pairs (observed:
    * 80 GB of shuffle spill, job death). A bucket of size s costs s²/2
    * pairs, so the sane invariant is pairs-per-bucket ∝ corpus size:
    * buckets with s² > factor·n_docs DEGRADE TO A SPANNING PATH
    * (consecutive-id pairs, s−1 of them — round 11; previously dropped
    * outright) alongside the absolute ceiling. factor = 8 ⇒ per-bucket
    * pair cost ≤ 4·n (linear), and the threshold (√(8n): 63 @ 500 docs,
    * 200 @ 5k, 8.9k @ 10M) sits orders of magnitude above every real
    * near-dup cluster in the gate corpora (measured max bucket: 4) while
    * killing the boilerplate bomb at every decade — and the path keeps a
    * LEGITIMATE giant cluster connected, so downstream union-find yields
    * the same clusters the unbudgeted pipeline would. Mirrored verbatim
    * in the oracle CTEs — both engines define one relation.
    */
  val PairBudgetFactor: Int = 8

  /** LAZY variant kept for direct aggregate consumers (gate queries that
    * roll the candidate relation up immediately, and Stress13's
    * budget-disabled measurement, whose unbudgeted candidate volume must
    * never be materialized wholesale). Leaves its internal caches
    * persisted — such callers release persisted RDDs between invocations
    * (the bench harness does). Library users should prefer the sealed
    * public operators.
    */
  private[graft] def candidatesWithOverlap(df: DataFrame,
                                    idCol: String,
                                    textCol: String,
                                    n: Int,
                                    bands: Int,
                                    rows: Int,
                                    maxBucket: Int = DefaultMaxBucket,
                                    // measurement hook (Stress13 recall
                                    // table): a large factor (1L << 32 —
                                    // NOT Long.MaxValue, the product with
                                    // _ndocs must not overflow) disables
                                    // the corpus-relative pair budget;
                                    // every gate query uses the default.
                                    pairBudgetFactor: Long = PairBudgetFactor.toLong): DataFrame =
    candidatesWithOverlapC(df, idCol, textCol, n, bands, rows, maxBucket,
                           pairBudgetFactor)._1

  /** [[candidatesWithOverlap]] at the DEFAULT guards through the shared
    * per-JVM cache — for direct aggregate consumers (q774's τ sweep) that
    * previously paid the full pipeline per query. Same lazy contract as
    * [[candidatesWithOverlap]] on the in-memory path; file-backed inputs
    * return a parquet-backed relation with nothing left persisted.
    */
  private[graft] def candidatesWithOverlapCached(df: DataFrame,
                                                 idCol: String,
                                                 textCol: String,
                                                 n: Int,
                                                 bands: Int,
                                                 rows: Int): DataFrame =
    candidatesCachedC(df, idCol, textCol, n, bands, rows)._1

  /** [[candidatesWithOverlap]] plus the internal cached relations it
    * created, so sealed public operators ([[minhashLshPairs]],
    * [[minhashLshBandingStats]]) can release them after materializing.
    */
  private def candidatesWithOverlapC(df: DataFrame,
                                     idCol: String,
                                     textCol: String,
                                     n: Int,
                                     bands: Int,
                                     rows: Int,
                                     maxBucket: Int = DefaultMaxBucket,
                                     pairBudgetFactor: Long = PairBudgetFactor.toLong): (DataFrame, Seq[DataFrame], Seq[DataFrame]) = {
    // Materialize the shingle array ONCE as a column: the bands*rows minhash
    // expressions and the verification explode all read the attribute instead
    // of re-deriving tokens->shingles per expression (12x fewer md5-array
    // builds per row); cached because signature and verify sides both scan it.
    val withSh = df
      .select(col(idCol).as("_id"),
              shingles(TextAnalysis.tokens(col(textCol)), n).as("_shs"))
      .cache()
    val ndocs = broadcast(df.agg(count(lit(1)).as("_ndocs")))
    val (pairs, caches, cks) =
      verifiedPairsFor(withSh, ndocs, bands, rows, maxBucket, pairBudgetFactor)
    (pairs, withSh +: caches, cks)
  }

  /** The banded-candidate + exact-verify tail over an ALREADY-MATERIALIZED
    * (_id, _shs) shingle relation — shared by [[candidatesWithOverlap]] and
    * [[bandingRecallCompare]] so multi-banding comparisons pay the shingle
    * pipeline (the expensive part) exactly once. `ndocsDf` is the
    * broadcastable one-row corpus count for the pair budget.
    */
  private def verifiedPairsFor(withSh: DataFrame,
                               ndocsDf: DataFrame,
                               bands: Int,
                               rows: Int,
                               maxBucket: Int = DefaultMaxBucket,
                               pairBudgetFactor: Long = PairBudgetFactor.toLong): (DataFrame, Seq[DataFrame], Seq[DataFrame]) = {
    // all band keys in one native pass over the shingle array (string-equal
    // to the per-band md5(concat_ws("|", minhash...)) composition).
    // MATERIALIZED before the explode (r14 Stress17): a Generate whose
    // input is the live interpreted md5 chain re-drives it per row at
    // ~15× the one-pass cost; the (id, bands) relation is small (4 hex
    // strings per doc — the shared shingle cache can't hold per-banding
    // columns because bandingRecallCompare reuses it across bandings).
    // MEMORY_AND_DISK_SER (measured: DISK_ONLY round-tripping cost q762
    // +3 s at sf0.1; serialized-in-memory keeps the barrier cheap while a
    // 10M-doc corpus spills instead of OOMing); released by the sealing
    // caller via the caches list.
    val sig = withSh.select(
      col("_id"),
      graft.functions.MinHashBands(col("_shs"), bands, rows).as("_bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bandKeys0 = sig
      .select(col("_id"), posexplode(col("_bands")).as(Seq("_pos", "_band")))
      .select(col("_id"),
              concat(col("_pos").cast("string"), lit(":"), col("_band")).as("_bk"))
    // Fat-bucket guard (Stress11 decade-up finding): a band bucket of size
    // s emits s²/2 candidate pairs, so ONE bucket of boilerplate-identical
    // docs (100k docs agreeing on a band) costs 5e9 pairs and kills the
    // job quadratically. Buckets above `maxBucket` are dropped BEFORE the
    // self-join: docs that agree on a whole minhash band at that
    // multiplicity are exact/near-identical en masse — the contract is
    // that identical-content dedup (`Dedup.exact`, fingerprints) runs
    // first, and genuinely-near-dup pairs keep their other bands-1
    // chances to collide. The size rollup rides the same _bk shuffle the
    // join needs anyway.
    // _ndocs over the RAW id column (round-11 q424/q38 adjudication): the
    // count subquery broadcasts before the main job, and counting the
    // cached shingle relation made the driver BLOCK on materializing the
    // whole tokenize→shingle→md5 cache just to learn the corpus size; a
    // pruned count over the input reads no text at all.
    //
    // Over-threshold buckets DEGRADE TO A SPANNING PATH instead of being
    // dropped (round-11): a legitimate giant near-dup cluster (> √(8n)
    // members agreeing on a band) would otherwise lose the band entirely
    // and depend on its bands−1 other draws. Consecutive-id pairing
    // (lag over the SAME _bk window the size rollup rides — one exchange,
    // one sort) keeps every over-budget bucket CONNECTED at s−1 pairs, so
    // downstream union-find yields the identical clusters while the
    // quadratic s²/2 blowup (the Stress12 bomb) stays impossible; the
    // path pairs still face exact-Jaccard verification, so boilerplate
    // collisions die at the τ filter, not in a shuffle spill.
    // cached: the self-join reads this twice and the over-budget path
    // branch a third time — one window pass instead of three; the lag's
    // per-bucket SORT runs only over the over-budget residue (empty on
    // healthy corpora).
    val bandSz = bandKeys0
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bk"))))
      .crossJoin(ndocsDf)
      .withColumn("_ok", col("_bsz") <= maxBucket &&
        col("_bsz") * col("_bsz") <= lit(pairBudgetFactor) * col("_ndocs"))
      .select(col("_id"), col("_bk"), col("_ok"))
      .cache()
    val bandKeys = bandSz.filter(col("_ok")).select(col("_id"), col("_bk"))
    val pathPairs = bandSz
      .filter(!col("_ok"))
      .withColumn("_prev", lag(col("_id"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_bk")).orderBy(col("_id"))))
      .filter(col("_prev").isNotNull)
      .select(col("_prev").as("doc_a"), col("_id").as("doc_b"))
    val candidates = bandKeys.as("a")
      .join(bandKeys.as("b"), col("a._bk") === col("b._bk") && col("a._id") < col("b._id"))
      .select(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .unionByName(pathPairs)
      .distinct()

    // verify candidates with exact Jaccard: attach each side's (distinct)
    // shingle ARRAY and intersect per pair — O(|a|+|b|) hash-set work per
    // candidate with no row explosion. The previous shingle-equality
    // join exploded |candidates| x |shingles| rows through two joins and a
    // re-aggregate; on the near-dup-heavy corpus that intermediate dominated
    // the whole operator (q18 4.2 s -> see PERF). Same overlap/union
    // numbers: the arrays are already distinct.
    val arrs = withSh.select(col("_id"), col("_shs"),
                             size(col("_shs")).cast("long").as("_n"))
    (candidates
      .join(arrs.select(col("_id").as("doc_a"), col("_shs").as("_sa"),
                        col("_n").as("_na")), "doc_a")
      .join(arrs.select(col("_id").as("doc_b"), col("_shs").as("_sb"),
                        col("_n").as("_nb")), "doc_b")
      .withColumn("overlap",
                  size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("union_size", col("_na") + col("_nb") - col("overlap"))
      .select("doc_a", "doc_b", "overlap", "union_size"),
     Seq(bandSz, sig), Seq.empty)
  }

  /** Incremental (delta-vs-corpus) MinHash-LSH near-dup join: banded
    * candidates restricted to NEW × OLD pairs, then exact-Jaccard
    * verification — the ingest-time dedup shape at 100 TB: a daily delta
    * dedups against the standing corpus WITHOUT ever re-pairing the
    * corpus with itself (the self-join builders' cost is corpus²-shaped
    * per band bucket; this one is delta·corpus-shaped, and the standing
    * corpus's own signatures are a materialized table in a real
    * deployment). Same guard discipline as [[candidatesWithOverlap]]:
    * per-band-side fat-bucket ceilings plus the corpus-relative pair
    * budget (bo·bn ≤ factor·n_total); an over-budget bucket DEGRADES to
    * linking each new doc to the bucket's MINIMUM old id (s_new pairs) —
    * every delta doc stays connected to the corpus for survivorship
    * while the bucket bomb stays impossible. Candidate and verify joins
    * are equi-joins on band key / doc id.
    *
    * Cache lifecycle: the shingle relations of BOTH sides are `.cache()`d
    * (each feeds its band-key derivation AND the verify join) and the
    * band-size rollup is localCheckpointed — all RELEASED before
    * returning: the result comes back as an eager local checkpoint
    * (sealOp), so repeated invocations leave executor storage flat and
    * the caller owns exactly one checkpoint RDD.
    *
    * Output: (new_id, old_id, overlap, union_size) for verified pairs
    * with jaccard ≥ tauNum/tauDen.
    */
  def minhashLshPairsAgainst(corpus: DataFrame,
                             delta: DataFrame,
                             idCol: String,
                             textCol: String,
                             n: Int = 3,
                             bands: Int = 4,
                             rows: Int = 3,
                             tauNum: Int = 1,
                             tauDen: Int = 2): DataFrame = {
    def withShOf(df: DataFrame) = shingleRelationOf(df, idCol, textCol, n)
      .withColumn("_bands", // banded inside the cache — see incrementalPairs
                  graft.functions.MinHashBands(col("_shs"), bands, rows))
      .cache()
    def bandKeysOf(withSh: DataFrame) = withSh
      .select(col("_id"), posexplode(col("_bands")).as(Seq("_pos", "_band")))
      .select(col("_id"),
              concat(col("_pos").cast("string"), lit(":"), col("_band"))
                .as("_bk"))
    val shOld = withShOf(corpus)
    val shNew = withShOf(delta)
    val bo = bandKeysOf(shOld)
    val bn = bandKeysOf(shNew)
    // total corpus size off the RAW id columns (column-pruned scans)
    val ndocs = broadcast(
      corpus.select(col(idCol)).unionAll(delta.select(col(idCol)))
        .agg(count(lit(1)).as("_ndocs")))
    val sz = bo.groupBy(col("_bk"))
      .agg(count(lit(1)).as("_bo"), min(col("_id")).as("_omin"))
      .join(bn.groupBy(col("_bk")).agg(count(lit(1)).as("_bn")), Seq("_bk"))
      .crossJoin(ndocs)
      .withColumn("_ok",
        col("_bo") <= DefaultMaxBucket && col("_bn") <= DefaultMaxBucket &&
          col("_bo") * col("_bn") <=
            lit(PairBudgetFactor.toLong) * col("_ndocs"))
      .select(col("_bk"), col("_omin"), col("_ok"))
      .localCheckpoint() // band-key-sized; read by both candidate arms
    val candOk = bn
      .join(sz.filter(col("_ok")).select(col("_bk")), Seq("_bk"))
      .join(bo.withColumnRenamed("_id", "_old"), Seq("_bk"))
      .select(col("_id").as("new_id"), col("_old").as("old_id"))
    val candDeg = bn
      .join(sz.filter(!col("_ok")).select(col("_bk"), col("_omin")),
            Seq("_bk"))
      .select(col("_id").as("new_id"), col("_omin").as("old_id"))
    val cand = candOk.unionByName(candDeg).distinct()
    sealOp(cand
      .join(shNew.select(col("_id").as("new_id"), col("_shs").as("_sa"),
                         size(col("_shs")).cast("long").as("_na")), "new_id")
      .join(shOld.select(col("_id").as("old_id"), col("_shs").as("_sb"),
                         size(col("_shs")).cast("long").as("_nb")), "old_id")
      .withColumn("overlap",
                  size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("union_size", col("_na") + col("_nb") - col("overlap"))
      .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
      .select("new_id", "old_id", "overlap", "union_size"),
      cached = Seq(shOld, shNew), ckpts = Seq(sz))
  }

  /** Number of `_sig_bucket` partitions in a persisted signature table —
    * the dial between listing cost per delta run (≤ this many directory
    * probes) and pruning granularity. Shared with the gate spec.
    */
  val DefaultSigBuckets: Int = 64

  /** Version-dir marker recording the bucket count a signature table was
    * published with (`_SIG_NUMBUCKETS_<n>`). [[incrementalPairs]] reads
    * the STORED value instead of trusting its parameter (ADVICE r12): a
    * caller probing with a mismatched modulus would name `_sig_bucket`
    * dirs that don't exist and silently miss duplicate pairs.
    */
  private[graft] val SigNumBucketsPrefix = "_SIG_NUMBUCKETS_"

  /** A signature-store root under `java.io.tmpdir` that is PRIVATE to
    * (this user × this corpus directory) — `graft_<tag>_sig_<hash>`.
    * A fixed shared name (ADVICE r13) let two concurrent harness runs
    * interleave publish/vacuum on one root (one run's vacuum deleting the
    * version the other was mid-reading, or `latestVersion` resolving to
    * the other run's different-SF corpus), and a pre-existing dir owned
    * by another user broke the publish outright. Keying the name by
    * corpus dir + user keeps [[graft.VersionedTable]]'s documented
    * single-writer assumption honest for the gate queries without a lock
    * file: different SFs and different users never share a root, and
    * same-corpus re-runs still reuse (and vacuum) one bounded store.
    */
  def sigRoot(tag: String, dataDir: String): String = {
    val key = dataDir + "|" + System.getProperty("user.name", "")
    // stable 32-bit FNV-1a, hex — deterministic across JVMs (String.hashCode
    // is too, but FNV keeps the name well-distributed for short paths)
    var h = 0x811c9dc5
    key.foreach { c => h ^= c.toInt; h *= 0x01000193 }
    new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"),
      f"graft_${tag}_sig_${h & 0xffffffffL}%08x").getAbsolutePath
  }

  /** Max distinct delta band keys pushed into the stored-corpus parquet
    * scan as an equality-OR filter ([[incrementalPairs]]). The cap is
    * deliberately SMALL: Stress16 measured a 200-term Or chain as pure
    * per-row cost (3× slower at 1M), and past the cap the collision
    * semi-join (always on) already bounds the post-scan work.
    *
    * What the pushed filter buys — MEASURED, r14 Stress16 point mode at
    * 10M docs with per-config `bytesRead`: the point-probe wall time
    * drops ~40% warm (1.95 s vs 3.3 s), but the BYTES READ are
    * byte-identical across sorted/unsorted × cap32/cap0 (3,040 MB — the
    * full touched buckets, every config). The win is ROW-dropping at the
    * scan operator (fewer rows decoded into the downstream pipeline),
    * NOT row-group skipping: the r13 claim that a `sortByBandKey` layout
    * would let min/max stats skip bytes on cold object-store reads is
    * REFUTED at this store shape — the measured byte ratio is 1.0, so
    * the sorted layout buys nothing the unsorted one doesn't. The sort
    * remains available but carries no measured read-side benefit; its
    * publish cost (~5% at 10M) is the only difference.
    */
  private[graft] val SigPushdownKeyCap = 32

  /** Max distinct COLLIDING old ids pushed into the split-layout shingle
    * side-table scan as an `_id IN (…)` filter (r16 — r15 verdict
    * task 3, the [[SigPushdownKeyCap]] pattern on the `_doc_bucket`
    * read). What it buys is ROW-dropping at the scan — non-colliding
    * docs' fat arrays never enter the verify join's build/probe — NOT
    * byte skipping: the r16 Stress16 point-mode measurement read
    * byte-identical volumes with the filter on/off (ratio exactly 1.0,
    * matching the r14 band-key finding), and an `_id`-sorted layout that
    * might have enabled page skipping measured +15% publish for no read
    * win and was reverted. A bulk delta past the cap keeps the plain
    * bucket-pruned read — a thousands-term IN is per-row cost (the r14
    * Or-chain measurement).
    */
  private[graft] val SigShinglePushdownIdCap = 32

  /** Max distinct delta band keys the [[incrementalPairs]] collision
    * semi-join will BROADCAST (round-14 verdict task 1). Below the cap —
    * every incremental regime this store is built for (10k-doc deltas
    * carry ~40k keys) — the explicit broadcast is exactly right: one
    * hash-relation ships once, the probe rides the pruned scan, no
    * shuffle. But `broadcast()` is a hint Spark honors regardless of
    * `autoBroadcastJoinThreshold`, and the operator's contract is
    * "delta", not "small": a bulk delta (a day's crawl at 100 TB) carries
    * millions of distinct keys — hundreds of MB shipped to every executor
    * and pinned on the driver, an OOM with no graceful degrade. Past the
    * cap the join falls back to a plain shuffle `left_semi` — one extra
    * exchange on `_bk`, still O(colliding rows) downstream, and
    * pair-identical (spec-pinned across the gate). 1M string keys ≈
    * 20-30 MB broadcast — comfortably inside executor/driver budgets
    * while leaving the whole measured regime on the fast path. The count
    * is free: `deltaKeys` is already materialized (localCheckpoint) for
    * the pushdown sample, so counting it scans checkpoint blocks, not the
    * delta pipeline.
    */
  private[graft] val SigBroadcastKeyCap = 1000000L

  /** Persist the corpus MinHash signature STATE as a [[graft.VersionedTable]]
    * (round-11 verdict task 4): the real ingest shape stores the standing
    * corpus's signatures once and each delta run reads only the stored
    * buckets it collides with, instead of recomputing the full corpus
    * signature pipeline per run (what q739 honestly pays to stay
    * self-contained).
    *
    * Layout (split, r15 — r14 verdict task 2; chosen ADAPTIVELY: corpora
    * under [[SigSplitMinDocs]] keep the one-table fat layout, whose
    * publish measured cheaper below the crossover): TWO paired tables
    * under one root. The BAND INDEX is one thin row per (doc × band) —
    * (_bk band key, _id, _ndocs corpus size, _sig_bucket =
    * pmod(hash(_bk), numBuckets)) — published partitioned on
    * `_sig_bucket`, so a delta's band keys name the partitions to read
    * and EVERYTHING else is never listed. The fat `_shs` shingle arrays
    * live ONCE per doc in a side table (`<root>/_shingles`, partitioned
    * on `_doc_bucket = pmod(hash(_id), numBuckets)`), read at verify
    * time only for the buckets named by colliding candidate ids — the
    * r14 layout rode the arrays on every band row (bands× storage AND
    * publish I/O), which the r14 Stress16/17 measurements found to be
    * the dominant cost of both the 10M publish and diverse-delta scans.
    * `_ndocs` is a constant column (RLE-compresses to nothing) so the
    * pair budget knows the corpus size without a full scan.
    *
    * Round-13 layout refinements: (a) optional within-bucket `_bk` sort
    * (`sortByBandKey`) so parquet row-group min/max stats answer the
    * delta probe's pushed point filters — see the parameter note for the
    * regime where it pays (Stress16 lever b); (b) the bucket count is
    * recorded as a pre-commit version marker ([[SigNumBucketsPrefix]])
    * and the read side uses the STORED value — a republish may therefore
    * change `numBuckets` freely; (c) each republish vacuums superseded
    * versions (keeping `vacuumKeep`) so a periodically-refreshed
    * signature store does not grow one full corpus copy per publish.
    *
    * Returns the published version number.
    */
  def signatureTable(spark: org.apache.spark.sql.SparkSession,
                     df: DataFrame,
                     idCol: String,
                     textCol: String,
                     root: String,
                     n: Int = 3,
                     bands: Int = 4,
                     rows: Int = 3,
                     numBuckets: Int = DefaultSigBuckets,
                     vacuumKeep: Int = 2,
                     // Stress16 lever-b dial, DEMOTED by measurement
                     // (r14 point mode, per-config bytesRead at 10M):
                     // sorted and unsorted layouts read byte-identical
                     // volumes under the pushed point filter (3,040 MB,
                     // ratio exactly 1.0) — row-group min/max stats skip
                     // nothing at this store shape, so the r13 cold-read
                     // hypothesis is refuted, not just unmeasurable. The
                     // pushed filter's real ~40% wall win is row-dropping
                     // at the scan, which the unsorted layout gets
                     // equally. OFF by default; the sort buys only a
                     // cosmetically clustered file at ~5% publish cost.
                     sortByBandKey: Boolean = false,
                     // layout-crossover dial ([[SigSplitMinDocs]]); the
                     // gate spec forces the split with 0
                     splitMinDocs: Long = SigSplitMinDocs): Long = {
    // SPLIT LAYOUT (r15, r14 verdict task 2): the r14 store rode the fat
    // `_shs` shingle array on EVERY band row, so the published table and
    // its publish I/O were ~bands× (4×) the shingle volume — measured as
    // the dominant term of the 10M publish (75.3 s) and of every diverse
    // delta's scan. Now the shingles live ONCE in a doc-bucketed side
    // table (`<root>/_shingles`, partitioned on
    // `_doc_bucket = pmod(hash(_id), numBuckets)`) and the band index
    // keeps only thin rows (_id, _bk, _ndocs, _sig_bucket); the delta
    // probe reads shingles only for the doc buckets its COLLIDING
    // candidates name.
    //
    // The shingle store doubles as the Generate barrier (r14 Stress17
    // finding): posexplode whose generator input is the live md5-banding
    // chain re-drives the interpreted higher-order pipeline through the
    // Generate stage at ~15× the one-pass cost, and ONLY a
    // storage-backed materialization removes the penalty (an exchange
    // measured no better; localCheckpoint/DISK_ONLY persist both OOMed
    // the 8 GB JVM at 10M docs). The r14 temp-parquet spill wrote the
    // banded relation once and THREW IT AWAY after the publish — now the
    // same write IS the committed shingle table, so the publish writes
    // (shingles + bands) once plus a thin index instead of once plus 4×.
    //
    // Pairing is atomic at the BAND INDEX commit: the index version
    // carries a pre-commit `_SIG_SHV_<v>` marker naming the exact
    // shingle-table version it was built from, and readers open that
    // version, never "latest" — so a crash between the two publishes
    // leaves only an orphan shingle version that the next republish
    // vacuums.
    // Exact doc count up front (one column-pruned scan — the text chain
    // is NOT evaluated for a count over the id projection): it picks the
    // layout, sizes the shingle-store buckets, and replaces the old
    // broadcast `_ndocs` subquery as a literal.
    val ndocs = df.select(col(idCol)).count()
    val shRoot = sigShingleRoot(root)
    // Shingle stage from the SHARED per-JVM materialization for
    // file-backed corpora (r16): the publish reads the parquet back and
    // pays only the banding + store write.
    val banded = shingleRelationOf(df, idCol, textCol, n)
      .withColumn("_bands",
                  graft.functions.MinHashBands(col("_shs"), bands, rows))
    val v = if (ndocs >= splitMinDocs) {
      // SPLIT path: shingle store doubles as the Generate barrier.
      // Doc-bucket count is scale-derived (≥ SigDocsPerBucket docs per
      // bucket, capped at numBuckets) so a mid-size corpus doesn't pay
      // 64 directory commits for kilobyte files.
      val shb = {
        val byDocs = math.max(ndocs / SigDocsPerBucket, 1L)
        math.min(byDocs, numBuckets.toLong).toInt
      }
      val stored0 = banded
        .withColumn("_n", size(col("_shs")).cast("long"))
        .withColumn("_doc_bucket", pmod(hash(col("_id")), lit(shb)))
      // NO within-bucket _id sort: measured (r16 Stress19 A/B, 10M docs,
      // two samples each way) the sort cost +15% publish consistently
      // while the probe side showed NO byte or wall win over the unsorted
      // layout (point-probe bytesRead ratio exactly 1.0, diverse-probe
      // walls overlapping within the box's noise band) — the same
      // demotion the r14 measurement gave the band-index `sortByBandKey`.
      val shv = graft.VersionedTable.publishPartitioned(
        spark, stored0, shRoot, "_doc_bucket", sortCol = None, markers = Nil)
      val stored = graft.VersionedTable.readVersion(spark, shRoot, shv)
      val rowsDf = stored
        .select(col("_id"),
                posexplode(col("_bands")).as(Seq("_pos", "_band")))
        .select(col("_id"),
                concat(col("_pos").cast("string"), lit(":"), col("_band"))
                  .as("_bk"))
        .withColumn("_ndocs", lit(ndocs))
        .withColumn("_sig_bucket", pmod(hash(col("_bk")), lit(numBuckets)))
      graft.VersionedTable.publishPartitioned(
        spark, rowsDf, root, "_sig_bucket",
        sortCol = if (sortByBandKey) Some("_bk") else None,
        markers = Seq(s"$SigNumBucketsPrefix$numBuckets",
                      s"$SigShinglesVersionPrefix$shv",
                      s"$SigShingleBucketsPrefix$shb"))
    } else {
      // FAT path (small corpus): the split's two commit+vacuum rounds and
      // doubled directory count cost ~1 s fixed, while the bands×
      // shingle-write it saves is only ~ndocs·KBs here — measured at the
      // sf0.1 gate (40k docs): split publish 5.5 s vs 4.3 s fat, probe
      // 3.7 vs 4.1. Below [[SigSplitMinDocs]] the one-table r14 layout
      // (shingles riding every band row) stays the better trade; the
      // temp-parquet spill remains its Generate barrier.
      val buildTmp = s"$root/_sig_build_tmp"
      banded.write.mode("overwrite").parquet(buildTmp)
      try {
        val sig = spark.read.schema(banded.schema).parquet(buildTmp)
        val rowsDf = sig
          .select(col("_id"), col("_shs"),
                  posexplode(col("_bands")).as(Seq("_pos", "_band")))
          .select(col("_id"), col("_shs"),
                  concat(col("_pos").cast("string"), lit(":"), col("_band"))
                    .as("_bk"))
          .withColumn("_n", size(col("_shs")).cast("long"))
          .withColumn("_ndocs", lit(ndocs))
          .withColumn("_sig_bucket", pmod(hash(col("_bk")), lit(numBuckets)))
        graft.VersionedTable.publishPartitioned(
          spark, rowsDf, root, "_sig_bucket",
          sortCol = if (sortByBandKey) Some("_bk") else None,
          markers = Seq(s"$SigNumBucketsPrefix$numBuckets"))
      } finally {
        val p = new org.apache.hadoop.fs.Path(buildTmp)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
    }
    graft.VersionedTable.vacuum(spark, root, keep = vacuumKeep)
    // keep one EXTRA shingle version: a crash between the two publishes
    // leaves an orphan shingle version, and a later successful republish
    // must not let the orphan push a still-paired predecessor out of the
    // newest-`keep` window. (A fat republish leaves the shingle root
    // untouched; its stale versions are bounded by this same keep.)
    graft.VersionedTable.vacuum(spark, shRoot, keep = vacuumKeep + 1)
    v
  }

  /** Docs threshold above which [[signatureTable]] publishes the SPLIT
    * layout. Measured crossover (Stress18, sf0.1 box): the split's fixed
    * machinery — a second commit + vacuum round and a second directory
    * tree — costs ~1.2 s, while its saving is (bands−1)× the corpus
    * shingle volume plus thin-index probe scans; at 40k docs
    * (~50 MB shingles) the saving is under the overhead, at 1M+ docs
    * (GBs) it dominates — the r14 Stress16 10M publish spent most of its
    * 75.3 s writing the 4× duplicated arrays. 100k docs sits past the
    * measured break-even with margin.
    */
  private[graft] val SigSplitMinDocs = 100000L

  /** The shingle side-table root of a signature store (split layout). */
  private[graft] def sigShingleRoot(root: String): String =
    s"$root/_shingles"

  /** Version-dir marker pairing a band-index version with the exact
    * shingle-table version it was built from (`_SIG_SHV_<v>`) — the
    * split layout's atomicity anchor: readers resolve the band index
    * first and open precisely the named shingle version.
    */
  private[graft] val SigShinglesVersionPrefix = "_SIG_SHV_"

  /** The shingle-table version paired with the latest committed band
    * index, when the store uses the split layout (pre-split and fat
    * small-corpus stores — shingles riding every band row — return None
    * and readers fall back to the in-row arrays).
    */
  private[graft] def storedSigShinglesVersion(
      spark: org.apache.spark.sql.SparkSession, root: String): Option[Long] =
    graft.VersionedTable.latestMarkers(spark, root, SigShinglesVersionPrefix)
      .flatMap(_.stripPrefix(SigShinglesVersionPrefix).toLongOption)
      .headOption

  /** Marker recording the shingle side-table's `_doc_bucket` modulus
    * (`_SIG_SHB_<n>` — scale-derived at publish, so the read side MUST
    * use the stored value: probing with a mismatched modulus would name
    * `_doc_bucket` dirs that don't exist and silently miss shingles, the
    * same failure mode the `_SIG_NUMBUCKETS_` marker closed in r12).
    */
  private[graft] val SigShingleBucketsPrefix = "_SIG_SHB_"

  private[graft] def storedSigShingleBuckets(
      spark: org.apache.spark.sql.SparkSession, root: String): Option[Int] =
    graft.VersionedTable.latestMarkers(spark, root, SigShingleBucketsPrefix)
      .flatMap(_.stripPrefix(SigShingleBucketsPrefix).toIntOption)
      .headOption

  /** Bucket-count guidance for [[signatureTable]], encoding the measured
    * Stress16 trade-off so callers stop rediscovering it (round-13
    * verdict task 6):
    *
    *  - more buckets = finer delta pruning. Homogeneous deltas (one
    *    domain's re-crawl, the point-probe regime) touch few band keys,
    *    so the read fraction ≈ touched/numBuckets keeps improving —
    *    measured @10M docs: 64 → 512 buckets cut the homogeneous-delta
    *    run 13.1 → 6.7 s;
    *  - DIVERSE deltas touch every bucket whatever the count, so extra
    *    buckets only add per-directory open/list overhead (mildly WORSE
    *    at 512 than 64 @10M) and multiply the store's file count
    *    (64 → 512 files — the object-store listing bill at 100 TB);
    *  - small corpora gain nothing from pruning granularity (a gate-
    *    scale probe reads the whole store in one task either way) while
    *    every extra bucket is another directory to create, list, and
    *    vacuum per republish — so the floor targets ≥
    *    [[SigDocsPerBucket]] docs per bucket. (r13's "80% commit
    *    machinery" split was re-measured in r14 and reattributed — see
    *    the Generate-barrier note at [[signatureTable]] — but the
    *    file-count argument stands on its own.)
    *
    * Result is a power of two in [1, cap]: cap 512 when deltas are
    * expected homogeneous, 64 when diverse. Pass the corpus size you
    * already know (an exact count is NOT worth an extra scan — any
    * order-of-magnitude estimate lands on the same power of two).
    */
  def planBuckets(corpusDocs: Long, diverseDeltas: Boolean = false): Int = {
    require(corpusDocs >= 0)
    val cap = if (diverseDeltas) 64L else 512L
    val byDocs = math.max(corpusDocs / SigDocsPerBucket, 1L)
    val raw = math.min(byDocs, cap)
    var p = 1L
    while (p * 2 <= raw) p *= 2
    p.toInt
  }

  /** [[planBuckets]]'s docs-per-bucket floor: below this, per-bucket
    * directory + commit overhead dominates any pruning win (Stress16
    * file-count table; q793's publish split).
    */
  private[graft] val SigDocsPerBucket = 2000L

  /** The bucket count recorded with the latest committed signature-table
    * version, when the marker is present (tables published before the
    * marker existed return None and the caller's parameter applies).
    */
  private[graft] def storedSigBuckets(spark: org.apache.spark.sql.SparkSession,
                                      root: String): Option[Int] =
    graft.VersionedTable.latestMarkers(spark, root, SigNumBucketsPrefix)
      .flatMap(_.stripPrefix(SigNumBucketsPrefix).toIntOption)
      .headOption

  /** Incremental near-dup pairs of `delta` against a persisted
    * [[signatureTable]]: same candidate relation, guards, spanning-degrade,
    * and verification as [[minhashLshPairsAgainst]] — the gate asserts the
    * outputs are row-identical — but the corpus side comes from STORED
    * signatures, bucket-pruned: the delta's band keys name the touched
    * `_sig_bucket` partitions and only those directories are ever listed
    * or read.
    *
    * Honest cost model (Stress15 measured): the read covers
    * min(|delta distinct band keys|, numBuckets) of the numBuckets
    * partitions, so the pruning pays exactly when the delta's band-key
    * DIVERSITY is below the bucket count — a small or homogeneous delta
    * (one domain's re-crawl, boilerplate-heavy batches, the spec's
    * single-doc case) reads a corpus-size-independent sliver. A DIVERSE
    * delta (10k unrelated docs ≈ 40k distinct keys) touches every bucket
    * and the scan degrades to the full BAND INDEX — which the split
    * layout (r15) keeps THIN: the fat shingle arrays are no longer on
    * the band rows, so even the degraded scan reads ~1/bands of the r14
    * volume, plus shingles for exactly the colliding candidates'
    * doc buckets. Still cheaper than the [[minhashLshPairsAgainst]]
    * recompute (the corpus tokenize→shingle→md5 pipeline is amortized
    * into the one-off publish), but O(corpus) in the index-scan term.
    * Size `numBuckets` ≳ the expected per-delta distinct-band-key count
    * to keep the read fraction ≈ touched/numBuckets; a hash-keyed point-
    * lookup index (not a parquet layout) is what true O(delta) retrieval
    * would take. The one driver-side step is the touched-bucket distinct
    * (≤ numBuckets ints).
    *
    * Cache lifecycle: the delta shingle relation is cached (band keys +
    * verify both read it) and released before returning — the result is
    * an eager local checkpoint (sealOp), the caller's one RDD to own.
    */
  /** The `_sig_bucket` partitions a delta's band keys touch — the driver-
    * side pruning list (≤ numBuckets ints) [[incrementalPairs]] hands to
    * [[graft.VersionedTable.readLatestPartitions]]. Exposed for the gate
    * spec, which asserts the pruned listing covers ONLY these directories.
    */
  private[graft] def touchedSigBucketsFor(delta: DataFrame,
                                          idCol: String,
                                          textCol: String,
                                          n: Int = 3,
                                          bands: Int = 4,
                                          rows: Int = 3,
                                          numBuckets: Int = DefaultSigBuckets): Seq[Int] =
    delta
      .select(shingles(TextAnalysis.tokens(col(textCol)), n).as("_shs"))
      .select(graft.functions.MinHashBands(col("_shs"), bands, rows)
                .as("_bands"))
      .select(posexplode(col("_bands")).as(Seq("_pos", "_band")))
      .select(pmod(hash(concat(col("_pos").cast("string"), lit(":"),
                               col("_band"))), lit(numBuckets)).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  def incrementalPairs(spark: org.apache.spark.sql.SparkSession,
                       delta: DataFrame,
                       sigRoot: String,
                       idCol: String,
                       textCol: String,
                       n: Int = 3,
                       bands: Int = 4,
                       rows: Int = 3,
                       tauNum: Int = 1,
                       tauDen: Int = 2,
                       numBuckets: Int = DefaultSigBuckets,
                       // Stress16 measurement dial: 0 disables the pushed
                       // band-key filter entirely.
                       pushdownKeyCap: Int = SigPushdownKeyCap,
                       // Collision semi-join build-side gate dial
                       // ([[SigBroadcastKeyCap]]); 0 forces the shuffle
                       // path (the gate spec's lever).
                       broadcastKeyCap: Long = SigBroadcastKeyCap): DataFrame = {
    // STORED bucket count wins over the parameter (ADVICE r12): probing
    // with a mismatched modulus would name _sig_bucket dirs that don't
    // exist and readLatestPartitions would silently skip them — missing
    // duplicate pairs with no error. The parameter survives only as the
    // fallback for legacy tables published before the marker existed.
    val nb = storedSigBuckets(spark, sigRoot).getOrElse(numBuckets)
    // _bands lives INSIDE the cache (r14 Stress17): the band explode below
    // then generates from a materialized column instead of re-driving the
    // 12-md5 chain through the Generate stage per row
    val shNew = shingleRelationOf(delta, idCol, textCol, n)
      .withColumn("_bands",
                  graft.functions.MinHashBands(col("_shs"), bands, rows))
      .cache()
    val bn = shNew
      .select(col("_id"), posexplode(col("_bands")).as(Seq("_pos", "_band")))
      .select(col("_id"),
              concat(col("_pos").cast("string"), lit(":"), col("_band"))
                .as("_bk"))
      .localCheckpoint(false)
    val touched = bn
      .select(pmod(hash(col("_bk")), lit(nb)).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val corpus0 = graft.VersionedTable
      .readLatestPartitions(spark, sigRoot, "_sig_bucket", touched)
    // Point-probe band-key pushdown: ≤ [[SigPushdownKeyCap]] distinct delta
    // band keys ride into the parquet scan as an equality-OR filter. What
    // that buys is ROW-dropping at the scan operator (~40% wall warm at
    // 10M, fewer rows decoded into the downstream pipeline) — NOT byte
    // skipping: the r14 bytesRead measurement found byte-identical volumes
    // (ratio exactly 1.0) across sorted/unsorted layouts × filter on/off,
    // so row-group min/max stats prune nothing at this store shape and the
    // `sortByBandKey` layout is demoted (see [[SigPushdownKeyCap]] /
    // [[signatureTable]]'s parameter note — do not re-chase the skip
    // hypothesis). Past the cap the filter is dropped: a 200-term Or chain
    // measured as pure per-row cost, and the collision semi-join below
    // already bounds post-scan work. take(cap+1) bounds the driver-side
    // key collection.
    // checkpointed: read THREE times (key-cap sample, broadcast build,
    // and the sample path's filter literals) — the distinct is one
    // delta-sized shuffle, paid once
    val deltaKeys = bn.select(col("_bk")).distinct().localCheckpoint()
    val keySample =
      if (pushdownKeyCap > 0) deltaKeys.take(pushdownKeyCap + 1)
      else Array.empty[org.apache.spark.sql.Row]
    val filteredCorpus =
      if (keySample.nonEmpty && keySample.length <= pushdownKeyCap)
        corpus0.filter(keySample.map(r => col("_bk") === lit(r.getString(0)))
          .reduce(_ || _))
      else corpus0
    // Collision pre-filter: a semi-join on the delta's band keys drops
    // every stored row that collides with nothing BEFORE the guard
    // aggregate and candidate join shuffle on _bk (every downstream
    // relation inner-joins to delta keys anyway, so this is pure pruning —
    // it turns the post-scan cost from O(touched-bucket rows) into
    // O(colliding rows) even when the pushed filter is dropped). The
    // build side is COUNT-GATED ([[SigBroadcastKeyCap]], r14 verdict
    // task 1): an incremental delta broadcasts, a bulk delta degrades to
    // a shuffle left_semi instead of an unbounded broadcast hint.
    val deltaKeyCount = deltaKeys.count()
    val corpus = filteredCorpus.join(
      if (deltaKeyCount <= broadcastKeyCap) broadcast(deltaKeys) else deltaKeys,
      Seq("_bk"), "left_semi")
    // Guard relation, mirroring minhashLshPairsAgainst: per colliding band
    // key, old-side count + min id and new-side count; budget against the
    // TOTAL corpus (stored `_ndocs` constant + delta count — no corpus
    // scan). Both aggregates ride the _bk shuffle the candidate join needs.
    val ndTotal = broadcast(
      corpus.agg(coalesce(max(col("_ndocs")), lit(0L)).as("_no"))
        .crossJoin(delta.select(col(idCol)).agg(count(lit(1)).as("_nn")))
        .select((col("_no") + col("_nn")).as("_ndocs")))
    val sz = corpus.groupBy(col("_bk"))
      .agg(count(lit(1)).as("_bo"), min(col("_id")).as("_omin"))
      .join(bn.groupBy(col("_bk")).agg(count(lit(1)).as("_bn")), Seq("_bk"))
      .crossJoin(ndTotal)
      .withColumn("_ok",
        col("_bo") <= DefaultMaxBucket && col("_bn") <= DefaultMaxBucket &&
          col("_bo") * col("_bn") <=
            lit(PairBudgetFactor.toLong) * col("_ndocs"))
      .select(col("_bk"), col("_omin"), col("_ok"))
      .localCheckpoint() // band-key-sized; read by both candidate arms
    val candOk = bn
      .join(sz.filter(col("_ok")).select(col("_bk")), Seq("_bk"))
      .join(corpus.select(col("_bk"), col("_id").as("_old")), Seq("_bk"))
      .select(col("_id").as("new_id"), col("_old").as("old_id"))
    val candDeg = bn
      .join(sz.filter(!col("_ok")).select(col("_bk"), col("_omin")),
            Seq("_bk"))
      .select(col("_id").as("new_id"), col("_omin").as("old_id"))
    // checkpointed: read twice — once to name the colliding docs' shingle
    // buckets (driver list ≤ numBuckets ints), once as the verify probe
    val cand = candOk.unionByName(candDeg).distinct().localCheckpoint(false)
    // Old shingles (split layout, r15): the band index is THIN — the fat
    // `_shs` arrays live once in the doc-bucketed side table, and only
    // the buckets named by COLLIDING candidate old ids are ever listed or
    // read (candidate-proportionate, not touched-bucket-proportionate).
    // Pre-split stores (no `_SIG_SHV_` marker) still ride `_shs` on every
    // band row and keep the old in-row read.
    val oldSh = storedSigShinglesVersion(spark, sigRoot) match {
      case Some(shv) =>
        // STORED doc-bucket modulus, never the band-bucket parameter: the
        // shingle store sizes its buckets from the corpus (scale-derived)
        val shb = storedSigShingleBuckets(spark, sigRoot).getOrElse(nb)
        // colliding old ids collected ONCE off the cand checkpoint: the
        // bucket list always; the ids themselves only while the set is
        // small ([[SigShinglePushdownIdCap]] — the SigPushdownKeyCap
        // pattern, r15 verdict task 3). A POINT probe (few colliding
        // docs) then pushes `_id IN (…)` into the shingle scan and drops
        // non-colliding docs' fat arrays AT THE SCAN, before the verify
        // join (row-dropping, not byte skipping — see the cap's note for
        // the measurement). A BULK delta (ids past the cap) keeps the
        // plain bucket-pruned read: a thousands-term IN is per-row cost
        // with no measured win.
        val oldBuckets = cand
          .select(pmod(hash(col("old_id")), lit(shb)).as("_b"))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
        val oldIdSample = cand.select(col("old_id")).distinct()
          .take(SigShinglePushdownIdCap + 1)
        val base = graft.VersionedTable
          .readVersionPartitions(spark, sigShingleRoot(sigRoot), shv,
                                 "_doc_bucket", oldBuckets)
        val pruned =
          if (oldIdSample.nonEmpty &&
              oldIdSample.length <= SigShinglePushdownIdCap)
            base.filter(col("_id").isin(oldIdSample.map(_.get(0)): _*))
          else base
        pruned
          .select(col("_id").as("old_id"), col("_shs").as("_sb"),
                  col("_n").as("_nb"))
      case None =>
        corpus
          .select(col("_id").as("old_id"), col("_shs").as("_sb"),
                  col("_n").as("_nb"))
          .dropDuplicates("old_id")
    }
    sealOp(cand
      .join(shNew.select(col("_id").as("new_id"), col("_shs").as("_sa"),
                         size(col("_shs")).cast("long").as("_na")), "new_id")
      .join(oldSh, "old_id")
      .withColumn("overlap",
                  size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("union_size", col("_na") + col("_nb") - col("overlap"))
      .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
      .select("new_id", "old_id", "overlap", "union_size"),
      cached = Seq(shNew), ckpts = Seq(bn, sz, deltaKeys, cand))
  }

  /** Near-duplicate clusters from a pair list: connected components of the
    * doc graph, cluster id = the component's minimum doc id, plus the
    * component size. The step after any pairwise near-dup operator — a
    * training-data pipeline keeps one document per CLUSTER, not per pair
    * (pairs are not transitive: a~b, b~c does not imply a pair (a,c)).
    *
    * Iterative min-label propagation: each round joins labels across edges
    * and takes the per-node minimum — one shuffle per round, converging in
    * O(component diameter) rounds. Near-dup components are cliquish
    * (diameter 2-3), so a handful of rounds suffice at any corpus size; each
    * round localCheckpoints to truncate lineage (the standard Spark iterative
    * pattern). For adversarially long path-shaped graphs the known refinement
    * is alternating large-star/small-star rounds (O(log n) convergence) —
    * same join/agg shape, not needed for near-dup workloads.
    *
    * Only documents that appear in some pair are emitted (singletons form
    * trivial clusters of size 1 by definition and would dominate the output).
    *
    * Adaptive small-graph path (AQE-style size-based planning): when the
    * materialized edge list is under `smallGraphEdges` and its ids are
    * integral, union-find on the driver replaces the iterative rounds —
    * the edge count is already known (the checkpoint materialization
    * doubles as the measurement), the collect is bounded by the
    * threshold, and per-round job overhead disappears. Roots track the
    * component MINIMUM (union by min, path compression), so labels are
    * bit-identical to the distributed min-label propagation.
    */
  def clusterPairs(pairs: DataFrame,
                   aCol: String = "doc_a",
                   bCol: String = "doc_b",
                   smallGraphEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ck = new Seal.Tracker
    val half = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    LocalGate(half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), smallGraphEdges, ck, guard = Seq("src", "dst"),
      accept = LocalGate.IntegralIds) { (es: Array[(Long, Long)]) =>
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for ((a, b) <- es) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      val sizes = labels.groupBy(_._2).map { case (c, g) => c -> g.size.toLong }
      labels.map { case (n, c) => (n, c, sizes(c)) }
        .toDF("doc_id", "cluster_id", "cluster_size")
    } { edges => // scanned once per round
      // Seed with min(node, min(neighbor)) — identical to one propagation
      // round from identity labels, but a single aggregation on the edge list
      // instead of a join+union round.
      var labels = edges.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("_mn"))
        .select(col("node"), least(col("node"), col("_mn")).as("label"))
        .localCheckpoint(false)
      var converged = false
      while (!converged) {
        val viaEdges = edges
          .join(labels, edges("dst") === labels("node"))
          .select(edges("src").as("node"), col("label"))
        val next = labels.unionByName(viaEdges)
          .groupBy("node").agg(min("label").as("label"))
          .localCheckpoint(false)
        // One job per round: counting the changed labels scans every partition,
        // which both materializes the (lazy) checkpoint and decides convergence.
        converged = next
          .join(labels.withColumnRenamed("label", "_old"), "node")
          .filter(col("label") =!= col("_old"))
          .count() == 0L
        // `next` is materialized by the count above, so the previous round's
        // checkpoint blocks are dead weight — release them as the loop walks
        // (round-12 verdict task 4: iterative operators must not accumulate
        // one label checkpoint per round for the session's lifetime).
        releaseCheckpoint(labels)
        labels = next
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      // Integral ids surface as LongType so both planning paths (driver
      // union-find below the edge threshold, iterative rounds above it)
      // produce ONE schema — the threshold must never flip output types.
      // Non-integral ids (strings) only ever take this distributed path.
      val (docId, clusterId) =
        if (LocalGate.typed(edges, Seq("src", "dst"), LocalGate.IntegralIds))
          (col("node").cast("long"), col("label").cast("long"))
        else (col("node"), col("label"))
      ck.track(labels)
      ck.seal(labels
        .select(docId.as("doc_id"), clusterId.as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w)))
    }
  }

  /** Near-duplicate removal: drop every clustered document except its
    * cluster's canonical (minimum-id) member. `clusterPairs` labels are
    * min-propagated ids, so the canonical member is exactly the row whose
    * id equals its cluster_id; the corpus sheds the losers with one
    * anti-join (broadcastable: the loser set is pair-graph-sized, not
    * corpus-sized).
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val clusters = clusterPairs(pairs, aCol, bCol)
    // Seal the pair-graph-sized loser set and release the cluster
    // checkpoint behind it: the returned anti-join stays LAZY over the
    // caller's corpus (never materialized here) and owns one small RDD.
    val losers = sealOp(clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol)),
      cached = Nil, ckpts = Seq(clusters))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-duplicate removal: within each dup cluster keep
    * the member with the HIGHEST `scoreCol` (ties to the smallest id)
    * instead of [[keepCanonical]]'s smallest-id rule — the practical
    * policy when duplicates differ in quality (keep the longest / least
    * boilerplate copy, shed the rest). Same shuffle shape as
    * keepCanonical plus one cluster-sized window; the anti-join build side
    * stays pair-graph-sized.
    */
  def keepBest(df: DataFrame, idCol: String, pairs: DataFrame,
               scoreCol: String,
               aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusterCkpt = clusterPairs(pairs, aCol, bCol)
    val clusters = clusterCkpt
      .select(col("doc_id").as("_cid"), col("cluster_id"))
    val scored = df
      .select(col(idCol).as("_cid"), col(scoreCol).as("_score"))
      .join(clusters, Seq("_cid"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("_score").desc, col("_cid"))
    // Same lifecycle as keepCanonical: seal the small loser set, release
    // the cluster checkpoint, return a lazy anti-join over the corpus.
    val losers = sealOp(scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") =!= 1)
      .select(col("_cid").as(idCol)),
      cached = Nil, ckpts = Seq(clusterCkpt))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: for every training document, how many of its
    * distinct `n`-gram shingles also occur in the held-out evaluation slice
    * (`isEval` rows), and a contamination flag at >= 20 % overlap
    * (integer cross-multiplied — no float ratio).
    *
    * Scale: the eval side collapses to its DISTINCT shingle set — eval suites
    * are tiny relative to a training corpus, so it broadcasts and the
    * training side needs exactly ONE pass: shingle arrays are built once per
    * row (the eval/train filters split disjoint rows of the same narrow
    * projection), the per-doc total rides the explode as an attribute, and a
    * single map-side-combined aggregate on doc_id counts the broadcast-join
    * hits. No doc is lost to the explode — `shingles` emits at least [""]
    * for empty text — so no join-back for zero-overlap docs.
    */
  def contaminationStats(df: DataFrame,
                         idCol: String,
                         textCol: String,
                         isEval: Column,
                         n: Int = 3): DataFrame = {
    val withSh = df.select(
      col(idCol).as("doc_id"), isEval.as("_eval"),
      shingles(TextAnalysis.tokens(col(textCol)), n).as("_shs"))
    // explode_outer, not explode: explode's implicit `size(arr) > 0 AND
    // isnotnull(arr)` generate-filter gets predicate-pushed below the
    // projection, substituting the whole tokenize+shingle expression into the
    // Filter — the expensive build would run 3x per row. `shingles` returns
    // >= 1 element for any non-null text, so outer semantics are identical
    // (and a null-text row matching the oracle's NULL-propagation is kept).
    val evalSh = withSh.filter(col("_eval"))
      .select(explode_outer(col("_shs")).as("_sh")).distinct()
      .withColumn("_hit", lit(1L))
    withSh.filter(!col("_eval"))
      .select(col("doc_id"), size(col("_shs")).as("n_shingles"),
              explode_outer(col("_shs")).as("_sh"))
      .join(broadcast(evalSh), Seq("_sh"), "left")
      .groupBy("doc_id")
      .agg(first(col("n_shingles")).as("n_shingles"),
           coalesce(sum(col("_hit")), lit(0L)).as("n_shared"))
      .withColumn("is_contaminated", col("n_shared") * 5 >= col("n_shingles"))
      .select("doc_id", "n_shingles", "n_shared", "is_contaminated")
  }

  /** 32-bit SimHash over the document's distinct tokens: bit `b` is set iff
    * more than half the tokens have bit `b` set in the first-8-hex-chars md5
    * hash of the token. Pure built-ins; reproducible in the oracle.
    */
  def simhash32(tokens: Column): Column = {
    val distinctToks = array_distinct(tokens)
    val hashes = transform(distinctToks,
                           t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    // majority vote over all 32 bits in ONE generated pass (native Catalyst
    // expression) instead of 32 interpreted aggregate folds per row
    graft.functions.SimHashBits(hashes)
  }

  /** SimHash near-dup pairs: candidates share at least one of the four 8-bit
    * bands (pigeonhole: hamming ≤ 3 ⇒ some band untouched), verified with
    * `bit_count(xor) <= maxHamming`.
    */
  def simhashPairs(df: DataFrame,
                   idCol: String,
                   textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // cached: the banded self-join scans both sides, and the signature
    // computation (md5 per distinct token) is the expensive part
    val sigs = df
      .select(col(idCol).as("_id"),
              simhash32(TextAnalysis.tokens(col(textCol))).as("simhash"))
      .cache()
    val banded = sigs.select(
      col("_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b:"),
               shiftright(col("simhash"), b * 8).bitwiseAND(255L))): _*)).as("_bk"))
    // The hamming test rides INSIDE the join condition: with 8-bit band keys
    // the candidate volume is quadratic per bucket, so filtering during the
    // join probe keeps non-matches out of the dedup shuffle entirely
    // (distinct() then only sees true pairs, once per matching band).
    sealOp(banded.as("a")
      .join(banded.as("b"),
            col("a._bk") === col("b._bk") && col("a._id") < col("b._id") &&
              bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a._id").as("doc_a"), col("b._id").as("doc_b"),
              col("a.simhash").as("simhash_a"), col("b.simhash").as("simhash_b"))
      .distinct(),
      cached = Seq(sigs))
  }

  /** Embedding near-dup pairs: all pairs with cosine >= tau. Brute force —
    * see Similarity for the formula contract and the LSH-bucketed scale path.
    */
  def embeddingNearDupPairs(df: DataFrame,
                            idCol: String,
                            vecCol: String,
                            tau: Double): DataFrame = {
    // Self-norms are computed once per VECTOR (not once per pair): the pair
    // stage then does a single fold. sqrt(na*nb) keeps the exact same
    // floating-point value as computing both norms pairwise.
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
                      Similarity.norm2(col(vecCol)).as("_na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
                      Similarity.norm2(col(vecCol)).as("_nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
                  Similarity.dot(col("_va"), col("_vb")) /
                    sqrt(col("_na") * col("_nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup report (Abbas et al.
    * 2023, arXiv:2303.09540): vectors are first binned to their nearest of
    * `c` centroids, then near-dup pairs (cosine >= tau) are found ONLY
    * within a bin and the higher id of each pair is marked removed. The
    * pair join is an equi-join on the centroid key, so candidate volume is
    * O(n²/c) instead of O(n²) — the knob that makes embedding dedup
    * feasible at 100 TB is `c` (lists sized to fit an executor). Removal
    * is direct dominance (a smaller same-bin near-neighbor exists), the
    * paper's keep-one-per-neighborhood rule, deterministic without any
    * transitive closure.
    *
    * Output per centroid: members, qualifying pairs, removed, kept.
    */
  def semanticDedupReport(df: DataFrame,
                          idCol: String,
                          vecCol: String,
                          c: Int = 16,
                          tau: Double = 0.4): DataFrame = {
    val cents = Similarity.ivfCentroids(df, idCol, vecCol, c)
    val keyed = df
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
              Similarity.norm2(col(vecCol)).as("_n"))
      .join(Similarity.ivfAssign(df, idCol, vecCol, cents)
              .withColumnRenamed("id", "_id"), Seq("_id"))
      .localCheckpoint(false) // feeds the member rollup AND both pair sides
    val a = keyed.select(col("centroid_id"), col("_id").as("id_a"),
                         col("_v").as("_va"), col("_n").as("_na"))
    val b = keyed.select(col("centroid_id"), col("_id").as("id_b"),
                         col("_v").as("_vb"), col("_n").as("_nb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
                  Similarity.dot(col("_va"), col("_vb")) /
                    sqrt(col("_na") * col("_nb")))
      .filter(col("cosine") >= tau)
    val members = keyed.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"))
    val stats = pairs.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("id_b")).as("n_removed"))
    sealOp(members.join(stats, Seq("centroid_id"), "left")
      .select(col("centroid_id"), col("n_members"),
              coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
              coalesce(col("n_removed"), lit(0L)).as("n_removed"),
              (col("n_members") - coalesce(col("n_removed"), lit(0L)))
                .as("n_kept")),
      cached = Nil, ckpts = Seq(keyed))
  }

  /** Scale path for embedding near-dup: candidate pairs must share a sign-LSH
    * bucket (one equi-join shuffle on the bucket key instead of the full
    * O(n²) cross product), then the exact cosine threshold verifies. Output ⊆
    * `embeddingNearDupPairs` at equal τ; recall governed by `planes`.
    */
  def embeddingNearDupPairsLsh(df: DataFrame,
                               idCol: String,
                               vecCol: String,
                               tau: Double,
                               planes: Int = 4): DataFrame = {
    val keyed = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
                          Similarity.norm2(col(vecCol)).as("_n"),
                          Similarity.lshBucket(col(vecCol), planes).as("_bk"))
    val a = keyed.select(col("_id").as("id_a"), col("_v").as("_va"),
                         col("_n").as("_na"), col("_bk"))
    val b = keyed.select(col("_id").as("id_b"), col("_v").as("_vb"),
                         col("_n").as("_nb"), col("_bk"))
    a.join(b, Seq("_bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
                  Similarity.dot(col("_va"), col("_vb")) /
                    sqrt(col("_na") * col("_nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Blocklist filtering: drop every document whose normalized content
    * fingerprint appears in `blocklist` (single column `fingerprint`) — the
    * standard "remove eval/benchmark/toxic content by exact hash" pipeline
    * step. One LEFT ANTI join; the blocklist is dimension-sized in practice
    * (eval suites, takedown lists), so Catalyst broadcasts it and the corpus
    * never shuffles.
    */
  def filterBlocklist(df: DataFrame,
                      textCol: String,
                      blocklist: DataFrame): DataFrame =
    df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .join(blocklist, Seq("fingerprint"), "left_anti")
      .drop("fingerprint")

  /** Corpus-global duplicated-span statistics: for each document, how many
    * of its ordered `n`-token spans occur more than once ANYWHERE in the
    * corpus — the exact-substring duplication signal ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022; their
    * suffix-array match length is 50 BPE tokens ≈ this span granularity).
    * High `dup_ppm` docs are boilerplate/template pages even when no whole
    * document matches ([[minhashLshPairs]] can't see sub-document copying).
    *
    * Scale shape: one explode into md5 span keys, ONE exchange on the span
    * hash (the whole-partition count window sorts only by the hash), then a
    * map-side-combined per-doc aggregate. Spans-per-token is ~1, so the
    * exchange is corpus-token-sized — the honest cost of substring-level
    * dedup; there is no cheaper exact formulation.
    */
  def dupSpanStats(df: DataFrame,
                   idCol: String,
                   textCol: String,
                   n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    df.filter(size(toks) >= n)
      .select(col(idCol),
              explode_outer(transform(TextAnalysis.orderedShingles(toks, n),
                                      s => md5(s))).as("_h"))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col("_h"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("_cnt") > 1, lit(1L)).otherwise(lit(0L)))
             .as("n_dup_spans"))
      .withColumn("dup_ppm", expr("(n_dup_spans * 1000000) DIV n_spans"))
  }

  /** Sentence-level duplication stats — the RefinedWeb/Falcon exact-sentence
    * dedup signal, between MinHash (document) and [[dupSpanStats]] (n-token
    * span) in granularity: per document, how much of it is sentences that
    * occur elsewhere in the corpus verbatim. Sentences = `[.!?]+`-delimited,
    * trimmed, empties dropped; identity = md5 of the exact sentence text.
    *
    * Same shape as the span pass: one exchange on the sentence hash for the
    * global occurrence count (hash-partitioned window, skew-free keys), then
    * a combine-enabled per-doc aggregate — corpus-sentence-sized, ~20×
    * cheaper than the 20-token span pass on typical prose.
    */
  def sentenceDupStats(df: DataFrame,
                       idCol: String,
                       textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol),
              explode(split(col(textCol), "[.!?]+")).as("_s"))
      .withColumn("_s", trim(col("_s")))
      .filter(length(col("_s")) > 0)
      .withColumn("_cnt",
                  count(lit(1)).over(Window.partitionBy(md5(col("_s")))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sents"),
           sum(when(col("_cnt") > 1, lit(1L)).otherwise(lit(0L)))
             .as("n_dup_sents"))
      .withColumn("dup_ppm", expr("(n_dup_sents * 1000000) DIV n_sents"))
  }

  /** Prefix-filtered exact set-similarity candidates (the PPJoin family's
    * core trick): order the vocabulary globally by (document frequency
    * asc, token asc) — rarest first — and keep only each document's first
    * `|d| − ⌈τ·|d|⌉ + 1` tokens in that order as its PREFIX. Two sets
    * with Jaccard ≥ τ MUST share a prefix token (pigeonhole on the
    * τ-fraction they share), so the candidate join runs on prefixes
    * only. Unlike MinHash-LSH this is EXACT (recall 1.0) — the scale win
    * is that rare-token prefixes fan out tiny join groups where
    * share-any-token joins explode on stopwords. Returns distinct
    * (doc_a < doc_b) candidate pairs over whitespace token SETS.
    *
    * The full published PPJoin filter suite rides in the join condition
    * (they are what keeps a LOW-ENTROPY vocabulary — TPC-H's 92-color
    * `p_name` — from going quadratic, the prefix filter's adversarial
    * case):
    *  - LENGTH filter: J ≥ τ forces τ·|a| ≤ |b| ≤ |a|/τ, as cross
    *    products `a.n·tauNum ≤ b.n·tauDen` both ways.
    *  - POSITIONAL filter: a shared prefix token at (1-based) sorted
    *    positions (i, j) bounds the overlap by `1 + min(|a|−i, |b|−j)`,
    *    which must reach the τ-minimum overlap α = ⌈τ(|a|+|b|)/(1+τ)⌉ —
    *    checked multiply-form (`ub·(tauNum+tauDen) ≥ tauNum·(|a|+|b|)`)
    *    so no integer division is involved at all.
    * Recall stays exactly 1.0: for a truly-similar pair the FIRST common
    * token in global order sits inside both prefixes (its preceding
    * tokens are all non-shared, and there are at most |d|−⌈τ|d|⌉ of
    * those) and every common token sits at position ≥ that match, so its
    * `1+min` bound ≥ the true overlap ≥ α — at least one matching row
    * always survives the filters.
    */
  def prefixCandidates(df: DataFrame, idCol: String, textCol: String,
                       tauNum: Int, tauDen: Int,
                       saltOverride: Option[Int] = None): DataFrame = {
    val (pref, ckpts) = ppjPrefixRows(df, idCol, textCol, tauNum, tauDen)
    sealOp(ppjMatches(pref, tauNum, tauDen, saltOverride)
      .select("doc_a", "doc_b"),
      cached = Nil, ckpts = ckpts)
  }

  /** Per-doc PPJoin prefix rows in the INTEGER RANK domain: tokens map to
    * their global frequency rank (df asc, token asc) and every downstream
    * comparison — the join key, the first-shared-token dedup, the overlap
    * count — runs on sorted int arrays instead of strings. One row per
    * PREFIX rank carrying its 1-based position `_pos`, the doc's set size
    * `_n`, the sorted prefix rank array `_pre` and the full sorted rank
    * array `_s`. One token-explode, one broadcast rank join, one per-doc
    * aggregate, checkpointed — doc-count-sized, narrow relative to the
    * candidate join it feeds twice.
    */
  private def ppjPrefixRows(df: DataFrame, idCol: String, textCol: String,
                            tauNum: Int, tauDen: Int): (DataFrame, Seq[DataFrame]) = {
    val toks = df.select(col(idCol).as("_id"),
        explode(array_distinct(filter(
          TextAnalysis.tokens(col(textCol)), t => t =!= ""))).as("_t"))
      .localCheckpoint(false)
    val rank = toks.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.DimKey.one)
          .orderBy(col("_df"), col("_t"))))
      .select("_t", "_rk")
    val pref = toks.join(broadcast(rank), Seq("_t"))
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(col("_rk"))).as("_s"))
      .withColumn("_n", size(col("_s")).cast("long"))
      // prefix length |d| − ceil(τ|d|) + 1, integer: n − (n·tauNum +
      // tauDen − 1) DIV tauDen + 1 (Column./ is fractional — DIV only)
      .withColumn("_plen", expr(
        s"CAST(_n - (_n * $tauNum + ${tauDen - 1}) DIV $tauDen + 1 AS INT)"))
      .withColumn("_pre", expr("slice(_s, 1, _plen)"))
      .select(col("_id"), col("_n"), col("_pre"), col("_s"),
              posexplode(col("_pre")).as(Seq("_p0", "_rk")))
      .withColumn("_pos", (col("_p0") + 1).cast("long"))
      .drop("_p0")
      .localCheckpoint(false)
    (pref, Seq(toks, pref))
  }

  /** The PPJoin candidate join over [[ppjPrefixRows]], emitting each
    * qualifying pair EXACTLY ONCE with its overlap already computed — no
    * pair-level shuffle anywhere (at sf0.1's 18 M candidates the
    * previous distinct-then-verify shape spent 20 s shuffling what this
    * computes inline in codegen).
    *
    * Structural dedup: a pair that shares several filter-passing prefix
    * tokens is emitted only at the FIRST shared prefix rank
    * (`SortedFirstCommon(a._pre, b._pre) = a._rk` — a native two-pointer
    * merge, see `functions/SortedIntOps`). This is exact, not heuristic:
    * the global order means shared tokens sit in the same relative order
    * in both docs, so the first shared token has the strictly best
    * positional bound — if ANY shared token passes the positional filter,
    * the first one does, and the emitted pair set equals the DISTINCT of
    * all filter-passing matches. Overlap is the native sorted-merge count
    * over the full rank arrays, inline in the same codegen stage.
    *
    * Skew + placement (r16, guide §2.5): the join key is a TOKEN RANK —
    * low cardinality when the vocabulary is small (TPC-H p_name: 16
    * surviving prefix ranks at sf0.1, ~2.5k rows each, Σc² ≈ 100M pair
    * evaluations) — and the per-group work is QUADRATIC in the group
    * size while the shuffle is only a few MB, so byte-based AQE
    * coalescing serialized the whole product onto 1-2 tasks (measured:
    * 6.5 s for the join+agg at 32 cores, and the bench's 8-core run was
    * FASTER — the signature of a serialized stage). Two fixes, both
    * parameterized on the session's parallelism, not on local[32]:
    * (a) every group is SALTED k ways — the probe side keyed by
    * `pmod(hash(_id), k)`, the build side replicated to all k salts
    * (pair (a,b) still meets exactly once, at b's replica carrying
    * a's salt), splitting a group's c² evaluations into k tasks of c²/k
    * (at 100 TB a hot prefix token's df grows with the corpus and its
    * UNSALTED group would be a single-task c² bomb); (b) both sides are
    * hash-repartitioned on (_rk, _salt) with an EXPLICIT partition count
    * (REPARTITION_BY_NUM — AQE's coalescer leaves user-specified counts
    * alone), so the compute-heavy-but-byte-light stage keeps its
    * parallelism. Measured at sf0.1/local[32]: join+agg 6.5 s → 0.6 s,
    * q488 end-to-end 8.7 s → ~3 s. The replication cost is k× the
    * doc-count-sized prefix relation's shuffle bytes, bounded by the
    * `PpjSaltCap`; pair identity pinned by PpJoinSpec (brute-force
    * equality) and the oracle.
    */
  /** Upper bound on the PPJoin salt factor: caps the build-side
    * replication at 64× a doc-count-sized relation regardless of core
    * count. Below the cap the factor tracks the session's default
    * parallelism (k = parallelism/2, min 1), so the split adapts to the
    * machine rather than being tuned for local[32].
    */
  private[graft] val PpjSaltCap = 64

  private[graft] def ppjSaltFor(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(1, math.min(PpjSaltCap,
      spark.sparkContext.defaultParallelism / 2))

  private def ppjMatches(pref: DataFrame,
                         tauNum: Int, tauDen: Int,
                         saltOverride: Option[Int]): DataFrame = {
    val spark = pref.sparkSession
    val k = saltOverride.getOrElse(ppjSaltFor(spark))
    val nPart = math.max(k, spark.sparkContext.defaultParallelism * 4)
    val probe = pref
      .withColumn("_salt", pmod(hash(col("_id")), lit(k)))
      .repartition(nPart, col("_rk"), col("_salt"))
    val build = pref
      .withColumn("_salt", explode(expr(s"sequence(0, ${k - 1})")))
      .repartition(nPart, col("_rk"), col("_salt"))
    val (an, bn) = (col("a._n"), col("b._n"))
    val ubound = lit(1L) +
      least(an - col("a._pos"), bn - col("b._pos"))
    probe.as("a").join(build.as("b"),
        col("a._rk") === col("b._rk") && col("a._salt") === col("b._salt") &&
          col("a._id") < col("b._id") &&
          an * tauNum <= bn * tauDen && bn * tauNum <= an * tauDen &&
          ubound * (tauNum + tauDen) >= (an + bn) * tauNum &&
          graft.functions.SortedFirstCommon(col("a._pre"), col("b._pre"))
            === col("a._rk"))
      .select(col("a._id").as("doc_a"), col("b._id").as("doc_b"),
              an.as("_na"), bn.as("_nb"),
              graft.functions.SortedIntersectSize(col("a._s"), col("b._s"))
                .cast("long").as("overlap"))
      .withColumn("union_size", col("_na") + col("_nb") - col("overlap"))
      .drop("_na", "_nb")
  }

  /** One-row PPJoin summary — candidate count plus verified-pair count
    * and overlap mass — in a SINGLE pass: prefix join → inline verify →
    * global aggregate, zero pair-level shuffles (the shape that holds at
    * 100 TB: per-executor partial aggregates are the only thing that
    * crosses the wire after the join).
    */
  def prefixJoinStats(df: DataFrame, idCol: String, textCol: String,
                      tauNum: Int = 1, tauDen: Int = 2,
                      saltOverride: Option[Int] = None): DataFrame = {
    val verified = col("overlap") * tauDen >= col("union_size") * tauNum
    val (pref, ckpts) = ppjPrefixRows(df, idCol, textCol, tauNum, tauDen)
    sealOp(ppjMatches(pref, tauNum, tauDen, saltOverride)
      .agg(count(lit(1)).as("n_candidates"),
           coalesce(sum(when(verified, 1L).otherwise(0L)), lit(0L))
             .as("n_pairs"),
           coalesce(sum(when(verified, col("overlap"))), lit(0L))
             .as("sum_overlap")),
      cached = Nil, ckpts = ckpts)
  }

  /** [[prefixCandidates]] + exact Jaccard verification on the full token
    * sets — output schema matches [[ngramJaccardPairs]] (verified pairs
    * only), computed with recall 1.0 at prefix-join cost. Verification is
    * inline in the candidate join ([[ppjMatches]]) — the full token sets
    * ride on the prefix rows, so no second join re-attaches them.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         tauNum: Int = 1, tauDen: Int = 2,
                         saltOverride: Option[Int] = None): DataFrame = {
    val (pref, ckpts) = ppjPrefixRows(df, idCol, textCol, tauNum, tauDen)
    sealOp(ppjMatches(pref, tauNum, tauDen, saltOverride)
      .filter(col("overlap") * tauDen >= col("union_size") * tauNum)
      .select("doc_a", "doc_b", "overlap", "union_size"),
      cached = Nil, ckpts = ckpts)
  }
}
