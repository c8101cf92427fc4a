package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage: candidate pairs via an equi-join on
  * caller-chosen blocking keys, verified with an exact edit-distance bound.
  *
  * The classic linkage decomposition — an all-pairs edit-distance comparison
  * is quadratic in the corpus and unrunnable at 100 TB, so the quadratic term
  * is confined to within-block pairs: one shuffle on the block key, and the
  * comparison cost is sum(|block|^2), which the CALLER controls by picking
  * blocking keys whose fibers stay small (same move as the LSH band join in
  * [[Dedup.minHashNearDupPairs]] — blocking IS locality-sensitive hashing
  * with a hand-built hash). `levenshtein` is a codegen'd built-in in Spark
  * and exists verbatim in ANSI-ish engines, so verification is portable.
  */
object Linkage {

  /** Within-block id-ordered pairs with `levenshtein(text) <= maxDist`.
    *
    * Output: blocking cols, `id_a`, `id_b`, `text_a`, `text_b`, `dist`.
    * Self-pairs and symmetric duplicates are excluded by `id_a < id_b`.
    */
  def fuzzyPairs(df: DataFrame,
                 idCol: String,
                 textCol: String,
                 blockCols: Seq[String],
                 maxDist: Int): DataFrame = {
    def side(tag: String) =
      df.select(blockCols.map(col) ++ Seq(
        col(idCol).as(s"id_$tag"), col(textCol).as(s"text_$tag")): _*)
    side("a")
      .join(side("b"), blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
      .filter(col("dist") <= maxDist)
  }

  /** All edit-distance-≤1 pairs of distinct values of `textCol` via the
    * SymSpell deletion neighborhood — no hand-chosen blocking key, and
    * COMPLETE for distance 1 (unlike [[fuzzyPairs]], which misses pairs
    * that differ inside the blocking key): two distinct strings are within
    * one edit iff deleting at most one character from each makes them
    * equal (substitution = same-position deletes; insert/delete =
    * one-sided). Each value explodes to length+1 variants, pairs come from
    * ONE equi-join on the variant (vocab-sized input, never the fact
    * table), are deduped, then verified with `levenshtein` — the variant
    * join is candidate generation only, so false positives (two deletes
    * landing on the same string at distance 2) are filtered exactly.
    *
    * Output: `value_a` < `value_b`, `dist` (1), plus each value's source
    * row count (the dedup/merge decision inputs).
    */
  /** Append exact integer Jaro–Winkler columns — `m` (match count),
    * `transpositions`, `jaro_ppm`, `jw_ppm` — for the string columns
    * `c1`, `c2` of every row.
    *
    * The greedy match pass is a single `aggregate()` fold whose state
    * packs BOTH used-bitmasks into one BIGINT (`mask1·2²⁰ + mask2`) so
    * the DuckDB oracle can replay it with `list_reduce` (which only
    * trusts scalar states — the packed encoding exists FOR that
    * constraint, see q711). The packing is only valid for strings of
    * 1..20 chars; that precondition is ENFORCED with a row-level
    * `assert_true` — a longer string would set bit j ≥ 21 of mask2 into
    * mask1's low bits and corrupt both masks identically in both engines,
    * i.e. a green gate over a statistically wrong similarity.
    *
    * All-integer and windowless; since r15 the fold itself runs in the
    * native codegen twin (see the method note). Per ROW cost is O(len²)
    * worst case, so keep the input at candidate-pair grain (blocked,
    * never all-pairs).
    */
  def withJaroWinklerPpm(df: DataFrame, c1: String, c2: String): DataFrame =
    // r15: the greedy fold now runs in the NATIVE codegen expression
    // graft.functions.JaroWinklerPpm — bit-identical to the packed-
    // bitmask SQL fold it replaces (the reference fold lives on in
    // JaroWinklerPpmSpec, which pins equality across a transposition-
    // heavy fixture; the DuckDB oracle still replays its own list_reduce
    // twin). The interpreted HOF walked its expression tree per
    // character per row (~26 ms/row measured on q714's pairs); the
    // native call stays inside whole-stage codegen.
    df
      .withColumn("_jw_ok", assert_true(
        length(col(c1)).between(1, 20) && length(col(c2)).between(1, 20),
        concat(lit(s"jaroWinkler packed-bitmask fold requires 1..20 chars" +
          s" in $c1/$c2, got: "), col(c1), lit(" / "), col(c2))))
      .filter(col("_jw_ok").isNull)
      .withColumn("_jw", graft.functions.JaroWinklerPpm(col(c1), col(c2)))
      .withColumn("m", col("_jw.m"))
      .withColumn("jaro_ppm", col("_jw.jaro_ppm"))
      .withColumn("jw_ppm", col("_jw.jw_ppm"))
      .withColumn("transpositions", col("_jw.transpositions"))
      .drop("_jw_ok", "_jw")

  /** Blocked Jaro–Winkler linkage — the SAME blocking interface as
    * [[fuzzyPairs]] (candidate pairs = an equi-join on caller-chosen
    * blocking keys, `id_a < id_b`), with the verifier swapped from
    * Levenshtein to exact integer Jaro–Winkler. The ER tier thus offers
    * both verifiers behind one blocking contract: edit distance counts
    * mutations anywhere (typo linkage), Jaro–Winkler up-weights shared
    * prefixes and forgives transpositions (name linkage) — the two
    * genuinely DISAGREE (e.g. CRATE/TRACE is lev 2 but JW 0.73;
    * PENNSYLVANIA/PENCILVENIA is JW 0.88 but lev 4), which is why both
    * exist.
    *
    * Output: blocking cols, `id_a`, `id_b`, `text_a`, `text_b`, `m`,
    * `transpositions`, `jaro_ppm`, `jw_ppm`, filtered to
    * `jw_ppm >= minJwPpm`. Texts must be 1..20 chars (enforced — see
    * [[withJaroWinklerPpm]]).
    */
  def jaroWinklerPairs(df: DataFrame,
                       idCol: String,
                       textCol: String,
                       blockCols: Seq[String],
                       minJwPpm: Long): DataFrame = {
    def side(tag: String) =
      df.select(blockCols.map(col) ++ Seq(
        col(idCol).as(s"id_$tag"), col(textCol).as(s"text_$tag")): _*)
    val candidates = side("a")
      .join(side("b"), blockCols)
      .filter(col("id_a") < col("id_b"))
    withJaroWinklerPpm(candidates, "text_a", "text_b")
      .filter(col("jw_ppm") >= minJwPpm)
  }

  def symspellPairs(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(lower(col(textCol)).as("w"))
      .filter(col("w").isNotNull && length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val variants = counts.select(col("w"),
      explode(array_distinct(concat(array(col("w")),
        expr("transform(sequence(1, length(w)), i -> " +
             "concat(substring(w, 1, i - 1), substring(w, i + 1, 1000000)))"))))
        .as("v"))
    variants.as("_a")
      .join(variants.as("_b"), col("_a.v") === col("_b.v"))
      .filter(col("_a.w") < col("_b.w"))
      .select(col("_a.w").as("value_a"), col("_b.w").as("value_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("value_a"), col("value_b")))
      .filter(col("dist") <= 1)
      .join(counts.withColumnRenamed("w", "value_a")
              .withColumnRenamed("n", "n_a"), Seq("value_a"))
      .join(counts.withColumnRenamed("w", "value_b")
              .withColumnRenamed("n", "n_b"), Seq("value_b"))
      .select(col("value_a"), col("value_b"), col("dist"),
              col("n_a"), col("n_b"))
  }
}
