package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language identification, and document
  * fingerprinting over a `text` column.
  *
  * All builders are pure `Column` expressions over Spark built-ins — they stay
  * inside whole-stage codegen, no UDFs — so a 100 TB `documents` scan is one
  * narrow projection pipeline: no shuffle at all until/unless the caller
  * aggregates. Formulas are chosen to be exactly reproducible in ANSI SQL
  * (the DuckDB oracle mirrors them term for term).
  */
object TextAnalysis {

  /** Whitespace tokens of the lower-cased text (the shared token definition
    * across dedup/fingerprint/language-id).
    */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Whitespace token count; 0 for blank text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish subword count: alpha runs, single digits, and punctuation marks
    * each count as one token (the shape of a byte-pair tokenizer's pre-split).
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Punctuation characters (explicit class, engine-portable). */
  val PunctClass = "[.,;:!?'\"()\\[\\]{}<>/\\\\|@#$%^&*_+=~-]"

  def punctCount(text: Column): Column =
    regexp_count(text, lit(PunctClass))

  /** Per-language stopword lists for the n-gram/stopword language heuristic.
    * Deterministic order = tie-break priority.
    */
  val Stopwords: ListMap[String, Seq[String]] = ListMap(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "por", "para", "como"),
    "fr" -> Seq("le", "les", "et", "une", "est", "pour", "que", "dans", "ce", "pas"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  )

  /** Count of tokens that are stopwords of `lang`. */
  def stopwordHits(text: Column, lang: String): Column = {
    val words = Stopwords(lang)
    size(filter(tokens(text), t => words.map(w => t === lit(w)).reduce(_ || _)))
  }

  def stopwordHitsAny(text: Column): Column = {
    val all = Stopwords.values.flatten.toSeq.distinct
    size(filter(tokens(text), t => all.map(w => t === lit(w)).reduce(_ || _)))
  }

  /** Language-ID heuristic: CJK codepoints ⇒ 'zh'; otherwise the language with
    * the most stopword hits (priority order breaks ties); no hits ⇒ 'und'.
    */
  def langId(text: Column): Column = {
    val langs = Stopwords.keys.toSeq
    val hits = langs.map(l => l -> stopwordHits(text, l))
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // first-match-wins over the priority order
    val ordered = hits.foldLeft(Option.empty[Column]) {
      case (None, (l, h))      => Some(when(h === best && best > 0, lit(l)))
      case (Some(acc), (l, h)) => Some(acc.when(h === best && best > 0, lit(l)))
    }.get.otherwise(lit("und"))
    when(text.isNull, lit("und"))
      .when(regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0, lit("zh"))
      .otherwise(ordered)
  }

  /** Quality metrics: integer counts + cross-multiplied boolean gates (no
    * float thresholds, so the oracle compare is exact).
    *
    * `is_quality`: 20..100000 words, punctuation < 20% of characters,
    * stopwords >= 1% of tokens — the C4-style heuristic gate shape.
    */
  def qualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_bpe_tokens", bpeTokenCount(t))
      .withColumn("n_punct", punctCount(t))
      .withColumn("n_stopwords", stopwordHitsAny(t))
      .withColumn(
        "is_quality",
        col("n_tokens") >= 20 && col("n_tokens") <= 100000 &&
          col("n_punct") * 5 < col("n_chars") &&
          col("n_stopwords") * 100 >= col("n_tokens"))
  }

  /** Flesch-style readability proxy in exact integer milli-units: words per
    * sentence and vowel-groups (syllable proxy) per word, combined with the
    * classic 206.835 − 1.015·wps − 84.6·spw coefficients scaled ×1000 and
    * evaluated with integer floor-division only — bit-identical on any
    * engine, no float in the formula. A syllable proxy (maximal [aeiouy]+
    * runs of the lower-cased text) keeps the measure dictionary-free; runs
    * cannot span words because any non-letter breaks them.
    *
    * Scale: one narrow regexp projection per row — no shuffle, whole-stage
    * codegen, embarrassingly parallel; readability gating on a 100 TB corpus
    * costs exactly one scan.
    */
  def readability(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_sents",
        greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1)))
      .withColumn("n_words",
        size(regexp_extract_all(t, lit("[A-Za-z]+"), lit(0))))
      .withColumn("n_vgroups",
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))))
      .withColumn("wps_milli",
        expr("n_words * 1000L DIV n_sents"))
      .withColumn("spw_milli",
        expr("n_vgroups * 1000L DIV greatest(n_words, 1)"))
      .withColumn("flesch_milli",
        expr("206835L - (1015L * wps_milli) DIV 1000 " +
             "- (84600L * spw_milli) DIV 1000"))
  }

  /** Gopher-style repetition metrics: duplicate-token mass and the heaviest
    * repeated token/bigram per document (Rae et al. 2021 §A1.1 uses the same
    * shape: fraction of duplicate lines / most-common n-gram mass). Outputs
    * are integer counts; `is_repetitive` gates on integer cross-multiplication
    * (top bigram >= 20% of bigrams, or duplicate tokens >= 50% of tokens), so
    * any engine reproduces it exactly.
    *
    * Scale: pure per-row higher-order functions over the token array — no
    * shuffle, whole-stage codegen, embarrassingly parallel at 100 TB. The
    * top-count scans are O(distinct x tokens) per DOCUMENT, bounded by
    * document length, never by corpus size.
    */
  def repetitionMetrics(df: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    def topCount(arr: Column): Column = coalesce(
      array_max(transform(array_distinct(arr), v => size(filter(arr, _ === v)))),
      lit(0))
    val withArrays = df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn(
        "_bg",
        when(size(col("_t")) < 2, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), size(col("_t")) - 2),
            i => concat(element_at(col("_t"), i + 1), lit(" "),
                        element_at(col("_t"), i + 2)))))
    withArrays
      .select(
        col(idCol),
        size(col("_t")).as("token_count"),
        size(array_distinct(col("_t"))).as("distinct_tokens"),
        (size(col("_t")) - size(array_distinct(col("_t")))).as("dup_tokens"),
        topCount(col("_t")).as("top_token_count"),
        size(col("_bg")).as("bigram_count"),
        topCount(col("_bg")).as("top_bigram_count"))
      .withColumn(
        "is_repetitive",
        (col("bigram_count") > 0 &&
          col("top_bigram_count") * 5 >= col("bigram_count")) ||
          col("dup_tokens") * 2 >= col("token_count"))
  }

  /** Content fingerprint: md5 of the whitespace-normalized lower-cased text.
    * Identical content modulo spacing/case gets identical fingerprints.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Winnowing-style shingle fingerprint: the lexicographic minimum md5 over
    * the document's `n`-token shingles (a 1-hash MinHash — robust to
    * prefix/suffix edits, unlike `fingerprint`).
    */
  def shingleFingerprint(text: Column, n: Int = 5): Column =
    array_min(transform(Dedup.shingles(tokens(text), n), s => md5(s)))

  /** Grouped heavy hitters: top-k tokens by term frequency per predicted
    * language. Explode + map-side-combined hash aggregate on (lang, token) =
    * one exchange over a vocabulary-sized stream; the top-k window then runs
    * over the AGGREGATED (small) relation, so the handful of language
    * partitions is not a skew hazard — the heavy lifting happened in the
    * combine-enabled aggregate, not the window.
    */
  def topTokensByLang(df: DataFrame,
                      textCol: String = "text",
                      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Two-step select on purpose: a single select(langId, explode(tokens))
    // makes ExtractGenerator hoist the langId CASE into the Project ABOVE
    // the Generate, re-evaluating its ~17 tokenizations once per TOKEN.
    // Computing lang_pred first makes it a plain attribute below the
    // Generate — once per document (measured 4x on sf0.1).
    df.select(col(textCol).as("_text"), langId(col(textCol)).as("lang_pred"))
      .select(col("lang_pred"), explode_outer(tokens(col("_text"))).as("token"))
      .groupBy("lang_pred", "token")
      .agg(count(lit(1)).as("tf"))
      .withColumn("rank",
                  row_number().over(Window.partitionBy(col("lang_pred"))
                    .orderBy(col("tf").desc, col("token"))))
      .filter(col("rank") <= k)
  }

  /** Per-document discriminative terms: the TF-IDF shape with an integer
    * score — `score_ppm = (tf * 1e6) div df` ranks exactly like tf/df and
    * stays engine-exact (a float idf log would drift in the last ulp across
    * libm implementations).
    *
    * Three exchanges: (doc, token) tf aggregate, token df aggregate
    * (vocabulary-sized, broadcast back — swap for a shuffle join if the
    * vocabulary outgrows the driver), per-doc top-k window.
    */
  def topDiscriminativeTerms(df: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol).as("doc_id"), explode_outer(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("token"))
      .withColumn("score_ppm", expr("(tf * 1000000) DIV df"))
      .withColumn("rank",
                  row_number().over(Window.partitionBy(col("doc_id"))
                    .orderBy(col("score_ppm").desc, col("token"))))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "score_ppm")
  }

  /** BM25-shaped retrieval scoring of every document against a fixed query
    * term set, in pure integer arithmetic (k1 = 1.2 = 6/5, b = 3/4 folded
    * into one cross-multiplied rational):
    *
    *   idf_ppm(t)    = ((N - df) * 1e6) div N            (monotone idf proxy)
    *   tfc_ppm(t, d) = (tf * 44 * SDL * 1e6)
    *                     div (20*SDL*tf + 6*SDL + 18*dl*N)
    *   score_ppm(d)  = Σ_t (idf_ppm * tfc_ppm) div 1e6
    *
    * where dl = |d| in tokens, SDL = Σ dl, N = |corpus|. Rationals instead of
    * the float/log formula so ranking is bit-exact in any engine (div
    * truncates identically on the non-negative operands here). 64-bit safe to
    * SDL ≈ 2e11 tokens; beyond that compute the numerator in decimal(38,0).
    *
    * Scale: NO corpus-token explode at all — per-term tf and dl are per-row
    * higher-order-function counts over the token array (query terms are
    * literals), so the corpus stage is a shuffle-free narrow projection; the
    * only exchanges are the dimension-sized df aggregate over query-term
    * HITS and the 1-row corpus scalars, both broadcast back.
    */
  def bm25TopK(df: DataFrame,
               idCol: String,
               textCol: String,
               queryTerms: Seq[String],
               k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksArr = tokens(col(textCol))
    // dl = |unnest(tokens)| (>= 1 even for blank text — parity with the
    // oracle's unnest count), tf via array filter per literal query term
    val perDoc = df.select(
      col(idCol).as("doc_id"), size(toksArr).cast("long").as("dl"),
      array(queryTerms.map(t =>
        struct(lit(t).as("token"),
               size(filter(toksArr, x => x === lit(t))).cast("long").as("tf"))
      ): _*).as("_tfs"))
    val scalars = perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sdl"))
    val tf = perDoc
      .select(col("doc_id"), col("dl"), explode_outer(col("_tfs")).as("_t"))
      .select(col("doc_id"), col("dl"),
              col("_t.token").as("token"), col("_t.tf").as("tf"))
      .filter(col("tf") > 0)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(scalars))
      .withColumn("idf_ppm", expr("((n_docs - df) * 1000000) DIV n_docs"))
      .withColumn("tfc_ppm",
                  expr("(tf * 44 * sdl * 1000000) DIV " +
                    "(20*sdl*tf + 6*sdl + 18*dl*n_docs)"))
      .groupBy("doc_id")
      .agg(sum(expr("(idf_ppm * tfc_ppm) DIV 1000000")).as("score_ppm"),
           count(lit(1)).as("n_terms"))
      // top-k via TakeOrdered (per-partition heaps), NOT a global rank
      // window — the scored relation is corpus-sized; only the k survivors
      // see the (declared single-partition) rank window
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
                  row_number().over(Window.partitionBy(graft.functions.DimKey.one)
                    .orderBy(col("score_ppm").desc, col("doc_id"))))
      .select("rank", "doc_id", "score_ppm", "n_terms")
  }

  /** Corpus mixing statistics: per (source, predicted language) document and
    * token mass plus the corpus share in ppm — the table a data-mixing step
    * reweights against. Two map-side-combined aggregates and a broadcast of
    * the 1-row total; grouped output is dimension-sized, never corpus-sized.
    */
  def corpusMix(df: DataFrame,
                sourceCol: String = "source",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(sourceCol).as("source"),
                         langId(col(textCol)).as("lang_pred"),
                         tokenCount(col(textCol)).as("_nt"))
    // The corpus total comes from a whole-relation window over the ALREADY
    // AGGREGATED (dimension-sized) frame — a 1-row-ish exchange. An
    // agg-and-join-back would duplicate the corpus scan subtree (langId
    // evaluated twice per document; measured in the q72 plan).
    base.groupBy("source", "lang_pred")
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .withColumn("_total", sum(col("n_docs")).over(Window.partitionBy(graft.functions.DimKey.one)))
      .withColumn("share_ppm", expr("(n_docs * 1000000) DIV _total"))
      .drop("_total")
  }

  /** Tokenizer-coverage analysis: per-document out-of-vocabulary token mass
    * against the corpus's own top-`vocabSize` vocabulary (tf-ranked, token
    * tiebreak). The vocabulary is a DERIVED dimension — one map-side-combined
    * token aggregate, a vocabulary-sized top-k window, then a broadcast left
    * join back onto the token stream; `n_oov = count(*) - count(hit)`
    * (count skips nulls), ppm via integer division. `n_tokens >= 1` always
    * (the tokenizer emits [""] for blank text), so the division is total.
    */
  def oovStats(df: DataFrame,
               idCol: String,
               textCol: String,
               vocabSize: Int = 100): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
                         explode_outer(tokens(col(textCol))).as("token"))
    // top-vocabSize via TakeOrdered, not a global rank window over the
    // whole (corpus-vocabulary-sized) term relation
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("_tf"))
      .orderBy(col("_tf").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), lit(1L).as("_inv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           (count(lit(1)) - count(col("_inv"))).as("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) DIV n_tokens"))
  }

  /** Corpus token statistics: term frequency + document frequency per token.
    * One explode + one hash-aggregate — at 100 TB this is the canonical
    * map-side-combined shuffle (partial counts per token per partition, one
    * exchange on the token).
    */
  def corpusStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("_id"), explode_outer(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("_id")).as("df"))

  /** Ordered, NON-distinct n-token shingles — [[Dedup.shingles]] without the
    * distinct (language-model counts and winnowing need multiplicity and
    * position). Documents shorter than `n` tokens collapse to one whole-text
    * shingle, mirroring the dedup convention.
    */
  def orderedShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
                           i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Bigram maximum-likelihood language-model table: the corpus's top-`k`
    * bigrams by raw count, with the leading-unigram continuation mass and the
    * MLE conditional P(w2|w1) in integer ppm (exactly reproducible across
    * engines — no float log).
    *
    * Shuffle shape: explode + ONE map-side-combined aggregate on the bigram
    * (the corpus-sized pass), then the continuation-mass window and top-k
    * rank run over the AGGREGATED vocabulary-sized relation — the same
    * aggregate-then-window layering as [[topTokensByLang]], so corpus scale
    * never reaches a window operator.
    */
  def bigramLm(df: DataFrame,
               idCol: String,
               textCol: String,
               k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    val counts = df
      .filter(length(trim(col(textCol))) > 0 && size(toks) >= 2)
      .select(explode(orderedShingles(toks, 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("tf"))
    counts
      .withColumn("_w1", substring_index(col("bigram"), " ", 1))
      .withColumn("first_tf",
                  sum(col("tf")).over(Window.partitionBy(col("_w1"))))
      .withColumn("cond_ppm", expr("(tf * 1000000) DIV first_tf"))
      // bigram vocabulary is corpus-scale-large: top-k via TakeOrdered,
      // rank window only over the k survivors
      .orderBy(col("tf").desc, col("bigram"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(graft.functions.DimKey.one).orderBy(col("tf").desc, col("bigram"))))
      .select("rank", "bigram", "tf", "first_tf", "cond_ppm")
  }

  /** Per-document quality score against a reference-corpus bigram LM — the
    * model-based filter shape (CCNet/KenLM-style): held-out documents whose
    * bigrams the reference corpus rarely continues score low. Stays in
    * integer ppm space (sum of MLE conditional probabilities, not float
    * log-likelihood) so the ranking is bit-identical in any engine; a
    * monotone score is all a quality threshold needs.
    *
    * Outputs per document: `n_bigrams` (occurrences), `n_oov` (occurrences
    * whose bigram the LM never saw), `score_ppm_sum` (Σ tf·P(w2|w1) in ppm
    * over LM hits), `avg_cond_ppm` (mean over hits; 0 when every bigram is
    * OOV).
    *
    * Shuffle shape: both sides are explode + ONE map-side-combined
    * aggregate (corpus-sized passes); the join key is the bigram and the
    * aggregated LM is vocabulary²-bounded — dimension-sized in practice, so
    * Catalyst broadcasts it and the scored corpus never wide-shuffles. At
    * 100 TB: two narrow passes + a broadcast join + a per-doc combine.
    */
  def bigramLmScore(docs: DataFrame,
                    lmCorpus: DataFrame,
                    idCol: String,
                    textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    def bigrams(df: DataFrame, cols: Column*) = df
      .filter(size(toks) >= 2)
      .select(cols :+ explode_outer(orderedShingles(toks, 2)).as("bigram"): _*)
    val lm = bigrams(lmCorpus)
      .groupBy("bigram")
      .agg(count(lit(1)).as("_lm_tf"))
      .withColumn("_first_tf",
                  sum(col("_lm_tf")).over(Window.partitionBy(
                    substring_index(col("bigram"), " ", 1))))
      .select(col("bigram"),
              expr("(_lm_tf * 1000000) DIV _first_tf").as("cond_ppm"))
    bigrams(docs, col(idCol))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("tf"))
      .join(lm, Seq("bigram"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(when(col("cond_ppm").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"),
        sum(when(col("cond_ppm").isNotNull, col("tf") * col("cond_ppm"))
          .otherwise(lit(0L))).as("score_ppm_sum"))
      .withColumn(
        "avg_cond_ppm",
        when(col("n_bigrams") > col("n_oov"),
             expr("score_ppm_sum DIV (n_bigrams - n_oov)")).otherwise(lit(0L)))
  }

  /** Per-domain URL statistics over a text corpus — the web-curation
    * primitive behind per-domain sampling caps, blocklists, and provenance
    * reports. Hosts are pulled with a Java-regex ∩ RE2 group extraction
    * (engine-reproducible, like the PII patterns); the corpus-sized side is
    * one explode + combine-enabled aggregate onto the domain key, whose
    * cardinality is web-host-bounded (dimension-sized at any corpus scale).
    */
  def urlDomains(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        col(idCol),
        explode_outer(regexp_extract_all(
          col(textCol), lit("https?://([A-Za-z0-9.-]+)"), lit(1)))
          .as("domain"))
      .filter(col("domain").isNotNull)
      .groupBy("domain")
      .agg(countDistinct(col(idCol)).as("n_docs"),
           count(lit(1)).as("n_urls"))

  /** Token-exact occurrence count of any of `terms` (the wordlist policy
    * filter: NSFW/keyword screens count WORDS, not substrings — "class"
    * must not hit "ass"). Case-insensitive via the shared token definition;
    * counts repeats. Per-row HOF over a small literal list — shuffle-free.
    */
  def termHits(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "need at least one term")
    val lowered = terms.map(_.toLowerCase)
    size(filter(tokens(text),
                t => lowered.map(x => t === lit(x)).reduce(_ || _)))
  }

  /** Whether the text contains `phrase` as a CONSECUTIVE token run
    * (tokenized, case-insensitive): substring match over the space-joined
    * token stream with boundary spaces, so partial-word hits are impossible.
    */
  def containsPhrase(text: Column, phrase: String): Column = {
    val p = phrase.toLowerCase.trim.split("\\s+").mkString(" ")
    require(p.nonEmpty, "phrase must contain at least one token")
    concat(lit(" "), concat_ws(" ", tokens(text)), lit(" "))
      .contains(s" $p ")
  }

  /** Markup-stripped text: tags removed, whitespace squeezed, trimmed. */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]+>", " "), "\\s+", " "))

  /** Attach `text_clean` ([[stripMarkup]]) and the integer-ppm share of
    * characters the strip removed — the boilerplate tripwire for HTML-heavy
    * sources. Narrow codegen'd projection, shuffle-free.
    */
  def markupStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("text_clean", stripMarkup(col(textCol)))
      .withColumn(
        "markup_ratio_ppm",
        expr(s"((length($textCol) - length(text_clean)) * 1000000) " +
          s"DIV greatest(length($textCol), 1)"))

  /** One BPE vocabulary-induction round: the corpus's adjacent-symbol-pair
    * frequencies, weighted by word frequency — the statistic a byte-pair
    * tokenizer trainer maximizes each merge (Sennrich et al. 2016; the
    * counting core of every GPT-style tokenizer build).
    *
    * The two-level aggregation is the scale story: raw text collapses to the
    * WORD frequency table first (vocabulary-sized — Heaps' law, millions of
    * rows at 100 TB, not trillions), and pair explosion runs over that table
    * with the word count as a weight. Both aggregates are combine-enabled
    * hash groupBys; the top-k is a TakeOrdered, never a global sort. Later
    * merge rounds re-run the same pass over the re-segmented vocabulary —
    * cost is bounded by vocabulary size from round one on.
    *
    * Symbols here are single characters ([a-z] words), i.e. round 1 of the
    * trainer; ties break lexicographically so the merge choice is
    * deterministic across engines.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = df
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"),
              explode(expr(
                "transform(sequence(1, length(word) - 1)," +
                  " i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(topK)
  }

  /** Apply a trained BPE merge table (greedy single-pass per merge, in rank
    * order) and report the corpus-level compression it buys — the PRODUCTION
    * side of BPE: [[bpePairCounts]] is the trainer's statistic, this is the
    * tokenizer every ingest pipeline then runs over 100 TB of text.
    *
    * Symbols start as characters ("a b c", space-separated); each merge
    * (A, B) rewrites " A B " -> " AB " left-to-right, so earlier merges
    * produce the multi-char symbols later merges reference — the standard
    * merge-chain. The whole pipeline is a fixed chain of string `replace`
    * calls folded over the (literal, broadcast-free) merge list: per-row
    * projection, codegen'd, zero shuffles before the final rollup; both the
    * single-pass semantics and the operation order are engine-exact, so any
    * engine reproduces identical token counts.
    *
    * Output per `groupCol`: `n_words, sym_before, sym_after, saved_ppm` —
    * the vocabulary-compression report that decides whether a merge table
    * is worth shipping.
    */
  def bpeCompressionStats(df: DataFrame, textCol: String, groupCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(
      col(groupCol),
      explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
    // " a b c " — every symbol space-delimited, boundary spaces included
    val spaced = concat(lit(" "),
                        regexp_replace(col("word"), "(.)", "$1 "))
    val merged = merges.foldLeft(spaced) { case (s, (a, b)) =>
      call_function("replace", s, lit(s" $a $b "), lit(s" $a$b "))
    }
    words
      .withColumn("_before", length(col("word")).cast("long"))
      // single-space-delimited symbols: count = inner gaps + 1
      .withColumn("_after",
                  (length(trim(merged)) -
                     length(translate(trim(merged), " ", "")) + 1).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
           sum(col("_before")).as("sym_before"),
           sum(col("_after")).as("sym_after"))
      .withColumn("saved_ppm",
                  expr("(sym_before - sym_after) * 1000000L DIV sym_before"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): md5 each of the
    * document's ordered `n`-token shingles, then keep the minimum hash of
    * every `w`-long sliding window of consecutive shingle hashes. Guarantees
    * any shared run of >= n+w-1 tokens yields a shared fingerprint, while
    * selecting ~2/(w+1) of the hashes — the standard local-fingerprint
    * scheme for plagiarism/near-dup detection with positional robustness
    * that [[shingleFingerprint]]'s single global minimum lacks.
    *
    * Pure per-row array expressions — no explode until the caller unpacks,
    * no shuffle, codegen-friendly; at 100 TB this is a narrow projection.
    */
  def winnowFingerprints(text: Column, n: Int = 3, w: Int = 4): Column = {
    val hsExpr = transform(orderedShingles(tokens(text), n), s => md5(s))
    // Let-bind the hash array via a 1-element transform: HOF lambdas are
    // interpreted and re-evaluate captured subexpressions per element, so
    // referencing `hsExpr` directly inside the sliding-window lambda would
    // recompute EVERY md5 once per window position — O(S^2) digests per
    // document (measured 10x on sf0.01). Bound as a lambda variable it is
    // evaluated once and the window pass is O(S*w) comparisons.
    element_at(
      transform(array(hsExpr), hs =>
        array_distinct(
          when(size(hs) <= w, array(array_min(hs)))
            .otherwise(transform(sequence(lit(0), size(hs) - w),
                                 i => array_min(slice(hs, i + 1, lit(w))))))),
      1)
  }

  /** Inverted-index construction: per surviving term its document
    * frequency, total collection frequency, and the posting list as
    * delta-encoded gaps in ascending doc-id order (`7,3,12` = docs 7, 10,
    * 22) — the storage layout every search index uses, because gaps are
    * small and compress (varint/PForDelta) where raw ids don't.
    *
    * Shape: explode to (term, doc, tf) — ONE fact-sized aggregate with
    * map-side combine — then the gap via `lag` inside the term partition
    * (the same exchange the posting grouping needs: partitioning by term
    * is reused, no second shuffle) and one string_agg-style fold. `minDf`
    * prunes the hapax tail BEFORE list building. Hot terms (stopwords) are
    * the documented skew: a production index splits their postings into
    * fixed-size blocks; here the per-term list is the oracle-comparable
    * unit.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol).as("_id"),
                       explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("_id"))
      .agg(count(lit(1)).as("_tf"))
    val wt = Window.partitionBy(col("term")).orderBy(col("_id"))
    tf.withColumn("_gap",
                  col("_id") - coalesce(lag(col("_id"), 1).over(wt), lit(0L)))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
           sum(col("_tf")).as("cf"),
           concat_ws(",",
             transform(sort_array(collect_list(struct(col("_id"), col("_gap")))),
                       s => s.getField("_gap").cast("string")))
             .as("postings_gaps"))
      .filter(col("df") >= minDf)
  }

  /** Positional proximity search: documents where `termA` and `termB`
    * co-occur within `maxDist` token positions — the phrase/NEAR operator
    * an inverted index alone can't answer (postings prove co-presence,
    * positions prove adjacency). Positional postings come from one
    * `posexplode` projection; each term's (tiny) position list joins on
    * the document key only, so the pair work per document is
    * |posA|×|posB| — bounded by per-document term frequency, never by
    * corpus size.
    *
    * Output: (idCol, n_a, n_b, min_dist) for documents passing the
    * proximity test.
    */
  def proximityHits(df: DataFrame, idCol: String, textCol: String,
                    termA: String, termB: String, maxDist: Int): DataFrame = {
    val tok = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(termA, termB))
    val a = tok.filter(col("term") === termA)
      .select(col(idCol), col("pos").as("_pa"))
    val b = tok.filter(col("term") === termB)
      .select(col(idCol), col("pos").as("_pb"))
    a.join(b, Seq(idCol))
      .groupBy(col(idCol))
      .agg(countDistinct(col("_pa")).as("n_a"),
           countDistinct(col("_pb")).as("n_b"),
           min(abs(col("_pa") - col("_pb"))).as("min_dist"))
      .filter(col("min_dist") <= maxDist)
  }

  /** χ² feature selection at document grain: for each token (df ≥ `minDf`),
    * the 2×2 presence/label contingency and the χ² statistic in integer ppm.
    * The statistic is a RATIONAL in the four cells — no float ever:
    *
    *   a        = n11*n00 - n10*n01
    *   chi2_ppm = ((((a*a DIV (n11+n10)) * 1000000) DIV (n01+n00)) * N
    *               DIV (n11+n01)) DIV (n10+n00)
    *
    * with that exact operation ORDER (interleaved DIVs keep every
    * intermediate ≤ ~N²·1e6, 64-bit safe to ~1e5 docs per selection run —
    * chunk by label stratum or lift to DECIMAL(38,0) beyond). Tokens with
    * a zero margin are excluded (χ² undefined; they carry no signal).
    *
    * Shuffle shape: one doc-grain presence explode (array_distinct BEFORE
    * explode, so a token repeated in a doc costs one row), ONE map-side
    * combined aggregate to vocabulary grain, scalar label totals broadcast
    * back. The quadratic "per (token, label) cross join" formulation never
    * appears.
    */
  def chi2Terms(df: DataFrame, idCol: String, textCol: String,
                labelCol: String, minDf: Long = 5L, k: Int = 20): DataFrame = {
    val docs = df.select(col(idCol).as("_id"),
                         col(labelCol).cast("long").as("_y"),
                         array_distinct(filter(tokens(col(textCol)),
                                               t => t =!= "")).as("_toks"))
    val totals = docs.agg(count(lit(1)).as("_n"), sum(col("_y")).as("_npos"))
    val cells = docs
      .select(col("_y"), explode(col("_toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("_y")).as("n11"),
           sum(lit(1L) - col("_y")).as("n10"))
      .filter(col("n11") + col("n10") >= minDf)
      .crossJoin(broadcast(totals))
      .withColumn("n01", col("_npos") - col("n11"))
      .withColumn("n00", col("_n") - col("_npos") - col("n10"))
      .filter(col("n11") + col("n10") > 0 && col("n01") + col("n00") > 0 &&
              col("n11") + col("n01") > 0 && col("n10") + col("n00") > 0)
      .withColumn("chi2_ppm", expr(
        """((((( (n11*n00 - n10*n01) * (n11*n00 - n10*n01) )
          |   DIV (n11+n10)) * 1000000) DIV (n01+n00)) * _n
          |   DIV (n11+n01)) DIV (n10+n00)""".stripMargin))
    cells.orderBy(col("chi2_ppm").desc, col("token")).limit(k)
      .select("token", "n11", "n10", "n01", "n00", "chi2_ppm")
  }

  /** Collocation detection by exact lift ratio P(xy)/(P(x)·P(y)) in integer
    * ppm — the rational cousin of PMI (log of the same ratio; the RANKING
    * is identical because log is monotone), so the statistic hashes
    * bit-identically in any engine:
    *
    *   lift_ppm = ((((c_xy * Tu) DIV c_x) * Tu) DIV c_y) * 1000000 DIV Tb
    *
    * in that exact order (c_xy ≤ c_x bounds the first quotient by Tu;
    * 64-bit safe to ~3e9 corpus tokens, DECIMAL(38,0) beyond). One explode
    * pass feeds BOTH the unigram and bigram aggregates; margins join back
    * at vocabulary grain (broadcast — the bigram table above `minCount`
    * is tiny relative to the corpus).
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 5L, k: Int = 20): DataFrame = {
    val toks = df.select(col(idCol).as("_id"),
                         filter(tokens(col(textCol)), t => t =!= "")
                           .as("_toks"))
      .localCheckpoint(false)
    val uni = toks.select(explode(col("_toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).localCheckpoint(false)
    val tu = uni.agg(sum(col("c")).as("_tu"))
    val bi = toks.filter(size(col("_toks")) >= 2)
      .select(explode(orderedShingles(col("_toks"), 2)).as("_bg"))
      .groupBy(col("_bg")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("x", expr("split_part(_bg, ' ', 1)"))
      .withColumn("y", expr("split_part(_bg, ' ', 2)"))
    val tb = toks.filter(size(col("_toks")) >= 2)
      .agg(sum(size(col("_toks")) - 1).cast("long").as("_tb"))
    // Margins join at bigram-survivor grain: semi-prune the (potentially
    // huge) unigram vocabulary to tokens that appear in a surviving bigram
    // BEFORE broadcasting — the broadcast is then bounded by 2·|bi|.
    val members = bi.select(col("x").as("w"))
      .union(bi.select(col("y").as("w"))).distinct()
    val margins = uni.join(members, Seq("w"), "left_semi")
    Seal(bi.join(broadcast(margins.withColumnRenamed("w", "x")
                        .withColumnRenamed("c", "c_x")), Seq("x"))
      .join(broadcast(margins.withColumnRenamed("w", "y")
                        .withColumnRenamed("c", "c_y")), Seq("y"))
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .withColumn("lift_ppm", expr(
        "((((c_xy * _tu) DIV c_x) * _tu) DIV c_y) * 1000000 DIV _tb"))
      .orderBy(col("lift_ppm").desc, col("x"), col("y")).limit(k)
      .select("x", "y", "c_xy", "c_x", "c_y", "lift_ppm"),
      ckpts = Seq(toks, uni))
  }

  /** Kneser-Ney-style absolutely-discounted bigram LM in exact integer
    * ppm (the smoothing [[bigramLm]]'s raw MLE lacks — unseen-mass
    * redistribution weighted by CONTINUATION diversity, the KenLM/CCNet
    * model family). Discount D = 3/4 folded rationally (×4 both sides):
    *
    *   cont_ppm(w2)  = (N1+(·w2) · 1e6) DIV T          T = #bigram types
    *   disc_ppm      = (max(4·c12 − 3, 0) · 1e6) DIV (4·c1)
    *   backoff_ppm   = (3 · N1+(w1·) · cont_ppm) DIV (4·c1)
    *   p_ppm         = disc_ppm + backoff_ppm
    *
    * in exactly that operation order — every engine reproduces the DIVs
    * bit-identically, no float log ever. One corpus explode feeds the
    * bigram aggregate; c1 / N1+(w1·) / N1+(·w2) / T are all
    * vocabulary-grain re-aggregates of the bigram table itself (no second
    * corpus pass). Top-`k` bigrams by count, deterministic ties.
    */
  def bigramLmKn(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 20): DataFrame = {
    val toks = df.select(filter(tokens(col(textCol)), t => t =!= "")
                           .as("_toks"))
      .filter(size(col("_toks")) >= 2)
    val bi = toks
      .select(explode(orderedShingles(col("_toks"), 2)).as("_bg"))
      .groupBy(col("_bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", expr("split_part(_bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(_bg, ' ', 2)"))
      .drop("_bg").localCheckpoint(false)
    val heads = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1_head"))
    val conts = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1_cont"))
    val types = bi.agg(count(lit(1)).as("_t"))
    Seal(bi.join(broadcast(heads), Seq("w1"))
      .join(broadcast(conts), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("cont_ppm", expr("(n1_cont * 1000000L) DIV _t"))
      .withColumn("p_ppm", expr(
        """(greatest(4L * c12 - 3L, 0L) * 1000000L) DIV (4L * c1) +
          |(3L * n1_head * ((n1_cont * 1000000L) DIV _t)) DIV (4L * c1)"""
          .stripMargin))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(k)
      .select("w1", "w2", "c12", "c1", "n1_head", "n1_cont",
              "cont_ppm", "p_ppm"),
      ckpts = Seq(bi))
  }

  /** TRUE multi-round BPE vocabulary learning — per round: recount all
    * adjacent pairs over the CURRENT segmentation, take the argmax pair
    * (count desc, pair asc), merge it greedily left-to-right everywhere,
    * repeat. [[bpePairCounts]] is round 1 of this; the recount is what
    * makes it BPE rather than a frequency table.
    *
    * The corpus representation is the double-space token string
    * `" t1  t2  ...  tn "`: pair (a, b) occurs exactly as the substring
    * `" a  b "`, and because a match consumes only the FIRST trailing
    * space, a built-in left-to-right `replace` merges non-overlapping
    * consecutive occurrences while correctly skipping the overlapped one
    * in runs (`a a a` → `aa a`) — greedy BPE application as ONE codegen'd
    * string op per round, no per-token loop, no UDF. Both the recount
    * (split + explode + combine-enabled count) and the merge (broadcast
    * 1-row argmax cross join + replace) are corpus-sized narrow passes;
    * rounds are unrolled, so the whole learn is `rounds` shuffles.
    *
    * Returns (round, w1, w2, pair_count): the merge table in order.
    */
  def bpeLearn(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val ck = new Seal.Tracker
    var docs = ck.track(df.select(
      concat(lit(" "),
             concat_ws("  ", filter(tokens(col(textCol)), t => t =!= "")),
             lit(" ")).as("str")).localCheckpoint(false))
    var merges = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = docs
        .select(split(trim(col("str")), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> struct(element_at(t, i) AS w1,
            |              element_at(t, i + 1) AS w2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("pair_count"))
      val best = ck.track(pairs
        .orderBy(col("pair_count").desc, col("w1"), col("w2")).limit(1)
        .localCheckpoint(false))
      merges ::= best.withColumn("round", lit(r))
      docs = ck.track(docs.crossJoin(broadcast(best))
        .select(expr(
          """replace(str, concat(' ', w1, '  ', w2, ' '),
            |             concat(' ', w1, w2, ' '))""".stripMargin)
          .as("str"))
        .localCheckpoint(false))
    }
    ck.seal(merges.reverse.reduce(_ unionByName _)
      .select("round", "w1", "w2", "pair_count"))
  }

  /** RAKE-style keyphrase extraction, integer-exact: candidate phrases
    * are the maximal stopword-free token runs (stopwords delimit, they
    * never appear in a phrase), each word scores deg/freq — deg(w) =
    * Σ_{occurrences in phrases} len(phrase), freq(w) = occurrence count —
    * and a phrase scores the sum of its words' scores (ppm, pinned DIV
    * per word). Top-`k` phrases by (score desc, phrase asc) with corpus
    * occurrence counts.
    *
    * Shuffle shape: one posexplode pass; phrase identity = (doc, run id)
    * where run id is a per-doc cumulative stopword count (window on the
    * doc key — bounded by doc length); everything after is
    * phrase/word-vocabulary-grain aggregates with the word-score table
    * broadcast back.
    */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String,
                     lang: String = "en", k: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Stopwords(lang)
    val pos = df.select(col(idCol).as("_id"),
        posexplode(filter(tokens(col(textCol)), t => t =!= ""))
          .as(Seq("_p", "_w")))
      .withColumn("_isstop", col("_w").isInCollection(stop))
    val w = Window.partitionBy(col("_id")).orderBy(col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = pos
      .withColumn("_run", sum(col("_isstop").cast("long")).over(w))
      .filter(!col("_isstop"))
    val phrases = runs
      .groupBy(col("_id"), col("_run"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("_p"),
             col("_w")))).getField("_w")).as("phrase"),
           count(lit(1)).as("_len"))
      .localCheckpoint(false) // released by the Seal below
    val words = phrases
      .select(col("_len"), explode(split(col("phrase"), " ")).as("_w"))
      .groupBy(col("_w"))
      .agg(sum(col("_len")).as("_deg"), count(lit(1)).as("_freq"))
      .withColumn("_wscore", expr("_deg * 1000000L DIV _freq"))
    val uniq = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences")).localCheckpoint(false)
    // score once per UNIQUE phrase, member words with multiplicity
    // (re-split the phrase string), so score is occurrence-independent
    val scored = uniq.select(col("phrase"),
        explode(split(col("phrase"), " ")).as("_w"))
      .join(broadcast(words.select(col("_w"), col("_wscore"))), Seq("_w"))
      .groupBy(col("phrase")).agg(sum(col("_wscore")).as("score_ppm"))
    Seal(uniq.join(scored, Seq("phrase"))
      .orderBy(col("score_ppm").desc, col("phrase")).limit(k)
      .select("phrase", "n_occurrences", "score_ppm"),
      ckpts = Seq(phrases, uniq))
  }
}
