package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.Barriers.{Horizon, Round, materialize}
import graft.functions.GraftFunctions

/** Text-analysis suite over the documents table (SURVEY.md §2.4).
  *
  * All operators are single-pass, map-side-only column arithmetic — zero
  * shuffles except the output sort. Everything stays inside whole-stage
  * codegen (built-in functions + one custom codegen'd expression for the
  * fingerprint), so throughput is scan-bound at any scale.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** BPE-ish subword pattern: runs of alphanumerics or single punctuation
    * marks (both Java regex and RE2 interpret these classes identically).
    */
  private val tokenRe = "[a-z0-9]+|[^a-z0-9 ]"

  /** §2.4 text_tokencount: whitespace tokens + regex (punct-aware) tokens. */
  def textTokencount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(tokenRe), lit(0)))
          .cast("bigint").as("n_re_tokens"))
      .orderBy(col("doc_id"))

  /** §2.4 text_quality: length/word-shape quality heuristics. All ratios
    * are single fp divisions of exact integers → bit-identical across
    * engines; score is a fixed linear blend, rounded to 6dp.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    // single-spaced text: total word chars = len - (n_tokens - 1)
    val avgWord = (nChar - nTok + lit(1L)).cast("double") / nTok
    val digitRatio =
      size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double") / nChar
    val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
    val wordScore =
      when(avgWord >= 3.0 && avgWord <= 8.0, 1.0).otherwise(0.5)
    Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.as("n_tokens"),
        round(avgWord, 6).as("avg_word_len"),
        round(digitRatio, 6).as("digit_ratio"),
        round(lenScore * 0.6 + wordScore * 0.4, 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_readability: Flesch reading-ease / Flesch-Kincaid grade
    * per source (Flesch 1948; Kincaid 1975), with vowel-group syllable
    * counting — the classic corpus-quality profile a training-data
    * pipeline reports beside Gopher rules. The shipped corpus carries
    * no sentence punctuation, so the graded definition takes each
    * DOCUMENT as one sentence (documented degeneracy: words/sentences
    * becomes words/doc); syllables are [aeiouy]+ runs, complex words
    * are tokens with ≥3 vowel groups (the SMOG notion).
    *
    * Cross-engine exact: all counts are integers from identical
    * regex/class semantics (Java regex and RE2 agree on these character
    * classes); per-source sums are exact BIGINTs; both formulas are
    * single double chains over those integers in identical association
    * order, landing once at 6dp — no per-document float is ever summed.
    *
    * Scale shape: one scan, per-row regex work map-side inside codegen,
    * ONE map-side-combined aggregate into ≤ |sources| rows.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val w = size(toks).cast("bigint")
    val syl = size(regexp_extract_all(col("text"), lit("[aeiouy]+"),
      lit(0))).cast("bigint")
    val cplx = size(filter(toks,
      t => t.rlike("([aeiouy]+[^aeiouy]+){2}[aeiouy]"))).cast("bigint")
    val g = Tables.documents(spark, dir)
      .select(col("source"), w.as("w"), syl.as("syl"), cplx.as("cplx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("nw"),
        sum(col("syl")).as("ns"), sum(col("cplx")).as("nc"))
    val nd = col("n_docs").cast("double")
    val nwd = col("nw").cast("double")
    val nsd = col("ns").cast("double")
    g.select(col("source"), col("n_docs"), col("nw").as("n_words"),
        col("ns").as("n_syllables"), col("nc").as("n_complex_words"),
        round(nsd / nwd, 6).as("syl_per_word"),
        round(col("nc").cast("double") / nwd, 6).as("complex_ratio"),
        round(lit(206.835) - lit(1.015) * (nwd / nd) -
          lit(84.6) * (nsd / nwd), 6).as("flesch"),
        round(lit(0.39) * (nwd / nd) + lit(11.8) * (nsd / nwd) -
          lit(15.59), 6).as("fk_grade"))
      .orderBy(col("source"))
  }

  private val enStops = Seq("the", "a", "of", "and", "to", "in")
  private val esStops = Seq("el", "la", "de", "y", "que", "en")
  private val deStops = Seq("der", "die", "das", "und", "ist", "zu")

  /** §2.4 text_langid: stopword-hit language scoring (frequency-weighted),
    * argmax with deterministic en > es > de tie-break. The stopword lists
    * are literals compiled into the plan — broadcast-free.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    def hits(stops: Seq[String]): Column = {
      val litArr = array(stops.map(lit): _*)
      size(filter(toks, t => array_contains(litArr, t))).cast("bigint")
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        hits(enStops).as("en_hits"), hits(esStops).as("es_hits"),
        hits(deStops).as("de_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("de_hits"), "en")
          .when(col("es_hits") >= col("de_hits"), "es")
          .otherwise("de"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_fingerprint: 64-bit FNV-1a rolling fingerprint (codegen'd
    * custom expression) — the cheap first-stage signature for exact dedup
    * at 100 TB (fingerprint collision → confirm by full text compare).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), GraftFunctions.fingerprint64(col("text")).as("fp64"))
      .orderBy(col("doc_id"))

  /** §2.4 text_top_terms: corpus term frequencies, top 50 — the vocabulary-
    * statistics shape (explode → map-side-combined count → bounded top-N).
    * At 100 TB the explode multiplies rows ~500×, but the partial count
    * collapses them before the single shuffle; the final limit is tiny.
    */
  def textTopTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(50)

  /** §2.4 text_zipf: how Zipfian is the corpus — least-squares slope and
    * intercept of ln(frequency) over ln(rank) across the top-100 terms
    * (natural text sits near slope −1; a far-off slope flags boilerplate
    * floods, template spam, or tokenizer damage before the corpus ships
    * to training). The one corpus-health scalar the term histograms
    * (top_terms, rarity, vocab_growth) don't provide.
    *
    * Scale shape: identical to text_top_terms up to the bounded cut —
    * explode collapses map-side into the term histogram, ONE shuffle,
    * then the top-100 TakeOrdered; the ranking window and the
    * regression moments run over exactly 100 rows (single tiny
    * partition — bounded by the cut, never the vocabulary). The only
    * floats are the two ln()s feeding Welford moments over 100 points,
    * rounded to 6dp on both engines (libm ulp noise sits ~9 orders
    * below the round).
    */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(toks).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(100)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("term"))))
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(ln(n), ln(rank))"), 6).as("zipf_slope"),
        round(expr("regr_intercept(ln(n), ln(rank))"), 6)
          .as("zipf_intercept"))
  }

  /** §2.4 text_normalize: canonical text form for downstream dedup/
    * tokenization — lowercase, strip non-alphanumerics, collapse runs of
    * whitespace, trim. Pure codegen'd string ops, scan-bound.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("norm"),
        length(norm).cast("bigint").as("n_norm_chars"))
      .orderBy(col("doc_id"))
  }

  /** Stable per-doc bucket in [0, 100): first 4 hex digits of md5 of the
    * doc id, mod 100. md5 is bit-identical across engines and immune to
    * partitioning/row order — the ONLY sane way to sample or split a
    * corpus reproducibly at 100 TB (rand() changes under retries; row
    * position changes under repartition).
    */
  private def hashBucket: Column =
    (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("bigint") % 100).as("bucket")

  /** §2.4 pipeline_sample: deterministic 10% corpus sample by content-hash
    * bucket — reproducible on any cluster layout, no RNG state.
    */
  def pipelineSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hashBucket)
      .filter(col("bucket") < 10)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** §2.4 pipeline_split: stable 90/5/5 train/val/test assignment by the
    * same hash buckets — a doc's split never changes as the corpus grows,
    * so no train/test leakage across dataset versions.
    */
  def pipelineSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hashBucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  /** §2.4 pipeline_quality_sample: quality-weighted corpus sampling — a
    * doc's keep probability is proportional to its quality score (the
    * text_quality blend), decided by the SAME deterministic content-hash
    * buckets as pipeline_sample: keep iff bucket < qmil div 20 (a
    * quality-1.0 doc keeps at 50%, a 0.2 doc at 10%). The comparison is
    * pure integer arithmetic (quality → per-mil via one deterministic
    * round), so no float threshold can flip between engines, and the
    * sample is reproducible under any partitioning, retries, or corpus
    * growth — the property rand() sampling can never give a 100 TB build.
    */
  def pipelineQualitySample(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    val avgWord = (nChar - nTok + lit(1L)).cast("double") / nTok
    val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
    val wordScore = when(avgWord >= 3.0 && avgWord <= 8.0, 1.0).otherwise(0.5)
    val qmil = round(round(lenScore * 0.6 + wordScore * 0.4, 6) * 1000, 0)
      .cast("bigint")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), qmil.as("qmil"), hashBucket)
      .filter(col("bucket") < expr("qmil div 20"))
      .select(col("doc_id"), col("lang"), col("qmil"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_vocab_growth: vocabulary-growth curve (the Heaps'-law
    * report a corpus build tracks to spot crawl saturation): every distinct
    * term is attributed to the FIRST doc that introduces it (min doc_id),
    * new-term counts roll up into 50-doc ingestion batches, and a running
    * total gives cumulative vocabulary size. Spark-first: one explode into
    * a map-side-combined min, then a tiny second aggregate.
    *
    * Scale shape: the batch relation is corpus/50 rows, so even there a
    * global cumulative window is a corpus-proportional single task. The
    * prefix sum is two-level sharded (the pipeline_token_budget idiom):
    * shard = batch div 1024 — a prefix of the batch order — so per-shard
    * running sums plus cumulative shard totals (triangular broadcast
    * self-join over the corpus/51200-row shard relation, no window at
    * that level) reproduce the global running total with every window
    * partition capped at 1024 rows.
    */
  def textVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"))
    val (batches, _) = materialize(first
      .groupBy(expr("first_doc div 50").as("batch"))
      .agg(count(lit(1)).as("new_terms"))
      .withColumn("shard", expr("batch div 1024")))
    val shardTot = batches.groupBy(col("shard"))
      .agg(sum(col("new_terms")).as("st"))
    val off = shardTot.as("a")
      .join(shardTot.as("p"), col("p.shard") < col("a.shard"), "left_outer")
      .groupBy(col("a.shard").as("shard"))
      .agg(coalesce(sum(col("p.st")), lit(0L)).as("shard_off"))
    val win = Window.partitionBy(col("shard")).orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batches
      .withColumn("in_shard", sum(col("new_terms")).over(win))
      .join(broadcast(off), Seq("shard"))
      .select(col("batch"), col("new_terms"),
        (col("shard_off") + col("in_shard")).as("cum_vocab"))
      .orderBy(col("batch"))
  }

  /** §2.4 pipeline_interleave: deterministic balanced source interleaving —
    * the training-order scheduler for a heterogeneous corpus: docs are
    * ordered per source by content hash (stable under retries and corpus
    * growth within a source snapshot), sequence-numbered per source, and
    * the global (seq, source) order round-robins one doc from every source
    * before any source repeats.
    *
    * Scale shape: a per-source `row_number` window owns corpus/|sources|
    * rows per partition — unbounded. The sequence number is instead the
    * two-pass distributed rank ([[graft.Ranks.groupedRowNumber]]: one
    * range sort over (source, hash, id), every partition bounded n/P,
    * per-source offsets back by broadcast) — no ranking WindowExec
    * anywhere; the total output order is the gate's ORDER BY, not a
    * computed global rank.
    */
  def pipelineInterleave(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("ord"))
    graft.Ranks.groupedRowNumber(base, col("source"), "seq", "_sn",
        col("ord"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("seq"))
      .orderBy(col("seq"), col("source"))
  }

  /** §2.4 text_gopher_quality: Gopher-style repetition/shape quality rules
    * — word count, duplicate-word ratio, most-frequent-word fraction, mean
    * word length, and a composed keep/drop flag. Single scan, zero shuffle.
    *
    * The max word frequency is a ONE-pass fold over the sorted token array
    * (run-length max), not a nested per-distinct-word rescan — the lambda
    * touches only its accumulator and element, so no outer expression is
    * re-evaluated per element (the recompute trap documented in
    * Dedup.scala).
    */
  def textGopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val maxRun =
      """aggregate(
           array_sort(split(text, ' ')),
           named_struct('cur', 0L, 'best', 0L, 'prev', CAST(NULL AS STRING)),
           (a, x) -> named_struct(
             'cur',  IF(x <=> a.prev, a.cur + 1L, 1L),
             'best', GREATEST(a.best, IF(x <=> a.prev, a.cur + 1L, 1L)),
             'prev', x),
           a -> a.best)"""
    val nTok = size(toks).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.as("n_words"),
        size(array_distinct(toks)).cast("bigint").as("n_unique"),
        expr(maxRun).as("max_word_count"),
        ((nChar - nTok + lit(1L)).cast("double") / nTok).as("mwl"))
      .select(col("doc_id"), col("n_words"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_words"), 6)
          .as("dup_word_ratio"),
        round(col("max_word_count").cast("double") / col("n_words"), 6)
          .as("top_word_frac"),
        round(col("mwl"), 6).as("mean_word_len"),
        (col("n_words") >= 20 &&
          col("max_word_count").cast("double") / col("n_words") <= 0.125 &&
          lit(1.0) - col("n_unique").cast("double") / col("n_words") <= 0.6)
          .cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_contamination: train/test leakage detection — for every
    * test-split document, the fraction of its distinct word 3-grams that
    * also appear anywhere in the train split (the n-gram-overlap
    * decontamination check every eval pipeline needs). Splits reuse the
    * [[hashBucket]] assignment of pipeline_split, so the check is stable as
    * the corpus grows.
    *
    * Scale shape: 3-grams dedup per-doc map-side (array_distinct before
    * explode), the train side collapses to DISTINCT grams before the join,
    * and the single shuffle key is the gram itself. At 100 TB the train
    * gram set is the big relation — the test side is ~5% and joins against
    * it hash-partitioned; a bloom filter on test grams would pre-prune the
    * train scan, and hot grams are bounded by the per-doc distinct.
    */
  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"), hashBucket)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(Dedup.word3Grams(col("w")))).as("gram"))
    val train = grams.filter(col("bucket") < 90).select(col("gram")).distinct()
    val test = grams.filter(col("bucket") >= 95)
    test.join(train.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_shared"))
      .withColumn("contamination",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_pack: sequence packing for training — documents are
    * concatenated in a stable pseudo-random order and chunked into
    * fixed-budget (256-token) packs; each doc reports the pack its first
    * token lands in and its offset there (concat-then-chunk, the common
    * LLM pretraining packing).
    *
    * Scale shape: a single global running sum would serialize on one
    * reducer, so packing is SHARDED — hash buckets, each packed
    * independently by a bounded window (partitionBy bucket). The bucket
    * count is DERIVED from corpus size (≈50 docs per shard, computed by a
    * scalar subquery so the plan stays lazy and the oracle can mirror it
    * exactly): at 100 TB the shard count grows with the data and no
    * reducer's window ever sees more than ~the target per shard, instead
    * of corpus/constant through a literal 32. Pack identity is
    * (bucket, pack_id): deterministic for a fixed corpus under any
    * cluster layout.
    */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val docs = Tables.documents(spark, dir)
    val nBuckets = docs
      .agg(greatest(lit(1L),
        ceil(count(lit(1)).cast("double") / 50.0).cast("bigint")).as("nb"))
      .scalar()
    val packBucket =
      (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % nBuckets).as("bucket")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("ord"), packBucket)
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("bucket"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div ${budget}L").as("pack_id"),
        (col("start_tok") % budget).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_tfidf: per-document top term by inverse document frequency
    * weighting. The weight is the RATIONAL idf variant score = tf·N/df
    * (exact integer ratio in one fp division) rather than tf·ln(N/df):
    * within a fixed tf the two rank identically (ln is monotone), and the
    * rational form is bit-identical across engines — no libm in the
    * comparison path, so the per-doc argmax is deterministic.
    *
    * Scale shape: two map-side-combined aggregations (doc×term tf, then
    * term df) + a broadcast of the 1-row corpus count; the argmax is a
    * `min(struct(-score, term))` aggregate — combiner-friendly, never a
    * per-doc window over the corpus.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        min(struct((col("score") * -1.0).as("neg"), col("term").as("t")))
          .as("best"))
      .select(col("doc_id"), col("n_terms"), col("best.t").as("top_term"),
        round(col("best.neg") * -1.0, 6).as("top_score"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_perplexity: bigram-LM cross-entropy per document,
    * rolled up per source — the perplexity-proxy quality signal a
    * pretraining pipeline computes before mixture decisions (docs whose
    * own-corpus bigram surprise is high are boilerplate-free but noisy;
    * low = templated): train add-one-smoothed bigram counts over the
    * WHOLE corpus in one pass, score every document under the shared
    * model, P(w₂|w₁) = (c(w₁,w₂)+1)/(c₁(w₁)+V).
    *
    * Float discipline (the d2/list_reduce pattern): each document's
    * log-probability sum is a SEQUENTIAL left fold over its bigram list
    * in token order — collect_list(struct(pos, lp)) sorted, then
    * `aggregate` — so both engines add the identical doubles in the
    * identical order (DuckDB's list_reduce folds left with x₁ as init;
    * Spark's 0.0 seed is exact under IEEE +). Per-doc cross-entropies
    * round to 6dp and land in DECIMAL(18,6), so the per-source
    * mean/min/max aggregate EXACTLY — no order-dependent float sum ever
    * crosses a shuffle.
    *
    * Scale shape: the bigram relation persists once (model counts +
    * history counts + the scoring join consume it — eager-count
    * contract); model counts are map-side-combined aggregates; scoring
    * joins are equi-keyed on the bigram/history; the per-doc fold runs
    * over that document's own list only.
    */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) >= 2)
    val (big, _) = materialize(docs.select(col("doc_id"), col("source"),
      posexplode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("source"), (col("pos") + 1).as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2")))
    val bc = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cbg"))
    val hist = big.groupBy(col("w1")).agg(count(lit(1)).as("ch"))
    val voc = docs.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = big
      .join(bc, Seq("w1", "w2"))
      .join(hist, Seq("w1"))
      .crossJoin(broadcast(voc))
      .select(col("doc_id"), col("source"), col("pos"),
        log2((col("cbg").cast("double") + lit(1.0)) /
          (col("ch").cast("double") + col("v").cast("double"))).as("lp"))
    val perDoc = scored
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("nbg"),
        sort_array(collect_list(struct(col("pos"), col("lp")))).as("lst"))
      .select(col("doc_id"), col("source"), col("nbg"),
        round(-aggregate(col("lst"), lit(0.0),
          (acc, x) => acc + x.getField("lp")) /
          col("nbg").cast("double"), 6).cast(DecimalType(18, 6)).as("hd"))
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nbg")).cast("bigint").as("n_bigrams"),
        min(col("hd")).cast("double").as("min_ce"),
        max(col("hd")).cast("double").as("max_ce"),
        sum(col("hd")).as("sum_hd"))
      .crossJoin(broadcast(voc))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("v").as("vocab_size"), col("min_ce"), col("max_ce"),
        round(col("sum_hd").cast("double") / col("n_docs").cast("double"), 6)
          .as("avg_ce"))
      .orderBy(col("source"))
  }

  /** §2.4 pipeline_dsir_weights: Data Selection via Importance
    * Resampling (Xie et al. 2023) in bigram form — for every document
    * OUTSIDE the target domain (src0, the mixture policy's 100%-keep
    * source), the importance weight log P_target(doc) − log P_raw(doc)
    * under add-one-smoothed bigram models: the "which raw documents
    * look most like my target domain" ranking that decides what to
    * pull into a training mix. Top 25 candidates.
    *
    * Float discipline (the text_perplexity contract): each bigram's
    * log-ratio difference is a bit-identical double (log2 of ratios of
    * exact integer counts, identical association order); the per-doc
    * sum folds SEQUENTIALLY over the token-ordered list; the per-doc
    * weight rounds to 6dp and lands in DECIMAL(18,6), so the top-25
    * ranking compares exact decimals with the unique doc_id tie-break —
    * no float ever orders.
    *
    * Scale shape: the bigram relation persists once (both models and
    * the scoring join consume it — eager-count contract); the target
    * model is domain-sized; all scoring joins are equi-keyed on the
    * bigram/history with LEFT joins for unseen-in-target mass; top-25
    * is a bounded TakeOrdered.
    */
  def pipelineDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val target = "src0"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) >= 2)
    val (big, _) = materialize(docs.select(col("doc_id"), col("source"),
      posexplode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("source"), (col("pos") + 1).as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2")))
    val bcAll = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cba"))
    val chAll = big.groupBy(col("w1")).agg(count(lit(1)).as("cha"))
    val vAll = docs.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("va"))
    val bigT = big.filter(col("source") === target)
    val bcT = bigT.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cbt"))
    val chT = bigT.groupBy(col("w1")).agg(count(lit(1)).as("cht"))
    val vT = docs.filter(col("source") === target)
      .select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("vt"))
    val scored = big.filter(col("source") =!= target)
      .join(bcAll, Seq("w1", "w2"))
      .join(chAll, Seq("w1"))
      .join(bcT, Seq("w1", "w2"), "left_outer")
      .join(chT, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vAll))
      .crossJoin(broadcast(vT))
      .select(col("doc_id"), col("source"), col("pos"),
        (log2((coalesce(col("cbt"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("cht"), lit(0L)) + col("vt")).cast("double")) -
          log2((col("cba") + lit(1L)).cast("double") /
            (col("cha") + col("va")).cast("double"))).as("ld"))
    scored
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("ld")))).as("lst"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        round(aggregate(col("lst"), lit(0.0),
          (acc, x) => acc + x.getField("ld")) /
          col("n_bigrams").cast("double"), 6).cast(DecimalType(18, 6))
          .as("wdec"))
      .orderBy(col("wdec").desc, col("doc_id"))
      .limit(25)
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("wdec").cast("double").as("dsir_weight"))
  }

  /** §2.4 text_ngram_novelty: cross-document bigram novelty per source
    * — the self-BLEU-style diversity screen (Zhu et al. 2018's
    * self-overlap notion in exact set form): of all (document, distinct
    * bigram) incidences within a source, how many use a bigram that NO
    * other document of the source contains? A templated/boilerplate
    * source scores low novelty; text_ngram_repetition measures
    * repetition WITHIN a document, this measures it ACROSS documents.
    *
    * INTEGER-exact: per-document bigram sets are distinct, so the
    * (source, bigram) document count dc is exact; incidences Σdc,
    * shared mass Σdc·[dc≥2], and singleton mass are BIGINTs; the
    * novelty ratio is ONE 6dp division.
    *
    * Scale shape: one explode of per-doc DISTINCT bigrams → ONE
    * map-side-combined (source, bigram) aggregate → one per-source
    * rollup; no join at all.
    */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val bigrams = array_distinct(zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => concat(a, lit(" "), b)))
    Tables.documents(spark, dir)
      .filter(size(t) >= 2)
      .select(col("source"), explode(bigrams).as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("dc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigram_types"),
        sum(col("dc")).as("n_incidences"),
        sum(when(col("dc") >= 2L, col("dc")).otherwise(0L))
          .as("n_shared_incidences"),
        sum(when(col("dc") === 1L, 1L).otherwise(0L))
          .as("n_singleton_types"))
      .select(col("source"), col("n_bigram_types"), col("n_incidences"),
        col("n_shared_incidences"), col("n_singleton_types"),
        round((col("n_incidences") - col("n_shared_incidences"))
          .cast("double") / col("n_incidences").cast("double"), 6)
          .as("novelty_ratio"))
      .orderBy(col("source"))
  }

  /** §2.4 pipeline_mixture: corpus mixing — each source is downsampled at
    * its own target rate (the "data mixture weights" step of assembling a
    * training set). Keep/drop is the same content-hash bucket as
    * pipeline_sample, so a doc's fate is stable under growth, retries, and
    * any partitioning; the audit output reports per-source kept counts and
    * realized fractions in ONE conditional-aggregation pass (no
    * second scan of the kept subset).
    */
  def pipelineMixture(spark: SparkSession, dir: String): DataFrame = {
    // target keep-rate percent per source (a literal mixing policy;
    // sources outside the policy default to 20%)
    val ratePct: Column = coalesce(
      element_at(
        map(lit("src0"), lit(100L), lit("src1"), lit(50L), lit("src2"), lit(25L),
          lit("src3"), lit(10L), lit("src4"), lit(5L)),
        col("source")),
      lit(20L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), hashBucket, ratePct.as("rate_pct"))
      .groupBy(col("source"), col("rate_pct"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("kept_frac",
        round(col("n_kept").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** §2.4 pipeline_corpus_filter: the composed "prepare a training corpus"
    * selection — quality floor + token-count band + language-ID agreement,
    * all single-pass map-side column arithmetic over one scan (the
    * individual operators compose without extra passes or shuffles).
    */
  def pipelineCorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    val avgWord = (nChar - nTok + lit(1L)).cast("double") / nTok
    val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
    val wordScore = when(avgWord >= 3.0 && avgWord <= 8.0, 1.0).otherwise(0.5)
    val quality = round(lenScore * 0.6 + wordScore * 0.4, 6)
    def hits(stops: Seq[String]): Column = {
      val litArr = array(stops.map(lit): _*)
      size(filter(toks, t => array_contains(litArr, t))).cast("bigint")
    }
    // land the hit counts in attributes FIRST: referencing hits(...) from
    // several when-branches would re-run the higher-order filter per
    // branch (CaseWhen branches are not subexpression-eliminated)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tokens"),
        quality.as("quality"),
        hits(enStops).as("__en"), hits(esStops).as("__es"),
        hits(deStops).as("__de"))
      .withColumn("pred_lang",
        when(col("__en") >= col("__es") && col("__en") >= col("__de"), "en")
          .when(col("__es") >= col("__de"), "es")
          .otherwise("de"))
      .filter(col("quality") >= 0.7 && col("n_tokens").between(5, 1000) &&
        col("pred_lang") === col("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
        col("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_pii_redact: PII scrubbing — count and redact email / phone
    * patterns. The testdata carries no PII, so a deterministic rider
    * (derived from doc_id — identically on the oracle side) is appended
    * first; the md5 of the redacted text is emitted so the gate verifies
    * the REPLACEMENT byte-for-byte, not just the counts. Both patterns
    * stay inside the Java-regex ∩ RE2 common subset (character classes +
    * bounded repeats — no lookaround, no backrefs), so Spark and DuckDB
    * match identical spans. Map-side only; scan-bound at any scale.
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
    val pii = concat(col("text"), lit(" contact doc"),
      col("doc_id").cast("string"), lit("@example.com call +1-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), pii.as("pii"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii"), lit(emailRe), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("pii"), lit(phoneRe), lit(0)))
          .cast("bigint").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("pii"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_length_hist: sequence-length distribution per language —
    * the pre-training report that decides packing length and truncation
    * budget. Buckets are closed-form integer CASE bands (no log2 — fp
    * rounding at exact powers of two would let engines disagree); one
    * map-side-combined aggregation, then a tiny sort.
    */
  def pipelineLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val n = size(toks).cast("bigint")
    val bucket = when(n < 16, "a_lt16").when(n < 64, "b_16_63")
      .when(n < 256, "c_64_255").when(n < 1024, "d_256_1023")
      .otherwise("e_ge1024")
    Tables.documents(spark, dir)
      .select(col("lang"), n.as("n"), bucket.as("len_bucket"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .orderBy(col("lang"), col("len_bucket"))
  }

  /** §2.4 pipeline_decontaminate: benchmark decontamination — drop from the
    * TRAIN split every document sharing at least one word 3-gram with the
    * TEST split (the removal step text_contamination only reports on).
    * Splits reuse the stable [[hashBucket]] assignment.
    *
    * Scale shape: the test side is ~5% of the corpus and collapses to
    * DISTINCT grams before the join; contaminated train doc ids come from a
    * LEFT SEMI join keyed on the gram (bloom-filter-prunable, no row
    * multiplication), and the final anti-join carries bare ids — document
    * text never crosses a shuffle.
    */
  def pipelineDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"), hashBucket)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(Dedup.word3Grams(col("w")))).as("gram"))
    val testGrams = grams.filter(col("bucket") >= 95).select(col("gram")).distinct()
    val contaminated = grams.filter(col("bucket") < 90)
      .join(testGrams, Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), hashBucket)
      .filter(col("bucket") < 90)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_token_budget: budgeted corpus selection — per source,
    * take documents in stable content-hash order until a fixed token budget
    * is exhausted (the "give me N tokens per source" step of assembling a
    * mixture). The selection is reproducible under retries/repartitioning
    * because the order key is a content hash, not row position.
    *
    * Scale shape: a per-source running-sum window owns corpus/|sources|
    * rows per partition — unbounded. The prefix sum is instead two-level
    * sharded: shard = the leading 2 hex chars of the SAME hash that
    * orders the scan, so shard order is a PREFIX of the total (hash, id)
    * order and per-shard running sums + cumulative shard totals
    * reproduce the global running sum exactly, with every window
    * partition bounded at corpus/(|sources|·256). Shard offsets come from
    * a triangular broadcast self-join over the tiny |sources|×256
    * relation (no window at that level), and shards whose offset already
    * meets the budget are pruned BEFORE the window — the running sum only
    * ever touches the budget-reachable prefix of each source.
    */
  def pipelineTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 600L
    val (b, _) = materialize(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).cast("bigint").as("n_tokens"))
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("ord"), 1, 2)))
    val shardTot = b.groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("st"))
    val off = shardTot.as("a")
      .join(shardTot.as("p"),
        col("a.source") === col("p.source") &&
          col("p.shard") < col("a.shard"), "left_outer")
      .groupBy(col("a.source").as("source"), col("a.shard").as("shard"))
      .agg(coalesce(sum(col("p.st")), lit(0L)).as("shard_off"))
    val win = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(off), Seq("source", "shard"))
      .filter(col("shard_off") < budget)
      .withColumn("cum_before",
        col("shard_off") + coalesce(sum(col("n_tokens")).over(win), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_before"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_rarity: vocabulary-rarity scoring — a cheap unigram
    * "surprise" proxy for perplexity-based quality filtering: the mean
    * inverse document frequency over a doc's DISTINCT terms, plus its
    * rarest term. The per-term weight is the exact integer
    * `(N·1e6) div df` (rational idf in parts-per-million — no libm, so
    * cross-engine comparisons are bit-identical); the doc score is one
    * deterministic fp division chain at the end.
    *
    * Scale shape: two map-side-combined aggregations (per-doc distinct
    * explode → term df, then per-doc rollup); the rarest-term argmin is a
    * `min(struct(df, term))` aggregate — combiner-friendly, no window.
    */
  def textRarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    terms.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("ppm", expr("n_docs * 1000000L div df"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ppm")).as("sum_ppm"),
        min(struct(col("df").as("d"), col("term").as("t"))).as("rare"))
      .select(col("doc_id"), col("n_terms"),
        col("rare.t").as("rare_term"), col("rare.d").as("rare_df"),
        round(col("sum_ppm").cast("double") / col("n_terms") / 1000000.0, 6)
          .as("mean_rarity"))
      .orderBy(col("doc_id"))
  }

  /** The correctly-rounded double of ln 2, pinned as a LITERAL on both
    * engines ([[textJsDivergence]]) — constant-folding Math.log(2.0)
    * vs libm log(2.0) is not bit-specified, a pinned literal is. */
  private[graft] val Ln2 = 0.6931471805599453

  /** §2.4 text_js_divergence: Jensen-Shannon divergence of each
    * source's unigram distribution against the REST of the corpus
    * (Lin 1991) — "which source is distributionally distinct", the
    * screen a mixture-weighting pipeline (DoReMi-style domain
    * reweighting) runs before tuning sampling rates. Reports JSD in
    * nats and bits per source.
    *
    * Float discipline, cross-engine exact WITHOUT any ordered fold:
    * each term's contribution t = ½p·ln(2u/(u+v)) + ½q·ln(2v/(u+v))
    * (u = c_a·N_r, v = c_r·N_a — every ln argument a ratio of exact
    * BIGINT products) is a bit-identical double on both engines, is
    * quantized ONCE to the 12dp DECIMAL(28,12) grid (part of the
    * graded definition; grid error ≤ 5e-13·|vocab| — four orders under
    * the 6dp landing; a single cast, never round-then-cast, so no
    * double-rounding seam) and summed in DECIMAL, which is EXACT and
    * order-free — no float summation ever crosses partitions. Terms absent from the source
    * enter in closed form: their q-parts collapse to ½·ln2·(missing
    * rest mass), computed from two BIGINTs — this removes the
    * |sources|×|vocab| cross join a naive JSD would need. ln 2 is the
    * pinned literal [[Ln2]] on both engines.
    *
    * Scale shape: one explode → ONE map-side-combined (source, term)
    * aggregate; vocab totals derive from it; the per-source rollup is
    * a second combined aggregate; output ≤ |sources| rows. The
    * (source, term) relation is persisted + eagerly counted (three
    * consumers).
    */
  def textJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val (perST, _) = materialize(Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("ca")))
    val glob = perST.groupBy(col("term")).agg(sum(col("ca")).as("ct"))
    val perS = perST.groupBy(col("source"))
      .agg(sum(col("ca")).as("na"), count(lit(1)).as("n_terms"))
    val tot = perS.agg(sum(col("na")).as("n"))
    val j = perST.join(glob, Seq("term")).join(perS, Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("cr", col("ct") - col("ca"))
      .withColumn("nr", col("n") - col("na"))
      .withColumn("u", col("ca") * col("nr"))
      .withColumn("v", col("cr") * col("na"))
    val pPart = lit(0.5) * ((col("ca").cast("double") /
      col("na").cast("double")) *
      log((lit(2L) * col("u")).cast("double") /
        (col("u") + col("v")).cast("double")))
    val qPart = when(col("cr") > 0L,
      lit(0.5) * ((col("cr").cast("double") / col("nr").cast("double")) *
        log((lit(2L) * col("v")).cast("double") /
          (col("u") + col("v")).cast("double")))).otherwise(lit(0.0))
    val summed = j
      .select(col("source"), col("na"), col("nr"), col("n_terms"),
        col("cr"),
        (pPart + qPart).cast(DecimalType(28, 12)).as("t"))
      .groupBy(col("source"), col("na"), col("nr"), col("n_terms"))
      .agg(sum(col("t")).as("sdec"), sum(col("cr")).as("sr"))
    val jsdRaw = col("sdec").cast("double") +
      lit(0.5) * lit(Ln2) * ((col("nr") - col("sr")).cast("double") /
        col("nr").cast("double"))
    summed.select(col("source"), col("n_terms"),
        col("na").as("n_tokens"),
        round(jsdRaw, 6).as("jsd_nats"),
        round(jsdRaw / lit(Ln2), 6).as("jsd_bits"))
      .orderBy(col("source"))
  }

  /** §2.4 text_burstiness: Church-Gale term burstiness — for the 20
    * highest-frequency terms, the variance-to-mean ratio of per-document
    * counts (zeros included): VMR ≈ 1 is Poisson scatter, VMR ≫ 1 marks
    * bursty/topical terms (Church-Gale 1995) — the contagion screen a
    * stopword-vs-content classifier and a tf-idf damping choice both
    * read.
    *
    * INTEGER-exact: with S = Σc_d, SS = Σc_d² over all N docs, the
    * sample VMR is the rational (N·SS − S²)/(S·(N−1)) — both sides
    * BIGINT (zeros contribute nothing, so only term-bearing docs are
    * scanned while N enters symbolically), ONE division lands 6dp; the
    * top-20 ranking is by integer total with the term as tie-break.
    *
    * Scale shape: one explode → ONE map-side-combined (doc, term)
    * aggregate → one per-term rollup; top-20 is a bounded TakeOrdered;
    * N is a broadcast 1-row crossJoin.
    */
  def textBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tc = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("term"))
      .agg(sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"),
        count(lit(1)).as("doc_freq"))
      .crossJoin(broadcast(n))
      .orderBy(col("s").desc, col("term"))
      .limit(20)
      .select(col("term"), col("s").as("total_count"), col("doc_freq"),
        round((col("n_docs") * col("ss") - col("s") * col("s"))
          .cast("double") /
          (col("s") * (col("n_docs") - lit(1L))).cast("double"), 6)
          .as("vmr"))
  }

  /** §2.4 text_keywords: per-document top-3 keywords by the rational
    * tf·N/df weight (the multi-term extension of text_tfidf's argmax — the
    * keyword-extraction shape for tagging/indexing a corpus).
    *
    * The ranking window partitions by doc_id, so a partition is ONE
    * document's distinct-term set — bounded by document length, never by
    * corpus size (unlike a corpus-wide top-k, where a window would be the
    * scale bug and the bounded-heap aggregate is used instead).
    */
  def textKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"),
        round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** §2.4 text_langid_confusion: the language-ID confusion matrix —
    * declared vs predicted label counts with per-cell hit rates, the
    * evaluation report that decides whether the heuristic is good enough
    * before a corpus-wide relabel. Reuses text_langid's scoring inline
    * (hit counts land in attributes before the argmax CASE, see
    * pipeline_corpus_filter); one map-side-combined aggregate.
    */
  def textLangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    def hits(stops: Seq[String]): Column = {
      val litArr = array(stops.map(lit): _*)
      size(filter(toks, t => array_contains(litArr, t))).cast("bigint")
    }
    Tables.documents(spark, dir)
      .select(col("lang"), hits(enStops).as("__en"), hits(esStops).as("__es"),
        hits(deStops).as("__de"))
      .withColumn("pred_lang",
        when(col("__en") >= col("__es") && col("__en") >= col("__de"), "en")
          .when(col("__es") >= col("__de"), "es")
          .otherwise("de"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** §2.4 text_ngram_repetition: Gopher's duplicate n-gram family beyond
    * single words (text_gopher_quality covers those) — the fraction of
    * word bigram/trigram occurrences that are repeats of an earlier one,
    * the signal that catches boilerplate and looping generations that
    * unigram ratios miss. Pure map-side array arithmetic over one scan;
    * ratios are single fp divisions of exact integers.
    */
  def textNgramRepetition(spark: SparkSession, dir: String): DataFrame = {
    def grams(n: Int) =
      s"""IF(size(w) < $n, array(),
           transform(sequence(1, size(w) - ${n - 1}),
             i -> array_join(slice(w, i, $n), ' ')))"""
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6))
        .otherwise(0.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), expr(grams(2)).as("g2"), expr(grams(3)).as("g3"))
      .select(col("doc_id"),
        size(col("g2")).cast("bigint").as("n_bigrams"),
        dupFrac(col("g2")).as("dup_bigram_frac"),
        size(col("g3")).cast("bigint").as("n_trigrams"),
        dupFrac(col("g3")).as("dup_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_oversample: low-resource upsampling — each document is
    * replicated by its language's policy weight (the epoch-mixing step
    * that balances minority languages in a training set), with a stable
    * replica index so downstream packing/shuffling can distinguish
    * copies. Deterministic by construction (a literal policy map and an
    * integer sequence — no RNG); the explode is partition-local and
    * multiplies rows by exactly the policy factor, nothing more.
    */
  def pipelineOversample(spark: SparkSession, dir: String): DataFrame = {
    val weight: Column = coalesce(
      element_at(map(lit("en"), lit(1L), lit("es"), lit(2L), lit("de"), lit(3L)),
        col("lang")),
      lit(1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), weight.as("w"))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("w"))).as("rep"))
      .orderBy(col("doc_id"), col("rep"))
  }

  /** §2.4 pipeline_manifest: the END-TO-END corpus build as one query —
    * quality/length/language gate (pipeline_corpus_filter's predicate),
    * exact-dedup canonicalization (keep only each text's minimum doc_id),
    * and the stable train-split cut, composed into the release manifest a
    * training run actually consumes (per lang × source: docs and token
    * mass). Each stage is individually oracle'd elsewhere; this gate
    * proves the COMPOSITION — predicates stay map-side on one scan, the
    * dedup canonical is one digest-keyed aggregate joined back semi-style,
    * and the manifest rollup is a tiny final aggregate.
    */
  def pipelineManifest(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    // quality = least(nTok/50,1)*0.6 + (avgWord∈[3,8] ? 1 : 0.5)*0.4, but
    // scaled ×1000 into EXACT bigint arithmetic (least(nTok,50)*12 + 400|200,
    // avgWord∈[3,8] ⟺ 3·nTok ≤ nChar−nTok+1 ≤ 8·nTok): a threshold on a
    // 6dp-rounded double is the one Spark-HALF_UP vs DuckDB-half-even tie
    // hazard that could flip row membership between engines
    val ww = nChar - nTok + lit(1L)
    val wordOk = ww >= nTok * lit(3L) && ww <= nTok * lit(8L)
    val q1000 = least(nTok, lit(50L)) * lit(12L) +
      when(wordOk, lit(400L)).otherwise(lit(200L))
    def hits(stops: Seq[String]): Column = {
      val litArr = array(stops.map(lit): _*)
      size(filter(toks, t => array_contains(litArr, t))).cast("bigint")
    }
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        nTok.as("n_tokens"), q1000.as("q1000"), hashBucket,
        hits(enStops).as("__en"), hits(esStops).as("__es"),
        hits(deStops).as("__de"))
      .withColumn("pred_lang",
        when(col("__en") >= col("__es") && col("__en") >= col("__de"), "en")
          .when(col("__es") >= col("__de"), "es")
          .otherwise("de"))
    val canon = base
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    base
      .join(canon, Seq("doc_id"), "left_semi")
      .filter(col("q1000") >= 700L && col("n_tokens").between(5, 1000) &&
        col("pred_lang") === col("lang") && col("bucket") < 90)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  /** §2.4 text_code_detect: code-vs-prose classification — symbol
    * density plus programming-keyword hits, the crawl-filtering signal
    * that routes source code away from (or into) a text corpus. Pure
    * codegen'd column arithmetic over one scan (regex count + literal
    * keyword-array membership), zero shuffle; the regex stays inside the
    * Java∩RE2 common subset (one character class) so both engines match
    * identical spans, and the ratio is one fp division of exact integers.
    */
  def textCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val symRe = "[{}()\\[\\];=<>+*/#_|@&%$^~`\\\\-]"
    val kws = Seq("def", "return", "import", "class", "if", "else", "for",
      "while", "int", "void", "var", "let", "function", "public", "static")
    val kwArr = array(kws.map(lit): _*)
    val nChar = length(col("text")).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(symRe), lit(0)))
          .cast("bigint").as("n_symbols"),
        size(filter(toks, t => array_contains(kwArr, t)))
          .cast("bigint").as("n_kw_hits"),
        nChar.as("n_chars"))
      .select(col("doc_id"), col("n_symbols"), col("n_kw_hits"),
        round(col("n_symbols").cast("double") / col("n_chars"), 6)
          .as("symbol_ratio"),
        (col("n_symbols") * 20 >= col("n_chars") || col("n_kw_hits") >= 3)
          .cast("int").as("is_code"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_stratified_sample: exact-QUOTA stratified sampling —
    * every (lang, source) stratum contributes at most 30 documents,
    * chosen in stable content-hash order (the "balanced eval slice"
    * draw; rate-based pipeline_mixture can't promise exact per-stratum
    * counts). The ranking window partitions by stratum and the rank
    * filter is a WindowGroupLimit in Spark's physical plan: each task
    * keeps only the stratum's top 30 BEFORE the sort-exchange
    * materializes anything, so cost tracks quota × strata, not corpus
    * size — no stratum ever sorts in full. Hash order makes the draw
    * reproducible under retries, repartitioning, and corpus growth.
    */
  def pipelineStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 30)
      .orderBy(col("doc_id"))
  }

  /** §2.4 pipeline_dataset_card: the dataset-card summary — doc counts,
    * token/char mass, and mean lengths at every reporting granularity a
    * corpus release needs (per lang×source cell, per lang, per source,
    * global) in ONE pass via GROUPING SETS: Spark expands each row into
    * its four grouping projections map-side and every set aggregates
    * map-side-combined — four reports for one scan, no re-reads. The gid
    * column disambiguates levels exactly as grouping() does in BQ/DuckDB;
    * within a gid the nulled-out dimensions are constant, so the total
    * ORDER BY never compares NULL against a value (Spark sorts nulls
    * first, DuckDB last — a cross-engine trap this layout sidesteps).
    */
  def pipelineDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT lang, source,
             CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
             count(*) AS n_docs,
             sum(CAST(size(split(text, ' ')) AS BIGINT)) AS sum_tokens,
             sum(CAST(n_chars AS BIGINT)) AS sum_chars,
             round(CAST(sum(CAST(size(split(text, ' ')) AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS avg_tokens
         FROM documents
         GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
         ORDER BY gid, lang, source""")
  }

  /** §2.4 text_window_chunk: sliding-window chunking — 128-token windows
    * every 96 tokens (32-token overlap), the long-document shape for
    * context-bounded training and retrieval indexing. Chunk identity
    * (doc_id, chunk_idx) is a pure function of the document, stable under
    * any partitioning; the gate hashes each chunk's md5, so window
    * boundaries are verified byte-for-byte. Generate explodes
    * partition-locally — no shuffle beyond the output sort, and a doc
    * contributes ~n/96 rows, never a quadratic blowup.
    */
  def textWindowChunk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(1), size(col("tk")), lit(96))))
      .select(col("doc_id"), col("pos").cast("bigint").as("chunk_idx"),
        col("col").cast("bigint").as("start_tok"),
        slice(col("tk"), col("col"), lit(128)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("bigint").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** §2.4 pipeline_epoch_shuffle: deterministic multi-epoch shuffle
    * order — each training epoch sees the corpus in a different but
    * REPRODUCIBLE permutation (seeded by the epoch number), the data
    * ordering step between selection and packing in an epoch-based
    * training run.
    *
    * The permutation is two-level, which is the 100 TB form: a doc's
    * shuffle key is md5(epoch:doc_id); the first key character buckets
    * it into a shard and its rank materializes only WITHIN (epoch,
    * shard) — so the window partitions stay bounded by corpus/shards
    * (at crawl scale the shard count scales out to tens of thousands;
    * 8 here keeps the gate output readable), and no global rank — the
    * thing that cannot scale — ever exists. Readers reproduce the
    * permutation by consuming shards in (epoch, shard, pos) order.
    * All-integer + md5 hex output: nothing for engines to disagree on.
    */
  def pipelineEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
      .withColumn("skey", md5(concat_ws(":", col("epoch"), col("doc_id"))))
      .withColumn("shard",
        (ascii(substring(col("skey"), 1, 1)) % 8).cast("bigint"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("skey"), col("doc_id"))).cast("bigint"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** §2.4 text_bm25: Okapi BM25 relevance of every document against a
    * fixed query-term set (Robertson & Walker; the retrieval scorer a
    * curation pipeline uses to mine topical subsets — tf saturation +
    * length normalization, where text_tfidf's rational idf has neither).
    *
    * EXACT cross-engine arithmetic: with k1 = 1.2 and b = 0.75 folded
    * into integer coefficients, the score factors into two ratios of
    * exact integers —
    *   idf_r = (2N − 2df + 1) / (2df + 1)          (the ln-free
    *     Robertson idf argument; ln is omitted on BOTH engines, so the
    *     per-(doc,term) value stays a deterministic rational)
    *   sat   = 22·S·tf / (10·S·tf + 3·S + 9·dl·N)  (tf saturation with
    *     dl/avgdl length normalization; avgdl = S/N multiplied through,
    *     so no intermediate float)
    * — each an IEEE correctly-rounded division of exactly-representable
    * integers (≤ ~1e10 ≪ 2⁵³ at any tested SF), then one multiply:
    * bit-identical on Spark and DuckDB with no libm in the compare path
    * (the text_tfidf precedent). Per (doc, term) rows are emitted rather
    * than a per-doc float SUM, so no float accumulation order exists to
    * diverge.
    *
    * Scale shape: the term filter prunes the explode before any shuffle;
    * df and the 1-row corpus aggregate broadcast; the only large join is
    * tf × doc-length on doc_id. The query set is a literal — at 100 TB
    * the same plan serves any probe list small enough to broadcast.
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("dup", "spark", "join", "filter", "scan", "merge")
    val dl = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("bigint").as("dl"),
        col("tk"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("s_tokens"))
    val tf = dl.select(col("doc_id"), explode(col("tk")).as("term"))
      .where(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(dl.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("term"), col("tf"),
        round(
          ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1))
            .cast("double") / (lit(2) * col("df") + lit(1))) *
          ((lit(22) * col("s_tokens") * col("tf")).cast("double") /
            (lit(10) * col("s_tokens") * col("tf") + lit(3) * col("s_tokens")
              + lit(9) * col("dl") * col("n_docs"))),
          6).as("bm25"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** §2.4 pipeline_contrastive_pairs: training-pair construction for
    * contrastive embedding fine-tuning (SimCSE/E5-style): every document
    * with at least one near-duplicate becomes an anchor; its POSITIVE is
    * the smallest-id near-dup partner (from the exact AllPairs Jaccard
    * relation dedup_ngram_jaccard grades), and its NEGATIVE is a
    * content-hash-seeded draw from the whole corpus — md5(anchor) maps
    * to a dense doc rank, with the next two ranks (mod n) as collision
    * probes so the negative can never equal the anchor or the positive
    * (3 distinct ranks, at most 2 exclusions). Hash-seeded, not rand():
    * the pair set is retry-stable and growth-stable per anchor.
    *
    * Scale shape: positives reuse the graded near-dup pair relation
    * unchanged, read once for both directions; the dense doc rank is
    * the two-pass distributed [[graft.Ranks.rowNumber]] (never a
    * corpus-wide row_number window); negative resolution is THREE
    * equi-joins-worth of probe rows (posexplode of 3 ranks per anchor)
    * into the rank relation, then a min-struct pick by probe priority —
    * no range join, no nested loop, O(anchors) shuffle rows.
    */
  def pipelineContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    // the unordered pair relation: dedup_ngram_jaccard's sort would only
    // be undone by the aggregate; its caches stay for GraftCaches.release
    val best = graft.Barriers.symmetrize(
        Dedup.ngramPairs(spark, dir), "i", "j")
      .groupBy(col("src").as("anchor")).agg(min(col("dst")).as("pos_id"))
    // dense 0-based rank over doc ids — two-pass distributed
    val ids = graft.Ranks.rowNumber(docs, "rk1", col("doc_id"))
      .select(col("doc_id"), (col("rk1") - 1).as("rk"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val probes = best.crossJoin(broadcast(n))
      .withColumn("h0",
        expr("cast(conv(substring(md5(cast(anchor as string)), 1, 8), 16, 10) " +
          "as bigint) % n_docs"))
      .select(col("anchor"), col("pos_id"),
        posexplode(array(col("h0"), (col("h0") + 1) % col("n_docs"),
          (col("h0") + 2) % col("n_docs"))))
      .select(col("anchor"), col("pos_id"), col("pos").as("prio"),
        col("col").as("rk"))
    probes.join(ids, Seq("rk"))
      .filter(col("doc_id") =!= col("anchor") &&
        col("doc_id") =!= col("pos_id"))
      .groupBy(col("anchor"), col("pos_id"))
      .agg(min(struct(col("prio"), col("doc_id"))).as("w"))
      .select(col("anchor").as("anchor_id"), col("pos_id"),
        col("w.doc_id").as("neg_id"))
      .orderBy(col("anchor_id"))
  }

  private[graft] val BlockTokens = 10

  /** The (doc_id, idx, block) relation under text_block_dedup: documents
    * cut into fixed [[BlockTokens]]-token non-overlapping blocks (the
    * last block keeps its remainder).
    */
  private[graft] def docBlocks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0),
            expr(s"(size(t) - 1) div $BlockTokens").cast("int")),
          i => concat_ws(" ", slice(col("t"), i * BlockTokens + 1,
            lit(BlockTokens))))))
      .select(col("doc_id"), col("pos").cast("bigint").as("idx"),
        col("col").as("block"))

  /** §2.4 text_block_dedup: corpus-rewrite boilerplate removal — the
    * CCNet paragraph-dedup shape (Wenzek et al. 2020) on fixed 10-token
    * blocks (the corpus carries no paragraph marks): every block that
    * already occurred anywhere earlier in the corpus — (doc_id, idx)
    * lexicographic, keep-FIRST — is dropped, and each document is
    * re-emitted as its surviving blocks in order. The only operator
    * family member that REWRITES the corpus rather than reporting pairs;
    * repeated headers/footers/license banners vanish while one canonical
    * copy survives.
    *
    * Scale shape: the dedup decision never shuffles text — the exploded
    * block relation reduces to (doc_id, idx, 64-bit xxhash digest),
    * persists once (eager count — the winner aggregate and the
    * reconstruct join both consume it), and keep-first is ONE
    * map-side-combined min(struct(doc_id, idx)) per digest. Winners come
    * back as slim (doc_id, idx) pairs into a co-keyed join against the
    * re-derived block text, and the final per-document concat groups by
    * doc_id — bounded by document length, never corpus-wide. The xxhash
    * digest is collision-managed the dedup_substring way: the digest
    * only GROUPS candidates, and the reconstruct emits the block text of
    * the winning (doc_id, idx) itself, so a collision can only drop a
    * block (flagged by the oracle comparing full strings), never emit
    * wrong text.
    */
  def textBlockDedup(spark: SparkSession, dir: String): DataFrame =
    blockDedupCore(Tables.documents(spark, dir))

  /** The keep-first rewrite under text_block_dedup, on any relation with
    * (doc_id, text) columns.
    */
  private[graft] def blockDedupCore(docs: DataFrame): DataFrame = {
    val blocks = docBlocks(docs)
    val (slim, _) = materialize(blocks
      .select(col("doc_id"), col("idx"), xxhash64(col("block")).as("dig")))
    val winners = slim
      .groupBy(col("dig"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"))
    val kept = docBlocks(docs).join(winners, Seq("doc_id", "idx"))
    docs.select(col("doc_id")).join(kept, Seq("doc_id"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        coalesce(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("idx"), col("block")))),
            b => b.getField("block"))),
          lit("")).as("clean_text"),
        count(col("idx")).as("n_kept_blocks"))
      .orderBy(col("doc_id"))
  }

  /** §2.4 text_hapax: per-source vocabulary-health report — vocabulary
    * size, hapax legomena (terms occurring exactly once in the source),
    * hapax share of the vocabulary, and corpus-level type-token ratio.
    * Natural text runs ~40-60% hapax; a collapsed share flags template
    * floods and boilerplate BEFORE training, the same corpus-health
    * axis as text_zipf but per source and without a regression. All
    * counts are exact integers; the two shares are single float
    * divisions, 6dp.
    *
    * Scale shape: one explode → (source, term) map-side-combined count
    * (the df relation), then a vocabulary-sized rollup per source —
    * token volume never reaches the second aggregate.
    */
  def textHapax(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).cast("bigint")
          .as("hapax"),
        sum(col("n")).cast("bigint").as("n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("n_tokens"),
        round(col("hapax").cast("double") / col("vocab"), 6)
          .as("hapax_share"),
        round(col("vocab").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))
      .orderBy(col("source"))
  }

  /** §2.4 text_collocations: pointwise mutual information over adjacent
    * token bigrams — which word pairs co-occur far beyond chance, the
    * phrase-mining / tokenizer-merge-candidate primitive (BPE's merge
    * rule IS repeated argmax over exactly this table). PMI =
    * ln(N·c₁₂ / (c₁·c₂)) where c₁/c₂ count bigram FIRST/SECOND slots —
    * every count is an exact integer, the products stay far inside
    * BIGINT (c₁₂·N ≲ 1e13 at sf0.1), and ln is the single float,
    * rounded 6dp. The c₁₂ ≥ 5 support cut and the (count, w1, w2)
    * output order are all-integer, so no float ever ranks or cuts a
    * row.
    *
    * Scale shape: bigrams explode map-side from a zipped slice (no
    * self-join on position), collapse in ONE map-side-combined count;
    * the slot-marginal tables are vocabulary-sized and derived from
    * the already-collapsed bigram counts (never a second corpus scan),
    * joined back hash-by-hash; N broadcasts as a 1-row crossJoin.
    */
  def textCollocations(spark: SparkSession, dir: String): DataFrame = {
    val (big, _) = materialize(Tables.documents(spark, dir)
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("w1"),
        slice(toks, lit(2), size(toks) - 1).as("w2"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")))
    val c1 = big.groupBy(col("w1")).agg(sum(col("c12")).cast("bigint").as("c1"))
    val c2 = big.groupBy(col("w2")).agg(sum(col("c12")).cast("bigint").as("c2"))
    val n = big.agg(sum(col("c12")).cast("bigint").as("n_bigrams"))
    big.filter(col("c12") >= 5)
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") * col("n_bigrams")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6).as("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
  }

  /** §2.4 text_simpson_diversity: Simpson concentration per source —
    * the probability two randomly drawn tokens are the SAME type,
    * D = Σf(f−1)/(N(N−1)), with the Gini-Simpson complement (1−D) and
    * the inverse-Simpson "effective vocabulary" (1/D, the number of
    * equally-common types that would produce this concentration).
    * Complements text_hapax/text_zipf on the corpus-health axis: hapax
    * measures the rare tail, zipf the rank slope, this the HEAD
    * concentration — a template flood collapses inverse-Simpson long
    * before the vocabulary count moves. Every moment is an exact
    * integer (f ≲ 1e6 at sf0.1 keeps Σf² far inside BIGINT); the three
    * outputs are single float divisions off the same integer pair, 6dp.
    *
    * Scale shape: one explode → (source, term) map-side-combined count,
    * then a vocabulary-sized rollup per source — token volume never
    * reaches the second aggregate (the text_hapax shape exactly).
    */
  def textSimpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("f")).cast("bigint").as("n_tokens"),
        sum(col("f") * (col("f") - 1L)).cast("bigint").as("coll"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("coll").cast("double") /
          (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"), 6)
          .as("simpson"),
        round(lit(1.0) - col("coll").cast("double") /
          (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"), 6)
          .as("gini_simpson"),
        round((col("n_tokens") * (col("n_tokens") - 1L)).cast("double") /
          col("coll").cast("double"), 6).as("inv_simpson"))
      .orderBy(col("source"))
  }

  /** §2.4 pipeline_bpe_fit: byte-pair-encoding merge learning over the
    * corpus — the tokenizer-TRAINING job itself (Sennrich et al. 2016;
    * text_collocations ranks merge candidates once, this runs the
    * actual iterative argmax-and-merge loop a production tokenizer fit
    * is): per round, count adjacent symbol pairs across the
    * frequency-weighted word table, take the most frequent pair
    * (count DESC, then lexical (left, right) — all-integer
    * tie-breaking), merge it greedily left-to-right in every word, and
    * repeat. Stops early when no pair reaches count 2. Output: the
    * learned merge table (round, left, right, pair_count, merged).
    *
    * Scale shape: the corpus is touched ONCE (explode → word-frequency
    * table — the same map-side collapse as text_top_terms); every round
    * then runs on the VOCABULARY (|distinct words| rows, thousands per
    * billion tokens): one pair explode weighted by freq, one map-side-
    * combined count, a 1-row TakeOrdered argmax to the driver (the
    * bounded per-round result the k-means trainer also owns), and a
    * functions.aggregate fold applying the merge — no corpus re-scan,
    * rounds run through [[graft.Barriers.fixpoint]] and land in
    * [[graft.Barriers.roundBarrier]] (the iterative-loop invariant:
    * eager truncation, never persist/unpersist chains).
    */
  def pipelineBpeFit(spark: SparkSession, dir: String): DataFrame =
    pipelineBpeFit(spark, dir, 12)

  def pipelineBpeFit(spark: SparkSession, dir: String, rounds: Int)
      : DataFrame =
    bpeFitCore(
      Tables.documents(spark, dir)
        .select(explode(toks).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq")),
      rounds)

  /** The merge loop over an explicit (w, freq) word table — the public
    * entry feeds it the corpus vocabulary; specs feed it synthetic
    * words to pin the greedy-overlap semantics.
    */
  private[graft] def bpeFitCore(wordFreq: DataFrame, rounds: Int)
      : DataFrame = bpeRun(wordFreq, rounds)._1

  /** Fit AND the fitted vocabulary: the merge table plus the final
    * (w, freq, syms) symbolization — what [[pipelineBpeApply]] joins
    * back onto the corpus (applying learned merges is a lookup against
    * the vocabulary the fit already produced, never a re-fold per doc).
    */
  private[graft] def bpeRun(wordFreq: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val words0 = graft.Barriers.roundBarrier(
      wordFreq.select(col("w"), col("freq"), split(col("w"), "").as("syms")))
    // loop `bpe`: a round reports its merged pair's count, 0 when no pair
    // reaches count 2 (the early stop); `rounds` is the definition's
    // merge count, so reaching it returns
    val ((words, merges), _) = graft.Barriers.fixpoint("bpe", Horizon(rounds))(
        (words0, Vector.empty[(Long, String, String, Long, String)])) {
        case ((words, merges), round) =>
      val best = words
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r")))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect() // 1 row: this round's merge (driver-bounded argmax)
      if (best.isEmpty || best(0).getLong(2) < 2L)
        Round((words, merges), 0)
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        val cnt = best(0).getLong(2)
        // greedy left-to-right merge: a just-merged symbol never
        // re-merges with the next element in the same pass (the fold
        // compares the ACCUMULATED last symbol, which is l+r ≠ l unless
        // r is empty — and "" never appears as a pair side)
        val next = graft.Barriers.roundBarrier(
          words.select(col("w"), col("freq"),
            aggregate(col("syms"),
              array().cast("array<string>"),
              (acc, x) => when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(lit(l + r))))
                .otherwise(concat(acc, array(x)))).as("syms")))
        Round((next, merges :+ ((round.toLong, l, r, cnt, l + r))), cnt)
      }
    }
    (merges.toDF("round", "left", "right", "pair_count", "merged")
      .orderBy(col("round")), words)
  }

  /** §2.4 pipeline_bpe_apply: tokenize the corpus with the merges
    * pipeline_bpe_fit just learned — the apply half of tokenizer
    * training (fit learns ON the vocabulary; apply is a broadcast-able
    * (word → subword count) LOOKUP joined back onto the corpus, never a
    * per-document re-fold): per doc, whitespace token count, BPE
    * subword count, character count, and the compression ratio a
    * tokenizer owner reads (chars per BPE token, 6dp).
    *
    * Scale shape: the fit's vocabulary-bounded loop runs once; the
    * apply is one corpus explode joined hash-by-hash (or broadcast —
    * the vocabulary is tiny) against the (w, n_sub) map, then one
    * per-doc aggregate.
    */
  def pipelineBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (_, fitted) = bpeRun(
      Tables.documents(spark, dir)
        .select(explode(toks).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq")),
      12)
    val sub = fitted.select(col("w"),
      size(col("syms")).cast("bigint").as("n_sub"),
      length(col("w")).cast("bigint").as("n_chars"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .join(sub, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws_tokens"),
        sum(col("n_sub")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        col("n_chars"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }
}
