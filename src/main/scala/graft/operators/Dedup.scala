package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{DriverGraph, Tables}
import graft.Barriers.{materialize, persist, scoped}
import graft.functions.GraftFunctions

/** LLM-pipeline deduplication suite (SURVEY.md §2.3).
  *
  * Every operator is linear or block-bounded — no O(n²) self-join ever
  * touches the full corpus:
  *  - exact dedup is one hash-groupBy (map-side combined);
  *  - exact Jaccard near-dup candidates (token sets, chunk digests) come
  *    from one rare-token prefix filter, [[jaccardCandidates]] (exact
  *    AllPairs — lossless, and stopwords never index);
  *  - MinHash/LSH and SimHash bound candidate pairs by band buckets;
  *  - embedding near-dup candidates come from label-free RHP buckets
  *    (16 tables × 4 sign bits, constants shared with the oracle).
  * At cluster scale the only skew risk is a hot band bucket; AQE skew-join
  * handles it, and the band count (16) is the knob that trades recall for
  * bucket size.
  */
object Dedup {

  /** Whitespace tokens of the document text (testdata is single-spaced). */
  private def toks: Column = split(col("text"), " ")

  /** Sorted, distinct word 3-shingle set `sh` (empty when < 3 tokens) of
    * each document of a (doc_id, text, …) relation — the one shingling of
    * dedup_minhash_lsh, the minhash sketch and dedup_containment.
    *
    * The token array lands in its own projection first. The shingle
    * expression reads it five times (two sizes, then three element_at
    * per shingle inside the lambda); an inlined `split(text)` is
    * re-evaluated at every reference, so each shingle re-split the whole
    * text — O(tokens²) per document, interpreted. CollapseProject does
    * not inline a non-cheap expression its consumer references more than
    * once, so the split now runs once per document.
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        array_sort(array_distinct(word3Grams(col("w")))).as("sh"))

  /** The word 3-grams of a token array, in order (empty when it has < 3
    * tokens). `w` must be an already-landed column: the lambda reads it
    * three times per gram (the [[shingleSets]] note).
    */
  private[graft] def word3Grams(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
          element_at(w, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** Jaccard over sorted+distinct sets: one merge walk per pair (codegen'd
    * kernel) — the sort happens once per DOC in the projection, not once
    * per PAIR like hash-based array_intersect/array_union would.
    */
  private def jaccard(a: Column, b: Column): Column =
    GraftFunctions.jaccardSorted(a, b)

  /** §2.3 dedup_exact: exact text dedup over a simulated re-crawl (the
    * corpus unioned with an id-shifted copy of itself — the testdata has
    * no verbatim dups of its own). One hash-groupBy on md5(text); keeps
    * the minimum doc_id as canonical (first-writer-wins).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val recrawl = d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    d.unionAll(recrawl)
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy(col("canonical_id"))
  }

  /** §2.3 dedup_stats: per-source duplication audit over the same
    * re-crawled corpus dedup_exact resolves — the "how duplicated is each
    * feed" report that decides which sources are worth crawling. Two-level
    * aggregation: (source, content-hash) partial counts collapse map-side
    * before the only shuffle, then a tiny per-source rollup; document text
    * never leaves the scan (only 16-byte digests shuffle).
    */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    // partial re-crawl: a stable 40% hash slice comes back under fresh ids
    // (per-source dup rates then vary with content, as a real crawl's do)
    val recrawl = d.filter(
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100 < 40)
    val perText = d.unionAll(recrawl)
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
    perText.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("dup_docs"),
        round((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"), 6)
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  /** §2.3 dedup_substring: exact duplicated-SPAN detection — the
    * substring-level dedup a near-dup pass misses (two long documents
    * sharing one boilerplate paragraph are NOT near-dups, but the shared
    * span still leaks verbatim into training data). 20-token windows at
    * stride 10 are fingerprinted per document (stride-aligned windows of
    * identical text collide by construction; the 10-token overlap means
    * every duplicated run ≥ 30 tokens is guaranteed to contain at least
    * one aligned full window on both sides when the two occurrences
    * start at offsets congruent mod the stride — verbatim re-crawl
    * copies, the dominant case, always qualify at offset 0; catching
    * arbitrary-offset reuse takes stride 1 or winnowing, a 10× cost
    * knob, not a design change); spans occurring in 2+ distinct
    * documents are reported with document/occurrence counts.
    *
    * Scale shape: the explode is partition-local and emits ~n/10 rows per
    * doc (never quadratic); only 32-byte digests shuffle, never text; the
    * double aggregation ((span, doc) partial counts, then per-span
    * rollup) is map-side combined at both levels and avoids the Expand
    * a fused count-distinct would plan. Duplicated-span mass is the
    * quadratic-free analogue of the Lee et al. suffix-array pass: window
    * fingerprints approximate "duplicated substring ≥ 20 tokens" with
    * bounded memory at any corpus size.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val wins =
      """IF(size(w) < 20, array(),
           transform(sequence(1, size(w) - 19, 10),
             i -> md5(array_join(slice(w, i, 20), ' '))))"""
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the same simulated re-crawl corpus dedup_exact resolves (the
    // testdata has no verbatim dups of its own), so duplicated spans exist
    val recrawl = d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    d.unionAll(recrawl)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), explode(expr(wins)).as("span_md5"))
      .groupBy(col("span_md5"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("span_md5"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_md5"))
  }

  /** §2.3 dedup_winnow: winnowed span fingerprints — the arbitrary-offset
    * complement to [[dedupSubstring]]'s stride-aligned windows. Every
    * 8-token gram is hashed at EVERY offset; a sliding window of 13
    * consecutive gram hashes keeps each window's MINIMUM (Schleimer et
    * al.'s winnowing, the MOSS / Lee-et-al. span-fingerprint): any two
    * documents sharing a verbatim run of ≥ 13+8−1 = 20 tokens are
    * GUARANTEED to share a selected fingerprint — the window of gram
    * hashes inside the shared run is identical in both documents, so both
    * select the same minimum — regardless of where the run starts in
    * either document. That kills the stride-congruence blind spot
    * dedupSubstring documents: its simulated re-crawl here is SHIFTED by
    * one token, so NO stride-10 window of a copy aligns with its original
    * (offsets differ by 1 ≢ 0 mod 10) while every copy still shares one
    * fingerprint per winnow window. DedupSpec holds the guarantee against
    * a brute-force stride-1 span scan.
    *
    * Scale shape: hashing is partition-local (~n gram hashes + ~n window
    * minima per doc, never quadratic); winnowing selects ~2/(w+1) ≈ 14%
    * of positions and only DISTINCT (doc, fingerprint) digests shuffle —
    * text never crosses the wire. The gram-hash array lands in a
    * PERSISTED attribute before the window-min projection: the min lambda
    * slices it once per position, and CollapseProject would otherwise
    * inline the md5 transform into every slice — O(n·w) hash evals per
    * doc (the 16× recompute class in CLAUDE.md).
    */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(spark, dir)
      .groupBy(col("span_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_fp"))

  /** The distinct (doc_id, span_fp) winnow-selection relation over the
    * shifted re-crawl corpus — split out so DedupSpec can hold the
    * winnowing guarantee pairwise against a brute-force stride-1 scan.
    */
  private[operators] def winnowFingerprints(spark: SparkSession,
      dir: String): DataFrame = {
    val K = 8  // gram size
    val W = 13 // winnow window (grams) → guarantee threshold K+W−1 = 20
    val grams =
      s"""IF(size(w) < $K, array(),
           transform(sequence(1, size(w) - ${K - 1}),
             i -> md5(array_join(slice(w, i, $K), ' '))))"""
    val sel =
      s"""IF(size(hs) < $W, array(),
           transform(sequence(1, size(hs) - ${W - 1}),
             j -> array_min(slice(hs, j, $W))))"""
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // offset-shifted re-crawl: one prepended token, the copy family the
    // stride-aligned operator cannot see (and exact dedup can't either)
    val recrawl = d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(lit("xshift "), col("text")).as("text"))
    val hashed = d.unionAll(recrawl)
      .repartition(col("doc_id")) // single-row-group parquet → spread CPU
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), expr(grams).as("hs"))
      // a plan barrier for its one consumer, no count needed
      .transform(persist)
    hashed
      .select(col("doc_id"), explode(expr(sel)).as("span_fp"))
      .distinct() // a fingerprint often wins many consecutive windows
  }

  /** Candidate pairs of an exact set-similarity join at Jaccard ≥
    * num/den — the AllPairs prefix filter (Bayardo et al.) behind
    * mm_cdc_incremental (1/2) and, as [[selfJaccardCandidates]],
    * dedup_ngram_jaccard (9/10). `probe` and `index` are (id, set)
    * relations of distinct-token sets; `df` is (token, df). Each set
    * orders its tokens by rarity (df asc, token asc, one `row_number`
    * window per id; a token absent from `df` is df 0) and posts only its
    * first n − ⌈num·n/den⌉ + 1: a pair at Jaccard ≥ num/den shares at
    * least ⌈num·n/den⌉ of each side's n tokens, so under ANY one global
    * order its first shared token sits in both prefixes — lossless, and
    * the oracle is the exhaustive scan. Rarity is for cost: a common
    * token ranks out of every prefix. The token equi-join also keeps only
    * den·min(nᵢ, nⱼ) ≥ num·max(nᵢ, nⱼ). All in exact integers (a double
    * product could move the prefix boundary against DuckDB's DECIMAL).
    * Output: distinct (i = probe id, j = index id); no job runs here.
    */
  private[graft] def jaccardCandidates(probe: DataFrame, index: DataFrame,
      df: DataFrame, num: Int, den: Int): DataFrame =
    postingPairs(rarityPosts(probe, df, num, den),
      rarityPosts(index, df, num, den), num, den)

  /** [[jaccardCandidates]] of `sets` against itself, for sets whose
    * arrays are ALREADY in one global token order (ascending ids of a
    * rarity-ranked vocabulary): the distinct pairs i < j, over postings
    * materialized once for both join sides.
    */
  private[graft] def selfJaccardCandidates(sets: DataFrame, num: Int,
      den: Int): DataFrame = {
    val (posts, _) = materialize(orderedPosts(sets, num, den))
    postingPairs(posts, posts, num, den).filter(col("i") < col("j"))
  }

  /** (token, id, n) prefix postings under the rarity order of `df`. */
  private def rarityPosts(sets: DataFrame, df: DataFrame, num: Int,
      den: Int): DataFrame =
    sets.toDF("id", "set")
      .select(col("id"), size(col("set")).as("n"),
        explode(col("set")).as("token"))
      .join(df.toDF("token", "df"), Seq("token"), "left_outer")
      .select(col("token"), col("id"), col("n"),
        row_number().over(Window.partitionBy(col("id"))
          .orderBy(coalesce(col("df"), lit(0L)), col("token"))).as("rn"))
      .filter(col("rn") <= prefixLen(num, den))
      .select(col("token"), col("id"), col("n"))

  /** (token, id, n) prefix postings of sets already in the global order. */
  private def orderedPosts(sets: DataFrame, num: Int, den: Int): DataFrame =
    sets.toDF("id", "set")
      .select(col("id"), size(col("set")).as("n"), col("set"))
      .select(explode(slice(col("set"), lit(1), prefixLen(num, den)
        .cast("int"))).as("token"), col("id"), col("n"))

  /** n − ⌈num·n/den⌉ + 1 over the size column `n`, in integers. */
  private def prefixLen(num: Int, den: Int): Column =
    col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1

  /** Distinct (i, j) of two posting relations sharing a token, under
    * the size filter of [[jaccardCandidates]]. */
  private def postingPairs(p: DataFrame, q: DataFrame, num: Int,
      den: Int): DataFrame =
    p.toDF("ti", "i", "ni")
      .join(q.toDF("tj", "j", "nj"), col("ti") === col("tj") &&
        col("ni") * den >= col("nj") * num &&
        col("nj") * den >= col("ni") * num)
      .select(col("i"), col("j"))
      .distinct()

  /** Unsorted near-dup pair relation (i < j, rounded jac ≥ 0.9) — shared
    * by the pair query, the clustering operator and
    * pipeline_contrastive_pairs. Candidates: [[selfJaccardCandidates]] at
    * 9/10 over int token ids assigned in rarity order, so one sorted id
    * set is both the prefix order and the rerank kernel's merge order
    * (over the string sets with a per-set rarity sort the query ran
    * 5.6 → 10.0 s at sf0.1 on 4 cores). This replaced a (lang,
    * length-bucket) blocking that silently missed 91% of true pairs
    * (cross-language duplicates and bucket straddlers; 790 of 9020 at
    * sf0.01).
    */
  private[operators] def ngramPairs(spark: SparkSession,
      dir: String): DataFrame = {
    // repartition: single-row-group testdata parquet would tokenize in ONE
    // task; t feeds the df count and the vocab-id join.
    val t = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), array_sort(array_distinct(toks)).as("tset"))
      // no count: the vocab ranking's position job below fills it
      .transform(persist)
    val tok = t.select(col("doc_id"), explode(col("tset")).as("token"))
    // dense integer id per token in global-rarity order (df asc, token
    // asc): a BIJECTION, so jaccard over tid sets equals jaccard over
    // token sets. The rank is the two-pass distributed
    // [[graft.Ranks.rowNumber]] (a crawl vocabulary is too big for one
    // window reducer). tid is an INT (half a long's array bytes); past
    // 2^31 distinct tokens it fails LOUDLY, never wraps into colliding ranks
    val vocab = graft.Ranks.rowNumber(
        tok.groupBy(col("token")).agg(count(lit(1)).as("df")),
        "rk", col("df"), col("token"))
      .select(col("token"),
        when(col("rk") <= Int.MaxValue, col("rk").cast("int"))
          .otherwise(raise_error(concat(lit("vocabulary rank "),
            col("rk").cast("string"), lit(" exceeds int ids"))))
          .as("tid"))
    // per-doc sorted tid set (one agg), read by the postings and both
    // rerank sides; no broadcast hint on the corpus-sized vocab. The
    // fixed-width repartition matters: AQE coalesced the agg shuffle to
    // ONE partition, the cache pinned it, and as hashpartitioning(doc_id)
    // satisfied the candidate distinct's distribution, a 22M-row distinct
    // ran on one task (12 s).
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (ids, _) = materialize(tok.join(vocab, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("tid"))).as("ts"))
      .repartition(nParts, col("doc_id")))
    selfJaccardCandidates(ids, 9, 10)
      .join(ids.select(col("doc_id").as("i"), col("ts").as("ts_i")), Seq("i"))
      .join(ids.select(col("doc_id").as("j"), col("ts").as("ts_j")), Seq("j"))
      .select(col("i"), col("j"),
        round(GraftFunctions.jaccardSortedInt(col("ts_i"), col("ts_j")), 6)
          .as("jac"))
      .filter(col("jac") >= 0.9)
  }

  /** §2.3 dedup_ngram_jaccard: token-set Jaccard near-dup pairs via exact
    * prefix filtering — graded against the EXHAUSTIVE all-pairs oracle.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir).orderBy(col("i"), col("j"))

  /** §2.3 dedup_cluster: near-dup pairs → connected components → one
    * canonical doc per duplicate cluster (the step a pipeline actually
    * applies before training: keep the canonical, drop the rest).
    *
    * Scale shape: the pair relation is persisted and counted, and
    * [[connectedComponents]] picks its finish on that count. Pairs at or under
    * [[graft.Barriers.DriverFinishEdgeBound]] (4M; sf0.1 has 964,854)
    * are collected once and union-found on the driver
    * ([[graft.DriverGraph]]); above it the pair
    * graph is first CONTRACTED (one neighbor-min pass collapses each
    * near-dup clique to a supernode), then the supernode graph is
    * labeled by the same union-find when its edges fit the bound, by
    * the shared pointer-jump fixpoint [[Relational.minLabelFix]] when
    * they do not. Every doc's label is the minimum doc_id of its
    * connected component. The DuckDB oracle computes TRUE transitive
    * components via a recursive CTE, so the gate proves the labeling
    * exact, not an approximation.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    scoped {
      // the inner scope releases the ngram pipeline's caches as soon as
      // the pair cache holds its rows
      val (pairs, nPairs) = scoped(
        materialize(ngramPairs(spark, dir).select(col("i"), col("j"))))
      connectedComponents(spark, pairs, nPairs,
        Tables.documents(spark, dir).select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("canonical_id"))
        .orderBy(col("doc_id"))
    }

  /** Connected components over an undirected (i, j) pair relation:
    * (id, canonical_id = component minimum) for every id in `universe`.
    * Shared by dedup_cluster (token-Jaccard pairs), dedup_semantic
    * (embedding-cosine pairs) and graph_connected_components.
    *
    * The finish regime is decided on the pair count the eager count
    * already paid for, the rule [[Relational.kCoreCore]] uses:
    *  - pairs ≤ `driverFinishEdgeBound`: the pairs are collected once
    *    and union-found on the driver ([[graft.DriverGraph.components]],
    *    whose root map [[relabel]] broadcast-joins); no contraction, no
    *    label cache;
    *  - above it: the neighbor-min contraction, then the same
    *    union-find over the contracted edges when THEY fit the bound,
    *    else [[Relational.minLabelFix]].
    * `pairs` arrive cached and counted ([[graft.Barriers.materialize]],
    * `nPairs` its count): the caller's cache scope decides when they
    * go, so a caller can release what fed them as soon as they hold
    * their rows (dedup_cluster), and one whose `universe` reads them
    * (graph_connected_components) keeps them. The label and edge caches
    * made here are released by this call's [[graft.Barriers.scoped]].
    * The pair count, and the contracted edge count when the contraction
    * runs, are posted as round-0 [[graft.LoopRound]] events (detail
    * `pairs`, `superEdges`), and a driver finish posts its collected
    * edge count (detail `driver`).
    */
  private[graft] def connectedComponents(spark: SparkSession,
      pairs: DataFrame, nPairs: Long, universe: DataFrame,
      driverFinishEdgeBound: Long = graft.Barriers.DriverFinishEdgeBound)
      : DataFrame = scoped {
    // the UNDIRECTED pair relation is cached once — half the rows of a
    // doubled edge list, and the one evaluation of the (expensive) pair
    // subtree that every downstream pass reads. (A pairs ∪ pairs.swap
    // self-union would additionally plant that subtree in the plan twice.)
    // Its count's answer picks the finish regime.
    //
    // count-then-collect, deliberately: the count materializes the persist
    // at full parallelism; the collect then drains the cache. A fused
    // limit+collect was tried and is WORSE — CollectLimit's executeTake
    // scales up 1→4→16… partitions in sequential rounds while it hunts
    // for limit rows, so the expensive materializing pass runs nearly
    // serial (dedup_cluster 4.2 → 8.2 s measured).
    graft.Barriers.postSetup("connectedComponents", nPairs, "pairs")
    if (nPairs <= driverFinishEdgeBound) {
      // FINISH ON THE DRIVER straight from the pairs: the bound keeps the
      // collect a bounded finishing step, and a dimension-sized graph
      // pays one collect instead of the contraction's aggregates, label
      // cache and edge cache
      val roots = DriverGraph.components(pairs.select(col("i"), col("j")),
        "connectedComponents")
      return relabel(universe.select(col("id"), col("id").as("lab")), roots)
    }
    // CONTRACTION pass before the finish: l0(v) = min(v, direct neighbors).
    // Near-dup components are overwhelmingly CLIQUES (c duplicate docs →
    // c²/2 pairs), and one neighbor-min collapses a whole clique to a
    // single supernode. The finish then runs on the INTER-supernode
    // graph — typically empty or tiny — instead of re-joining the full
    // pair relation every round. At 100 TB this is the difference
    // between O(rounds) passes over the pair relation and ONE pass plus a
    // loop over a graph whose size tracks cluster-chain structure, not
    // corpus size. Contraction preserves connectivity exactly, so the
    // recursive-CTE oracle still matches bit-for-bit. Neighbor-min over
    // the undirected relation = min over both roles, merged — the doubled
    // edge list never materializes.
    val nbrMin = pairs.groupBy(col("i").as("id")).agg(min(col("j")).as("nm"))
      .unionAll(pairs.groupBy(col("j").as("id")).agg(min(col("i")).as("nm")))
      .groupBy(col("id")).agg(min(col("nm")).as("nm"))
    // the edge build reads l0 from two join stages (i-side and j-side)
    // and the final labeling reads it again
    val (l0, _) = materialize(universe
      .join(nbrMin, Seq("id"), "left_outer")
      .select(col("id"),
        least(col("id"), coalesce(col("nm"), col("id"))).as("lab")))
    // supernode edge relation: each original pair links its endpoints'
    // contracted labels; intra-supernode pairs vanish, parallel pairs
    // collapse in the distinct. Only the TINY contracted relation is
    // symmetrized into both directions, and it is made stationary ONCE
    // here — the driver finish collects it, the fixpoint joins it every
    // round
    val (edges, nSuperEdges) = graft.Barriers.stationaryEdges(
      pairs.join(l0.select(col("id").as("i"), col("lab").as("ls")), Seq("i"))
        .join(l0.select(col("id").as("j"), col("lab").as("ld")), Seq("j"))
        .filter(col("ls") =!= col("ld"))
        .select(col("ls"), col("ld")).distinct()
        .transform(graft.Barriers.symmetrize(_, "ls", "ld")))
    graft.Barriers.postSetup("connectedComponents", nSuperEdges, "superEdges")
    if (nSuperEdges <= driverFinishEdgeBound) {
      // the contracted graph is cluster-adjacency structure, not corpus
      // data: its size tracks how many clusters chain into each other,
      // which the bound just guarded
      return relabel(l0, DriverGraph.components(edges, "connectedComponents"))
    }
    // the shared pointer-jump fixpoint over the contracted graph, every
    // supernode starting as its own label
    val labels = Relational.minLabelFix(
      l0.select(col("lab").as("id")).distinct()
        .select(col("id"), col("id").as("lab")),
      edges, "connectedComponents")
    // expand the contraction: an id's component label is the fixpoint
    // label of its supernode (supernode ids are member ids, so the min
    // over supernodes in a component IS the component's minimum id)
    l0.join(labels.select(col("lab").as("slab"), col("id").as("lab")),
        Seq("lab"))
      .select(col("id"), col("slab").as("canonical_id"))
  }

  /** (id, canonical_id) from (id, lab) labels and a (lab, slab) root map
    * ([[graft.DriverGraph.components]], which holds only the labels
    * that move): a label the map does not move is its own component's
    * root. */
  private def relabel(labels: DataFrame, roots: DataFrame): DataFrame =
    labels.join(broadcast(roots), Seq("lab"), "left_outer")
      .select(col("id"), coalesce(col("slab"), col("lab")).as("canonical_id"))

  // Bucket pair emission uses the custom streaming PairsGenerator
  // (GraftFunctions.pairs): a bucket of b ids yields its b·(b-1)/2
  // candidate pairs lazily, never materializing the nested pair array a
  // flatten∘transform formulation would allocate (a hot bucket at crawl
  // scale would otherwise build gigabytes in one task before exploding).
  // Input must be sorted (array_sort inside the upstream agg projection)
  // so emitted pairs satisfy i < j.

  /** Production bucket-width cap for the LSH candidate families. Testdata
    * maxima are 62 (sf0.01) / 193 (sf0.1), so the cap never fires on the
    * gated corpora; at crawl scale it is the guard that keeps a
    * POPULAR-CONTENT clique (100k near-identical boilerplate pages that
    * exact dedup does not collapse) from becoming a 100k-element posting
    * array and 5·10⁹ emitted pairs in one bucket.
    */
  private[graft] val BucketWidthCap = 1024

  /** Width-capped bucket pair emission — the shared candidate core of the
    * LSH family (minhash bands, simhash bands, RHP embedding buckets).
    *
    * TWO-PASS (the cdcCandidatePairs / dedupContainment shape): pass 1 is
    * a count-only groupBy over the slim posting rows — map-side-combined
    * partial counts, constant memory per bucket — and only buckets with
    * width in 2..maxWidth join back for the posting build, so no posting
    * array for a hot or singleton bucket is ever allocated. Over-cap
    * buckets return as the SECOND relation (bucket keys + width) — at
    * crawl scale those buckets ARE the answer ("dup cliques"): report
    * them, don't enumerate their pairs. Pair emission from surviving
    * buckets is bounded at maxWidth·(maxWidth−1)/2 per bucket, streamed
    * by PairsGenerator.
    */
  private[graft] def cappedBucketPairs(posts0: DataFrame, k1: String, k2: String,
      v: String, maxWidth: Int = BucketWidthCap): (DataFrame, DataFrame) = {
    // posts feeds the width pass and the pair-emission join, so the
    // caller's bucket kernel (rhpBuckets / the 16-way band transform /
    // simhash banding) evaluates once per query. The cache is slim (id,
    // 2×int) posting rows, never payloads; release is the harness's
    // clearCache-per-query contract.
    val (posts, _) = materialize(posts0)
    val widths = posts.groupBy(col(k1), col(k2)).agg(count(lit(1)).as("width"))
    val ok = widths.filter(col("width").between(2, maxWidth))
      .select(col(k1), col(k2))
    val cliques = widths.filter(col("width") > maxWidth)
    val pairs = posts.join(ok, Seq(k1, k2))
      .groupBy(col(k1), col(k2))
      .agg(array_sort(collect_list(col(v))).as("ids"))
      .select(GraftFunctions.pairs(col("ids")).as(Seq("i", "j")))
      .distinct()
    (pairs, cliques)
  }

  /** §2.3 dedup_minhash_lsh: MinHash(128) + LSH banding (16 bands × 8 rows)
    * over word 3-shingles, then exact-Jaccard rerank of candidates only.
    *
    * Shape, built for 100 TB:
    *  - the signature pipeline runs ONCE: (doc_id, band, bhash) rows flow
    *    into a single groupBy(band, bhash) — no band self-join recomputing
    *    minhashes on both sides;
    *  - only slim (doc_id, 2×int) rows cross the bucket shuffle; shingle
    *    sets rejoin afterwards for the rerank, so wide arrays never shuffle
    *    on the candidate path;
    *  - docs with no 3-shingles (< 3 tokens) are filtered BEFORE banding:
    *    their sentinel signatures are identical, and at crawl scale
    *    millions of empty docs would otherwise form a full candidate
    *    clique in every band;
    *  - candidates are distinct'd on bare ids, then exact Jaccard keeps
    *    pairs ≥ 0.5 — the oracle checks against DuckDB's exhaustive
    *    all-pairs Jaccard, so LSH recall itself is being graded.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(minhashSketch(spark, dir))

  /** The post-shingle pipeline of [[dedupMinhashLsh]] — 16×8 banding of
    * the 128-minima signature, width-capped bucket pair generation, exact
    * Jaccard rerank ≥ 0.5 — over an ALREADY persisted-and-counted
    * (doc_id, sh, sig) relation. Factored so the large-regime drill
    * (`ScaleCheck dedup`) runs the SHIPPED pipeline on a generated
    * million-doc corpus; the caller owns the persist + eager-count
    * contract (the relation feeds the banding and both rerank joins).
    */
  private[graft] def minhashLshPairs(cached: DataFrame): DataFrame = {
    val docs = cached.filter(size(col("sh")) > 0)
    val bands = docs
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => hash(slice(col("sig"), b * 8 + 1, lit(8))))))
      .toDF("doc_id", "band", "bhash")
    val (cand, _) = cappedBucketPairs(bands, "band", "bhash", "doc_id")
    cand
      .join(docs.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(docs.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .select(col("i"), col("j"),
        round(jaccard(col("sh_i"), col("sh_j")), 6).as("jac"))
      .filter(col("jac") >= 0.5)
      .orderBy(col("i"), col("j"))
  }

  /** §2.3 dedup_simhash: 64-bit SimHash near-dup via banding — a pair with
    * hamming distance ≤ 3 must agree on at least one of 4 16-bit bands
    * (pigeonhole ⇒ recall is exactly 1), so candidates come from 4 bucket
    * groupBys, never O(n²). Signatures compute once and ride through the
    * bucket shuffle as one long; token-less docs are filtered before
    * banding (all-zero signatures would form a clique, as with minhash).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    // the cache is also a plan barrier (see dedupMinhashLsh): one
    // simhash64 eval per doc instead of one per band projection after
    // CollapseProject
    hammingBandPairs(materialize(Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .filter(size(toks) > 0 && length(col("text")) > 0)
      .select(col("doc_id"), GraftFunctions.simhash64(toks).as("sig")))._1)

  /** The Hamming-band candidate step of dedup_simhash and
    * mm_phash_neardup over a materialized (doc_id, sig) relation of
    * 64-bit signatures: (i < j, hamming) pairs at distance ≤ 3, ordered
    * by (i, j). A pair within distance 3 agrees on at least one of the
    * four 16-bit bands (pigeonhole), so [[cappedBucketPairs]] over the
    * band values loses none; the signature rides through the bucket
    * shuffle beside the id, so the rerank needs no join.
    */
  private[graft] def hammingBandPairs(sigs: DataFrame): DataFrame = {
    val bandVals = (0 until 4).map(b =>
      shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val posts = sigs
      .select(struct(col("doc_id"), col("sig")).as("ds"),
        posexplode(array(bandVals: _*)))
      .toDF("ds", "band", "bval")
    val (pairs, _) = cappedBucketPairs(posts, "band", "bval", "ds")
    pairs
      .select(col("i.doc_id").as("i"), col("j.doc_id").as("j"),
        bit_count(col("i.sig").bitwiseXOR(col("j.sig"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("i"), col("j"))
  }

  /** §2.3 dedup_editdistance: Levenshtein near-dup pairs — the
    * byte-precise dedup family (catches small in-place edits that shingle
    * Jaccard smooths over). LOSSLESS adjacent-band length blocking (see
    * the in-body comment); the DP kernel is Spark's builtin codegen'd
    * `levenshtein` with an early-exit threshold (cost capped at O(len·k),
    * not O(len²), for k=20).
    */
  def dedupEditdistance(spark: SparkSession, dir: String): DataFrame = {
    // LOSSLESS length banding: edit distance ≤ 20 forces |len(a)-len(b)|
    // ≤ 20, so with 32-char bands a qualifying pair sits in the same or
    // an adjacent band. Each doc probes its own band and the next
    // (zone ∈ {band, band+1}); zone-equality then covers both cases and
    // DISTINCT collapses the same-band double match. This replaced a
    // (lang, 100-char-bucket) blocking that found 6 of the 25 true pairs
    // — near-identical texts carrying different lang labels, and pairs
    // straddling a bucket boundary, were invisible by construction. The
    // oracle is the exhaustive length-filtered scan, so losslessness is
    // graded, not assumed. Band population is bounded by the LENGTH
    // histogram (no content hot-keys); the bounded levenshtein(…, 20)
    // rerank early-exits at O(len·k) per pair.
    // hist: 64-bucket byte histogram, computed ONCE per doc in the cached
    // projection. Lossless L1 prefilter: one edit changes the byte multiset
    // by ≤ 2 L1 units and bucket collisions only cancel mass, so
    // histL1 > 2k ⇒ levenshtein > k. The O(64) integer walk prunes the
    // overwhelming share of length-blocked candidates before the O(len·k)
    // DP kernel — the rerank's cost tracks TRUE near-pairs, not block size.
    // both zone-join sides and both rerank joins read t
    val (t, _) = materialize(Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("n_chars").cast("bigint").as("len"),
        col("text"), GraftFunctions.charHist64(col("text")).as("hist")))
    val zoned = t.select(col("doc_id"), col("len"), col("text"),
      explode(array((col("len") / 32).cast("bigint"),
        (col("len") / 32).cast("bigint") + 1)).as("zone"))
    val own = t.select(col("doc_id").as("j_id"), col("len").as("j_len"),
      col("text").as("j_text"), (col("len") / 32).cast("bigint").as("zone"))
    // bare-id distinct BEFORE the rerank: a pair matches in up to 4
    // (zone, direction) combinations, and the O(len·k) levenshtein must
    // run once per pair, not once per match
    val pairs = zoned.join(own,
        zoned("zone") === own("zone") &&
          col("doc_id") =!= col("j_id") &&
          abs(col("len") - col("j_len")) <= 20)
      .select(least(col("doc_id"), col("j_id")).as("i"),
        greatest(col("doc_id"), col("j_id")).as("j"))
      .distinct()
    pairs
      .join(t.select(col("doc_id").as("i"), col("text").as("t_i"),
        col("hist").as("h_i")), Seq("i"))
      .join(t.select(col("doc_id").as("j"), col("text").as("t_j"),
        col("hist").as("h_j")), Seq("j"))
      .filter(GraftFunctions.histL1(col("h_i"), col("h_j")) <= 40)
      .select(col("i"), col("j"),
        levenshtein(col("t_i"), col("t_j"), 20).cast("bigint").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= 20)
      .orderBy(col("i"), col("j"))
  }

  // Coordinate-difference RHP blocking constants — the same baked-in
  // hyperplanes drive the Spark plan and the DuckDB oracle SQL (see
  // [[RhpBlocking]]); no synthetic label column is ever consulted.
  private[graft] val EmbTables = 16
  private[graft] val EmbBits = 4
  private[graft] val EmbDim = 64
  private[graft] val EmbSeed = 7L

  /** The per-table bucket expressions as DuckDB SQL (for the oracle). */
  private[graft] def embeddingBucketSqlExprs(alias: String): Seq[String] =
    RhpBlocking.bucketSqlExprs(alias, EmbTables, EmbBits, EmbDim, EmbSeed)

  /** The (vec_id, tbl, bucket) RHP posting rows of an embeddings
    * relation: one row per hash table — the input of dedup_embedding's
    * and dedup_lsh_cliques' width-capped bucket pass.
    */
  private def rhpPosts(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), posexplode(GraftFunctions.rhpBuckets(
        col("embedding"), EmbTables, EmbBits, EmbDim, EmbSeed)))
      .toDF("vec_id", "tbl", "bucket")

  /** §2.3 dedup_embedding: embedding-cosine near-dup pairs over an
    * UNLABELED corpus — candidate blocking by coordinate-difference RHP
    * buckets (8 tables × 4 sign bits), then exact-cosine rerank ≥ 0.4.
    * Same bucket-pipeline shape as dedup_minhash_lsh: slim (vec_id, table,
    * bucket) rows through one groupBy, pair emission from sorted bucket
    * arrays, vectors rejoined only for the rerank. Blocking recall vs the
    * exhaustive all-pairs scan is measured in DedupSpec; the oracle blocks
    * identically (same baked-in hyperplane constants), so the gate checks
    * the full pipeline bit-for-bit. Cosine is the codegen'd
    * GraftKernels.cosineF — same combining formula as DuckDB's
    * list_cosine_similarity.
    */
  /** The unsorted (i < j, rounded sim ≥ 0.4) embedding near-dup pair
    * relation — shared by the pair query and semantic clustering.
    */
  private def embeddingPairs(spark: SparkSession, dir: String,
      minSim: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (cand, _) = cappedBucketPairs(rhpPosts(e), "tbl", "bucket", "vec_id")
    cand
      .join(e.select(col("vec_id").as("i"), col("embedding").as("v_i")), Seq("i"))
      .join(e.select(col("vec_id").as("j"), col("embedding").as("v_j")), Seq("j"))
      .select(col("i"), col("j"),
        round(GraftFunctions.cosine(col("v_i"), col("v_j")), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** §2.3 sim_pair_hist: the corpus similarity PROFILE — a 0.05-band
    * histogram of exact cosine over every RHP-blocked candidate pair (no
    * similarity floor), the report that picks dedup thresholds before a
    * full run commits to one. Aggregates are order-independent (count,
    * min, max — never a float sum), so the result is deterministic under
    * any partitioning; band indices are exact integer floors of the
    * 6dp-rounded similarity.
    */
  def simPairHist(spark: SparkSession, dir: String): DataFrame =
    embeddingPairs(spark, dir, minSim = -1.0)
      .groupBy(expr("CAST(floor(sim * 20) AS BIGINT)").as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
      .orderBy(col("band"))

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingPairs(spark, dir).orderBy(col("i"), col("j"))

  /** The clique-report cap used by [[dedupLshCliques]] — deliberately set
    * BELOW the testdata's max RHP bucket width (62 at sf0.01, 193 at
    * sf0.1) so the over-cap report path is non-trivially exercised by the
    * oracle gate; production pipelines use [[BucketWidthCap]].
    */
  private[graft] val CliqueReportCap = 48

  /** §2.3 dedup_lsh_cliques: the over-cap side of the width-capped LSH
    * bucket pipeline — buckets whose membership exceeds the cap surface
    * as (table, bucket, width) DUP-CLIQUE rows instead of emitting their
    * quadratic within-bucket pairs. At crawl scale an over-cap bucket IS
    * the answer (near-identical boilerplate detected wholesale); this
    * report is what a pipeline triages before deciding to contract or
    * enumerate. Widths come from the count-only first pass — no posting
    * array for an over-cap bucket ever exists ([[cappedBucketPairs]]).
    */
  def dedupLshCliques(spark: SparkSession, dir: String): DataFrame = {
    val (_, cliques) = cappedBucketPairs(rhpPosts(Tables.embeddings(spark, dir)),
      "tbl", "bucket", "vec_id", maxWidth = CliqueReportCap)
    cliques.orderBy(col("tbl"), col("bucket"))
  }

  /** §2.3 dedup_semantic: SemDeDup-style semantic clustering — the
    * embedding-cosine near-dup pair relation closed into connected
    * components, one canonical vector per semantic cluster (what a
    * pipeline drops before training: all but one of each meaning-level
    * duplicate group). Same bounded driver union-find (contraction
    * first only above the bound) as dedup_cluster; the recursive-CTE
    * oracle proves the labeling is the exact transitive closure over the
    * RHP-blocked pair relation.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    scoped {
      val (pairs, nPairs) =
        materialize(embeddingPairs(spark, dir).select(col("i"), col("j")))
      connectedComponents(spark, pairs, nPairs,
        Tables.embeddings(spark, dir).select(col("vec_id").as("id")))
        .select(col("id").as("vec_id"), col("canonical_id"))
        .orderBy(col("vec_id"))
    }

  /** §2.3 graph_triangles: per-vertex triangle counts + local clustering
    * coefficient over the semantic similarity graph (the embedding pair
    * relation) — the community-density signal that separates tight
    * duplicate cliques from chains of borderline matches before a dedup
    * threshold commits. Triangles enumerate as ordered wedges a<b<c joined
    * against the closing edge (a, c): the i<j pair orientation IS the
    * standard orientation trick, so each triangle counts exactly once and
    * no vertex enumerates its full neighborhood square; a LEFT SEMI closes
    * wedges without widening rows. Coefficient = 2·tri / deg·(deg−1) —
    * exact integers into one double division.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // released by GraftCaches.release(spark) after the caller's action
    // (embedding contract) — the returned plan consumes e three ways, so
    // no in-operator unpersist point exists
    val (e, _) =
      materialize(embeddingPairs(spark, dir).select(col("i"), col("j")))
    val deg = e.select(col("i").as("id")).unionAll(e.select(col("j").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val wedges = e.select(col("i").as("a"), col("j").as("b"))
      .join(e.select(col("i").as("b"), col("j").as("c")), Seq("b"))
    val tri = wedges
      .join(e.select(col("i").as("a"), col("j").as("c")), Seq("a", "c"), "left_semi")
    val tv = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tv, Seq("id"), "left_outer")
      .select(col("id").as("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(0.0).as("clustering"))
      .select(col("vec_id"), col("degree"),
        col("n_tri").as("n_triangles"), col("clustering"))
      .orderBy(col("vec_id"))
  }

  /** §2.3 dedup_incremental: cross-load content dedup — the reference's
    * incremental-update shape (new CVEs vs warehouse IDs, reference
    * etl.py:80-92) applied to CONTENT: a feed document is dropped iff its
    * 64-bit fingerprint already exists in the warehouse corpus. The
    * warehouse side shrinks to bare fingerprints before the anti-join, so
    * at 100 TB only 8-byte keys shuffle (or broadcast, when the fingerprint
    * set of the standing corpus fits); text never crosses the wire.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), GraftFunctions.fingerprint64(col("text")).as("fp64"))
    val warehouse = fp.filter(col("doc_id") < 250).select(col("fp64"))
    fp.filter(col("doc_id") >= 250)
      .join(warehouse, Seq("fp64"), "left_anti")
      .select(col("doc_id"), col("fp64"))
      .orderBy(col("doc_id"))
  }

  /** §2.3 dedup_incremental_minhash: cross-load NEAR-dup dedup — the
    * reference's incremental set-difference (etl.py:80-92) lifted from
    * exact IDs to sketches. The standing corpus (doc_id < 250) keeps its
    * MinHash BAND table as a warehouse relation (the same 16×8 banding as
    * [[dedupMinhashLsh]], so the table is buildable once and appended per
    * load); an arriving feed banded the same way joins band-buckets
    * against it, candidates rerank by EXACT shingle Jaccard, and a feed
    * document is dropped iff some warehouse document holds jac ≥ 0.9.
    * The oracle is the EXHAUSTIVE feed×warehouse Jaccard scan — banding
    * recall is graded, not assumed (same contract as dedup_minhash_lsh).
    *
    * Scale shape: the warehouse band table is O(16·|corpus|) slim
    * (band, bhash, id) rows — persisted once, never recomputed per load;
    * the feed side bands only the arriving delta; the bucket join
    * shuffles bare ids + 2 ints; shingle sets rejoin only for the
    * surviving candidates. At 100 TB the standing corpus never re-hashes:
    * cost per load tracks the DELTA, which is the whole point of the
    * incremental shape.
    */
  def dedupIncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sketch = minhashSketch(spark, dir)
    val docs = sketch.filter(size(col("sh")) > 0)
    val whDocs = docs.filter(col("doc_id") < 250)
    val feedDocs = docs.filter(col("doc_id") >= 250)
    val dup = incrementalNearDup(
      bandTable(whDocs), whDocs.select(col("doc_id"), col("sh")), feedDocs)
    // survivors: the feed minus near-dups of the standing corpus (docs
    // with no shingles can't match anything — trivially kept)
    Tables.documents(spark, dir).filter(col("doc_id") >= 250)
      .select(col("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** The persisted (doc_id, sh, sig) sketch relation — shingle set +
    * MinHash(128) signature, the artifact a warehouse materializes once
    * per corpus, read by dedup_minhash_lsh and dedup_incremental_minhash.
    */
  private[operators] def minhashSketch(spark: SparkSession,
      dir: String): DataFrame = {
    // ONE persisted relation carries both the shingle set (reused by the
    // rerank joins) and the 128-minima signature (read by the banding) —
    // without the cache the scan + shingling would run once per consumer
    // (at warehouse scale this is the relation you'd materialize anyway).
    // The persist is also a PLAN BARRIER — without it CollapseProject
    // inlines the signature kernel into the 16-way band transform's
    // lambda (16× recompute) and pushes the size() filter into a second
    // shingle evaluation. Below it, [[shingleSets]]' token projection is
    // the second barrier: the text is split once per document, not once
    // per shingle. The harness clears the cache between queries.
    // repartition first: single-row-group local files would otherwise run
    // the whole kernel pipeline in one task.
    materialize(sketchOf(Tables.documents(spark, dir)
      .repartition(col("doc_id"))))._1
  }

  /** The (doc_id, sh, sig) sketch of any (doc_id, text, …) relation —
    * shingle set + MinHash(128) signature, the per-doc artifact a
    * warehouse stores. Factored out of [[minhashSketch]] so the
    * streaming twin ([[graft.streaming.StreamOps.minhashDedupSink]])
    * sketches arriving micro-batches through the SAME expression tree
    * the batch operator uses.
    */
  private[graft] def sketchOf(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"), col("sh"),
        GraftFunctions.minhashSignature(col("sh"), 128, 42).as("sig"))

  /** 16×8 LSH band table of a (doc_id, …, sig) sketch relation: slim
    * (doc_id, band, bhash) rows — the warehouse-maintained form.
    */
  private[graft] def bandTable(sketch: DataFrame): DataFrame =
    sketch
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => hash(slice(col("sig"), b * 8 + 1, lit(8))))))
      .toDF("doc_id", "band", "bhash")

  /** Feed docs CONFIRMED as near-dups of the standing corpus: band-bucket
    * join of the feed's bands against the STORED warehouse band table
    * proposes candidates; exact shingle Jaccard ≥ 0.9 against the stored
    * warehouse shingle relation confirms. Takes the warehouse relations
    * AS RELATIONS (parquet-loadable) so a real incremental load never
    * re-sketches the standing corpus — DedupSpec drives exactly that
    * decomposition from disk.
    */
  private[graft] def incrementalNearDup(whBands: DataFrame,
      whShingles: DataFrame, feedDocs: DataFrame): DataFrame =
    bandTable(feedDocs)
      .select(col("band"), col("bhash"), col("doc_id").as("f_id"))
      .join(whBands.select(col("band"), col("bhash"),
        col("doc_id").as("w_id")), Seq("band", "bhash"))
      .select(col("f_id"), col("w_id"))
      .distinct()
      .join(feedDocs.select(col("doc_id").as("f_id"), col("sh").as("sh_f")),
        Seq("f_id"))
      .join(whShingles.select(col("doc_id").as("w_id"), col("sh").as("sh_w")),
        Seq("w_id"))
      .filter(round(jaccard(col("sh_f"), col("sh_w")), 6) >= 0.9)
      .select(col("f_id").as("doc_id"))
      .distinct()

  /** §2.3 dedup_containment: one-sided shingle containment — doc i is a
    * (near-)subset of doc j when ≥ 80% of i's 3-shingles appear in j.
    * Jaccard misses these pairs by construction (a short quote inside a
    * long doc has a tiny UNION overlap), and length-bucket blocking would
    * never pair a short doc with a long one — so candidates come from a
    * RARE-SHINGLE INVERTED INDEX instead: posting lists for shingles with
    * 2 ≤ df ≤ 20. The df ceiling bounds every posting self-join at df²
    * pairs (common shingles generate NO candidates — at crawl scale a
    * stopword shingle would otherwise emit a quadratic clique), and the
    * floor drops singleton postings that can't pair. Only bare (i, j) ids
    * flow through the candidate distinct; shingle sets rejoin for the
    * bounded rerank. The oracle replicates the same candidate generation,
    * so index recall itself is graded, not assumed.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    // feeds the posting build and both rerank joins
    val (d, _) = materialize(shingleSets(Tables.documents(spark, dir)
      .repartition(col("doc_id"))))
    val post = d.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val rare = post.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 20))
      .select(col("shingle"))
    // pairs must co-occur in ≥ 4 rare postings: a real 0.8-containment
    // pair shares dozens of rare shingles (min observed: 8 at sf0.01 AND
    // sf0.1 — zero recall loss), while the ≥4 floor drops the long tail
    // of coincidental single-shingle collisions BEFORE the rerank (2.2M →
    // 2.1k pairs at sf0.1). Pair generation is the same bucket pipeline as
    // the LSH families — ONE groupBy(shingle) with streaming pair emission
    // from the sorted posting list (≤ df ≤ 20 ids, so ≤ 190 pairs per
    // bucket) — instead of a posting self-join, which shuffles the posting
    // relation twice and emits every pair in both orientations. Shared
    // counts are symmetric, so unordered (i < j) pairs flow through the
    // count and the ≥4 floor; orientations explode only for the surviving
    // ~2k pairs (containment itself is one-sided: i-in-j ≠ j-in-i).
    val pairs = post.join(rare, Seq("shingle"))
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(GraftFunctions.pairs(col("ids")).as(Seq("pi", "pj")))
      .groupBy(col("pi"), col("pj"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 4)
      .transform(graft.Barriers.symmetrize(_, "pi", "pj"))
      .select(col("src").as("i"), col("dst").as("j"))
    pairs
      .join(d.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(d.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .select(col("i"), col("j"),
        round(GraftFunctions.containmentSorted(col("sh_i"), col("sh_j")), 6)
          .as("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy(col("i"), col("j"))
  }

  /** sim_dbscan's parameters: a vector is CORE iff it has ≥ 3
    * τ-neighbors (excluding itself) at cosine ≥ 0.35. τ sits one notch
    * below the dedup families' 0.4 so the graded graph is denser than
    * the near-dup relation (at 0.4/3 the sf0.01 corpus degenerates to
    * one core point); both thresholds together populate all three roles
    * non-trivially at both shipped SFs.
    */
  private[graft] val DbscanMinPts = 3L
  private[graft] val DbscanTau = 0.35

  /** §2.3 sim_dbscan: DBSCAN density clustering over the embedding
    * τ-similarity graph — the structured refinement of dedup_semantic's
    * single-linkage closure: CORE vectors (≥ [[DbscanMinPts]] neighbors
    * at cosine ≥ [[DbscanTau]]) cluster by core-core connectivity, BORDER vectors
    * attach to their lowest-labeled core neighbor WITHOUT bridging
    * clusters (the chain-of-borderline-matches failure mode single
    * linkage can't avoid), everything else is NOISE. The training-data
    * read: clusters = semantic templates to downsample, noise = the
    * long tail to keep.
    *
    * Scale shape: the pair relation is the same RHP-blocked candidate
    * pipeline as dedup_embedding (persisted + eagerly counted — degree,
    * core-edge, and border consumers fan out); degrees are one
    * map-side-combined count; the component pass runs contraction +
    * bounded driver union-find over CORE-CORE edges only (a subgraph of
    * an already-subquadratic relation); border assignment is one
    * left-anti + min-aggregate over the symmetrized pairs. Labels are
    * min-vec_id per cluster — all-integer, so the recursive-CTE oracle
    * matches bit for bit.
    *
    * The labeling PUBLISHES to [[graft.ArtifactStore]] ("dbscan_labels")
    * and the query returns the stored relation: this query is the
    * pipeline (it always pays its own compute + materialization), and
    * [[simDbscanPurity]] evaluates the STORED labeling instead of
    * re-running the clustering it grades — the r10 stored-index contract
    * applied to labelings, with stored ≡ recompute as the oracle-graded
    * claim on both queries.
    */
  def simDbscan(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactStore.publish(spark, "dbscan_labels", dir) {
      dbscanLabels(spark, dir)
    }
      .select(col("vec_id"), col("role"), col("cluster_id"))
      .orderBy(col("vec_id"))

  /** The DBSCAN labeling pipeline itself (unordered); [[simDbscan]]
    * publishes it, PlanAuditSpec audits this plan directly (the public
    * query's plan is the stored-relation scan).
    */
  private[graft] def dbscanLabels(spark: SparkSession,
      dir: String): DataFrame = scoped {
    // the result reads pairs and core: they stay for GraftCaches.release
    val (pairs, _) = materialize(embeddingPairs(spark, dir, minSim = DbscanTau)
      .select(col("i"), col("j")))
    val deg = pairs.select(col("i").as("id"))
      .unionAll(pairs.select(col("j").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_nbrs"))
    val (core, _) = materialize(
      deg.filter(col("n_nbrs") >= DbscanMinPts).select(col("id")))
    val (coreEdges, nCoreEdges) = materialize(pairs
      .join(core.select(col("id").as("i")), Seq("i"), "left_semi")
      .join(core.select(col("id").as("j")), Seq("j"), "left_semi"))
    val cc = connectedComponents(spark, coreEdges, nCoreEdges, core)
      .select(col("id"), col("canonical_id"))
    val border = graft.Barriers.symmetrize(pairs, "i", "j")
      .join(cc.select(col("id").as("dst"), col("canonical_id")), Seq("dst"))
      .join(core.select(col("id").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src")).agg(min(col("canonical_id")).as("b_cluster"))
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(cc.select(col("id").as("vec_id"),
        col("canonical_id").as("c_cluster")), Seq("vec_id"), "left_outer")
      .join(border.select(col("src").as("vec_id"), col("b_cluster")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        when(col("c_cluster").isNotNull, lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("c_cluster"), col("b_cluster"), lit(-1L))
          .cast("bigint").as("cluster_id"))
  }

  /** §2.3 sim_dbscan_purity: cluster-quality evaluation of the DBSCAN
    * labeling against the embeddings' ground-truth `label` column — per
    * cluster: size, majority label, and purity (majority share). The
    * evaluation step every clustering pipeline runs before trusting
    * cluster-level decisions (downsample this template, keep that
    * tail); noise (−1) is excluded — purity grades CLUSTERS, not the
    * decision to leave a point out. All counts are exact integers; the
    * majority argmax ties break on the SMALLEST label via an integer
    * struct max; purity is the single 6dp float.
    *
    * Scale shape: reads the STORED labeling ([[graft.ArtifactStore]]
    * "dbscan_labels" — computed here only when the pipeline query has
    * not run in this session), plus one broadcast label join and two
    * map-side-combined aggregates over |clusters|·|labels| rows; the
    * oracle recomputes the clustering from scratch, so the gate IS the
    * stored ≡ recompute claim.
    */
  def simDbscanPurity(spark: SparkSession, dir: String): DataFrame = {
    val labeled = graft.ArtifactStore
      .readOrCompute(spark, "dbscan_labels", dir)(dbscanLabels(spark, dir))
      .filter(col("cluster_id") >= 0)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("bigint").as("label")),
        Seq("vec_id"))
    labeled
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("n")).cast("bigint").as("n_members"),
        max(struct(col("n").as("n"), (-col("label")).as("neg")))
          .as("w"))
      .select(col("cluster_id"), col("n_members"),
        (-col("w.neg")).cast("bigint").as("majority_label"),
        col("w.n").as("n_majority"),
        round(col("w.n").cast("double") /
          col("n_members").cast("double"), 6).as("purity"))
      .orderBy(col("cluster_id"))
  }
}
