/* SparkSessionExtensions registration. Same packaging rationale as
 * expressions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Injects graft's custom expressions into the SQL function registry, so
  * every surface of the engine — DataFrame API via
  * [[graft.functions.GraftFunctions]] AND plain `spark.sql(...)` — reaches
  * the same codegen'd kernels:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT graft_cosine(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * [[graft.GraftSession]] applies this to every session it builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(c: Seq[Expression], n: Int, fn: String): Seq[Expression] = {
    if (c.size != n)
      throw new IllegalArgumentException(
        s"$fn expects $n arguments, got ${c.size}")
    c
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float/double arrays"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_cosine"); CosineSimilarity(c(0), c(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_fingerprint64"),
      info("graft_fingerprint64", "graft_fingerprint64(s) - 64-bit FNV-1a fingerprint"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_fingerprint64"); Fingerprint64(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a token array"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_simhash64"); SimHash64(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(tokens, k, seed) - k-minima MinHash signature"),
      (c0: Seq[Expression]) => { val c = arity(c0, 3, "graft_minhash")
        MinHashSignature(c(0), intLit(c(1), "k"), intLit(c(2), "seed")) }))

    ext.injectFunction((FunctionIdentifier("graft_rhp_signature"),
      info("graft_rhp_signature", "graft_rhp_signature(vec, bits, seed) - random-hyperplane LSH bucket"),
      (c0: Seq[Expression]) => { val c = arity(c0, 3, "graft_rhp_signature")
        RhpSignature(c(0), intLit(c(1), "bits"), intLit(c(2), "seed")) }))

    ext.injectFunction((FunctionIdentifier("graft_jaccard_sorted"),
      info("graft_jaccard_sorted", "graft_jaccard_sorted(a, b) - Jaccard of sorted distinct string arrays"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_jaccard_sorted"); JaccardSorted(c(0), c(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_containment_sorted"),
      info("graft_containment_sorted", "graft_containment_sorted(a, b) - |a∩b|/|a| of sorted distinct string arrays"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_containment_sorted"); ContainmentSorted(c(0), c(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_byte_feature"),
      info("graft_byte_feature", "graft_byte_feature(bin) - deterministic stub media feature"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_byte_feature"); ByteFeature(c(0)) }))
    ext.injectFunction((FunctionIdentifier("graft_byte_energy"),
      info("graft_byte_energy", "graft_byte_energy(bin) - stub-PCM frame energy"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_byte_energy"); ByteEnergy(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_avg_hash64"),
      info("graft_avg_hash64", "graft_avg_hash64(bin) - average-hash perceptual fingerprint (8x8 slice grid vs grid mean)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_avg_hash64"); AvgHash64(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_cdc_chunks"),
      info("graft_cdc_chunks", "graft_cdc_chunks(bin) - content-defined chunk digest set (sorted distinct FNV-1a-64)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_cdc_chunks"); CdcChunks(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_cdc_chunk_lens"),
      info("graft_cdc_chunk_lens", "graft_cdc_chunk_lens(bin) - in-order chunk lengths under the same CDC boundary rule"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_cdc_chunk_lens"); CdcChunkLens(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_misra_gries"),
      info("graft_misra_gries", "graft_misra_gries(item, k) - Misra-Gries heavy hitters, k-1 counters, n/k error bound"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_misra_gries")
        MisraGries(c(0), intLit(c(1), "k")).toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_count_min"),
      info("graft_count_min", "graft_count_min(item, depth, width) - Count-Min sketch, overestimate-only point counts"),
      (c0: Seq[Expression]) => { val c = arity(c0, 3, "graft_count_min")
        CountMin(c(0), intLit(c(1), "depth"), intLit(c(2), "width"))
          .toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_top_k"),
      info("graft_top_k", "graft_top_k(score, id, k) - per-group bounded top-k as array<struct>"),
      (c0: Seq[Expression]) => { val c = arity(c0, 3, "graft_top_k"); TopKByScore(c(0), c(1), intLit(c(2), "k")) }))

    // the runtime-filter pair (see Relational.qBloomSemiJoin) for the
    // SQL-only surface: build `bloom_agg(xxhash64(k), items, bits)` in a
    // scalar subquery, probe with `might_contain` before the exact join
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg", "graft_bloom_agg(hash64, items, bits) - bloom filter sketch aggregate"),
      (c0: Seq[Expression]) => { val c = arity(c0, 3, "graft_bloom_agg")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(c(0), c(1), c(2)).toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_bitmap_distinct"),
      info("graft_bitmap_distinct", "graft_bitmap_distinct(id, max_id) - exact distinct count of dense ids in [0, max_id] via a fixed-size bitmap (partials merge by OR; domain capped at 2^26-1, out-of-domain ids throw)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_bitmap_distinct")
        BitmapDistinct(c(0), longLit(c(1), "max_id")).toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_bitmap_agg"),
      info("graft_bitmap_agg", "graft_bitmap_agg(id, max_id) - the id bitmap itself (binary, OR-mergeable downstream); same domain contract as graft_bitmap_distinct"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_bitmap_agg")
        BitmapAgg(c(0), longLit(c(1), "max_id")).toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_bitmap_or_count"),
      info("graft_bitmap_or_count", "graft_bitmap_or_count(bitmaps) - cardinality of the union of an array of id bitmaps (popcount of OR)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_bitmap_or_count")
        BitmapOrCount(c(0)) }))

    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain", "graft_might_contain(bloom, hash64) - bloom membership probe, no false negatives"),
      (c0: Seq[Expression]) => { val c = arity(c0, 2, "graft_might_contain")
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(c(0), c(1)) }))

    // TABLE functions — one SQL entry point per pipeline-core family
    // (r12 verdict #5): the reference's user speaks SQL end to end
    // (bq-nvd README.md:29-61 runs whole analyses as single queries), so
    // the iterative cores must be reachable without the Scala API. Each
    // TVF resolves to the SAME plan the DataFrame runner builds — the
    // runner executes its iterative rounds at resolution (actions under
    // a fixpoint loop; their result lands in the returned relation), and
    // the ExtensionsSpec parity rows pin SQL ≡ Column form row for row.
    ext.injectTableFunction((FunctionIdentifier("graft_pagerank"),
      info("graft_pagerank",
        "graft_pagerank(corpus_dir) - pagerank over the customer-supplier graph of a corpus (table function)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_pagerank")
        graft.operators.Relational.graphPagerank(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    ext.injectTableFunction((FunctionIdentifier("graft_minhash_dedup"),
      info("graft_minhash_dedup",
        "graft_minhash_dedup(corpus_dir) - MinHash-LSH near-duplicate pairs over a corpus's documents (table function)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_minhash_dedup")
        graft.operators.Dedup.dedupMinhashLsh(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    ext.injectTableFunction((FunctionIdentifier("graft_connected_components"),
      info("graft_connected_components",
        "graft_connected_components(corpus_dir) - connected components of the corpus's near-duplicate graph (table function)"),
      (c0: Seq[Expression]) => {
        val c = arity(c0, 1, "graft_connected_components")
        graft.operators.Relational.graphConnectedComponents(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    ext.injectTableFunction((FunctionIdentifier("graft_scc"),
      info("graft_scc",
        "graft_scc(corpus_dir) - strongly connected components of the corpus's directed nation trade-flow graph (table function)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_scc")
        graft.operators.Relational.graphScc(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    ext.injectTableFunction((FunctionIdentifier("graft_quantile_bisect"),
      info("graft_quantile_bisect",
        "graft_quantile_bisect(corpus_dir) - exact corpus-wide order statistics (p50/p90/p99 of lineitem extended price) by a driver-coordinated bucketized bracket search (fan 4096), no sort (table function)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_quantile_bisect")
        graft.operators.Relational.qQuantileBisect(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    // per-group percentiles is the form a SQL user actually asks for
    // ("p99 per return flag") — the grouped bisection core must be
    // reachable without Scala just like its ungrouped sibling
    ext.injectTableFunction((FunctionIdentifier("graft_group_quantile_bisect"),
      info("graft_group_quantile_bisect",
        "graft_group_quantile_bisect(corpus_dir) - exact PER-GROUP order statistics (p50/p90/p99 of lineitem extended price per return flag) by a grouped driver-coordinated bucketized bracket search (group-keyed probe midpoints, fan adaptive to the group count), no partitioned sort (table function)"),
      (c0: Seq[Expression]) => {
        val c = arity(c0, 1, "graft_group_quantile_bisect")
        graft.operators.Relational.qGroupQuantileBisect(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))

    // the fallback the exact core's fold-width guard names: a SQL user
    // hitting BrandesMaxFoldWidth on a mega-hub graph must be able to
    // invoke the pivot-sampled estimator without touching Scala
    ext.injectTableFunction((FunctionIdentifier("graft_betweenness_approx"),
      info("graft_betweenness_approx",
        "graft_betweenness_approx(corpus_dir, k) - pivot-sampled (Brandes-Pich) approximate betweenness centrality over the customer-supplier graph, k xxhash64-sampled pivots; the fold-width-capped exact core's documented fallback (table function)"),
      (c0: Seq[Expression]) => {
        val c = arity(c0, 2, "graft_betweenness_approx")
        graft.operators.Relational.graphBetweennessApprox(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"), intLit(c(1), "k"))
          .queryExecution.analyzed }))

    ext.injectTableFunction((FunctionIdentifier("graft_sim_topk"),
      info("graft_sim_topk",
        "graft_sim_topk(corpus_dir) - exact top-k cosine neighbors over a corpus's embeddings (table function)"),
      (c0: Seq[Expression]) => { val c = arity(c0, 1, "graft_sim_topk")
        graft.operators.Similarity.simTopkBruteforce(
            org.apache.spark.sql.SparkSession.active,
            strLit(c(0), "corpus_dir"))
          .queryExecution.analyzed }))
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
}
