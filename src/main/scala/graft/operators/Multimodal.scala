package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{GraftFunctions, GraftKernels}

/** Multimodal column plumbing (SURVEY.md §2.4 mm_*).
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct
  * alongside. The real decoders (image/audio libs) are not in this
  * environment, so decode is a clearly-marked deterministic stub
  * ([[GraftKernels.byteFeature]]); everything Spark-side — schema, batch
  * shape, partitioning, per-partition batched extraction — is real and
  * tested, and a real decoder drops into [[extractBatch]] unchanged.
  */
object Multimodal {

  /** §2.4 mm_metadata: documents surfaced as (payload binary, typed meta
    * struct, stub feature). Pure map-side projection; the binary payload is
    * the UTF-8 encoding of the text (a stand-in for image/audio bytes).
    */
  def mmMetadata(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          col("source").as("origin"),
          lit("text/plain").as("mime"),
          col("n_chars").as("n_bytes_claimed")).as("meta"))
      .select(col("doc_id"),
        length(col("payload")).cast("bigint").as("payload_len"),
        col("meta.origin").as("origin"), col("meta.mime").as("mime"),
        GraftFunctions.byteFeature(col("payload")).as("feature"))
      .orderBy(col("doc_id"))

  /** §2.4 mm_dedup: media-payload exact dedup — byte-identical payloads
    * collapse to the first-seen doc (re-encodes/mirrors of the same bytes
    * under fresh ids, simulated like dedup_exact's re-crawl). One hash
    * groupBy on md5(payload): at 100 TB only the 16-byte digest and the
    * slim aggregates shuffle, never payload bytes. Keeps the canonical id,
    * copy count, and the (payload-determined) length + stub feature.
    */
  def mmDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val recrawl = d.select((col("doc_id") + 1000000L).as("doc_id"),
      col("payload"))
    d.unionAll(recrawl)
      .groupBy(md5(col("payload")).as("pmd5"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        min(length(col("payload"))).cast("bigint").as("payload_len"),
        min(GraftFunctions.byteFeature(col("payload"))).as("feature"))
      .select(col("canonical_id"), col("n_copies"), col("payload_len"),
        col("feature"))
      .orderBy(col("canonical_id"))
  }

  /** Feature record produced by batched extraction. */
  case class MediaFeature(doc_id: Long, batch_size: Int, feature: Long)

  /** One sampled frame of a media payload. */
  case class Frame(doc_id: Long, frame_idx: Int, frame_len: Int, feature: Long)

  /** §2.4 mm_frame_sample: fixed-stride frame sampling — the video shape
    * (payload → n frames → per-frame feature rows). Row explosion happens
    * INSIDE the partition (flatMap), so a 2-hour video becomes thousands
    * of frame rows without any shuffle; a real decoder replaces the
    * byte-slice + byteFeature pair and everything else stands.
    * Frame count is ceil(len / frameLen); the tail frame is short.
    */
  def frameSample(df: DataFrame, frameLen: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(frameLen > 0)
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val n = (payload.length + frameLen - 1) / frameLen
        (0 until n).iterator.map { f =>
          val from = f * frameLen
          val until = math.min(from + frameLen, payload.length)
          val slice = java.util.Arrays.copyOfRange(payload, from, until)
          Frame(id, f, until - from, GraftKernels.byteFeature(slice))
        }
      }
      .toDF()
  }

  /** §2.4 mm_embed: payload → fixed-dim stub embedding — the bridge from
    * the multimodal columns into the §2.3 similarity stack. Each dimension
    * is the scaled stub feature of one payload stripe, computed entirely
    * in codegen'd expressions (the custom byte-feature expression under a
    * higher-order transform — no UDF, no shuffle); a real encoder replaces
    * the stripe+feature lambda and the downstream ANN path (cosine top-k,
    * RHP blocking, IVF) consumes the column unchanged.
    */
  def mmEmbed(df: DataFrame, dims: Int = 16, stripe: Int = 32): DataFrame =
    df.select(col("doc_id"),
      expr(s"""transform(sequence(0, ${dims - 1}),
                 d -> cast(cast(pmod(graft_byte_feature(
                          substr(payload, d * $stripe + 1, $stripe)), 1000)
                        AS DOUBLE) / 1000.0 AS FLOAT))""").as("embedding"))

  /** One resized payload row. */
  case class Resized(doc_id: Long, orig_len: Int, payload: Array[Byte],
      feature: Long)

  /** §2.4 mm_resize: payload resampling to a fixed target size — the
    * image-resize shape (decode → scale → re-encode) with the codec
    * stubbed as deterministic nearest-neighbor byte sampling. Pure
    * partition-local map (no shuffle, bounded memory per row); a real
    * image library replaces the sampling loop and the schema, batching,
    * and downstream feature path stand unchanged.
    */
  def resize(df: DataFrame, targetLen: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(targetLen > 0)
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val out = new Array[Byte](targetLen)
        val n = payload.length
        var i = 0
        while (i < targetLen) {
          // nearest-neighbor sample position (empty payloads resize to 0s)
          out(i) = if (n == 0) 0 else payload(((i.toLong * n) / targetLen).toInt)
          i += 1
        }
        Resized(id, n, out, GraftKernels.byteFeature(out))
      }
      .toDF()
  }

  /** §2.4 mm_batch_extract: per-partition batched feature extraction — the
    * shape a real vectorized decoder needs (accumulate a batch of payloads,
    * decode together, emit features). Batches never cross partitions, so
    * the operator is embarrassingly parallel; batch size bounds memory.
    */
  def extractBatch(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // A real decoder would process `batch` as one vectorized call
          // (e.g. stacked image tensor). Stub: per-payload byte feature.
          batch.map { case (id, payload) =>
            MediaFeature(id, batch.size, GraftKernels.byteFeature(payload))
          }
        }
      }
      .toDF()
  }

  /** §2.4 mm_frame_features: fixed-stride frame features over a binary
    * payload — the video shape (payload → frame rows → per-frame feature)
    * as an ORACLE'D query: the stub feature is a deterministic integer
    * fold over frame bytes, so DuckDB replicates it byte-for-byte (via
    * the shared UTF-8 byte expansion — payloads are UTF-8 encodings, and
    * frames slice BYTES, not characters). Partition-local explode
    * (~len/32 rows per doc, never quadratic), codegen'd kernel inside
    * the projection, all-integer outputs — zero float risk. A real
    * decoder replaces the fold; the framing, schema, and plan shape
    * stand unchanged.
    */
  def mmFrameFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, cast(ceil(length(payload) / 32.0) AS INT)),
             f -> substring(payload, (f - 1) * 32 + 1, 32))""")))
      .toDF("doc_id", "pos", "frame")
      .select(col("doc_id"), col("pos").cast("bigint").as("frame_idx"),
        length(col("frame")).cast("bigint").as("frame_len"),
        expr("graft_byte_feature(frame)").as("feature"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** §2.4 mm_cdc_neardup: content-defined-chunking near-dup detection over
    * opaque media payloads — the storage-dedup / fuzzy-hash shape
    * (LBFS/Venti, ssdeep's ancestor) that catches re-encodes differing by
    * LOCALIZED byte edits anywhere in the stream. Position-defined schemes
    * (fixed blocks, strides) lose every chunk downstream of an insertion;
    * CDC boundaries are decided by content ([[GraftKernels.cdcChunks]]), so
    * an edit re-cuts only its neighborhood and the rest of the digest set
    * survives. Verified against a twin corpus: every payload gets a
    * re-encode twin with one byte REPLACED mid-stream and a 3-byte tail
    * APPENDED — both perturbations at once, either of which defeats
    * fixed-offset blocking.
    *
    * Pipeline (the 100 TB shape): chunking + digesting is one map-side
    * pass per payload; only 8-byte digests ever shuffle (payload bytes
    * stay in the scan); candidates come from a df-capped (2..16) digest
    * inverted index — the cap kills pathological common-chunk cliques
    * (the dedup_containment argument) while any truly-similar pair still
    * shares plenty of rare chunks; exact Jaccard reranks candidates only.
    * All outputs are exact integers (shared/union counts + millionths by
    * integer division) — no float crosses engines. Misses are confined to
    * payloads with ≤~11 chunks (calibrated at sf0.01: 492/500 twins at
    * J ≥ 0.5), the honest CDC granularity floor — at media scale the
    * chunk-size knob moves, the code does not.
    */
  def mmCdcNeardup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    // re-encode twin: replace the middle byte with 'X', append " v2"
    val twin = base.selectExpr("doc_id + 3000000 AS doc_id",
      """concat(
           substring(payload, 1, greatest(length(payload) div 2, 1) - 1),
           cast('X' as binary),
           substring(payload, greatest(length(payload) div 2, 1) + 1,
                     length(payload)),
           cast(' v2' as binary)) AS payload""")
    // the inverted index and both rerank joins read sigs; the cache also
    // stops CollapseProject duplicating the chunking kernel per consumer.
    // repartition first: single-row-group testdata parquet would run the
    // whole per-payload kernel pipeline in one task.
    val (sigs, _) = graft.Barriers.materialize(base.unionAll(twin)
      .repartition(col("doc_id"))
      .select(col("doc_id"), GraftFunctions.cdcChunks(col("payload")).as("digs")))
    val cand = cdcCandidatePairs(sigs)
    cand
      .join(sigs.select(col("doc_id").as("i"), col("digs").as("digs_i")), Seq("i"))
      .join(sigs.select(col("doc_id").as("j"), col("digs").as("digs_j")), Seq("j"))
      .select(col("i"), col("j"),
        size(array_intersect(col("digs_i"), col("digs_j"))).as("inter"),
        size(col("digs_i")).as("na"), size(col("digs_j")).as("nb"))
      .selectExpr("i", "j", "cast(inter AS bigint) AS n_shared",
        "cast(na + nb - inter AS bigint) AS n_union")
      .filter(col("n_shared") * 2 >= col("n_union"))
      .selectExpr("i", "j", "n_shared", "n_union",
        "(1000000 * n_shared) div n_union AS jmil")
      .orderBy(col("i"), col("j"))
  }

  /** §2.4 mm_phash_neardup: perceptual-hash near-dup detection over
    * opaque media payloads — the pHash/aHash family every image-dedup
    * pipeline runs BEFORE expensive pixel-space comparison. Where
    * mm_cdc_neardup matches shared CONTENT RUNS (chunk digests),
    * the perceptual hash matches GLOBAL APPEARANCE: a 64-bit
    * [[GraftKernels.avgHash64]] fingerprint (8×8 slice-average grid
    * thresholded at the grid mean — a real decoder would hand pixel
    * luma to the same grid) in which small local edits flip only the
    * bits of the slices they touch. Verified against a twin corpus:
    * every payload gets a re-encode twin with one byte REPLACED
    * mid-stream (length-preserving, the perceptual-edit analogue).
    *
    * Pipeline (the 100 TB shape): one codegen'd kernel pass per payload
    * in the scan, then ONLY the 8-byte fingerprint shuffles; candidates
    * come from 4×16-bit band buckets through the width-capped
    * [[Dedup.cappedBucketPairs]] core — pigeonhole makes banding
    * LOSSLESS for Hamming ≤ 3 (a pair within 3 flipped bits agrees on
    * ≥1 of 4 bands), MultimodalSpec asserts exhaustive-equality; the
    * rerank is one xor+popcount per candidate. All-integer outputs.
    */
  def mmPhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    // re-encode twin: one byte replaced mid-stream, length preserved
    val twin = base.selectExpr("doc_id + 4000000 AS doc_id",
      """concat(
           substring(payload, 1, greatest(length(payload) div 2, 1) - 1),
           cast('X' as binary),
           substring(payload, greatest(length(payload) div 2, 1) + 1,
                     length(payload))) AS payload""")
    // the cache also stops CollapseProject re-running the kernel per band
    Dedup.hammingBandPairs(graft.Barriers.materialize(base.unionAll(twin)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        GraftFunctions.avgHash64(col("payload")).as("sig")))._1)
  }

  /** Candidate (i, j) pairs from a df-capped CDC digest inverted index —
    * the TWO-PASS shape (the dedupContainment pattern, Dedup.scala): pass
    * 1 is a count-only groupBy — map-side-combined partial counts,
    * constant memory per digest — and only digests with df in 2..dfMax
    * join back for the posting build. Building posting arrays FIRST and
    * capping after would buffer the ENTIRE posting list of a
    * pathologically common chunk (an all-zeros block, a shared container
    * header) in one aggregation buffer before dropping it — at 100 TB
    * that buffer is the OOM. After the join every surviving posting list
    * is ≤ dfMax ids, so pair emission is bounded at dfMax·(dfMax−1)/2
    * per digest.
    */
  private[graft] def cdcCandidatePairs(sigs: DataFrame, dfMax: Int = 16): DataFrame = {
    val posts = sigs.select(col("doc_id"), explode(col("digs")).as("dig"))
    val rare = posts.groupBy(col("dig"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfMax))
      .select(col("dig"))
    posts.join(rare, Seq("dig"))
      .groupBy(col("dig"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .select(GraftFunctions.pairs(col("ids")).as(Seq("i", "j")))
      .distinct()
  }

  /** The (doc_id, digs) CDC digest-set relation of any (doc_id, payload)
    * relation — the per-payload artifact a warehouse stores. Factored out
    * so the streaming twin ([[graft.streaming.StreamOps.cdcDedupSink]])
    * chunks arriving micro-batches through the SAME expression tree the
    * batch operators use.
    */
  private[graft] def cdcSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), GraftFunctions.cdcChunks(col("payload")).as("digs"))

  /** Feed payloads CONFIRMED as CDC near-dups of the standing corpus:
    * [[Dedup.jaccardCandidates]] at 1/2 — feed digest sets probing the
    * STORED warehouse digest sets, rarity from the stored inverted index
    * (a digest the warehouse has never seen ranks as df 0, rarest of
    * all) — proposes candidates, and exact integer Jaccard (≥ 0.5) over
    * the stored digest sets confirms. The graded predicate
    * 2I ≥ n_f + n_w − I over the distinct digest sets `cdcChunks` emits
    * is Jaccard ≥ 1/2, so candidate recall is exactly 1 BY CONSTRUCTION
    * (that is why mm_cdc_incremental can carry an EXHAUSTIVE oracle with
    * no banding-recall caveat). The prefix is what makes the join
    * affordable: ~7-byte average chunks (boundary ≡ 0 mod 7) make almost
    * every payload pair share SOME digest — at sf0.1 the raw index join
    * proposed 967,822 candidates for 23 true dups, the prefix ~3k — and
    * a pathologically common chunk (an all-zeros block, a shared
    * container header) ranks OUT of every prefix, so no lossy df cap.
    *
    * Incremental contract: the prefix index derives from the SAME
    * stored relations the warehouse already keeps (inverted index →
    * df ranking; digest sets → per-doc prefixes) — both storable
    * alongside it, appended per load; per-load cost still tracks the
    * delta and only 8-byte digests ever shuffle.
    */
  private[graft] def cdcIncrementalDup(whIndex: DataFrame, whSigs: DataFrame,
      feedSigs: DataFrame): DataFrame =
    Dedup.jaccardCandidates(feedSigs, whSigs,
        whIndex.groupBy(col("dig")).agg(count(lit(1)).as("df")), 1, 2)
      .join(feedSigs.select(col("doc_id").as("i"), col("digs").as("digs_f")),
        Seq("i"))
      .join(whSigs.select(col("doc_id").as("j"), col("digs").as("digs_w")),
        Seq("j"))
      .select(col("i"),
        size(array_intersect(col("digs_f"), col("digs_w"))).as("inter"),
        (size(col("digs_f")) + size(col("digs_w"))).as("tot"))
      .filter(col("inter") * 2 >= col("tot") - col("inter"))
      .select(col("i").as("doc_id"))
      .distinct()

  /** §2.4 mm_cdc_incremental: cross-load CDC near-dup dedup — the
    * reference's incremental set-difference (etl.py:80-92) lifted to
    * content-defined chunks: the standing corpus (doc_id < 250) keeps its
    * digest inverted index + digest sets as warehouse relations; an
    * arriving feed chunks map-side ([[GraftKernels.cdcChunks]]), joins the
    * index, and a feed payload is dropped iff some warehouse payload holds
    * exact Jaccard ≥ 0.5 over digest sets. The oracle is the EXHAUSTIVE
    * feed × warehouse scan — losslessness is graded, not assumed (see
    * [[cdcIncrementalDup]]).
    *
    * Scale shape: the standing corpus never re-chunks (its index is a
    * stored relation appended per load); per-load cost tracks the DELTA;
    * only 8-byte digests shuffle.
    */
  def mmCdcIncremental(spark: SparkSession, dir: String): DataFrame = {
    // the wh index and both rerank sides read sigs
    val (sigs, _) = graft.Barriers.materialize(cdcSigs(
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .repartition(col("doc_id"))))
    val wh = sigs.filter(col("doc_id") < 250)
    val feed = sigs.filter(col("doc_id") >= 250)
    val dup = cdcIncrementalDup(
      wh.select(explode(col("digs")).as("dig"), col("doc_id")), wh, feed)
    feed.select(col("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** The doc_id-ordered window shared by the frame-stream operators. */
  private def frameWindow = org.apache.spark.sql.expressions.Window
    .partitionBy(col("doc_id")).orderBy(col("frame_idx"))

  /** The shared cut decision: both frames FULL (32 bytes) and the stub
    * feature jumping by more than the threshold (|Δ| > 1000 ≈ p90 of
    * within-payload deltas; the knob a real decoder calibrates per
    * codec). Defined ONCE so mm_scene_cut and mm_shot_sample cannot
    * disagree by construction rather than by copy-discipline.
    */
  private val isCut = col("fl") === 32 && col("pfl") === 32 &&
    abs(col("feature") - col("pf")) > 1000

  /** The per-doc frame stream with lagged features — the single relation
    * both mm_scene_cut and mm_shot_sample consume (the cdcSigs pattern):
    * partition-local 32-byte frame explode, stub byte-feature per frame,
    * ONE shuffle (the doc_id lag window) that downstream windows and the
    * scene aggregate all ride.
    */
  private def framesWithLag(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, cast(ceil(length(payload) / 32.0) AS INT)),
             f -> substring(payload, (f - 1) * 32 + 1, 32))""")))
      .toDF("doc_id", "pos", "frame")
      .select(col("doc_id"), col("pos").cast("bigint").as("frame_idx"),
        length(col("frame")).as("fl"),
        expr("graft_byte_feature(frame)").as("feature"))
      .select(col("doc_id"), col("frame_idx"), col("fl"), col("feature"),
        lag(col("feature"), 1).over(frameWindow).as("pf"),
        lag(col("fl"), 1).over(frameWindow).as("pfl"))

  /** §2.4 mm_shot_sample: PER-SHOT frame sampling — the sampler
    * mm_scene_cut's scene map exists for. A fixed-stride sampler
    * (mm_frame_sample) over-samples static scenes and skips short ones
    * entirely; sampling the FIRST frame of every shot yields one
    * representative per scene regardless of scene length — the standard
    * keyframe-extraction shape. Shot ids are the running count of cut
    * flags (same cut decision as mm_scene_cut, |Δfeature| > 1000 between
    * consecutive full frames), so this operator and the scene map can
    * never disagree. All-integer outputs; ONE shuffle (the doc_id lag/
    * running-sum windows share it) and the keyframe filter collapses the
    * stream to one row per shot before the output sort.
    */
  def mmShotSample(spark: SparkSession, dir: String): DataFrame =
    framesWithLag(spark, dir)
      .select(col("doc_id"), col("frame_idx"), col("feature"),
        sum(when(isCut, 1L).otherwise(0L)).over(frameWindow).as("shot_id"),
        when(isCut || col("frame_idx") === 0, lit(1)).otherwise(lit(0))
          .as("is_key"))
      .filter(col("is_key") === 1)
      .select(col("doc_id"), col("shot_id"),
        col("frame_idx").as("key_frame"), col("feature"))
      .orderBy(col("doc_id"), col("shot_id"))

  /** §2.4 mm_scene_cut: shot-boundary detection over the frame stream — a
    * cut wherever consecutive FULL frames' features jump by more than the
    * threshold (|Δfeature| > 1000 ≈ p90 of within-payload deltas here;
    * the knob a real decoder calibrates per codec). The scene map is what
    * a smarter frame sampler consumes — sample per SHOT instead of per
    * stride (pairs with mm_frame_sample). Same stub feature as
    * mm_frame_features, so DuckDB replicates the decision byte-for-byte;
    * outputs (frame count, cut count, first cut index) are all integers —
    * zero float risk. Plan shape: partition-local frame explode, ONE
    * shuffle (lag window partitioned by doc_id), map-side-combined final
    * aggregate riding the same partitioning.
    */
  def mmSceneCut(spark: SparkSession, dir: String): DataFrame =
    framesWithLag(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(isCut, 1L).otherwise(0L)).as("n_cuts"),
        min(when(isCut, col("frame_idx"))).as("first_cut"))
      .orderBy(col("doc_id"))

  /** §2.4 mm_chunk_stats: the CDC chunker's calibration report — the
    * corpus-wide chunk-length histogram under the exact boundary rule
    * the dedup pipeline cuts with ([[graft.functions.GraftKernels
    * .cdcChunkLens]] shares [[graft.functions.GraftKernels.cdcChunks]]'
    * rule verbatim; lengths keep EVERY chunk, not the distinct digest
    * set). Average chunk size IS the dedup granularity/index-size
    * trade-off; this is the report a pipeline reads before turning the
    * modulus knob.
    *
    * Scale shape: the kernel and explode run map-side in one payload
    * pass; only (length, 1) pairs enter the single map-side-combined
    * histogram shuffle — ≤ max-chunk-length rows cross the wire.
    */
  def mmChunkStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(explode(GraftFunctions.cdcChunkLens(
        encode(col("text"), "UTF-8"))).as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy(col("len"))

  /** §2.4 mm_vad: voice-activity-detection segmentation over stub-PCM
    * payloads — the audio-pipeline primitive that cuts a recording into
    * speech segments before transcription/embedding (the audio twin of
    * mm_scene_cut's visual shot boundary). The "decoder" is the
    * clearly-stubbed amplitude rule a = (byte & 0xff) − 128
    * ([[GraftKernels.byteEnergy]]); a 32-byte frame is ACTIVE iff its
    * energy Σa² exceeds 65536 (2¹⁶ — the corpus median, splitting
    * frames ~50/50 so runs are non-trivial), and maximal active runs
    * become segments by gaps-and-islands (frame_idx − row_number is
    * constant exactly within a consecutive run). All-integer end to
    * end — frame energies, island keys, segment bounds, energy sums.
    *
    * Scale shape: framing + energy is ONE map-side pass (codegen'd
    * kernel inside the projection, ~len/32 rows per doc); the only
    * shuffle is the per-doc window/aggregate pair, co-partitioned on
    * doc_id — payload bytes never leave the scan.
    */
  private[graft] val VadThreshold = 65536L

  def mmVad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, cast(ceil(length(payload) / 32.0) AS INT)),
             f -> substring(payload, (f - 1) * 32 + 1, 32))""")))
      .toDF("doc_id", "pos", "frame")
      .select(col("doc_id"), col("pos").cast("bigint").as("frame_idx"),
        expr("graft_byte_energy(frame)").as("energy"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames.filter(col("energy") > VadThreshold)
      .withColumn("isl", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("energy"))
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("start_frame")))
        .cast("bigint"))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("energy"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }
}
