package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Static JVM kernels invoked from generated code (see expressions.scala).
  *
  * Kept as plain static-forwardable methods on a top-level object so
  * Janino-generated code can call them as `graft.functions.GraftKernels.m(...)`
  * — this keeps the custom expressions inside whole-stage codegen instead of
  * falling back to interpreted eval.
  */
object GraftKernels {

  /** Cosine similarity over float arrays, accumulated in double, combining as
    * dot / (sqrt(na) * sqrt(nb)) — bit-for-bit the formula DuckDB's
    * list_cosine_similarity uses, so the oracle can hash-match raw doubles.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine similarity over double arrays (same combining formula). */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-(k, seed) affine-permutation coefficients, derived by splitmix64
    * so every executor computes identical streams with no shared state
    * beyond this small memo. `a` is forced odd (a bijection mod 2^64).
    */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Long, (Array[Long], Array[Long])]()

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def perms(k: Int, seed: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((k.toLong << 32) | (seed & 0xFFFFFFFFL), _ => {
      val a = new Array[Long](k); val b = new Array[Long](k)
      var i = 0
      while (i < k) {
        a(i) = splitmix64(seed.toLong * 0x632BE59BD9B4E019L + i * 2L + 1L) | 1L
        b(i) = splitmix64(seed.toLong * 0x9E3779B97F4A7C15L + i * 2L)
        i += 1
      }
      (a, b)
    })

  /** MinHash signature: ONE 64-bit base hash per token (two murmur32
    * streams), then k affine permutations `a_i*h + b_i` taking the upper
    * 32 bits (multiply-shift hashing) — ~k× less hashing than k
    * independent murmur passes, same pairwise-collision guarantees.
    * Empty token arrays yield the all-MaxValue sentinel signature; callers
    * must filter them out BEFORE LSH banding or every empty doc collides
    * with every other in every band (the candidate-clique failure mode).
    */
  def minHash(tokens: ArrayData, k: Int, seed: Int): ArrayData = {
    val out = new Array[Int](k)
    val n = tokens.numElements()
    var i = 0
    while (i < k) { out(i) = Int.MaxValue; i += 1 }
    val (as, bs) = perms(k, seed)
    var t = 0
    while (t < n) {
      val s = tokens.getUTF8String(t)
      if (s != null) {
        val lo = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)
        val hi = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), seed ^ 0x85EBCA6B)
        val h = (hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL)
        var i = 0
        while (i < k) {
          val v = ((as(i) * h + bs(i)) >>> 32).toInt
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash: per-token 64-bit hash (two murmur32 streams), bit votes
    * accumulated over all tokens (duplicates count — frequency-weighted).
    */
  /** 64-bit finalizer (the murmur3 fmix64 avalanche): full-entropy bits
    * from the FNV base hash, and — unlike a raw murmur over bytes —
    * exactly replicable in portable SQL (xor/shift/limb-split modular
    * multiply), which is what lets dedup_simhash carry a DuckDB oracle.
    */
  private def fmix64(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  def simHash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val s = tokens.getUTF8String(t)
      if (s != null) {
        val h = fmix64(fingerprint64(s))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Jaccard similarity of two SORTED, DISTINCT string arrays via a single
    * merge walk — O(|a|+|b|) per pair with zero allocation, vs the two
    * hash-set builds of array_intersect + array_union. Callers sort each
    * document's set once (array_sort in the projection: n docs sorts)
    * instead of hashing per candidate pair (n² pair-wise builds).
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i); val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Jaccard over SORTED, DISTINCT int arrays — the id-mapped fast path of
    * [[jaccardSorted]]: token ids are assigned by a bijection (dense rank
    * of the vocabulary), so set sizes and intersections — and therefore
    * the jaccard value — are IDENTICAL to the string-set form, while the
    * merge walk compares ints instead of UTF8 byte strings.
    */
  def jaccardSortedInt(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** One-sided containment |a ∩ b| / |a| over sorted+distinct string sets —
    * same single merge walk as jaccardSorted (O(n+m), no per-pair hash set).
    */
  def containmentSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i); val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / na
  }

  /** FNV-1a-style 64-bit rolling fingerprint over the UTF-8 bytes. */
  def fingerprint64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Random-hyperplane LSH signature: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes. Hyperplane component (b, i) is
    * murmur3(b*65536+i, seed) scaled to (-1, 1) — no RNG state, so every
    * executor derives identical planes. O(bits * dim) per row.
    */
  def rhpSignature(vec: ArrayData, bits: Int, seed: Int): Int = {
    val dim = vec.numElements()
    var sig = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < dim) {
        val h = Murmur3_x86_32.hashInt(b * 65536 + i, seed)
        dot += vec.getFloat(i).toDouble * (h.toDouble / Int.MaxValue)
        i += 1
      }
      if (dot > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** 64-bucket byte histogram of a string's UTF-8 bytes (bucket = byte & 63).
    * Companion of [[histL1]]: a lossless edit-distance prefilter signature.
    */
  def charHist64(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val h = new Array[Int](64)
    var i = 0
    while (i < bytes.length) { h(bytes(i) & 63) += 1; i += 1 }
    new GenericArrayData(h)
  }

  /** L1 distance between two equal-length int histograms. Lossless
    * edit-distance bound: one edit changes the byte multiset by ≤ 2 units
    * of L1, and bucketing can only cancel mass (never add), so
    * histL1 > 2k ⇒ levenshtein > k — pairs failing the test are safely
    * pruned BEFORE the O(len·k) DP kernel ever runs.
    */
  def histL1(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    var d = 0
    var i = 0
    while (i < n) { d += math.abs(a.getInt(i) - b.getInt(i)); i += 1 }
    d
  }

  /** All coordinate-difference RHP table buckets in one pass: flatPairs is
    * the flattened 0-based (i, j) index stream, bits pairs per table, bit b
    * of table l set iff vec[i] > vec[j] (identical comparison to the
    * unrolled element_at CASE form it replaces — the tables×bits unrolled
    * projection overflowed janino's method limit and silently fell back to
    * interpreted eval). O(tables·bits) per row, one int[] allocation.
    */
  def rhpBuckets(vec: ArrayData, flatPairs: Array[Int], bits: Int): ArrayData = {
    val tables = flatPairs.length / (bits * 2)
    val out = new Array[Int](tables)
    var p = 0
    var l = 0
    while (l < tables) {
      var bucket = 0
      var b = 0
      while (b < bits) {
        if (vec.getFloat(flatPairs(p)) > vec.getFloat(flatPairs(p + 1)))
          bucket |= (1 << b)
        p += 2
        b += 1
      }
      out(l) = bucket
      l += 1
    }
    new GenericArrayData(out)
  }

  /** 131^t for the CDC boundary window (t = 0..7). Full-precision longs:
    * max rolling sum 8 · 255 · 131^7 ≈ 1.35e18 stays under Long.MaxValue,
    * so both engines evaluate the identical exact integers (the DuckDB
    * oracle pastes these literals).
    */
  private val CdcPow: Array[Long] = Array.iterate(1L, 8)(_ * 131L)

  /** Content-defined chunking digest set (the LBFS/Venti binary-dedup
    * shape): a chunk boundary falls wherever the degree-7 polynomial
    * rolling hash of the trailing 8 bytes (base 131, exact Long) is
    * ≡ 0 mod 7 — so boundaries are decided by CONTENT, and inserting or
    * deleting bytes only re-cuts the chunks local to the edit, never the
    * rest of the payload (a stride/offset scheme loses every downstream
    * chunk). Each chunk is digested with FNV-1a-64; the DISTINCT digest
    * set is the payload's signature. The mod-7 target (~7-byte chunks)
    * matches this corpus's ~500-byte payloads at the production ratio of
    * ~40-80 chunks per object — at real media scale the same code runs
    * with a KB-scale target (the modulus is the knob). Digest-set sort
    * order is engine-local (signed here, unsigned in the oracle): the set
    * only feeds order-free intersections and bucket joins.
    */
  def cdcChunks(payload: Array[Byte]): ArrayData = {
    val L = payload.length
    if (L == 0) return new GenericArrayData(Array.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var i = 0
    while (i < L) {
      var boundary = i == L - 1
      if (!boundary && i >= 7) {
        var h = 0L
        var t = 0
        while (t < 8) { h += (payload(i - t) & 0xff).toLong * CdcPow(t); t += 1 }
        boundary = h % 7 == 0
      }
      if (boundary) {
        var hash = 0xcbf29ce484222325L
        var p = start
        while (p <= i) { hash = (hash ^ (payload(p) & 0xffL)) * 0x100000001b3L; p += 1 }
        out += hash
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.distinct.sorted.toArray)
  }

  /** Chunk LENGTHS under the same boundaries as [[cdcChunks]] — every
    * chunk in payload order, NOT deduplicated (cdcChunks keeps the
    * distinct digest set; calibration wants the full length sequence).
    * The two share the boundary rule verbatim so a length profile is a
    * faithful report on the digest pipeline's granularity.
    */
  def cdcChunkLens(payload: Array[Byte]): ArrayData = {
    val L = payload.length
    if (L == 0) return new GenericArrayData(Array.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var i = 0
    while (i < L) {
      var boundary = i == L - 1
      if (!boundary && i >= 7) {
        var h = 0L
        var t = 0
        while (t < 8) { h += (payload(i - t) & 0xff).toLong * CdcPow(t); t += 1 }
        boundary = h % 7 == 0
      }
      if (boundary) {
        out += (i - start + 1).toLong
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Deterministic stand-in for a decoded-media feature: byte histogram sum.
    * The real decoder (image/audio libs) is intentionally stubbed; the
    * Spark-side plumbing (binary column in, fixed-width feature out) is real.
    */
  def byteFeature(payload: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < payload.length) {
      acc += (payload(i) & 0xff) * ((i % 7) + 1)
      i += 1
    }
    acc
  }

  /** Average-hash perceptual fingerprint (aHash): the payload is cut
    * into 64 equal slices (the stand-in for "resize to an 8×8 grid" —
    * a real image decoder would hand pixel luma here), each slice
    * averages its bytes, and bit b is set iff slice b's average beats
    * the global average. Small local edits flip only the bits of the
    * slices they touch, so perceptual near-dups sit at low Hamming
    * distance — unlike a cryptographic digest, where one byte flips
    * half the bits. Payloads shorter than 64 bytes index sparsely
    * (empty slices average 0). Deterministic, allocation-free, runs
    * inside WholeStageCodegen via the static call.
    */
  /** Stub-PCM frame energy: amplitude per byte = (b & 0xff) - 128 (the
    * "decode" a real audio lib would replace), energy = Σ amplitude² —
    * exact integer, allocation-free, codegen-callable. Feeds the VAD
    * segmentation (§2.4 mm_vad).
    */
  def byteEnergy(payload: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < payload.length) {
      val a = (payload(i) & 0xff) - 128
      acc += a.toLong * a
      i += 1
    }
    acc
  }

  def avgHash64(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < n) {
      // slice index by proportional position — stable under length drift
      val s = ((i.toLong * 64L) / n).toInt
      sums(s) += (payload(i) & 0xff)
      cnts(s) += 1
      i += 1
    }
    var total = 0L
    var b = 0
    while (b < 64) { total += (if (cnts(b) == 0) 0L else sums(b) / cnts(b)); b += 1 }
    val mean = total / 64L
    var hash = 0L
    b = 0
    while (b < 64) {
      val avg = if (cnts(b) == 0) 0L else sums(b) / cnts(b)
      if (avg > mean) hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** Bisection probe bucket: the smallest index i with v ≤ m(i) over a
    * group's sorted probe-midpoint array `m` (m.length when v exceeds
    * every midpoint), or −1 when `m` is null — the group has no open
    * bracket this round, so its rows are counted under a bucket the
    * driver ignores. One binary search (O(log probes)) replaces the
    * per-probe conditional-sum chain that made wide bisection fans lose
    * to their own expression width (see Relational.BisectFan history):
    * per-row cost is now logarithmic in the probe count, so a round can
    * carry thousands of midpoints and the bracket search closes in 2–3
    * counting passes instead of 8–24. The group → array lookup is the
    * caller's ([[org.apache.spark.sql.graft.BisectBucket]]).
    */
  def bisectIndex(m: Array[Long], v: Long): Int = {
    if (m == null) -1
    else {
      var lo = 0
      var hi = m.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (m(mid) < v) lo = mid + 1 else hi = mid
      }
      lo
    }
  }
}
