/* Catalyst expression extensions.
 *
 * Lives under org.apache.spark.sql because Spark marks AbstractDataType /
 * ExpectsInputTypes / classic.ExpressionUtils private[sql]; extension
 * libraries conventionally register codegen'd expressions from a [sql]
 * subpackage. Kernels stay in graft.functions (fully public API).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import graft.functions.GraftKernels
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the operators Spark's built-ins can't
  * express efficiently. All generate straight-line calls into
  * [[GraftKernels]] so they stay inside whole-stage codegen.
  */

/** cosine(array<float|double>, array<float|double>) → double.
  * Matches DuckDB list_cosine_similarity on doubles bit-for-bit
  * (same accumulation order + combining formula).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = {
    val ok = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
    Seq(ok, ok)
  }
  override def dataType: DataType = DoubleType

  // Both sides must share one element type (containsNull may differ) —
  // mixed float/double would read the wrong byte width via the
  // single-kernel dispatch below.
  private def elem(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess if elem(left) != elem(right) =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine requires both arrays to have the same element type, " +
            s"got ${left.dataType.sql} and ${right.dataType.sql}")
      case other => other
    }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val l = a.asInstanceOf[ArrayData]
    val r = b.asInstanceOf[ArrayData]
    if (isFloat(left)) GraftKernels.cosineF(l, r) else GraftKernels.cosineD(l, r)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat(left)) "cosineF" else "cosineD"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.$m($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** jaccard_sorted(array<string>, array<string>) → double. Inputs MUST be
  * sorted and distinct (array_sort ∘ array_distinct) — enforced by the
  * call sites, not re-checked per pair.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.jaccardSorted(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** jaccard_sorted_int(array<int>, array<int>) → double — the id-mapped
  * fast path of [[JaccardSorted]] (bijective token ids preserve the value).
  */
case class JaccardSortedInt(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.jaccardSortedInt(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GraftKernels.jaccardSortedInt($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** containment_sorted(array<string>, array<string>) → double: |a∩b|/|a|.
  * Inputs MUST be sorted and distinct, like [[JaccardSorted]].
  */
case class ContainmentSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.containmentSorted(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.containmentSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** minhash_signature(array<string>, k, seed) → array<int> of k minima. */
case class MinHashSignature(child: Expression, k: Int, seed: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftKernels.minHash(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.minHash($c, $k, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** simhash64(array<string>) → long (frequency-weighted bit votes). */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.simHash64(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.simHash64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** fingerprint64(string) → long rolling-hash document fingerprint. */
case class Fingerprint64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.fingerprint64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.fingerprint64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rhp_signature(array<float>, bits, seed) → int LSH bucket signature. */
case class RhpSignature(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.rhpSignature(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.rhpSignature($c, $bits, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rhp_buckets(array<float>) → array<int>: one coordinate-difference RHP
  * bucket per hash table (constants from [[graft.operators.RhpBlocking]],
  * shared with the DuckDB oracle SQL). One kernel call replaces the
  * tables×bits unrolled CASE projection, which overflowed janino's method
  * limits at 32×5 and dropped the whole Generate out of codegen.
  */
case class RhpBuckets(child: Expression, tables: Int, bits: Int, dim: Int,
    seed: Long) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // flattened 0-based (i, j) pairs — derived ONCE from the same generator
  // the oracle SQL uses, shipped to executors as a codegen reference object
  @transient private lazy val flatPairs: Array[Int] =
    graft.operators.RhpBlocking.indexPairs(tables, bits, dim, seed)
      .flatten.flatMap { case (i, j) => Seq(i - 1, j - 1) }.toArray

  override def nullSafeEval(v: Any): Any =
    GraftKernels.rhpBuckets(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      flatPairs, bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rhpPairs", flatPairs, "int[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftKernels.rhpBuckets($c, $ref, $bits)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** char_hist64(string) → array<int>: 64-bucket byte histogram (lossless
  * edit-distance prefilter signature — see [[GraftKernels.histL1]]).
  */
case class CharHist64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftKernels.charHist64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.charHist64($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** hist_l1(array<int>, array<int>) → int: L1 histogram distance. */
case class HistL1(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.histL1(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.histL1($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** byte_feature(binary) → long: stubbed media feature extraction (§2.4). */
case class ByteFeature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.byteFeature(v.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.byteFeature($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** byte_energy(binary) → long: stub-PCM frame energy Σ((b&0xff)−128)²
  * (§2.4 mm_vad) — exact integer, codegen'd.
  */
case class ByteEnergy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.byteEnergy(v.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.byteEnergy($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** avg_hash64(binary) → long: average-hash perceptual fingerprint (§2.4
  * mm_phash_neardup) — 8×8 slice-average grid thresholded at the grid
  * mean; near-identical payloads land at low Hamming distance. Codegen'd.
  */
case class AvgHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    GraftKernels.avgHash64(v.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.avgHash64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** cdc_chunks(binary) → array<long>: sorted distinct FNV-1a-64 digests of
  * the payload's content-defined chunks (§2.4 mm_cdc_neardup). Codegen'd —
  * the rolling-hash + digest loops run inside WholeStageCodegen via a
  * static kernel call.
  */
case class CdcChunks(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftKernels.cdcChunks(v.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.cdcChunks($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Chunk lengths under [[CdcChunks]]' boundary rule — the full in-order
  * length sequence (not the distinct digest set), for chunker
  * calibration reports.
  */
case class CdcChunkLens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftKernels.cdcChunkLens(v.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.cdcChunkLens($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** bitmap_or_count(array<binary>) → bigint: the cardinality of the
  * UNION of id bitmaps produced by [[BitmapAgg]] — popcount of the
  * elementwise OR, computed without materializing the OR'd bitmap.
  * The query-time half of the bitmap-index pattern: per-grain bitmaps
  * aggregate once, window/group combinations OR them (associative,
  * commutative, idempotent — the result is independent of both
  * partitioning and how windows overlap). Null elements are skipped;
  * bitmaps may differ in length (shorter ones are zero-extended, so a
  * grain whose max id was smaller still ORs correctly).
  */
case class BitmapOrCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(BinaryType))
  override def dataType: DataType = LongType

  def orCount(arrAny: Any): Long = {
    val arr = arrAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    var maxLen = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getBinary(i)
        if (b.length > maxLen) maxLen = b.length
      }
      i += 1
    }
    if (maxLen == 0) return 0L
    val acc = new Array[Byte](maxLen)
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getBinary(i)
        var j = 0
        while (j < b.length) { acc(j) = (acc(j) | b(j)).toByte; j += 1 }
      }
      i += 1
    }
    var cnt = 0L
    var j = 0
    while (j < maxLen) {
      cnt += java.lang.Integer.bitCount(acc(j) & 0xff)
      j += 1
    }
    cnt
  }

  override def nullSafeEval(arrAny: Any): Any = orCount(arrAny)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bitmapOrCount", this)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.orCount($arr);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "bitmap_or_count"
}

/** ivf_top_cells(vec) → array<bigint>: the ids of the `take` best
  * centroids of a plan-constant centroid table, ordered best-first by
  * (cosine desc, cent_id desc) — ONE fused kernel replacing the
  * reverse(array_sort(array(struct(cosine(vec, c₀)), …))) ranking
  * expression the IVF family originally evaluated per row.
  *
  * Why fused: the struct-array form allocates |cells| structs per row
  * and runs an INTERPRETED comparator inside array_sort — measured
  * 41 µs/row at 64 cells in the ann ScaleCheck drill (83 s for a 2M-row
  * assignment pass). This kernel is one straight-line loop over a
  * flattened float matrix carried in the expression (broadcast with the
  * serialized plan, like any literal): cosine accumulation is
  * element-for-element the [[GraftKernels.cosineF]] loop and the
  * tie-break replicates the array_sort ordering exactly, so the fused
  * ranking is BIT-IDENTICAL to the expression it replaces
  * (SimilaritySpec pins this; the sim_topk_ivf oracle stays valid
  * unchanged).
  *
  * Stays inside whole-stage codegen via one virtual call on a plan
  * reference object — same pattern as the rhpBuckets kernel (a 64-way
  * unrolled projection would overflow janino).
  */
case class IvfTopCells(
    child: Expression,
    centIds: Array[Long],
    centFlat: Array[Float],
    dim: Int,
    take: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(centIds.nonEmpty && centFlat.length == centIds.length * dim,
    s"centroid matrix shape mismatch: ${centIds.length} ids × $dim dims " +
      s"vs ${centFlat.length} floats")
  require(take >= 1 && take <= centIds.length,
    s"take must be in [1, ${centIds.length}]: $take")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def topCells(vecAny: Any): Any = {
    val vec = vecAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nc = centIds.length
    val sims = new Array[Double](nc)
    val nv = vec.numElements()
    var c = 0
    while (c < nc) {
      val base = c * dim
      val n = math.min(nv, dim)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getFloat(i).toDouble
        val y = centFlat(base + i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      sims(c) =
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    // selection by repeated argmax (take ≤ |cells|, both small): order
    // = (sim desc, cent_id desc), the exact reverse(array_sort) order.
    // Double.compare, NOT raw > / ==: Spark sorts doubles with
    // java.lang.Double.compare semantics (NaN greatest), while raw NaN
    // comparisons are always false — a NaN-poisoned vector would
    // otherwise rank cells in input order here but NaN-first in the
    // reference expression, silently diverging from the pinned oracle
    val out = new Array[Long](take)
    val used = new Array[Boolean](nc)
    var t = 0
    while (t < take) {
      var best = -1
      var j = 0
      while (j < nc) {
        if (!used(j) && (best < 0 || {
          val c = java.lang.Double.compare(sims(j), sims(best))
          c > 0 || (c == 0 && centIds(j) > centIds(best))
        })) best = j
        j += 1
      }
      used(best) = true
      out(t) = centIds(best)
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(vecAny: Any): Any = topCells(vecAny)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfTopCells", this)
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.topCells($vec);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "ivf_top_cells"
}

/** pairs(array<T>) → rows (i: T, j: T), every unordered element pair of a
  * SORTED array with i before j — a custom [[Generator]] that STREAMS the
  * b·(b-1)/2 pairs of a b-element LSH bucket lazily instead of first
  * materializing them as a nested array (what flatten∘transform + explode
  * does). On a hot bucket of 10⁵ ids the array form allocates ~5·10⁹
  * structs in one task before exploding; this yields them one at a time.
  * Interpreted eval (generators aren't whole-stage-codegen'd; the hot
  * arithmetic here is allocation, not expression dispatch).
  */
case class PairsGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pairs() requires an array input, got ${other.sql}")
  }

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = StructType(Seq(
    StructField("i", elemType, nullable = true),
    StructField("j", elemType, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) Iterator.empty
    else {
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = a.numElements()
      val et = elemType
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = n >= 2 && i < n - 1
        override def next(): InternalRow = {
          val row = new GenericInternalRow(Array[Any](a.get(i, et), a.get(j, et)))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          row
        }
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** bisect_bucket(grp, v) → the smallest index i with v ≤ mids(grp)(i)
  * over the group's sorted probe-midpoint array this bisection round
  * (|mids(grp)| when v exceeds every midpoint; −1 for a group with no
  * open bracket). One grouped count over this bucket index replaces the
  * per-probe conditional-sum slots of the bisection cores: the counts
  * count(v ≤ m) fall out of the cumulative bucket histogram, per-row
  * cost is O(log probes) instead of O(probes), and the probe fan can be
  * orders of magnitude wider without widening the aggregate (see
  * [[graft.operators.Relational.BisectFan]]).
  *
  * `grp` is NOT null-intolerant — a null group key is a first-class
  * group (the cores' `<=>` contract), so this implements eval/codegen
  * directly instead of the nullSafeEval scaffolding. `v` null returns
  * the ignored −1 bucket (the cores' null-domain guard throws before
  * any round runs, so this is shape-safety, not semantics).
  */
case class BisectBucket(grp: Expression, v: Expression,
    mids: Seq[(Option[String], scala.collection.immutable.ArraySeq[Long])])
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = grp
  override def right: Expression = v
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  // probe arrays keyed by group, shipped to executors as one codegen
  // reference object (the RhpBuckets pattern); HashMap accepts the null
  // key, so the null group needs no sentinel encoding. The case-class
  // field stays an immutable ArraySeq, so two expressions over equal
  // probes compare (and hash) equal; arrays exist only here.
  @transient private lazy val jmap: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    mids.foreach { case (k, a) =>
      m.put(k.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull, a.toArray)
    }
    m
  }

  override def eval(input: InternalRow): Any = {
    val vv = v.eval(input)
    if (vv == null) -1
    else GraftKernels.bisectIndex(jmap.get(grp.eval(input)),
      vv.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("bisectMids", jmap, "java.util.HashMap")
    val g = grp.genCode(ctx)
    val vv = v.genCode(ctx)
    ev.copy(code =
      code"""
        ${g.code}
        ${vv.code}
        int ${ev.value} = -1;
        if (!${vv.isNull}) {
          ${ev.value} = graft.functions.GraftKernels.bisectIndex(
            (long[]) $ref.get(${g.isNull} ? null : ${g.value}), ${vv.value});
        }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(grp = l, v = r)
}

/** Column-API wrappers (re-exported as graft.functions.GraftFunctions). */
object GraftColumns {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  def cosine(a: Column, b: Column): Column = col(CosineSimilarity(ex(a), ex(b)))
  def jaccardSorted(a: Column, b: Column): Column = col(JaccardSorted(ex(a), ex(b)))
  def jaccardSortedInt(a: Column, b: Column): Column =
    col(JaccardSortedInt(ex(a), ex(b)))
  def containmentSorted(a: Column, b: Column): Column =
    col(ContainmentSorted(ex(a), ex(b)))
  def pairs(sortedIds: Column): Column = col(PairsGenerator(ex(sortedIds)))
  def minhashSignature(tokens: Column, k: Int = 128, seed: Int = 42): Column =
    col(MinHashSignature(ex(tokens), k, seed))
  def simhash64(tokens: Column): Column = col(SimHash64(ex(tokens)))
  def rhpSignature(vec: Column, bits: Int = 16, seed: Int = 42): Column =
    col(RhpSignature(ex(vec), bits, seed))
  def rhpBuckets(vec: Column, tables: Int, bits: Int, dim: Int, seed: Long): Column =
    col(RhpBuckets(ex(vec), tables, bits, dim, seed))
  def charHist64(text: Column): Column = col(CharHist64(ex(text)))
  /** Per-group bisection probe bucket index (see [[BisectBucket]]). */
  def bisectBucket(grp: Column, v: Column,
      mids: Seq[(Option[String], Array[Long])]): Column =
    col(BisectBucket(ex(grp), ex(v),
      mids.map { case (g, a) => (g, scala.collection.immutable.ArraySeq.from(a)) }))
  /** Bloom-filter sketch aggregate over 64-bit hashes (the runtime-filter
    * build side; Spark's own InjectRuntimeFilter uses the same expression
    * pair). Returns the serialized filter — O(numBits), corpus-independent.
    */
  def bloomAgg(hashed64: Column, items: Long, bits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    col(new BloomFilterAggregate(ex(hashed64), Literal(items), Literal(bits))
      .toAggregateExpression())
  }
  /** might_contain(bloomBytes, hashed64) — the bloom side must be foldable
    * (a Literal) or a scalar subquery; false positives possible, false
    * negatives never. */
  def bloomMightContain(bloom: Column, hashed64: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    col(BloomFilterMightContain(ex(bloom), ex(hashed64)))
  }
  def histL1(a: Column, b: Column): Column = col(HistL1(ex(a), ex(b)))
  /** Cardinality of the union of BitmapAgg bitmaps (popcount of OR). */
  def bitmapOrCount(bitmaps: Column): Column = col(BitmapOrCount(ex(bitmaps)))
  /** Best-`take` centroid ids of `vec` against a plan-constant centroid
    * table, best-first by (cosine desc, cent_id desc). */
  def ivfTopCells(vec: Column, cents: Array[(Long, Array[Float])],
      take: Int): Column = {
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      "all centroids must share one dimensionality")
    val ids = cents.map(_._1)
    val flat = new Array[Float](ids.length * dim)
    var c = 0
    while (c < cents.length) {
      System.arraycopy(cents(c)._2, 0, flat, c * dim, dim)
      c += 1
    }
    col(IvfTopCells(ex(vec), ids, flat, dim, take))
  }
  def fingerprint64(text: Column): Column = col(Fingerprint64(ex(text)))
  def byteFeature(payload: Column): Column = col(ByteFeature(ex(payload)))
  def avgHash64(payload: Column): Column = col(AvgHash64(ex(payload)))
  def byteEnergy(payload: Column): Column = col(ByteEnergy(ex(payload)))
  def cdcChunks(payload: Column): Column = col(CdcChunks(ex(payload)))
  def cdcChunkLens(payload: Column): Column = col(CdcChunkLens(ex(payload)))
}
