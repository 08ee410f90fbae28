package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A broadcast-resident centroid set: ids + row-major matrix (double —
  * float centroids are widened once at collect time, exactly as the
  * per-element `cast to double` the join formulation performed). */
final case class CentroidSet(cids: Array[Long], mat: Array[Array[Double]])
    extends Serializable

/** Shared interpreted/codegen kernel for [[NearestCentroid]]. An `object`
  * with no companion class compiles to static forwarders, so generated
  * Java can call `graft.functions.VecUtil.nearestCentroid(...)` directly. */
object VecUtil {

  /** Spark's `round(x, 6)` for doubles, bit for bit
    * (BigDecimal.valueOf → HALF_UP → doubleValue; NaN and ±Infinity,
    * which BigDecimal cannot hold, pass through unchanged). */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Rounding merge window: round6 is MONOTONE, so only candidates with
    * raw distance within [rawMin, rawMin + 1.5e-6] can share the minimal
    * rounded value (round6(x) ≤ x + 5e-7 ⇒ the last raw value rounding
    * to round6(rawMin) is ≤ rawMin + 1e-6; 1.5e-6 is a safe superset). */
  private final val RoundMargin = 1.5e-6

  /** Argmin over centroids of round6(‖emb − c‖²), ties to the smallest
    * centroid_id — the exact semantics of the former
    * `min(struct(round(l2Sq(emb, c_emb), 6), centroid_id))` aggregate,
    * with identical left-to-right double accumulation and identical
    * rounding, so oracle hashes are unchanged.
    *
    * Perf shape (the k-centroid inner loop is the whole cost of IVF
    * build at scale): the scan tracks the RAW minimum with
    * partial-distance early exit (a candidate's accumulation aborts the
    * moment it exceeds rawMin + margin — the standard IVF pruning), and
    * BigDecimal rounding runs only for the few candidates inside the
    * rounding merge window of the raw minimum (usually exactly one)
    * instead of once per (row × centroid).
    *
    * Returns null (no assignment) when the embedding is null-element,
    * or when no centroid matches the embedding's length — mirroring the
    * join formulation where a NULL distance poisons every candidate. */
  def nearestCentroid(emb: ArrayData, embIsDouble: Boolean, cs: CentroidSet): InternalRow = {
    val n = emb.numElements()
    // Copy the embedding out of ArrayData once: the inner loop reads it
    // k times.
    val e = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      e(i) = if (embIsDouble) emb.getDouble(i) else emb.getFloat(i).toDouble
      i += 1
    }
    var rawBest = Double.PositiveInfinity
    // Candidates inside the rounding window of the (current) raw best;
    // appended rarely, filtered against the FINAL rawBest afterwards.
    var candCids: Array[Long] = null
    var candDists: Array[Double] = null
    var nCand = 0
    var c = 0
    while (c < cs.mat.length) {
      val ce = cs.mat(c)
      if (ce.length == n) {
        val bound = rawBest + RoundMargin
        var acc = 0.0
        var j = 0
        while (j < n && acc <= bound) {
          val d = e(j) - ce(j)
          acc += d * d
          j += 1
        }
        if (j == n && acc <= bound) {
          if (candCids == null) {
            candCids = new Array[Long](8); candDists = new Array[Double](8)
          } else if (nCand == candCids.length) {
            candCids = java.util.Arrays.copyOf(candCids, nCand * 2)
            candDists = java.util.Arrays.copyOf(candDists, nCand * 2)
          }
          candCids(nCand) = cs.cids(c); candDists(nCand) = acc; nCand += 1
          if (acc < rawBest) rawBest = acc
        }
      }
      c += 1
    }
    if (nCand == 0) return null
    var bestCid = -1L
    var bestDist = 0.0
    var found = false
    i = 0
    while (i < nCand) {
      if (candDists(i) <= rawBest + RoundMargin) {
        val dist = round6(candDists(i))
        if (!found || dist < bestDist || (dist == bestDist && candCids(i) < bestCid)) {
          found = true; bestDist = dist; bestCid = candCids(i)
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestDist))
  }

  /** Top-2 centroid assignment by the same (round6 distance, cid)
    * order as [[nearestCentroid]] — the boundary-replication signal
    * ([[graft.operators.Nsw]] spill builds): the margin d2 − d1 says
    * how close a vector sits to a FOREIGN cell. Build-time-only pass,
    * so the straightforward full scan (no partial-distance early exit)
    * keeps the tie-break logic simple and exactly argmin-consistent:
    * the returned (c1, d1) always equals [[nearestCentroid]]'s pick.
    * Fields 2/3 are null when only one centroid matches the dimension.
    * Returns null under the same unassignable conditions. */
  def top2Centroids(emb: ArrayData, embIsDouble: Boolean, cs: CentroidSet): InternalRow = {
    val n = emb.numElements()
    val e = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      e(i) = if (embIsDouble) emb.getDouble(i) else emb.getFloat(i).toDouble
      i += 1
    }
    var c1 = -1L; var d1 = 0.0; var c2 = -1L; var d2 = 0.0
    var have = 0
    var c = 0
    while (c < cs.mat.length) {
      val ce = cs.mat(c)
      if (ce.length == n) {
        var acc = 0.0
        var j = 0
        while (j < n) { val d = e(j) - ce(j); acc += d * d; j += 1 }
        if (!java.lang.Double.isNaN(acc)) {
          val dist = round6(acc)
          val cid = cs.cids(c)
          if (have == 0 || dist < d1 || (dist == d1 && cid < c1)) {
            if (have > 0) { c2 = c1; d2 = d1 }
            c1 = cid; d1 = dist
            have = math.min(have + 1, 2)
          } else if (have < 2 || dist < d2 || (dist == d2 && cid < c2)) {
            c2 = cid; d2 = dist
            have = 2
          }
        }
      }
      c += 1
    }
    if (have == 0) null
    else if (have == 1) new GenericInternalRow(Array[Any](c1, d1, null, null))
    else new GenericInternalRow(Array[Any](c1, d1, c2, d2))
  }
}

/** Nearest-centroid assignment as a single narrow codegen'd expression —
  * the map-only re-expression of IVF assignment (SURVEY.md §4; reference
  * HNSW insert loop, Program.cs:141-204, whose distance scan this
  * replaces).
  *
  * The former formulation (crossJoin(broadcast(cents)) → min(struct))
  * was already broadcast-based but still paid a full groupBy(vec_id)
  * exchange to collapse the k candidates per vector. Centroids are
  * kB–MB scale by construction (k ≪ n), so the whole argmin fits in one
  * expression over a Broadcast handle: scan → project, zero shuffles,
  * and the task binary carries only the broadcast id, not the matrix.
  *
  * Output: struct(centroid_id long, dist double) where
  * dist = round(‖emb − c‖², 6) of the winning centroid.
  */
case class NearestCentroid(child: Expression, bc: Broadcast[CentroidSet])
    extends UnaryExpression {

  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> input, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  private def embIsDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(a: Any): Any =
    VecUtil.nearestCentroid(a.asInstanceOf[ArrayData], embIsDouble, bc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidsBc", bc,
      classOf[Broadcast[CentroidSet]].getName)
    val r = ctx.freshName("ncRow")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.VecUtil.nearestCentroid(
         |    $c, $embIsDouble, (graft.functions.CentroidSet) $bcRef.value());
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Top-2 variant of [[NearestCentroid]] — same broadcast matrix, same
  * narrow zero-shuffle shape, emitting the runner-up cell and both
  * rounded distances so boundary-band membership (d2 − d1 ≤ ε) is one
  * codegen'd projection. Output:
  * struct(centroid_id long, dist double, centroid_id2 long?, dist2 double?). */
case class Nearest2Centroids(child: Expression, bc: Broadcast[CentroidSet])
    extends UnaryExpression {

  override def prettyName: String = "nearest_2_centroids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> input, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false),
    StructField("centroid_id2", LongType, nullable = true),
    StructField("dist2", DoubleType, nullable = true)))
  override def nullable: Boolean = true

  private def embIsDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(a: Any): Any =
    VecUtil.top2Centroids(a.asInstanceOf[ArrayData], embIsDouble, bc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidsBc", bc,
      classOf[Broadcast[CentroidSet]].getName)
    val r = ctx.freshName("nc2Row")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.VecUtil.top2Centroids(
         |    $c, $embIsDouble, (graft.functions.CentroidSet) $bcRef.value());
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Nearest2Centroids =
    copy(child = newChild)
}
