package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * Spark's codegen'd higher-order functions (`zip_with`/`aggregate`) — no
  * Scala UDFs, so the expressions stay inside whole-stage codegen and
  * columnar batches are never deserialized through an encoder.
  *
  * All arithmetic is in DOUBLE with a sequential left fold, which makes the
  * result bit-stable and comparable against DuckDB's list functions over a
  * DOUBLE[] cast (same fold order).
  */
object VectorFunctions {

  /** Dot product via the native codegen'd expression (graft.plans
    * .FloatVecDot): identical semantics to the higher-order fold
    * (sequential double sum), ~100× less per-pair overhead inside
    * all-pairs similarity joins.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.FloatVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def normSq(a: Column): Column = dot(a, a)

  /** Map-side nearest-centroid argmin over a driver-collected matrix
    * (graft.plans.NearestCell) — zero-shuffle IVF cell assignment.
    */
  def nearestCell(vec: Column, cells: Array[Int],
      cvecs: Array[Array[Float]], cn2s: Array[Double]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.NearestCell(
      ColumnBridge.expression(vec), cells, cvecs, cn2s))
  }

  /** Top-p nearest cells (graft.plans.NearestCells) — SOFT assignment for
    * SemDeDup's boundary recovery; same zero-shuffle posture.
    */
  def nearestCells(vec: Column, cells: Array[Int],
      cvecs: Array[Array[Float]], cn2s: Array[Double], p: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.NearestCells(
      ColumnBridge.expression(vec), cells, cvecs, cn2s, p))
  }

  /** Fused dequantize-and-dot over two byte-packed SQ8 code arrays
    * (graft.plans.Sq8CodeDot): equals dot(dequantByte(a), dequantByte(b))
    * bit-exactly while evaluating each code array once — the quantized
    * pre-filter's hot loop.
    */
  def sq8Dot(a: Column, b: Column, lo: Array[Double],
      step: Array[Double]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.Sq8CodeDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b), lo, step))
  }

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  /** Deterministic random-hyperplane (SimHash-style) LSH bucket ids for a
    * vector, all hash tables in one native pass (graft.plans.LshBuckets):
    * per table, `nBits` Rademacher (±1) hyperplanes with signs derived
    * from splitmix64 of (seed, dimIdx); bucket bit b = sign(dot(v,
    * plane_b)). No stored plane matrix — planes are recomputable on every
    * executor, crucial at 100 TB. Replaces an interpreted
    * `aggregate`/`zip_with` fold per (table × bit) that dominated the ANN
    * query cost.
    */
  def lshBuckets(vec: Column, nBits: Int, seeds: Seq[Int]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.LshBuckets(
      ColumnBridge.expression(vec), nBits, seeds.toArray))
  }

  /** Lossless pack of an `array<float>` embedding into BINARY
    * (graft.plans.FloatVecPack: 4 little-endian IEEE-754 bytes per
    * element). The output attribute is METADATA-MARKED as a packed
    * vector, so ScaleLint's physical rule keeps seeing it on shuffle
    * exchanges — packing must never silently evade the engine-wide
    * float-payload guardrail. A shuffle of a packed vector is either a
    * lint finding or an explicit, auditable [[packVecExempt]].
    */
  def packVec(a: Column, name: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.FloatVecPack(ColumnBridge.expression(a)))
      .as(name, new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(graft.plans.ScaleLint.PackedVectorKey, true).build())
  }

  /** [[packVec]] with a deliberate-shuffle exemption: the attribute
    * carries both the packed-vector mark AND an exemption reason, so the
    * lint stays green while every exempted exchange remains greppable
    * and reviewable at the call site. Use ONLY where the shuffled row
    * count is bounded by construction (e.g. the exact-verify re-attach,
    * O(surviving candidate pairs), never O(corpus) rows × O(corpus)
    * replication).
    */
  def packVecExempt(a: Column, name: String, reason: String): Column = {
    require(reason.trim.nonEmpty,
      "packVecExempt needs a non-empty justification — it is the audit trail")
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.FloatVecPack(ColumnBridge.expression(a)))
      .as(name, new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(graft.plans.ScaleLint.PackedVectorKey, true)
        .putString(graft.plans.ScaleLint.PackedVectorExemptKey, reason)
        .build())
  }

  /** Exact dot over two [[packVec]]-packed BINARY vectors
    * (graft.plans.PackedFloatDot) — bit-identical to [[dot]] on the
    * unpacked arrays (same IEEE floats, same DOUBLE fold order).
    */
  def packedDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.PackedFloatDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
