package graft.plans

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Exact-preserving frequency screen for `HAVING COUNT(*) >= 3` shapes whose
  * grouping exchange is near-no-reduction (q17's product-affinity pair count:
  * the reference's 05-sample correlated-subquery decorrelation — at sf10 the
  * 1.3 B-row packed-pair exchange is the entry's dominant wall term while
  * only ~10⁻³ of the distinct pairs survive the threshold; r14 verdict
  * Next #2).
  *
  * Mechanism: ONE map-side pass over the pair stream builds a 2-bit
  * SATURATING counting sketch (lanes cap at 3) over `mix(value) & (cells-1)`;
  * the main pass then drops every row whose lane is below 3 BEFORE the
  * exchange. Saturating counts are order-independent and collisions only
  * ever ADD, so `lane(v) >= 3` is implied by `true_count(v) >= 3`: the
  * screen admits false positives (removed by the exact recount + HAVING that
  * were already in the plan) and can never produce a false negative — the
  * final result is bit-identical to the unscreened plan by construction,
  * which is what keeps the entry hash-checkable against the unchanged DuckDB
  * oracle.
  *
  * Expected selectivity: with load λ = rows/cells, a count-1 tail value
  * passes only when ≥ 2 colliding increments land on its cell —
  * P ≈ 1 − e^−λ(1+λ) (0.12 at λ = 0.6, the sf10 operating point at the
  * default cell cap), so the exchange keeps the true survivors plus ~12 % of
  * the Zipfian tail instead of 100 % of it.
  *
  * Build modes (chosen by `sparkContext.isLocal`):
  *   - shared: every task CAS-increments ONE JVM-wide [[AtomicLongArray]] —
  *     zero shuffle, zero per-task sketch copies, full scan parallelism.
  *     Sound exactly when all executors share the driver JVM (local[n]).
  *   - partitioned: the pair stream is coalesced (no shuffle) to a bounded
  *     task count, each task fills a plain local array, and `treeReduce`
  *     merges them with the SWAR saturating add — cluster-correct (no
  *     executor-singleton gather), at the cost of one sketch-sized buffer
  *     per concurrent task. On a real cluster coalesce to ~one partition
  *     per executor; both modes produce identical sketches (spec-pinned).
  *
  * 100 TB posture: sketch width must track the screened mass (λ ≲ 1.5 or the
  * lanes saturate and the screen passes everything). Width is sized from the
  * EXACT pair mass (computed from the capped per-key basket sizes — a
  * metadata-scale aggregate) and capped at [[MaxCells]] (2^31 cells =
  * 512 MB); beyond ~4× that mass the screen refuses LOUDLY and the plan
  * falls back to the unscreened shape — a silent saturated screen would cost
  * a full extra pass for nothing. Sharding the sketch by key range would
  * extend it past the cap; documented, deliberately not built until a
  * measured workload needs it.
  */
object FrequencyScreen {

  /** 2^31 2-bit lanes = 512 MB — sized so the sf10 pair mass (~1.3 B) runs
    * at λ ≈ 0.6.
    */
  val MaxCells: Long = 1L << 31
  val MinCells: Long = 1L << 20
  /** Loads above this saturate too many lanes to pay for the extra pass. */
  val MaxLoad = 1.5

  /** Power-of-two cell count for an expected screened mass, or None when the
    * cap can't hold the load — the caller must fall back unscreened.
    */
  def cellsFor(expectedMass: Long): Option[Long] = {
    val want = math.max(MinCells, 4L * math.max(expectedMass, 1L))
    val cells = if (want >= MaxCells) MaxCells
      else java.lang.Long.highestOneBit(want - 1) << 1
    if (expectedMass.toDouble / cells > MaxLoad) None else Some(cells)
  }

  // ---- build -------------------------------------------------------------

  /** Sketch of `df.col(column)` (LongType, non-null) with `cells` 2-bit
    * saturating lanes. One full pass over `df`; no shuffle in shared mode,
    * one `treeReduce` of per-task sketches in partitioned mode.
    */
  def buildThresholdSketch(df: DataFrame, column: String, cells: Long,
      forceMode: Option[String] = None): Array[Long] = {
    require(cells >= 32 && (cells & (cells - 1)) == 0, s"cells must be a power of two >= 32: $cells")
    val words = (cells >>> 5).toInt
    val mask = cells - 1
    val rdd = df.select(column).queryExecution.toRdd
    val mode = forceMode.getOrElse(
      if (df.sparkSession.sparkContext.isLocal) "shared" else "partitioned")
    mode match {
      case "shared" =>
        val id = java.util.UUID.randomUUID().toString
        try {
          rdd.foreachPartition { iter =>
            val arr = shared.computeIfAbsent(id, _ => new AtomicLongArray(words))
            while (iter.hasNext) bumpAtomic(arr, mask, iter.next().getLong(0))
          }
          val a = shared.get(id)
          require(a != null, "frequency-screen shared sketch missing — executors did not share the driver JVM; use partitioned mode")
          val out = new Array[Long](words)
          var i = 0
          while (i < words) { out(i) = a.get(i); i += 1 }
          out
        } finally shared.remove(id)
      case "partitioned" =>
        // bounded concurrent sketch buffers: no shuffle (coalesce), and the
        // per-task array is plain (single-writer)
        val parts = math.max(1, math.min(rdd.getNumPartitions,
          df.sparkSession.sparkContext.defaultParallelism))
        rdd.coalesce(parts).mapPartitions { iter =>
          val arr = new Array[Long](words)
          while (iter.hasNext) bumpLocal(arr, mask, iter.next().getLong(0))
          Iterator.single(arr)
        }.treeReduce(mergeSaturating, depth = 2)
      case other => throw new IllegalArgumentException(s"unknown screen mode $other")
    }
  }

  private val shared = new java.util.concurrent.ConcurrentHashMap[String, AtomicLongArray]()

  private def bumpAtomic(arr: AtomicLongArray, mask: Long, v: Long): Unit = {
    val idx = graft.functions.BloomHash.mix(v) & mask
    val slot = (idx >>> 5).toInt
    val lane = ((idx & 31L) << 1).toInt
    var done = false
    while (!done) {
      val cur = arr.get(slot)
      if (((cur >>> lane) & 3L) == 3L) done = true
      else done = arr.compareAndSet(slot, cur, cur + (1L << lane))
    }
  }

  private def bumpLocal(arr: Array[Long], mask: Long, v: Long): Unit = {
    val idx = graft.functions.BloomHash.mix(v) & mask
    val slot = (idx >>> 5).toInt
    val lane = ((idx & 31L) << 1).toInt
    if (((arr(slot) >>> lane) & 3L) != 3L) arr(slot) += 1L << lane
  }

  /** Lane-wise saturating add of two sketches, in place into `a`. SWAR over
    * nibble halves: each 64-bit word holds 32 2-bit lanes; even lanes
    * (low half of each nibble) and odd lanes are added separately so a lane
    * sum (≤ 6) stays inside its own nibble, then values ≥ 4 clamp to 3 via
    * the nibble's bit-2 overflow indicator.
    */
  def mergeSaturating(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"sketch width mismatch: ${a.length} vs ${b.length}")
    val even = 0x3333333333333333L
    val ovBit = 0x1111111111111111L
    var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      val se = (x & even) + (y & even)
      val oe = (se >>> 2) & ovBit
      val re = (se | (oe * 3L)) & even
      val so = ((x >>> 2) & even) + ((y >>> 2) & even)
      val oo = (so >>> 2) & ovBit
      val ro = (so | (oo * 3L)) & even
      a(i) = re | (ro << 2)
      i += 1
    }
    a
  }

  /** True iff the value's lane is saturated (count ≥ 3 possible). Static so
    * whole-stage codegen calls it without dispatch (BloomHash pattern).
    */
  def saturated(arr: Array[Long], mask: Long, v: Long): Boolean = {
    val idx = graft.functions.BloomHash.mix(v) & mask
    ((arr((idx >>> 5).toInt) >>> ((idx & 31L) << 1).toInt) & 3L) == 3L
  }

  /** Column predicate: `count(value) >= 3` is POSSIBLE per the broadcast
    * sketch. The sketch rides a Broadcast handle, not a plan literal — the
    * task binary stays small and executors share one copy.
    */
  def mightReachThree(value: Column, sketch: Broadcast[Array[Long]], cells: Long): Column =
    ColumnBridge.column(SketchSaturated(ColumnBridge.expression(value), sketch, cells - 1))
}

/** Codegen'd probe of a [[FrequencyScreen]] sketch: one mix + one array read
  * inside whole-stage codegen. The broadcast is dereferenced once per
  * generated-class instance (per task), not per row.
  */
case class SketchSaturated(child: Expression, sketch: Broadcast[Array[Long]], mask: Long)
    extends UnaryExpression {

  override def prettyName: String = "graft_sketch_saturated"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_sketch_saturated requires bigint, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    FrequencyScreen.saturated(sketch.value, mask, v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("sketchBc", sketch,
      classOf[Broadcast[Array[Long]]].getName)
    val arr = ctx.addMutableState("long[]", "sketchArr")
    nullSafeCodeGen(ctx, ev, v => s"""
      |if ($arr == null) { $arr = (long[]) $bcRef.value(); }
      |${ev.value} = graft.plans.FrequencyScreen.saturated($arr, ${mask}L, $v);
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
