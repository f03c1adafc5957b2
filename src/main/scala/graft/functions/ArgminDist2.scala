package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native integer-squared-L2 ARGMIN over a literal codebook: the
  * 0-based position of the centroid (an `array<array<bigint>>`) nearest
  * to `v`, ties to the LOWEST position — with whole-stage codegen as
  * one tight nested loop.
  *
  * Why this exists (round 11): the composed form —
  * `array_max(array(struct(-dist2(v, c0), -id0), …))` over k centroids,
  * times m subspaces — generates METHOD-SIZED code per assignment
  * (k struct allocations + array_max comparisons, all inlined). Inside
  * a Generate's consume it overflowed Janino's 64 KB limit outright;
  * hoisted into a projection it compiled but each split method
  * exceeded the JIT's ~8 KB bytecode threshold, so the "compiled" form
  * ran as JVM-INTERPRETED bytecode — measured 2× slower than Spark's
  * own interpreted-expression fallback (SCALE.md "the PQ assignment
  * argmin": m=8 k=16, 100k vectors: fused-fallback 4.3 s,
  * hoisted-compiled 9.1 s). The loop below is a few hundred bytecodes:
  * it JITs, allocates nothing, and the Lloyd pass drops to scan speed.
  *
  * Tie rule: strict `<`, first minimum wins — with centroids ordered
  * by ascending id (every call site sorts), this is exactly the
  * `array_max(struct(-d, -id))` rule it replaces (min d, ties min id).
  * Callers map the position to ids/ADC terms with `element_at` over
  * the parallel literal arrays. Empty codebook → -1 (library call
  * sites `require` non-empty before building the expression, so the
  * sentinel is only reachable from ad-hoc SQL).
  *
  * Null fencing — every hole is closed, each at its cheapest layer
  * (a null anywhere would otherwise read 0 through getLong under
  * codegen and silently poison every assignment):
  *   - a wholly-NULL centroid sub-array THROWS a named runtime error
  *     (it is type-legal — the outer array may be nullable);
  *   - a nullable centroid ELEMENT type is rejected at ANALYSIS time
  *     (checkInputDataTypes): library codebooks are `typedLit`
  *     literals with containsNull=false, so only ad-hoc SQL can even
  *     construct one, and it fails before running;
  *   - a NULL element in the query vector THROWS a named runtime
  *     error, checked in ONE O(dim) pass per row BEFORE the k·dim
  *     hot loop (the vector side is `transform()` output over parquet
  *     arrays, containsNull=true by inheritance, so an analysis-time
  *     reject would break every legitimate call site);
  *   - a dimension mismatch THROWS like [[Dist2]]. */
case class ArgminDist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, false), _)) =>
        true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<array<bigint>>) with " +
        "non-nullable centroid elements (a nullable element would read 0 " +
        "under codegen and poison the argmin), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_argmin_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    var j = 0
    while (j < n) {
      if (v.isNullAt(j))
        throw new IllegalArgumentException(
          s"graft_argmin_dist2: null element at position $j of the " +
            "query vector")
      j += 1
    }
    var best = Long.MaxValue
    var bi = -1
    var c = 0
    val k = cs.numElements()
    while (c < k) {
      if (cs.isNullAt(c))
        throw new IllegalArgumentException(
          s"graft_argmin_dist2: null centroid at position $c")
      val cv = cs.getArray(c)
      if (cv.numElements() != n)
        throw new IllegalArgumentException(
          s"graft_argmin_dist2: dimension mismatch ($n vs " +
            s"${cv.numElements()} at centroid $c)")
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = v.getLong(i) - cv.getLong(i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bi = c }
      c += 1
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val cv = ctx.freshName("cv")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |int $k = $b.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($a.isNullAt($j)) {
         |    throw new IllegalArgumentException(
         |      "graft_argmin_dist2: null element at position " + $j +
         |      " of the query vector");
         |  }
         |}
         |long $best = Long.MAX_VALUE;
         |int $bi = -1;
         |for (int $c = 0; $c < $k; $c++) {
         |  if ($b.isNullAt($c)) {
         |    throw new IllegalArgumentException(
         |      "graft_argmin_dist2: null centroid at position " + $c);
         |  }
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $b.getArray($c);
         |  if ($cv.numElements() != $n) {
         |    throw new IllegalArgumentException(
         |      "graft_argmin_dist2: dimension mismatch (" + $n + " vs " +
         |      $cv.numElements() + " at centroid " + $c + ")");
         |  }
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $cv.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $best) { $best = $acc; $bi = $c; }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgminDist2 =
    copy(left = newLeft, right = newRight)
}
