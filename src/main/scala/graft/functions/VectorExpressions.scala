package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The one codegen'd dot product of the embedding operators (SURVEY.md
  * §2.11 upgrade path): `ARRAY<FLOAT>` × `ARRAY<FLOAT|DOUBLE>`, in double.
  *
  * Why an Expression and not composition: `aggregate(zip_with(...))` HOFs
  * are evaluated interpreted (lambda dispatch + an intermediate array
  * allocation per row), while `doGenCode` here emits ONE tight loop inside
  * whole-stage codegen regardless of dim.
  *
  * The right side's element type is read when the code is generated: an
  * `ARRAY<DOUBLE>` right side is the perceptron margin against weights
  * that ride as DATA (a broadcast one-row column) or as a typed literal.
  * As data, the trainer's epoch plan and its generated source are
  * epoch-invariant, so the codegen cache hits every epoch after the first.
  *
  * Semantics: ascending-index, left-associated double sum starting at
  * 0.0 — bit-identical to the HOF `Similarity.dot` fold and DuckDB's
  * list_transform/list_sum oracle (spec-pinned). Array elements are
  * assumed non-null (embedding vectors); the shorter length wins if dims
  * differ. Null input array → null result.
  */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_f32 requires ARRAY<FLOAT> and ARRAY<FLOAT> or " +
          s"ARRAY<DOUBLE> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f32"

  private def rightDouble: Boolean = right.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val dbl = rightDouble
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble *
        (if (dbl) y.getDouble(i) else y.getFloat(i).toDouble)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val y = if (rightDouble) s"$b.getDouble($i)"
        else s"((double) $b.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * $y;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF32 =
    copy(left = newLeft, right = newRight)
}

/** All `nTables` random-hyperplane LSH bucket values of a float vector in
  * ONE codegen'd pass: bucket bit b of table t = sign of the projection
  * against hyperplane (t, b), hyperplanes a driver-precomputed ±1 sign
  * matrix shipped as a codegen reference object.
  *
  * Why an Expression: the composed form — nTables × nBits separate
  * dot-against-literal columns — is numerically identical but puts
  * hundreds of 64-element array literals into the plan, twice once the
  * banded frame sits on both sides of a self-join; at nTables=8/nBits=16
  * the optimizer/codegen fixed cost alone reached ~19 s per query
  * (measured on the 20k-vector probe, zero candidates). One expression
  * node emits one tight loop and the plan stays constant-size in
  * (nBits, nTables).
  *
  * Null vector → null array (callers band with posexplode, so null-
  * embedding rows simply don't enter the candidate join — they could
  * never verify against a threshold anyway). Vectors shorter than the
  * probed `dim` project over their prefix.
  */
case class HyperplaneBuckets(child: Expression, dim: Int, nBits: Int,
                             nTables: Int, seed: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nBits >= 1 && nBits <= 62, s"nBits out of range: $nBits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires ARRAY<FLOAT> input, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  /** ±1 hyperplane component for (element i, bit b, table seed) —
    * splitmix64 finalizer, identical formula to Similarity's previous
    * per-column literals (stateless, reproducible across runs/JVMs). */
  private def sign(i: Int, b: Int, tableSeed: Int): Float = {
    var z = (tableSeed.toLong << 42) + (b.toLong << 21) + i.toLong +
      0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
  }

  /** Flattened [table][bit][dim] sign matrix, built once on the driver. */
  private lazy val signs: Array[Float] = {
    val out = new Array[Float](nTables * nBits * dim)
    var t = 0
    while (t < nTables) {
      var b = 0
      while (b < nBits) {
        var i = 0
        while (i < dim) {
          out((t * nBits + b) * dim + i) = sign(i, b, seed + t)
          i += 1
        }
        b += 1
      }
      t += 1
    }
    out
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val buckets = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val off = (t * nBits + b) * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += x.getFloat(i).toDouble * signs(off + i); i += 1 }
        if (s >= 0) bucket |= 1L << b
        b += 1
      }
      buckets(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buckets)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val sgn = ctx.addReferenceObj("signs", signs, "float[]")
      val n = ctx.freshName("n")
      val bk = ctx.freshName("buckets")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val bu = ctx.freshName("bucket")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long[] $bk = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bu = 0L;
         |  for (int $b = 0; $b < $nBits; $b++) {
         |    int $off = ($t * $nBits + $b) * $dim;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += ((double) $v.getFloat($i)) * $sgn[$off + $i];
         |    }
         |    if ($s >= 0) $bu |= 1L << $b;
         |  }
         |  $bk[$t] = $bu;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($bk);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBuckets = copy(child = newChild)
}

/** Nearest-centroid assignment for k-means in ONE codegen'd pass: the
  * index of the centroid with the highest cosine against the input
  * vector, ties to the lower index, zero-norm denominators scored -2
  * (below any real cosine).
  *
  * Why an Expression: the composed form — k parallel
  * aggregate(zip_with(...))-against-literal cosines sorted in a struct
  * array — rebuilds a plan tree LINEAR in k×dim, and Lloyd's algorithm
  * re-plans it every round with fresh centroid literals; at k=64/dim=64
  * the analyzer/optimizer fixed cost alone dominated the actual 20k-row
  * assignment work (same failure mode as the pre-HyperplaneBuckets LSH
  * literals above). One expression node holds the centroid matrix as a
  * codegen reference object and the plan stays constant-size in k.
  *
  * Arithmetic is bit-identical to the composed HOF form (and the DuckDB
  * oracle): ascending-index sequential double folds for the dot and the
  * row norm; centroid norms are driver-precomputed with the same
  * ascending sum. Null vector → null; a vector whose length differs
  * from the centroid dim, or that carries a null element, resolves to
  * cluster 0, exactly like the composed form (zip_with's null pad / the
  * null product poison the fold → null cosine → coalesce(-2) for every
  * centroid) and the SQL oracle's CASE guard.
  */
/** THE centroid-scan arithmetic shared by [[NearestCentroid]] and
  * [[NearestCentroidScore]] — one definition of the flattened matrix,
  * the driver-side norms, the degenerate test, the interpreted scan,
  * and the codegen template. The two expressions are spec-pinned to be
  * the argmax/max pair of ONE scan; a tie-break or norm-order change
  * applied to a private copy of either would silently break that
  * pairing, so no private copies exist. */
private[functions] object CentroidScan {

  def flatten(cents: Array[Array[Double]], owner: String): Array[Double] = {
    val k = cents.length
    val dim = cents.head.length
    val out = new Array[Double](k * dim)
    var j = 0
    while (j < k) {
      require(cents(j).length == dim,
        s"$owner: centroid $j has dim ${cents(j).length}, not $dim")
      System.arraycopy(cents(j), 0, out, j * dim, dim)
      j += 1
    }
    out
  }

  /** Plan text for a driver-side matrix argument: its `shape` and a
    * CRC32 of its `values`, so `explain` names the matrix an expression
    * holds instead of a JVM identity hash that changes every run. */
  def describe(shape: String, values: Array[Double]): String = {
    val bytes = java.nio.ByteBuffer.allocate(values.length * 8)
    values.foreach(bytes.putDouble)
    val crc = new java.util.zip.CRC32
    crc.update(bytes.array())
    f"$shape #${crc.getValue}%08x"
  }

  /** Centroid L2 norms, ascending-index driver sum (same order as the
    * SQL oracle's list_sum). */
  def norms(cents: Array[Array[Double]]): Array[Double] = cents.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** Dim mismatch or a null ELEMENT — the inputs the composed HOF form
    * scores -2 everywhere (each expression maps them to its own
    * documented default). */
  def degenerate(x: ArrayData, dim: Int): Boolean = {
    if (x.numElements() != dim) return true
    var i = 0
    while (i < dim) { if (x.isNullAt(i)) return true; i += 1 }
    false
  }

  /** (argmax, max cosine) over a WELL-FORMED input: ascending-index
    * sequential double folds, zero-norm scored -2.0, ties to the lower
    * centroid index. */
  def scan(x: ArrayData, flat: Array[Double], cNorms: Array[Double],
           k: Int, dim: Int): (Int, Double) = {
    var nrm = 0.0
    var i = 0
    while (i < dim) {
      val e = x.getFloat(i).toDouble; nrm += e * e; i += 1
    }
    nrm = math.sqrt(nrm)
    var best = 0
    var bestScore = java.lang.Double.NEGATIVE_INFINITY
    var j = 0
    while (j < k) {
      var dot = 0.0
      i = 0
      while (i < dim) {
        dot += x.getFloat(i).toDouble * flat(j * dim + i); i += 1
      }
      val den = nrm * cNorms(j)
      val score = if (den == 0.0) -2.0 else dot / den
      if (score > bestScore) { bestScore = score; best = j }
      j += 1
    }
    (best, bestScore)
  }

  /** Codegen template computing BOTH the argmax (`best`, 0 on a
    * degenerate input) and the max score (`bestS`, `degenScore` on a
    * degenerate input); the caller emits whichever its dataType is. */
  def genBody(ctx: CodegenContext, v: String, flat: Array[Double],
              cNorms: Array[Double], k: Int, dim: Int,
              best: String, bestS: String, degenScore: String): String = {
    val fl = ctx.addReferenceObj("cents", flat, "double[]")
    val cn = ctx.addReferenceObj("cnorms", cNorms, "double[]")
    val nrm = ctx.freshName("nrm")
    val el = ctx.freshName("el")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val dot = ctx.freshName("dot")
    val den = ctx.freshName("den")
    val sc = ctx.freshName("score")
    val ok = ctx.freshName("ok")
    s"""
       |int $best = 0;
       |double $bestS = $degenScore;
       |boolean $ok = $v.numElements() == $dim;
       |for (int $i = 0; $ok && $i < $dim; $i++) {
       |  $ok = !$v.isNullAt($i);
       |}
       |if ($ok) {
       |  double $nrm = 0.0;
       |  for (int $i = 0; $i < $dim; $i++) {
       |    double $el = (double) $v.getFloat($i);
       |    $nrm += $el * $el;
       |  }
       |  $nrm = java.lang.Math.sqrt($nrm);
       |  $bestS = java.lang.Double.NEGATIVE_INFINITY;
       |  for (int $j = 0; $j < $k; $j++) {
       |    double $dot = 0.0;
       |    for (int $i = 0; $i < $dim; $i++) {
       |      $dot += ((double) $v.getFloat($i)) * $fl[$j * $dim + $i];
       |    }
       |    double $den = $nrm * $cn[$j];
       |    double $sc = ($den == 0.0) ? -2.0 : $dot / $den;
       |    if ($sc > $bestS) { $bestS = $sc; $best = $j; }
       |  }
       |}
     """.stripMargin
  }
}

case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(cents.nonEmpty, "NearestCentroid: no centroids")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid requires ARRAY<FLOAT> input, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  private def k: Int = cents.length
  private def dim: Int = cents.head.length
  private lazy val flat: Array[Double] =
    CentroidScan.flatten(cents, "NearestCentroid")
  private lazy val cNorms: Array[Double] = CentroidScan.norms(cents)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, CentroidScan.describe(s"k=$k×dim=$dim", flat))

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    // a vector whose length differs from the centroid dim, or that
    // carries a null ELEMENT, scores every centroid -2 in the composed
    // HOF form (zip_with's null pad / the null product poison the fold →
    // null cosine → coalesce(-2)) and in the SQL oracle's CASE guard —
    // all-equal scores resolve to cluster 0
    if (CentroidScan.degenerate(x, dim)) return 0
    CentroidScan.scan(x, flat, cNorms, k, dim)._1
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestS = ctx.freshName("bestScore")
      CentroidScan.genBody(ctx, v, flat, cNorms, k, dim, best, bestS,
        degenScore = "1.0") +
        s"\n${ev.value} = $best;"
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroid = copy(child = newChild)
}

/** The SCORE half of [[NearestCentroid]]: the best cosine similarity a
  * vector achieves against any centroid, as a double. The k-means‖
  * seeding rounds need the cost term `1 - bestCos` (how badly the
  * current candidate set covers each point) to weight the oversampling
  * draw, and the index-only sibling discards exactly that value.
  *
  * Same arithmetic contract as NearestCentroid (ascending-index
  * sequential double folds, driver-side centroid norms, zero-norm
  * scored -2.0) so `(NearestCentroid, NearestCentroidScore)` over the
  * same centroid matrix are the argmax/max pair of one scan.
  *
  * Degenerate inputs DIFFER deliberately: a vector whose length
  * mismatches the centroid dim, or that carries a null element, scores
  * `1.0` (cost 0) — a degenerate row must never look "uncovered" to the
  * seeding draw, or it would be oversampled as a candidate seed. The
  * training path filters them out anyway (`wellFormed` + the dim pin);
  * this is defense in depth for direct callers.
  */
case class NearestCentroidScore(child: Expression,
                                cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(cents.nonEmpty, "NearestCentroidScore: no centroids")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid_score requires ARRAY<FLOAT> input, got $t")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_nearest_centroid_score"

  private def k: Int = cents.length
  private def dim: Int = cents.head.length
  private lazy val flat: Array[Double] =
    CentroidScan.flatten(cents, "NearestCentroidScore")
  private lazy val cNorms: Array[Double] = CentroidScan.norms(cents)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, CentroidScan.describe(s"k=$k×dim=$dim", flat))

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (CentroidScan.degenerate(x, dim)) return 1.0
    CentroidScan.scan(x, flat, cNorms, k, dim)._2
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestS = ctx.freshName("bestScore")
      CentroidScan.genBody(ctx, v, flat, cNorms, k, dim, best, bestS,
        degenScore = "1.0") +
        s"\n${ev.value} = $bestS;"
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidScore = copy(child = newChild)
}

/** Product-quantization encoder in ONE codegen'd pass: split the input
  * vector into `m` contiguous subvectors of `dsub` elements and emit, per
  * subspace, the index of the L2-nearest codeword from a driver-trained
  * codebook (`[m][ksub][dsub]`, see `Pq.pqTrain`). Ties go to the lower
  * code, mirroring the generated SQL oracle's `ORDER BY d ASC, code ASC`.
  *
  * Why an Expression: the composed form is m × ksub
  * distance-against-literal columns sorted in struct arrays — the plan
  * tree grows linear in m×ksub×dsub and lands on BOTH sides of any later
  * self-join, the exact failure mode that motivated NearestCentroid and
  * HyperplaneBuckets above. One node holds the codebook as a codegen
  * reference object; the plan stays constant-size in (m, ksub).
  *
  * Distance arithmetic is an ascending-index sequential double fold of
  * squared differences — bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(range(...), i -> (x-c)*(x-c)))`. Degenerate
  * inputs mirror NearestCentroid's contract: null vector → null; a
  * vector whose length differs from m·dsub, or with a null element,
  * encodes as code 0 in every subspace.
  */
case class PqEncodeL2(child: Expression, codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(codebook.nonEmpty && codebook.head.nonEmpty,
    "PqEncodeL2: empty codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode requires ARRAY<FLOAT> input, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  private def m: Int = codebook.length
  private def ksub: Int = codebook.head.length
  private def dsub: Int = codebook.head.head.length
  /** Flattened [sub][code][dsub] codebook for the codegen reference. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      require(codebook(s).length == ksub,
        s"PqEncodeL2: subspace $s has ${codebook(s).length} codes, not $ksub")
      var j = 0
      while (j < ksub) {
        require(codebook(s)(j).length == dsub,
          s"PqEncodeL2: codeword ($s,$j) has dim ${codebook(s)(j).length}, " +
            s"not $dsub")
        System.arraycopy(codebook(s)(j), 0, out, (s * ksub + j) * dsub, dsub)
        j += 1
      }
      s += 1
    }
    out
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child,
      CentroidScan.describe(s"m=$m×ksub=$ksub×dsub=$dsub", flat))

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var ok = x.numElements() == m * dsub
    var i = 0
    while (ok && i < m * dsub) { ok = !x.isNullAt(i); i += 1 }
    if (ok) {
      val sub = new Array[Double](dsub)
      var s = 0
      while (s < m) {
        i = 0
        while (i < dsub) {
          sub(i) = x.getFloat(s * dsub + i).toDouble
          i += 1
        }
        codes(s) = PqEncodeL2.nearestCode(sub, codebook(s))
        s += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("codebook", flat, "double[]")
      val codes = ctx.freshName("codes")
      val ok = ctx.freshName("ok")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
         |int[] $codes = new int[$m];
         |boolean $ok = $v.numElements() == ${m * dsub};
         |for (int $i = 0; $ok && $i < ${m * dsub}; $i++) {
         |  $ok = !$v.isNullAt($i);
         |}
         |if ($ok) {
         |  for (int $s = 0; $s < $m; $s++) {
         |    int $best = 0;
         |    double $bestD = java.lang.Double.POSITIVE_INFINITY;
         |    for (int $j = 0; $j < $ksub; $j++) {
         |      double $d = 0.0;
         |      for (int $i = 0; $i < $dsub; $i++) {
         |        double $diff = ((double) $v.getFloat($s * $dsub + $i))
         |          - $cb[($s * $ksub + $j) * $dsub + $i];
         |        $d += $diff * $diff;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $j; }
         |    }
         |    $codes[$s] = $best;
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeL2 = copy(child = newChild)
}

object PqEncodeL2 {
  /** The ONE L2² argmin over one subspace: ascending-index sequential
    * fold of squared differences, first-minimum (= lowest-code)
    * tie-break. `Pq.pqTrain`'s sample assignment and the interpreted
    * eval above both call this, so training and corpus encoding can
    * never drift (`doGenCode` transcribes the same statements; the
    * codegen ≡ interpreted equality is spec-pinned). */
  def nearestCode(v: Array[Double], codes: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = java.lang.Double.POSITIVE_INFINITY
    var j = 0
    while (j < codes.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) {
        val diff = v(i) - codes(j)(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }
}

/** PQ reconstruction (the decode half of asymmetric distance computation):
  * map an `m`-element code array back to the m·dsub float vector whose
  * subvector `s` is codeword `codes[s]` of subspace `s`, each element cast
  * double→float — the precision the reconstruction is STORED at, so the
  * downstream `DotProductF32` fold is bit-identical to the SQL oracle's
  * `CAST(cent[i] AS REAL)`. Null codes array, wrong code-array length, or
  * an out-of-range code → null (malformed codes cannot come from
  * `PqEncodeL2`; null propagation keeps the contract total).
  */
case class PqDecodeF32(child: Expression, codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(codebook.nonEmpty && codebook.head.nonEmpty,
    "PqDecodeF32: empty codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_decode requires ARRAY<INT> input, got $t")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_decode"

  private def m: Int = codebook.length
  private def ksub: Int = codebook.head.length
  private def dsub: Int = codebook.head.head.length
  /** Flattened [sub][code][dsub] codebook, pre-cast to the float the
    * reconstruction is emitted at. */
  private lazy val flatF: Array[Float] = {
    val out = new Array[Float](m * ksub * dsub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        var i = 0
        while (i < dsub) {
          out((s * ksub + j) * dsub + i) = codebook(s)(j)(i).toFloat
          i += 1
        }
        j += 1
      }
      s += 1
    }
    out
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, CentroidScan.describe(s"m=$m×ksub=$ksub×dsub=$dsub",
      codebook.flatten.flatten))

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (x.numElements() != m) return null
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      if (x.isNullAt(s)) return null
      val c = x.getInt(s)
      if (c < 0 || c >= ksub) return null
      System.arraycopy(flatF, (s * ksub + c) * dsub, out, s * dsub, dsub)
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("codebookF", flatF, "float[]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val bad = ctx.freshName("bad")
      s"""
         |float[] $out = new float[${m * dsub}];
         |boolean $bad = $v.numElements() != $m;
         |for (int $s = 0; !$bad && $s < $m; $s++) {
         |  if ($v.isNullAt($s)) { $bad = true; break; }
         |  int $c = $v.getInt($s);
         |  if ($c < 0 || $c >= $ksub) { $bad = true; break; }
         |  System.arraycopy($cb, ($s * $ksub + $c) * $dsub,
         |    $out, $s * $dsub, $dsub);
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PqDecodeF32 = copy(child = newChild)
}

/** |A∩B| of two DISTINCT-element ARRAY<BIGINT> columns in one codegen'd
  * pass: copy both to primitive long[], sort, merge-count — no hash
  * set, no boxing, no intersection array ever materialized.
  *
  * Why an Expression: `size(array_intersect(a, b))` is the per-PAIR hot
  * path of every shingle-verify stage (minhash/simhash/incremental
  * candidate verification), and ArrayIntersect is evaluated interpreted
  * with a per-row hash set AND builds the intersection array only for
  * its size to be read (r12 profile: the verify stage's dominant CPU).
  *
  * Contract: inputs are SETS (duplicate-free, null-free elements — the
  * hashed-shingle frames are built by a distinct aggregate); on inputs
  * with duplicates this counts min-multiplicity matches where
  * array_intersect would dedupe, so callers with non-set inputs must
  * dedupe first. Null input array → null, matching size(null)'s
  * behavior under the callers' non-null frames.
  *
  * Min-multiplicity contract and the oracle: the verify frames are
  * distinct over shingle STRINGS, not over their xxhash64 values, so
  * two shingles of one document that collide in 64 bits put a
  * duplicate long into one array. This count then counts the value
  * min(multiplicity in a, multiplicity in b) times, where the DuckDB
  * oracle's set intersection counts it once, and the pair's Jaccard
  * shifts. The chance is about n²/2^65 per
  * document of n shingles (~3e-14 at n = 1000); the oracle keeps set
  * semantics and accepts that residue rather than mirror a multiset
  * intersect. */
case class IntersectCountLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count_i64 requires two ARRAY<BIGINT> inputs, " +
          s"got $l and $r")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_intersect_count_i64"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val ys = b.asInstanceOf[ArrayData].toLongArray()
    java.util.Arrays.sort(xs)
    java.util.Arrays.sort(ys)
    var i = 0; var j = 0; var c = 0
    while (i < xs.length && j < ys.length) {
      if (xs(i) < ys(j)) i += 1
      else if (xs(i) > ys(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      s"""
         |long[] $xs = $a.toLongArray();
         |long[] $ys = $b.toLongArray();
         |java.util.Arrays.sort($xs);
         |java.util.Arrays.sort($ys);
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $xs.length && $j < $ys.length) {
         |  if ($xs[$i] < $ys[$j]) { $i++; }
         |  else if ($xs[$i] > $ys[$j]) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountLong =
    copy(left = newLeft, right = newRight)
}

/** Hamming distance between two packed-bit ARRAY<LONG> columns in one
  * codegen'd pass — Σ Long.bitCount(x_i ^ y_i) over min-length words
  * (the DotProductF32 convention). Why an Expression: this is the
  * per-PAIR hot path of `Bq.hammingTopK`, and the composed
  * zip_with/aggregate HOF form — numerically identical — is evaluated
  * interpreted, measured SLOWER at 20k×100 pairs (8.8 s) than the fused
  * f32 dot product it exists to pre-filter (brute force 6.6 s). One
  * tight bitCount loop makes the pre-rank actually cheaper than what it
  * prunes. */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_hamming_words requires two ARRAY<BIGINT> inputs, " +
          s"got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hamming_words"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingWords =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column form of the codegen'd set-intersection count (see
    * [[IntersectCountLong]]). */
  def intersectCountLong(a: Column, b: Column): Column =
    GraftBridge.column(
      IntersectCountLong(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column form of the codegen'd Hamming distance over packed words. */
  def hammingWords(a: Column, b: Column): Column =
    GraftBridge.column(
      HammingWords(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column form of the codegen'd dot product (see [[DotProductF32]]). */
  def dotF32(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProductF32(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column form of the nearest-centroid assignment (see
    * [[NearestCentroid]]). */
  def nearestCentroid(emb: Column, cents: Array[Array[Double]]): Column =
    GraftBridge.column(
      NearestCentroid(GraftBridge.expression(emb), cents))

  /** Column form of the best-cosine score (see
    * [[NearestCentroidScore]]). */
  def nearestCentroidScore(emb: Column,
                           cents: Array[Array[Double]]): Column =
    GraftBridge.column(
      NearestCentroidScore(GraftBridge.expression(emb), cents))

  /** Column form of the PQ encoder (see [[PqEncodeL2]]). */
  def pqEncode(emb: Column, codebook: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(
      PqEncodeL2(GraftBridge.expression(emb), codebook))

  /** Column form of the PQ reconstruction (see [[PqDecodeF32]]). */
  def pqDecode(codes: Column, codebook: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(
      PqDecodeF32(GraftBridge.expression(codes), codebook))

  /** Column form of the all-tables LSH bucket array (see
    * [[HyperplaneBuckets]]): element t = table t's nBits-bit bucket. */
  def lshBuckets(emb: Column, dim: Int, nBits: Int, nTables: Int,
                 seed: Int): Column =
    GraftBridge.column(
      HyperplaneBuckets(GraftBridge.expression(emb), dim, nBits, nTables,
        seed))

  /** (name, info, builder) triple for SparkSessionExtensions
    * .injectFunction — exposes `graft_dot_f32(a, b)` to SQL. */
  val dotF32FunctionDescription
      : (org.apache.spark.sql.catalyst.FunctionIdentifier, ExpressionInfo,
         Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "graft_dot_f32"),
      (children: Seq[Expression]) => {
        // arity-checked like graft_lsh_buckets: extra args must not be
        // silently dropped (a typo'd call would return a wrong-looking-
        // right dot), and too few must fail readably
        require(children.size == 2,
          s"graft_dot_f32 takes 2 arguments, got ${children.size}")
        DotProductF32(children.head, children(1))
      })

  /** SQL form `graft_lsh_buckets(emb, dim, nBits, nTables, seed)` — the
    * four config arguments must be integer literals (they size the
    * driver-precomputed sign matrix, so they cannot be row-dependent). */
  val lshBucketsFunctionDescription
      : (org.apache.spark.sql.catalyst.FunctionIdentifier, ExpressionInfo,
         Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName,
        "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          s"graft_lsh_buckets takes 5 arguments, got ${children.size}")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_lsh_buckets: $name must be an integer literal, " +
              s"got $other")
        }
        HyperplaneBuckets(children.head,
          intLit(children(1), "dim"), intLit(children(2), "nBits"),
          intLit(children(3), "nTables"), intLit(children(4), "seed"))
      })
}
