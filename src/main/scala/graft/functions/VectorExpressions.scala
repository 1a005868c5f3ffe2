package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row kernels that dominate the
  * similarity / dedup workloads. The higher-order-function formulations
  * (zip_with + aggregate) allocate an intermediate array and box every
  * lambda step per element; these expressions run one primitive loop per
  * row instead — same semantics, order-of-magnitude less per-row cost —
  * which is what the hot inner loop of a 100 TB pairwise stage needs.
  * (Preference order per the design notes: compose built-ins first, then
  * a custom Expression — these are the cases where the built-in form is
  * asymptotically fine but constant-factor bound.)
  *
  * Every expression here implements `doGenCode` (none are
  * `CodegenFallback`): a single fallback expression in a projection
  * disables whole-stage codegen for the whole operator
  * (`CollapseCodegenStages.supportCodegen`), un-fusing the dedup
  * pipelines these sit inside. The loop bodies live in
  * [[VectorKernels]]; both the interpreted eval and the generated code
  * call the same static kernel, so the two arms cannot drift.
  */
object VectorExpressions {

  /** Cosine similarity over two float/double array columns, accumulated
    * in double in index order — bit-identical to the fold-left
    * `aggregate(zip_with(...))` formulation and to DuckDB's DOUBLE[]
    * cosine, which the oracle relies on. Null if lengths differ.
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "cosine_sim"
    @transient private lazy val leftFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val rightFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (b.numElements() != n) null
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
          val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
    }

    /** Whole-stage-codegen body: the identical index-ordered double loop
      * as the interpreted path (bit-parity with the oracle depends on
      * the accumulation order, so both paths must match exactly).
      */
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val getA = if (leftFloat) "getFloat" else "getDouble"
      val getB = if (rightFloat) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = (double) $a.$getA($i);
            double $y = (double) $b.$getB($i);
            $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
        """
      })
    }

    override protected def withNewChildrenInternal(nl: Expression, nr: Expression): CosineSim =
      copy(left = nl, right = nr)
  }

  /** 64-bit SimHash of a string-array column: one pass over the tokens,
    * 64 sign counters updated from each token's xxhash64 (seed 42, same
    * hash family as SQL xxhash64). Kernel: [[VectorKernels.simhash64]].
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"
    override def nullSafeEval(v: Any): Any =
      VectorKernels.simhash64(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** Engine-portable 32-bit SimHash of a string-array column — the
    * compiled form of the SQL expression the DuckDB oracle mirrors
    * (token-code chain + odd-multiplier mod-parity bits; value parity
    * with the HOF form pinned in ExtSpec).
    * Kernel: [[VectorKernels.portableSimhash32]].
    */
  case class PortableSimHash32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "portable_simhash32"
    override def nullSafeEval(v: Any): Any =
      VectorKernels.portableSimhash32(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.portableSimhash32($c)")
    override protected def withNewChildInternal(c: Expression): PortableSimHash32 = copy(c)
  }

  /** Count of positions where two bigint arrays agree (minhash
    * signature agreement). Kernel: [[VectorKernels.eqCount]].
    */
  case class EqCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "eq_count"
    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.eqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorKernels.eqCount($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): EqCount = copy(l, r)
  }

  /** MinHash signature of a string-array (shingle set) column: numPerms
    * permutations via the standard two-hash combination
    * h_i(s) = h1(s) + i·h2(s), one pass over the shingles. Returns
    * array<long> of the per-permutation minima.
    * Kernel: [[VectorKernels.minhashSig]].
    */
  case class MinHashSig(child: Expression, numPerms: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"
    override def nullSafeEval(v: Any): Any =
      VectorKernels.minhashSig(v.asInstanceOf[ArrayData], numPerms)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.minhashSig($c, $numPerms)")
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(c)
  }

  /** Greedy BPE subword token count of a single word (string column)
    * against a FIXED merge table carried in the plan. The rank map is
    * built once per plan and shipped to the generated code as a
    * reference object, so evaluation stays inside whole-stage codegen
    * (one static call per row, like the other kernels).
    * Kernel: [[BpeKernels.tokenCount]].
    */
  case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "bpe_token_count"
    @transient private lazy val ranks = BpeKernels.ranksOf(merges)
    override def nullSafeEval(v: Any): Any =
      BpeKernels.tokenCount(v.asInstanceOf[UTF8String], ranks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
        "java.util.HashMap<String, Integer>")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.BpeKernels.tokenCount($c, $ranksRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeTokenCount =
      copy(child = c)
  }

  /** Distinct word n-gram shingles of a string-array column: one pass,
    * first-seen order (array_distinct semantics). Shingle text equals
    * `concat_ws(' ', w_i, …, w_{i+n-1})` — the engine-portable form the
    * oracle mirrors. Inputs shorter than n collapse to one whole-text
    * shingle. Kernel: [[VectorKernels.wordShingles]].
    */
  case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"
    override def nullSafeEval(v: Any): Any =
      VectorKernels.wordShingles(v.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.wordShingles($c, $n)")
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(c)
  }

  /** Random-hyperplane LSH bucket id for a float/double vector column:
    * `bits` sign bits of dot products against deterministic pseudo-random
    * planes (splitmix64-derived, seeded by (plane, dim) — every executor
    * regenerates identical planes, no broadcast model needed).
    * Kernel: [[VectorKernels.lshBucket]] (process-wide plane cache).
    */
  case class LshBucket(child: Expression, bits: Int) extends UnaryExpression {
    require(bits >= 1 && bits <= 63, "lsh_bucket bits must be in [1, 63]")
    override def dataType: DataType = LongType
    override def prettyName: String = "lsh_bucket"
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(v: Any): Any =
      VectorKernels.lshBucket(v.asInstanceOf[ArrayData], bits, isFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.lshBucket($c, $bits, $isFloat)")
    override protected def withNewChildInternal(c: Expression): LshBucket = copy(c)
  }

  /** Engine-portable seeded-Rademacher LSH bucket of a float/double
    * array — the compiled twin of
    * [[graft.ext.VectorSearch.lshBucketPortableExpr]] (r16): the HOF
    * reference form evaluates O(bits·dim) boxed interpreted lambdas
    * per row, which was the dominant per-row cost of every
    * portable-family ANN line. Values are bit-identical (parity pinned
    * in AnnPortableSpec over the real embeddings plus the
    * null/empty/negative corners); the DuckDB oracle keeps recomputing
    * the same family in plain SQL. Kernel:
    * [[VectorKernels.portableLshBucket]].
    */
  case class PortableLshBucket(child: Expression, bits: Int)
      extends UnaryExpression {
    require(bits >= 1 && bits <= 63,
      "portable_lsh_bucket bits must be in [1, 63]")
    override def dataType: DataType = LongType
    override def prettyName: String = "portable_lsh_bucket"

    override def checkInputDataTypes()
    : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) => TypeCheckSuccess
        case other => TypeCheckFailure(
          s"portable_lsh_bucket requires array<float> or array<double>, " +
            s"got ${other.sql}")
      }
    }

    // NULL-input fidelity lives in the [[portable_lsh_bucket]] wrapper
    // (a coalesce to 0), keeping this expression on the standard
    // null-propagating codegen path.
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(v: Any): Any =
      VectorKernels.portableLshBucket(v.asInstanceOf[ArrayData], bits, isFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.portableLshBucket($c, $bits, $isFloat)")
    override protected def withNewChildInternal(c: Expression): PortableLshBucket =
      copy(child = c)
  }

  /** All ordered pairs (a < b) of a long-array column, as
    * array<struct<a,b>> — the candidate-pair kernel for posting-list
    * joins: explode(array_pairs(collect_list(doc))) replaces a
    * self-join, saving one full shuffle of the posting lists.
    * Kernel: [[VectorKernels.arrayPairs]] (hard input-length bound,
    * fails loudly on degenerate posting lists).
    */
  case class ArrayPairs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "array_pairs"

    override def checkInputDataTypes()
    : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      child.dataType match {
        case ArrayType(LongType, _) => TypeCheckSuccess
        case other => TypeCheckFailure(
          s"array_pairs requires array<bigint>, got ${other.sql}")
      }
    }

    override def nullSafeEval(v: Any): Any =
      VectorKernels.arrayPairs(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorKernels.arrayPairs($c)")
    override protected def withNewChildInternal(c: Expression): ArrayPairs = copy(c)
  }

  // Column-API wrappers
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSim(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens)))

  def portable_simhash32(tokens: Column): Column =
    GraftColumnBridge.column(PortableSimHash32(GraftColumnBridge.expression(tokens)))

  def eq_count(a: Column, b: Column): Column =
    GraftColumnBridge.column(EqCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def minhash_sig(shingles: Column, numPerms: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(shingles), numPerms))

  def word_shingles(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(tokens), n))

  def lsh_bucket(vec: Column, bits: Int): Column =
    GraftColumnBridge.column(LshBucket(GraftColumnBridge.expression(vec), bits))

  /** A NULL input vector yields bucket 0 in the HOF reference form
    * (`size(null)` nulls every per-bit dot and `if(null ≥ 0)` takes
    * the 0 branch) — the coalesce mirrors that exactly, so the
    * compiled family can never drift from the oracle on null vectors.
    */
  def portable_lsh_bucket(vec: Column, bits: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftColumnBridge.column(
        PortableLshBucket(GraftColumnBridge.expression(vec), bits)),
      org.apache.spark.sql.functions.lit(0L))

  def array_pairs(xs: Column): Column =
    GraftColumnBridge.column(ArrayPairs(GraftColumnBridge.expression(xs)))

  def bpe_token_count(word: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      BpeTokenCount(GraftColumnBridge.expression(word), merges))
}
