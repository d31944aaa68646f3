package graft.catalyst

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StringType}

import graft.text.Hashing

/** Native Catalyst expressions for the text-hash operators (SURVEY §2.9 /
  * §7.3 "custom Expression beats UDF"): each `doGenCode` emits a direct
  * call to the single-pass kernel in [[TextHashKernels]], so the whole
  * computation stays inside whole-stage codegen — no interpreted
  * higher-order lambdas, no Row boxing (measured ~5x on the minhash
  * pipeline at sf0.1).
  *
  * Registered session-wide by [[GraftExtensions]] (SparkSessionExtensions
  * -> FunctionRegistry); reachable from any DataFrame via
  * `call_function("graft_minhash_sig", col)` — see the *Fast helpers in
  * graft.dedup / graft.text.
  */
abstract class TextHashUnary extends UnaryExpression {
  // input coercion happens in the GraftExtensions builder (Cast to string);
  // ExpectsInputTypes is not implementable outside spark's sql package in 4.x
  protected def kernel: String // static method name on TextHashKernels
  override protected def nullSafeEval(input: Any): Any
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.TextHashKernels.$kernel($c)")
}

/** graft_minhash_sig(text) -> array<bigint> of Hashing.K minhashes.
  * The only two-arg kernel in the family: the base contract's `kernel`
  * (a 1-arg static) does not apply, so BOTH overrides bind the real
  * 2-arg `minhashSig(text, K)` directly — there is deliberately no
  * `kernel` value to keep stale (a name of a non-existent static would
  * compile today and fail janino at runtime the moment someone removed
  * the doGenCode override trusting it). */
case class MinHashSig(child: Expression) extends TextHashUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel: String =
    throw new UnsupportedOperationException(
      "MinHashSig binds the 2-arg minhashSig kernel in its own overrides")
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.minhashSig(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], Hashing.K)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.TextHashKernels.minhashSig($c, ${Hashing.K})")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig = copy(newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** graft_shingles(text) -> array<bigint> of 3-gram shingle hashes. */
case class ShingleHashes(child: Expression) extends TextHashUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel: String = "shingles"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.shingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes = copy(newChild)
  override def prettyName: String = "graft_shingles"
}

/** graft_simhash16(text) -> bigint. */
case class SimHash16(child: Expression) extends TextHashUnary {
  override def dataType: DataType = LongType
  override protected def kernel: String = "simhash16"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.simhash16(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SimHash16 = copy(newChild)
  override def prettyName: String = "graft_simhash16"
}

/** graft_simhash64(text) -> bigint. */
case class SimHash64(child: Expression) extends TextHashUnary {
  override def dataType: DataType = LongType
  override protected def kernel: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.simhash64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(newChild)
  override def prettyName: String = "graft_simhash64"
}

/** graft_nfc(text) -> string: Unicode NFC canonical composition. */
case class NfcNormalize(child: Expression) extends TextHashUnary {
  override def dataType: DataType = StringType
  override protected def kernel: String = "nfc"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize = copy(newChild)
  override def prettyName: String = "graft_nfc"
}

/** graft_fingerprint(text) -> bigint. */
case class Fingerprint(child: Expression) extends TextHashUnary {
  override def dataType: DataType = LongType
  override protected def kernel: String = "fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.fingerprint(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Fingerprint = copy(newChild)
  override def prettyName: String = "graft_fingerprint"
}

/** graft_winnow(text, w) -> array<struct<pos:bigint, fp:bigint>>: plain
  * winnowing fingerprints over the 3-gram shingle stream, one O(n)
  * deque pass in place of the interpreted transform/slice/array_min
  * window pipeline (r19; semantics pinned kernel == HOF by
  * WinnowKernelPropertySpec). */
case class WinnowFingerprints(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.types.StructField
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(text: Any, w: Any): Any =
    TextHashKernels.winnow(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) => s"graft.catalyst.TextHashKernels.winnow($t, $w)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WinnowFingerprints =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_winnow"
}

/** graft_token_grams(text, k) -> array<string>: space-joined k-token
  * sliding grams of the single-space split of `text` (r20 native kernel
  * for the span-dedup anchor extraction; semantics pinned kernel == HOF
  * by TokenGramsPropertySpec). */
case class TokenGrams(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any, k: Any): Any =
    TextHashKernels.tokenGrams(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.catalyst.TextHashKernels.tokenGrams($t, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenGrams =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_token_grams"
}

/** graft_token_chunks(text, w) -> array<string>: space-joined
  * fixed-width token chunks of the single-space split of `text` (the
  * last chunk may be shorter; always >= 1 chunk). r20 native kernel for
  * the chunk-dedup frames; pinned kernel == HOF by
  * TokenGramsPropertySpec. */
case class TokenChunks(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any, w: Any): Any =
    TextHashKernels.tokenChunks(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) => s"graft.catalyst.TextHashKernels.tokenChunks($t, $w)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenChunks =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_token_chunks"
}

/** graft_psl_labels(host) -> int: label count of the host's public
  * suffix per the PSL algorithm over [[PslKernels]]' process-static rule
  * sets — ONE static call in codegen instead of the former ~200 KB InSet
  * literal chain (whose first-use janino compile cost ~4-5 s per JVM). */
case class PslLabels(child: Expression) extends TextHashUnary {
  override def dataType: DataType = IntegerType
  override protected def kernel: String = "" // custom codegen below
  override protected def nullSafeEval(input: Any): Any =
    PslKernels.pslLabels(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.PslKernels.pslLabels($c)")
  override protected def withNewChildInternal(newChild: Expression): PslLabels = copy(newChild)
  override def prettyName: String = "graft_psl_labels"
}

/** Session extension registering the engine's native functions.
  * `SparkSession.builder.withExtensions(new GraftExtensions)` (done by
  * graft.Sessions.build) or
  * `--conf spark.sql.extensions=graft.catalyst.GraftExtensions`.
  *
  * Every dedup and similarity operator has exactly one implementation,
  * and it calls these `graft_*` functions: MinHash, SimHash, Jaccard,
  * Containment, Incremental, Winnow, SpanDedup, ChunkDedup, Similarity,
  * BQ, PQ and the PSL lookups all need a session built with this
  * extension. In any other session they fail at analysis with an
  * unresolved-function error. The extension also plans [[KeepFirst]],
  * the node under `Dedup.keepLast` and `Dedup.keepFirstDistinct`; without
  * it those fail at planning. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => KeepFirstStrategy)
    ext.injectQueryPostPlannerStrategyRule(_ => RemoveRedundantPartialKeepFirst)
    def register(name: String, build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.catalyst.TextHashExpressions", name),
        { children: Seq[Expression] =>
          require(children.size == 1, s"$name expects exactly one argument")
          build(Seq(Cast(children.head, StringType)))
        }))
    register("graft_minhash_sig", c => MinHashSig(c.head))
    register("graft_shingles", c => ShingleHashes(c.head))
    register("graft_simhash16", c => SimHash16(c.head))
    register("graft_simhash64", c => SimHash64(c.head))
    register("graft_fingerprint", c => Fingerprint(c.head))
    register("graft_nfc", c => NfcNormalize(c.head))
    register("graft_psl_labels", c => PslLabels(c.head))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo("graft.catalyst.TextHashExpressions", "graft_winnow"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_winnow expects two arguments")
        WinnowFingerprints(Cast(children(0), StringType),
          Cast(children(1), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_token_grams"),
      new ExpressionInfo("graft.catalyst.TextHashExpressions", "graft_token_grams"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_token_grams expects two arguments")
        TokenGrams(Cast(children(0), StringType), Cast(children(1), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_token_chunks"),
      new ExpressionInfo("graft.catalyst.TextHashExpressions", "graft_token_chunks"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_token_chunks expects two arguments")
        TokenChunks(Cast(children(0), StringType), Cast(children(1), IntegerType))
      }))
    // vector functions coerce their own argument shapes
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_quantize"),
      { children: Seq[Expression] =>
        require(children.size == 1, "graft_quantize expects one argument")
        QuantizeVec(Cast(children.head, ArrayType(DoubleType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_qdot"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_qdot"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_qdot expects two arguments")
        QuantDot(Cast(children(0), ArrayType(LongType)), Cast(children(1), ArrayType(LongType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_qsub"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_qsub"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_qsub expects two arguments")
        QuantSub(Cast(children(0), ArrayType(LongType)), Cast(children(1), ArrayType(LongType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_pq_encode"),
      { children: Seq[Expression] =>
        require(children.size == 4, "graft_pq_encode expects four arguments")
        PqEncode(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)),
          Cast(children(2), IntegerType), Cast(children(3), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_lut"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_pq_lut"),
      { children: Seq[Expression] =>
        require(children.size == 4, "graft_pq_lut expects four arguments")
        PqLut(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)),
          Cast(children(2), IntegerType), Cast(children(3), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_pq_adc"),
      { children: Seq[Expression] =>
        require(children.size == 3, "graft_pq_adc expects three arguments")
        PqAdc(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)), Cast(children(2), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_argmax_dot"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_argmax_dot"),
      { children: Seq[Expression] =>
        require(children.size == 3, "graft_argmax_dot expects three arguments")
        ArgmaxDot(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)), Cast(children(2), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_probe_ids"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_probe_ids"),
      { children: Seq[Expression] =>
        require(children.size == 4, "graft_probe_ids expects four arguments")
        ProbeIds(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)),
          Cast(children(2), IntegerType), Cast(children(3), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_srp"),
      { children: Seq[Expression] =>
        require(children.size == 1, "graft_srp expects one argument")
        SrpBucket(Cast(children.head, ArrayType(LongType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bq_encode"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_bq_encode"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_bq_encode expects two arguments")
        BqEncode(Cast(children(0), ArrayType(LongType)), Cast(children(1), IntegerType))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hamming"),
      new ExpressionInfo("graft.catalyst.VectorExpressions", "graft_hamming"),
      { children: Seq[Expression] =>
        require(children.size == 2, "graft_hamming expects two arguments")
        BqHamming(Cast(children(0), ArrayType(LongType)), Cast(children(1), ArrayType(LongType)))
      }))
    // bounded top-k aggregate (the analyzer wraps the bare
    // AggregateFunction in a Complete AggregateExpression, exactly as it
    // does for built-in sum/min); k stays un-cast so foldability is
    // checked on the literal the caller wrote. Score and id must already
    // be integral: a silent Cast from fractional would TRUNCATE scores
    // in (0, 1) to 0 and degenerate the "top-k" to the k lowest ids —
    // the engine's ranking scores are integer by design (dots, Hamming,
    // millis), so a fractional argument is a caller bug, not a coercion.
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo("graft.catalyst.TopKAggregate", "graft_topk"),
      { children: Seq[Expression] =>
        require(children.size == 3, "graft_topk expects three arguments")
        val integral = Seq(ByteType, ShortType, IntegerType, LongType)
        require(integral.contains(children(0).dataType),
          s"graft_topk: score must be an integral type, got ${children(0).dataType.sql}")
        require(integral.contains(children(1).dataType),
          s"graft_topk: id must be an integral type, got ${children(1).dataType.sql}")
        TopKPairs(Cast(children(0), LongType), Cast(children(1), LongType),
          children(2))
      }))
    // the payload-carrying variant: same integral score/id discipline,
    // payload any SQL type (rides the heap inert, UnsafeRow-serialized
    // across the exchange)
    ext.injectFunction((
      FunctionIdentifier("graft_topk_payload"),
      new ExpressionInfo("graft.catalyst.TopKAggregate", "graft_topk_payload"),
      { children: Seq[Expression] =>
        require(children.size == 4, "graft_topk_payload expects four arguments")
        val integral = Seq(ByteType, ShortType, IntegerType, LongType)
        require(integral.contains(children(0).dataType),
          s"graft_topk_payload: score must be an integral type, got ${children(0).dataType.sql}")
        require(integral.contains(children(1).dataType),
          s"graft_topk_payload: id must be an integral type, got ${children(1).dataType.sql}")
        TopKPairsPayload(Cast(children(0), LongType), Cast(children(1), LongType),
          children(2), children(3))
      }))
  }
}
