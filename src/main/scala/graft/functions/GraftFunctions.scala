package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType

/** The engine's native SQL functions: one row per function. Sessions get
  * them from [[GraftExtensions]] (`graft.Graft.session` builds with it);
  * a session built without it gets them from `graft.Graft.install`. */
object GraftFunctions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn[T <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getCanonicalName, name), build)

  val functions: Seq[Entry] = Seq(
    // 1-arg: default 128 perms. 2-arg: minhash_sig(sh, numPerms) — the
    // permutation family is indexed per-perm, so a longer signature is a
    // superset (identical prefix) of a shorter one.
    fn[MinHashSig]("minhash_sig") {
      case Seq(c) => MinHashSig(c)
      case Seq(c, Literal(n, _)) => MinHashSig(c, n.toString.toInt)
      case _ => throw new IllegalArgumentException(
        "minhash_sig(array<string>[, numPerms literal])")
    },
    fn[BandHashes]("band_hashes") {
      case Seq(c, Literal(r, _), Literal(b, _)) =>
        BandHashes(c, r.toString.toInt, b.toString.toInt)
      case _ => throw new IllegalArgumentException(
        "band_hashes(array<bigint>, r literal, b literal)")
    },
    fn[BpeTokenCount]("bpe_token_count") { children =>
      require(children.nonEmpty && (children.size - 1) % 2 == 0,
        "bpe_token_count(array<string>, (a, b) literal pairs...)")
      val pairs = children.drop(1).grouped(2).map {
        case Seq(Literal(a, StringType), Literal(b, StringType))
            if a != null && b != null =>
          (a.toString, b.toString)
        case other => throw new IllegalArgumentException(
          s"bpe_token_count merge pair must be string literals, got $other")
      }.toSeq
      BpeTokenCount(children.head, pairs)
    },
    fn[PqEncode]("pq_encode")(c => PqEncode(c(0), c(1))),
    fn[PqReconErr]("pq_recon_err")(c => PqReconErr(c(0), c(1))),
    fn[PqAdc]("pq_adc")(c => PqAdc(c(0), c(1))),
    fn[IntersectCount]("intersect_count")(c => IntersectCount(c(0), c(1))),
    fn[GopherStats]("gopher_stats")(c => GopherStats(c(0), c(1))),
    fn[RocchioBest]("rocchio_best")(c => RocchioBest(c(0), c(1))),
    fn[VecL2Sq]("vec_l2sq")(c => VecL2Sq(c(0), c(1))),
    fn[VecCosine]("vec_cosine")(c => VecCosine(c(0), c(1))),
    fn[PolyFingerprint]("poly_fingerprint")(c => PolyFingerprint(c.head)),
    fn[Md5Long]("md5_long")(c => Md5Long(c.head)),
    fn[SimHashMd5]("simhash_md5")(c => SimHashMd5(c.head)),
    fn[HyperplaneCodesMd5]("hyperplane_codes_md5")(c => HyperplaneCodesMd5(c.head)),
    fn[CdcChunks]("cdc_chunks")(c => CdcChunks(c.head)),
    fn[TokenWindows]("token_windows")(c => TokenWindows(c(0), c(1), c(2))))
}

/** `SparkSession.builder.withExtensions(new GraftExtensions)` — or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(extensions.injectFunction)
    // Constraint-aware optimizations Spark can't do without declared
    // PK/FK metadata (see graft.plans.JoinElimination).
    extensions.injectOptimizerRule(graft.plans.EliminatePkFkJoin)
    // Automatic data skipping: point-predicate scans over tables
    // registered with SkippingIndex.enableAutoPrune read only candidate
    // files (see graft.plans.ConsultSkippingIndex).
    extensions.injectOptimizerRule(graft.plans.ConsultSkippingIndex)
    // Materialized-view rollup rewrite: subsumed aggregates over a
    // registered fact table re-point at its partial-aggregate rollup
    // (see graft.plans.MaterializedView).
    extensions.injectOptimizerRule(graft.plans.RewriteToMv)
    // Whole-operator extension: native sort-merge as-of join
    // (see graft.plans.AsofJoin).
    extensions.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

/** Java source for a call to `e.kernel(args)`: the generated code reaches
  * the expression object through `ctx.addReferenceObj`, so it runs the very
  * method interpreted evaluation runs. */
private[functions] object NativeKernel {
  def call(ctx: CodegenContext, e: Expression, args: String*): String =
    s"${ctx.addReferenceObj(e.prettyName, e)}.kernel(${args.mkString(", ")})"
}

/** A native scalar function of one argument: `kernel` is its whole per-row
  * body, for non-null input `I` (the child's Java type) to result `O`. */
abstract class NativeUnary[I, O] extends UnaryExpression {
  def kernel(in: I): O

  override protected def nullSafeEval(in: Any): Any = kernel(in.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${NativeKernel.call(ctx, this, c)};")
}

/** [[NativeUnary]] for two arguments. */
abstract class NativeBinary[L, R, O] extends BinaryExpression {
  def kernel(l: L, r: R): O

  override protected def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[L], r.asInstanceOf[R])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = ${NativeKernel.call(ctx, this, l, r)};")
}
