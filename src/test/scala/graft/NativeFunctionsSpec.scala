package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen parity for every native scalar function, one row per registry
  * entry. Each row's call is compiled with `GenerateUnsafeProjection`, which
  * throws where `UnsafeProjection.create` would silently fall back to the
  * interpreter; its generated code must be the shared kernel call; and its
  * output must equal `InterpretedUnsafeProjection` byte for byte on
  * sf0.001-derived rows plus an all-null row and an empty row (every input
  * emptied except the `fixed` ones, whose width the function's contract
  * pins). */
class NativeFunctionsSpec extends CodegenParity {

  private case class Fn(name: String, source: () => DataFrame, inputs: Seq[String],
      args: Seq[Column], fixed: Set[String] = Set.empty)

  private val rnd = new scala.util.Random(7L)
  private val cb = typedLit((0 until 16).map(c => (c, Seq.fill(64)(rnd.nextGaussian() * 0.4))))
  private val dtab = typedLit(Seq.fill(128)(rnd.nextDouble()))
  private val cs = typedLit((0 until 4).map { c =>
    val v = Seq.fill(64)(rnd.nextDouble())
    (s"c$c", v, v.map(x => x * x).sum)
  })
  private val stops = typedLit(Seq("the", "a", "and", "of", "to", "in", "is", "data"))

  /** Text inputs; every third document's tokens also carry a null element. */
  private lazy val docs: DataFrame = sources.Tables.load(spark, sfDir, "documents")
    .limit(40)
    .select(col("text"), split(lower(col("text")), " ").as("toks"))
    .withColumn("toksn", when(length(col("text")) % 3 === 0,
      concat(col("toks"), array(lit(null).cast("string")))).otherwise(col("toks")))
    .withColumn("sig", expr("minhash_sig(toks)"))
    .withColumn("hs", expr("transform(toks, t -> xxhash64(t))"))
    .withColumn("hsb", expr("transform(toks, t -> xxhash64(t) % 64)"))
    .withColumn("toksh", expr("transform(toks, t -> md5_long(t) & 63)"))

  private lazy val vecs: DataFrame = sources.Tables.load(spark, sfDir, "embeddings")
    .limit(40)
    .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ve"))
    .withColumn("ve2", reverse(col("ve")))
    .withColumn("cb", cb)
    .withColumn("code", call_function("pq_encode", col("ve"), cb))

  private val fns = Seq(
    Fn("minhash_sig", () => docs, Seq("toks"), Seq(col("toks"))),
    Fn("band_hashes", () => docs, Seq("sig"), Seq(col("sig"), lit(4), lit(32)), Set("sig")),
    Fn("bpe_token_count", () => docs, Seq("toksn"),
      Seq(col("toksn"), lit("t"), lit("h"), lit("th"), lit("e"))),
    Fn("pq_encode", () => vecs, Seq("ve", "cb"), Seq(col("ve"), col("cb")), Set("ve")),
    Fn("pq_recon_err", () => vecs, Seq("ve", "cb"), Seq(col("ve"), col("cb")), Set("ve")),
    Fn("pq_adc", () => vecs, Seq("code"), Seq(dtab, col("code")), Set("code")),
    Fn("intersect_count", () => docs, Seq("hs", "hsb"), Seq(col("hs"), col("hsb"))),
    Fn("gopher_stats", () => docs, Seq("toksn"), Seq(col("toksn"), stops)),
    Fn("rocchio_best", () => docs, Seq("toksh"), Seq(col("toksh"), cs)),
    Fn("vec_l2sq", () => vecs, Seq("ve", "ve2"), Seq(col("ve"), col("ve2"))),
    Fn("vec_cosine", () => vecs, Seq("ve", "ve2"), Seq(col("ve"), col("ve2"))),
    Fn("poly_fingerprint", () => docs, Seq("text"), Seq(col("text"))),
    Fn("md5_long", () => docs, Seq("text"), Seq(col("text"))),
    Fn("simhash_md5", () => docs, Seq("toksn"), Seq(col("toksn"))),
    Fn("hyperplane_codes_md5", () => vecs, Seq("ve"), Seq(col("ve"))),
    Fn("cdc_chunks", () => docs, Seq("text"), Seq(col("text"))))

  fns.foreach { f =>
    test(s"${f.name}: generated code is the kernel call and equals interpreted eval") {
      val in = f.source().select(f.inputs.map(col): _*)
      val e = bound(in, call_function(f.name, f.args: _*))
      assert(e.exists(_.prettyName == f.name), s"${f.name} did not resolve: $e")
      assert(e.genCode(new CodegenContext).code.toString.contains(".kernel("),
        s"${f.name} does not generate the shared kernel call")
      val data = rowsOf(in)
      assert(data.nonEmpty)
      val empty = new GenericInternalRow(in.schema.fields.zipWithIndex.map {
        case (fd, i) if f.fixed(fd.name) => data.head.get(i, fd.dataType)
        case (fd, _) => fd.dataType match {
          case StringType => UTF8String.EMPTY_UTF8
          case _: ArrayType => new GenericArrayData(Array.empty[Any])
        }
      }.toArray[Any])
      val out = parity(e, data :+ new GenericInternalRow(in.schema.length) :+ empty)
      assert(out(data.length).isNullAt(0), "null input must give null")
      assert(out.take(data.length).exists(!_.isNullAt(0)))
    }
  }

  test("the spec has one row per scalar registry function") {
    val scalar = GraftFunctions.functions.map(_._1.funcName).filterNot(_ == "token_windows")
    assert(fns.map(_.name).sorted === scalar.sorted)
  }

  test("gopher_stats: generated struct on a fixed input") {
    val s = spark
    import s.implicits._
    val in = Seq((Seq("the", "###", "cat", "the"), Seq("the", "a"))).toDF("toks", "stops")
    val got = parity(bound(in, expr("gopher_stats(toks, stops)")), rowsOf(in)).head.getStruct(0, 5)
    assert((0 until 5).map(got.getInt) === Seq(4, 12, 1, 3, 1))
  }
}
