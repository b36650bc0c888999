package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project

/** Compares a function's generated and interpreted evaluation directly,
  * without flipping the session-wide `spark.sql.codegen.factoryMode`. */
trait CodegenParity extends SparkSpec {

  /** `call` over `in`, bound to nullable inputs. */
  protected def bound(in: DataFrame, call: Column): Expression = {
    val e = in.select(call).queryExecution.analyzed.asInstanceOf[Project].projectList.head
    BindReferences.bindReference(e: Expression,
      in.queryExecution.analyzed.output.map(_.withNullability(true)))
  }

  protected def rowsOf(in: DataFrame): Seq[InternalRow] =
    in.queryExecution.toRdd.map(_.copy()).collect().toSeq

  /** The generated projection's rows, after asserting each equals the
    * interpreted projection's. `GenerateUnsafeProjection` throws where
    * `UnsafeProjection.create` would silently fall back to the interpreter. */
  protected def parity(e: Expression, rows: Seq[InternalRow]): Seq[UnsafeRow] = {
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
    rows.zipWithIndex.map { case (r, i) =>
      val (g, want) = (gen(r).copy(), interp(r).copy())
      assert(g == want, s"row $i: generated $g != interpreted $want")
      g
    }
  }
}
