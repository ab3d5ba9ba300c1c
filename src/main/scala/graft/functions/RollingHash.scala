package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Polynomial rolling hash (base 31) over a binary column — the document/
  * payload fingerprint primitive (SURVEY §2.8: the reference imports hashlib
  * but never uses it; ours is a real engine function).
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` so it
  * participates in WholeStageCodegen — no UDF serialization boundary, no
  * row-at-a-time interpreter overhead in a 100 TB scan. Matches
  * [[graft.pipeline.Multimodal.FakeCodec]]'s checksum, which the specs use
  * to cross-check the mapPartitions path against the codegen'd path.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires BINARY input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xff); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $b = $c;
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = $h * 31L + ($b[$i] & 0xff);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}
