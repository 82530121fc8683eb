package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `dhash_sig(content)` — the perceptual image fingerprint as a scalar
  * column: decode the payload through the JVM-pure codec family
  * ([[graft.ops.ImageCodec]]: PNG/BMP/PPM/GIF/QOI/JPEG), compute the
  * 64-bit difference hash ([[graft.ops.Multimodal.dHashChunks]] —
  * exact integer grid/luma/cross-multiply arithmetic), and render the
  * four 16-bit chunks as `"c0:c1:c2:c3"`. NULL when the payload is
  * malformed, undecodable, or smaller than the 9×8 grid (no perceptual
  * signal — the caller's quarantine/keep policy applies, exactly like
  * the other decoders' None contract: one corrupt blob must not kill a
  * 100 TB stage).
  *
  * The equality-keyed form of the perceptual family: identical pixels
  * yield identical signatures REGARDLESS of container or encoder (a
  * QOI and a PNG of the same image collide — the cross-format dedup a
  * byte hash cannot see), which is what a groupBy needs as its key.
  * Near-miss pairs (hamming 1–3) stay with the batch banding machinery
  * (q_media_neardup).
  */
case class DHashSig(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    DHashSig.eval(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.DHashSig$$.MODULE$$.eval($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): DHashSig =
    copy(child = newChild)
}

object DHashSig {

  /** Null (not an exception) for undecodable or sub-grid payloads. */
  def eval(bytes: Array[Byte]): UTF8String =
    graft.ops.ImageCodec.decode(bytes) match {
      case Some(img) if img.width >= 9 && img.height >= 8 =>
        val ch = graft.ops.Multimodal.dHashChunks(
          img.width, img.height, img.pixels)
        UTF8String.fromString(s"${ch(0)}:${ch(1)}:${ch(2)}:${ch(3)}")
      case _ => null
    }
}
