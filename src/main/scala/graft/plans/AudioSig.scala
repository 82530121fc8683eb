package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `audio_sig(content)` — the audio sibling of [[DHashSig]]: decode
  * the payload through the JVM-pure audio codec family (FLAC by
  * magic, else WAV/G.711/AIFF via [[graft.ops.AudioCodec]]), compute
  * the 64-bit energy-delta fingerprint
  * ([[graft.ops.Multimodal.energyHashChunks]]) over the PCM stream,
  * and render the four 16-bit chunks as `"c0:c1:c2:c3"`. NULL when
  * the payload is undecodable or shorter than the 65-frame grid.
  *
  * Container-invariant by construction: the float paths normalize
  * 16-bit PCM by /32768 and the signature re-quantizes by ×32768, so
  * a WAV and a FLAC of the same recording produce IDENTICAL
  * signatures (energy comparisons are also invariant under any
  * uniform amplitude scale, since every frame's Σs² scales by the
  * same s²) — the cross-container dedup a byte hash cannot see. An
  * exact equality key; near-miss pairs go through the banding of
  * q_audio_neardup.
  */
case class AudioSig(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "audio_sig"

  override protected def nullSafeEval(input: Any): Any =
    AudioSig.eval(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.AudioSig$$.MODULE$$.eval($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): AudioSig =
    copy(child = newChild)
}

object AudioSig {

  /** Null (not an exception) for undecodable or sub-grid payloads. */
  def eval(bytes: Array[Byte]): UTF8String = {
    val samples: Array[Int] = graft.ops.FlacCodec.decode(bytes) match {
      case Some(d) => d.samples
      case None => graft.ops.AudioCodec.decode(bytes) match {
        case Some(a) => a.samples.map(f => Math.round(f * 32768f))
        case None => null
      }
    }
    if (samples == null || samples.length < 65) null
    else {
      val ch = graft.ops.Multimodal.energyHashChunks(samples)
      UTF8String.fromString(s"${ch(0)}:${ch(1)}:${ch(2)}:${ch(3)}")
    }
  }
}
