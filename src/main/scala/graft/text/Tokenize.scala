package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenisation (SURVEY.md §2.3 T1).
  *
  * The reference uses the HuggingFace GPT-2 BPE tokenizer
  * (Tokenisation_JSONL_export.py:71-119): `input_ids`,
  * `attention_mask` (all ones, no padding/truncation), `n_tokens`.
  * No GPT-2 vocabulary is reachable in this zero-egress environment
  * (SURVEY §7 "hard parts"), so this is a deterministic stand-in that
  * preserves the full capability contract — same output schema, same
  * downstream length-filter semantics — with a GPT-2-style
  * pre-tokenizer (contractions / letter runs / digit runs / punctuation
  * runs, leading space attached) and a stable 50k id space.
  *
  * DIVERGENCE (documented): ids are not GPT-2 BPE ids; n_tokens counts
  * pre-tokens, not BPE merges. Swap `encode` for a real BPE when a
  * vocab ships.
  */
object Tokenize {

  val VocabSize = 50000
  val IdOffset = 256

  /** GPT-2-style pre-tokenization pattern (public knowledge: the GPT-2
    * paper's regex, simplified to Java syntax without unicode captures).
    */
  private val PreToken =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+".r

  /** Deterministic id: stable across JVMs (String.hashCode is
    * spec-defined) and mapped into [IdOffset, IdOffset + VocabSize).
    */
  private def tokenId(tok: String): Int =
    math.floorMod(tok.hashCode, VocabSize) + IdOffset

  def encode(text: String): Seq[Int] =
    if (text == null || text.isEmpty) Seq.empty
    else PreToken.findAllIn(text).filterNot(_.forall(_.isWhitespace))
      .map(tokenId).toSeq

  /** UDF returning struct<input_ids, attention_mask, n_tokens>. Kept as
    * the executable grammar spec — hot paths use [[native]], the
    * one-pass scanner kernel ([[graft.plans.TokenizeText]]), which a
    * parity spec holds id-identical to this form.
    */
  val tokenize = udf { (s: String) =>
    val ids = encode(s)
    (ids, Seq.fill(ids.length)(1), ids.length)
  }

  /** Native kernel form: struct<input_ids, attention_mask, n_tokens>. */
  def native(c: Column): Column = graft.plans.TokenizeText(c)
}
