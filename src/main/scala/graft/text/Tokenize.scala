package graft.text

import org.apache.spark.sql.Column

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
  * pre-tokens, not BPE merges. Swap the [[native]] kernel for a real
  * BPE when a vocab ships. Token ids are `floorMod(token.hashCode,
  * VocabSize) + IdOffset`.
  */
object Tokenize {

  val VocabSize = 50000
  val IdOffset = 256

  /** Native kernel form: struct<input_ids, attention_mask, n_tokens>. */
  def native(c: Column): Column = graft.plans.TokenizeText(c)
}
