package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-wordlist hit counting as one native codegen'd pass — the hot
  * kernel under language-ID and toxicity scoring.
  *
  * The higher-order-function form (`filter(toks, t ->
  * array_contains(LIST, t))` per list) costs one interpreted array
  * traversal per list with an O(|list|) linear scan per token, and HOF
  * lambdas carry fresh variable ids so Catalyst subexpression
  * elimination cannot even share the traversals. This expression makes
  * a single pass over the token array with an O(1) hashed lookup per
  * (token, list) into statically-compiled UTF8String sets, inside
  * whole-stage codegen. Counts are exact-equality hits — value-identical
  * to the HOF form and to the DuckDB oracle's list_filter/list_contains.
  *
  * Wordlists are compile-time profiles (a codegen'd expression cannot
  * capture arbitrary runtime lists cheaply); adding a profile is one
  * entry in [[WordlistHits.Profiles]].
  */
case class WordlistHits(child: Expression, profile: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))


  require(WordlistHits.Profiles.contains(profile),
    s"unknown wordlist profile: $profile")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wordlist_hits"

  override protected def nullSafeEval(input: Any): Any =
    WordlistHits.kernel(input.asInstanceOf[ArrayData], profile)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.plans.WordlistHits$$.MODULE$$.kernel($c, "$profile")""")

  override protected def withNewChildInternal(newChild: Expression): WordlistHits =
    copy(child = newChild)
}

object WordlistHits {

  /** Named wordlist stacks. Order defines the output array order. */
  val Profiles: Map[String, Seq[Seq[String]]] = Map(
    "langid" -> Seq(graft.text.LangId.En, graft.text.LangId.De,
      graft.text.LangId.Es, graft.text.LangId.Fr),
    "toxicity" -> Seq(graft.text.Toxicity.BadWords,
      graft.text.Toxicity.InsultWords, graft.text.Toxicity.ThreatWords,
      graft.text.Toxicity.SexualWords, graft.text.Toxicity.SlurWords))

  /** UTF8String sets compiled once per JVM: lookups never re-encode. */
  private val compiled: Map[String, Array[java.util.HashSet[UTF8String]]] =
    Profiles.map { case (name, lists) =>
      name -> lists.map { ws =>
        val s = new java.util.HashSet[UTF8String](ws.size * 2)
        ws.foreach(w => s.add(UTF8String.fromString(w)))
        s
      }.toArray
    }

  /** Static kernel shared by interpreted eval and generated code.
    * Null tokens count as no list's member (HOF filter parity).
    */
  def kernel(toks: ArrayData, profile: String): ArrayData = {
    val sets = compiled(profile)
    val counts = new Array[Int](sets.length)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(t)) counts(j) += 1
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}
