package graft

import org.apache.spark.sql.{SparkSessionExtensions, TestSqlBridge}

import graft.plans.{GraftFunctions, GraftSparkExtensions}

/** The engine's SQL surface: every native function, called from SQL
  * text with arguments of its input types. The session extension and
  * `GraftFunctions.register` must load exactly these names, and each
  * call must build the kernel of the same name.
  */
class SqlFunctionsSpec extends SparkTestBase {

  private val calls: Seq[(String, String)] = Seq(
    "nfkc" -> "nfkc('ﬁ')",
    "cosine_sim" -> "cosine_sim(array(1D, 2D), array(2D, 1D))",
    "wordlist_hits" -> "wordlist_hits(array('the', 'der'), 'langid')",
    "winnow_sels" -> "winnow_sels('abcdefghij', 3, 2)",
    "cdc_chunks" -> "cdc_chunks('abcdefghij', 3)",
    "tokenize_text" -> "tokenize_text('hello world')",
    "ngram_rep_stats" -> "ngram_rep_stats(array('a', 'b', 'a', 'b'))",
    "deflate_len" -> "deflate_len('aaaa')",
    "deflate_stored_len" -> "deflate_stored_len('aaaa')",
    "phrase_hits" -> "phrase_hits('click here', 'boilerplate')",
    "l2sq" -> "l2sq(array(1D, 2D), array(2D, 1D))",
    "hilbert_key" -> "hilbert_key(3L, 5L)",
    "email_hits" -> "email_hits('a@b.com')",
    "email_mask" -> "email_mask('a@b.com')",
    "pii_counts" -> "pii_counts('a@b.com')",
    "pii_mask" -> "pii_mask('a@b.com')",
    "pii_mask_ext" -> "pii_mask_ext('a@b.com')",
    "pii_scan" -> "pii_scan('a@b.com')",
    "phone_simple_hits" -> "phone_simple_hits('555-123-4567')",
    "dhash_sig" -> "dhash_sig(X'00')",
    "audio_sig" -> "audio_sig(X'00')",
    "markdown_strip" -> "markdown_strip('**bold** text')",
    "anchor_text_len" -> "anchor_text_len('<a href=x>link</a>')",
    "token_dist_stats" -> "token_dist_stats(array('a', 'b', 'a'))",
    "char_class_stats" -> "char_class_stats('abc é')",
    "token_set_stats" -> "token_set_stats(array('the', 'cat'))",
    "token_text_stats" -> "token_text_stats('the cat the')",
    "text_profile_stats" -> "text_profile_stats('the cat')",
    "collapse_repeats" -> "collapse_repeats('!!!!')",
    "strip_tags" -> "strip_tags('<b>x</b>')",
    "dot_product" -> "dot_product(array(1D, 2D), array(2D, 1D))",
    "fix_mojibake" -> "fix_mojibake('cafÃ©')",
    "simhash64" -> "simhash64('hello world')",
    "md5_prefix_long" -> "md5_prefix_long('abc', '3:', 4)")

  private val names = calls.map(_._1).toSet

  test("the table declares 34 distinct names, one call each here") {
    assert(calls.size === 34 && names.size === 34)
  }

  test("register: every name resolves from SQL text and builds its kernel") {
    GraftFunctions.register(spark)
    for ((name, call) <- calls) {
      val df = spark.sql(s"SELECT $call AS v")
      val built = df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case e => e.prettyName })
      assert(built.contains(name), s"$call built ${built.mkString(", ")}")
      df.collect()
    }
  }

  test("the session extension injects exactly the names register loads") {
    val ext = new SparkSessionExtensions
    new GraftSparkExtensions().apply(ext)
    assert(TestSqlBridge.names(ext) === names)
  }

  test("register is idempotent: no second rule or strategy") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations.count(_ == plans.CollapseNfkc) === 1)
    assert(spark.experimental.extraStrategies.count(_ == plans.AsofJoinStrategy) === 1)
  }

  private def rejected(sql: String): IllegalArgumentException = {
    val e = intercept[Exception](spark.sql(sql).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
      .getOrElse(fail(s"$sql failed without an IllegalArgumentException", e))
  }

  test("a wrong argument count or a non-literal k / profile / prefix " +
    "raises IllegalArgumentException naming the function") {
    GraftFunctions.register(spark)
    val bad = Seq(
      "nfkc" -> "nfkc('a', 'b')",
      "cosine_sim" -> "cosine_sim(array(1D))",
      "md5_prefix_long" -> "md5_prefix_long('abc', '3:')",
      "cdc_chunks" -> "cdc_chunks('abcdef', 1 + 2)",
      "winnow_sels" -> "winnow_sels('abcdef', 3, cast(2 AS INT) + 0)",
      "wordlist_hits" -> "wordlist_hits(array('the'), concat('lang', 'id'))",
      "phrase_hits" -> "phrase_hits('x', concat('boiler', 'plate'))",
      "md5_prefix_long" -> "md5_prefix_long('abc', concat('3', ':'), 4)",
      "md5_prefix_long" -> "md5_prefix_long('abc', '3:', 2 * 2)")
    for ((name, sql) <- bad) {
      val e = rejected(s"SELECT $sql")
      assert(e.getMessage.startsWith(s"$name "), s"$sql: ${e.getMessage}")
    }
  }
}
