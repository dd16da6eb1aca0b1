package graft

import org.apache.spark.sql.functions._

/** The shared subword core ([[functions.Subword]]) seen from the
  * queries: the compare eval must replay each registered apply exactly,
  * because both filter with the same qualifying-word predicates.
  */
class SubwordSpec extends SparkSpec {

  test("compare eval rows equal the corpus totals of all four applies") {
    val cmp = SparkEntry.queries("vocab_compare_tokenizers")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // compare row → (apply query, its token column, its char column)
    val applies = Seq(
      ("bpe", "vocab_bpe_apply", "n_bpe_tokens", "n_chars"),
      ("bytebpe", "vocab_bytebpe_apply", "n_tokens", "n_bytes"),
      ("unigram", "vocab_unigram_apply", "n_pieces", "n_chars"),
      ("wordpiece", "vocab_wordpiece_apply", "n_pieces", "n_chars"))
    assert(cmp.keySet === applies.map(_._1).toSet)
    applies.foreach { case (row, q, toks, chars) =>
      val ap = SparkEntry.queries(q)(spark, sfDir)
        .agg(sum("n_words"), sum(toks), sum(chars))
        .collect().head
      assert(cmp(row) === ((ap.getLong(0), ap.getLong(1), ap.getLong(2))),
        s"$row row vs $q")
    }
  }
}
