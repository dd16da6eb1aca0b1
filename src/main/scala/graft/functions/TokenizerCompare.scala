package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.U

/** Tokenizer selection eval — the corpus-level readout a pipeline runs
  * before committing to a vocabulary: [[Bpe]] vs [[ByteBpe]] vs
  * [[Unigram]] vs [[WordPiece]] fertility (tokens per word) and
  * compression (chars per token) on the SAME corpus, from the trained
  * models the applies use. The oracle composes the four apply replays
  * as subqueries.
  *
  * Universe note (part of the contract): each tokenizer reports over
  * ITS OWN qualifying-word universe, filtered by the same [[Subword]]
  * predicate as its apply, so n_words/n_chars can differ between the
  * rows; the per-word and per-token RATIOS are what the comparison is
  * for. The bytebpe row's "n_chars" is its native n_bytes (UTF-8 bytes
  * ARE its alphabet) — chars_per_token reads bytes_per_token there.
  */
object TokenizerCompare {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ONE corpus scan + ONE distinct-word aggregate (Zipf-bounded
    // vocab) feeds all four branches: the two BPE kernels run once per
    // DISTINCT word, the unigram/WordPiece piece counts come from the
    // scored tables the applies use, and the corpus totals are
    // occurrence-weighted (freq ×) conditional sums in ONE aggregate.
    // All sums are exact integers, so the totals are bit-identical to
    // the applies'.
    "vocab_compare_tokenizers" -> ((s, d) => {
      graft.plans.BpeMerge.register(s)
      val sess = s; import sess.implicits._
      val rules = Seq((Bpe.trainRules(s, d).map(_.rule),
        ByteBpe.trainRules(s, d).map(_.rule))).toDF("bpe_rules", "bb_rules")
      // cut with an eager localCheckpoint: the two scored-table
      // broadcast builds would otherwise each re-run the scan
      val words = Subword.words(s, d, Subword.anyWord).localCheckpoint(true)
      def scored(f: (SparkSession, String, DataFrame) => DataFrame,
          universe: Column, as: String) = broadcast(
        f(s, d, words.filter(universe).select("word"))
          .select(col("word"), col("wnp").as(as)))
      val vocab = words
        .crossJoin(broadcast(rules))
        .select(col("word"), col("freq"),
          length(col("word")).as("wlen"),
          length(encode(col("word"), "UTF-8")).as("wbytes"),
          size(call_function("bpe_merge", Bpe.merges.seedCol(col("word")),
            col("bpe_rules"))).as("bpe_t"),
          size(call_function("bpe_merge", ByteBpe.byteSyms(col("word")),
            col("bb_rules"))).as("bb_t"))
        .join(scored(Unigram.scoredOf, Subword.boundedWord, "uni_np"),
          Seq("word"), "left")
        .join(scored(WordPiece.scoredOf, Subword.pieceWord, "wp_np"),
          Seq("word"), "left")
      // universe flags replicate each apply's word filter + inner join:
      // both BPEs see every word; unigram and WordPiece see the words of
      // their universe that their scorer kept (scored-table hit).
      val uniOk = col("uni_np").isNotNull && Subword.boundedWord
      val wpOk = col("wp_np").isNotNull && Subword.pieceWord
      def csum(flag: Column, v: Column) = U.lng(sum(when(flag, v)))
      val a = vocab.agg(
        U.lng(sum(col("freq"))).as("bpe_w"),
        U.lng(sum(col("freq") * col("bpe_t"))).as("bpe_t"),
        U.lng(sum(col("freq") * col("wlen"))).as("bpe_c"),
        U.lng(sum(col("freq") * col("bb_t"))).as("bb_t"),
        U.lng(sum(col("freq") * col("wbytes"))).as("bb_c"),
        csum(uniOk, col("freq")).as("uni_w"),
        csum(uniOk, col("freq") * col("uni_np")).as("uni_t"),
        csum(uniOk, col("freq") * col("wlen")).as("uni_c"),
        csum(wpOk, col("freq")).as("wp_w"),
        csum(wpOk, col("freq") * col("wp_np")).as("wp_t"),
        csum(wpOk, col("freq") * col("wlen")).as("wp_c"))
      a.select(explode(array(
          struct(lit("bpe").as("tokenizer"), col("bpe_w").as("n_words"),
            col("bpe_t").as("n_tokens"), col("bpe_c").as("n_chars")),
          struct(lit("bytebpe").as("tokenizer"), col("bpe_w").as("n_words"),
            col("bb_t").as("n_tokens"), col("bb_c").as("n_chars")),
          struct(lit("unigram").as("tokenizer"), col("uni_w").as("n_words"),
            col("uni_t").as("n_tokens"), col("uni_c").as("n_chars")),
          struct(lit("wordpiece").as("tokenizer"), col("wp_w").as("n_words"),
            col("wp_t").as("n_tokens"), col("wp_c").as("n_chars")))).as("r"))
        .select(col("r.tokenizer").as("tokenizer"),
          col("r.n_words").as("n_words"), col("r.n_tokens").as("n_tokens"),
          col("r.n_chars").as("n_chars"))
        .select(col("tokenizer"), col("n_words"), col("n_tokens"),
          col("n_chars"),
          U.round6(col("n_tokens").cast("double") / col("n_words"))
            .as("tokens_per_word"),
          U.round6(col("n_chars").cast("double") / col("n_tokens"))
            .as("chars_per_token"))
        .orderBy("tokenizer")
    }))

  /** Dynamic: composes the four trained-model replays once all have
    * materialized (graft.Verify's run-queries-then-dump order
    * guarantees it — the compare query itself trains all four). */
  def oracles: Map[String, String] = {
    // row → (its apply's replay, token column, char column, alias)
    val rows = Seq(
      ("bpe", Bpe.applyOracleSqlCurrent, "n_bpe_tokens", "n_chars", "bpe"),
      ("bytebpe", ByteBpe.applyOracleSqlCurrent, "n_tokens", "n_bytes",
        "bytebpe"),
      ("unigram", Unigram.applyOracleSqlCurrent, "n_pieces", "n_chars", "uni"),
      ("wordpiece", WordPiece.applyOracleSqlCurrent, "n_pieces", "n_chars",
        "wp"))
    if (rows.exists(_._2.isEmpty)) Map.empty
    else Map("vocab_compare_tokenizers" -> (
      s"""SELECT tokenizer, n_words, n_tokens, n_chars,
         |  round(CAST(n_tokens AS DOUBLE) / n_words * 1000000)
         |    / 1000000 AS tokens_per_word,
         |  round(CAST(n_chars AS DOUBLE) / n_tokens * 1000000)
         |    / 1000000 AS chars_per_token
         |FROM (
         |""".stripMargin + rows.map { case (t, sql, toks, chars, alias) =>
        s"""  SELECT '$t' AS tokenizer,
           |    CAST(sum(n_words) AS BIGINT) AS n_words,
           |    CAST(sum($toks) AS BIGINT) AS n_tokens,
           |    CAST(sum($chars) AS BIGINT) AS n_chars
           |  FROM (
           |""".stripMargin + sql.get.stripMargin + s"\n  ) ${alias}_rows"
      }.mkString("\n  UNION ALL\n") + ")\nORDER BY tokenizer"))
  }
}
