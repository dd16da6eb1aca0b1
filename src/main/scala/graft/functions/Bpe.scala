package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, U}
import Subword.Merge

/** BPE subword tokenizer (Sennrich et al. 2016, the
  * `tokenizers`/SentencePiece shape) on the [[Subword]] core: training
  * is the core's greedy merge loop over code-point symbols of the
  * (word, freq) vocabulary; apply is one map-only `bpe_merge` pass per
  * word occurrence plus the per-doc aggregate. No end-of-word marker
  * and single-space pre-tokenization (the corpus is space-normalized
  * synthetic text) — representation choices, not structural ones.
  *
  * BOTH halves are oracled: DuckDB recomputes training independently
  * (the loop unrolled into nMerges SQL rounds; BpeSpec also pins it
  * against an independent driver reference), and apply replays the
  * learned rules as one non-overlapping `replace()` per rule over a
  * double-delimited token string.
  */
object Bpe {
  val merges: Subword.Merges = Subword.Merges("bpe", Subword.chars,
    Subword.charsCol, _ + _, scored = false)

  private val Model = new Artifacts.Kind[Seq[Merge]]("bpe", "documents")

  /** Learned merge rules of a dataset, memoized. */
  def trainRules(s: SparkSession, d: String): Seq[Merge] =
    Artifacts.get(Model, d)(
      Subword.trainMerges(merges, Subword.words(s, d, Subword.anyWord)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table itself — what a tokenizer ships as
    // merges.txt. Deterministic (exact counts, total tiebreak).
    "vocab_bpe_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      trainRules(s, d).map(r => (r.rank, r.left, r.right, r.freq))
        .toDF("rank", "left_sym", "right_sym", "pair_freq")
        .orderBy("rank")
    }),

    // Tokenize the corpus with the learned rules, then one per-doc
    // aggregate for the compression accounting a pipeline reports
    // (chars → subword tokens).
    "vocab_bpe_apply" -> ((s, d) =>
      Subword.bpeApply(s, d, trainRules(s, d), merges.seedCol,
          length(col("word")).as("n_chars"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(col("n_chars"))).as("n_chars"),
          U.lng(sum(size(col("toks")))).as("n_bpe_tokens"))
        .orderBy("doc_id")))

  /** The vocab_bpe_apply replay for a fixed rule list over the
    * `|t1||t2||...|` encoding. A word containing the delimiter would
    * corrupt the encoding, so it fails with a named error() instead. */
  private def applyOracleSqlFor(rules: Seq[Merge]): String =
    Subword.Sql.applyReplay(rules,
      """
        |    CASE WHEN word LIKE '%|%'
        |         THEN error('bpe oracle: word contains the | delimiter')
        |         ELSE '|' || array_to_string(string_split(word, ''), '||') || '|'
        |    END AS s""".stripMargin, "",
      """  CAST(sum(len(w.word)) AS BIGINT) AS n_chars,
        |  CAST(sum(vt.n_toks) AS BIGINT) AS n_bpe_tokens""".stripMargin)

  /** The vocab_bpe_train replay: the greedy merge loop unrolled as
    * nMerges SQL rounds — an independent recomputation of training,
    * NOT the engine's learned rules echoed back. */
  private def trainOracleSql: String =
    Subword.Sql.trainReplay(
      """words AS (
        |  SELECT w AS word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY 1)""".stripMargin,
      """CASE WHEN word LIKE '%|%' THEN error('bpe oracle: | in word')
        |    ELSE '|' || array_to_string(string_split(word, ''), '||') || '|' END
        |    AS s""".stripMargin,
      Subword.Sql.bpeRound("a || b"), "cnt AS pair_freq")

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until rules have trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    Artifacts.last(Model).map(applyOracleSqlFor)

  def oracles: Map[String, String] =
    Map("vocab_bpe_train" -> trainOracleSql) ++
      applyOracleSqlCurrent.map("vocab_bpe_apply" -> _)
}
