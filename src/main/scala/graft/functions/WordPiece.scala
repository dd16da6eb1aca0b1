package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, U}
import Subword.{Merge, MaxWordLen}

/** WordPiece subword tokenizer — the BERT family next to [[Bpe]] and
  * [[Unigram]]: training is the [[Subword]] merge loop scored by
  * `pair_freq / (left_freq · right_freq)` (Schuster & Nakajima 2012,
  * as in the HuggingFace `tokenizers` trainer); apply is greedy
  * LONGEST-MATCH-FIRST with `##` continuation prefixes and a whole-word
  * `[UNK]` fallback, run once per distinct word in a mapPartitions
  * kernel under a broadcast vocab set. Universe: [[Subword.pieceWord]].
  *
  * BOTH halves are oracled: DuckDB recomputes the scored merge loop as
  * nMerges SQL rounds, and the greedy longest-match walk over the
  * trained vocabulary literals unrolls as one MATERIALIZED stage per
  * word position. Score doubles cross the engines as exact ratios of
  * BIGINTs rounded through the round6 bridge.
  */
object WordPiece {
  /** Continuation marker (BERT convention). */
  val Cont = "##"

  /** Word → WordPiece symbol sequence: first code point plain, the rest
    * `##`-prefixed. */
  private[graft] def encode(w: String): Array[String] =
    Subword.chars(w).zipWithIndex.map { case (c, i) =>
      if (i == 0) c else Cont + c }

  private def stripCont(t: String): String =
    if (t.startsWith(Cont)) t.substring(Cont.length) else t

  val merges: Subword.Merges = Subword.Merges("wordpiece", encode,
    w => transform(Subword.charsCol(w),
      (c: Column, i: Column) => when(i === 0, c).otherwise(concat(lit(Cont), c))),
    (a, b) => a + stripCont(b), scored = true)

  /** (merge rules, final token vocabulary). */
  private val Model =
    new Artifacts.Kind[(Seq[Merge], Set[String])]("wordpiece", "documents")

  /** Trained model for a dataset: (merge rules, final token vocabulary).
    * The vocabulary is the WordPiece alphabet — BOTH forms (initial and
    * `##`-continuation) of every character seen in the universe — plus
    * every merge product. Memoized. */
  def model(s: SparkSession, d: String): (Seq[Merge], Set[String]) =
    Artifacts.get(Model, d) {
      val sess = s; import sess.implicits._
      val words = Subword.words(s, d, Subword.pieceWord)
      val (rules, wordSeq) = Subword.guarded(merges.tag, words)(
        ws => (Subword.trainLocal(merges, ws), ws.map(_._1)),
        (Subword.trainDistributed(merges, words),
          // alphabet still needs the distinct code points — one tiny
          // vocabulary-bounded aggregate, collected as chars not words
          words.select(explode(Subword.charsCol(col("word")))).distinct()
            .as[String].collect().toSeq))
      val alphabet = wordSeq.iterator.flatMap(Subword.chars).toSet
      (rules, alphabet ++ alphabet.map(Cont + _) ++ rules.map(_.merged))
    }

  /** Greedy longest-match-first tokenization of one word: number of
    * pieces, or None when some position has no matching token (the
    * word becomes ONE `[UNK]` piece). Code-point indexing. */
  private[graft] def wpPieces(w: String, vocab: Set[String]): Option[Int] = {
    val c = Subword.codePoints(w)
    val n = c.length
    var pos = 0
    var np = 0
    while (pos < n) {
      var l = n - pos
      var found = -1
      while (l >= 1 && found < 0) {
        val sub = new String(c, pos, l)
        val tok = if (pos == 0) sub else Cont + sub
        if (vocab.contains(tok)) found = l else l -= 1
      }
      if (found < 0) return None
      pos += found
      np += 1
    }
    Some(np)
  }

  /** Piece-count a distinct-word table under the trained model: (word,
    * wnp, wunk). Vocabulary-bounded, broadcasts. [[TokenizerCompare]]
    * feeds it from its shared corpus scan, filtered by the same
    * [[Subword.pieceWord]] predicate. */
  private[functions] def scoredOf(s: SparkSession, d: String,
      words: DataFrame): DataFrame = {
    val sess = s; import sess.implicits._
    val bc = s.sparkContext.broadcast(model(s, d)._2)
    words.as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.map { w =>
          wpPieces(w, v) match {
            case Some(np) => (w, np.toLong, 0L)
            case None => (w, 1L, 1L) // whole-word [UNK]: one piece
          }
        }
      }.toDF("word", "wnp", "wunk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table — what a WordPiece trainer ships beyond
    // the alphabet. The raw score is an exact ratio of longs —
    // identical cross-engine; rounded through U.round6 (the
    // engine-stable round spelling, same as the oracle's).
    "vocab_wordpiece_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      model(s, d)._1
        .map(r => (r.rank, r.left, r.right, r.merged, r.freq, r.score))
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq",
          "score")
        .withColumn("score", U.round6(col("score")))
        .orderBy("rank")
    }),

    // Tokenize the corpus: per-document word/piece/[UNK] accounting.
    // Words score ONCE; instances probe the broadcast scored table
    // DIRECTLY (every per-doc sum is an exact integer, so no (doc_id,
    // word) pre-aggregate — unlike vocab_unigram_apply, whose logprob
    // rounds on the cnt-weighted PRODUCT).
    "vocab_wordpiece_apply" -> ((s, d) => {
      val scored = scoredOf(s, d,
        Subword.words(s, d, Subword.pieceWord).select("word"))
      Subword.instances(s, d, Subword.pieceWord, "doc_id")
        .join(broadcast(scored), "word")
        .groupBy("doc_id")
        // sum(1L), not count(*): keeps n_words NULLABLE like the old
        // sum(cnt) so the output schema stays byte-identical
        .agg(U.lng(sum(lit(1L))).as("n_words"),
          U.lng(sum(col("wnp"))).as("n_pieces"),
          U.lng(sum(length(col("word")))).as("n_chars"),
          U.lng(sum(col("wunk"))).as("n_unk"))
        .orderBy("doc_id")
    }))

  /** Training replay: the scored merge loop UNROLLED as nMerges DuckDB
    * rounds over the `|t1||t2||…|` encoding (with `##` continuation
    * markers inside the tokens) — each round recomputes weighted
    * SYMBOL counts and adjacent-PAIR counts, takes the (score DESC, a,
    * b) argmax with the pc ≥ 2 floor, and applies the merge as one
    * replace(). Independent recomputation, NOT the engine's rules
    * echoed back. */
  private def trainOracleSql: String = {
    import Subword.Sql._
    def round(r: Int): String = Seq(tt(r),
      s"""sym$r AS MATERIALIZED (
         |  SELECT tok, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(t) AS tok, freq FROM tt$r) GROUP BY 1)""".stripMargin,
      pp(r), cnts(r, "pc"),
      s"""top$r AS MATERIALIZED (
         |  SELECT c.a, c.b, c.pc,
         |    c.a || CASE WHEN c.b LIKE '##%' THEN substr(c.b, 3)
         |               ELSE c.b END AS m,
         |    CAST(c.pc AS DOUBLE) /
         |      (CAST(sa.cnt AS DOUBLE) * CAST(sb.cnt AS DOUBLE)) AS score
         |  FROM cnts$r c
         |  JOIN sym$r sa ON sa.tok = c.a JOIN sym$r sb ON sb.tok = c.b
         |  WHERE c.pc >= 2
         |  ORDER BY score DESC, c.a, c.b LIMIT 1)""".stripMargin,
      merge(r, "m")).mkString(",\n")
    trainReplay(wordsSql("words"),
      """CASE WHEN word LIKE '%|%'
        |    THEN error('wordpiece oracle: word contains the | delimiter')
        |    ELSE '|' || substr(word, 1, 1) ||
        |    CASE WHEN len(word) > 1
        |         THEN '||##' ||
        |           array_to_string(string_split(substr(word, 2), ''), '||##')
        |         ELSE '' END || '|' END AS s""".stripMargin,
      round,
      "m AS merged, pc AS pair_freq, round(score * 1000000) / 1000000 AS score")
  }

  /** The qualifying-words CTE body (universe contract). */
  private def wordsSql(name: String): String =
    s"""$name AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) BETWEEN 1 AND $MaxWordLen
       |    AND w NOT LIKE '%#%' GROUP BY 1)""".stripMargin

  /** Apply replay for a trained vocabulary: candidates = one substr
    * join of (word, start, len) against the vocab literals (`##` form
    * off word start), `best` = the longest match per position (greedy),
    * then the walk unrolls one stage per position — greedy keeps ONE
    * state per word, each stage a 1-row-per-word join. Words whose walk
    * strands (no candidate at the current position) are `[UNK]` = one
    * piece. */
  private def applyOracleSqlFor(vocab: Set[String]): String = {
    val maxLen = vocab.iterator
      .map(t => stripCont(t).codePointCount(0, stripCont(t).length))
      .max
    val vals = vocab.toSeq.sorted.map(t => s"('${Subword.Sql.esc(t)}')")
      .mkString(",\n    ")
    val stages = (1 to MaxWordLen).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT g.word, g.pos + b.L AS pos, g.np + 1 AS np
         |  FROM gall${k - 1} g JOIN best b ON b.word = g.word AND b.s = $k
         |  WHERE g.pos = $k),
         |gall$k AS MATERIALIZED (
         |  SELECT * FROM gall${k - 1} UNION ALL SELECT * FROM g$k)""".stripMargin
    }
    s"""WITH vocab(tok) AS (VALUES
       |    $vals),
       |tokk AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |tw AS (
       |  SELECT doc_id, w AS word, count(*) AS cnt FROM tokk
       |  WHERE length(w) BETWEEN 1 AND $MaxWordLen
       |    AND w NOT LIKE '%#%'
       |  GROUP BY 1, 2),
       |words AS (SELECT DISTINCT word FROM tw),
       |cand AS MATERIALIZED (
       |  SELECT w.word, s, L
       |  FROM words w
       |  CROSS JOIN range(1, ${MaxWordLen + 1}) AS rs(s)
       |  CROSS JOIN range(1, ${maxLen + 1}) AS rl(L)
       |  JOIN vocab v ON v.tok =
       |    CASE WHEN s = 1 THEN substr(w.word, 1, L::INT)
       |         ELSE '##' || substr(w.word, s::INT, L::INT) END
       |  WHERE s + L - 1 <= length(w.word)),
       |best AS MATERIALIZED (
       |  SELECT word, s, max(L) AS L FROM cand GROUP BY 1, 2),
       |gall0 AS (SELECT word, 1 AS pos, 0 AS np FROM words),
       |${stages.mkString(",\n")},
       |unk AS (
       |  SELECT DISTINCT g.word FROM gall$MaxWordLen g
       |  LEFT JOIN best b ON b.word = g.word AND b.s = g.pos
       |  WHERE g.pos <= length(g.word) AND b.word IS NULL),
       |scored AS (
       |  SELECT w.word,
       |    COALESCE(d.np, 1) AS wnp,
       |    CASE WHEN u.word IS NULL THEN 0 ELSE 1 END AS wunk
       |  FROM words w
       |  LEFT JOIN gall$MaxWordLen d
       |    ON d.word = w.word AND d.pos = length(w.word) + 1
       |  LEFT JOIN unk u ON u.word = w.word)
       |SELECT t.doc_id,
       |  CAST(sum(t.cnt) AS BIGINT) AS n_words,
       |  CAST(sum(t.cnt * sc.wnp) AS BIGINT) AS n_pieces,
       |  CAST(sum(t.cnt * length(t.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(t.cnt * sc.wunk) AS BIGINT) AS n_unk
       |FROM tw t JOIN scored sc ON sc.word = t.word
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until the model has trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    Artifacts.last(Model).map(m => applyOracleSqlFor(m._2))

  def oracles: Map[String, String] =
    Map("vocab_wordpiece_train" -> trainOracleSql) ++
      applyOracleSqlCurrent.map("vocab_wordpiece_apply" -> _)
}
