package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, U}
import Subword.Merge

/** Byte-level BPE tokenizer — the GPT-2/tiktoken family (Radford et al.
  * 2019): [[Bpe]]'s merges over a 256-symbol UTF-8 BYTE alphabet, so
  * EVERY word is encodable — no `[UNK]`, no universe exclusions.
  * Symbols are decimal byte values (`"97"`); merged symbols join with
  * `_` (`"97_98"`) because plain concatenation is ambiguous over
  * decimals (`[1,11]` and `[11,1]` both concat to `"111"`). The
  * spelling is `[0-9_]` only, so the oracle's `|`-encoding needs no
  * collision guard. Words pre-split at single spaces (the tiktoken
  * regex-pre-split analog), so merges never cross word boundaries.
  *
  * BOTH halves are oracled: training unrolls into nMerges DuckDB rounds
  * over byte symbols the oracle derives itself from code points (a
  * code-point→UTF-8 CASE encoder, not the engine's bytes echoed back);
  * apply and decode replay the trained rules as a replace() chain over
  * the distinct-word vocabulary.
  */
object ByteBpe {
  /** UTF-8 byte symbols of a word as decimal strings — the engine-side
    * seeding. Codegen end to end: one binary `encode`, then per byte
    * position a 1-byte `substr` → `hex` → `conv(16,10)` (no lambda
    * UDFs; `transform` over `sequence` stays in whole-stage codegen).
    */
  private[graft] def byteSyms(word: Column): Column = {
    val bin = encode(word, "UTF-8")
    transform(sequence(lit(1), length(bin)),
      i => conv(hex(bin.substr(i, lit(1))), 16, 10))
  }

  /** JVM-side seeding twin of [[byteSyms]] (driver trainer + specs). */
  private[graft] def byteSymsLocal(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => (b & 0xff).toString)

  val merges: Subword.Merges = Subword.Merges("bytebpe", byteSymsLocal,
    byteSyms, _ + "_" + _, scored = false)

  private val Model = new Artifacts.Kind[Seq[Merge]]("bytebpe", "documents")

  /** Inverse of the tokenization (tiktoken `decode`): the word's bytes
    * are the `_`-flattened token spellings in order; each decimal
    * becomes a 2-digit hex pair and one `unhex` + `decode(UTF-8)`
    * reassembles the word. Codegen end to end and the exact mirror of
    * [[byteSyms]], so `decode(encode(w)) == w` for EVERY string. */
  private[graft] def decodeToks(toks: Column): Column =
    decode(unhex(array_join(transform(
      split(array_join(toks, "_"), "_"),
      b => lpad(conv(b, 10, 16), 2, "0")), "")), "UTF-8")

  /** Learned merge rules of a dataset, memoized. */
  def trainRules(s: SparkSession, d: String): Seq[Merge] =
    Artifacts.get(Model, d)(
      Subword.trainMerges(merges, Subword.words(s, d, Subword.anyWord)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table — merges.txt of the byte-level family,
    // with the explicit merged spelling the 3-field kernel rule ships.
    "vocab_bytebpe_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      trainRules(s, d).map(r => (r.rank, r.left, r.right, r.merged, r.freq))
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq")
        .orderBy("rank")
    }),

    // Tokenize the corpus: per-doc words/bytes/tokens accounting. No
    // UNK column: byte level makes every word encodable by
    // construction.
    "vocab_bytebpe_apply" -> ((s, d) =>
      Subword.bpeApply(s, d, trainRules(s, d), byteSyms,
          length(encode(col("word"), "UTF-8")).as("n_b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(col("n_b"))).as("n_bytes"),
          U.lng(sum(size(col("toks")))).as("n_tokens"))
        .orderBy("doc_id")),

    // Detokenize: encode then DECODE every word and check the round
    // trip corpus-wide (ids → text, tiktoken decode). n_chars counts
    // CHARACTERS of the decoded string (bytes ≠ chars exactly where
    // multibyte reassembly could break); n_roundtrip counts words with
    // decode(encode(w)) == w — byte level guarantees ALL of them.
    "vocab_bytebpe_decode" -> ((s, d) =>
      Subword.bpeApply(s, d, trainRules(s, d), byteSyms, col("word"))
        .select(col("doc_id"), col("word"), col("toks"),
          decodeToks(col("toks")).as("dec"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(size(col("toks")))).as("n_tokens"),
          U.lng(sum(length(col("dec")))).as("n_chars"),
          U.lng(sum(when(col("dec") === col("word"), 1L)
            .otherwise(0L))).as("n_roundtrip"))
        .orderBy("doc_id")))

  /** DuckDB-side byte seeding: `ord()` is a CODE POINT, so the oracle
    * expands each char to its 1-4 UTF-8 bytes itself (RFC 3629 as a
    * CASE over code-point ranges), over the DISTINCT words only. It
    * assumes `string_split(s, '')` yields ONE code point per element
    * (ADVICE r16); the guard fails loudly if a DuckDB build ever splits
    * by grapheme cluster instead. */
  private def byteEncodeSql(c: String): String =
    s"""CASE WHEN len(string_split($c, '')) <> length($c)
       |  THEN error('bytebpe oracle: string_split is not per-code-point')
       |  ELSE '' END ||
       |'|' || array_to_string(flatten(list_transform(
       |  string_split($c, ''), c ->
       |  CASE WHEN ord(c) < 128 THEN [CAST(ord(c) AS VARCHAR)]
       |       WHEN ord(c) < 2048 THEN
       |         [CAST(192 + ord(c) // 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)]
       |       WHEN ord(c) < 65536 THEN
       |         [CAST(224 + ord(c) // 4096 AS VARCHAR),
       |          CAST(128 + (ord(c) // 64) % 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)]
       |       ELSE
       |         [CAST(240 + ord(c) // 262144 AS VARCHAR),
       |          CAST(128 + (ord(c) // 4096) % 64 AS VARCHAR),
       |          CAST(128 + (ord(c) // 64) % 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)] END)), '||') || '|'
       |""".stripMargin.trim

  /** Apply replay for a fixed rule list — merged spellings carry the
    * `_` join; symbols are `[0-9_]`-only by construction, so no
    * delimiter guard is needed. */
  private def applyOracleSqlFor(rules: Seq[Merge]): String =
    Subword.Sql.applyReplay(rules, s" ${byteEncodeSql("word")} AS s", "",
      """  CAST(sum(octet_length(encode(w.word))) AS BIGINT) AS n_bytes,
        |  CAST(sum(vt.n_toks) AS BIGINT) AS n_tokens""".stripMargin)

  /** Decode replay — the INVERSE rederived independently: after the
    * apply chain, the final `|sym||sym|` string parses back to bytes,
    * re-hexes, and reassembles via `from_hex` + `decode`. A decode bug
    * on EITHER side breaks `dec = word` or the character count. */
  private def decodeOracleSqlFor(rules: Seq[Merge]): String =
    Subword.Sql.applyReplay(rules, s" ${byteEncodeSql("word")} AS s",
      """,
        |         decode(from_hex(array_to_string(list_transform(
        |           string_split(replace(trim(s, '|'), '||', '_'), '_'),
        |           b -> lpad(to_hex(CAST(b AS INT)), 2, '0')), '')))
        |           AS dec""".stripMargin,
      """  CAST(sum(vt.n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(vt.dec)) AS BIGINT) AS n_chars,
        |  CAST(sum(CASE WHEN vt.dec = w.word THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_roundtrip""".stripMargin)

  /** Training replay: the [[Bpe]] rounds over the byte-symbol encoding
    * with the `_` merged spelling. Independent recomputation from the
    * corpus. */
  private def trainOracleSql: String =
    Subword.Sql.trainReplay(
      """words AS (
        |  SELECT w AS word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY 1)""".stripMargin,
      s"${byteEncodeSql("word")} AS s",
      Subword.Sql.bpeRound("a || '_' || b"),
      "a || '_' || b AS merged, cnt AS pair_freq")

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until rules have trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    Artifacts.last(Model).map(applyOracleSqlFor)

  def oracles: Map[String, String] =
    Map("vocab_bytebpe_train" -> trainOracleSql) ++
      Artifacts.last(Model).toSeq.flatMap(rs => Seq(
        "vocab_bytebpe_apply" -> applyOracleSqlFor(rs),
        "vocab_bytebpe_decode" -> decodeOracleSqlFor(rs)))
}
