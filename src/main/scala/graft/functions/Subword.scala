package graft.functions

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Attrib, Tables, U}

/** The shared core of the subword tokenizers ([[Bpe]], [[ByteBpe]],
  * [[WordPiece]], [[Unigram]]) and [[TokenizerCompare]]: the corpus
  * word table and its qualifying-word predicates (so train, apply and
  * compare universes cannot drift apart); the greedy merge trainer of
  * the merge family — one driver loop and one distributed loop behind
  * one guard, parameterised by [[Merges]]; the BPE-family apply; and
  * the merge-family oracle string builders. Trained models are
  * memoized per dataset through [[graft.Artifacts]].
  *
  * Training iterates on the WORD-FREQUENCY vocabulary, not the corpus:
  * one corpus scan builds (word, freq), and every merge round costs
  * O(|vocab|). The deterministic argmax tie-break (score desc, then
  * pair lexical) makes the learned rules engine-stable.
  */
object Subword {
  /** Merge rules learned by the merge family — small because the
    * synthetic corpus vocabulary is small; the loop exits early if no
    * pair repeats. */
  val nMerges = 12

  /** Distinct-word ceiling for the driver training loop: the word
    * vocabulary is bounded by the language, not the corpus (100k ≈ a
    * few MB). Under it the nMerges rounds of 2-4 tiny Spark jobs each
    * (r13 sf1: 9.9 s at 3% core use over a 31-word table) collapse to
    * one collect + a driver loop; above it the distributed loop runs. */
  val DriverVocabCap: Int = 100000

  /** Words longer than this are excluded from the Unigram and WordPiece
    * contracts (train and apply, both engines): they are URLs/garbage
    * in real corpora and the oracle DPs unroll one stage per
    * character. */
  val MaxWordLen = 24

  /** Every non-empty word — both BPEs' universe. */
  val anyWord: Column = length(col("word")) > 0
  /** Words of code-point length 1..[[MaxWordLen]] — Unigram's universe. */
  val boundedWord: Column = length(col("word")).between(1, MaxWordLen)
  /** [[boundedWord]] minus `#`-bearing words — WordPiece's universe:
    * the `##` continuation marker must not collide with corpus text
    * (filtered rather than rejected because `#` occurs in real text). */
  val pieceWord: Column = boundedWord && !col("word").contains("#")

  /** Corpus word instances passing `pred`, plus the columns `keep`.
    * U.fan the DOCUMENTS (pre-explode): everything after the explode
    * otherwise runs at scan parallelism (r13 sf1: 8.9 s on 2 tasks). */
  def instances(s: SparkSession, d: String, pred: Column,
      keep: String*): DataFrame = {
    val ks = keep.map(col)
    U.fan(Tables.t(s, d, "documents").select(ks :+ col("text"): _*))
      .select(ks :+ explode(split(lower(col("text")), " ")).as("word"): _*)
      .filter(pred)
  }

  /** The corpus word table: distinct words passing `pred` with their
    * occurrence counts, as (word, freq). */
  def words(s: SparkSession, d: String, pred: Column): DataFrame =
    instances(s, d, pred).groupBy("word").agg(count(lit(1)).as("freq"))

  /** Unicode CODE POINTS of `w` — the position unit of both engines'
    * `length`/`split(w, "")`; UTF-16 units would split emoji. */
  private[graft] def codePoints(w: String): Array[Int] =
    w.codePoints().toArray

  /** One code-point symbol per character (the char-level seeding). */
  private[graft] def chars(w: String): Array[String] =
    codePoints(w).map(c => new String(Character.toChars(c)))

  /** Column twin of [[chars]]. */
  private[graft] def charsCol(w: Column): Column =
    array_remove(split(w, ""), "")

  /** One learned merge: 1-based rank in merge order, the pair, its
    * merged spelling, the weighted pair count, and the argmax score
    * (the pair count itself for BPE, `pc/(ca·cb)` for WordPiece). */
  final case class Merge(rank: Int, left: String, right: String,
      merged: String, freq: Long, score: Double) {
    /** The `bpe_merge` kernel's 3-field `"a b m"` rule. */
    def rule: String = s"$left $right $merged"
  }

  /** How a merge-family tokenizer trains: `tag` names its `Attrib`
    * keys; `seed` splits a word into initial symbols (JVM) and
    * `seedCol` is its Column twin; `join` spells a merged pair;
    * `scored` ranks pairs by WordPiece's `pc/(ca·cb)` instead of the
    * pair count. */
  final case class Merges(tag: String, seed: String => Array[String],
      seedCol: Column => Column, join: (String, String) => String,
      scored: Boolean)

  /** Driver-side trainer — the reference semantics of both loops:
    * adjacent-pair counts weighted by word freq (and symbol counts when
    * scored), repeat floor 2 (a pair seen once total can't compress),
    * argmax by (score desc, left, right), greedy left-to-right
    * non-overlapping merge. */
  private[graft] def trainLocal(m: Merges, words: Seq[(String, Long)])
      : Seq[Merge] = {
    var vocab = words.iterator.map { case (w, f) => (m.seed(w), f) }.toArray
    val rules = mutable.ArrayBuffer.empty[Merge]
    // BPE compares the exact long count, WordPiece its double score;
    // symbols tie-break in UTF-8 byte order, as Spark and DuckDB sort
    // strings (String.compareTo's UTF-16 order differs past the BMP)
    implicit val utf8: Ordering[String] = Ordering.by[String, String](x =>
      new String(x.getBytes(UTF_8), ISO_8859_1))(Ordering.String)
    val order: Ordering[Merge] =
      if (m.scored) Ordering.by(r => (-r.score, r.left, r.right))
      else Ordering.by(r => (-r.freq, r.left, r.right))
    var exhausted = false
    while (rules.size < nMerges && !exhausted) {
      val sym = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      val pair = mutable.HashMap.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length) {
          if (m.scored) sym(syms(i)) += f
          if (i < syms.length - 1) pair((syms(i), syms(i + 1))) += f
          i += 1
        }
      }
      // the score denominator multiplies as DOUBLES everywhere (both
      // loops and the oracle): a BIGINT product of two corpus-scale
      // counts overflows Long; each count is exact in double (< 2^53)
      // and the single-rounding product is identical everywhere
      val eligible = pair.iterator.filter(_._2 >= 2L).map { case ((a, b), pc) =>
        Merge(rules.size + 1, a, b, m.join(a, b), pc,
          if (m.scored) pc.toDouble / (sym(a).toDouble * sym(b).toDouble)
          else pc.toDouble)
      }.toSeq
      if (eligible.isEmpty) exhausted = true
      else {
        val r = eligible.min(order)
        rules += r
        vocab = vocab.map { case (syms, f) =>
          val out = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == r.left &&
                syms(i + 1) == r.right) {
              out += r.merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
      }
    }
    rules.toSeq
  }

  /** The distributed training loop (the 100 TB path past
    * [[DriverVocabCap]]), same semantics as [[trainLocal]]: per round
    * one pair-count aggregate (plus one symbol-count aggregate when
    * scored), a 1-row argmax collect, and a map-side `bpe_merge` with
    * the round's 3-field rule over the vocab rows — persist-new /
    * unpersist-old per round. */
  private[graft] def trainDistributed(m: Merges, words: DataFrame)
      : Seq[Merge] = {
    graft.plans.BpeMerge.register(words.sparkSession)
    var cur = words.select(m.seedCol(col("word")).as("syms"), col("freq"))
      .persist()
    val rules = mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (rules.size < nMerges && !exhausted) {
      val pairs = cur
        .select(explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"),
          col("freq"))
        .select(col("p.0").as("a"), col("p.1").as("b"), col("freq"))
        .groupBy("a", "b").agg(sum(col("freq")).as("pc"))
        .filter(col("pc") >= 2)
      val ranked =
        if (!m.scored) pairs.orderBy(col("pc").desc, col("a"), col("b"))
        else {
          val sym = cur.select(explode(col("syms")).as("tok"), col("freq"))
            .groupBy("tok").agg(sum(col("freq")).as("cnt"))
          pairs
            .join(sym.select(col("tok").as("a"), col("cnt").as("ca")), "a")
            .join(sym.select(col("tok").as("b"), col("cnt").as("cb")), "b")
            .select(col("a"), col("b"), col("pc"),
              (col("pc").cast("double") /
                (col("ca").cast("double") * col("cb").cast("double")))
                .as("score"))
            .orderBy(col("score").desc, col("a"), col("b"))
        }
      val top = ranked.limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val r = Merge(rules.size + 1, a, b, m.join(a, b), pc,
          if (m.scored) top(0).getDouble(3) else pc.toDouble)
        rules += r
        val next = cur.withColumn("syms", call_function("bpe_merge",
          col("syms"), array(lit(r.rule)))).persist()
        next.count() // materialize before dropping the parent level
        cur.unpersist()
        cur = next
      }
    }
    cur.unpersist()
    rules.toSeq
  }

  /** The driver-or-distributed train guard over a (word, freq) table:
    * the cap+1 limit makes the size probe and the driver collect ONE
    * job — ≤cap rows back means the complete vocabulary is in hand. */
  def guarded[M](tag: String, words: DataFrame)(
      local: Seq[(String, Long)] => M, distributed: => M): M = {
    val capped = words.limit(DriverVocabCap + 1).collect()
    if (capped.length <= DriverVocabCap) {
      Attrib.note(s"${tag}_train_path", "driver")
      Attrib.note(s"${tag}_vocab", capped.length.toLong)
      local(capped.toSeq.map(r => (r.getString(0), r.getLong(1))))
    } else {
      Attrib.note(s"${tag}_train_path", "distributed")
      distributed
    }
  }

  /** Merge rules for a (word, freq) table through the guard. */
  def trainMerges(m: Merges, words: DataFrame): Seq[Merge] =
    guarded(m.tag, words)(trainLocal(m, _), trainDistributed(m, words))

  /** The BPE-family apply: fanned word instances → crossJoin with the
    * 1-row rules array → `bpe_merge` over `seed(word)` as `toks`,
    * next to doc_id and `extra`. The rules reach the kernel as a
    * BROADCAST scalar, not a plan literal: a production merges.txt is
    * 50k-100k rules, and embedding that in every task's plan/codegen
    * blob is the thing that breaks first. PlanSpec whitelists this
    * 1-row BNLJ (the scalar-broadcast pattern). */
  def bpeApply(s: SparkSession, d: String, rules: Seq[Merge],
      seed: Column => Column, extra: Column*): DataFrame = {
    graft.plans.BpeMerge.register(s)
    val sess = s; import sess.implicits._
    instances(s, d, anyWord, "doc_id")
      .crossJoin(broadcast(Seq(Tuple1(rules.map(_.rule))).toDF("rules")))
      .select(col("doc_id") +: call_function("bpe_merge", seed(col("word")),
        col("rules")).as("toks") +: extra: _*)
  }

  /** String builders shared by the merge-family DuckDB oracles. Both
    * train replays unroll the greedy loop as nMerges rounds over the
    * `|t1||t2||…|` symbol encoding; each applies its merge as one
    * replace() (COALESCE to a never-occurring chr(1) pattern keeps
    * exhausted rounds a no-op, mirroring the engines' early break).
    * Working CTEs are MATERIALIZED: each round references its
    * predecessor more than once, and plain CTE inlining would expand
    * 2^nMerges scans. */
  private[functions] object Sql {
    def esc(x: String): String = x.replace("'", "''")

    def tt(r: Int): String =
      s"""tt$r AS (SELECT string_split(substr(s, 2, len(s) - 2), '||') AS t,
         |  freq FROM w$r)""".stripMargin

    def pp(r: Int): String =
      s"""pp$r AS (
         |  SELECT t, freq, unnest(generate_series(1, len(t) - 1)) AS i
         |  FROM tt$r)""".stripMargin

    def cnts(r: Int, c: String): String =
      s"""cnts$r AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS $c
         |  FROM pp$r GROUP BY 1, 2)""".stripMargin

    /** Round r's merge of top$r's pair into the spelling `m`. */
    def merge(r: Int, m: String): String =
      s"""w${r + 1} AS MATERIALIZED (
         |  SELECT replace(s,
         |    COALESCE((SELECT '|' || a || '||' || b || '|' FROM top$r), chr(1)),
         |    COALESCE((SELECT '|' || $m || '|' FROM top$r), chr(1))) AS s,
         |    freq
         |  FROM w$r)""".stripMargin

    /** A BPE round: (cnt DESC, a, b) argmax with the cnt >= 2 floor. */
    def bpeRound(m: String)(r: Int): String =
      Seq(tt(r), pp(r), cnts(r, "cnt"),
        s"""top$r AS MATERIALIZED (
           |  SELECT a, b, cnt FROM cnts$r WHERE cnt >= 2
           |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin,
        merge(r, m)).mkString(",\n")

    /** The train replay: `words` CTE, w0 = `seed` (spelling `s`),
      * nMerges `round`s, and one row per round of `cols` from top$r. */
    def trainReplay(wordsCte: String, seed: String, round: Int => String,
        cols: String): String = {
      val union = (0 until nMerges).map { r =>
        s"SELECT ${r + 1} AS rank, a AS left_sym, b AS right_sym, $cols FROM top$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH $wordsCte,
         |w0 AS MATERIALIZED (
         |  SELECT $seed, freq
         |  FROM words),
         |${(0 until nMerges).map(round).mkString(",\n")}
         |SELECT * FROM (
         |$union) ORDER BY rank""".stripMargin
    }

    /** The BPE-family apply replay for a fixed rule list: `v0` encodes
      * the DISTINCT word vocabulary, one replace() per rule in rank
      * order is EXACTLY one greedy left-to-right non-overlapping merge
      * pass (the full double-`|` boundaries prevent prefix/suffix false
      * matches, and replace's resume-after-replacement scan is the
      * kernel's skip-2), token count = `||` boundaries + 1; words
      * re-join by occurrence for the per-doc `sums`. */
    def applyReplay(rules: Seq[Merge], v0: String, vt: String,
        sums: String): String = {
      val passes = rules.sortBy(_.rank).zipWithIndex.map { case (m, i) =>
        s"v${i + 1} AS (SELECT word, replace(s, '|${esc(m.left)}||" +
          s"${esc(m.right)}|', '|${esc(m.merged)}|') AS s FROM v$i)"
      }
      s"""WITH words AS (
         |  SELECT doc_id, w AS word FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents)
         |  WHERE len(w) > 0),
         |vocab AS (SELECT DISTINCT word FROM words),
         |v0 AS (
         |  SELECT word,$v0
         |  FROM vocab),
         |${passes.map(_ + ",\n").mkString}vt AS (SELECT word,
         |         CAST((len(s) - len(replace(s, '||', ''))) // 2 + 1 AS BIGINT)
         |           AS n_toks$vt
         |       FROM v${rules.size})
         |SELECT w.doc_id,
         |  count(*) AS n_words,
         |$sums
         |FROM words w JOIN vt USING (word)
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    }
  }
}
