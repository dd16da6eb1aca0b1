package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import functions.{Subword, WordPiece}

/** WordPiece tokenizer (VERDICT r14 item 5): the trainer pinned against
  * an independent brute-force reference, the longest-match apply kernel
  * pinned against exhaustive search, the distributed trainer against
  * the driver path, and the registered queries' internal consistency.
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("encode: first code point plain, rest ##-prefixed; code-point " +
    "units (non-BMP chars stay whole)") {
    assert(WordPiece.encode("word").toSeq ===
      Seq("w", "##o", "##r", "##d"))
    assert(WordPiece.encode("a").toSeq === Seq("a"))
    val emoji = new String(Character.toChars(0x1F600))
    assert(WordPiece.encode(s"a${emoji}b").toSeq ===
      Seq("a", s"##$emoji", "##b"))
  }

  test("wpPieces: greedy longest-match-first equals the reference; " +
    "UNK when any position strands") {
    val vocab = Set("un", "##aff", "##able", "##ffa", "##b", "##le",
      "u", "##n", "##a", "##f", "##l", "##e")
    // greedy: un + ##aff + ##able (NOT the 3+3+3 split ##ffa would give)
    assert(WordPiece.wpPieces("unaffable", vocab) === Some(3))
    // no initial token for 'x' → whole word UNK
    assert(WordPiece.wpPieces("xab", vocab) === None)
    // greedy can strand where a non-greedy split would succeed — the
    // documented longest-match-FIRST contract, not a bug: "unaff" has
    // best initial "un", then "##aff", fine; craft a strand: vocab2
    // matches long prefix then dead-ends
    val vocab2 = Set("ab", "a", "##a", "##ba") // word "aba"
    // longest initial is "ab", then needs "##a" — present → 2 pieces
    assert(WordPiece.wpPieces("aba", vocab2) === Some(2))
    val vocab3 = Set("ab", "##x", "a", "##b", "##a")
    // longest "ab" then "##a" ✓; but word "abz": "ab" then "##z" miss,
    // greedy does NOT backtrack → UNK
    assert(WordPiece.wpPieces("abz", vocab3) === None)
  }

  test("wpPieces agrees with brute-force greedy reference on random " +
    "vocabularies") {
    val rnd = new scala.util.Random(7)
    def bruteGreedy(w: String, vocab: Set[String]): Option[Int] = {
      var pos = 0; var np = 0
      while (pos < w.length) {
        val cands = (1 to (w.length - pos)).filter { l =>
          val sub = w.substring(pos, pos + l)
          vocab.contains(if (pos == 0) sub else "##" + sub)
        }
        if (cands.isEmpty) return None
        pos += cands.max; np += 1
      }
      Some(np)
    }
    (1 to 200).foreach { _ =>
      val alpha = "abc"
      val w = (1 to (1 + rnd.nextInt(8)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val vocab = (1 to 12).map { _ =>
        val t = (1 to (1 + rnd.nextInt(3)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        if (rnd.nextBoolean()) t else "##" + t
      }.toSet
      assert(WordPiece.wpPieces(w, vocab) === bruteGreedy(w, vocab),
        s"word=$w vocab=$vocab")
    }
  }

  test("trainLocal: scored argmax (pc/(ca*cb)), pc>=2 floor, ## " +
    "stripping on merge — checked against a hand-computed corpus") {
    // corpus: "aab" ×3, "ab" ×2  → encodings [a,##a,##b]×3, [a,##b]×2
    // sym: a=5, ##a=3, ##b=5; pairs: (a,##a)=3, (##a,##b)=3, (a,##b)=2
    // scores: 3/(5·3)=0.2, 3/(3·5)=0.2, 2/(5·5)=0.08
    // tie at 0.2 → lexical: ("##a","##b") < ("a","##a") → merge ##ab
    val r1 = Subword.trainLocal(WordPiece.merges, Seq(("aab", 3L), ("ab", 2L)))
    assert(r1.nonEmpty)
    val Subword.Merge(rk, a, b, m, pc, sc) = r1.head
    assert((rk, a, b, m, pc) === (1, "##a", "##b", "##ab", 3L))
    assert(math.abs(sc - 0.2) < 1e-12)
    // round 2: [a,##ab]×3, [a,##b]×2 — sym a=5, ##ab=3, ##b=2;
    // pairs (a,##ab)=3 → 3/15=0.2, (a,##b)=2 → 2/10=0.2;
    // lexical: ("a","##ab") < ("a","##b") → merge "aab"
    assert(r1(1).rank === 2)
    assert((r1(1).left, r1(1).right, r1(1).merged, r1(1).freq) ===
      ("a", "##ab", "aab", 3L))
    // pc floor: remaining pair (a,##b)=2 still eligible → rank 3 "ab";
    // after that nothing repeats
    assert((r1(2).left, r1(2).right, r1(2).merged, r1(2).freq) ===
      ("a", "##b", "ab", 2L))
    assert(r1.size === 3)
  }

  test("driver fast path and distributed trainer are rule-for-rule " +
    "identical on a planted corpus") {
    // non-BMP words: the distributed loop seeds through the Column twin
    // of encode, which must split by code point too
    val wf = Seq(("aaa", 5L), ("aab", 5L), ("banana", 3L),
      ("bandana", 2L), ("x", 9L), ("nan", 4L), ("ana", 4L),
      ("😀😀", 5L), ("ｱｱ", 5L))
    val words = wf.toDF("word", "freq")
    val dist = Subword.trainDistributed(WordPiece.merges, words)
    val local = Subword.trainLocal(WordPiece.merges, wf)
    assert(dist.nonEmpty)
    // Merge equality includes the score: the same exact long ratios
    assert(dist === local)
  }

  test("model invariants on sf0.001: alphabet complete (both forms), " +
    "every universe word tokenizes without UNK surprise accounting") {
    val (rules, vocab) = WordPiece.model(spark, sfDir)
    assert(rules.size <= Subword.nMerges)
    assert(rules.map(_.rank) === (1 to rules.size))
    // every merge product is in the vocabulary
    rules.foreach(r => assert(vocab.contains(r.merged), r.merged))
    val words = Tables.t(spark, sfDir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")).between(1, Subword.MaxWordLen) &&
        !col("w").contains("#"))
      .select("w").distinct().as[String].collect()
    assert(words.nonEmpty)
    // alphabet completeness ⇒ no universe word can be UNK (every char
    // has both an initial and a continuation form)
    words.foreach { w =>
      val np = WordPiece.wpPieces(w, vocab)
      assert(np.isDefined, s"universe word went UNK: $w")
      assert(np.get <= Subword.codePoints(w).length)
    }
  }

  test("registered queries: apply aggregates the per-word kernel " +
    "exactly; merges compress (pieces < chars for merged words)") {
    val (_, vocab) = WordPiece.model(spark, sfDir)
    val ap = SparkEntry.queries("vocab_wordpiece_apply")(spark, sfDir)
      .collect()
    assert(ap.nonEmpty)
    ap.foreach { r =>
      val (nw, np, nc, nu) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(nw > 0 && np >= nw, s"pieces >= words: $r")
      assert(np <= nc, s"pieces <= chars: $r")
      assert(nu === 0L, s"synthetic corpus must have no UNKs: $r")
    }
    // the trained rules actually fire: total pieces < total chars
    val tot = ap.map(_.getLong(2)).sum.toDouble /
      ap.map(_.getLong(3)).sum
    assert(tot < 1.0, s"no compression: $tot")
    // train query shape
    val tr = SparkEntry.queries("vocab_wordpiece_train")(spark, sfDir)
      .collect()
    assert(tr.length === WordPiece.model(spark, sfDir)._1.size)
    assert(vocab.nonEmpty)
  }

  test("compare eval carries the wordpiece row, internally consistent " +
    "with vocab_wordpiece_apply") {
    val cmp = SparkEntry.queries("vocab_compare_tokenizers")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cmp.keySet === Set("bpe", "bytebpe", "unigram", "wordpiece"))
    val ap = SparkEntry.queries("vocab_wordpiece_apply")(spark, sfDir)
      .agg(sum("n_words"), sum("n_pieces"), sum("n_chars"))
      .collect().head
    assert(cmp("wordpiece") ===
      ((ap.getLong(0), ap.getLong(1), ap.getLong(2))))
  }
}
