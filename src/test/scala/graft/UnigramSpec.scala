package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Unigram

/** Unigram-LM tokenizer semantics ([[graft.functions.Unigram]]):
  * the Viterbi kernel against a brute-force enumeration reference, the
  * trainer's structural invariants (segmentability, probability mass,
  * vocabulary bound), and the registered queries end-to-end. Oracle
  * parity at data scale is the driver's DuckDB gate (trained-model
  * literal replay + unrolled DP).
  */
class UnigramSpec extends SparkSpec {

  /** Brute force: enumerate EVERY segmentation (pieces ≤ MaxPiece),
    * keep max logprob then min piece count — the kernel's observable
    * contract. */
  private def bruteBest(w: String, lp: Map[String, Double])
      : Option[(Double, Int)] = {
    def segs(s: String): List[List[String]] =
      if (s.isEmpty) List(Nil)
      else (1 to math.min(Unigram.MaxPiece, s.length)).toList.flatMap { k =>
        val (h, t) = s.splitAt(k)
        if (lp.contains(h)) segs(t).map(h :: _) else Nil
      }
    val all = segs(w)
    if (all.isEmpty) None
    else {
      // fold each path left-to-right like the DP does, then take
      // (max lp, min pieces at that lp)
      val scored = all.map(p => (p.foldLeft(0.0)((a, x) => a + lp(x)), p.length))
      val mx = scored.map(_._1).max
      Some((mx, scored.filter(_._1 == mx).map(_._2).min))
    }
  }

  test("viterbi equals brute-force enumeration on random small vocabularies") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab"
    for (trial <- 1 to 200) {
      // random vocab: all single chars + a few random multi-char pieces
      val multis = (1 to rnd.nextInt(6)).map(_ =>
        (1 to (2 + rnd.nextInt(3))).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
      val vocab = (alphabet.map(_.toString) ++ multis).distinct
      val lp = vocab.map(p => p -> (-0.25 * (1 + rnd.nextInt(16)))).toMap
      val w = (1 to (1 + rnd.nextInt(10))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val got = Unigram.viterbi(w, lp).map(v => (v._1, v._2))
      val want = bruteBest(w, lp)
      assert(got === want, s"trial $trial word=$w vocab=$lp")
      // and the returned path reproduces the returned score exactly
      Unigram.viterbi(w, lp).foreach { case (best, np, path) =>
        assert(path.mkString === w)
        assert(path.length === np)
        assert(path.foldLeft(0.0)((a, x) => a + lp(x)) === best)
      }
    }
  }

  test("viterbi: unsegmentable word is None; char fallback always works " +
    "when every char is in the vocabulary") {
    val lp = Map("a" -> -1.0, "b" -> -2.0, "ab" -> -2.5)
    assert(Unigram.viterbi("abc", lp) === None) // 'c' uncovered
    assert(Unigram.viterbi("ab", lp) === Some((-2.5, 1, List("ab"))))
    // equal-logprob tie prefers FEWER pieces: a+b = -3.0 < ab = -2.5
    val lp2 = Map("a" -> -1.0, "b" -> -1.5, "ab" -> -2.5)
    assert(Unigram.viterbi("ab", lp2).map(v => (v._1, v._2)) ===
      Some((-2.5, 1)))
  }

  test("viterbi indexes by CODE POINTS, not UTF-16 units (ADVICE r14): " +
    "non-BMP chars segment whole and pieces are valid strings") {
    val emoji = new String(Character.toChars(0x1F600)) // 😀, 2 UTF-16 units
    val w = s"a${emoji}b"
    assert(functions.Subword.codePoints(w).length === 3)
    val lp = Map("a" -> -1.0, "b" -> -1.0, emoji -> -2.0)
    // a UTF-16 kernel would need 4 positions and try to split the
    // surrogate pair; the code-point DP sees exactly 3 pieces
    assert(Unigram.viterbi(w, lp) ===
      Some((-4.0, 3, List("a", emoji, "b"))))
    // a piece SPANNING the astral char keeps code-point boundaries
    val lp2 = lp + (s"a$emoji" -> -1.5)
    assert(Unigram.viterbi(w, lp2) ===
      Some((-2.5, 2, List(s"a$emoji", "b"))))
  }

  test("trainer invariants on sf0.001: full char coverage, bounded vocab, " +
    "normalized probabilities, every corpus word segmentable") {
    val m = Unigram.model(spark, sfDir)
    val lp = m.toMap
    assert(m.nonEmpty && m.size <= Unigram.VocabTarget + 128,
      s"vocab size ${m.size}")
    // probability mass: sum of exp(lp) == 1 up to fp noise
    val mass = m.map { case (_, l) => math.exp(l) }.sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    // every qualifying corpus word segments (char coverage invariant)
    val words = Tables.t(spark, sfDir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")).between(1, functions.Subword.MaxWordLen))
      .select("w").distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(Unigram.viterbi(w, lp).isDefined, s"unsegmentable: $w")
    }
  }

  test("registered queries: apply aggregates the segment table exactly") {
    val seg = SparkEntry.queries("vocab_unigram_segment")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(seg.nonEmpty)
    // multi-char pieces exist (the tokenizer learned something beyond
    // the char fallback) and logprobs are negative
    assert(seg.values.forall(_._2 < 0.0))
    val app = SparkEntry.queries("vocab_unigram_apply")(spark, sfDir)
      .collect()
    assert(app.nonEmpty)
    app.foreach { r =>
      val (nw, np, nc) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(np >= nw, "at least one piece per word")
      assert(nc >= np, "pieces are at least one char")
      assert(r.getDouble(4) < 0.0)
    }
    // spot-check one document against a driver-side recomputation from
    // the segment table + raw tokenization
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(1).collect()
    val (id0, text0) = (docs(0).getLong(0), docs(0).getString(1))
    val ws = text0.toLowerCase.split(" ")
      .filter(w => w.nonEmpty && w.length <= functions.Subword.MaxWordLen)
    val expNp = ws.map(w => seg(w)._1).sum
    val row = app.find(_.getLong(0) == id0).get
    assert(row.getLong(1) === ws.length.toLong)
    assert(row.getLong(2) === expNp)
  }
}
