package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018; r15, VERDICT r14 missing
  * #4): seed → EM → prune → Viterbi. Unit layer for the q136 contract:
  * EM learns the obvious piece on a planted corpus, the lattice math
  * is self-consistent, Viterbi is deterministic and UNK-robust, and
  * the artifact round-trips. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("EM learns the planted piece; Viterbi segments with it") {
    val docs = Seq.fill(50)("abab abab cd").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (model, log) = Unigram.train(docs, vocabSize = 8, maxPieceLen = 4,
      seedSize = 32, emIters = 3)
    assert(model.vocabSize <= 8)
    // 'abab' (or 'ab') must carry most of the mass for the word 'abab'
    val toks = Unigram.viterbiLocal(model.logProbs, model.maxPieceLen,
      model.unkLogProb, "abab")
    assert(toks.length <= 2, s"got ${toks.toSeq}") // learned multi-char piece
    assert(log.nonEmpty)
    // EM monotone within each round
    log.groupBy(_.round).foreach { case (_, steps) =>
      steps.sortBy(_.step).sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.loglik >= a.loglik - math.abs(a.loglik) * 1e-9,
            s"round ${a.round}: ${a.loglik} -> ${b.loglik}")
        case _ =>
      }
    }
  }

  test("lattice expectations: counts are posterior-weighted and ll is finite") {
    val m = Map("a" -> math.log(0.4), "b" -> math.log(0.4), "ab" -> math.log(0.2))
    val (pairs, ll) = Unigram.latticeExpectations(m, 2, -100.0, "ab")
    assert(ll < 0.0 && !ll.isInfinite)
    val byPiece = pairs.toMap
    // P(ab as one piece) = 0.2 / (0.2 + 0.16) ; P(a+b) = 0.16 / 0.36
    assert(math.abs(byPiece("ab") - 0.2 / 0.36) < 1e-12)
    assert(math.abs(byPiece("a") - 0.16 / 0.36) < 1e-12)
    // expected counts sum: 1*P(ab) + 2*P(a,b) = total expected pieces
    assert(math.abs(pairs.map(_._2).sum - (0.2 / 0.36 + 2 * 0.16 / 0.36)) < 1e-12)
  }

  test("Viterbi: max-probability wins, ties deterministic, UNK floor for unseen chars") {
    val m = Map("a" -> math.log(0.3), "b" -> math.log(0.3), "ab" -> math.log(0.4))
    // ab as one piece: log 0.4 > log 0.09 (a+b)
    assert(Unigram.viterbiLocal(m, 2, -100.0, "ab").toSeq === Seq("ab"))
    // unseen char: emits as its own piece at the UNK floor, never fails
    assert(Unigram.viterbiLocal(m, 2, -100.0, "axb").toSeq === Seq("a", "x", "b"))
    assert(Unigram.viterbiLocal(m, 2, -100.0, "").toSeq === Seq.empty)
  }

  test("encode: chars-only model degenerates to char count (the q108 identity)") {
    val docs = Seq((1L, "ab ba"), (2L, "aa")).toDF("doc_id", "text")
    val chars = Map("a" -> math.log(0.5), "b" -> math.log(0.5))
    val enc = Unigram.encode(docs, Unigram.UnigramModel(chars, 1))
      .select("doc_id", "token_count").as[(Long, Long)].collect().toMap
    assert(enc === Map(1L -> 4L, 2L -> 2L))
  }
}
