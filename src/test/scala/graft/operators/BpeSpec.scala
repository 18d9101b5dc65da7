package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BPE trainer (q69): hand-computed merges on the classic
  * low/lower/lowest-style fixture, greedy-application edge cases, and
  * train/encode consistency. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train: merges match the hand-run of Sennrich BPE on a tiny corpus") {
    // word counts: "hug" x4, "pug" x2, "hugs" x2
    val docs = Seq(
      "hug hug pug hugs",
      "hug hug pug hugs"
    ).toDF("text")
    // adjacency counts at step 0: (h,u)=4+2=6, (u,g)=4+2+2=8, (p,u)=2, (g,s)=2
    // merge 0: (u, g) -> "ug"
    // step 1: (h,ug)=6, (p,ug)=2, (ug,s)=2 -> merge 1: (h, ug) -> "hug"
    // step 2: (p,ug)=2, (hug,s)=2 -> lexicographic tie-break: (hug, s)
    val merges = Bpe.train(docs, numMerges = 3)
    assert(merges.map(m => (m.rank, m.left, m.right)) ===
      Seq((0, "u", "g"), (1, "h", "ug"), (2, "hug", "s")))
  }

  test("train: stops early when no pair reaches minCount") {
    val docs = Seq("ab cd ef").toDF("text") // every pair count = 1
    assert(Bpe.train(docs, numMerges = 5) === Nil)
    // with minCount=1 it keeps merging: (a,b) wins lexicographically
    val m = Bpe.train(docs, numMerges = 1, minCount = 1L)
    assert(m.map(x => (x.left, x.right)) === Seq(("a", "b")))
  }

  test("greedy application is leftmost non-overlapping") {
    // "aaa" has two (a,a) adjacencies but one greedy application: [aa, a]
    val docs = Seq("aaa aaa").toDF("text")
    val merges = Seq(Bpe.Merge(0, "a", "a"))
    val toks = Bpe.encode(docs, merges)
      .select(col("tokens")).as[Seq[String]].head()
    assert(toks === Seq("aa", "a", "aa", "a"))
  }

  test("encode agrees with training-time token state; counts drop monotonically") {
    val docs = spark.read.parquet(s"$sfDirDocs/documents.parquet").limit(120)
    val merges = Bpe.train(docs, numMerges = 6)
    assert(merges.size === 6)

    // recompute training-final state independently: encode the corpus and
    // sum token counts; separately apply merges to the word table and sum
    // size(syms) * count — the two must agree exactly.
    val enc = Bpe.encode(docs, merges)
    val encTotal = enc.agg(sum("token_count")).head().getLong(0)
    val wt = merges.foldLeft(Bpe.wordTable(docs)) { (df, m) =>
      df.withColumn("syms", expr(
        s"""aggregate(syms, cast(array() as array<string>),
           |(acc, x) -> if(size(acc) > 0 AND element_at(acc, -1) = '${m.left}' AND x = '${m.right}',
           |            concat(slice(acc, 1, size(acc) - 1), array('${m.left}${m.right}')),
           |            concat(acc, array(x))))""".stripMargin))
    }
    val wtTotal = wt.agg(sum(expr("size(syms) * count"))).head().getLong(0)
    assert(encTotal === wtTotal)

    // each successive merge strictly reduces the total token count
    val totals = (0 to merges.size).map { k =>
      Bpe.encode(docs, merges.take(k)).agg(sum("token_count")).head().getLong(0)
    }
    totals.sliding(2).foreach { case Seq(a, b) => assert(b < a, s"$totals") }
  }

  test("fertilityStats: closed-form numbers on a hand fixture") {
    // src a: "hug hug" x1 doc -> words 2, chars 6
    // src b: "pug hugs" x1 doc -> words 2, chars 7
    val docs = Seq(("a", "hug hug"), ("b", "pug hugs")).toDF("source", "text")
    val merges = Seq(Bpe.Merge(0, "u", "g"), Bpe.Merge(1, "h", "ug"))
    // a: hug->[hug] x2 -> 2 tokens; fertility 1.0, cpt 3.0
    // b: pug->[p,ug]=2, hugs->[hug,s]=2 -> 4 tokens; fertility 2.0, cpt 1.75
    val got = Bpe.fertilityStats(docs, merges, col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got === Seq(
      ("a", 1L, 2L, 2L, 6L, 1.0, 3.0),
      ("b", 1L, 2L, 4L, 7L, 2.0, 1.75)))
  }

  test("fertilityStats: empty merge list degenerates to chars (fertility = chars/words)") {
    val docs = Seq(("a", "hug hug"), ("b", "pug hugs")).toDF("source", "text")
    val got = Bpe.fertilityStats(docs, Nil, col("source")).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getDouble(6))).toSeq
    // tokens == chars, chars_per_token == 1.0
    assert(got === Seq(("a", 6L, 6L, 1.0), ("b", 7L, 7L, 1.0)))
  }

  test("train is deterministic") {
    val docs = spark.read.parquet(s"$sfDirDocs/documents.parquet").limit(60)
    val a = Bpe.train(docs, numMerges = 4)
    val b = Bpe.train(docs, numMerges = 4)
    assert(a === b)
  }
}
