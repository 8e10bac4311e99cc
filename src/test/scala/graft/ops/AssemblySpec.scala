package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the corpus-assembly family: [[Vocabulary]] (term/doc frequencies,
  * exact top-k), [[Search]] (BM25 against hand-computed scores), and
  * [[Chunking]] (window/stride layout, tail chunk, empty-doc guard). The
  * driver oracle re-checks all three end to end on the documents table
  * (q_vocab_topk / q_bm25 / q_chunk_windows).
  */
class AssemblySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog"),
    (3L, "cat CAT cat"),
    (4L, "   "),
    (5L, "mat dog")
  ).toDF("doc_id", "text")

  // ---- Vocabulary ------------------------------------------------------

  test("termFreqs: per-doc counts, lowercased, first-occurrence order") {
    assert(Vocabulary.termFreqs("the cat sat on the mat").toSeq ==
      Seq(("the", 2), ("cat", 1), ("sat", 1), ("on", 1), ("mat", 1)))
    assert(Vocabulary.termFreqs("cat CAT cat").toSeq == Seq(("cat", 3)))
    assert(Vocabulary.termFreqs("   ").isEmpty)
    assert(Vocabulary.termFreqs(null).isEmpty)
  }

  test("vocabulary: collection frequency and document frequency") {
    val got = Vocabulary.vocabulary(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
      .map { case (t, tc, df) => t -> ((tc, df)) }.toMap
    assert(got("the") == ((3L, 2L)))  // docs 1 (x2) and 2
    assert(got("cat") == ((4L, 2L)))  // doc 1 (x1) + doc 3 (x3)
    assert(got("mat") == ((2L, 2L)))
    assert(got("dog") == ((2L, 2L)))
    assert(got("sat") == ((1L, 1L)))
    assert(!got.contains(""))
  }

  test("topVocabulary: exact top-k, count-desc then token-asc, 1-based rank") {
    val got = Vocabulary.topVocabulary(docs, "doc_id", "text", 3)
      .orderBy(col("rank"))
      .as[(String, Long, Long, Int)].collect().toSeq
    // counts: cat=4, the=3, dog=2, mat=2, on=1, sat=1
    assert(got.map(_._1) == Seq("cat", "the", "dog")) // dog beats mat on token asc
    assert(got.map(_._4) == Seq(1, 2, 3))
    assert(got.head._2 == 4L && got.head._3 == 2L)
  }

  test("tfidfTopTerms: hand-computed scores, rounded-score rank, token tie-break") {
    val got = Search.tfidfTopTerms(docs, "doc_id", "text", 2)
      .orderBy(col("doc_id"), col("rank"))
      .as[(Long, String, Double, Int)].collect().toSeq
    // N=5; df: the/cat/mat/dog=2, sat/on=1 -> idf ln(5/2)=0.916291,
    // ln(5/1)=1.609438 (6dp).
    assert(got == Seq(
      (1L, "the", 1.832581, 1),   // tf=2 beats the tied singles
      (1L, "on", 1.609438, 2),    // on/sat tie -> token asc
      (2L, "dog", 0.916291, 1),   // dog/the tie -> token asc
      (2L, "the", 0.916291, 2),
      (3L, "cat", 2.748872, 1),   // tf=3; doc 4 (no tokens) emits nothing
      (5L, "dog", 0.916291, 1),
      (5L, "mat", 0.916291, 2)))
  }

  test("tfidfTopTerms rejects m <= 0 and an empty corpus") {
    intercept[IllegalArgumentException] {
      Search.tfidfTopTerms(docs, "doc_id", "text", 0)
    }
    intercept[IllegalArgumentException] {
      Search.tfidfTopTerms(docs.limit(0), "doc_id", "text", 2)
    }
  }

  // ---- BM25 ------------------------------------------------------------

  test("bm25Stats: N, avgdl, df, Robertson idf") {
    val st = Search.bm25Stats(docs, "text", Seq("cat", "zebra"))
    assert(st.nDocs == 5)
    // token counts: 6 + 2 + 3 + 0 + 2 = 13
    assert(st.avgdl == 13.0 / 5.0)
    val cat = st.terms.head
    assert(cat.docFreq == 2)
    assert(cat.idf == math.log(1.0 + (3L + 0.5) / (2L + 0.5)))
    val zebra = st.terms(1)
    assert(zebra.docFreq == 0) // absent term: df 0, idf defined, tf 0 everywhere
    assert(zebra.idf == math.log(1.0 + (5L + 0.5) / 0.5))
  }

  test("bm25TopK matches a hand-computed score and ranks desc") {
    val k1 = 1.2; val b = 0.75
    val st = Search.bm25Stats(docs, "text", Seq("cat"))
    def expected(tf: Int, dl: Int): Double = {
      val raw = st.terms.head.idf *
        ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / st.avgdl))))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Search.bm25TopK(docs, "doc_id", "text", Seq("cat"), 3)
      .as[(Long, Double, Int)].collect().toSeq
    // doc 3: tf=3, dl=3 (shortest, most hits) must outrank doc 1: tf=1, dl=6
    assert(got.map(_._1) == Seq(3L, 1L, 2L),
      s"expected docs 3,1 then any zero-score doc; got $got")
    assert(got(0)._2 == expected(3, 3))
    assert(got(1)._2 == expected(1, 6))
    assert(got(2)._2 == 0.0) // no 'cat': score exactly 0
    assert(got.map(_._3) == Seq(1, 2, 3))
  }

  test("bm25 rejects empty or duplicate term lists") {
    intercept[IllegalArgumentException] { Search.bm25Stats(docs, "text", Nil) }
    intercept[IllegalArgumentException] {
      Search.bm25Stats(docs, "text", Seq("cat", "cat"))
    }
  }

  // ---- unigram LM scoring ---------------------------------------------

  test("trainUnigrams: counts, total, vocab size") {
    val m = LanguageModel.trainUnigrams(docs, "doc_id", "text")
    // corpus tokens: the(3) cat(4) sat(1) on(1) mat(2) dog(2) -> total 13
    assert(m.total == 13)
    assert(m.vocabSize == 6)
    assert(m.counts("cat") == 4 && m.counts("the") == 3)
  }

  test("scoreDocs: hand-computed smoothed NLL, exact quantized sum, empty-doc drop") {
    val m = LanguageModel.trainUnigrams(docs, "doc_id", "text")
    val denom = (13 + 6).toDouble
    def nll(c: Long): Double = -math.log((c + 1.0) / denom)
    // the kernel accumulates 1e-9-quantized terms as exact Longs
    def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def avg(terms: Double*): Double = {
      val raw = (terms.map(nanos).sum.toDouble / 1e9) / terms.length
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = LanguageModel.scoreDocs(docs, "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(4L)) // whitespace-only doc: no tokens, dropped
    assert(got(2L) == ((2, avg(nll(3), nll(2))))) // "the dog"
    assert(got(3L) == ((3, avg(nll(4), nll(4), nll(4))))) // "cat cat cat"
  }

  test("scoreDocs: unseen tokens fall back to the smoothing floor") {
    val m = LanguageModel.trainUnigrams(docs, "doc_id", "text")
    val other = Seq((7L, "zebra zebra")).toDF("doc_id", "text")
    val got = LanguageModel.scoreDocs(other, "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    val floor = -math.log(1.0 / (13 + 6))
    val qFloor = math.floor(floor * 1e9 + 0.5) / 1e9
    assert(got._3 == BigDecimal(qFloor).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // gibberish scores strictly worse than a typical doc
    val typical = LanguageModel.scoreDocs(docs, "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().map(_._3).min
    assert(got._3 > typical)
  }

  test("trainBigrams + scoreBigrams: hand-computed conditional NLL") {
    // bigrams: the-cat, cat-sat, sat-on, on-the, the-mat, the-dog,
    // cat-cat(x2), mat-dog; prefix totals: the=3, cat=3, sat=1, on=1, mat=1
    val m = LanguageModel.trainBigrams(docs, "doc_id", "text")
    assert(m.bi("cat cat") == 2 && m.bi("the dog") == 1)
    assert(m.prefix("the") == 3 && m.prefix("cat") == 3)
    def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val first = -math.log(4.0 / 19) // the: (3+1)/(13+6)
    val cond = -math.log(2.0 / 9) // the->dog: (1+1)/(3+6)
    val expect = BigDecimal((nanos(first) + nanos(cond)).toDouble / 1e9 / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = LanguageModel.scoreBigrams(
      Seq((9L, "the dog")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(got == ((9L, 2, expect)))
  }

  test("Kneser-Ney: hand-computed type counts and interpolated NLL") {
    val m = LanguageModel.trainKneserNey(docs, "doc_id", "text", order = 2)
    // distinct bigram types: the-cat, cat-sat, sat-on, on-the, the-mat,
    // the-dog, cat-cat, mat-dog = 8; followers of 'the' = {cat,mat,dog}
    assert(m.nBigramTypes == 8)
    assert(m.level(2).ctxTypes("the") == 3 && m.level(2).ctxTypes("cat") == 2)
    assert(m.leftTypes("cat") == 2 && m.leftTypes("dog") == 2) // the-dog, mat-dog
    def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val pcDen = 8 + 0.5 * (m.vocabSize + 1.0)
    def pc(lt: Long): Double = (lt + 0.5) / pcDen
    // "the dog": first = -ln(pc(the)); 'the' completes only on-the -> lt=1
    val first = -math.log(pc(1L))
    // cond: c12(the dog)=1, c1(the.)=3, rt(the)=3
    val cond = -math.log(math.max(1 - 0.75, 0.0) / 3 + 0.75 * 3 / 3.0 * pc(2L))
    val expect = BigDecimal((nanos(first) + nanos(cond)).toDouble / 1e9 / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = LanguageModel.scoreKneserNey(
      Seq((9L, "the dog")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(got == ((9L, 2, expect)))
    // OOV prefix backs off to pure continuation and stays finite
    val oov = LanguageModel.scoreKneserNey(
      Seq((10L, "qqq dog qqq")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(oov._3 > 0 && !oov._3.isInfinite)
  }

  test("KN ranks frequent-context continuations above raw-frequency flukes") {
    // 'of' appears often but ONLY after 'lot' (one context); 'thing'
    // appears less but after many different words — KN's continuation
    // counts give 'thing' the larger backoff mass after an unseen prefix
    val corpus = Seq(
      (1L, "lot of a lot of b lot of c lot of d lot of e"),
      (2L, "one thing two thing red thing blue thing")).toDF("doc_id", "text")
    val m = LanguageModel.trainKneserNey(corpus, "doc_id", "text", order = 2)
    assert(m.leftTypes("of") == 1 && m.leftTypes("thing") == 4)
    val scored = LanguageModel.scoreKneserNey(
      Seq((1L, "zzz of"), (2L, "zzz thing")).toDF("doc_id", "text"),
      "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(2L) < scored(1L),
      "continuation-count backoff must prefer the many-context word")
  }

  test("trigram KN: hand-computed interpolated backoff chain") {
    val m = LanguageModel.trainKneserNey(docs, "doc_id", "text", order = 3)
    // trigrams: the-cat-sat, cat-sat-on, sat-on-the, on-the-mat,
    // cat-cat-cat — all count 1 except none repeated; ctx2(cat,cat)=1
    assert(m.level(3).grams("the cat sat") == 1 && m.level(3).grams("cat cat cat") == 1)
    assert(m.level(3).ctxTotals("the cat") == 1 && m.level(3).ctxTypes("the cat") == 1)
    // continuation: N1+(.cat sat)=1 (only 'the' precedes "cat sat")
    assert(m.level(2).grams("cat sat") == 1)
    // N1+(.cat.) = distinct (w1,w3) around middle 'cat' = cat-sat(the),
    // cat-cat(cat) -> 2; completed types {sat, cat} -> 2
    assert(m.level(2).ctxTotals("cat") == 2 && m.level(2).ctxTypes("cat") == 2)
    def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val pcDen = m.nBigramTypes + 0.5 * (m.vocabSize + 1.0)
    def pc(w: String): Double = (m.leftTypes.getOrElse(w, 0L) + 0.5) / pcDen
    def p2(w2: String, w3: String): Double = {
      val cm = m.level(2).ctxTotals.getOrElse(w2, 0L)
      if (cm > 0) math.max(m.level(2).grams.getOrElse(w2 + " " + w3, 0L) - 0.75, 0.0) / cm +
        0.75 * m.level(2).ctxTypes.getOrElse(w2, 0L) / cm * pc(w3)
      else pc(w3)
    }
    // "the cat sat": pc(the), p2(the,cat), p3(sat|the cat)
    val p3 = math.max(m.level(3).grams("the cat sat") - 0.75, 0.0) / m.level(3).ctxTotals("the cat") +
      0.75 * m.level(3).ctxTypes("the cat") / m.level(3).ctxTotals("the cat") * p2("cat", "sat")
    val expect = BigDecimal((nanos(-math.log(pc("the"))) +
      nanos(-math.log(p2("the", "cat"))) + nanos(-math.log(p3))).toDouble / 1e9 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = LanguageModel.scoreKneserNey(
      Seq((9L, "the cat sat")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(got == ((9L, 3, expect)))
    // unseen (w1,w2) context backs off to the bigram continuation level
    val oov = LanguageModel.scoreKneserNey(
      Seq((10L, "zzz qqq dog sat")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(oov._3 > 0 && !oov._3.isInfinite)
  }

  test("trigram KN: distributed joins == broadcast maps, bit for bit") {
    val broadcastScores = LanguageModel.kneserNeyScore(docs, "doc_id", "text", order = 3)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val joined = LanguageModel.scoreKneserNeyJoined(
      docs, "doc_id", "text", docs, order = 3)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(joined == broadcastScores)
    assert(broadcastScores.nonEmpty)
  }

  test("joined scorers: shared-explode (train eq docs) == distinct-train path, bit for bit") {
    // round-15 optimization pins: `train eq docs` takes the ONE-explode
    // shared path; a same-data different-REFERENCE frame takes the
    // distinct-train path — both must land on the identical bits for
    // every refactored order (bigram / trigram / 4-gram / 5-gram)
    val trainCopy = docs.select(docs.columns.map(col): _*)
    assert(!(trainCopy eq docs))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(rows(LanguageModel.scoreBigramsJoined(docs, "doc_id", "text", docs))
      == rows(LanguageModel.scoreBigramsJoined(docs, "doc_id", "text", trainCopy)))
    assert(rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", docs, order = 3))
      == rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", trainCopy, order = 3)))
    assert(rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", docs, order = 4))
      == rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", trainCopy, order = 4)))
    assert(rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", docs, order = 5))
      == rows(LanguageModel.scoreKneserNeyJoined(docs, "doc_id", "text", trainCopy, order = 5)))
  }

  test("4-gram KN: continuation levels, backoff chain, dist == broadcast") {
    val m = LanguageModel.trainKneserNey(docs, "doc_id", "text", order = 4)
    // 4-grams: the-cat-sat-on, cat-sat-on-the, sat-on-the-mat — all x1
    assert(m.level(4).grams("the cat sat on") == 1)
    assert(m.level(4).ctxTotals("the cat sat") == 1 && m.level(4).ctxTypes("the cat sat") == 1)
    // N1+(.cat sat on) = 1 ('the' is the only left extension)
    assert(m.level(3).grams("cat sat on") == 1)
    assert(m.level(3).ctxTotals("cat sat") == 1 && m.level(3).ctxTypes("cat sat") == 1)
    // level-2 statistics are the trigram model's own continuation tables
    assert(m.level(2).grams("cat sat") == 1)
    // backoff chain on an unseen 4-gram context stays finite and positive
    val oov = LanguageModel.scoreKneserNey(
      Seq((10L, "zz qq the cat sat on")).toDF("doc_id", "text"),
      "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(oov._3 > 0 && !oov._3.isInfinite)
    // distributed joins land on the identical bits
    val broadcastScores = LanguageModel.kneserNeyScore(docs, "doc_id", "text", order = 4)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val joined = LanguageModel.scoreKneserNeyJoined(
      docs, "doc_id", "text", docs, order = 4)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(joined == broadcastScores && broadcastScores.nonEmpty)
  }

  test("5-gram KN: continuation levels one more up, backoff chain, dist == broadcast") {
    val m = LanguageModel.trainKneserNey(docs, "doc_id", "text", order = 5)
    // 5-grams in the fixture: the-cat-sat-on-the, cat-sat-on-the-mat — x1
    assert(m.level(5).grams("the cat sat on the") == 1)
    assert(m.level(5).ctxTotals("the cat sat on") == 1 && m.level(5).ctxTypes("the cat sat on") == 1)
    // N1+(.cat sat on the) = 1 ('the' is the only left extension)
    assert(m.level(4).grams("cat sat on the") == 1)
    assert(m.level(4).ctxTotals("cat sat on") == 1 && m.level(4).ctxTypes("cat sat on") == 1)
    // level-3 statistics are the embedded 4-gram model's continuation
    // tables; its RAW 4-gram level stays unused inside the 5-gram model
    assert(m.level(3).grams("cat sat on") == 1)
    // hand-computed chain on "the cat sat on the": pc, p2, p3', p4', p5
    def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val kn2 = m
    val pcDen = kn2.nBigramTypes + 0.5 * (kn2.vocabSize + 1.0)
    def pc(w: String): Double = (kn2.leftTypes.getOrElse(w, 0L) + 0.5) / pcDen
    def p2(a: String, b: String): Double = {
      val cm = m.level(2).ctxTotals.getOrElse(a, 0L)
      if (cm > 0) math.max(m.level(2).grams.getOrElse(a + " " + b, 0L) - 0.75, 0.0) / cm +
        0.75 * m.level(2).ctxTypes.getOrElse(a, 0L) / cm * pc(b)
      else pc(b)
    }
    def p3(a: String, b: String, c: String): Double = {
      val cm = m.level(3).ctxTotals.getOrElse(a + " " + b, 0L)
      if (cm > 0) math.max(m.level(3).grams.getOrElse(a + " " + b + " " + c, 0L) - 0.75, 0.0) / cm +
        0.75 * m.level(3).ctxTypes.getOrElse(a + " " + b, 0L) / cm * p2(b, c)
      else p2(b, c)
    }
    def p4(a: String, b: String, c: String, w: String): Double = {
      val cm = m.level(4).ctxTotals.getOrElse(a + " " + b + " " + c, 0L)
      if (cm > 0) math.max(m.level(4).grams.getOrElse(a + " " + b + " " + c + " " + w, 0L) - 0.75, 0.0) / cm +
        0.75 * m.level(4).ctxTypes.getOrElse(a + " " + b + " " + c, 0L) / cm * p3(b, c, w)
      else p3(b, c, w)
    }
    val p5 = math.max(m.level(5).grams("the cat sat on the") - 0.75, 0.0) / m.level(5).ctxTotals("the cat sat on") +
      0.75 * m.level(5).ctxTypes("the cat sat on") / m.level(5).ctxTotals("the cat sat on") *
        p4("cat", "sat", "on", "the")
    val expect = BigDecimal((nanos(-math.log(pc("the"))) +
      nanos(-math.log(p2("the", "cat"))) +
      nanos(-math.log(p3("the", "cat", "sat"))) +
      nanos(-math.log(p4("the", "cat", "sat", "on"))) +
      nanos(-math.log(p5))).toDouble / 1e9 / 5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = LanguageModel.scoreKneserNey(
      Seq((9L, "the cat sat on the")).toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(got == ((9L, 5, expect)))
    // backoff chain on an unseen 5-gram context stays finite and positive
    val oov = LanguageModel.scoreKneserNey(
      Seq((10L, "zz qq rr the cat sat on")).toDF("doc_id", "text"),
      "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().head
    assert(oov._3 > 0 && !oov._3.isInfinite)
    // distributed joins land on the identical bits
    val broadcastScores = LanguageModel.kneserNeyScore(docs, "doc_id", "text", order = 5)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val joined = LanguageModel.scoreKneserNeyJoined(
      docs, "doc_id", "text", docs, order = 5)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(joined == broadcastScores && broadcastScores.nonEmpty)
    // ... and so does scoring from the PERSISTED model tables
    val mpath = java.nio.file.Files.createTempDirectory("graft_kn5").toString
    LanguageModel.saveFivegramTables(docs, "text", mpath)
    val persisted = LanguageModel.scoreFivegramKneserNeyPersisted(
      docs, "doc_id", "text", mpath)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(persisted == broadcastScores,
      "persisted-model scoring diverged from the inline paths")
    // an uncommitted model dir (no meta marker) is not a model
    val rawDir = java.nio.file.Files.createTempDirectory("graft_kn5_raw").toString
    intercept[IllegalArgumentException](
      LanguageModel.scoreFivegramKneserNeyPersisted(docs, "doc_id", "text", rawDir))
  }

  test("bigram score separates natural order from shuffled word soup") {
    val m = LanguageModel.trainBigrams(docs, "doc_id", "text")
    val scored = LanguageModel.scoreBigrams(
      Seq((1L, "the cat sat on the mat"),
        (2L, "mat the on sat cat the")).toDF("doc_id", "text"),
      "doc_id", "text", m)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    // identical unigram bag — only the bigram structure differs
    assert(scored(1L) < scored(2L))
  }

  test("scoreBigramsJoined matches the collected path bit-for-bit") {
    // the distributed (join-based) path must land on the IDENTICAL rounded
    // doubles as the driver-collected broadcast path — the quantized-Long
    // sum makes the result independent of join/shuffle order
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((7L, "zebra"), (8L, "the cat sat on the mat the cat")))
      .toSeq.toDF("doc_id", "text")
    val collected = LanguageModel.bigramScore(corpus, "doc_id", "text")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    val joined = LanguageModel
      .scoreBigramsJoined(corpus, "doc_id", "text", corpus)
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(joined.toSeq == collected.toSeq)
  }

  test("scoreBigramsJoined == collected on random corpora (3 seeds)") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "bb", "ccc", "Dd", "e", "ff", "g")
      val corpus = (1L to 30L).map { i =>
        (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val collected = LanguageModel.bigramScore(corpus, "doc_id", "text")
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
      val joined = LanguageModel
        .scoreBigramsJoined(corpus, "doc_id", "text", corpus)
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
      assert(joined == collected, s"seed=$seed diverged")
    }
  }

  test("scoreBigramsJoined == collected when scoring a DIFFERENT corpus") {
    // unseen tokens and unseen bigrams take the smoothing floors through
    // left-join nulls on the distributed path and getOrElse(0) on the
    // collected one — they must land on identical doubles
    val other = Seq(
      (101L, "the cat purrs"), // seen unigrams, unseen bigram "cat purrs"
      (102L, "zebra stripes"), // fully unseen
      (103L, "the")).toDF("doc_id", "text")
    val model = LanguageModel.trainBigrams(docs, "doc_id", "text")
    val collected = LanguageModel.scoreBigrams(other, "doc_id", "text", model)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val joined = LanguageModel.scoreBigramsJoined(other, "doc_id", "text", docs)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(joined == collected)
  }

  test("trainBigrams refuses to collect past the maxEntries cap") {
    assertThrows[IllegalArgumentException] {
      LanguageModel.trainBigrams(docs, "doc_id", "text", maxEntries = 2L)
    }
  }

  test("trainUnigrams refuses to collect past the maxVocab cap") {
    // the cap must fire for any vocabulary larger than the configured
    // bound — this pins the single-job limit(max+1) overflow signal
    val ex = intercept[IllegalArgumentException] {
      LanguageModel.trainUnigrams(docs, "doc_id", "text", maxVocab = 3L)
    }
    assert(ex.getMessage.contains("maxVocab=3"))
    // at the bound itself the model trains normally
    val vocabSize = LanguageModel.trainUnigrams(docs, "doc_id", "text").vocabSize
    assert(LanguageModel.trainUnigrams(docs, "doc_id", "text", maxVocab = vocabSize)
      .vocabSize == vocabSize)
  }

  test("perplexityBuckets: tercile counts, score-ordered buckets") {
    // 30 docs in three clearly-separated perplexity bands: corpus-typical
    // (common words), mixed, and rare-word gibberish
    val corpus = ((1L to 10L).map(i => (i, "the cat sat on the mat")) ++
      (11L to 20L).map(i => (i, s"the cat rare$i mat")) ++
      (21L to 30L).map(i => (i, s"zz$i qq$i ww$i xx$i"))).toDF("doc_id", "text")
    val got = LanguageModel.perplexityBuckets(corpus, "doc_id", "text")
      .as[(Long, Int, Double, String)].collect()
    val byBucket = got.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    assert(byBucket("head").length == 10 && byBucket("tail").length == 10)
    val expectedHead = (1L to 10L).toSet
    assert(got.filter(_._4 == "head").map(_._1).toSet == expectedHead)
  }

  // ---- Chunking --------------------------------------------------------

  test("chunks: window/stride layout, stop at the window that reaches the end") {
    // 7 tokens, window 3, stride 2 -> starts 0,2,4; the chunk at 4 reaches
    // the end, so no degenerate fully-contained tail chunk at start 6
    val got = Chunking.chunks("a b c d e f g", 3, 2).toSeq
    assert(got == Seq((3, "a b c"), (3, "c d e"), (3, "e f g")))
    // 8 tokens: starts 0,2,4,6 — the last chunk IS short (tokens 6..7)
    assert(Chunking.chunks("a b c d e f g h", 3, 2).toSeq ==
      Seq((3, "a b c"), (3, "c d e"), (3, "e f g"), (2, "g h")))
    assert(Chunking.chunks("", 3, 2).isEmpty)
    assert(Chunking.chunks("  ", 3, 2).isEmpty)
    assert(Chunking.chunks("one two", 5, 5).toSeq == Seq((2, "one two")))
  }

  test("chunkByTokens: long form with 0-based chunk_idx, normalized text") {
    val got = Chunking.chunkByTokens(
      Seq((9L, "A b C d")).toDF("doc_id", "text"), "doc_id", "text", 2, 2)
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got == Seq((9L, 0, 2, "a b"), (9L, 1, 2, "c d")))
  }

  test("chunkByTokens rejects bad window/stride") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(df, "doc_id", "text", 0, 1)
    }
    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(df, "doc_id", "text", 4, 5) // stride > window
    }
    intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(df, "doc_id", "text", 4, 0)
    }
  }

  // ---- FIM split -------------------------------------------------------

  test("fimSplit: PSM reconstruction, exact lengths, deterministic variety") {
    val in = (1L to 120L).map(i => (i, s"document number $i with some text body"))
      .toDF("doc_id", "text")
    val rows = Chunking.fimSplit(in, "doc_id", "text")
      .orderBy("doc_id").collect()
    val texts = (1L to 120L).map(i => s"document number $i with some text body")
    rows.zip(texts).foreach { case (r, t) =>
      val (np, nm, ns, psm) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))
      assert(np + nm + ns == t.length)
      // parse PSM back and reassemble the original
      val p = psm.indexOf("<SUF>"); val m = psm.indexOf("<MID>")
      val prefix = psm.substring(5, p)
      val suffix = psm.substring(p + 5, m)
      val middle = psm.substring(m + 5)
      assert(prefix.length == np && middle.length == nm && suffix.length == ns)
      assert(prefix + middle + suffix == t)
    }
    // cuts vary across documents (id arithmetic, not a constant split)
    assert(rows.map(_.getInt(1)).distinct.length > 10)
  }

  // ---- tokenize → chunk → pack spine (q_tokenize_pack) -----------------

  test("tokenize->chunk->pack conserves every subword and bounds bin starts") {
    val corpus = (1L to 30L)
      .map(i => (i, (0 until 20).map(w => s"word${(i + w) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    val merges = BpeTrainer.train(corpus, "doc_id", "text", numMerges = 10)
    val tok = BpeTrainer.tokenize(corpus, "doc_id", "text", merges)
    val totalSubwords = tok.agg(org.apache.spark.sql.functions.sum("n_subwords"))
      .head().getLong(0)
    val chunks = Chunking.chunkByTokens(
      tok.select($"doc_id",
        org.apache.spark.sql.functions.array_join($"subwords", " ").as("sub_text")),
      "doc_id", "sub_text", window = 16, stride = 16)
    // disjoint chunks cover the stream exactly
    assert(chunks.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0) == totalSubwords)
    val ord = chunks.withColumn("ord", $"doc_id" * 1000 + $"chunk_idx")
    val packed = Packing.packBySize(ord, "ord", "n_tokens", capacity = 64)
    val stats = Packing.packStats(packed, "n_tokens", 64).collect()
    // packing loses nothing
    assert(stats.map(_.getLong(2)).sum == totalSubwords)
    // waterfall contract: every row STARTS inside its bin
    val bad = packed.filter(
      org.apache.spark.sql.functions.floor(($"cum_tokens" - $"n_tokens") / 64) =!= $"bin")
      .count()
    assert(bad == 0)
    // bins are contiguous 0..max
    val bins = stats.map(_.getLong(0)).sorted
    assert(bins.toSeq == (0L to bins.max).toSeq)
  }

  test("rrfFuse: hand-computed fusion, both-list docs outrank, ties to smaller id") {
    import org.apache.spark.sql.functions._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1), (40L, 2), (50L, 3)).toDF("doc_id", "rank")
    val out = Search.rrfFuse(Seq(lex, sem), "doc_id", 10)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    def c(r: Int) = math.rint(1e9 / (60.0 + r)) / 1e9
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 20: lists rank 2 (lex) + rank 1 (sem) — must fuse to the top
    assert(out.head._1 == 20L && out.head._3 == 2L)
    assert(out.head._2 == r6(c(2) + c(1)))
    // docs 10 (lex#1) and 40 (sem#2): 1/(60+1) > 1/(60+2)
    assert(out(1)._1 == 10L && out(1)._2 == r6(c(1)))
    // tie: 30 (lex#3) and 50 (sem#3) share a score -> smaller id first
    val tied = out.filter(_._2 == r6(c(3)))
    assert(tied.map(_._1).toSeq == Seq(30L, 50L))
    assert(tied.map(_._4).toSeq.sorted == tied.map(_._4).toSeq)
    // every fused row reports how many lists carried the doc
    assert(out.forall(r => r._3 == (if (r._1 == 20L) 2L else 1L)))
  }

  // ---- inverted index + phrase search ---------------------------------

  test("invertedIndex: tf, df and positional bounds per posting") {
    val idx = Search.invertedIndex(docs, "doc_id", "text")
      .as[(String, Long, Long, Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // 'the' in doc 1 at positions 1 and 5; df counts docs 1 and 2
    assert(idx(("the", 1L)) == ((2L, 2L, 1, 5)))
    assert(idx(("the", 2L)) == ((1L, 2L, 1, 1)))
    // case folding: doc 3 is 'cat CAT cat'
    assert(idx(("cat", 3L)) == ((3L, 2L, 1, 3)))
    // blank doc contributes nothing
    assert(!idx.keys.exists(_._2 == 4L))
  }

  test("phraseSearch: consecutive-only, boundaries, no cross-doc stitches") {
    def hits(p: String*) =
      Search.phraseSearch(docs, "doc_id", "text", p)
        .as[(Long, Int)].collect().toSet
    assert(hits("the", "cat") == Set((1L, 1)))       // at the start
    assert(hits("the", "mat") == Set((1L, 5)))       // at the end
    assert(hits("cat", "sat", "on") == Set((1L, 2))) // trigram
    assert(hits("cat", "mat").isEmpty)               // not consecutive
    assert(hits("mat", "the").isEmpty)               // wrong order
    // doc 1 ends in 'mat', doc 5 starts with 'mat dog' — 'mat' + 'dog'
    // must match only INSIDE doc 5, never stitch across documents
    assert(hits("mat", "dog") == Set((5L, 1)))
  }

  test("mergePostings(delta) == full rebuild, row for row") {
    val base = docs.filter($"doc_id" <= 2)
    val delta = docs.filter($"doc_id" > 2)
    val merged = Search.mergePostings(
      Search.invertedIndex(base, "doc_id", "text"), delta, "doc_id", "text")
    val rebuilt = Search.invertedIndex(docs, "doc_id", "text")
    assert(merged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(merged).isEmpty)
    // df really crosses the boundary: 'mat' lives in base doc 1 and
    // delta doc 5, so both postings must report df = 2 after the merge
    val mat = merged.filter($"token" === "mat")
      .as[(String, Long, Long, Long, Int, Int)].collect()
    assert(mat.map(_._2).sorted.toSeq == Seq(1L, 5L) && mat.forall(_._4 == 2L))
  }

  test("bm25TopKIndexed == map-only bm25TopK on every row (tiny corpus)") {
    // different physical paths (postings-aggregate joins vs broadcast UDF
    // closure), same scoring function — full agreement on rounded scores
    // and ranks, zero-score rows included
    val mapOnly = Search.bm25TopK(docs, "doc_id", "text",
      Seq("cat", "dog", "zebra"), 10)
      .as[(Long, Double, Int)].collect().toSet
    val indexed = Search.bm25TopKIndexed(docs, "doc_id", "text",
      Seq("cat", "dog", "zebra"), 10)
      .as[(Long, Double, Int)].collect().toSet
    assert(indexed == mapOnly)
    assert(indexed.size == 5) // all docs ranked, blank doc at score 0
  }

  test("phraseSearch == sliding-window reference on random corpora") {
    val rng = new scala.util.Random(11)
    val vocab = Array("go", "stop", "red", "go", "blue") // skewed on purpose
    for (round <- 1 to 20) {
      val corpus = (1L to 20L).map { id =>
        (id, Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
          .mkString(" "))
      }
      val phrase = Seq.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(vocab.length)))
      val expect = (for {
        (id, text) <- corpus
        toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        i <- 0 to toks.length - phrase.length
        if toks.slice(i, i + phrase.length) == phrase
      } yield (id, i + 1)).toSet
      val got = Search.phraseSearch(
        corpus.toDF("doc_id", "text"), "doc_id", "text", phrase)
        .as[(Long, Int)].collect().toSet
      assert(got == expect, s"round=$round phrase=$phrase")
    }
  }

  test("dictionary matching on a stream matches the batch hits (map-only twin)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq((1L, "she sells seashells"), (2L, "ushers rush"),
      (3L, "nothing at all"))
    val pats = Seq("she", "he", "hers")
    val batch = DictionaryMatch.matches(
      rows.toDF("doc_id", "text"), "doc_id", "text", pats)
      .as[(Long, String, Long, Int)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = DictionaryMatch.matches(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pats)
      .writeStream.format("memory").queryName("dict_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM dict_stream")
        .as[(Long, String, Long, Int)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("phraseSearch: repeated terms bind to slots, overlaps all found") {
    val rep = Seq((9L, "go go go stop go go")).toDF("doc_id", "text")
    assert(Search.phraseSearch(rep, "doc_id", "text", Seq("go", "go"))
      .as[(Long, Int)].collect().toSet == Set((9L, 1), (9L, 2), (9L, 5)))
    assert(Search.phraseSearch(rep, "doc_id", "text", Seq("go", "go", "go"))
      .as[(Long, Int)].collect().toSet == Set((9L, 1)))
    assert(Search.phraseSearch(rep, "doc_id", "text", Seq("stop", "go", "go"))
      .as[(Long, Int)].collect().toSet == Set((9L, 4)))
  }
}
