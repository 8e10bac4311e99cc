package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model scoring — the CCNet-style "perplexity filter"
  * step of a corpus pipeline (CCNet scores documents with a KenLM model
  * and drops the worst tail; the unigram variant is the
  * model-free version: a document whose tokens are corpus-typical scores
  * low average negative log-likelihood, gibberish scores high).
  *
  * Two-phase, like [[Search.bm25Stats]]: (1) one token-keyed aggregate
  * builds the unigram table, collected to the driver — bounded by the
  * VOCABULARY size, not the corpus (document collections plateau at
  * ~100k-1M distinct tokens; at 1M entries the broadcast is ~30 MB). (2)
  * scoring is a map-only compiled kernel: per token, add-one-smoothed
  * −ln((count+1)/(total+|V|)), summed in document order, divided by
  * document length. Tokens unseen in training (possible when `train` is
  * a different frame than `docs`) fall back to the smoothing floor
  * −ln(1/(total+|V|)).
  *
  * ORDER-INSENSITIVE SUM: each token's −ln term is quantized to 1e-9
  * (half-up) and accumulated as a Long, so the per-document total is
  * exact integer addition — the oracle's hash aggregate may sum the
  * joined rows in any order and still lands on the identical value
  * (it sums the same DECIMAL(38,9) terms). A raw Double sum would make
  * the gate depend on floating-point summation ORDER across engines.
  * The presented score is round(avg_nll, 6) — the house float
  * convention (q_entropy pins that ln parity holds within it).
  */
object LanguageModel {

  /** Unigram table: token → count, plus the totals the smoother needs. */
  final case class Unigrams(counts: Map[String, Long], total: Long, vocabSize: Long)

  /** Phase 1: token counts over `train` (one map-side-combined
    * aggregate; result bounded by |vocab|, which plateaus at ~100k–1M
    * for natural-language corpora). The `maxVocab` cap makes the driver
    * contract explicit: a corpus whose "vocabulary" grows with size
    * (binary soup, unsegmented text) fails loudly instead of creeping
    * toward a driver OOM. Byte math behind the 2M default: a
    * `Map[String, Long]` entry costs ~100 bytes of JVM heap (boxed Long
    * + String header/chars + hash-trie node), so 2M entries ≈ 200 MB on
    * the driver AND inside every executor the broadcast reaches — about
    * the most a shared-cluster task should pin. Raise it deliberately
    * with the same arithmetic, or keep the model distributed via
    * [[scoreBigramsJoined]]-style joins.
    */
  def trainUnigrams(
      train: DataFrame,
      idCol: String,
      textCol: String,
      maxVocab: Long = 2000000L): Unigrams = {
    require(maxVocab > 0 && maxVocab < Int.MaxValue,
      s"maxVocab must be in (0, Int.MaxValue), got $maxVocab")
    // one job: collect at most maxVocab+1 rows — the extra row IS the
    // overflow signal, so no separate pre-count pass is needed
    val rows = Vocabulary.docTermFrequencies(train, idCol, textCol)
      .groupBy(col("token")).agg(sum(col("tf")).as("c"))
      .limit(maxVocab.toInt + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(rows.length <= maxVocab, overVocab(maxVocab))
    buildUnigrams(rows)
  }

  /** Phase 2: (idCol, n_tokens, avg_nll) per document with at least one
    * token — map-only. avg_nll is the add-one-smoothed mean negative
    * log-likelihood, rounded to 6 dp; lower = more corpus-typical.
    */
  def scoreDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Unigrams): DataFrame = {
    val denom = (model.total + model.vocabSize).toDouble
    val counts = model.counts
    val f = udf((text: String) => {
      val toks = HashKernels.tokensOf(text)
      if (toks.isEmpty) null
      else {
        // Long accumulator of 1e-9-quantized terms: terms are < ~50, so
        // even 10M-token documents stay far under 2^53 — exact
        var nanos = 0L
        var i = 0
        while (i < toks.length) {
          val c = counts.getOrElse(toks(i), 0L)
          val term = -math.log((c + 1.0) / denom)
          nanos += HashKernels.nanoQuant(term)
          i += 1
        }
        (toks.length, (nanos.toDouble / 1e9) / toks.length)
      }
    })
    docs.select(col(idCol), f(col(textCol)).as("s"))
      .filter(col("s").isNotNull)
      .select(col(idCol), col("s._1").as("n_tokens"),
        round(col("s._2"), 6).as("avg_nll"))
  }

  /** Self-scoring convenience: train on `docs`, score `docs`. */
  def unigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreDocs(docs, idCol, textCol, trainUnigrams(docs, idCol, textCol))

  /** Bigram model: unigram table plus `"w1 w2"`-keyed bigram counts and
    * per-prefix continuation totals. Bounded by the distinct-BIGRAM
    * count; at web scale prune with `minCount` (rare bigrams fall back
    * to the same smoothing floor as unseen ones — the standard
    * count-cutoff LM compression).
    */
  final case class Bigrams(
      uni: Unigrams,
      bi: Map[String, Long],
      prefix: Map[String, Long])

  private val DefaultMaxVocab = 2000000L

  private def overVocab(maxVocab: Long): String =
    s"trainUnigrams: distinct tokens exceed maxVocab=$maxVocab " +
      "(~100 bytes of driver+executor heap per entry) — raise it " +
      "deliberately or pre-prune the vocabulary"

  /** ONE tokenize+explode pass AND ONE aggregate for the whole n-gram
    * ladder: every token position emits an `(order, gram)` row for
    * each order up to `maxOrder` that fits in the document, and ALL
    * orders' counts ride a single `(order, gram)`-keyed aggregate with
    * map-side partials. The tiny aggregated result (one row per
    * distinct gram across all orders) is materialized once; one
    * row-count job over it checks every order against its cap
    * (DefaultMaxVocab for tokens, `maxEntries` above, failing with
    * `overCap(n)`) BEFORE anything is collected, so an over-cap corpus
    * never reaches the driver. Then one collect brings
    * the whole ladder over, split by order on the driver: element n of
    * the result holds the n-gram rows. Bigram counts below `minCountBi`
    * are dropped.
    */
  private def ladderCounts(
      train: DataFrame,
      textCol: String,
      maxOrder: Int,
      minCountBi: Long,
      maxEntries: Long,
      overCap: Int => String): IndexedSeq[Array[(String, Long)]] = {
    require(maxOrder >= 1 && maxOrder <= 5)
    val mo = maxOrder
    val ladderUdf = udf((text: String) => {
      val toks = HashKernels.tokensOf(text)
      val out = new scala.collection.mutable.ArrayBuilder.ofRef[(Int, String)]
      out.sizeHint(toks.length * mo)
      var i = 0
      while (i < toks.length) {
        out += ((1, toks(i)))
        val sb = new java.lang.StringBuilder(toks(i))
        var n = 2
        while (n <= mo && i + n - 1 < toks.length) {
          sb.append(' ').append(toks(i + n - 1))
          out += ((n, sb.toString))
          n += 1
        }
        i += 1
      }
      out.result()
    })
    val agg = train.select(explode(ladderUdf(col(textCol))).as("g"))
      .groupBy(col("g._1").as("n"), col("g._2").as("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(!(col("n") === 2 && col("c") < minCountBi))
      .localCheckpoint()
    // rows per order: one single-stage job (per-partition counts summed
    // on the driver) — a groupBy would add a shuffle stage
    val sizes = agg.select(col("n")).queryExecution.toRdd.mapPartitions { it =>
      val c = new Array[Long](mo + 1)
      it.foreach(r => c(r.getInt(0)) += 1)
      Iterator(c)
    }.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    require(sizes(1) <= DefaultMaxVocab, overVocab(DefaultMaxVocab))
    (2 to maxOrder).foreach(n => require(sizes(n) <= maxEntries, overCap(n)))
    val byOrder = Array.fill(maxOrder + 1)(Array.newBuilder[(String, Long)])
    agg.collect().foreach(r => byOrder(r.getInt(0)) += (r.getString(1) -> r.getLong(2)))
    byOrder.map(_.result()).toIndexedSeq
  }

  private def buildUnigrams(rows: Array[(String, Long)]): Unigrams = {
    require(rows.nonEmpty, "trainUnigrams: empty corpus")
    Unigrams(rows.toMap, rows.map(_._2).sum, rows.length.toLong)
  }

  private def buildBigrams(uni: Unigrams, rows: Array[(String, Long)]): Bigrams = {
    val prefix = new scala.collection.mutable.HashMap[String, Long]()
    rows.foreach { case (bg, c) =>
      val w1 = bg.substring(0, bg.indexOf(' '))
      prefix.update(w1, prefix.getOrElse(w1, 0L) + c)
    }
    Bigrams(uni, rows.toMap, prefix.toMap)
  }

  /** Train a bigram model: the unigram aggregate plus ONE bigram-keyed
    * map-side-combined aggregate (both ride one [[ladderCounts]] pass).
    * `minCount` drops rare bigrams from the broadcast model.
    *
    * DRIVER-COLLECT PATH — the bigram vocabulary grows far faster than
    * the unigram one (billions of entries at web scale), so the collect
    * is gated by a MANDATORY `maxEntries` cap, checked by a row count
    * before anything is collected. The 5M default ≈ 600 MB of driver
    * heap (~120 bytes/entry: two-word key string + boxed Long + map
    * node). Past the cap, use [[scoreBigramsJoined]]: same numbers,
    * bigram table never leaves the cluster.
    */
  def trainBigrams(
      train: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 1L,
      maxEntries: Long = 5000000L): Bigrams = {
    require(maxEntries > 0 && maxEntries < Int.MaxValue,
      s"maxEntries must be in (0, Int.MaxValue), got $maxEntries")
    val lc = ladderCounts(train, textCol, 2, minCount, maxEntries, _ =>
      s"trainBigrams: distinct bigrams exceed the driver-collect cap " +
        s"($maxEntries, ~120 bytes of driver heap per entry) — raise minCount " +
        "or use scoreBigramsJoined, which keeps the bigram table distributed")
    buildBigrams(buildUnigrams(lc(1)), lc(2))
  }

  /** Bigram scoring: the first token takes its add-one unigram NLL, each
    * following token the Laplace-smoothed conditional
    * `−ln((c(w₁w₂)+1)/(c(w₁·)+|V|))`. Same quantized-Long accumulation
    * as [[scoreDocs]] — exactly SQL-replayable (q_bigram_score). A
    * document whose every adjacent pair is corpus-typical scores low;
    * shuffled or templated word soup scores high even when its
    * UNIGRAMS are typical — the signal the unigram filter cannot see.
    * Map-only; output `(idCol, n_tokens, round(avg_nll, 6))`.
    */
  def scoreBigrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Bigrams): DataFrame = {
    val uniDenom = (model.uni.total + model.uni.vocabSize).toDouble
    val vsz = model.uni.vocabSize.toDouble
    val uniCounts = model.uni.counts
    val bi = model.bi
    val prefix = model.prefix
    val f = udf((text: String) => {
      val toks = HashKernels.tokensOf(text)
      if (toks.isEmpty) null
      else {
        var nanos = 0L
        val first = -math.log((uniCounts.getOrElse(toks(0), 0L) + 1.0) / uniDenom)
        nanos += HashKernels.nanoQuant(first)
        var i = 1
        while (i < toks.length) {
          val c = bi.getOrElse(toks(i - 1) + " " + toks(i), 0L)
          val cp = prefix.getOrElse(toks(i - 1), 0L)
          val term = -math.log((c + 1.0) / (cp + vsz))
          nanos += HashKernels.nanoQuant(term)
          i += 1
        }
        (toks.length, (nanos.toDouble / 1e9) / toks.length)
      }
    })
    docs.select(col(idCol), f(col(textCol)).as("s"))
      .filter(col("s").isNotNull)
      .select(col(idCol), col("s._1").as("n_tokens"),
        round(col("s._2"), 6).as("avg_nll"))
  }

  /** Self-scoring convenience: train bigrams on `docs`, score `docs`. */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreBigrams(docs, idCol, textCol, trainBigrams(docs, idCol, textCol))

  /** One level k of an interpolated Kneser–Ney model: k-gram counts
    * keyed `"w1 … wk"`, and per context `"w1 … wk-1"` the count total
    * c(ctx·) and the follower type count N1+(ctx·) — the three numbers
    * one interpolation step reads.
    */
  final case class KNLevel(
      grams: Map[String, Long],
      ctxTotals: Map[String, Long],
      ctxTypes: Map[String, Long])

  /** Interpolated Kneser–Ney model of order n ∈ 2..5 (Kneser & Ney
    * ICASSP '95, Chen & Goodman '98 formulation, fixed discount D) —
    * n = 5 is the KenLM/CCNet perplexity-filter order.
    *
    * The base is the half-count-floored continuation unigram
    * `Pc(w) = (N1+(·w)+0.5) / (T + 0.5(|V|+1))`: N1+(·w) distinct
    * predecessors per word (`leftTypes`, the "how many contexts has
    * this word completed" signal that beats raw frequency for backoff),
    * T distinct bigrams, |V| distinct tokens. The floor keeps OOV
    * finite while preserving the continuation-count ordering KN is
    * about. Above it sit levels 2..n: level n runs on RAW n-gram
    * counts, every level k < n on CONTINUATION counts N1+(·g) — how
    * many distinct words precede the k-gram g among the (k+1)-gram
    * types. Chen & Goodman backoff levels run on continuation counts,
    * so the raw k-gram counts of a lower order are never used.
    */
  final case class KneserNeyModel(
      leftTypes: Map[String, Long],
      nBigramTypes: Long,
      vocabSize: Long,
      levels: IndexedSeq[KNLevel]) {
    def order: Int = levels.length + 1

    /** Level k, 2 ≤ k ≤ order. */
    def level(k: Int): KNLevel = levels(k - 2)
  }

  /** The absolute discount D of every KN level (and of every KN oracle). */
  private final val Discount = 0.75

  private def requireOrder(order: Int): Unit =
    require(order >= 2 && order <= 5, s"KN order must be in 2..5, got $order")

  /** Train an order-n KN model from ONE ladder aggregate: every level
    * and the Pc base derive from the collected 1..n-gram rows on the
    * driver. Each order is capped at `maxEntries` distinct grams — past
    * the cap, use [[scoreKneserNeyJoined]], which never collects them.
    */
  def trainKneserNey(
      train: DataFrame,
      idCol: String,
      textCol: String,
      order: Int,
      maxEntries: Long = 5000000L): KneserNeyModel = {
    requireOrder(order)
    require(maxEntries > 0 && maxEntries < Int.MaxValue,
      s"maxEntries must be in (0, Int.MaxValue), got $maxEntries")
    val lc = ladderCounts(train, textCol, order, 1L, maxEntries, n =>
      s"trainKneserNey: distinct $n-grams exceed the driver-collect " +
        s"cap ($maxEntries) — use scoreKneserNeyJoined, which keeps the " +
        "tables distributed")
    require(lc(1).nonEmpty, "trainKneserNey: empty corpus")
    KneserNeyModel(continuation(lc(2)), lc(2).length.toLong, lc(1).length.toLong,
      (2 to order).map(k =>
        buildLevel(if (k == order) lc(k).toMap else continuation(lc(k + 1)))))
  }

  /** N1+(·g) for every suffix g of the given n-gram types: how many
    * distinct words precede it.
    */
  private def continuation(rows: Array[(String, Long)]): Map[String, Long] = {
    val h = new scala.collection.mutable.HashMap[String, Long]()
    rows.foreach { case (g, _) =>
      val suffix = g.substring(g.indexOf(' ') + 1)
      h.update(suffix, h.getOrElse(suffix, 0L) + 1L)
    }
    h.toMap
  }

  /** A level from its k-gram counts: per context (the k-gram minus its
    * last word) the count total and the follower type count.
    */
  private def buildLevel(grams: Map[String, Long]): KNLevel = {
    val totals = new scala.collection.mutable.HashMap[String, Long]()
    val types = new scala.collection.mutable.HashMap[String, Long]()
    grams.foreach { case (g, c) =>
      val ctx = g.substring(0, g.lastIndexOf(' '))
      totals.update(ctx, totals.getOrElse(ctx, 0L) + c)
      types.update(ctx, types.getOrElse(ctx, 0L) + 1L)
    }
    KNLevel(grams, totals.toMap, types.toMap)
  }

  /** One interpolation step, `max(cb−D,0)/cm + D·ct/cm · lower`, backing
    * off to `lower` when the context was never seen (cm = 0). Every KN
    * path evaluates exactly this expression, in the oracle's
    * association order, so the paths agree bit for bit.
    */
  private def interpolate(cm: Long, cb: Long, ct: Long, lower: Double): Double =
    if (cm > 0L) math.max(cb - Discount, 0.0) / cm + Discount * ct / cm * lower
    else lower

  private type JCounts = java.util.HashMap[String, java.lang.Long]

  private def jcounts(m: Map[String, Long]): JCounts = {
    val h = new JCounts(math.max(16, m.size * 2))
    m.foreach { case (k, v) => h.put(k, java.lang.Long.valueOf(v)) }
    h
  }

  private def cnt(h: JCounts, k: String): Long = {
    val v = h.get(k); if (v eq null) 0L else v.longValue
  }

  /** The model's tables re-housed in java HashMaps for the scoring hot
    * path (identical values — only the lookup structure changes;
    * immutable-trie probes were the measured bulk of the 5-gram
    * scorer's non-train time). Index k − 2 holds level k.
    */
  private final class KNTables(m: KneserNeyModel) extends Serializable {
    val left: JCounts = jcounts(m.leftTypes)
    val grams: Array[JCounts] = m.levels.map(l => jcounts(l.grams)).toArray
    val totals: Array[JCounts] = m.levels.map(l => jcounts(l.ctxTotals)).toArray
    val types: Array[JCounts] = m.levels.map(l => jcounts(l.ctxTypes)).toArray
  }

  /** KN scoring with the model broadcast: token i takes −ln P_top with
    * top = min(i+1, n), where P_1 = Pc(w) and P_k interpolates level k's
    * counts over P_(k-1). Token 0 thus takes the Pc floor, and only
    * tokens i ≥ n−1 reach the raw top level. Every term is < 1 by the
    * discount telescoping, so NLLs are positive. Same
    * 1e-9-quantized-Long accumulation as every scorer here — exactly
    * SQL-replayable (q_bigram_kn, q_trigram_kn, q_fourgram_kn,
    * q_fivegram_kn restate the recursion term by term).
    */
  def scoreKneserNey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: KneserNeyModel): DataFrame = {
    val n = m.order
    val pcDen = m.nBigramTypes + 0.5 * (m.vocabSize + 1.0)
    val bcm = docs.sparkSession.sparkContext.broadcast(new KNTables(m))
    val f = udf((text: String) => {
      val t = bcm.value
      val toks = HashKernels.tokensOf(text)
      if (toks.isEmpty) null
      else {
        // prev(j) / cur(j): the j-gram ending at the previous / current
        // token. Level k's context is prev(k−1), so each composite key
        // is built once per token and rolled forward.
        var prev = new Array[String](n)
        var cur = new Array[String](n)
        var nanos = 0L
        var i = 0
        while (i < toks.length) {
          val w = toks(i)
          var p = (cnt(t.left, w) + 0.5) / pcDen
          val top = math.min(i + 1, n)
          var k = 2
          while (k <= top) {
            val ctx = prev(k - 1)
            val g = ctx + " " + w
            p = interpolate(cnt(t.totals(k - 2), ctx), cnt(t.grams(k - 2), g),
              cnt(t.types(k - 2), ctx), p)
            if (k < n) cur(k) = g
            k += 1
          }
          cur(1) = w
          nanos += HashKernels.nanoQuant(-math.log(p))
          val s = prev; prev = cur; cur = s
          i += 1
        }
        (toks.length, (nanos.toDouble / 1e9) / toks.length)
      }
    })
    docs.select(col(idCol), f(col(textCol)).as("s"))
      .filter(col("s").isNotNull)
      .select(col(idCol), col("s._1").as("n_tokens"),
        round(col("s._2"), 6).as("avg_nll"))
  }

  /** Self-scoring convenience: train order-n KN on `docs`, score `docs`. */
  def kneserNeyScore(docs: DataFrame, idCol: String, textCol: String, order: Int): DataFrame =
    scoreKneserNey(docs, idCol, textCol, trainKneserNey(docs, idCol, textCol, order))

  /** Columns of an order-n position frame: w1..wn, where wn is the
    * token and w(n−j) the token j places back (null before the start).
    */
  private def wcols(n: Int): Seq[String] = (1 to n).map(j => s"w$j")

  /** `keep` columns + (pos, w1..wn) per token position — ONE
    * tokenize+explode pass.
    */
  private def positions(df: DataFrame, textCol: String, n: Int, keep: Seq[String]): DataFrame = {
    val f = udf((text: String) => {
      val toks = HashKernels.tokensOf(text)
      Array.tabulate(toks.length)(i => (i, Array.tabulate(n) { j =>
        val at = i - n + 1 + j
        if (at < 0) null else toks(at)
      }))
    })
    df.select(keep.map(col) :+ explode(f(col(textCol))).as("p"): _*)
      .select(keep.map(col) ++ (col("p._1").as("pos") +:
        (1 to n).map(j => col("p._2").getItem(j - 1).as(s"w$j"))): _*)
  }

  /** The distributed model: the raw k-gram type tables T2..Tn — Tk has
    * columns w(n−k+1)..wn and its count `t<k>` — and the two Pc scalars
    * (distinct bigrams, distinct tokens).
    */
  private final case class TypeTables(t: Seq[DataFrame], bt: Long, vsz: Long) {
    def apply(k: Int): DataFrame = t(k - 2)
  }

  /** Every training statistic from ONE corpus-scale aggregate: the
    * (w1..wn) context-tuple counts over a position frame (read once,
    * so it needs no materializing). An
    * n-gram ending at a position is the last n slots of its context
    * tuple, so each lower-order table is a suffix-sum over the SMALL
    * aggregated frame (one row per distinct context) instead of its own
    * full pass over the position frame; Tn is the non-null-w1 slice
    * verbatim. Both scalars come from one 1-row-aggregate job.
    */
  private def typeTables(base: DataFrame, n: Int): TypeTables = {
    val w = wcols(n)
    val ctxCounts = base.groupBy(w.map(col): _*)
      .agg(count(lit(1)).as("cc0"))
      .localCheckpoint()
    val t = (2 to n).map { k =>
      val kc = w.drop(n - k).map(col)
      val slice = ctxCounts.filter(kc.head.isNotNull)
      val tk =
        if (k == n) slice.select(kc :+ col("cc0").as(s"t$k"): _*)
        else slice.groupBy(kc: _*).agg(sum(col("cc0")).as(s"t$k"))
      // T2 feeds the scalars, the Pc table and the level-2 table
      if (k == 2) tk.localCheckpoint() else tk
    }
    // distinct wn over the context frame == distinct tokens over the
    // position frame (every position lands its token in wn)
    val scal = t.head.agg(count(lit(1)).as("bt"))
      .crossJoin(ctxCounts.agg(countDistinct(col(w.last)).as("vsz"))).head()
    TypeTables(t, scal.getLong(0), scal.getLong(1))
  }

  /** The joined scoring core over an exploded (id, pos, w1..wn) frame:
    * per level k, the level's gram counts (raw Tn at the top,
    * continuation counts from T(k+1) below) and its context totals and
    * types arrive by token-keyed left joins, and one term kernel runs
    * the broadcast scorer's recursion on the joined counts — so the
    * per-document integer sum is bit-identical however the shuffle
    * orders rows. Shared by the train-inline and persisted paths.
    */
  private def scoreFromPositions(
      docPos: DataFrame, idCol: String, n: Int, tt: TypeTables): DataFrame = {
    val pcDen = tt.bt + 0.5 * (tt.vsz + 1.0)
    val w = wcols(n)
    def renamed(from: Seq[String], to: Seq[String]) =
      from.zip(to).map { case (a, b) => col(a).as(b) }
    def on(left: Seq[String], right: Seq[String]) =
      left.zip(right).map { case (a, b) => col(a) === col(b) }.reduce(_ && _)
    val lt = tt(2).groupBy(col(w.last).as("lw")).agg(count(lit(1)).as("ltc"))
    val joined = (2 to n).foldLeft(docPos.join(lt, col(w.last) === col("lw"), "left")) {
      (acc, k) =>
        val kc = w.drop(n - k)
        val gc = (1 to k).map(j => s"g${k}_$j")
        val mc = gc.init.map(c => "m" + c.tail)
        val g =
          if (k == n) tt(n).select(renamed(kc, gc) :+ col(s"t$n").as(s"cb$k"): _*)
          else tt(k + 1).groupBy(renamed(kc, gc): _*)
            .agg(count(lit(1)).as(s"cb$k")).localCheckpoint()
        val c = g.groupBy(renamed(gc.init, mc): _*)
          .agg(sum(col(s"cb$k")).as(s"cm$k"), count(lit(1)).as(s"ct$k"))
        acc.join(c, on(kc.init, mc), "left").join(g, on(kc, gc), "left")
    }
    // counts travel as ONE array column: ltc, then (cb, cm, ct) per level
    val term = udf((pos: Int, v: Seq[Long]) => {
      var p = (v(0) + 0.5) / pcDen
      val top = math.min(pos + 1, n)
      var k = 2
      while (k <= top) {
        val j = 3 * k - 5
        p = interpolate(v(j + 1), v(j), v(j + 2), p)
        k += 1
      }
      HashKernels.nanoQuant(-math.log(p))
    })
    val counts = "ltc" +: (2 to n).flatMap(k => Seq(s"cb$k", s"cm$k", s"ct$k"))
    joined
      .select(col(idCol),
        term(col("pos"), array(counts.map(c => coalesce(col(c), lit(0L))): _*)).as("nanos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), sum(col("nanos")).as("nanos"))
      .select(col(idCol), col("n").cast("int").as("n_tokens"),
        round(col("nanos").cast("double") / lit(1e9) / col("n").cast("double"), 6)
          .as("avg_nll"))
  }

  /** Order-n KN with every n-gram table kept DISTRIBUTED — the path a
    * corpus-scale CCNet/KenLM filter takes, since n-gram vocabularies
    * never fit a driver. No table is collected: documents explode to
    * one (id, pos, w1..wn) row per token and the statistics arrive by
    * token-keyed joins ([[scoreFromPositions]]); only the two Pc
    * scalars are driver-side. Lands on the broadcast path's bits
    * (AssemblySpec pins joined == broadcast; the q_*_kn_dist gates pin
    * it against the same DuckDB oracles).
    */
  def scoreKneserNeyJoined(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      train: DataFrame,
      order: Int): DataFrame = {
    requireOrder(order)
    // ONE tokenize+explode pass in the self-scoring shape (train eq
    // docs — every q_*_kn_dist gate): the scored position frame is
    // materialized once and doubles as the training base
    val docPos = {
      val p0 = positions(docs, textCol, order, Seq(idCol))
      if (train eq docs) p0.localCheckpoint() else p0
    }
    val w = wcols(order)
    val base =
      // toDF re-aliases with fresh expression ids so the type tables'
      // grouping keys never collide with docPos's own w1..wn in the
      // scorer's self-join
      if (train eq docs) docPos.select(w.map(col): _*).toDF(w: _*)
      else positions(train, textCol, order, Nil)
    scoreFromPositions(docPos, idCol, order, typeTables(base, order))
  }

  /** Directory of each persisted 5-gram type table T2..T5. */
  private val PersistedTables = Seq("bic", "tic3", "tic4", "tic5")

  /** Persist the 5-gram KN model's four n-gram TYPE tables + the two Pc
    * scalars as parquet under `path` — the KenLM-model-file analog:
    * train ONCE over the corpus (the expensive aggregates), then score
    * any number of batches/days from disk without touching the training
    * text again. The tables are [[scoreKneserNeyJoined]]'s own and stay
    * distributed frames end to end; the meta file (bt, vsz) is written
    * LAST via write-temp+rename as the commit marker, the
    * [[graft.ops.Layout]]/[[graft.ops.Dedup]] discipline.
    */
  def saveFivegramTables(train: DataFrame, textCol: String, path: String): Unit = {
    val spark = train.sparkSession
    val tt = typeTables(positions(train, textCol, 5, Nil), 5)
    PersistedTables.zip(tt.t).foreach { case (dir, t) =>
      t.write.mode("overwrite").parquet(s"$path/$dir")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      path, s"._meta-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(s"${tt.bt}\t${tt.vsz}\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val meta = new org.apache.hadoop.fs.Path(path, "_model_meta.txt")
    if (fs.exists(meta)) fs.delete(meta, false)
    if (!fs.rename(tmp, meta))
      throw new java.io.IOException(s"model meta commit failed under $path")
  }

  /** Score against a model persisted by [[saveFivegramTables]]: the
    * identical scoring core as [[scoreKneserNeyJoined]] over the
    * on-disk tables — q_fivegram_kn_persist pins persisted == inline ==
    * oracle on one shared hash. Columns are read by position, so the
    * count columns' names do not matter.
    */
  def scoreFivegramKneserNeyPersisted(
      docs: DataFrame, idCol: String, textCol: String, path: String): DataFrame = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val meta = new org.apache.hadoop.fs.Path(path, "_model_meta.txt")
    require(fs.exists(meta), s"no committed 5-gram model under $path")
    val in = fs.open(meta)
    val line =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val f = line.split("\t")
    val w = wcols(5)
    val t = (2 to 5).zip(PersistedTables).map { case (k, dir) =>
      spark.read.parquet(s"$path/$dir").toDF(w.drop(5 - k) :+ s"t$k": _*)
    }
    scoreFromPositions(positions(docs, textCol, 5, Seq(idCol)), idCol, 5,
      TypeTables(t, f(0).toLong, f(1).toLong))
  }

  /** Bigram scoring with the model kept DISTRIBUTED — the 100 TB path.
    * No bigram table ever reaches the driver: documents explode to one
    * `(id, pos, prev, cur)` row per token, the bigram and per-prefix
    * counts arrive via token-keyed shuffle joins (first-token rows — one
    * per document — take their unigram count through a separate tiny
    * join), and each row's NLL term goes through the SAME `math.log` +
    * [[HashKernels.nanoQuant]] kernel as [[scoreBigrams]], so the
    * per-document integer `sum` lands on the bit-identical Long no
    * matter how the shuffle orders the rows. LanguageModelSpec pins
    * joined == collected bit-for-bit; `q_bigram_score_dist` pins it
    * against the DuckDB oracle. Only the two scalars (total token
    * count, vocab size) are driver-side — one 1-row aggregate.
    */
  def scoreBigramsJoined(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      train: DataFrame): DataFrame = {
    // one row per token: (pos, prev-token-or-null, token)
    val pairUdf = udf((text: String) => {
      val toks = HashKernels.tokensOf(text)
      Array.tabulate(toks.length)(i =>
        (i, if (i == 0) null else toks(i - 1), toks(i)))
    })
    // ONE tokenize+explode pass in the self-scoring shape (train eq
    // docs — the q_bigram_score_dist gate): the doc-side frame is
    // materialized once and the unigram/bigram training aggregates
    // derive from it; the round-14 shape tokenized the corpus three
    // times (docTermFrequencies, train pairs, doc pairs)
    val docPairs = {
      val p0 = docs
        .select(col(idCol), explode(pairUdf(col(textCol))).as("p"))
        .select(col(idCol), col("p._1").as("pos"),
          col("p._2").as("prev"), col("p._3").as("cur"))
      if (train eq docs) p0.localCheckpoint() else p0
    }
    // every training statistic derives from ONE corpus-scale aggregate
    // (guide §2.3): the (prev, cur) pair counts including the null-prev
    // first-position rows. Unigram counts are the per-cur sums of that
    // frame (every position contributes exactly one pair row, so the
    // sums equal the old per-position count — and docTermFrequencies'
    // per-doc tf values sum to exactly this); the bigram table is the
    // non-null-prev slice verbatim. 2 → 1 corpus aggregates in the
    // self-scoring shape, counts bit-identical.
    val pairCounts =
      (if (train eq docs)
        docPairs.select(col("prev").as("w1"), col("cur").as("w2"))
      else train
        .select(explode(pairUdf(col(textCol))).as("p"))
        .select(col("p._2").as("w1"), col("p._3").as("w2")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cc0"))
      .localCheckpoint()
    val uni = pairCounts.groupBy(col("w2")).agg(sum(col("cc0")).as("uc"))
      .withColumnRenamed("w2", "token")
    val head = uni.agg(sum(col("uc")), count(lit(1))).head()
    val total = head.getLong(0)
    val vsz = head.getLong(1)
    require(total > 0, "scoreBigramsJoined: empty corpus")
    val uniDenom = (total + vsz).toDouble
    val vszD = vsz.toDouble

    val bigrams = pairCounts.filter(col("w1").isNotNull)
      .select(col("w1"), col("w2"), col("cc0").as("bc"))
    val prefixes = bigrams.groupBy(col("w1")).agg(sum(col("bc")).as("pc"))

    // first-token rows: one per doc, unigram-smoothed
    val firstUdf = udf((uc: Long) =>
      HashKernels.nanoQuant(-math.log((uc + 1.0) / uniDenom)))
    val first = docPairs.filter(col("pos") === 0)
      .join(uni, docPairs("cur") === uni("token"), "left")
      .select(col(idCol),
        firstUdf(coalesce(col("uc"), lit(0L))).as("nanos"))

    // rest: Laplace-smoothed conditional via two token-keyed joins
    val restUdf = udf((bc: Long, pc: Long) =>
      HashKernels.nanoQuant(-math.log((bc + 1.0) / (pc + vszD))))
    val rest = docPairs.filter(col("pos") > 0)
      .join(bigrams,
        docPairs("prev") === bigrams("w1") && docPairs("cur") === bigrams("w2"),
        "left")
      .drop("w1", "w2")
      .join(prefixes, docPairs("prev") === prefixes("w1"), "left")
      .select(col(idCol),
        restUdf(coalesce(col("bc"), lit(0L)), coalesce(col("pc"), lit(0L)))
          .as("nanos"))

    first.unionByName(rest)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), sum(col("nanos")).as("nanos"))
      .select(col(idCol), col("n").cast("int").as("n_tokens"),
        round(col("nanos").cast("double") / lit(1e9) / col("n").cast("double"), 6)
          .as("avg_nll"))
  }

  /** CCNet's selection step: bucket documents into head / middle / tail
    * by perplexity terciles (CCNet trains on the head, optionally the
    * middle, and drops the tail). Cuts are EXACT interpolated
    * percentiles of the rounded scores — a one-row aggregate broadcast
    * back over the scored frame, so the corpus is never re-shuffled.
    * Bucket boundaries are engine-stable: both engines interpolate
    * inside the same sorted bracket, so even last-bit differences in
    * the cut value cannot reclassify a document (the cut lands strictly
    * between two distinct 6-dp scores, or exactly on one in both).
    * Output: `(idCol, n_tokens, avg_nll, bucket)`.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = unigramScore(docs, idCol, textCol)
    val cuts = scored.agg(
      expr("percentile(avg_nll, CAST(1.0/3 AS DOUBLE))").as("__q1"),
      expr("percentile(avg_nll, CAST(2.0/3 AS DOUBLE))").as("__q2"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_nll") <= col("__q1"), lit("head"))
          .when(col("avg_nll") <= col("__q2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("n_tokens"), col("avg_nll"), col("bucket"))
  }
}
