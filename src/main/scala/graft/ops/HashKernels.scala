package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Pure-Scala hot-loop kernels for the dedup/similarity family.
  *
  * Spark's higher-order array functions are not part of whole-stage
  * codegen: their lambdas run interpreted, and profiling at sf0.1 put >80%
  * of the dedup queries' time into them. These kernels do that work as
  * JIT-compiled Scala over primitive arrays (Spark passes ARRAY<BIGINT> to
  * a UDF typed Array[Long] without boxing). This mirrors
  * the reference's own escape hatch — its one Cython kernel
  * (/root/reference/seqtables/core/internals/cython/sam_to_arr.pyx) exists
  * for exactly this reason.
  *
  * All hashes are deterministic (no RNG state): shingles use FNV-1a 64 over
  * the k-char window; per-function MinHash values use splitmix64(shingle ^
  * seed_i). Jaccard over hashed shingles equals string-shingle Jaccard
  * unless two distinct shingles of the same document pair collide in 64
  * bits (~|A||B|/2^64 ≈ 1e-15 — never observed; the DuckDB oracle computes
  * the string version and hash-matches).
  */
object HashKernels {

  /** THE 1e-9 half-up quantizer — the load-bearing cross-engine parity
    * primitive: per-term scores quantize to integer nanos before summing
    * so Spark and the DuckDB oracle both do exact Long addition
    * (order-insensitive, partition-invariant). One definition on purpose:
    * Classifier, Dsir, and LanguageModel all route here so the rounding
    * mode can never drift between operators. Oracle-replayed callers feed
    * NON-NEGATIVE terms (NLL values), where half-up equals SQL
    * `round()`'s half-away-from-zero; for signed oracle-replayed terms
    * use the explicit sign split (see [[CorpusStats.klBySource]]).
    */
  @inline def nanoQuant(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong

  /** FNV-1a 64-bit over a char window. */
  private def fnv1a(s: String, from: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < len) {
      h ^= s.charAt(from + i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — cheap avalanche for deriving hash families. */
  private[ops] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Distinct hashed k-char shingles, sorted ascending (sorted so pair
    * verification is a linear merge, no per-pair hash set).
    */
  def hashedShingles(text: String, k: Int): Array[Long] = {
    if (text == null || text.isEmpty) return Array.emptyLongArray
    val n = math.max(text.length - k + 1, 1)
    val all = new Array[Long](n)
    var i = 0
    while (i < n) {
      all(i) = fnv1a(text, i, math.min(k, text.length - i))
      i += 1
    }
    java.util.Arrays.sort(all)
    // in-place dedup of the sorted array
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(all, 0, w)
  }

  /** Hashed length-`L` char windows in position order (index i = 1-based
    * pos i+1) — the exact-substring family's scale key: the same windows
    * [[graft.ops.ExactSubstrings.charWindows]] materializes as strings,
    * but hashed in place off one char buffer, so the explode carries
    * 8-byte longs instead of L-char strings and the executor never
    * allocates a window string at all. Unlike [[hashedShingles]] this
    * keeps duplicates and position order (the exact-substring identity
    * needs every occurrence and its position). FNV-1a: ~L ops per
    * window — still linear in |text|·L like the string path's copies,
    * but with zero allocation; the shuffle narrows ~7× (8 bytes vs
    * 2L+header). Collision contract is the family's documented 64-bit
    * trade, gated end-to-end by q_substr_hash_agree.
    */
  def windowHashes(text: String, L: Int): Array[Long] = {
    if (text == null || text.length < L) return Array.emptyLongArray
    val n = text.length - L + 1
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = fnv1a(text, i, L)
      i += 1
    }
    out
  }

  /** MinHash signature: h_i = min over shingles of splitmix64(s ^ seed_i).
    * The classic k-permutation form — numHashes mixes per shingle. Kept as
    * the reference estimator; the hot path uses [[minhashSigOPH]].
    */
  def minhashSig(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var f = 0
      while (f < numHashes) {
        val h = mix(s ^ (f * 0x9e3779b97f4a7c15L))
        if (h < sig(f)) sig(f) = h
        f += 1
      }
      i += 1
    }
    sig
  }

  /** One-permutation MinHash (Li, Owen & Zhang 2012): hash each shingle
    * ONCE, route it to bin h mod k, keep the per-bin min — numHashes×
    * less hashing than [[minhashSig]] for the same banding behavior when
    * bins are well occupied (|shingles| ≫ k). Empty bins are densified by
    * cyclic rotation (Shrivastava & Li 2014): bin j borrows the value of
    * the nearest occupied bin to its right.
    *
    * OCCUPANCY CAVEAT (measured, not theoretical): on a corpus with median
    * ~150 shingles and k=40 bins (~4 per bin), sparse bins plus rotation
    * densification correlate adjacent bins, and banded LSH candidates
    * inflated 2× raw / 4× after a ≥2-band prune versus [[minhashSig]] —
    * more than cancelling the hashing savings. Use this form only when
    * |shingles| ≫ numHashes (long documents / small signatures);
    * `minhashNearDuplicates` deliberately stays on the classic form.
    */
  def minhashSigOPH(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val h = mix(shingles(i))
      val v = h & Long.MaxValue // non-negative so min works on signed longs
      val bin = (v % numHashes).toInt
      if (v < sig(bin)) sig(bin) = v
      i += 1
    }
    // rotation densification for empty bins
    var j = 0
    while (j < numHashes) {
      if (sig(j) == Long.MaxValue) {
        var t = 1
        while (t < numHashes && sig((j + t) % numHashes) == Long.MaxValue) t += 1
        if (t < numHashes) sig(j) = sig((j + t) % numHashes)
      }
      j += 1
    }
    sig
  }

  /** Classic-MinHash band buckets, fused: signature + per-band bucket
    * hash in one compiled pass (band b = FNV-1a over its `numHashes /
    * bands` signature longs, avalanched). Only bucket EQUALITY matters
    * downstream — two documents collide in band b iff their signature
    * rows for that band are identical (modulo a ~2^-64 hash collision) —
    * so this replaces the interpreted expression chain
    * `transform(sequence, xxhash64(array_join(slice(sig, ...))))` without
    * changing the candidate set.
    */
  def minhashBandBuckets(shingles: Array[Long], numHashes: Int, bands: Int): Array[Long] = {
    val sig = minhashSig(shingles, numHashes)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < rows) {
        val v = sig(b * rows + r)
        var s = 0
        while (s < 64) { h ^= (v >>> s) & 0xffL; h *= 0x100000001b3L; s += 8 }
        r += 1
      }
      out(b) = mix(h)
      b += 1
    }
    out
  }

  /** Winnowed fingerprints (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * scheme): hash every k-gram, slide a window of `w` consecutive hashes,
    * record each window's minimum (rightmost on ties — the "robust"
    * variant). GUARANTEE: two documents sharing any substring of length
    * ≥ w + k − 1 share at least one fingerprint; density is ~2/(w+1) of
    * positions, so the fingerprint set is ~n/w longs per document.
    * Returns distinct fingerprints sorted ascending.
    */
  def winnowedFingerprints(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.emptyLongArray
    val n = text.length - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = mix(fnv1a(text, i, k)); i += 1 }
    if (n <= w) {
      // document shorter than one window: one global min
      var m = hs(0); i = 1
      while (i < n) { if (hs(i) <= m) m = hs(i); i += 1 }
      return Array(m)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long](n / w + 2)
    var lastPos = -1
    i = 0
    while (i + w <= n) {
      // rightmost min of hs[i, i+w) — O(n·w) scan; w is small (≤64) so a
      // monotonic-deque O(n) variant isn't worth its constant factor here
      var mPos = i
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(mPos)) mPos = j; j += 1 }
      if (mPos != lastPos) { out += hs(mPos); lastPos = mPos }
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    var wr = 0
    i = 0
    while (i < arr.length) {
      if (wr == 0 || arr(i) != arr(wr - 1)) { arr(wr) = arr(i); wr += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(arr, 0, wr)
  }

  /** Exactly Java-regex `\s` — the class `split(text, "\\s+")` matches.
    * NOT `Character.isWhitespace` (which adds U+001C-001F, U+2028…): the
    * kernel must tokenize identically to the expression pipeline it
    * replaces, or gram sets would drift from the DuckDB oracle's `\S+`.
    */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace tokens of `lower(trim(text))` — the compiled twin of
    * TextAnalysis.tokens. Lowercasing calls the EXACT routine Spark 4's
    * `lower()` dispatches to under the default config
    * (CollationSupport.Lower.execBinaryICU — ICU full case mapping):
    * neither `UTF8String.toLowerCase` nor Java's `toLowerCase(ROOT)`
    * agrees with it on contextual mappings (ICU applies the Greek
    * final-sigma rule where a digit follows; Java does not) —
    * KernelParitySpec caught the divergence on generated Greek text and
    * pins the parity.
    */
  private[ops] def tokensOf(text: String): Array[String] = {
    if (text == null) return Array.empty[String]
    // ASCII fast path: ICU root-locale full case mapping on pure-ASCII
    // text is EXACTLY 'A'..'Z' → 'a'..'z' — no contextual rule (final
    // sigma, Lithuanian dots) touches ASCII input, no mapping expands
    // or contracts it, and an ASCII char's mapping never depends on
    // context. So when every char is < 0x80 the lowering runs inline
    // in the token walk (zero UTF8String/lowered-string allocations,
    // tokens that are already lowercase are substring-shared); ANY
    // non-ASCII char anywhere falls back to the exact ICU routine
    // (whose output CAN depend on cross-char context). Bit-identical
    // either way — HashKernelsSpec pins fast == ICU on an ASCII
    // battery and KernelParitySpec pins the ICU path against Spark's
    // lower() including the Greek contextual cases.
    val n0 = text.length
    var ascii = true
    var k = 0
    while (ascii && k < n0) {
      if (text.charAt(k) >= 0x80) ascii = false
      k += 1
    }
    if (!ascii) return tokensOfIcu(text)
    val out = new scala.collection.mutable.ArrayBuffer[String](n0 / 5 + 1)
    var i = 0
    while (i < n0) {
      while (i < n0 && isRegexSpace(text.charAt(i))) i += 1
      val start = i
      var hasUpper = false
      while (i < n0 && !isRegexSpace(text.charAt(i))) {
        val c = text.charAt(i)
        if (c >= 'A' && c <= 'Z') hasUpper = true
        i += 1
      }
      if (i > start) {
        if (!hasUpper) out += text.substring(start, i)
        else {
          val arr = new Array[Char](i - start)
          var j = start
          while (j < i) {
            val c = text.charAt(j)
            arr(j - start) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
            j += 1
          }
          out += new String(arr)
        }
      }
    }
    out.toArray
  }

  private[ops] def tokensOfIcu(text: String): Array[String] = {
    val s = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .execBinaryICU(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      .toString
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length / 5 + 1)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isRegexSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isRegexSpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** Whitespace-token count of `text` — exactly `tokensOf(text).length`
    * without materializing tokens OR the lowered string: ICU full case
    * mapping maps no character into or out of the `\s` set (and can only
    * expand a non-space run), so token boundaries on the raw text equal
    * those on `lower(trim(text))`. Pinned against tokensOf by
    * KernelParitySpec.
    */
  def tokenCount(text: String): Long = {
    if (text == null) return 0L
    var i = 0
    val n = text.length
    var c = 0L
    while (i < n) {
      while (i < n && isRegexSpace(text.charAt(i))) i += 1
      if (i < n) c += 1
      while (i < n && !isRegexSpace(text.charAt(i))) i += 1
    }
    c
  }

  /** Distinct word `n`-grams (space-joined) in first-occurrence order —
    * the compiled form of the Decontaminate gram pipeline. The
    * expression chain it replaces (`transform(sequence(...), slice +
    * concat_ws)` + `array_distinct`) runs interpreted — profiled at
    * sf0.1 it was ~95% of the decontaminate queries' time.
    */
  def wordNgrams(text: String, n: Int): Array[String] = {
    val toks = tokensOf(text)
    if (toks.length < n) return Array.empty[String]
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = toks.length - n
    val sb = new java.lang.StringBuilder(64)
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Distinct hashed word `n`-grams, sorted ascending: FNV-1a 64 over the
    * gram's chars (separator included, i.e. `fnv1a(gram string)`) — no
    * gram string is ever materialized. Any collision-free 64-bit hash
    * serves the hashed decontamination path (only the PAIR SET matters,
    * pinned equal to the string path by DecontaminateSpec); FNV keeps the
    * kernel self-contained and allocation-free.
    */
  def wordNgramHashes(text: String, n: Int): Array[Long] = {
    val toks = tokensOf(text)
    if (toks.length < n) return Array.emptyLongArray
    val m = toks.length - n + 1
    val all = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val t = toks(i + j)
        var p = 0
        while (p < t.length) { h ^= t.charAt(p).toLong; h *= 0x100000001b3L; p += 1 }
        j += 1
      }
      all(i) = h
      i += 1
    }
    java.util.Arrays.sort(all)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(all, 0, w)
  }

  /** Jaccard of two sorted long arrays via linear merge. */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** 64-bit SimHash over whitespace tokens: one pass, 64 vote counters. */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    var start = -1
    val s = text
    var i = 0
    def flush(end: Int): Unit = if (start >= 0) {
      val h = mix(fnv1a(s, start, end - start))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      start = -1
    }
    while (i < s.length) {
      if (Character.isWhitespace(s.charAt(i))) flush(i)
      else if (start < 0) start = i
      i += 1
    }
    flush(s.length)
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Dot product in double precision, left-to-right — same accumulation
    * order as the expression form, so results are bit-identical.
    */
  def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Random-hyperplane sign signature: bit b is the sign of Σ v[i]·w(b,i)
    * with pseudo-random centered weights w = (splitmix64(seed,b,i) mod 1e5)
    * / 1e5 − 0.5. Deterministic across executors/runs.
    */
  def hyperplaneSig(v: Array[Float], bits: Int, seed: Int): Long = {
    var out = 0L
    var b = 0
    while (b < bits) {
      var s = 0.0
      var i = 0
      while (i < v.length) {
        val h = mix(seed.toLong * 0x9e3779b97f4a7c15L + b.toLong * 0xbf58476d1ce4e5b9L + i)
        val w = (((h % 100000L) + 100000L) % 100000L).toDouble / 100000.0 - 0.5
        s += v(i).toDouble * w
        i += 1
      }
      if (s >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Raw hyperplane projections for global bit indices [0, n): same weight
    * family as [[hyperplaneSig]], so bucket bits agree across kernels.
    */
  private def hyperplaneProjs(v: Array[Float], n: Int, seed: Int): Array[Double] = {
    val out = new Array[Double](n)
    var b = 0
    while (b < n) {
      var s = 0.0
      var i = 0
      while (i < v.length) {
        val h = mix(seed.toLong * 0x9e3779b97f4a7c15L + b.toLong * 0xbf58476d1ce4e5b9L + i)
        val w = (((h % 100000L) + 100000L) % 100000L).toDouble / 100000.0 - 0.5
        s += v(i).toDouble * w
        i += 1
      }
      out(b) = s
      b += 1
    }
    out
  }

  /** Per-band LSH buckets: band b is the `r`-bit bucket assembled from
    * global hyperplane bits [b*r, (b+1)*r). Returns `bands` longs. Bands use
    * disjoint hyperplanes, so band collisions are independent events — the
    * premise of the 1-(1-p^r)^B S-curve.
    */
  def hyperplaneBandBuckets(v: Array[Float], bands: Int, r: Int, seed: Int): Array[Long] = {
    val projs = hyperplaneProjs(v, bands * r, seed)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < r) {
        if (projs(b * r + j) >= 0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    out
  }

  /** Multi-probe variant: for each band, the exact bucket plus the `r`
    * single-bit-flip perturbations (full Hamming≤1 cover of the band),
    * ordered by ascending |projection| (least-confident bit first) so a
    * caller can truncate to the most promising probes. Layout: entry
    * `b*(r+1) + p` is probe p of band b (p=0 exact).
    */
  def hyperplaneBandBucketsProbed(v: Array[Float], bands: Int, r: Int, seed: Int): Array[Long] = {
    val projs = hyperplaneProjs(v, bands * r, seed)
    val out = new Array[Long](bands * (r + 1))
    val order = new Array[Integer](r)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < r) {
        if (projs(b * r + j) >= 0) bucket |= (1L << j)
        order(j) = j
        j += 1
      }
      val base = b * r
      java.util.Arrays.sort(order, (x: Integer, y: Integer) =>
        java.lang.Double.compare(math.abs(projs(base + x)), math.abs(projs(base + y))))
      out(b * (r + 1)) = bucket
      j = 0
      while (j < r) {
        out(b * (r + 1) + 1 + j) = bucket ^ (1L << order(j).intValue)
        j += 1
      }
      b += 1
    }
    out
  }

  // ---- Column-level wrappers -------------------------------------------

  def hashedShinglesUdf(k: Int): Column => Column = {
    val f = udf((t: String) => hashedShingles(t, k))
    c => f(c)
  }

  def windowHashesUdf(L: Int): Column => Column = {
    val f = udf((t: String) => windowHashes(t, L))
    c => f(c)
  }

  def minhashSigUdf(numHashes: Int): Column => Column = {
    val f = udf((sh: Array[Long]) => minhashSig(sh, numHashes))
    c => f(c)
  }

  def minhashSigOPHUdf(numHashes: Int): Column => Column = {
    val f = udf((sh: Array[Long]) => minhashSigOPH(sh, numHashes))
    c => f(c)
  }

  def minhashBandBucketsUdf(numHashes: Int, bands: Int): Column => Column = {
    val f = udf((sh: Array[Long]) => minhashBandBuckets(sh, numHashes, bands))
    c => f(c)
  }

  def wordNgramsUdf(n: Int): Column => Column = {
    val f = udf((t: String) => wordNgrams(t, n))
    c => f(c)
  }

  def wordNgramHashesUdf(n: Int): Column => Column = {
    val f = udf((t: String) => wordNgramHashes(t, n))
    c => f(c)
  }

  def winnowedFingerprintsUdf(k: Int, w: Int): Column => Column = {
    val f = udf((t: String) => winnowedFingerprints(t, k, w))
    c => f(c)
  }

  val jaccardUdf: (Column, Column) => Column = {
    val f = udf((a: Array[Long], b: Array[Long]) => jaccardSorted(a, b))
    (a, b) => f(a, b)
  }

  val simhashUdf: Column => Column = {
    val f = udf((t: String) => simhash64(t))
    c => f(c)
  }

  val dotUdf: (Column, Column) => Column = {
    val f = udf((a: Array[Float], b: Array[Float]) => dotD(a, b))
    (a, b) => f(a, b)
  }

  val cosineUdf: (Column, Column) => Column = {
    val f = udf { (a: Array[Float], b: Array[Float]) =>
      val d = math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))
      if (d > 0) dotD(a, b) / d else 0.0
    }
    (a, b) => f(a, b)
  }

  val normUdf: Column => Column = {
    val f = udf((a: Array[Float]) => math.sqrt(dotD(a, a)))
    c => f(c)
  }

  def hyperplaneSigUdf(bits: Int, seed: Int): Column => Column = {
    val f = udf((v: Array[Float]) => hyperplaneSig(v, bits, seed))
    c => f(c)
  }

  /** The hyperplane weight family as a dense matrix — what lets an
    * external oracle restate the signature bits: w(g, i) for global
    * bits [0, n) over dims [0, d), the SAME formula [[hyperplaneProjs]]
    * folds inline (any drift between the two is caught by the
    * q_ann_lsh oracle gate, which replays signatures from this matrix).
    */
  def hyperplaneWeights(n: Int, d: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(n) { b =>
      Array.tabulate(d) { i =>
        val h = mix(seed.toLong * 0x9e3779b97f4a7c15L + b.toLong * 0xbf58476d1ce4e5b9L + i)
        (((h % 100000L) + 100000L) % 100000L).toDouble / 100000.0 - 0.5
      }
    }

  def bandBucketsUdf(bands: Int, r: Int, seed: Int): Column => Column = {
    val f = udf((v: Array[Float]) => hyperplaneBandBuckets(v, bands, r, seed))
    c => f(c)
  }

  def bandBucketsProbedUdf(bands: Int, r: Int, seed: Int): Column => Column = {
    val f = udf((v: Array[Float]) => hyperplaneBandBucketsProbed(v, bands, r, seed))
    c => f(c)
  }
}
