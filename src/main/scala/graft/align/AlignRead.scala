package graft.align

import graft.model.Alphabets

/** One inserted base: anchored to the reference `position` directly to its
  * right; `loc` is negative, -1 adjacent to the anchor base, -2 the one
  * before it, etc. (ref: sam_to_arr.pyx:333-349). `qual` is the raw phred
  * character (not yet offset-adjusted).
  */
final case class InsertedBase(position: Int, loc: Int, base: Char, qual: Char)

/** Result of projecting one read onto the reference window:
  * `seq`/`qual` have length maxPos-minPos+1; column i is reference position
  * minPos+i.
  */
final case class AlignedRead(seq: String, qual: String, insertions: Seq[InsertedBase])

/** CIGAR realignment of a read onto a global reference window — the Spark
  * re-expression of the reference's Cython kernel
  * (/root/reference/seqtables/core/internals/cython/sam_to_arr.pyx:80-210
  * `extract_algn_seq` + :229-377 `df_to_algn_arr`).
  *
  * Pure per-row function: embarrassingly parallel under `Dataset.map`; the
  * only cross-row dependency is the [minPos, maxPos] window, computed with a
  * single tiny aggregate (or supplied by the caller).
  *
  * Sentinels (Alphabets): '$' edge gap, '-' deletion, '.' skipped region,
  * '!' null quality.
  */
object AlignRead {

  /** Project one read. Returns None for unaligned reads (cigar "*" or empty).
    *
    * @param seq   raw read bases
    * @param qual  phred string; if null/"*"/length-mismatched, null quality
    *              is used throughout
    * @param pos   1-based reference position of the first aligned base
    */
  def align(
      seq: String,
      qual: String,
      pos: Int,
      cigar: String,
      minPos: Int,
      maxPos: Int,
      edgeGap: Char = Alphabets.EdgeGap,
      nullQual: Char = Alphabets.NullQual): Option[AlignedRead] = {

    val ops = Cigar.parse(cigar)
    if (ops.isEmpty) return None
    val winLen = maxPos - minPos + 1
    require(winLen > 0, s"window [$minPos,$maxPos] is empty")

    val q = if (qual == null || qual == "*" || qual.length != seq.length)
      nullQual.toString * seq.length else qual

    // not Array.fill: C2 inlines it here only if its own compiled code is
    // still small when this kernel compiles, a race lost for a JVM's life
    val outSeq = new Array[Char](winLen)
    val outQual = new Array[Char](winLen)
    java.util.Arrays.fill(outSeq, edgeGap)
    java.util.Arrays.fill(outQual, nullQual)

    if (pos > maxPos)
      return Some(AlignedRead(new String(outSeq), new String(outQual), Nil))

    // anchors of inserted bases, in read order
    val insAnchors = Vector.newBuilder[Int]
    val insBases = new StringBuilder
    val insQuals = new StringBuilder

    var refP = pos // current reference position
    var seqP = 0   // cursor in the raw read
    // `currInd` tracks the Cython write cursor; writes beyond the window are
    // dropped (the reference caps at longestSequenceLengthToStore).
    var currInd = math.max(0, pos - minPos)

    def write(i: Int, b: Char, qc: Char): Unit =
      if (i >= 0 && i < winLen) { outSeq(i) = b; outQual(i) = qc }

    ops.foreach { case CigarOp(op, n0) =>
      var n = n0
      op match {
        case 'M' | 'X' | '=' =>
          if (refP < minPos) {
            val adjust = refP + n - minPos
            if (adjust <= 0) { refP += n; seqP += n; n = 0 }
            else { seqP += n - adjust; refP += n - adjust; n = adjust }
          }
          var i = 0
          while (i < n) {
            write(currInd + i, seq.charAt(seqP + i), q.charAt(seqP + i))
            i += 1
          }
          refP += n; seqP += n; currInd += n
        case 'I' =>
          if (refP >= minPos && refP <= maxPos) {
            var i = 0
            while (i < n) {
              insAnchors += refP
              insBases += seq.charAt(seqP + i)
              insQuals += q.charAt(seqP + i)
              i += 1
            }
          }
          seqP += n0
        case 'D' | 'N' =>
          val fill = if (op == 'D') Alphabets.Deletion else Alphabets.Skip
          if (refP < minPos) {
            val adjust = refP + n - minPos
            if (adjust <= 0) { refP += n; n = 0 }
            else { refP += n - adjust; n = adjust }
          }
          var i = 0
          while (i < n) { write(currInd + i, fill, nullQual); i += 1 }
          currInd += n; refP += n
        case 'S' =>
          seqP += n
        case _ => // H, P, B consume neither read nor window
      }
    }

    // loc assignment: walk inserted bases in reverse; within a run of equal
    // anchors the last base is -1, then -2, ... (sam_to_arr.pyx:327-349).
    val anchors = insAnchors.result()
    val inserts =
      if (anchors.isEmpty) Nil
      else {
        val out = List.newBuilder[InsertedBase]
        var marker = anchors.last
        var counter = 0
        var pI = anchors.length - 1
        while (pI >= 0) {
          if (anchors(pI) != marker) { counter = -1; marker = anchors(pI) }
          else counter -= 1
          out += InsertedBase(anchors(pI), counter, insBases.charAt(pI), insQuals.charAt(pI))
          pI -= 1
        }
        out.result()
      }

    Some(AlignedRead(new String(outSeq), new String(outQual), inserts))
  }

  /** Default window over a set of reads (ref: sam_to_arr.pyx:256-273):
    * min = min(pos), max = max(pos + len + D + N − I − 1 − S).
    */
  def window(reads: Iterable[(String, Int, String)]): (Int, Int) = {
    var mn = Int.MaxValue; var mx = Int.MinValue
    reads.foreach { case (seq, pos, cigar) =>
      if (pos < mn) mn = pos
      val e = Cigar.endPos(pos, seq.length, cigar)
      if (e > mx) mx = e
    }
    (mn, mx)
  }
}
