package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A small driver-held position → values table as one literal column.
  *
  * The per-position operators join the long read frame against tables the
  * driver already holds (quality bins, reference letters). As a join, each
  * such table costs a plan branch and a job to build and broadcast it. As a
  * literal, it is an array with one slot per position over the entries'
  * span, each slot holding the values at that position in entry order; a
  * row reads only its own slot, so it does work only for the values that
  * cover its position, as the hash join did, and the map stage needs no
  * other input. The literal has one slot per position of the span, so it
  * is meant for spans of a read window, not of a genome.
  */
object PositionIndex {

  /** The values at `position`, an array column: empty inside the span
    * where no entry sits, NULL outside it (and for no entries at all).
    * `explode` it (`inline` for struct values) for the inner join's rows:
    * one per value, none where nothing covers the position.
    */
  def lookup[T: TypeTag](entries: Seq[(Int, T)], position: Column): Column = {
    val at = entries.groupMap(_._1)(_._2)
    val lo = if (at.isEmpty) 0 else at.keys.min
    val slots = if (at.isEmpty) Nil else (lo to at.keys.max).map(at.getOrElse(_, Nil))
    get(typedLit(slots), position - lit(lo))
  }
}
