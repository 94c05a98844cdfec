package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Kernel behind [[graft.plans.LangIdExpr]]: marker-table language ID
  * over lowercased text in one byte scan. A language's score is the
  * summed count of leftmost non-overlapping occurrences of its markers
  * ([[graft.pipeline.TextAnalysis.langMarkers]]) in
  * `" " + lowered + " "`; the first language in table order with the
  * highest score wins, so text without markers is the first language.
  *
  * Mirrors `OracleSql`'s replace-length scores and strict `>` fold
  * exactly: the input is `Lower`'s output, which is always valid UTF-8,
  * and every marker is valid UTF-8, so a marker's bytes can only match
  * at a character boundary and byte counts equal character counts.
  */
object LangIdKernel {

  private val table = graft.pipeline.TextAnalysis.langMarkers
  private val langs: Array[UTF8String] = table.map { case (l, _) => UTF8String.fromString(l) }.toArray
  private val markers: Array[Array[Byte]] = table.flatMap(_._2).map(_.getBytes(UTF_8)).toArray
  /** Language index of each marker. */
  private val markerLang: Array[Int] =
    table.zipWithIndex.flatMap { case ((_, ws), li) => ws.map(_ => li) }.toArray
  /** Marker indices by first byte, in table order. */
  private val byFirst: Array[Array[Int]] = {
    val t = Array.fill(256)(Array.emptyIntArray)
    markers.indices.foreach { k => val b = markers(k)(0) & 0xff; t(b) = t(b) :+ k }
    t
  }

  /** One pass over the padded text: each position is tried only
    * against the markers that start with its byte, and each marker
    * resumes its own search after its last match — `replace`'s match
    * set per marker. The padding is virtual: positions 0 and `n - 1`
    * read as a space, position `i` in between reads byte `i - 1` of
    * `lowered`.
    */
  def langId(lowered: UTF8String): UTF8String = {
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset - 1
    val n = lowered.numBytes + 2
    def at(i: Int): Byte = if (i == 0 || i == n - 1) ' ' else Platform.getByte(base, off + i)

    val next = new Array[Int](markers.length)
    val scores = new Array[Int](langs.length)
    var i = 0
    while (i < n) {
      val cands = byFirst(at(i) & 0xff)
      var c = 0
      while (c < cands.length) {
        val k = cands(c)
        val p = markers(k)
        if (i >= next(k) && i + p.length <= n) {
          var j = 1
          while (j < p.length && at(i + j) == p(j)) j += 1
          if (j == p.length) { scores(markerLang(k)) += 1; next(k) = i + p.length }
        }
        c += 1
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < langs.length) { if (scores(l) > scores(best)) best = l; l += 1 }
    langs(best)
  }
}
