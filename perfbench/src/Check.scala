package perfbench

import graft.core.{Span, Xxh64}

/** Output check of one call. An operation is one expected doc; it fails if it
  * is missing, duplicated or its span sequence differs from the generator's.
  * Every unexpected doc is one more failure. Any other broken invariant (visit
  * order, seen set, reconciliation) fails every doc of the call.
  */
object Check {

  def spanHash(spans: Seq[Span]): Long = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s.kind).append('\u0001').append(s.text).append('\u0001')
        .append(s.media_ref).append('\u0001').append(s.offset).append('\u0002')
    }
    Xxh64.hashString(sb.toString)
  }

  final case class Outcome(attempted: Long, failed: Long, problems: Seq[String]) {
    def ok: Boolean = failed == 0 && problems.isEmpty
  }

  /** Doc-level failures of `actual` (doc_id, span hash) against `expected`. */
  def docFailures(actual: Seq[(String, Long)], expected: Map[String, Long]): (Long, Seq[String]) = {
    val byId = actual.groupBy(_._1)
    val bad = expected.toSeq.flatMap { case (id, h) =>
      byId.get(id) match {
        case None => Some(s"missing doc $id")
        case Some(xs) if xs.size > 1 => Some(s"doc $id written ${xs.size} times")
        case Some(xs) if xs.head._2 != h => Some(s"span sequence differs on $id")
        case _ => None
      }
    }
    val unexpected = byId.keys.filterNot(expected.contains).toSeq.sorted.map(id => s"unexpected doc $id")
    ((bad.size + unexpected.size).toLong, (bad ++ unexpected).take(5))
  }

  def outcome(actual: Seq[(String, Long)], expected: Map[String, Long],
              invariants: Seq[(Boolean, String)]): Outcome = {
    val (nFailed, docProblems) = docFailures(actual, expected)
    val broken = invariants.collect { case (false, what) => what }
    if (broken.nonEmpty) Outcome(expected.size, math.max(expected.size.toLong, 1L), broken ++ docProblems)
    else Outcome(expected.size, nFailed, docProblems)
  }
}
