package perfbench

import scala.collection.mutable

/** One timed interval in the trace. Times are epoch milliseconds (doubles,
  * so the benchmark's own spans keep sub-millisecond precision next to the
  * millisecond stamps Spark's listeners report). `query` is the id of the
  * query execution the span belongs to; `parent` is the id of the span that
  * caused it (-1 for a root).
  */
final case class Span(id: Int, kind: String, name: String, query: Int,
    start: Double, end: Double, parent: Int) {
  def dur: Double = end - start
}

object Spans {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Overlapping children are counted once.
    */
  def selfTime(s: Span, children: Seq[Span]): Double =
    s.dur - covered(s.start, s.end, children.map(c => (c.start, c.end)))

  /** Time the children run concurrently inside `s`: their summed (clipped)
    * durations minus the union they cover. Over a whole tree,
    * sum(self) - sum(overlap) equals the root's duration.
    */
  def overlap(s: Span, children: Seq[Span]): Double = {
    val ivs = children.map(c => (c.start, c.end))
    ivs.map { case (a, b) => math.max(0.0, math.min(b, s.end) - math.max(a, s.start)) }
      .sum - covered(s.start, s.end, ivs)
  }

  /** Per-kind self time and total overlap (ms) over the tree rooted at
    * the spans in `spans` whose parent is -1 or absent from `spans`.
    */
  def selfByKind(spans: Seq[Span]): (Map[String, Double], Double) = {
    val kids = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var ovl = 0.0
    spans.foreach { s =>
      val c = kids.getOrElse(s.id, Nil)
      self(s.kind) += selfTime(s, c)
      ovl += overlap(s, c)
    }
    (self.toMap, ovl)
  }

  /** Innermost span of `candidates` that contains [start, end], allowing
    * `slackMs` at each edge for millisecond-truncated listener stamps.
    */
  def enclosing(candidates: Seq[Span], start: Double, end: Double,
      slackMs: Double = 1.0): Option[Span] =
    candidates.filter(c => c.start - slackMs <= start && end <= c.end + slackMs)
      .sortBy(c => (c.dur, -c.start)).headOption
}
