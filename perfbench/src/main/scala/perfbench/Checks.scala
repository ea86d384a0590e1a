package perfbench

import scala.collection.mutable

/** Checks written apart from the program: the reference match predicate
  * and a union-find. Neither calls `graft.functions.Similarity` or
  * `graft.operators.ConnectedComponents`.
  */
object Checks {

  // The reference's settings (`similarity.py`, `match.py`).
  private val Venues = Seq("sigmod", "vldb")
  private val LevMax = 10
  private val JaccardMin = 0.6
  private val LowerYear = 1995
  private val UpperYear = 2004

  /** One cleaned record, as the program's prepared side holds it. */
  final case class Rec(id: Long, title: String, authors: String, venue: String, year: Int)

  /** Levenshtein distance, or -1 once it must exceed `max`. */
  def levenshtein(a: String, b: String, max: Int): Int = {
    if (math.abs(a.length - b.length) > max) return -1
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
        rowMin = math.min(rowMin, cur(j))
        j += 1
      }
      if (rowMin > max) return -1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(b.length) > max) -1 else prev(b.length)
  }

  /** `len(authors.split(","))`, and 0 for a missing author list. */
  def numAuthors(authors: String): Int =
    if (authors == null) 0 else authors.split(",", -1).length

  private def tokens(title: String): Set[String] = title.split("\\s+", -1).toSet

  /** The reference match predicate (`similarity.py:47-74`): both venues
    * name the same one of `Venues`; author-string Levenshtein below
    * `LevMax`, with equal author counts unless the distance is 0 and both
    * lists are empty; title-token Jaccard at least `JaccardMin`.
    */
  def matches(l: Rec, r: Rec): Boolean = {
    if (l.venue == null || r.venue == null || l.authors == null || r.authors == null) return false
    if (!Venues.exists(v => l.venue.contains(v) && r.venue.contains(v))) return false
    val score = levenshtein(l.authors, r.authors, LevMax - 1)
    if (score < 0) return false
    val (nl, nr) = (numAuthors(l.authors), numAuthors(r.authors))
    val authorsOk =
      (score == 0 && nl == nr && nl > 0) || (score == 0 && nl == 0 && nr == 0) ||
        (score > 0 && nl == nr)
    if (!authorsOk || l.title == null || r.title == null) return false
    val (a, b) = (tokens(l.title), tokens(r.title))
    val inter = a.intersect(b).size
    inter.toDouble / a.union(b).size >= JaccardMin
  }

  /** Whether the reference's blocking (`match.py:94-110`: same venue tag,
    * a rolling year window of size `n` inside [LowerYear, UpperYear]) puts
    * both records in one block. A record of year y lies in the windows
    * starting at max(LowerYear, y-n) .. min(y, UpperYear-n). */
  def sameBlock(l: Rec, r: Rec, n: Int): Boolean = {
    def starts(y: Int) = (math.max(LowerYear, y - n), math.min(y, UpperYear - n))
    val ((l0, l1), (r0, r1)) = (starts(l.year), starts(r.year))
    Venues.exists(v => l.venue.contains(v) && r.venue.contains(v)) &&
      math.max(l0, r0) <= math.min(l1, r1)
  }

  /** Every (left, right) pair the predicate accepts; the left records are
    * spread over the common fork-join pool. */
  def allMatches(left: Seq[Rec], right: Seq[Rec]): Set[(Rec, Rec)] = {
    val ls = left.toIndexedSeq
    java.util.stream.IntStream.range(0, ls.size).parallel()
      .mapToObj[Seq[(Rec, Rec)]](i => right.collect { case r if matches(ls(i), r) => (ls(i), r) })
      .toArray.toSeq.flatMap(_.asInstanceOf[Seq[(Rec, Rec)]]).toSet
  }

  /** Connected components of an edge list, as a set of node sets. */
  def components[N](edges: Iterable[(N, N)]): Set[Set[N]] = {
    val parent = mutable.HashMap.empty[N, N]
    def find(x: N): N = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val root = find(p); parent(x) = root; root }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }
}
