package graft.queries

/** A plain-Scala replay of exact-integer Lloyd over one subspace: the
  * expected output of the tests that run `SimilarityOps.lloydRefine`
  * and `lloydAssign`. A codebook maps each cid to its centroid. The
  * nearest centroid wins by squared L2, ties to the lower cid; a round
  * moves every centroid to the mean of its members, divided down (the
  * inputs are non-negative, where Spark's `div` and DuckDB's `//`
  * agree); a centroid without members keeps its value from the round
  * before. It does not call `SimilarityOps`.
  */
object LloydFolds {

  type Book = Map[Long, Array[Long]]

  def d2(a: Array[Long], b: Array[Long]): Long =
    a.indices.map { i => val d = a(i) - b(i); d * d }.sum

  /** (cid, d): the centroid of `book` nearest to `v`, and its distance. */
  def nearest(v: Array[Long], book: Book): (Long, Long) =
    book.toSeq.map { case (cid, c) => (d2(v, c), cid) }.min.swap

  /** `rounds` Lloyd rounds of `seed` over the vectors `vs`. */
  def refine(vs: Seq[Array[Long]], seed: Book, rounds: Int): Book =
    (1 to rounds).foldLeft(seed) { (book, _) =>
      val members = vs.groupBy(v => nearest(v, book)._1)
      book.map { case (cid, c) =>
        cid -> members.get(cid).fold(c) { ms =>
          Array.tabulate(c.length)(j => ms.map(_(j)).sum / ms.length)
        }
      }
    }
}
