package graft.queries

/** A plain-Scala replay of BPE merge learning: the expected output of
  * the tests that run `Bpe.trainMerges`. Like the DuckDB oracles, it
  * keeps each vocabulary word as its wrapped string (" t  h  e "),
  * recounts every pair of every word each round, and merges with
  * `String.replace`. It does not call `Bpe`.
  */
object BpeFolds {

  /** Code-point order, built here from the code points themselves. */
  private val codePointOrder: Ordering[String] =
    Ordering.by((s: String) => s.codePoints.toArray.toSeq)(Ordering.Implicits.seqOrdering[Seq, Int])

  /** Each code point wrapped in its own spaces, as `regexp_replace(w, '(.)', ' $1 ')`. */
  private def wrap(word: String): String =
    word.codePoints.toArray.map(cp => s" ${new String(Character.toChars(cp))} ").mkString

  /** `steps` rounds over the word instances `words`: the (step, a, b,
    * cnt, n_affected) rows the trainer must learn. The highest count
    * wins, ties go to the smallest "a|b" in code-point order, and
    * n_affected counts the distinct words containing " a  b ".
    */
  def trainMerges(words: Seq[String], steps: Int): Seq[(Long, String, String, Long, Long)] = {
    var vocab = words.groupMapReduce(wrap)(_ => 1L)(_ + _).toSeq
    (1 to steps).map { t =>
      val counts = vocab
        .flatMap { case (s, f) =>
          val sy = s.split(" +").filter(_.nonEmpty)
          sy.zip(sy.drop(1)).map(_ -> f)
        }
        .groupMapReduce(_._1)(_._2)(_ + _)
      require(counts.nonEmpty, s"exhausted at step $t")
      val ((a, b), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, s"$a|$b") }(
        Ordering.Tuple2(Ordering.Long, codePointOrder))
      val from = s" $a  $b "
      val affected = vocab.count(_._1.contains(from)).toLong
      vocab = vocab.map { case (s, f) => (s.replace(from, s" $a$b "), f) }
      (t.toLong, a, b, cnt, affected)
    }
  }
}
