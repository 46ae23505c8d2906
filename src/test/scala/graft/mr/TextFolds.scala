package graft.mr

import java.nio.file.Files

/** Plain-Scala folds of the wc and grep executables' contract: the
  * expected outputs of the tests that run those executables, or their
  * native twins, over a corpus. They call neither `MapReduceJob` nor
  * `NativeTextJobs`.
  */
object TextFolds {

  /** Every line of every file in `dir`, split as `tr` and `awk` read
    * them: at each '\n', the last line with or without its '\n'.
    */
  def corpusLines(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq.flatMap { f =>
      val text = Files.readString(f.toPath)
      if (text.isEmpty) Nil else text.stripSuffix("\n").split("\n", -1).toSeq
    }

  /** wc_map.sh + wc_reduce.sh over `lines`, as "token\tcount" lines in
    * code-point order. `tr '[ \t]' '\n'` ends a token at each of '[',
    * space, TAB and ']', so adjacent separators leave empty tokens;
    * `tr '[:upper:]' '[:lower:]'` lowercases ASCII A-Z only; the reducer
    * counts tokens.
    */
  def wordCount(lines: Seq[String]): Seq[String] =
    lines
      .flatMap(_.split("[\\[ \t\\]]", -1))
      .map(_.map(c => if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case (token, n) => s"$token\t$n" }
      .toSeq
      .sorted(MapReduceJob.utf8Ordering)
}
