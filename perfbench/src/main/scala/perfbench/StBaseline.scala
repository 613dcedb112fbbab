package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The reference apps as one plain-Scala thread: read the file line by
  * line, fold every token into a hash map, sort the keys and write one
  * O8 file (`key v1 v2 ... ` per line). Same tokenizer and the same
  * output contract as the engine: WordCount counts occurrences,
  * InvertedIndex lists each word's distinct 0-based line numbers sorted
  * as strings. Returns the written lines. */
object StBaseline {
  def run(app: String, input: String, output: String): Seq[String] = {
    val counts = mutable.HashMap.empty[String, Long]
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val in = Files.newBufferedReader(Paths.get(input), UTF_8)
    try {
      var no = 0L
      var line = in.readLine()
      while (line != null) {
        line.split("\\s+").foreach { w =>
          if (w.nonEmpty) {
            if (app == "wordcount") counts(w) = counts.getOrElse(w, 0L) + 1
            else {
              val ps = postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty[Long])
              if (ps.isEmpty || ps.last != no) ps += no
            }
          }
        }
        no += 1
        line = in.readLine()
      }
    } finally in.close()
    val rows: Seq[(String, Seq[String])] =
      if (app == "wordcount") counts.toSeq.map { case (w, n) => (w, Seq(n.toString)) }
      else postings.toSeq.map { case (w, ps) => (w, ps.map(_.toString).sorted.toSeq) }
    val lines = rows.sortBy(_._1).map { case (k, vs) => (k +: vs).mkString("", " ", " ") }
    Files.write(Paths.get(output), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    lines
  }
}
