package perfbench

/** Prints the name of every query in `SparkEntry.queries`, one a line. */
object ListQueries {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}
