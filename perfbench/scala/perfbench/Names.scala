package perfbench

/** Prints the registry's query names as a JSON list (build step: the
  * seeded registry sample is drawn from it).
  */
object Names {
  def main(args: Array[String]): Unit =
    println(graft.SparkEntry.queries.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
}
