package perfbench

/** Prints one line per registry query: name, bench flag, has-oracle flag
  * (tab-separated). select_queries.py reads it to apply the query-mix rule.
  */
object Catalog {
  def main(args: Array[String]): Unit =
    graft.queries.Registry.all.sortBy(_.name).foreach { q =>
      println(s"${q.name}\t${q.bench}\t${q.oracle.isDefined}")
    }
}
