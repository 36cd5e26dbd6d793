package graft

/** One registered query, declared once next to its definition: its
  * name, its run function, its DuckDB oracle and its bench labels.
  *
  * `build` labels a query whose timing includes an index build:
  * `FirstRun` builds its demo index once per process, so `graft.Bench`'s
  * first run carries the build and the median is the steady-state probe;
  * `EveryRun` rebuilds from fresh scratch dirs on every run (the stream
  * replays), so every rep pays build + replay and `Bench` runs one rep.
  *
  * `sharesScanWith` names the query whose run memoizes the state this
  * one reads, so this one's number is not standalone.
  */
final case class Query(
    name: String,
    run: Q,
    oracle: String,
    build: Option[Query.Build] = None,
    sharesScanWith: Option[String] = None
)

object Query {
  sealed abstract class Build(val label: String)
  case object FirstRun extends Build("first_run")
  case object EveryRun extends Build("every_run")

  /** The records by name; a name registered twice is an error. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val twice = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }

  /** The oracle of `name` in a module's registry, for a query that
    * shares another query's oracle. */
  def oracleOf(registry: Seq[Query], name: String): String =
    registry.find(_.name == name).map(_.oracle)
      .getOrElse(throw new NoSuchElementException(s"no registered query $name"))
}
