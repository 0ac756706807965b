package graft
package oracle

/** DuckDB-equivalent SQL per query of [[graft.SparkEntry.queries]]; column
  * names and ordering must match the Spark result exactly (the correctness
  * check sorts columns by name and hash-compares values).
  *
  * The static oracles are plain SQL over the test tables. The dynamic ones
  * read what a gate exported in this JVM: a trained model (by absolute path
  * or as a VALUES table), a seeded generator's output, or engine rows frozen
  * into [[graft.SpliceStore]] at gate time. Each exists only once its gate
  * has run, so a filtered `Verify` run dumps the static oracles plus the
  * dynamic ones of the gates it ran. Only deterministic model/generator
  * output crosses the boundary; everything downstream is re-derived in SQL.
  */
object OracleSql {

  def all: Map[String, String] = {
    import IndexOracles._, ModelOracles._
    val live =
      CoreOracles.sql ++ CrawlOracles.sql ++ DedupOracles.sql ++ RetrievalOracles.sql ++
        CorpusOracles.sql ++ d8OracleSql ++ pqOracleSql ++ s3OracleSql ++ lrOracleSql ++
        x13OracleSql ++ btOracleSql ++ kCenterOracleSql ++ pcaOracleSql ++ reducedIvfOracleSql ++
        reducedPqOracleSql ++ ppmiOracleSql ++ egOracleSql ++ pplOracleSql ++
        maintainedReducedOracleSql ++ maintainedPqOracleSql
    // oracles a gate builds from its own models and freezes as `sql:<gate>`
    SpliceStore.allWithPrefix("sql:") ++ live
  }
}
