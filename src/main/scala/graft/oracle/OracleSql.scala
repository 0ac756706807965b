package graft
package oracle

/** DuckDB-equivalent SQL per query of [[graft.SparkEntry.queries]]; column
  * names and ordering must match the Spark result exactly (the correctness
  * check sorts columns by name and hash-compares values).
  *
  * The static oracles are plain SQL over the test tables. A dynamic oracle
  * is a function of what its gate trained or computed — a model, an export
  * path, engine rows ([[IndexOracles]], [[ModelOracles]]) — and the gate
  * builds it in the same call that produces its output and freezes it, as
  * `sql:<gate>`, into the in-process splice store. So a filtered `Verify`
  * run dumps the static oracles plus the dynamic ones of the gates it ran,
  * and a later training on another slice cannot change an oracle already
  * frozen.
  * Only deterministic model/generator output crosses the boundary;
  * everything downstream is re-derived in SQL.
  * A gate registered by `graft.queries.<Family>Queries` has its oracle in
  * `<Family>Oracles` (the Index and Model gates build theirs with the
  * [[IndexOracles]] and [[ModelOracles]] builders).
  */
object OracleSql {

  def all: Map[String, String] =
    CoreOracles.sql ++ CrawlOracles.sql ++ DedupOracles.sql ++ RetrievalOracles.sql ++
      CorpusOracles.sql ++ SpliceStore.allWithPrefix("sql:")
}
