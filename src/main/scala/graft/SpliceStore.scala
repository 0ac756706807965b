package graft

/** Gate-time-frozen oracle splice fragments.
  *
  * Several oracles splice ENGINE-computed tables (PPMI q6 edges, the DoReMi
  * EG trace, trained-model constants) into their DuckDB SQL as VALUES. Gate
  * lambdas freeze those rows here, as plain strings, in the same call that
  * executes the gate, so the oracle never re-reads a localCheckpointed frame
  * between gate execution and oracle construction. The store lives in this
  * JVM only: [[graft.oracle.OracleSql.all]] emits the dynamic oracles of the
  * gates that ran in it.
  */
object SpliceStore {
  private val frags = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def put(name: String, fragment: String): Unit = { frags.put(name, fragment); () }

  def get(name: String): Option[String] = Option(frags.get(name))

  /** Drop one fragment — [[graft.Verify]] calls this for a gate whose query
    * threw, so no oracle is emitted for a gate that produced no output. */
  def remove(name: String): Unit = { frags.remove(name); () }

  /** All entries whose key starts with `prefix`, with the prefix stripped. */
  def allWithPrefix(prefix: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    frags.forEach { (k, v) =>
      if (k.startsWith(prefix)) b += (k.stripPrefix(prefix) -> v)
    }
    b.result()
  }

  /** Test seam: drop everything (sessions in one JVM share the store). */
  private[graft] def clear(): Unit = frags.clear()
}
