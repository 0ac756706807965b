package graft

/** Gate-time-frozen dynamic oracles, keyed `sql:<gate>`.
  *
  * A gate whose DuckDB oracle depends on what it trained or computed — a
  * model, an export path, engine rows spliced as VALUES tables — builds
  * that oracle from those values in the same call that produces its output
  * and freezes it here as a plain string, so the oracle never re-reads a
  * model or a localCheckpointed frame after the gate ran. The store lives
  * in this JVM only: [[graft.oracle.OracleSql.all]] emits the frozen
  * oracles of the gates that ran in it.
  */
object SpliceStore {
  private val frags = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def put(name: String, fragment: String): Unit = { frags.put(name, fragment); () }

  def get(name: String): Option[String] = Option(frags.get(name))

  /** Drop one entry — [[graft.Verify]] calls this for a gate whose query
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
