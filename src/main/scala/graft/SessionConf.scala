package graft

import org.apache.spark.sql.SparkSession

object SessionConf {

  /** Runs `body` with each `key -> value` set on the session conf, then puts
    * every key back as it was, also when `body` throws: its old value, or
    * unset when the session had not set it. The old values come from
    * `getAll`, which holds only the keys the session set: `getOption` also
    * reads a registered key's default, and writing that back would leave
    * the key set in the session. */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val sessionValues = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> sessionValues.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
