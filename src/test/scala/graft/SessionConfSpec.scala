package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `SessionConf.withConf` puts every key back as the session had it: the
  * old value, or unset, also when the body throws. */
class SessionConfSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val had = "spark.graft.spec.had"
  private val none = "spark.graft.spec.none"
  // a registered key: getOption reads its default even when the session
  // never set it
  private val registered = "spark.sql.autoBroadcastJoinThreshold"

  private def sessionValue(k: String): Option[String] = spark.conf.getAll.get(k)

  test("a key that had a value gets it back; keys that had none are unset again") {
    spark.conf.set(had, "old")
    spark.conf.unset(none)
    spark.conf.unset(registered)
    val seen = SessionConf.withConf(spark, had -> "a", none -> "b", registered -> "-1") {
      (spark.conf.get(had), spark.conf.get(none), spark.conf.get(registered))
    }
    assert(seen === (("a", "b", "-1")))
    assert(sessionValue(had) === Some("old"))
    assert(sessionValue(none) === None)
    assert(sessionValue(registered) === None, "the default must not be written back as a session value")
    spark.conf.unset(had)
  }

  test("a body that throws still restores every key") {
    spark.conf.set(had, "old")
    spark.conf.unset(none)
    val e = intercept[IllegalStateException] {
      SessionConf.withConf(spark, had -> "a", none -> "b") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(sessionValue(had) === Some("old"))
    assert(sessionValue(none) === None)
    spark.conf.unset(had)
  }
}
