package graft.oracle

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry
import graft.queries.{CoreQueries, CorpusQueries, CrawlQueries, DedupQueries, IndexQueries,
  ModelQueries, RetrievalQueries}

/** Registry integrity of the gate families. A `Map` union silently keeps
  * the last of two equal keys, so these checks are what guards against a
  * lost gate. Only the maps are built; no gate runs. */
class QueryFamiliesSpec extends AnyFunSuite {

  private val families = Seq(
    "Core" -> CoreQueries.queries,
    "Crawl" -> CrawlQueries.queries,
    "Dedup" -> DedupQueries.queries,
    "Corpus" -> CorpusQueries.queries,
    "Retrieval" -> RetrievalQueries.queries,
    "Index" -> IndexQueries.queries,
    "Model" -> ModelQueries.queries)

  test("family key sets are pairwise disjoint and their union is SparkEntry.queries") {
    for (Seq((a, qa), (b, qb)) <- families.combinations(2)) {
      val both = qa.keySet intersect qb.keySet
      assert(both.isEmpty, s"$a and $b both register $both")
    }
    val union = families.map(_._2.keySet).reduce(_ ++ _)
    assert(union === SparkEntry.queries.keySet)
    // a duplicate key inside one family's Map literal shrinks its map
    // without any error; the gate count is the guard against that
    assert(families.map(_._2.size).sum === 239)
  }

  test("every static oracle is registered by the query family of the same name") {
    val byFamily = families.toMap
    val oracles = Seq(
      "Core" -> CoreOracles.sql,
      "Crawl" -> CrawlOracles.sql,
      "Dedup" -> DedupOracles.sql,
      "Retrieval" -> RetrievalOracles.sql,
      "Corpus" -> CorpusOracles.sql)
    for ((family, sql) <- oracles) {
      val stray = sql.keySet -- byFamily(family).keySet
      assert(stray.isEmpty, s"${family}Oracles keys without a ${family}Queries gate: $stray")
    }
  }
}
