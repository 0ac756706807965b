package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Two runs of the same plan must print identically once normalized. */
class ExplainAuditSpec extends AnyFunSuite {

  test("normalized masks per-run ids and keeps the plan text") {
    val run1 = "Arguments: hashpartitioning(doc_id#1234L, 4), ENSURE_REQUIREMENTS, [plan_id=2397]\n" +
      "Arguments: graft.operators.Multimodal$$$Lambda$5012/0x00007f1c80a3b2c8@4e1d422d, obj#77\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_x13_bpe_model_40211__root_testdata_sf0.01.parquet]\n" +
      "Arguments: [v#203L], MapPartitionsRDD[106] at localCheckpoint at Dedup.scala:605"
    val run2 = "Arguments: hashpartitioning(doc_id#98L, 4), ENSURE_REQUIREMENTS, [plan_id=4611]\n" +
      "Arguments: graft.operators.Multimodal$$$Lambda$733/0x00007f1c8011aa10@1b2c3d, obj#5\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_x13_bpe_model_7__root_testdata_sf0.01.parquet]\n" +
      "Arguments: [v#9L], MapPartitionsRDD[106] at localCheckpoint at Dedup.scala:605"
    assert(ExplainAudit.normalized(run1) === ExplainAudit.normalized(run2))
    assert(ExplainAudit.normalized(run1).contains("hashpartitioning(doc_id#NL, 4)"))
    assert(ExplainAudit.normalized("a#1 + b#2") !== ExplainAudit.normalized("a#1 - b#2"))
  }
}
