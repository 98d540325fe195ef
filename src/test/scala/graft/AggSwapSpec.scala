package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale swap that became a contract key: q_window_count_distinct
  * runs the constant-memory delta form, and the collect_set form it
  * replaced ([[graft.ops.Windows.windowCountDistinctSets]]) stays as its
  * row-for-row witness. The key's plan must lack the construct the swap
  * exists to remove (per-row set state).
  */
class AggSwapSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001)

  test("q_window_count_distinct (delta form) == the set form row-for-row, no set state") {
    // r15 sf1-gate finding: collect_set-over-range-frame costs
    // O(users-in-window) PER ROW inside |event_type| partitions (12× at
    // 10× data). r16 promoted the EXACT delta form INTO the contract key;
    // the pedagogical set form is now the equality witness. Full row
    // equality (interval algebra, not a sketch), and the KEY's plan must
    // carry no collect_set (the quadratic state the swap removed).
    val key = q("q_window_count_distinct")
    val plan = key.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set"), "set state crept back into the key")
    val e = graft.ops.Windows.windowCountDistinctSets(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq)
    val a = key.collect().map(_.toSeq)
    assert(a.toSeq == e.toSeq,
      s"delta form diverged: ${a.length} vs ${e.length} rows")
  }
}
