package graft

import graft.contract.Contract

/** Every declared query must run on sf0.001 — catches runtime regressions
  * in any operator before the driver's sf0.01 gate does.
  */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a contract name listed in two families fails the registry, naming it") {
    val familyA = Seq(Contract("q_dup", (s, d) => s.range(1).toDF()),
      Contract("q_a", (s, d) => s.range(1).toDF()))
    val familyB = Seq(Contract("q_dup", (s, d) => s.range(2).toDF(), "SELECT 1"))
    val e = intercept[IllegalArgumentException](Contract.registry(familyA ++ familyB))
    assert(e.getMessage.contains("duplicate contract names: q_dup"))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val df = fn(spark, Sf0001)
      assert(df.count() >= 0)
      assert(df.columns.nonEmpty)
    }
  }
}
