package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry behind the driver contract: every gate has a
  * distinct name and a non-blank oracle, and `queries` and `oracleSql`
  * cover the same names. A duplicate name is the defect a `Map` literal
  * hides silently (the later entry replaces the earlier one). No Spark
  * session needed. */
class GateRegistrySpec extends AnyFunSuite {

  test("the registry holds 186 gates with distinct names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 186)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct)}")
  }

  test("queries and oracleSql cover the same gate names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }

  test("every oracle is non-blank") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql != null && sql.trim.nonEmpty, s"$name has a blank oracle")
    }
  }
}
