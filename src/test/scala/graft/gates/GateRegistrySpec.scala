package graft.gates

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Pins the gate registry's shape — pure logic, no SparkSession: one
  * entry per name, the driver's two maps read off the same gates, each
  * family holding only its own prefix, and name lookup failing loudly.
  */
class GateRegistrySpec extends AnyFunSuite {

  test("gate names are unique across the registry") {
    val dups = Gates.all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
  }

  test("queries and oracleSql have the same 273 keys") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 273)
    assert(Gates.all.size == 273)
  }

  test("every gate in a family carries that family's prefix") {
    for (f <- Gates.families; g <- f.gates)
      assert(g.name.takeWhile(_.isLetter) == f.prefix && g.name.drop(f.prefix.length).head.isDigit,
        s"${g.name} sits in the `${f.prefix}` family")
    assert(Gates.families.map(_.prefix).distinct.size == Gates.families.size)
  }

  test("select returns the named gates in order and rejects unknown names, naming each") {
    assert(Gates.select(Seq("s13_ivfpq", "q01_groupby_agg")).map(_.name) ==
      Seq("s13_ivfpq", "q01_groupby_agg"))
    val e = intercept[IllegalArgumentException](
      Gates.select(Seq("q01_groupby_agg", "q01_grupby_agg", "zz99_nope")))
    assert(e.getMessage.contains("q01_grupby_agg") && e.getMessage.contains("zz99_nope"))
    assert(!e.getMessage.contains("q01_groupby_agg"))
  }

  test("listed reads a comma-separated list through select, all gates without one") {
    assert(Gates.listed(None).map(_.name) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Gates.listed(Some("s13_ivfpq, q01_groupby_agg,,s13_ivfpq")).map(_.name) ==
      Seq("q01_groupby_agg", "s13_ivfpq"))
    val e = intercept[IllegalArgumentException](Gates.listed(Some("q01_groupby_agg,nope")))
    assert(e.getMessage.contains("nope"))
  }
}
