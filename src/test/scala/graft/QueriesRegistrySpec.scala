package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is derived from one `query(...)` declaration per
  * section; these cases pin what the derivation promises. No query or
  * oracle generator runs, so no Spark session is started.
  */
class QueriesRegistrySpec extends AnyFunSuite {
  private val Name = "q(\\d+)_[a-z0-9]+(?:_[a-z0-9]+)*".r

  // nothing runs until a generator is applied, so no session or data is needed
  private lazy val dynamicNames: Seq[String] =
    Queries.dynamicOracleGenerators(null, null).map(_._1)

  test("324 distinct names of the form q<N>_<snake> with distinct N") {
    val names = Queries.registered.keys.toSeq
    assert(names.size == 324)
    assert(Queries.all.keySet == names.toSet)
    val bad = names.filterNot(Name.matches)
    assert(bad.isEmpty, s"malformed names: $bad")
    val ns = names.map { case Name(n) => n.toInt }
    assert(ns.distinct.size == ns.size, "two names share a query number")
  }

  test("every query has exactly one oracle source: static or generated") {
    assert(dynamicNames.distinct.size == dynamicNames.size)
    assert(dynamicNames.toSet.subsetOf(Queries.registered.keySet),
      s"generated oracles for unregistered names: ${dynamicNames.toSet -- Queries.registered.keySet}")
    Queries.registered.values.foreach { q =>
      assert(q.oracle.isDefined != dynamicNames.contains(q.name),
        s"${q.name}: static oracle ${q.oracle.isDefined}, generated ${dynamicNames.contains(q.name)}")
    }
    assert(Queries.oracles.size + dynamicNames.size == 324)
  }

  test("every static oracle is non-empty SQL") {
    val empty = Queries.oracles.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracles: $empty")
  }

  test("a name declared twice throws") {
    val twice = new QueryRegistration {
      query("q1_a", (_, _) => null, None)
      query("q2_b", (_, _) => null, Some("SELECT 1"))
      query("q1_a", (_, _) => null, Some("SELECT 2"))
    }
    val e = intercept[IllegalArgumentException](twice.registered)
    assert(e.getMessage.contains("q1_a"))
  }

  test("an oracle read before its val is initialized throws") {
    intercept[IllegalArgumentException] {
      new QueryRegistration {
        query("q1_a", (_, _) => null, Some(later))
        val later: String = "SELECT 1"
      }
    }
  }
}
