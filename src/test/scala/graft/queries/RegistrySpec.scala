package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Verify}

/** The query registry is the one declaration of every driver query: these
  * checks pin what the name-keyed maps derived from it cannot show. */
class RegistrySpec extends AnyFunSuite {

  test("a registry that declares a name twice fails and names the duplicate") {
    val q = Registry.all.head
    val other = Registry.all(1)
    val e = intercept[IllegalArgumentException] {
      Registry.of(Seq(q, other, q.copy(check = Property("x"))))
    }
    assert(e.getMessage.contains(q.name))
    assert(!e.getMessage.contains(other.name))
  }

  test("the registry holds ExpectedQueryCount queries: 156 oracle-checked, 4 property-checked") {
    val all = Registry.all
    assert(all.size == Verify.ExpectedQueryCount)
    assert(all.map(_.name).distinct.size == all.size)
    assert(all.count(_.check.isInstanceOf[Oracle]) == 156)
    assert(all.collect { case Query(name, _, Property(_)) => name }.toSet == Set(
      "q_doc_percentiles_approx", "q_perplexity_buckets_approx",
      "q_sketch_union", "q_cardinality_audit"))
  }

  test("every Property names a spec class on the test classpath") {
    val specs = Registry.all.collect { case Query(_, _, Property(spec)) => spec }
    assert(specs.nonEmpty)
    specs.foreach(spec => assert(Class.forName(spec) != null, spec))
  }

  test("every oracleSql key is a queries key") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size == Verify.ExpectedQueryCount)
    assert(SparkEntry.oracleSql.size == 156)
  }
}
