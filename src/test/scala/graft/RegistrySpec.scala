package graft

import org.scalatest.funsuite.AnyFunSuite

/** The certificate registry's shape, checked without a Spark session:
  * `queries` and `oracleSql` are maps derived from `SparkEntry.certs`,
  * and `toMap` would silently keep only the last of two equal names. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.certs.map(_.name)

  test("certificate names are unique") {
    val dup = names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    assert(dup.isEmpty, s"duplicated names: ${dup.mkString(", ")}")
  }

  test("the registry holds 344 certificates") {
    assert(names.size == 344)
  }

  test("every oracle SQL is non-blank") {
    val blank = SparkEntry.certs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
