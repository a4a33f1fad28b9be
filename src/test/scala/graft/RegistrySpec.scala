package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the query registry's surface: its names, and the oracle SQL the
  * DuckDB gate runs, against the committed `oracle_sql.json`.
  */
class RegistrySpec extends AnyFunSuite with Matchers {

  test("registry query names are unique") {
    // SparkEntry.queries is a .toMap: a duplicate name would silently
    // drop one of the two queries
    val names = SparkEntry.registry.map(_.name)
    names.diff(names.distinct) shouldBe empty
  }

  test("oracleSql equals the committed oracle_sql.json") {
    val committed = new ObjectMapper()
      .readValue(new java.io.File("oracle_sql.json"),
        classOf[java.util.Map[String, String]])
      .asScala.toMap
    val (aliases, bare) = committed.partition(_._1.endsWith(".parquet"))
    val oracle = SparkEntry.oracleSql
    (bare.keySet ++ oracle.keySet)
      .filter(k => bare.get(k) != oracle.get(k)) shouldBe empty
    aliases.keySet.map(_.stripSuffix(".parquet")) shouldBe bare.keySet
    aliases.filter { case (k, v) =>
      bare.get(k.stripSuffix(".parquet")) != Some(v) } shouldBe empty
  }
}
