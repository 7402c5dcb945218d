package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards: `queries` and `oracleSql` are views of one gate
  * registry, where a duplicate name would SILENTLY shadow a gate and
  * shrink coverage. Pins the key set and every oracle SQL string to
  * frozen hashes, the naming invariants the callers rely on, and the
  * entry() smoke check itself. */
class SparkEntrySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("gate names are distinct across the registry") {
    val dups = SparkEntry.gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name
    }
    assert(dups.isEmpty, s"duplicate gate names shadow a gate: $dups")
  }

  test("gate key set and oracle SQL are byte-identical to the " +
    "frozen contract") {
    // frozen when the per-module query/oracle maps became the gate
    // registry: any edit to a key or to one byte of oracle SQL moves
    // a hash — update them only with a deliberate contract change
    val keys = SparkEntry.queries.keys.toSeq.sorted
    assert(keys.size == 269)
    assert(sha256(keys.mkString("\n")) ==
      "f67d2fc09cca5a26f5d228e375e78de84e1ffb534e13b5923fd9f81ebd1ce616")
    val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    assert(oracles.size == 266)
    assert(sha256(oracles.map { case (k, sql) => k + "\u0000" + sql }
        .mkString("\u0001")) ==
      "b4937689dde56b79a81c0d43f5d1f45868d003c45bad460ab9a36f6258b09edd")
  }

  test("gate names are path/JSON-safe") {
    val badNames = SparkEntry.queries.keys
      .filterNot(_.matches("^[a-z0-9_]+$"))
    assert(badNames.isEmpty, s"unsafe query names: $badNames")
  }

  test("oracle SQL contains no tab/newline-sensitive raw controls " +
    "that JSON escaping must cover") {
    // the Verify escaper handles these, but a stray vertical tab or
    // similar would be a new class — keep the SQL to printable + \n\t
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.exists(c => c < ' ' && c != '\n' && c != '\t' && c != '\r')
    }
    assert(bad.isEmpty, s"control chars in: ${bad.keys}")
  }

  test("entry() (driver smoke) returns rows at sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    val spark = TestSpark.spark
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (_, fn) => fn(spark, TestSpark.sf0001).count() == 0
    }
    assert(empty.isEmpty,
      s"queries with empty results: ${empty.map(_._1)}")
  }
}
