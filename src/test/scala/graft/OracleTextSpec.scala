package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of the oracle contract (`graft.Verify`'s
  * `oracle_sql.json` and `pyfold_sql.json`). A change that moves code
  * without touching an oracle keeps the pin; an intended oracle edit
  * updates [[OracleTextSpec.Pin]] and says so in CHANGES.md. */
class OracleTextSpec extends AnyFunSuite {
  import OracleTextSpec._

  test("oracle and pyfold SQL text matches the pin") {
    assert(digest(SparkEntry.oracleSql ++ SparkEntry.pyfoldSql) == Pin)
  }

  test("every oracle names a query of SparkEntry.queries") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans)
  }

  test("every pyfold fragment is <oracle>!<fragment>") {
    val bad = SparkEntry.pyfoldSql.keys.filterNot { k =>
      k.split('!') match {
        case Array(q, frag) => SparkEntry.oracleSql.contains(q) && frag.nonEmpty
        case _ => false
      }
    }
    assert(bad.isEmpty, bad)
  }
}

object OracleTextSpec {
  /** SHA-256 of the key-sorted (name, SQL) pairs, each field NUL-ended. */
  val Pin = "ca40b794e125f8bed140480d460425943da9a66304f8694703b092b60212d1bb"

  def digest(sql: Map[String, String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    sql.toSeq.sortBy(_._1).foreach { case (k, v) =>
      md.update(k.getBytes(UTF_8)); md.update(0.toByte)
      md.update(v.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
