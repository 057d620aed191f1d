package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The frozen half of the driver contract: the set of query names and
  * the bytes of every oracle SQL string. Any edit to either, including
  * an oracle that reads a helper before it is initialised (string
  * concatenation splices in "null" and nothing else fails), moves the
  * digest. Runs no Spark job.
  */
class OracleSqlPinSpec extends AnyFunSuite {

  /** SHA-256 over the name-sorted (name, SQL) pairs, each field
    * NUL-terminated. */
  def digest(sql: Map[String, String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    sql.toSeq.sortBy(_._1).foreach { case (name, q) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(q.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("226 queries, and their names and oracle SQL match the pinned digest") {
    val sql = SparkEntry.oracleSql
    assert(sql.size == 226)
    assert(SparkEntry.queries.keySet == sql.keySet)
    assert(digest(sql) == "71bdd1e6a93ef7d6dffe0845b05c53ed84d39cfc17bdf8c9b9062482c640ba2d")
  }
}
