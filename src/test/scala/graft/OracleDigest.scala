package graft

import java.security.MessageDigest

/** Prints `sha256  key` for every [[SparkEntry.oracleSql]] entry, sorted
  * by key — the oracle SQL dump's fingerprint, built without a Spark
  * session. Two checkouts whose outputs diff clean emit the same oracle
  * SQL byte for byte. Run through `tools/oracle_digest.sh`. */
object OracleDigest {
  def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(sql.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, sql) =>
      println(s"${digest(sql)}  $k")
    }
}
