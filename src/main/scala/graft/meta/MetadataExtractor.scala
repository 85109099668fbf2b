package graft.meta

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table metadata extraction — the "metadata" half of the reference's
  * listener+metadata surface: schema fingerprints and per-column profiles
  * computed as ordinary distributed aggregates (one pass per table, all
  * column stats in a single hash-aggregate).
  */
object MetadataExtractor {

  /** Stable fingerprint of a schema (names + canonical types). */
  def schemaFingerprint(schema: StructType): String =
    sha256Hex(schema.fields.map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}").mkString(";"))

  /** Lower-case hex SHA-256 of `s`'s UTF-8 bytes. */
  def sha256Hex(s: String): String =
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Per-column numeric profile (min/max/null-count/distinct) of any
    * DataFrame's columns, one row per column — ALL stats in a single
    * scan/hash-aggregate (never one pass per column; at 100 TB the scan
    * is the cost and it must amortize across every stat).
    */
  def profile(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(round(min(col(c)), 4).as(s"${c}_min"),
        round(max(col(c)), 4).as(s"${c}_max"),
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      one.select(
        lit(c).as("col_name"),
        col(s"${c}_min").as("min_v"),
        col(s"${c}_max").as("max_v"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"))
    }
    rows.reduce(_ unionByName _).orderBy("col_name")
  }

  /** Oracle-checked instantiation of [[profile]] over lineitem. */
  def qMetaProfile(s: SparkSession, dir: String): DataFrame =
    profile(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  val oracleMetaProfile: String = {
    val parts = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
      s"""SELECT '$c' AS col_name, round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
         | count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin
    }
    parts.mkString("", " UNION ALL ", " ORDER BY col_name")
  }
}
