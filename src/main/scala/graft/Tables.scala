package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Table registry over the driver's parquet directory layout.
  *
  * Scale notes (100 TB design): the dimension tables (`region`, `nation`,
  * `supplier`, `part`, `customer`) stay small relative to the facts
  * (`lineitem`, `orders`, `events`), so joins against them are explicitly
  * broadcast. Fact tables are read with full projection/predicate pushdown
  * (plain declarative scans — Catalyst prunes columns and pushes filters).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame   = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Broadcast-hinted dimension load: at 100 TB the facts shuffle, dims fly. */
  def dim(s: SparkSession, d: String, name: String): DataFrame =
    broadcast(load(s, d, name))
}
