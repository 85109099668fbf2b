package graft.lineage

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, lit, struct, transform, when}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Loader for persisted lineage: reads [[JsonlFileSink]] output back into
  * [[LineageRecord]]s so [[LineageGraph]] impact analysis runs over a
  * catalog that OUTLIVES the session that emitted it (the r7/r8 gap: the
  * graph only accepted the in-memory `Seq`).
  *
  * The parse is Spark's own JSON reader under an EXPLICIT schema taken
  * from the [[LineageRecord]] case classes (schema inference on a
  * catalog file is a wasted second pass, and a malformed line must
  * surface as a null-status row, not silently skew the graph) — so a multi-gigabyte catalog of millions of runs loads as
  * a distributed scan, and `edgesDf` keeps the whole impact pipeline in
  * DataFrames with no driver materialization. `load` collects to the
  * driver only for the existing Seq-shaped API.
  */
object LineageCatalog {

  private val encoder = Encoders.product[LineageRecord]

  /** Schema of one toJson line: the record encoder's schema, every field
    * nullable so a line missing a key still reads. */
  val schema: StructType = org.apache.spark.sql.GraftBridge.asNullable(encoder.schema)

  /** The catalog as a DataFrame — the scale path for big catalogs. */
  def loadDf(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema).json(path)

  /** The catalog as records — the [[LineageGraph]] Seq-shaped API. A
    * malformed line loads as a null-status record; what a line lacks
    * loads as its type's empty value (below). */
  def load(s: SparkSession, path: String): Seq[LineageRecord] = {
    val df = loadDf(s, path)
    df.select(filledFields(encoder.schema, df(_)): _*).as(encoder).collect().toSeq
  }

  /** `st`'s fields, read by `field`, with every null the encoder cannot
    * hold replaced — driven by the encoder's schema: a missing array
    * reads as empty, a missing primitive as 0, a present struct has its
    * own fields filled; strings and options stay null/None. */
  private def filledFields(st: StructType, field: String => Column): Seq[Column] =
    st.fields.toSeq.map(f => filled(field(f.name), f.dataType, f.nullable).as(f.name))

  private def filled(c: Column, t: DataType, nullable: Boolean): Column = t match {
    case st: StructType =>
      val s = struct(filledFields(st, c.getField): _*)
      if (nullable) when(c.isNotNull, s) else s
    case at: ArrayType =>
      val elems = at.elementType match {
        case _: StructType => transform(c, filled(_, at.elementType, at.containsNull))
        case _ => c
      }
      coalesce(elems, array().cast(at))
    case _ if !nullable => coalesce(c, lit(0).cast(t))
    case _ => c
  }
}
