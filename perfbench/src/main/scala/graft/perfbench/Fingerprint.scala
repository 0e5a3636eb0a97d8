package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** One action that fully materializes a query: the row count plus an
  * order-independent hash over every output column.
  *
  * `count()` lets the optimizer drop every column the count does not
  * need, and with them the Windows, Joins and projections that produce
  * them; hashing every column keeps them. The per-row hashes are summed
  * as two 32-bit halves so the sum cannot overflow and row order does
  * not matter.
  */
object Fingerprint {

  final case class Result(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType        => true
    case ArrayType(e, _)   => hasMap(e)
    case StructType(fs)    => fs.exists(f => hasMap(f.dataType))
    case _                 => false
  }

  /** The aggregate the fingerprint runs; exposed so a test can inspect
    * its optimized plan. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: a join may leave two columns with one name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // xxhash64 rejects maps; their JSON text is a faithful stand-in
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))
  }

  def of(df: DataFrame): Result = {
    val r = frame(df).head()
    Result(r.getLong(0), f"${r.getLong(1)}%x.${r.getLong(2)}%x")
  }
}
