package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: the row count plus the sum of a
  * per-row xxhash64 folded into 40 bits (so the sum cannot overflow
  * below 2^23 rows). Floating values are rounded to 6 decimals first,
  * so the digest names the result, not its last ulp. Columns are
  * renamed by position, which keeps duplicate or dotted output names
  * hashable. */
object Digest {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if et == DoubleType || et == FloatType =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case s: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private def rowHash(df: DataFrame): Column =
    if (df.columns.isEmpty) lit(0L)
    else pmod(xxhash64(df.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType)): _*),
      lit(1L << 40))

  private def aggs(df: DataFrame): Seq[Column] =
    Seq(count(lit(1)).as("rows"), coalesce(sum(rowHash(df)), lit(0L)).as("digest"))

  /** `df` with the digest attached as observed metrics: the action that
    * runs it (the benchmark's noop write) also fills `obs`. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val p = positional(df)
    val a = aggs(p)
    p.observe(obs, a.head, a.tail: _*)
  }

  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("digest").toString)
  }

  /** The same digest as a standalone aggregate (read-back checks). */
  def of(df: DataFrame): (Long, String) = {
    val p = positional(df)
    val a = aggs(p)
    val r = p.agg(a.head, a.tail: _*).head()
    (r.getLong(0), r.get(1).toString)
  }
}
