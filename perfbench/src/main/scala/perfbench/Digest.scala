package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a result: the row count and the sum of
  * per-row 64-bit hashes. Doubles are hashed at float precision, so the
  * last-bit wobble of a distributed floating-point sum, whose merge order
  * varies between runs, does not read as a changed result. */
object Digest {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => c.cast(StringType)
    case _ => c
  }

  private def metrics(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(df.col(s"`${f.name}`"), f.dataType))
    (count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
  }

  private def show(n: Long, h: Any): String = s"$n:${Option(h).getOrElse(0)}"

  /** Writes `df` in full — to parquet at `path`, or to the `noop` sink
    * when `path` is None — and returns the result's digest, read from
    * metrics observed on that same job. */
  def write(df: DataFrame, path: Option[String]): String = {
    val obs = Observation()
    val (n, h) = metrics(df)
    val w = df.observe(obs, n, h).write.mode("overwrite")
    path match {
      case Some(p) => w.parquet(p)
      case None => w.format("noop").save()
    }
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val m = Await.result(Future(blocking(obs.get)), 120.seconds)
    show(m("n").asInstanceOf[Long], m("h"))
  }

  /** The digest of a stored result, by its own aggregate job. */
  def of(df: DataFrame): String = {
    val (n, h) = metrics(df)
    val r = df.agg(n, h).head()
    show(r.getLong(0), r.get(1))
  }
}
