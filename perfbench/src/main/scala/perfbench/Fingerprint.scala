package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: row count plus the exact sum of
  * one xxhash64 per row. Both ride the action being timed through
  * `Dataset.observe`, so checking a result costs no extra scan. */
object Fingerprint {

  final case class Fp(rows: Long, hashSum: String)

  /** `df` with the fingerprint attached; read it with [[read]] once an
    * action on the returned Dataset has finished. */
  def observe(df: DataFrame, canonicalTs: Option[Set[String]] = None)
      : (DataFrame, Observation) = {
    val obs = new Observation()
    val cols = canonicalTs.fold(hashable(df))(canonicalColumns(df, _))
    // hashes are summed as decimals: exact, order-independent, and no
    // overflow under ANSI arithmetic
    val observed = df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(20, 0))).as("hash_sum"))
    (observed, obs)
  }

  def read(obs: Observation): Fp = {
    val m = obs.get
    Fp(m("rows").asInstanceOf[Long],
      Option(m("hash_sum")).map(_.toString).getOrElse("0"))
  }

  /** Every column, in output order. */
  private def hashable(df: DataFrame): Seq[Column] =
    if (df.columns.isEmpty) Seq(lit(0))
    else df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))

  /** Type-insensitive columns for results that went through a text
    * format: columns in name order, the `timestamps` columns as epoch
    * micros whether they came back as timestamps or as ISO text (the
    * session is UTC), every other column as its text rendering, so a
    * long and the integer inferred from its CSV text hash alike. A table
    * and its CSV or JSON round trip hash alike. */
  def canonicalColumns(df: DataFrame, timestamps: Set[String]): Seq[Column] =
    df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`").cast(StringType)
      if (timestamps(f.name)) unix_micros(c.cast(TimestampType)) else c
    }
}
