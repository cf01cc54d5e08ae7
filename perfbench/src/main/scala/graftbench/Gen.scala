package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded column generators. Every value is a hash of (seed, salt, the
  * row's coordinates), so a table is the same for one seed however Spark
  * partitions the work, and different for another seed. */
object Gen {
  def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform in [0, 1). */
  def u(seed: Long, salt: Int, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  /** Standard normal (Box-Muller over two uniforms). */
  def normal(seed: Long, salt: Int, cs: Column*): Column =
    sqrt(log(lit(1.0) - u(seed, salt, cs :+ lit(0): _*)) * -2.0) *
      cos(u(seed, salt, cs :+ lit(1): _*) * (2 * math.Pi))

  def below(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))

  def pick(seed: Long, salt: Int, values: Seq[String], cs: Column*): Column =
    element_at(array(values.map(lit): _*),
      (below(seed, salt, values.size.toLong, cs: _*) + 1).cast("int"))

  /** A date in 1995-01-01 .. 2001-08-01 (sf0.1's `o_orderdate` range) as
    * a timestamp. */
  def date(seed: Long, salt: Int, cs: Column*): Column =
    date_add(lit(java.sql.Date.valueOf("1995-01-01")),
      below(seed, salt, 2405L, cs: _*).cast("int")).cast("timestamp")

  /** Order-independent digest of a frame's rows. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def combine(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
