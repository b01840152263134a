package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Column-composition helpers (SURVEY §2.10): expression builders, not UDFs —
  * everything here stays inside whole-stage codegen.
  */
object GraftFunctions {

  /** Partition-by-ticker, order-by-date window — the reference's universal
    * time-series frame (`silver/indicators.py:120`). */
  def tickerWindow(partition: Seq[String] = Seq("ticker"),
                   order: String = "date"): WindowSpec =
    Window.partitionBy(partition.map(col): _*).orderBy(col(order))

  /** Running (unbounded-preceding) sum — W5/W6 cumulative VWAP inputs. */
  def cumSum(c: Column, w: WindowSpec): Column =
    sum(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W7 — weekly bucket anchored to Sunday (the reference docstring's
    * Sunday–Saturday weeks, `silver/aggregates.py:13`; SURVEY §7.4 pins this
    * ambiguity to the docstring semantics). `dayofweek` is 1=Sunday..7=Saturday,
    * so subtracting `dayofweek-1` lands every date on its week's Sunday. */
  def weekBucket(dateCol: Column): Column =
    date_sub(dateCol, dayofweek(dateCol) - lit(1))

  /** W8 — monthly bucket: first day of month. */
  def monthBucket(dateCol: Column): Column = trunc(dateCol, "month")

  /** F1 — epoch-milliseconds → date (`bronze/transformers.py:72`). */
  def epochMsToDate(c: Column): Column = to_date(timestamp_millis(c))

  /** True range (ATR input): greatest of high-low, |high-prevClose|,
    * |low-prevClose| (`silver/indicators.py:47-52`). */
  def trueRange(high: Column, low: Column, prevClose: Column): Column =
    when(prevClose.isNull, high - low)
      .otherwise(greatest(high - low, abs(high - prevClose), abs(low - prevClose)))

  /** Skew-salted equi-join: replicate the (small) right side `salts`× and
    * scatter the left side by a hash of `leftUnique`, so one hot key spreads
    * over `salts` reducers instead of melting a single one. AQE's skew-join
    * split handles sort-merge skew at runtime; this is for the cases it
    * can't touch (skewed broadcast-build rows, deterministic layout needs).
    * Semantically identical to `left.join(right, key)` — pinned by spec. */
  def saltedJoin(left: org.apache.spark.sql.DataFrame,
                 right: org.apache.spark.sql.DataFrame,
                 key: Seq[String], salts: Int,
                 leftUnique: Column): org.apache.spark.sql.DataFrame = {
    val saltedLeft = left.withColumn("_salt", pmod(hash(leftUnique), lit(salts)))
    val saltedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, key :+ "_salt").drop("_salt")
  }

  /** Morton/Z-order value of two 16-bit-bounded non-negative ints: bit i of
    * `x` lands at output bit 2i, bit i of `y` at 2i+1, so sorting by the
    * result interleaves both dimensions — files in a z-sorted layout get
    * narrow min/max ranges on BOTH columns (2-D data skipping; the 1-D
    * version is a range-partitioned sort on one column). Pure integer
    * mask-shift arithmetic (the classic magic-number bit spread), identical
    * on any engine — no UDF, fully codegen'd. */
  def zorder2(x: Column, y: Column): Column = {
    def spread(c: Column): Column = {
      val a = c.cast("long")
      val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
      val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
      e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** round(x, 6) with Spark's Round semantics (HALF_UP over the decimal
    * string representation) so driver-local math — k-means centroids,
    * decoded pixel stats — agrees bit-for-bit with in-plan `round(col, 6)`
    * scoring. The cross-engine rounding doctrine lives here once; op
    * modules share this instead of growing private copies. */
  private[graft] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** P7 — non-strict schema coercion: cast every field, bad values → null
    * (`schemas.py:108-129`; Spark ANSI-off cast has the same semantics). */
  def coerceTo(df: org.apache.spark.sql.DataFrame,
               schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
}
