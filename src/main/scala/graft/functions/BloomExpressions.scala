package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `might_contain(bloom, col)` as a native codegen predicate.
  *
  * Spark uses bloom-pruned joins internally (runtime row-level filtering)
  * but exposes no public expression for testing a column against a
  * pre-built [[BloomFilter]]. This fills that gap for the incremental-dedup
  * over-cap path: when a delta touches more buckets than an IN-list can
  * carry, a bloom built from the delta's keys still prunes the stored side
  * row-by-row BEFORE its shuffle into the join — the join's equality then
  * discards the false positives exactly, so the result is unchanged while
  * the shuffled stored-side volume drops to ~(matching rows + fpp·rest).
  *
  * The filter object rides into generated code via `addReferenceObj` (it's
  * java-serializable, a few MB at 1% fpp over millions of keys — broadcast
  * with the task binary, never per-row). Membership hashes the UTF-8 bytes
  * directly (`mightContainBinary` ≡ `mightContainString` in Spark's sketch
  * impl) so no String materializes per row.
  */
case class BloomMightContain(child: Expression, bloom: BloomFilter)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"might_contain requires a string/long/int key column, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case StringType => bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
    case LongType   => bloom.mightContainLong(v.asInstanceOf[Long])
    case IntegerType => bloom.mightContainLong(v.asInstanceOf[Int].toLong)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[BloomFilter].getName)
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong((long) $c)")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpressions {
  /** Column-API entry: `df.filter(mightContain(bloom, col("key")))`. */
  def mightContain(bloom: BloomFilter, key: Column): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(key), bloom))
}
