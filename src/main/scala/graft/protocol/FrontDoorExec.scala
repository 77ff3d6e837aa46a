package graft.protocol

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.execution.{FilterExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** How the MySQL listener runs a statement that returns rows — the one
  * path behind both COM_QUERY and COM_STMT_EXECUTE.
  *
  * Stable literals: a front door serves the same statement shape with a
  * new literal each time (`WHERE l_orderkey = N`). Spark bakes a literal
  * into the generated code, so each new value compiles a fresh
  * whole-stage class and runs it cold. The executed plan is therefore
  * copied with every non-null primitive literal that is a direct operand
  * of a comparison, an `IN` or an arithmetic operator inside a
  * `FilterExec` condition replaced by a [[LiteralSlot]], whose code reads
  * the value from the stage's `references`. Statements that differ only
  * in those literals then generate identical code and share one compiled,
  * JIT-warm class. Plans under `AdaptiveSparkPlanExec` are left as they
  * are (that node is a leaf to `transform`); point lookups have no
  * exchange and so are not adaptive.
  *
  * One job per window: the copy runs inside one SQL execution of the
  * statement's `QueryExecution`, as one Spark job per window of at most
  * `defaultParallelism` partitions. Each window's rows are handed over in
  * partition order before the next job starts, so an ORDER BY result
  * keeps its global order and the driver holds at most one window's rows.
  * Listeners see the statement's real jobs, and its scan metrics once
  * they have run (the scan nodes are shared with the original plan).
  */
object FrontDoorExec {

  private val Slotted: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    DoubleType, FloatType, DateType, TimestampType)

  /** Runs `df` and hands each row to `emit` in partition order. */
  def foreachRow(df: DataFrame)(emit: Row => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val plan = stableLiterals(qe.executedPlan)
      val rdd = plan.execute()
      val sc = qe.sparkSession.sparkContext
      val width = math.max(1, sc.defaultParallelism)
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      val row = new UnsafeRow(plan.output.length)
      (0 until rdd.getNumPartitions).grouped(width).foreach { window =>
        sc.runJob(rdd, encode _, window).foreach { bytes =>
          val in = ByteBuffer.wrap(bytes)
          while (in.hasRemaining) {
            val size = in.getInt()
            row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
            in.position(in.position() + size)
            emit(toRow(row))
          }
        }
      }
    }
  }

  /** `plan` with the primitive literals of its filter conditions moved
    * into [[LiteralSlot]]s; the same instance when there are none. */
  def stableLiterals(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec =>
      val cond = f.condition.transform {
        case e @ (_: BinaryComparison | _: In | _: BinaryArithmetic) => e.mapChildren {
          case Literal(v, dt) if v != null && Slotted(dt) => LiteralSlot(v, dt)
          case other => other
        }
      }
      if (cond eq f.condition) f else f.copy(condition = cond)
  }

  /** One partition's rows as size-prefixed `UnsafeRow` bytes (a physical
    * plan's rows are `UnsafeRow`s, as Spark's own collect assumes). */
  private def encode(rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    rows.foreach { r =>
      val u = r.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
    }
    out.flush()
    bytes.toByteArray
  }
}

/** A non-null primitive literal whose generated code reads the value
  * once from the stage's `references` into a field, so the code text does
  * not depend on the value. Not foldable, so no rule folds it back;
  * interpreted evaluation returns the value. */
final case class LiteralSlot(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "literal",
      v => s"$v = $ref;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}
