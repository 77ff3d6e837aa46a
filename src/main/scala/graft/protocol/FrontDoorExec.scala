package graft.protocol

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, LocalTableScanExec,
  OneRowRelationExec, ProjectExec, SQLExecution, SparkPlan, WholeStageCodegenExec}
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
  * Only the statement's own work: a plan whose rows are already on the
  * driver — a command's result (`CommandResultExec`), a local relation
  * (`LocalTableScanExec`), or a projection of foldable expressions over
  * no table (`SELECT @@version_comment`) — answers from the driver and
  * runs no Spark job. Any other plan runs, inside one SQL execution of
  * the statement's `QueryExecution`, as one Spark job per window of at
  * most `defaultParallelism` partitions; each task ships its partition's
  * `UnsafeRow`s as bytes, and each window's rows are handed over in
  * partition order before the next job starts, so an ORDER BY result
  * keeps its global order and the driver holds at most one window's rows.
  * The job function is this object's own closure, so Spark's closure
  * cleaner reads only this small class per job. Listeners see the
  * statement's real jobs, and its scan metrics once they have run (the
  * scan nodes are shared with the original plan).
  */
object FrontDoorExec {

  private val Slotted: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    DoubleType, FloatType, DateType, TimestampType)

  /** Runs `df` and hands each row to `emit` in partition order. The row
    * instance may be reused for the next row. */
  def foreachRow(df: DataFrame)(emit: InternalRow => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      onDriver(qe.executedPlan) match {
        case Some(rows) => rows.foreach(emit)
        case None =>
          val plan = stableLiterals(qe.executedPlan)
          val rdd = plan.execute()
          val sc = qe.sparkSession.sparkContext
          val width = math.max(1, sc.defaultParallelism)
          val row = new UnsafeRow(plan.output.length)
          (0 until rdd.getNumPartitions).grouped(width).foreach { window =>
            val parts = new Array[Array[Byte]](window.size)
            sc.runJob(rdd, encodeTask, window, (i: Int, bytes: Array[Byte]) => parts(i) = bytes)
            parts.foreach { bytes =>
              val in = ByteBuffer.wrap(bytes)
              while (in.hasRemaining) {
                val size = in.getInt()
                row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
                in.position(in.position() + size)
                emit(row)
              }
            }
          }
      }
    }
  }

  /** The rows of a plan that already holds them on the driver; None when
    * answering needs a job. */
  private def onDriver(plan: SparkPlan): Option[Iterator[InternalRow]] = plan match {
    case p @ (_: CommandResultExec | _: LocalTableScanExec) => Some(p.executeCollect().iterator)
    case WholeStageCodegenExec(p) => onDriver(p)
    case ProjectExec(exprs, _: OneRowRelationExec)
        if exprs.forall { case Alias(e, _) => e.foldable; case e => e.foldable } =>
      Some(Iterator.single(InternalRow.fromSeq(exprs.map(_.eval()))))
    case _ => None
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

  private val encodeTask = (_: TaskContext, rows: Iterator[InternalRow]) => encode(rows)

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
