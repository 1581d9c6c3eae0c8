package graft.runtime

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.util.CollectionAccumulator

/** One per-partition lineage/metrics row (north_rule: "emits per-partition
 *  lineage and metrics rows"). */
case class StageMetric(
    run_id: String,
    stage: String,
    partition_id: Int,
    rows: Long,
    nanos: Long)

/**
 * A run's metrics table: one row per partition of every computed stage, plus
 * driver-side counters (`partition_id = -1`).
 *
 * [[instrument]] filters a stage's output by [[StageTally]], an always-true
 * leaf predicate. It compiles into the stage's own whole-stage code (or runs
 * interpreted where codegen is off), counts the rows that reach it in each
 * partition, and adds one [[StageMetric]] to the run's accumulator when the
 * task completes. No row leaves the generated code for it: there is no
 * encoder round trip, no per-stage deserializer or serializer to compile, and
 * no array element is boxed. The predicate is nondeterministic, so the
 * optimizer pushes no filter below it and does not drop it; column pruning
 * still passes through it. It sits after the stage's computation, so the
 * partition counts are exactly what the stage hands downstream — the lineage
 * view that makes skew visible (one partition with 100× the rows of its
 * siblings is the skew alarm).
 *
 * A stage whose plan runs more than once (a light stage that is not
 * persisted runs once per consumer) reports each partition once per run;
 * [[toDF]] keeps one row per `(stage, partition_id)`, the one with the most
 * rows, since only a partial pass (a limit) can count fewer. A stage that
 * Spark folds into a local relation at planning time runs in no task and
 * reports no partition rows.
 */
class Metrics(spark: SparkSession, runId: String) extends Serializable {
  val acc: CollectionAccumulator[StageMetric] =
    spark.sparkContext.collectionAccumulator[StageMetric]("graft.metrics")

  /** Driver-side metrics row (skew-drop totals, stage-level counters):
   *  `partition_id = -1` marks it as not-a-partition. */
  def record(stage: String, rows: Long, nanos: Long = 0L): Unit =
    acc.add(StageMetric(runId, stage, -1, rows, nanos))

  /** `df` unchanged, with its rows counted per partition under `stage`. */
  def instrument(df: DataFrame, stage: String): DataFrame =
    df.where(GraftColumnBridge.column(StageTally(acc, runId, stage)))

  /** Collected metrics as a DataFrame — the metrics-table sink. */
  def toDF(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (driver, partitions) = acc.value.asScala.toSeq.partition(_.partition_id < 0)
    val once = partitions.groupBy(m => (m.stage, m.partition_id)).values.map(_.maxBy(_.rows))
      .toSeq.sortBy(m => (m.stage, m.partition_id))
    spark.createDataFrame(driver ++ once)
  }
}

/** The row counter of one partition of one stage. */
final class PartitionTally {
  var rows = 0L
  def add(): Boolean = { rows += 1; true }
}

/**
 * `graft_stage_tally(stage)`: always true; counts the rows it sees per
 * partition and adds `StageMetric(runId, stage, partition, rows, nanos)` to
 * `acc` when the task completes (`nanos` from the partition's first call to
 * the task's end). Generated code opens the partition's tally in the
 * partition-initialisation statements and calls [[PartitionTally.add]] per
 * row; the interpreted path opens it in `initializeInternal`.
 */
case class StageTally(acc: CollectionAccumulator[StageMetric], runId: String, stage: String)
    extends LeafExpression with Nondeterministic with Predicate {
  override def nullable: Boolean = false
  // per-partition state: interpreted evaluators take a fresh copy each
  override def stateful: Boolean = true
  override def prettyName: String = "graft_stage_tally"
  override def toString: String = s"$prettyName($stage)"

  @transient private[this] var tally: PartitionTally = _

  /** A new tally for the running task's partition. Outside a task (the
   *  optimizer folding a filter over a local relation) nothing is recorded. */
  def open(): PartitionTally = {
    val t = new PartitionTally
    val tc = TaskContext.get()
    if (tc != null) {
      val pid = tc.partitionId()
      val t0 = System.nanoTime()
      tc.addTaskCompletionListener[Unit](_ =>
        acc.add(StageMetric(runId, stage, pid, t.rows, System.nanoTime() - t0)))
    }
    t
  }

  override protected def initializeInternal(partitionIndex: Int): Unit = tally = open()
  override protected def evalInternal(input: InternalRow): Any = tally.add()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftStageTally", this)
    val t = ctx.addMutableState(classOf[PartitionTally].getName, "graftTally")
    ctx.addPartitionInitializationStatement(s"$t = $self.open();")
    ev.copy(code = code"final boolean ${ev.value} = $t.add();", isNull = FalseLiteral)
  }
}
