package graft.plans

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Expression, InputFileName, Literal, RowNumber, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Union, Window}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.{Window => WindowSpec}
import org.apache.spark.sql.functions.row_number

import graft.ops.Names

/** Keep-first-per-key over an input whose key groups never span two
  * partitions — the staging dedup on (id, filename) of
  * workfile_design_data_warehouse.sql:265–266 without its exchange.
  *
  * A multiLine CSV file is never split, so one task reads it whole, and
  * a key built from the file's name puts each key group inside one
  * file. The window dedup still hash-shuffles and sorts every row on
  * the key; this node keeps the first row of each group in `order`
  * inside each partition instead. It plans as Spark's own
  * `WindowGroupLimitExec(Partial)` with row_number and limit 1, and
  * `EnsureRequirements` adds the partition-local sort on keys + order
  * — no exchange, no extra stage.
  *
  * Chosen only when [[of]] proves the property from the plan alone;
  * any other input keeps the window dedup.
  */
case class FileLocalDedup(keys: Seq[Expression], order: Seq[SortOrder],
                          child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): FileLocalDedup =
    copy(child = newChild)
}

object FileLocalDedupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FileLocalDedup(keys, order, child) =>
      WindowGroupLimitExec(keys, order, RowNumber(), 1, Partial, planLater(child)) :: Nil
    case _ => Nil
  }
}

object FileLocalDedup {

  /** `df` deduplicated to the first row per `keys` in `order` — the
    * window dedup's result — as a [[FileLocalDedup]], or None when the
    * plan does not prove that no key group spans two partitions. That
    * holds when:
    *   1. every leaf is a file relation whose format does not split
    *      its files (multiLine CSV);
    *   2. only Project, Filter and Union sit between those leaves and
    *      `df`;
    *   3. one key is a function of `input_file_name()` alone, and no
    *      two files across the leaves give it the same value.
    * Keys and order are resolved exactly as the window form resolves
    * them. Injects [[FileLocalDedupStrategy]] into the session planner
    * on first use (idempotent, the [[Skyline.of]] route). */
  def of(df: DataFrame, keys: Seq[Column], order: Seq[Column]): Option[DataFrame] = {
    val spec = WindowSpec.partitionBy(keys: _*).orderBy(order: _*)
    // withColumn, not select: the Window's child then carries every
    // column of df (plus any key or order expression it had to compute)
    val window = df.withColumn(Names.fresh("rn", df.columns), row_number().over(spec))
      .queryExecution.analyzed
      .collectFirst { case w: Window => w }
      .getOrElse(throw new IllegalStateException("window dedup plan has no Window"))
    if (!window.partitionSpec.exists(fileLocalKey(window.child, _))) None
    else {
      val spark = df.sparkSession
      if (!spark.experimental.extraStrategies.contains(FileLocalDedupStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ FileLocalDedupStrategy
      val plan = Project(df.queryExecution.analyzed.output,
        FileLocalDedup(window.partitionSpec, window.orderSpec, window.child))
      Some(org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, plan))
    }
  }

  /** Whether `key` over `plan`'s output takes a distinct value in each
    * file `plan` reads, with conditions 1 and 2 of [[of]] holding. */
  private def fileLocalKey(plan: LogicalPlan, key: Expression): Boolean =
    valuesPerFile(plan, key).exists(vs => vs.distinct.size == vs.size)

  /** The value `e` (over `plan`'s output) takes for each file the
    * leaves of `plan` read, one entry per (leaf, file); None unless the
    * plan is Project/Filter/Union over unsplittable file relations and
    * `e` traces back to an expression of `input_file_name()` alone. */
  private def valuesPerFile(plan: LogicalPlan, e: Expression): Option[Seq[Any]] =
    plan match {
      case Project(list, child) =>
        val defs = AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
        valuesPerFile(child, e.transformUp { case a: Attribute if defs.contains(a) => defs(a) })
      case Filter(_, child) =>
        valuesPerFile(child, e)
      case u: Union =>
        u.children.foldLeft(Option(Seq.empty[Any])) { (acc, c) =>
          val byPosition = AttributeMap(u.output.zip(c.output))
          acc.flatMap(vs => valuesPerFile(c,
            e.transformUp { case a: Attribute if byPosition.contains(a) => byPosition(a) })
            .map(vs ++ _))
        }
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        // URL-encoded paths: the string input_file_name() reads
        val files = fs.location.inputFiles.toSeq
        val unsplit = files.forall(f => !fs.fileFormat.isSplitable(
          fs.sparkSession, fs.options, SparkPath.fromUrlString(f).toPath))
        if (!unsplit || e.references.nonEmpty || !e.exists(_.isInstanceOf[InputFileName])) None
        else scala.util.Try(files.map(f =>
          e.transformUp { case _: InputFileName => Literal(f) }.eval())).toOption
      case _ => None
    }
}
