package org.apache.spark.sql.graftbridge

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, DynamicPruning, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, WithCTE}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.unsafe.Platform

/** Streams a query's rows to the driver in result order, one Spark job
  * per WAVE of up to `defaultParallelism` result partitions.
  *
  * A Spark job costs a fixed ~20 ms of driver time (4-core host) however
  * little it does, so one job per partition would make a small result
  * spread over many partitions pay for many job launches. A wave fills
  * every task slot in one job; waves run and are emitted in
  * partition order, so the driver holds at most one wave of the result
  * (`spark.driver.maxResultSize` applies per wave).
  *
  * A root global ORDER BY (a `Sort`, or `Project`s over one) whose
  * input has at most one wave of partitions is
  * planned instead as per-partition local sorts, run as ONE job, and
  * k-way merged on the driver with Spark's own
  * [[LazilyGeneratedOrdering]] — as `TakeOrderedAndProjectExec` does for
  * ORDER BY … LIMIT. That drops the RangePartitioner's sampling job and
  * the range shuffle. The partition count is read from the physical
  * plan BEFORE anything runs; an input of unknown or larger size keeps
  * Spark's range-partitioned plan, so no Spark work ever runs twice.
  */
object ResultStream {

  /** Calls `emit` with every row of `df`, in result order. A row is
    * only valid during its `emit` call. */
  def foreach(df: DataFrame)(emit: InternalRow => Unit): Unit = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val sc = ds.sparkSession.sparkContext
    val wave = math.max(1, sc.defaultParallelism)
    val merge = localSortMerge(ds, wave)
    val qe = merge.map(_._1).getOrElse(ds.queryExecution)
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val width = qe.executedPlan.output.length
      val rdd = qe.executedPlan.execute()
      val all = 0 until rdd.getNumPartitions
      merge match {
        case Some((_, ordering)) =>
          // one job over every partition: the plan check bounded them to
          // one wave (AQE can only re-split a skewed join's partitions,
          // which leaves the rows held the same)
          val parts = sc.runJob(rdd, pack _, all).map(unpack(_, width))
          org.apache.spark.util.collection.Utils
            .mergeOrdered[InternalRow](parts.toSeq)(ordering).foreach(emit)
        case None =>
          all.grouped(wave).foreach(ids => sc.runJob(rdd, pack _, ids).foreach(unpack(_, width).foreach(emit)))
      }
    }
  }

  /** The local-sort plan of a root ORDER BY, with the ordering that
    * merges its partitions, or None when the root is not a global sort
    * or its input is not known to fit in one wave. The rewrite is made
    * on the analyzed plan, so the query is optimized and planned once. */
  private def localSortMerge(ds: Dataset[Row], wave: Int): Option[(QueryExecution, Ordering[InternalRow])] =
    withSortKeys(ds.queryExecution.analyzed).flatMap { case (plan, order) =>
      val local = Dataset.ofRows(ds.sparkSession, plan).queryExecution
      partitionCount(local.executedPlan).filter(_ <= wave).map { _ =>
        // the keys follow the query's own columns
        val width = ds.queryExecution.analyzed.output.length
        val bound = order.zipWithIndex.map { case (o, i) =>
          SortOrder(BoundReference(width + i, o.dataType, o.nullable), o.direction, o.nullOrdering, Seq.empty)
        }
        (local, new LazilyGeneratedOrdering(bound))
      }
    }

  /** `plan` with its root global sort — under any chain of projections
    * and CTE definitions — made a per-partition sort, and the sort keys
    * carried up to the end of the output; None for any other root. */
  private def withSortKeys(plan: LogicalPlan): Option[(LogicalPlan, Seq[SortOrder])] = plan match {
    case s: Sort if s.global && s.order.forall(_.deterministic) =>
      val keys = s.order.zipWithIndex.map { case (o, i) => Alias(o.child, s"_k$i")() }
      Some((Project(s.child.output ++ keys, s.copy(global = false)), s.order))
    case p: Project =>
      withSortKeys(p.child).map { case (c, order) =>
        (Project(p.projectList ++ c.output.takeRight(order.length), c), order)
      }
    case w: WithCTE => withSortKeys(w.plan).map { case (c, order) => (w.copy(plan = c), order) }
    case _ => None
  }

  /** Result partitions of `p`, read from the plan without running it;
    * None when a node's count is only known once it runs. */
  private def partitionCount(p: SparkPlan): Option[Int] = p match {
    case a: AdaptiveSparkPlanExec => partitionCount(a.inputPlan)
    case s: FileSourceScanExec =>
      // dynamic partition pruning resolves its file list by running a
      // subquery
      if (s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning]))) None
      else Some(s.inputRDD.getNumPartitions)
    case l: LocalTableScanExec => Some(l.inputRDD.getNumPartitions)
    case _ if p.outputPartitioning.numPartitions > 0 => Some(p.outputPartitioning.numPartitions)
    case j: BroadcastHashJoinExec => partitionCount(if (j.buildSide == BuildLeft) j.right else j.left)
    case _ => p.children match {
      // the remaining unary operators map partitions one to one
      case Seq(c) => partitionCount(c)
      case _ => None
    }
  }

  /** Executor side: a partition's rows as one byte array of
    * (size, UnsafeRow bytes) records. */
  private def pack(rows: Iterator[InternalRow]): Array[Byte] = {
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

  private def unpack(bytes: Array[Byte], width: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val in = ByteBuffer.wrap(bytes)
    def hasNext: Boolean = in.hasRemaining
    def next(): InternalRow = {
      val size = in.getInt()
      val row = new UnsafeRow(width)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      row
    }
  }
}
