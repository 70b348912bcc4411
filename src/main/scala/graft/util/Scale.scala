package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism hygiene for CPU-heavy per-row stages (minhash, shingling,
  * decode).
  *
  * The test parquet files are single-row-group → a 1-task scan that would
  * serialize any per-row CPU behind it. A 100 TB lake scan is the
  * opposite: thousands of input splits, where an unconditional
  * `repartition` would re-shuffle the entire corpus — doubling the most
  * expensive IO in the job for nothing. [[widen]] reconciles the two:
  * it exchanges ONLY when the scan's parallelism is below the cluster's,
  * so small/test inputs fan out and well-split lake scans pass through
  * untouched.
  */
object Scale {

  /** Session conf key: "auto" (default) inspects the input's partition
    * count per call; "never" passes through untouched (zero planning
    * cost — set on clusters where every scan is known well-split);
    * "always" exchanges unconditionally (debug/small-lake escape hatch).
    */
  val Mode = "spark.graft.scale.widen"

  /** A SOUND upper bound on `df`'s row count derived without running a
    * job: walk the optimized plan through row-preserving/-reducing
    * nodes (Project/Filter/Sample/Limit; Union sums) down to parquet
    * relations and sum footer record counts (O(files) driver metadata
    * reads — the same footers DeltaLite.footerStats trusts). Returns
    * None when any node could GROW the row count (join, generate) or a
    * leaf isn't plain parquet — callers fall back to an exact count.
    * Never an estimate: Catalyst's stats.rowCount is ignored because a
    * guard short-circuit needs soundness, not a CBO guess.
    */
  def rowCountUpperBound(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    lazy val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val MaxFooterReads = 512 // beyond this a distributed count() is cheaper
    def walk(p: LogicalPlan): Option[Long] = p match {
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c)
      case s: Sample => walk(s.child)
      case l: GlobalLimit => walk(l.child)
      case l: LocalLimit => walk(l.child)
      case a: SubqueryAlias => walk(a.child)
      case d: Distinct => walk(d.child)
      case d: Deduplicate => walk(d.child)
      case r: RepartitionOperation => walk(r.child)
      case u: Union =>
        u.children.map(walk).foldLeft(Option(0L)) {
          case (Some(a), Some(b)) => Some(a + b)
          case _ => None
        }
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles
            .filter(f => !f.endsWith("/_SUCCESS"))
          if (files.isEmpty || files.length > MaxFooterReads ||
              !files.forall(_.endsWith(".parquet"))) None
          else scala.util.Try(files.map { f =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f), conf), opts)
            try rd.getRecordCount finally rd.close()
          }.sum).toOption
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Repartition `df` by `key` iff its current partition count is below
    * `target` (default: the cluster's scheduling parallelism). Inspecting
    * the partition count plans `df` (no job runs; see [[partitionCount]])
    * — at very high query rates set [[Mode]] to "never" instead of
    * paying it per call.
    */
  def widen(df: DataFrame, key: Column, target: Int = 0): DataFrame = {
    val goal =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    df.sparkSession.conf.get(Mode, "auto") match {
      case "never" => df
      case "always" => df.repartition(goal, key)
      case _ =>
        if (partitionCount(df) < goal) df.repartition(goal, key) else df
    }
  }

  /** `df`'s partition count. A chain of projects and filters over one
    * non-bucketed file scan has the scan's partitions, read from the
    * planned scan's input RDD: physical planning only, no whole-stage
    * code compiled. Any other plan (exchanges, joins, subqueries,
    * non-file leaves) takes the count from `df.rdd`, which also
    * prepares and compiles the plan.
    */
  private[graft] def partitionCount(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
      ProjectExec, SparkPlan}
    def scanOf(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec if !s.bucketedScan => Some(s)
      case p: ProjectExec => scanOf(p.child)
      case f: FilterExec => scanOf(f.child)
      case _ => None
    }
    val plan = df.queryExecution.sparkPlan
    val subquery = plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[PlanExpression[_]])))
    scanOf(plan).filterNot(_ => subquery)
      .fold(df.rdd.getNumPartitions)(_.inputRDD.getNumPartitions)
  }
}
