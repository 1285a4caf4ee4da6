package graftbench

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}

/** Reads [[PlanFacts]] off a finished query. Exchanges and scans are
  * counted in the final plan: adaptive plans are entered through their
  * current (post-AQE) physical plan and query stages through the plan
  * they materialized; an exchange AQE reused is not counted again. */
object PlanWalk {

  /** Exchanges and file scans of the final plan of `qe`. */
  private def walk(qe: QueryExecution): (Int, Seq[FileSourceScanExec]) = {
    var exchanges = 0
    val scans = Seq.newBuilder[FileSourceScanExec]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec        => go(s.plan)
      case _: ReusedExchangeExec    => ()
      case e: Exchange              => exchanges += 1; e.children.foreach(go)
      case s: FileSourceScanExec    => scans += s
      case other =>
        other.children.foreach(go)
        other.subqueries.foreach(go)
    }
    go(qe.executedPlan)
    (exchanges, scans.result())
  }

  /** Bytes of the files the query's scans selected (each scan's "size
    * of files read" metric). Task input metrics are not used: they miss
    * the Parquet column-chunk reads. */
  def scanBytes(qe: QueryExecution): Long =
    walk(qe)._2.flatMap(_.metrics.get("filesSize")).map(_.value).sum

  def facts(qe: QueryExecution): PlanFacts = {
    val write = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val reads = qe.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _                   => Nil
      }
    }.flatten.distinct
    val (exchanges, scans) = walk(qe)
    PlanFacts(write, reads, exchanges, scans.size,
      qe.optimizedPlan.treeString(verbose = false).take(4000))
  }
}
