package graftbench

import graft.pipeline.{Corpus, Kg, KgPipeline, LinkedMention}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** `kg_build`: the full staged `KgPipeline.run` from a seeded corpus
  * config, each pass into a fresh work directory (a completed stage
  * would otherwise be skipped on resume). */
final class KgBuild(ctx: Ctx, nRepos: Int) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val cfg: Corpus.Config = Corpus.Config(nRepos = nRepos, baseFilesPerRepo = 6,
    seed = ctx.seed, contentPadChars = 1500)
  private val reports = scala.collection.concurrent.TrieMap.empty[Int, KgPipeline.PipelineReport]
  private def dir(pass: Int) = ctx.work.resolve(s"kg-$pass")

  def land(): Unit = () // the pipeline's corpus stage generates and lands the corpus

  def run(pass: Int): Unit =
    reports(pass) = Meter.withSpan(spark.sparkContext, "pipeline") {
      KgPipeline.run(spark, dir(pass).toString, cfg)
    }

  private val warmCopies = 3

  /** Pass 0 with `warmCopies - 1` copies of it beside it, as passes
    * -1, -2, ... on their own threads. A pass is mostly planning on the
    * driver thread, with the cores idle, so the copies cost little wall
    * time and bring the JIT to where later passes would: after one
    * warm-up pass alone, the first timed pass took 30-90% more task CPU
    * time than the fifth (4 vCPU, `local[4]`). Every copy is checked
    * like pass 0. */
  override def warmUp(): Checked = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val copies = (1 until warmCopies).map { i =>
      val t = new Thread(() => try run(-i) catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    try run(0) finally copies.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val checked = (0 until warmCopies).map(i => check(-i)).reduce(_ + _)
    (1 until warmCopies).foreach(i => cleanup(-i))
    checked
  }

  def graphsOk(pass: Int): Long = reports(pass).okGraphs

  def check(pass: Int): Checked = {
    val r = reports(pass)
    Checked.of("kg_build precision", 1, r.precision >= 0.95, s"P=${r.precision}") +
      Checked.of("kg_build recall", 1, r.recall >= 0.95, s"R=${r.recall}") +
      Checked(r.totalGraphs, r.totalGraphs - r.okGraphs,
        if (r.okGraphs == r.totalGraphs) Nil
        else Seq(s"kg_build: ${r.totalGraphs - r.okGraphs} graphs not ok")) +
      Checked.of("kg_build graph count", 1, r.totalGraphs == nRepos,
        s"${r.totalGraphs} graphs for $nRepos repos")
  }

  /** staged == fused: the fused path, fed the warm-up pass's landed
    * links and entity map, gives the same (repo, outputSha256) set. */
  def checkOnce(): Checked = {
    val d = dir(0)
    val staged = Io.digest(spark.read.parquet(s"$d/canon").select("key", "outputSha256"))
    val fused = Io.digest(Kg.canonicalizeFromMentions(
      spark.read.parquet(s"$d/links").as[LinkedMention],
      spark.read.parquet(s"$d/cc")).select("key", "outputSha256"))
    Checked.of("kg_build staged==fused", staged._1, staged == fused,
      s"staged $staged vs fused $fused")
  }

  /** Stage attribution: a write execution belongs to the stage whose
    * directory it lands in; work that precedes a stage's write (probes
    * collected into the caller, checkpoints) belongs to that stage; a read-only query of
    * the stage just landed (row count, sha invariant) and everything
    * after the last write (P/R, graph status counts) is `verify`. */
  def layers(pass: Int, w: Window): Map[String, Double] = {
    val stageNames = Layers.PipelineStages.toSet
    def stageOf(path: String): Option[String] = {
      val p = path.stripSuffix("/")
      val name = p.substring(p.lastIndexOf('/') + 1)
      if (p.contains(s"/kg-$pass/") && stageNames(name)) Some(name) else None
    }
    // units in start order: root SQL executions and jobs outside any
    final case class Piece(startMs: Long, endMs: Long, execRoot: Option[Long],
                           jobId: Option[Int], plan: Option[PlanFacts])
    val roots = w.execs.filter(e => e.id == e.root)
    val rootOf = w.execs.map(e => e.id -> e.root).toMap
    val units = (roots.map(e => Piece(e.startMs, e.endMs, Some(e.id), None, e.plan)) ++
      w.jobs.filter(_.execId.isEmpty)
        .map(j => Piece(j.startMs, j.endMs, None, Some(j.jobId), None)))
      .sortBy(_.startMs)
    val stageOfUnit = mutable.HashMap.empty[Piece, String]
    var lastWritten: Option[String] = None
    val pending = mutable.ArrayBuffer.empty[Piece]
    for (u <- units) {
      val wrote = u.plan.flatMap(_.writePath).flatMap(stageOf)
      val reads = u.plan.map(_.readPaths.flatMap(stageOf)).getOrElse(Nil)
      wrote match {
        case Some(s) =>
          (pending :+ u).foreach(stageOfUnit(_) = s); pending.clear()
          lastWritten = Some(s)
        case None if reads.nonEmpty && lastWritten.exists(l => reads.forall(_ == l)) =>
          stageOfUnit(u) = "verify"
        case None => pending += u
      }
    }
    pending.foreach(stageOfUnit(_) = "verify")

    def jobStage(j: JobRec): Option[String] = j.execId match {
      case Some(e) => units.find(_.execRoot.contains(rootOf.getOrElse(e, e))).flatMap(stageOfUnit.get)
      case None    => units.find(_.jobId.contains(j.jobId)).flatMap(stageOfUnit.get)
    }
    val stageOfJob = w.jobs.flatMap(j => jobStage(j).map(j.jobId -> _)).toMap
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (s <- Layers.PipelineStages) {
      val us = stageOfUnit.collect { case (u, st) if st == s => u }
      val ts = w.tasksOf(j => stageOfJob.get(j.jobId).contains(s))
      Layers.requireTasks(s"pipeline.$s", ts)
      out(s"pipeline.$s.wall_s") = us.map(u => (u.endMs - u.startMs) / 1e3).sum
      out(s"pipeline.$s.task_s") = ts.map(_.runS).sum
      out(s"pipeline.$s.shuffle_mb") = ts.map(_.shuffleWriteMb).sum
    }
    out("pipeline.jobs") = w.jobs.size
    out("pipeline.gc_s") = w.gcS
    out("pipeline.spill_mb") = w.spillMb
    // the canon stage's per-graph grouping (the reduce side of its exchange)
    val (reduce, _) = Layers.splitStages(w, j => stageOfJob.get(j.jobId).contains("canon"))
    out ++= Layers.canonMetrics(Layers.stageGroup(w, reduce))
    out.toMap
  }

  def sampleDocs(n: Int): Seq[String] = {
    val last = reports.keys.max
    spark.read.parquet(s"${dir(last)}/canon").where(col("status") === "ok")
      .orderBy("key").select("canonicalNQuads").as[String].take(n).toSeq
  }

  def cleanup(pass: Int): Unit = Io.rmrf(dir(pass))
}
