package graftbench

/** Per-layer metric names, units and directions, and the arithmetic
  * shared by the workloads' traced passes. Every traced run reports
  * every name in [[all]]; a layer the workload never calls reports 0. */
object Layers {

  val PipelineStages: Seq[String] = Seq("corpus", "mentions", "aliases", "links",
    "cc", "triples", "canon", "graph", "metrics", "verify")

  val OpsQueries: Seq[String] = Seq("q19_minhash_lsh", "q20_simhash",
    "q21_ngram_jaccard", "q23_ann_lsh", "q28_jaccard_stats",
    "q29_embed_neardup", "q30_ivf_ann", "q34_ivf_auto", "q35_ivf_refined")

  /** Short metric prefix of an ops query: `q19_minhash_lsh` -> `q19`. */
  def opsKey(q: String): String = q.takeWhile(_ != '_')

  private final class Names {
    private val b = Vector.newBuilder[(String, String, String)]
    def add(n: String, u: String, better: String = "lower"): Unit = b += ((n, u, better))
    def result(): Seq[(String, String, String)] = b.result()
  }

  /** (name, unit, better) of the per-layer metrics of the pipeline,
    * spark, canon and rdf layers, and the tracing overhead. */
  val core: Seq[(String, String, String)] = {
    val b = new Names
    import b.add
    for (s <- PipelineStages) {
      add(s"pipeline.$s.wall_s", "s"); add(s"pipeline.$s.task_s", "s")
      add(s"pipeline.$s.shuffle_mb", "MB")
    }
    add("pipeline.jobs", "count"); add("pipeline.gc_s", "s"); add("pipeline.spill_mb", "MB")
    add("spark.canon.wall_s", "s"); add("spark.canon.task_s", "s")
    add("spark.canon.shuffle_mb", "MB"); add("spark.canon.gc_s", "s")
    add("spark.canon.task_skew", "ratio")
    add("spark.parse.wall_s", "s"); add("spark.parse.task_s", "s")
    add("canon.issue_us", "us"); add("canon.serialize_us", "us"); add("canon.sha_us", "us")
    add("canon.hndq_calls", "count"); add("canon.alloc_kb", "KB")
    add("canon.quads", "count", "higher")
    add("rdf.parse_us", "us"); add("rdf.parse_alloc_kb", "KB")
    add("trace.overhead_s", "s")
    b.result()
  }

  /** Layer metrics of `kg_update`'s traced run. */
  val incremental: Seq[(String, String, String)] = {
    val b = new Names
    import b.add
    for (n <- Seq("fingerprint", "aliases", "cc", "fresh", "reuse"))
      add(s"incremental.${n}_s", "s")
    add("incremental.jobs", "count"); add("incremental.input_mb", "MB")
    add("incremental.shuffle_mb", "MB"); add("incremental.fresh_graphs", "count")
    add("incremental.reused_graphs", "count", "higher")
    b.result()
  }

  /** Layer metrics of `ops_neardup`'s traced run. */
  val ops: Seq[(String, String, String)] = {
    val b = new Names
    import b.add
    for (q <- OpsQueries.map(opsKey)) {
      add(s"ops.$q.wall_s", "s"); add(s"ops.$q.task_s", "s"); add(s"ops.$q.shuffle_mb", "MB")
      add(s"ops.$q.exchanges", "count"); add(s"ops.$q.scans", "count")
    }
    b.result()
  }

  val all: Seq[(String, String, String)] = core ++ incremental ++ ops

  /** Figures of one group of Spark stages (e.g. the per-graph grouping
    * stage of a canonicalization): wall = summed stage spans. */
  final case class StageGroup(wallS: Double, taskS: Double, shuffleReadMb: Double,
                              shuffleWriteMb: Double, gcS: Double, skew: Double)

  def stageGroup(w: Window, stageIds: Set[Int]): StageGroup = {
    val ts = w.tasks.filter(t => stageIds.contains(t.stageId))
    val wall = stageIds.toSeq.flatMap(w.stages.get)
      .map(s => (s.completedMs - s.submittedMs) / 1e3).sum
    val runs = ts.map(_.runS)
    val skew = if (runs.isEmpty) 0.0 else {
      val med = median(runs)
      if (med > 0) runs.max / med else 1.0
    }
    StageGroup(wall, runs.sum, ts.map(_.shuffleReadMb).sum,
      ts.map(_.shuffleWriteMb).sum, ts.map(_.gcS).sum, skew)
  }

  /** Spark stages of `jobs` that ran tasks, split into those that read
    * a shuffle (reduce side) and those that only wrote one (map side). */
  def splitStages(w: Window, keep: JobRec => Boolean): (Set[Int], Set[Int]) = {
    val ts = w.tasksOf(keep)
    val byStage = ts.groupBy(_.stageId)
    val reduce = byStage.collect { case (s, t) if t.exists(_.shuffleReadMb > 0) => s }.toSet
    val map = byStage.collect { case (s, t) if !reduce(s) && t.exists(_.shuffleWriteMb > 0) => s }.toSet
    (reduce, map)
  }

  def canonMetrics(g: StageGroup): Map[String, Double] = Map(
    "spark.canon.wall_s" -> g.wallS, "spark.canon.task_s" -> g.taskS,
    "spark.canon.shuffle_mb" -> g.shuffleReadMb, "spark.canon.gc_s" -> g.gcS,
    "spark.canon.task_skew" -> g.skew)

  /** Fails when a span the benchmark opened received no task events:
    * that would mean the listener window missed its work. */
  def requireTasks(span: String, tasks: Seq[TaskRec]): Unit =
    require(tasks.nonEmpty, s"span $span received no task events")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
