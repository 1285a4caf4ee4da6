package graftbench

import graft.pipeline.{Corpus, FileRow, Incremental}
import graft.spark.CanonEngine
import org.apache.spark.sql.DataFrame

import scala.collection.mutable
import scala.util.Random

/** `kg_update`: set-up lands a bucketed corpus (A) and a copy of it in
  * which a seeded ~0.5% of repos changed (B), and bootstraps state from
  * A with `Incremental.runBucketed`. A timed pass applies the increment
  * A -> B from that landed state and writes the Increment's fields one
  * at a time. */
final class KgUpdate(ctx: Ctx, nRepos: Int, nChanged: Int) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val sc = spark.sparkContext

  private val cfg = Corpus.Config(nRepos = nRepos, baseFilesPerRepo = 6,
    mentionsPerFile = 8, seed = ctx.seed, contentPadChars = 1500)
  private val dictNames = (0 until cfg.nEntities).map(Corpus.entityName)
  private def p(name: String) = ctx.work.resolve(name).toString
  private def passDir(pass: Int) = ctx.work.resolve(s"inc-$pass")

  /** Seeded changed repos; repo0000 (the skewed mega-repo) stays put. */
  val changed: Set[String] = {
    val rnd = new Random(ctx.seed ^ 0x5EED)
    rnd.shuffle((1 until nRepos).toVector).take(nChanged).map(i => f"repo$i%04d").toSet
  }
  private var ccFp0 = 0L
  private var bootstrapS = Double.NaN
  private val okCounts = mutable.HashMap.empty[Int, Long]

  /** Rewrite a changed repo's files: new mention text, alias facts kept
    * (so the entity map, and with it the increment path, holds). */
  private def mutated(files: org.apache.spark.sql.Dataset[FileRow]) = {
    val ch = sc.broadcast(changed)
    val seed = ctx.seed
    files.map { f =>
      if (!ch.value.contains(f.repo)) f
      else {
        val aliasLines = f.content.linesIterator.filter(_.contains("// alias:")).mkString("\n")
        val ent = Corpus.entityName((Corpus.mix64(seed ^ f.path.hashCode) & 127).toInt)
        val c = s"rewritten ${f.path} mentions $ent only\n$aliasLines"
        f.copy(content = c, content_sha = CanonEngine.sha256Hex(c))
      }
    }
  }

  private def bootstrap(corpus: String, out: String): Incremental.Increment = {
    val inc = Meter.withSpan(sc, "incremental.bootstrap") {
      Incremental.runBucketed(spark, corpus, dictNames, None)
    }
    inc.state.write.parquet(s"$out/state")
    inc.aliases.write.parquet(s"$out/aliases")
    inc.newDocs.write.parquet(s"$out/docs")
    inc
  }

  def land(): Unit = {
    val files = Corpus.generate(spark, cfg)
    Incremental.writeBucketed(files, p("corpusA"))
    Incremental.writeBucketed(mutated(files), p("corpusB"))
    ccFp0 = bootstrap(p("corpusA"), p("boot")).ccFingerprint
  }

  def run(pass: Int): Unit = {
    val prevState = spark.read.parquet(p("boot/state"))
    val prevAliases = spark.read.parquet(p("boot/aliases"))
    val inc = Meter.withSpan(sc, "incremental.run") {
      Incremental.runBucketed(spark, p("corpusB"), dictNames,
        Some((ccFp0, prevState)), prevAliases = Some(prevAliases))
    }
    for ((name, span, df) <- Seq(
        ("fresh", "incremental.fresh", inc.fresh),
        ("reused", "incremental.reuse", inc.reused),
        ("newDocs", "incremental.fresh", inc.newDocs),
        ("aliases", "incremental.aliases", inc.aliases)))
      Meter.withSpan(sc, span)(df.write.parquet(s"${passDir(pass)}/$name"))
  }

  private def stateOf(pass: Int): DataFrame =
    spark.read.parquet(s"${passDir(pass)}/fresh")
      .unionByName(spark.read.parquet(s"${passDir(pass)}/reused"))

  def check(pass: Int): Checked = {
    val d = passDir(pass)
    val fresh = spark.read.parquet(s"$d/fresh").select("repo", "status").as[(String, String)].collect()
    val reused = spark.read.parquet(s"$d/reused").select("repo").as[String].collect().toSet
    okCounts(pass) = fresh.count(_._2 == "ok")
    val freshRepos = fresh.map(_._1).toSet
    val rest = (0 until nRepos).map(i => f"repo$i%04d").toSet -- changed
    Checked.of("kg_update fresh == changed", fresh.length, fresh.length == freshRepos.size &&
      freshRepos == changed, s"${freshRepos.size} fresh vs ${changed.size} changed") +
      Checked.of("kg_update reused == rest", reused.size, reused == rest,
        s"${reused.size} reused vs ${rest.size} unchanged") +
      Checked.of("kg_update fresh graphs ok", fresh.length, fresh.forall(_._2 == "ok"),
        s"${fresh.count(_._2 != "ok")} not ok")
  }

  def graphsOk(pass: Int): Long = okCounts.getOrElse(pass, 0L)

  /** The increment's state equals a full bootstrap of B (no prior state); that
    * bootstrap's wall time is `bootstrap_s`. */
  def checkOnce(): Checked = {
    val t0 = System.nanoTime()
    bootstrap(p("corpusB"), p("bootB"))
    bootstrapS = (System.nanoTime() - t0) / 1e9
    val cols = Seq("repo", "fingerprint", "status", "quadCount", "bnodeCount", "outputSha256")
    val full = Io.digest(spark.read.parquet(p("bootB/state")).select(cols.head, cols.tail: _*))
    val inc = Io.digest(stateOf(0).select(cols.head, cols.tail: _*))
    Checked.of("kg_update increment == bootstrap(B)", full._1, full == inc,
      s"increment $inc vs bootstrap $full")
  }

  override def extras: Seq[(String, Double, String)] = Seq(("bootstrap_s", bootstrapS, "s"))

  /** Phases inside `Incremental.runBucketed`, in the order it runs them,
    * told apart by the queries that end or start each phase: the
    * per-repo fingerprint aggregate ends `fingerprint`; the changed
    * sliver and alias-edge checkpoints follow (`aliases`) until the
    * connected-components edge probe (a GlobalLimit) starts `cc`; the
    * fused canonicalization's dictionary collect or its checkpoint
    * starts `fresh`. Jobs outside any SQL execution (file listings,
    * checkpoints) fall in the phase they run in. The writes of the
    * Increment's fields are the benchmark's own spans. */
  def layers(pass: Int, w: Window): Map[String, Double] = {
    val spans = Seq("incremental.run", "incremental.fresh", "incremental.reuse",
      "incremental.aliases")
    spans.foreach(s => Layers.requireTasks(s, w.tasksOf(_.span == s)))
    val rootOf = w.execs.map(e => e.id -> e.root).toMap
    def root(j: JobRec) = j.execId.map(e => rootOf.getOrElse(e, e))
    // units: root executions and exec-less jobs, each with the span it ran in
    final case class U(startMs: Long, endMs: Long, span: String, tree: String,
                       exec: Option[Long], job: Option[Int])
    val spanOfRoot = w.jobs.flatMap(j => root(j).map(_ -> j.span)).toMap
    val units = (w.execs.filter(e => e.id == e.root && spanOfRoot.contains(e.id)).map(e =>
      U(e.startMs, e.endMs, spanOfRoot(e.id), e.plan.map(_.tree).getOrElse(""), Some(e.id), None)) ++
      w.jobs.filter(_.execId.isEmpty).map(j =>
        U(j.startMs, j.endMs, j.span, "", None, Some(j.jobId)))).sortBy(_.startMs)
    val run = units.filter(_.span == "incremental.run")
    def firstIdx(p: U => Boolean, from: Int) = {
      val k = run.indexWhere(p, from); if (k < 0) run.length else k
    }
    val fpEnd = firstIdx(_.tree.contains(" AS fingerprint#"), 0) + 1
    val ccStart = firstIdx(_.tree.startsWith("GlobalLimit"), fpEnd)
    val freshStart = firstIdx(u => u.tree.startsWith("LocalRelation [entity") ||
      u.tree.contains("canonicalNQuads"), ccStart)
    val phase = run.zipWithIndex.map { case (u, k) =>
      u -> (if (k < fpEnd) "fingerprint" else if (k < ccStart) "aliases"
        else if (k < freshStart) "cc" else "fresh")
    }.toMap
    def phaseOf(u: U): String = u.span match {
      case "incremental.run"     => phase(u)
      case "incremental.reuse"   => "reuse"
      case "incremental.aliases" => "aliases"
      case _                     => "fresh"
    }
    val walls = units.filter(u => spans.contains(u.span)).groupBy(phaseOf)
      .map { case (k, us) => k -> us.map(u => (u.endMs - u.startMs) / 1e3).sum }
    val mine = w.tasksOf(j => spans.contains(j.span))
    val d = passDir(pass)
    Map(
      "incremental.fingerprint_s" -> walls.getOrElse("fingerprint", 0.0),
      "incremental.aliases_s" -> walls.getOrElse("aliases", 0.0),
      "incremental.cc_s" -> walls.getOrElse("cc", 0.0),
      "incremental.fresh_s" -> walls.getOrElse("fresh", 0.0),
      "incremental.reuse_s" -> walls.getOrElse("reuse", 0.0),
      "incremental.jobs" -> w.jobs.count(j => spans.contains(j.span)).toDouble,
      "incremental.input_mb" -> w.execs.filter(e => spanOfRoot.get(e.root).exists(spans.contains))
        .map(_.scanMb).sum,
      "incremental.shuffle_mb" -> mine.map(_.shuffleWriteMb).sum,
      "incremental.fresh_graphs" -> spark.read.parquet(s"$d/fresh").count().toDouble,
      "incremental.reused_graphs" -> spark.read.parquet(s"$d/reused").count().toDouble)
  }

  def sampleDocs(n: Int): Seq[String] =
    spark.read.parquet(p("boot/docs")).orderBy("outputSha256")
      .select("canonicalNQuads").as[String].take(n).toSeq

  def cleanup(pass: Int): Unit = Io.rmrf(passDir(pass))
}
