package graftbench

import graft.spark.CanonEngine

import scala.util.Random

/** `canon_docs`: N-Quads documents -> `CanonEngine.parseDocuments` ->
  * `canonicalizePerGraph`, landed as (key, status, outputSha256,
  * hndqCalls). Every graph appears twice, the second time as an
  * isomorphic twin, so each pass checks its own output. */
final class CanonDocs(ctx: Ctx, nGraphs: Int) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val docsDir = ctx.work.resolve("docs").toString
  private def outDir(pass: Int) = ctx.work.resolve(s"canon-$pass")
  private val okCounts = scala.collection.mutable.HashMap.empty[Int, Long]

  def land(): Unit = {
    val seed = ctx.seed
    spark.range(0, nGraphs, 1, 4).as[Long]
      .flatMap(g => CanonDocs.graph(seed, g.toInt))
      .toDF("key", "text").write.parquet(docsDir)
  }

  def run(pass: Int): Unit = {
    val sc = spark.sparkContext
    Meter.withSpan(sc, "canon_docs") {
      val in = spark.read.parquet(docsDir).as[(String, String)]
      CanonEngine.canonicalizePerGraph(CanonEngine.parseDocuments(in))
        .select("key", "status", "outputSha256", "hndqCalls")
        .write.parquet(outDir(pass).toString)
    }
  }

  /** Two passes, -1 then 0. The passes keep the 4 cores busy, so a
    * copy beside pass 0 would not come for free as in `kg_build`; after
    * one warm-up pass the first timed pass still took about 30% longer
    * than later ones. */
  override def warmUp(): Checked = {
    run(-1)
    val first = check(-1)
    cleanup(-1)
    run(0)
    first + check(0)
  }

  def check(pass: Int): Checked = {
    val rows = spark.read.parquet(outDir(pass).toString)
      .select("key", "status", "outputSha256").as[(String, String, String)].collect()
    val ok = rows.count(_._2 == "ok")
    okCounts(pass) = ok
    val sha = rows.map(r => r._1 -> r._3).toMap
    val twinsDiffer = (0 until nGraphs).count { g =>
      val a = sha.get(CanonDocs.key(g)); val b = sha.get(CanonDocs.twinKey(g))
      a.isEmpty || a != b
    }
    Checked(2L * nGraphs, (2L * nGraphs - ok) max 0L,
      if (ok == 2 * nGraphs) Nil else Seq(s"canon_docs: ${2 * nGraphs - ok} graphs not ok")) +
      Checked(nGraphs, twinsDiffer,
        if (twinsDiffer == 0) Nil else Seq(s"canon_docs: $twinsDiffer twins differ"))
  }

  def graphsOk(pass: Int): Long = okCounts.getOrElse(pass, 0L)

  def checkOnce(): Checked = Checked.none // each pass checks its own twins

  def layers(pass: Int, w: Window): Map[String, Double] = {
    val mine = w.tasksOf(_.span == "canon_docs")
    Layers.requireTasks("canon_docs", mine)
    val (reduce, map) = Layers.splitStages(w, _.span == "canon_docs")
    val parse = Layers.stageGroup(w, map)
    Layers.canonMetrics(Layers.stageGroup(w, reduce)) ++ Map(
      "spark.parse.wall_s" -> parse.wallS, "spark.parse.task_s" -> parse.taskS)
  }

  def sampleDocs(n: Int): Seq[String] =
    (0 until (n min nGraphs)).map(g => CanonDocs.graph(ctx.seed, g).head._2)

  def cleanup(pass: Int): Unit = Io.rmrf(outDir(pass))
}

object CanonDocs {
  def key(g: Int): String = f"g$g%06d"
  def twinKey(g: Int): String = key(g) + "~twin"

  /** Graph `g` of seed `seed` and its twin. Seeded graphs heavy on
    * automorphisms: a ring of 6-16 blank nodes joined both ways,
    * anchored to one IRI at a single node (so only the reflection about
    * the anchor survives), plus 0-4 attribute blank nodes hung on ring
    * nodes with values from a two-word set. The twin relabels the blank
    * nodes at random and shuffles the quad order. */
  def graph(seed: Long, g: Int): Seq[(String, String)] = {
    val rnd = new Random(graft.pipeline.Corpus.mix64(seed ^ (g.toLong << 20)))
    val ring = 6 + rnd.nextInt(11)
    val attrs = rnd.nextInt(5)
    val quads = Vector.newBuilder[(String, String, String)] // (s, p, o), b<i> = blank node i
    for (i <- 0 until ring) {
      val j = (i + 1) % ring
      quads += ((s"b$i", "<urn:p:link>", s"b$j"))
      quads += ((s"b$j", "<urn:p:link>", s"b$i"))
    }
    quads += ((s"<urn:g:$g>", "<urn:p:anchor>", "b0"))
    for (a <- 0 until attrs) {
      val at = ring + a
      quads += ((s"b${rnd.nextInt(ring)}", "<urn:p:attr>", s"b$at"))
      quads += ((s"b$at", "<urn:p:value>", if (rnd.nextBoolean()) "\"red\"" else "\"blue\""))
    }
    val qs = quads.result()
    def render(label: Int => String, order: Seq[(String, String, String)]): String = {
      def term(t: String) = if (t.startsWith("b")) "_:" + label(t.drop(1).toInt) else t
      order.map { case (s, p, o) => s"${term(s)} $p ${term(o)} .\n" }.mkString
    }
    val perm = rnd.shuffle((0 until ring + attrs).toVector)
    Seq(key(g) -> render(i => s"n$i", qs),
      twinKey(g) -> render(i => s"t${perm(i)}", rnd.shuffle(qs)))
  }
}
