package graftbench

import graft.SparkEntry
import org.apache.spark.sql.functions.{col, lit, xxhash64}

import scala.collection.mutable

/** `ops_neardup`: the near-dup and ANN queries of `SparkEntry` over a
  * seeded row permutation of the sf0.01 `documents` and `embeddings`
  * tables (copied at set-up from the `--data` directory). Each query's
  * output lands as Parquet; every pass checks each query's row count
  * and sorted-output digest against pinned values. The outputs are
  * sets, so the permutation must not change them. */
final class OpsNearDup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val sfDir = ctx.work.resolve("sf").toString
  private def outDir(pass: Int) = ctx.work.resolve(s"ops-$pass")
  private val queries = Layers.OpsQueries
  private val data = ctx.data.getOrElse(
    sys.error("ops_neardup needs --data: a directory with the sf0.01 tables"))

  def land(): Unit =
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))
      spark.read.parquet(data.resolve(s"$t.parquet").toString)
        .repartition(4)
        .sortWithinPartitions(xxhash64(lit(ctx.seed), col(id)))
        .write.parquet(s"$sfDir/$t.parquet")

  def run(pass: Int): Unit = {
    val sc = spark.sparkContext
    for (q <- queries) Meter.withSpan(sc, s"ops.$q") {
      SparkEntry.queries(q)(spark, sfDir).write.parquet(s"${outDir(pass)}/$q")
    }
  }

  def check(pass: Int): Checked = queries.map { q =>
    val got = Io.digest(spark.read.parquet(s"${outDir(pass)}/$q"))
    val want = OpsNearDup.Pinned(q)
    Checked.of(s"ops_neardup $q", 1, got == want, s"got $got, pinned $want")
  }.reduce(_ + _)

  def graphsOk(pass: Int): Long = 0L

  def checkOnce(): Checked = Checked.none // every pass checks the pinned outputs

  def layers(pass: Int, w: Window): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val rootOf = w.execs.map(e => e.id -> e.root).toMap
    for (q <- queries) {
      val span = s"ops.$q"
      val jobs = w.jobs.filter(_.span == span)
      val ts = w.tasksOf(_.span == span)
      Layers.requireTasks(span, ts)
      val roots = jobs.flatMap(_.execId).map(e => rootOf.getOrElse(e, e)).toSet
      val execs = w.execs.filter(e => roots(e.id))
      val write = execs.flatMap(_.plan).find(_.writePath.nonEmpty)
      val k = Layers.opsKey(q)
      out(s"ops.$k.wall_s") = execs.map(e => (e.endMs - e.startMs) / 1e3).sum +
        jobs.filter(_.execId.isEmpty).map(j => (j.endMs - j.startMs) / 1e3).sum
      out(s"ops.$k.task_s") = ts.map(_.runS).sum
      out(s"ops.$k.shuffle_mb") = ts.map(_.shuffleWriteMb).sum
      out(s"ops.$k.exchanges") = execs.flatMap(_.plan).map(_.exchanges).sum
      out(s"ops.$k.scans") = execs.flatMap(_.plan).map(_.scans).sum
      require(write.nonEmpty, s"no final plan of the write recorded for $span")
    }
    out.toMap
  }

  def sampleDocs(n: Int): Seq[String] = Nil

  def cleanup(pass: Int): Unit = Io.rmrf(outDir(pass))
}

object OpsNearDup {
  /** (row count, sorted-output sha256) per query on the sf0.01 tables;
    * see the benchmark's README for how they were made. */
  val Pinned: Map[String, (Long, String)] = Map(
    "q19_minhash_lsh" -> ((25L,
      "3499e11e1778875372e6f8e763914d8c4667ece41405129ebaccb465399e2b60")),
    "q20_simhash" -> ((12L,
      "7902dcf9b13eb1af9886a9d429b482b8a2838639032836b125e1aeed4e568bec")),
    "q21_ngram_jaccard" -> ((25L,
      "3499e11e1778875372e6f8e763914d8c4667ece41405129ebaccb465399e2b60")),
    "q23_ann_lsh" -> ((2308L,
      "02416f1a6a0a72a6e957cf83a2c978491be43dd8adaced079a1f4b88d81b62e5")),
    "q28_jaccard_stats" -> ((1L,
      "1969945c768ecce292685c1464dc85918fc16fa70f581018aef85b2a4c928cdd")),
    "q29_embed_neardup" -> ((200L,
      "b1bad3b11d5ddbf72e05c13fb87a9cae6dee339c806eadf5bbab4d485f1f7b64")),
    "q30_ivf_ann" -> ((2500L,
      "bb307efdb0bafd31a89939ee1aadc3741f261077ad994ce3d11ccc162200e55f")),
    "q34_ivf_auto" -> ((2500L,
      "dcd275084c49a9ca8026a76f5ee13ec2c1f6342ba7c46e3ff9892349d7368d8f")),
    "q35_ivf_refined" -> ((2500L,
      "5ba1e7b03533ba841786965e971ba3299d65b7a64b16217999dc6dc69edaa4f8")))
}
