package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: one workload, one seed, one process.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--data <sf dir>]
  *
  * Set-up (session start, landing the seeded inputs, one warm-up pass)
  * is timed as `setup_s`. Then timed passes run until `--seconds` have
  * passed; every pass is reported through the medians, none is dropped.
  * With `--trace 1` passes alternate untraced/traced, at least three
  * (untraced, traced, untraced, so that drift between passes cancels
  * in the overhead), and the run prints the per-layer metrics of the
  * traced passes, plus the tracing overhead. The last stdout line is
  * the JSON result. */
object Main {

  final case class PassRec(wallS: Double, cpuS: Double, shuffleMb: Double,
                           inputMb: Double, allocGb: Double, graphsOk: Long,
                           traced: Boolean, layers: Map[String, Double])

  private val alloc = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val data = args.get("data").map(Paths.get(_).toAbsolutePath)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter.queryListener)
    val sessionS = since(t0)

    val ctx = Ctx(spark, work, data, seed)
    val w: Workload = workload match {
      case "kg_build"    => new KgBuild(ctx, nRepos = 50)
      case "canon_docs"  => new CanonDocs(ctx, nGraphs = 5000)
      case "kg_update"   => new KgUpdate(ctx, nRepos = 400, nChanged = 2)
      case "ops_neardup" => new OpsNearDup(ctx)
      case other         => sys.error(s"unknown workload $other")
    }

    var checked = Checked.none
    var failure: Option[String] = None
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var setupS = 0.0
    try {
      val tLand = System.nanoTime()
      w.land()
      val landS = since(tLand)
      val tWarm = System.nanoTime()
      val warmChecked = w.warmUp()
      val warmS = since(tWarm)
      setupS = sessionS + landS + warmS
      meter.drain()
      checked += warmChecked
      checked += w.checkOnce()
      w.cleanup(0)
      System.err.println(f"graftbench: session $sessionS%.2f s, land $landS%.2f s, warm-up $warmS%.2f s")

      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var pass = 1
      while (pass == 1 || System.nanoTime() < deadline || (trace && pass <= 3)) {
        val traced = trace && pass % 2 == 0
        meter.drain() // the previous pass's checks ran jobs too
        meter.reset()
        meter.tracing = traced
        val a0 = alloc.getTotalThreadAllocatedBytes
        val tp = System.nanoTime()
        w.run(pass)
        val wall = since(tp)
        val allocGb = (alloc.getTotalThreadAllocatedBytes - a0) / 1e9
        meter.drain()
        meter.tracing = false
        val win = meter.window()
        checked += w.check(pass)
        val layers = if (traced) w.layers(pass, win) else Map.empty[String, Double]
        passes += PassRec(wall, win.cpuS, win.shuffleMb, win.inputMb, allocGb,
          w.graphsOk(pass), traced, layers)
        System.err.println(f"graftbench: pass $pass%d${if (traced) " (traced)" else ""} $wall%.3f s, task cpu ${win.cpuS}%.3f s")
        if (pass > 1) w.cleanup(pass - 1)
        pass += 1
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    val kernel: Map[String, Double] =
      if (!trace || failure.nonEmpty) Map.empty
      else try KernelSample.measure(w.sampleDocs(200)) catch {
        case e: Exception =>
          e.printStackTrace()
          failure = Some(s"kernel sample: ${e.getMessage}")
          Map.empty
      }
    spark.stop()
    Io.rmrf(work)

    val failed = checked.failed + (if (failure.nonEmpty) 1 else 0)
    val attempted = checked.attempted max 1L
    checked.notes.foreach(n => System.err.println(s"graftbench: FAILED $n"))
    failure.foreach(f => System.err.println(s"graftbench: FAILED $f"))
    val correct = failed == 0
    def med(f: PassRec => Double, ps: Seq[PassRec]) = Layers.median(ps.map(f))

    val metrics: Seq[(String, Double, String)] =
      if (passes.isEmpty) Nil
      else if (!trace) {
        val ps = passes.toSeq
        val runS = med(_.wallS, ps)
        val e2e = Seq(("setup_s", setupS, "s"), ("run_s", runS, "s"),
          ("task_cpu_s", med(_.cpuS, ps), "s"), ("shuffle_mb", med(_.shuffleMb, ps), "MB"),
          ("input_mb", med(_.inputMb, ps), "MB"), ("alloc_gb", med(_.allocGb, ps), "GB"))
        // printed, not in the result: graphs_per_s is a fixed graph count
        // (every graph is checked ok) over run_s, and error_rate is 0 on
        // every accepted run
        val graphs =
          if (workload == "ops_neardup") Nil
          else Seq(("graphs_per_s", med(_.graphsOk.toDouble, ps) / runS, "graphs/s"))
        val report = graphs ++ w.extras ++ Seq(("error_rate", failed.toDouble / attempted, "ratio"),
          ("passes", ps.size.toDouble, "count"))
        report.foreach { case (n, v, u) => println(f"graftbench: $n%s = $v%.6f $u%s") }
        e2e
      } else {
        val traced = passes.filter(_.traced).toSeq
        val plain = passes.filterNot(_.traced).toSeq
        val layerVals = Layers.all.map { case (n, u, _) =>
          val v = if (n == "trace.overhead_s") med(_.wallS, traced) - med(_.wallS, plain)
            else kernel.getOrElse(n, med(_.layers.getOrElse(n, 0.0), traced))
          (n, v, u)
        }
        layerVals
      }
    metrics.foreach { case (n, v, u) => println(f"graftbench: $n%s = $v%.6f $u%s") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
    System.out.flush()
    sys.exit(if (correct && passes.nonEmpty) 0 else 1)
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
