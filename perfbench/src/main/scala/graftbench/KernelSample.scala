package graftbench

import graft.canon.{CanonOptions, NoopTraceLogger, Rdfc10}
import graft.rdf.NQuadsParser
import graft.spark.CanonEngine

import java.lang.management.ManagementFactory

/** Single-threaded pass, outside Spark, over a sample of a workload's
  * graphs through the single-graph layers: `NQuadsParser.parseDocument` (rdf),
  * `Rdfc10.issue`, `Rdfc10.canonicalDocument` and
  * `CanonEngine.sha256Hex` (canon). Per-graph means over the sample;
  * the figure of each layer is the median of `rounds` timed rounds
  * after one warm-up round. */
object KernelSample {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def allocated(): Long = mx.getThreadAllocatedBytes(Thread.currentThread().getId)

  def measure(docs: Seq[String], rounds: Int = 5): Map[String, Double] = {
    if (docs.isEmpty) return Map.empty
    val n = docs.size.toDouble
    def round(): Map[String, Double] = {
      var parseNs, issueNs, serNs, shaNs, parseB, canonB = 0L
      var hndq, quads = 0L
      for (d <- docs) {
        val a0 = allocated(); val t0 = System.nanoTime()
        val qs = NQuadsParser.parseDocument(d)
        val t1 = System.nanoTime(); val a1 = allocated()
        val res = Rdfc10.issue(qs, CanonOptions.default, NoopTraceLogger)
        val t2 = System.nanoTime()
        val doc = Rdfc10.canonicalDocument(res)
        val t3 = System.nanoTime()
        val sha = CanonEngine.sha256Hex(doc)
        val t4 = System.nanoTime(); val a2 = allocated()
        require(sha.length == 64)
        parseNs += t1 - t0; issueNs += t2 - t1; serNs += t3 - t2; shaNs += t4 - t3
        parseB += a1 - a0; canonB += a2 - a1
        hndq += res.hndqCalls; quads += qs.size
      }
      Map("rdf.parse_us" -> parseNs / n / 1e3, "rdf.parse_alloc_kb" -> parseB / n / 1e3,
        "canon.issue_us" -> issueNs / n / 1e3, "canon.serialize_us" -> serNs / n / 1e3,
        "canon.sha_us" -> shaNs / n / 1e3, "canon.alloc_kb" -> canonB / n / 1e3,
        "canon.hndq_calls" -> hndq / n, "canon.quads" -> quads / n)
    }
    round()
    val rs = (1 to rounds).map(_ => round())
    rs.head.keys.map(k => k -> Layers.median(rs.map(_(k)))).toMap
  }
}
