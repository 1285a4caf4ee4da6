package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}

/** What a run shares with its workload. `work` is the run's private
  * directory; `data`, when given, holds read-only input tables. */
final case class Ctx(spark: SparkSession, work: Path, data: Option[Path], seed: Long)

/** Outcome of a correctness check: items checked and items that failed,
  * with a line per failure. */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String] = Nil) {
  def +(o: Checked): Checked =
    Checked(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

object Checked {
  val none: Checked = Checked(0, 0)
  def of(what: String, items: Long, ok: Boolean, detail: => String = ""): Checked =
    if (ok) Checked(items, 0) else Checked(items, items, Seq(s"$what: $detail"))
}

/** One benchmark workload. The runner calls `land` once, then `warmUp`
  * (pass 0), then `run` for every timed pass; only the timed passes'
  * `run` is timed. `check` inspects a pass's outputs afterwards. */
trait Workload {
  /** Generate the seeded inputs and land them. */
  def land(): Unit
  def run(pass: Int): Unit
  /** The untimed warm-up: pass 0, and the correctness of what it wrote. */
  def warmUp(): Checked = { run(0); check(0) }
  /** Correctness of pass `pass`'s outputs. */
  def check(pass: Int): Checked
  /** Graphs with status `ok` that pass `pass` produced. */
  def graphsOk(pass: Int): Long
  /** Checks made once per run, outside the timed passes. */
  def checkOnce(): Checked
  /** Per-layer metrics of a traced pass, from its listener window. */
  def layers(pass: Int, w: Window): Map[String, Double]
  /** Canonical or input N-Quads documents for the kernel sample. */
  def sampleDocs(n: Int): Seq[String]
  /** End-to-end figures only this workload has: (name, value, unit). */
  def extras: Seq[(String, Double, String)] = Nil
  /** Delete what pass `pass` left on disk. */
  def cleanup(pass: Int): Unit
}

object Io {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Order-insensitive digest of a small result: sha256 over its sorted,
    * tab-joined rows. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
