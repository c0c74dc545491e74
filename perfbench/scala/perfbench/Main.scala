package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options handed over by `run.py`. `work` is the run's private directory
  * inside the checkout; every file the run writes lives under it.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, data: String, out: String)

/** What one run reports back to `run.py`, which adds the oracle checks. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def note(k: String, v: Any): Unit = notes(k) = v.toString

  def json: String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    val ns = notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{$ms},"notes":{$ns}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Seconds since this JVM started (process start, for `setup_s`). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def now(): Double = System.nanoTime() / 1e9
}

object Main {
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m.getOrElse("data", ""), m("out"))
  }

  /** The program's own session defaults (`graft.engine.Sessions`) with
    * every location that Spark or the program writes moved into the run's
    * work directory.
    */
  def session(o: Opts, redirect: Map[String, String]): SparkSession = {
    val b = graft.engine.Sessions.builder(s"perfbench-${o.workload}")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"file:${o.work}/spark-warehouse")
      .config("spark.graft.warehouse.dir", s"file:${o.work}/graft-warehouse")
    // A Hadoop view file system maps hard-coded absolute artifact paths
    // into the work directory; every other path falls through unchanged.
    if (redirect.nonEmpty) {
      b.config("spark.hadoop.fs.defaultFS", "viewfs://perfbench/")
        .config("spark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback", "file:///")
      redirect.foreach { case (from, to) =>
        b.config(s"spark.hadoop.fs.viewfs.mounttable.perfbench.link.$from", s"file://$to")
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = o.workload match {
      case "rsvp_stream" => StreamWorkload.run(o)
      case w if BatchWorkload.lists.contains(w) => BatchWorkload.run(o, BatchWorkload.lists(w))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(o.out), r.json.getBytes(StandardCharsets.UTF_8))
  }
}
