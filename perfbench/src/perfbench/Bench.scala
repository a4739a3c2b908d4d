package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val outDir: String, val seed: Long, val data: Data) {
  val ledger = new DirLedger
  /** (kind, ms) of every timed call that counts toward `op_ms`. */
  val ops: ArrayBuffer[(String, Double)] = ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** Work units (tokens, docs, ops) done inside timed calls, and their time. */
  var units = 0.0
  var busySeconds = 0.0

  def dir(name: String): String = s"$outDir/$name"

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally st.close()
    }
  }

  /** Wall milliseconds of `f`. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** An output check; a failure counts toward `failed` and is reported. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED: $what")
    }
}

/** One workload: seeded set-up, a closed-loop step, final checks and its
  * metrics. A step is one client request: it returns only when done.
  */
trait Workload {
  def ctx: Ctx
  /** Build inputs and initial tables from the seed, from scratch. */
  def setup(round: Int): Unit
  /** One closed-loop iteration; records its timed calls in `ctx`. */
  def step(): Unit
  /** Output checks on the final state. */
  def finish(): Unit
  /** Stored bytes ÷ Spark-default snappy Parquet bytes of the same rows. */
  def bytesVsParquet: Double
  /** The workload's named metrics, (name, value, unit). */
  def named: Seq[(String, Double, String)]
  /** Value blocks drawn from the workload's data, for codec timing. */
  def codecSample: Codecs.Sample
  /** The loop checks its deadline only after this many steps. */
  def stepsPerRound: Int = 1
  /** Untimed steps run before the loop, so that it times warm calls. */
  def warmUpSteps: Int = 0
  /** Named per-layer metrics beyond the shared ones (traced run only). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Bench {

  val SetupRounds = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status)) {
      val line = Files.readAllLines(status).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  private def runStep(w: Workload): Unit = {
    Trace.op += 1
    w.ctx.attempted += 1
    try w.step()
    catch {
      case e: Exception =>
        w.ctx.failed += 1
        System.err.println(s"OP FAILED: $e")
        e.printStackTrace()
    }
  }

  /** Run `steps` untimed steps and drop their timings; failures still
    * count.
    */
  def warmUp(w: Workload, steps: Int): Unit = {
    (0 until steps).foreach(_ => runStep(w))
    w.ctx.ops.clear()
    w.ctx.units = 0
    w.ctx.busySeconds = 0
  }

  /** Run whole rounds of steps until `seconds` of wall time have passed
    * (at least one round).
    */
  def loop(w: Workload, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    do (0 until w.stepsPerRound).foreach(_ => runStep(w))
    while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  /** Tracing overhead: per call kind seen in both loops, the ratio of its
    * median latency traced to untraced; the median of those ratios, as a
    * percentage above 1.
    */
  def overheadPct(untraced: Seq[(String, Double)], traced: Seq[(String, Double)]): Double = {
    def byKind(ops: Seq[(String, Double)]) = ops.groupMap(_._1)(_._2).view.mapValues(median).toMap
    val u = byKind(untraced)
    val ratios = byKind(traced).collect { case (k, t) if u.get(k).exists(_ > 0) => t / u(k) }
    if (ratios.isEmpty) 0.0 else (median(ratios.toSeq) - 1.0) * 100.0
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
