package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Spark work attributed to one job group (one span). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  /** Task [launch, finish] wall intervals, epoch ms. */
  val busy: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  /** Per stage: task durations (ms), first launch, last finish. */
  val stageTasks: mutable.HashMap[Int, (ArrayBuffer[Long], Array[Long])] = mutable.HashMap.empty

  /** Milliseconds of [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = {
    val iv = busy.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** Max ÷ median task time in the stage with the longest wall span;
    * 1.0 when no stage ran.
    */
  def skew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val (durs, _) = stageTasks.values.maxBy { case (_, se) => se(1) - se(0) }
      val s = durs.sorted
      val med = math.max(1L, s(s.length / 2))
      s.last.toDouble / med
    }
}

/** Collects per-job-group counts from the listener bus. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()

  def of(group: String): Counts = counts.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = of(group)
      c.synchronized(c.jobs += 1)
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
        }
        c.busy += ((info.launchTime, info.finishTime))
        val (durs, se) = c.stageTasks.getOrElseUpdate(e.stageId,
          (ArrayBuffer.empty[Long], Array(Long.MaxValue, Long.MinValue)))
        durs += info.duration
        se(0) = math.min(se(0), info.launchTime)
        se(1) = math.max(se(1), info.finishTime)
      }
    }
}

/** One public call into the engine: name, wall interval, parent span and
  * the workload op it served. Counts attach through the span's job group.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var counts: Counts = new Counts
  /** Extra per-call numbers the benchmark measured around the call. */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def driverOnlyMs: Double = math.max(0L, (endMs - startMs) - counts.busyMs(startMs, endMs)).toDouble
}

/** In-memory span recorder. Off by default: `span` then only runs its
  * body, so untraced runs pay nothing but a flag test.
  */
object Trace {
  @volatile var on: Boolean = false
  private var sc: SparkContext = _
  private var listener: GroupListener = _
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  /** Id of the workload op being served; stamped on every span. */
  var op: Long = 0L

  def install(spark: SparkContext): Unit = {
    sc = spark
    listener = new GroupListener
    sc.addSparkListener(listener)
  }

  private def group(s: Span) = s"perfbench-span-${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a number to the innermost open span (no-op untraced). */
  def attr(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  /** Attach the listener's counts to every span (call once, at the end). */
  def resolve(): Unit = {
    BusDrain(sc)
    spans.foreach(s => s.counts = listener.of(group(s)))
  }

  /** Write every span, one JSON object per line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = s.counts
      val fields = Seq(
        "\"id\": " + s.id, "\"name\": \"" + s.name + "\"", "\"parent\": " + s.parent,
        "\"op\": " + s.op, "\"start_ms\": " + s.startMs, "\"end_ms\": " + s.endMs,
        "\"wall_s\": " + s.seconds, "\"jobs\": " + c.jobs, "\"stages\": " + c.stages,
        "\"tasks\": " + c.tasks, "\"run_ms\": " + c.runMs, "\"cpu_ns\": " + c.cpuNs,
        "\"gc_ms\": " + c.gcMs, "\"shuffle_write_bytes\": " + c.shuffleWriteBytes,
        "\"spill_bytes\": " + c.spillBytes, "\"input_bytes\": " + c.inputBytes,
        "\"input_records\": " + c.inputRecords, "\"driver_only_ms\": " + s.driverOnlyMs,
        "\"task_skew\": " + c.skew) ++
        s.attrs.map { case (k, v) => "\"" + k + "\": " + v }
      fields.mkString("{", ", ", "}")
    }
    Files.write(path, lines.asJava)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def withPrefix(p: String): Seq[Span] = spans.filter(_.name.startsWith(p)).toSeq
}

/** Bytes on disk under table dirs, split by data / manifest / metadata.
  * `newBytes` returns what appeared since the previous call, so calling it
  * after each op gives that op's written bytes.
  */
final class DirLedger {
  private val seen = mutable.HashMap.empty[String, Long]

  private def kind(rel: String): String =
    if (rel.startsWith("data/") || rel.contains("/data/")) "data"
    else if (rel.startsWith("manifests/") || rel.contains("/manifests/")) "manifest"
    else "metadata"

  private def files(dir: String): Seq[(String, String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
        (p.toString, kind(root.relativize(p).toString), Files.size(p))
      }.toList
      finally st.close()
    }
  }

  def newBytes(dirs: Seq[String]): Map[String, Long] = {
    val fresh = dirs.flatMap(files).filterNot { case (p, _, len) => seen.get(p).contains(len) }
    fresh.foreach { case (p, _, len) => seen(p) = len }
    fresh.groupMapReduce(_._2)(_._3)(_ + _)
  }

  def liveBytes(dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap(files).groupMapReduce(_._2)(_._3)(_ + _)
}
