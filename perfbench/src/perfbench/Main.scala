package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --out <dir>`. Prints the workload's named
  * metrics, one per line, then the result as one JSON line.
  *
  * Untraced (`--trace 0`): three timed set-ups, the workload's untimed
  * warm-up steps, a closed loop of `--seconds`, output checks, the
  * end-to-end metrics.
  * Traced (`--trace 1`): set-ups, a warm-up of at least one round, the
  * loop untraced and then with a span around every public call, then codec
  * timing; the per-layer metrics and the tracing overhead. The spans are written to
  * `<out>/../traces/<workload>-<seed>.jsonl`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(out))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoints")
    Trace.install(spark.sparkContext)

    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.currentTimeMillis() - started) / 1e3}%.1f s")
    phase("session up")
    val ctx = new Ctx(spark, out, seed, new Data(spark, opt("data")))
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "churn" => new Churn(ctx)
      case "dedup" => new DedupWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    phase("data loaded")
    val setups = (0 until Bench.SetupRounds).map { r =>
      Trace.on = traced && r == Bench.SetupRounds - 1
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    Trace.on = false
    phase("set-ups done")
    // traced runs compare an untraced loop with a traced one, so both must
    // run warm: they warm up at least one round
    Bench.warmUp(w, if (traced) math.max(w.warmUpSteps, w.stepsPerRound) else w.warmUpSteps)

    val result =
      if (!traced) {
        phase("warm-up done")
        Bench.loop(w, seconds)
        phase("loop done")
        w.finish()
        phase("checks done")
        val ms = ctx.ops.map(_._2).toSeq
        val named = w.named
        val rss = Bench.peakRssMb
        val e2e = Seq(
          ("setup_s", Bench.median(setups), "s"),
          ("throughput", ctx.units / ctx.busySeconds, "1/s"),
          ("op_ms.p50", Bench.median(ms), "ms"),
          ("bytes_vs_parquet", w.bytesVsParquet, "ratio"))
        val errorRate = ctx.failed.toDouble / math.max(1L, ctx.attempted)
        (named ++ e2e ++ Seq(("op_ms.p90", Bench.pct(ms, 0.9), "ms"),
          ("error_rate", errorRate, "ratio"), ("peak_rss_mb", rss, "MB")))
          .foreach { case (n, v, u) => println(f"$workload%-7s $n%-28s $v%16.6f $u") }
        ctx.ops.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
          val t = v.map(_._2).toSeq
          println(f"$workload%-7s calls $k%-20s n=${t.length}%-4d p50=${Bench.median(t)}%.1f ms " +
            f"max=${t.max}%.1f ms")
        }
        println(s"$workload ops attempted ${ctx.attempted}, failed ${ctx.failed}")
        e2e
      } else {
        Bench.loop(w, seconds)
        val untraced = ctx.ops.toSeq
        ctx.ops.clear()
        Trace.on = true
        Bench.loop(w, seconds)
        val traced = ctx.ops.toSeq
        w.finish()
        Trace.on = false
        Trace.resolve()
        Trace.write(Paths.get(out).getParent.resolve("traces").resolve(s"$workload-$seed.jsonl"))
        val layers = Layers.metrics(w, cores) +
          ("trace.overhead_pct" -> Bench.overheadPct(untraced, traced))
        val reported = Layers.Names.map(_._1).toSet
        layers.toSeq.filterNot(kv => reported(kv._1)).sortBy(_._1).foreach { case (n, v) =>
          println(f"$workload%-7s $n%-36s $v%16.6f")
        }
        Layers.Names.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }

    println(Bench.json(ctx.failed == 0, ctx.attempted, ctx.failed, result))
    spark.stop()
  }
}
