package perfbench

/** Per-layer metrics of a traced run, derived from the spans and their
  * listener counts, plus pure-JVM codec timing. A metric whose layer the
  * workload never calls reads 0.
  */
object Layers {

  private val CommitKinds =
    Seq("append", "upsert", "delete_range", "delete_where", "token_append", "compact", "expire")
  private val OpNames = Seq("exact", "minhash", "simhash", "jaccard", "clusters")

  /** Every per-layer metric, in report order, with its unit. The codec
    * choice shares (`codec.int.choice.<codec>`) are printed, not reported:
    * they sum to 1, so no direction is better.
    */
  val Names: Seq[(String, String)] =
    Seq(
      "codec.int.enc_ns_per_value" -> "ns", "codec.int.dec_ns_per_value" -> "ns",
      "codec.int.bytes_per_value" -> "B",
        "codec.str.enc_ns_per_value" -> "ns", "codec.str.dec_ns_per_value" -> "ns",
        "codec.any.enc_ns_per_value" -> "ns", "codec.any.dec_ns_per_value" -> "ns",
        "codec.f64.enc_ns_per_value" -> "ns", "codec.f64.dec_ns_per_value" -> "ns",
        "table.stats_s" -> "s", "table.assemble_ns_per_row" -> "ns",
        "table.encode_s" -> "s", "table.encode.jobs" -> "count", "table.encode.tasks" -> "count",
        "table.encode.shuffle_write_mb" -> "MB", "table.encode.spill_mb" -> "MB",
        "table.encode.exec_cpu_s" -> "s", "table.encode.gc_s" -> "s",
        "table.encode.core_util" -> "share", "table.encode.driver_only_s" -> "s") ++
      CommitKinds.map(k => s"table.commit_ms.$k" -> "ms") ++
      Seq(
        "table.commit.jobs_per_op" -> "count", "table.commit.driver_only_ms" -> "ms",
        "table.commit.bytes_written.data" -> "B", "table.commit.bytes_written.manifest" -> "B",
        "table.commit.bytes_written.metadata" -> "B",
        "table.versions_live" -> "count", "table.metadata_bytes" -> "B",
        "table.decode_s" -> "s", "table.decode_select_s" -> "s",
        "table.decode_range_ms" -> "ms", "table.decode_where_ms" -> "ms",
        "table.read.input_mb" -> "MB", "table.read.rows_read_per_row_returned" -> "ratio",
        "sources.plan_ms" -> "ms", "sources.exec_ms" -> "ms", "sources.count_star_ms" -> "ms",
        "sources.bytes_read_per_needed_byte" -> "ratio", "sources.write_ms" -> "ms") ++
      OpNames.flatMap(o => Seq(s"ops.${o}_s" -> "s", s"ops.$o.shuffle_mb" -> "MB",
        s"ops.$o.spill_mb" -> "MB")) ++
      Seq("exact", "minhash", "simhash", "jaccard").map(o => s"ops.$o.pairs_out" -> "count") ++
      Seq("minhash", "simhash", "jaccard").map(o => s"ops.$o.true_pair_ratio" -> "share") ++
      Seq("ops.clusters.edges_in" -> "count", "ops.clusters.jobs" -> "count",
        "spark.task_skew" -> "ratio", "trace.overhead_pct" -> "%")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  private val MB = 1048576.0

  def metrics(w: Workload, cores: Int): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def med(name: String, scale: Double) =
      Bench.median(Trace.named(name).map(_.seconds * scale))

    m ++= Codecs.measure(w.codecSample)
    m("table.stats_s") = med("table.stats", 1)

    val enc = Trace.named("table.encode")
    m("table.encode_s") = med("table.encode", 1)
    m("table.encode.jobs") = mean(enc.map(_.counts.jobs.toDouble))
    m("table.encode.tasks") = mean(enc.map(_.counts.tasks.toDouble))
    m("table.encode.shuffle_write_mb") = mean(enc.map(_.counts.shuffleWriteBytes / MB))
    m("table.encode.spill_mb") = mean(enc.map(_.counts.spillBytes / MB))
    m("table.encode.exec_cpu_s") = mean(enc.map(_.counts.cpuNs / 1e9))
    m("table.encode.gc_s") = mean(enc.map(_.counts.gcMs / 1e3))
    val encWall = enc.map(_.seconds).sum
    m("table.encode.core_util") =
      if (encWall == 0) 0.0 else enc.map(_.counts.runMs / 1e3).sum / (encWall * cores)
    m("table.encode.driver_only_s") = mean(enc.map(_.driverOnlyMs / 1e3))

    val commits = Trace.withPrefix("table.commit.") ++ Trace.named("sources.write")
    CommitKinds.foreach(k => m(s"table.commit_ms.$k") = med(s"table.commit.$k", 1e3))
    m("table.commit.jobs_per_op") = mean(commits.map(_.counts.jobs.toDouble))
    m("table.commit.driver_only_ms") = mean(commits.map(_.driverOnlyMs))
    Seq("data", "manifest", "metadata").foreach { k =>
      m(s"table.commit.bytes_written.$k") = mean(commits.map(_.attrs.getOrElse(s"bytes_$k", 0.0)))
    }
    m ++= w.layerExtras

    m("table.decode_s") = med("table.decode", 1)
    m("table.decode_select_s") = med("table.decode_select", 1)
    m("table.decode_range_ms") = med("table.decode_range", 1e3)
    m("table.decode_where_ms") = med("table.decode_where", 1e3)
    val reads = Seq("table.decode", "table.decode_select", "table.decode_range", "table.decode_where")
      .flatMap(Trace.named)
    m("table.read.input_mb") = mean(reads.map(_.counts.inputBytes / MB))
    // blocks read = scan input records minus the manifest lines read
    val selective = reads.filter(_.attrs.contains("rows_returned"))
    m("table.read.rows_read_per_row_returned") = mean(selective.map { s =>
      val blocksRead = math.max(0.0, s.counts.inputRecords - s.attrs("manifest_rows"))
      blocksRead * s.attrs("rows_per_block") / math.max(1.0, s.attrs("rows_returned"))
    })

    m("sources.plan_ms") = med("sources.plan", 1e3)
    m("sources.exec_ms") = med("sources.exec", 1e3)
    m("sources.count_star_ms") = med("sources.count", 1e3)
    val dsv2 = Trace.named("sources.read").filter(_.attrs.contains("needed_bytes"))
    m("sources.bytes_read_per_needed_byte") = mean(dsv2.map { s =>
      val read = Trace.spans.filter(_.parent == s.id).map(_.counts.inputBytes).sum
      read / math.max(1.0, s.attrs("needed_bytes"))
    })
    m("sources.write_ms") = med("sources.write", 1e3)

    OpNames.foreach { o =>
      val spans = Trace.named(s"ops.$o")
      m(s"ops.${o}_s") = med(s"ops.$o", 1)
      m(s"ops.$o.shuffle_mb") = mean(spans.map(_.counts.shuffleWriteBytes / MB))
      m(s"ops.$o.spill_mb") = mean(spans.map(_.counts.spillBytes / MB))
      Seq("pairs_out", "true_pair_ratio", "edges_in").foreach { a =>
        if (spans.exists(_.attrs.contains(a))) m(s"ops.$o.$a") = mean(spans.map(_.attrs(a)))
      }
    }
    m("ops.clusters.jobs") = mean(Trace.named("ops.clusters").map(_.counts.jobs.toDouble))

    val ran = Trace.spans.filter(_.counts.tasks > 0)
    m("spark.task_skew") = Bench.median(ran.map(_.counts.skew).toSeq)
    m.toMap
  }
}
