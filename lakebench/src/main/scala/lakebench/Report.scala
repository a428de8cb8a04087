package lakebench

/** Turns the gate runs of one benchmark run into its result document:
  * stamps, end-to-end and per-layer metrics (medians over passes, with
  * quartiles and sample counts), per-gate figures and every failure. */
object Report {

  /** Per-layer metrics of one traced pass, each with its unit. */
  def layerMetrics(pass: Seq[GateRun]): Seq[(String, String, Double)] = {
    val ls = pass.flatMap(_.layers)
    def sum(f: LayerCounts => Long): Double = ls.map(f).sum.toDouble
    val taskCpuS = sum(_.taskCpuNs) / 1e9
    Seq(
      ("queries.build_s", "s", pass.map(_.buildS).sum),
      ("queries.action_s", "s", pass.map(_.actionS).sum),
      ("scheduler.jobs", "count", sum(_.jobs)),
      ("scheduler.stages", "count", sum(_.stages)),
      ("scheduler.tasks", "count", sum(_.tasks)),
      ("scheduler.driver_gap_s", "s", pass.map(driverGapS).sum),
      ("catalyst.executions", "count", sum(_.executions)),
      ("catalyst.analysis_s", "s", sum(_.analysisMs) / 1e3),
      ("catalyst.optimization_s", "s", sum(_.optimizationMs) / 1e3),
      ("catalyst.planning_s", "s", sum(_.planningMs) / 1e3),
      ("executor.task_cpu_s", "s", taskCpuS),
      ("executor.task_run_s", "s", sum(_.taskRunMs) / 1e3),
      ("executor.gc_s", "s", pass.map(_.gcS).sum),
      ("driver.cpu_s", "s", pass.map(_.cpuS).sum - taskCpuS),
      ("shuffle.write_bytes", "bytes", sum(_.shuffleWriteBytes)),
      ("shuffle.read_bytes", "bytes", sum(_.shuffleReadBytes)),
      ("shuffle.write_records", "count", sum(_.shuffleWriteRecords)),
      ("io.input_bytes", "bytes", sum(_.inputBytes)),
      ("io.output_bytes", "bytes", sum(_.outputBytes)),
      ("io.output_records", "count", sum(_.outputRecords)),
      ("spill.memory_bytes", "bytes", sum(_.spillMemoryBytes)),
      ("spill.disk_bytes", "bytes", sum(_.spillDiskBytes)),
      ("cache.rdds_left_at_gate_end", "count", pass.map(_.rddsLeft).sum.toDouble),
      ("cache.block_bytes_peak", "bytes", ls.map(_.blockBytesPeak).maxOption.getOrElse(0L).toDouble),
      ("streaming.batches", "count", sum(_.streamBatches)),
      ("streaming.batch_s", "s", sum(_.streamBatchMs) / 1e3),
      ("streaming.input_rows", "count", sum(_.streamInputRows)),
      ("jvm.heap_peak_mb", "MB", pass.map(_.heapPeakMb).max))
  }

  /** Gate wall time during which no Spark job of the gate was running. */
  def driverGapS(r: GateRun): Double = r.layers
    .map(l => Stats.gapOutside(r.startMs, r.endMs, l.jobIntervals) / 1e3).getOrElse(0.0)

  def json(workload: String, seed: Long, seconds: Double, trace: Boolean, cpus: Int,
           setupS: Double, all: Seq[GateRun], oracle: Map[String, String]): String = {
    val setupRuns = all.filter(_.pass == 0)
    val measured = all.filter(_.pass > LakeBench.WarmupPasses)
    val passes = measured.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val plain = passes.filterNot(_.head.traced)
    val traced = passes.filter(_.head.traced)
    val failures = all.filter(_.failed)
    val failFrac = failures.size.toDouble / all.size

    def dist(unit: String, xs: Seq[Double]): J.Obj = {
      val (q1, med, q3) = Stats.quartiles(xs)
      J.Obj("value" -> J.Num(med), "unit" -> J.Str(unit), "q1" -> J.Num(q1),
        "q3" -> J.Num(q3), "n" -> J.Num(xs.size), "samples" -> J.Arr(xs.map(J.Num(_))))
    }
    val endToEnd = J.Obj(
      "wall_s" -> dist("s", plain.map(_.map(_.wallS).sum)),
      "cpu_s" -> dist("s", plain.map(_.map(_.cpuS).sum)),
      "heap_retained_mb" -> dist("MB", plain.map(_.map(_.heapRetainedMb).max)),
      "setup_s" -> dist("s", Seq(setupS)),
      "ok_frac" -> dist("ratio", Seq(1.0 - failFrac)))
    val perLayer =
      if (traced.isEmpty) J.Obj()
      else {
        val perPass = traced.map(layerMetrics)
        val layer = perPass.head.indices.map { i =>
          val (name, unit, _) = perPass.head(i)
          name -> dist(unit, perPass.map(_(i)._3))
        }
        val overhead = Stats.median(traced.map(_.map(_.wallS).sum)) -
          Stats.median(plain.map(_.map(_.wallS).sum))
        J.Obj(layer ++ Seq(
          "trace.overhead_s" -> dist("s", Seq(overhead)),
          "fail_frac" -> dist("ratio", Seq(failFrac))): _*)
      }
    val gates = J.Obj(measured.groupBy(_.gate).toSeq.sortBy(_._1).map { case (g, rs) =>
      val tr = rs.filter(_.traced)
      g -> J.Obj(
        "setup_s" -> J.Num(setupRuns.filter(_.gate == g).map(_.wallS).sum),
        "wall_s" -> J.Num(Stats.median(rs.filterNot(_.traced).map(_.wallS))),
        "driver_gap_s" -> (if (tr.isEmpty) J.Null else J.Num(Stats.median(tr.map(driverGapS)))),
        "rdds_left" -> J.Num(Stats.median(rs.map(_.rddsLeft.toDouble))),
        "streams_left" -> J.Num(rs.map(_.streamsLeft).max),
        "digest" -> J.Str(rs.head.digest),
        "digests_agree" -> J.Bool(rs.map(_.digest).distinct.size == 1),
        "oracle_digest" -> oracle.get(g).map(J.Str).getOrElse(J.Null),
        "failed_runs" -> J.Num(rs.count(_.failed)))
    }: _*)
    J.Obj(
      "stamp" -> J.Obj(
        "workload" -> J.Str(workload), "seed" -> J.Num(seed), "seconds" -> J.Num(seconds),
        "trace" -> J.Bool(trace), "cpus" -> J.Num(cpus),
        "heap_max_mb" -> J.Num(math.round(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))),
        "spark_version" -> J.Str(org.apache.spark.SPARK_VERSION),
        "java_version" -> J.Str(System.getProperty("java.version"))),
      "passes" -> J.Num(passes.size),
      "attempted" -> J.Num(all.size),
      "failed" -> J.Num(failures.size),
      "failures" -> J.Arr(failures.map(r => J.Obj(
        "gate" -> J.Str(r.gate), "pass" -> J.Num(r.pass), "why" -> J.Str(r.failure.get)))),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "gates" -> gates).render
  }

  /** Just enough JSON to write the result document. */
  object J {
    sealed trait V { def render: String }
    final case class Num(v: Double) extends V {
      def render: String =
        if (v.isNaN || v.isInfinite) "null"
        else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
        else v.toString
    }
    final case class Str(v: String) extends V {
      def render: String = v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    }
    final case class Bool(v: Boolean) extends V { def render: String = v.toString }
    case object Null extends V { def render: String = "null" }
    final case class Arr(vs: Seq[V]) extends V {
      def render: String = vs.map(_.render).mkString("[", ",", "]")
    }
    final case class Obj(kvs: (String, V)*) extends V {
      def render: String = kvs.map { case (k, v) => Str(k).render + ":" + v.render }
        .mkString("{", ",", "}")
    }
  }
}
