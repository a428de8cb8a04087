package lakebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Observation, SparkSession}
import graft.SparkEntry
import graft.core.GraftSession

/** One timed call of one gate. */
final case class GateRun(
    gate: String, pass: Int, traced: Boolean, startMs: Long, endMs: Long,
    wallS: Double, buildS: Double, actionS: Double, cpuS: Double, gcS: Double,
    heapPeakMb: Double, heapRetainedMb: Double,
    rddsLeft: Int, streamsLeft: Int, digest: String, failure: Option[String],
    layers: Option[LayerCounts]) {
  def failed: Boolean = failure.isDefined
}

/** The benchmark's JVM side: runs one workload in one Spark session and
  * writes every gate run, with the medians over passes, to a JSON file.
  * `lakebench/run.py` builds the classpath, starts this main and prints the
  * result; see `lakebench/README.md` for the metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --expect DIGESTS.tsv|none --out RESULT.json [--oracle DIR]`; with
  * `--oracle` the result also holds the digest of each oracle output in
  * DIR (see `lakebench/record.py`). */
object LakeBench {

  /** What a gate must produce: its digest at the benchmark's inputs and
    * its recorded warm wall time. A failed gate run is charged at least
    * that time, so a crash never makes a pass look faster. */
  /** Warm passes at the start of a run that still carry JIT compilation
    * and are left out of the reported medians. */
  val WarmupPasses = 2
  val MinPasses = WarmupPasses + 3
  val CleanerWaitMs = 300L

  final case class Expected(digest: String, refS: Double)

  def readExpected(path: String): Map[String, Expected] =
    if (path == "none") Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#") || l.startsWith("gate\t"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> Expected(f(2), f(3).toDouble)
      }.toMap

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val MB = 1024.0 * 1024.0

  /** Streaming queries still running, found by their execution threads so
    * that queries of child sessions count too. A thread gets two seconds
    * to finish exiting after its query terminated. */
  private def liveStreams(): Int = {
    val ts = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("stream execution thread"))
    ts.foreach(_.join(2000))
    ts.count(_.isAlive)
  }

  final class Runner(spark: SparkSession, dataDir: String,
                     expected: Map[String, Expected], tracer: Tracer) {
    private val queries = SparkEntry.queries
    private val sc = spark.sparkContext

    def run(gate: String, pass: Int, traced: Boolean): GateRun = {
      if (traced) tracer.take(sc)
      heapPools.foreach(_.resetPeakUsage())
      val cpu0 = processCpuNs
      val gc0 = gcMs
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tBuilt = t0
      var digest = ""
      var failure: Option[String] = None
      try {
        val df = queries(gate)(spark, dataDir)
        tBuilt = System.nanoTime()
        val obs = Observation()
        val aggs = Digest.aggregates(df.schema)
        df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
        val m = obs.get
        digest = Digest.render(df.schema, m("rows").asInstanceOf[Long], m("h1"), m("h2"))
      } catch {
        case e: Throwable =>
          if (tBuilt == t0) tBuilt = System.nanoTime()
          failure = Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val cpuS = (processCpuNs - cpu0) / 1e9
      val gcS = (gcMs - gc0) / 1e3
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / MB
      val layers = if (traced) Some(tracer.take(sc)) else None
      val rddsLeft = sc.getPersistentRDDs.size
      val streamsLeft = liveStreams()
      // The first collection queues the gate's dead broadcasts and shuffles
      // for Spark's ContextCleaner; the second, after the cleaner has had
      // time to drop them, leaves what the gate really retains.
      System.gc()
      Thread.sleep(CleanerWaitMs)
      System.gc()
      val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
      // Leave the next gate a clean cache, as a long-lived service would
      // need; the leak itself was counted above.
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.streams.active.foreach(_.stop())

      if (failure.isEmpty) expected.get(gate) match {
        case Some(e) if e.digest != digest =>
          failure = Some(s"digest $digest, expected ${e.digest}")
        case None if expected.nonEmpty =>
          failure = Some("no recorded digest")
        case _ =>
      }
      if (failure.isEmpty && streamsLeft > 0)
        failure = Some(s"$streamsLeft streaming queries still active")
      val elapsedS = (t1 - t0) / 1e9
      val wallS = if (failure.isEmpty) elapsedS
                  else math.max(elapsedS, expected.get(gate).map(_.refS).getOrElse(0.0))
      failure.foreach(f => System.err.println(s"[lakebench] FAILED $gate (pass $pass): $f"))
      GateRun(gate, pass, traced, startMs, endMs, wallS, (tBuilt - t0) / 1e9, (t1 - tBuilt) / 1e9, cpuS, gcS,
        heapPeakMb, heapRetainedMb, rddsLeft, streamsLeft, digest, failure, layers)
    }

    /** Digest of each DuckDB oracle output found as `dir/<gate>.parquet`,
      * read with the gate's own column names and types so that the two
      * engines' type choices (HUGEINT sums, int widths) do not count. */
    def oracleDigests(gates: Seq[String], dir: String): Map[String, String] =
      gates.filter(g => Files.isDirectory(Paths.get(s"$dir/$g.parquet"))).map { g =>
        val schema = queries(g)(spark, dataDir).schema
        val oracle = spark.read.parquet(s"$dir/$g.parquet")
        val cols = oracle.columns.map(c => c.toLowerCase -> c).toMap
        g -> (if (schema.fields.forall(f => cols.contains(f.name.toLowerCase)))
          Digest.of(oracle.select(schema.fields.toSeq.map(f =>
            oracle.col(s"`${cols(f.name.toLowerCase)}`").cast(f.dataType).as(f.name)): _*))
        else s"columns ${oracle.columns.sorted.mkString(",")}")
      }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.all.contains(workload),
      s"unknown workload $workload; one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dataDir = need("data")
    val expected = readExpected(need("expect"))
    val outFile = need("out")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    val tracer = new Tracer
    val runner = new Runner(spark, dataDir, expected, tracer)

    def pass(p: Int, traced: Boolean): Seq[GateRun] = {
      if (traced) tracer.start(spark.sparkContext)
      try Workloads.order(workload, seed, p).map(runner.run(_, p, traced))
      finally if (traced) spark.sparkContext.removeSparkListener(tracer)
    }

    // Set-up: JVM and session start, then a first pass that builds the
    // gates' fixtures and pays for class loading and the cold JIT.
    val setupRuns = pass(0, traced = false)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Warm passes while the next one is expected to end within the time,
    // and at least three beyond the warm-up ones, so that every run
    // reports a median of three. A traced run alternates untraced and
    // traced passes, so both see the same JIT and cache state and their
    // difference is the tracing overhead.
    val t0 = System.nanoTime()
    val runs = Seq.newBuilder[GateRun]
    var p = 1
    var last = 0.0
    def used: Double = (System.nanoTime() - t0) / 1e9
    while (p <= MinPasses || used + last <= seconds) {
      val before = used
      runs ++= pass(p, traced = trace && p % 2 == 0)
      last = used - before
      p += 1
    }
    val warm = runs.result()
    val oracle = opt.get("oracle").map(runner.oracleDigests(Workloads.all(workload), _))
    spark.stop()

    val json = Report.json(workload, seed, seconds, trace, cpus, setupS, setupRuns ++ warm,
      oracle.getOrElse(Map.empty))
    Files.write(Paths.get(outFile), json.getBytes(UTF_8))
  }
}
