package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Entry point of the benchmark JVM; `perfbench/run.py` launches it.
  *
  *   --mode run        one workload run, written as a capture file
  *   --mode reference  record result checksums (see reference.py)
  *   --mode reopen     reopen the dyn_rw store in a fresh JVM
  */
object Main {
  /** The fixture scale every workload runs at. */
  val Scale = "sf0.1"
  /** Units run before timing starts: first executions of a key run
    * 2-8x slower than warm ones (JIT, codegen, caches), and units keep
    * getting faster for a few more.
    */
  val WarmupUnits = 3
  /** Fewest units a timed region runs, so the median over units has a
    * middle even when the box is slow.
    */
  val MinUnits = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    o.getOrElse("mode", "run") match {
      case "run" => run(o)
      case "reference" => reference(o)
      case "reopen" =>
        val (checked, bad) = DynRw.reopen(Paths.get(o("work")))
        println(Json.write(Map("checked" -> checked, "mismatches" -> bad.take(10),
          "mismatch_count" -> bad.size)))
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def cores(master: String): Int =
    "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt)
      .getOrElse(sys.error(s"master must be local[N], got $master"))

  def session(master: String, work: Path): SparkSession = {
    Seq("spark-local", "warehouse").foreach(d => Files.createDirectories(work.resolve(d)))
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(master)
      .config("spark.sql.shuffle.partitions", cores(master).toString)
      // the session settings graft.Bench runs the suite with
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `SPARK_GRAFT_SF_DIR`, else the [[Scale]] directory beside the
    * fixture `SparkEntry.entry` reads.
    */
  def fixtures(spark: SparkSession): String = {
    val dir = sys.env.get("SPARK_GRAFT_SF_DIR").map(Paths.get(_)).getOrElse {
      val f = Paths.get(new java.net.URI(SparkEntry.entry(spark).inputFiles.head))
      f.getParent.getParent.resolve(Scale)
    }
    require(Files.isDirectory(dir), s"fixture directory $dir not found")
    dir.toString
  }

  private def workloadOf(name: String, spark: SparkSession, runner: Runner,
      sfDir: String, work: Path, expected: Path): Workload = {
    lazy val sums = Json.checksums(expected)
    name match {
      case "sql_light" => new SqlLight(spark, runner, sfDir, sums)
      case "dyn_rw" => new DynRw(spark, runner, sfDir, work)
      case other => sys.error(s"unknown workload $other")
    }
  }

  private def run(o: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(o("work")).toAbsolutePath
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val master = o("master")
    def log(msg: String): Unit =
      println(f"perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%8.3f s  $msg")
    log("jvm up")
    val spark = session(master, work)
    val sessionMs = System.currentTimeMillis() - jvmStart
    log("session up")
    val listener = new GroupListener
    val runner = new Runner(spark, listener)
    try {
      // finding the fixtures runs a first Spark job; it counts as `seed`
      val t0 = System.currentTimeMillis()
      val sfDir = fixtures(spark)
      val wl = workloadOf(o("workload"), spark, runner, sfDir, work, Paths.get(o("expected")))
      log("fixtures found")
      wl.seed()
      val t1 = System.currentTimeMillis()
      log("seeded")
      runner.journalRoot = wl.storeRoot
      val warm = new Random(seed * 1000003L + 17)
      (1 to WarmupUnits).foreach { i => wl.unit(warm); log(s"warm-up unit $i done") }
      val warmupFailures = runner.failures.size
      val t2 = System.currentTimeMillis()
      val setupS = (t2 - jvmStart) / 1000.0
      val rng = new Random(seed)

      /** Whole units until `seconds` of unit time have passed, and at
        * least [[MinUnits]]. The region starts from a collected heap and
        * ends with a full GC that measures the live heap the units left.
        */
      def timed(): Region = {
        runner.samples.clear()
        val units = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
        Jvm.liveHeapBytes()
        val (g0, c0) = (Jvm.gcMs, Jvm.cpuMs)
        runner.recording = true
        while (units.size < MinUnits || units.map(_._1).sum < seconds) {
          val (n0, s0) = (runner.samples.size, System.nanoTime())
          wl.unit(rng)
          units += (((System.nanoTime() - s0) / 1e9, runner.samples.size - n0))
          log(f"timed unit done in ${units.last._1}%.3f s")
        }
        runner.recording = false
        val (gcMs, cpuMs) = (Jvm.gcMs - g0, Jvm.cpuMs - c0)
        Region(units.toList, runner.samples.toList, Jvm.liveHeapBytes(), gcMs, cpuMs)
      }

      val region = timed()
      val samples = region.samples
      val reads = samples.filter(_.kind == "read").map(_.ms)
      val (p75, p90) = (Stats.pct(reads, 75), Stats.pct(reads, 90))
      val endToEnd = Map(
        "setup_s" -> setupS,
        "throughput_ops_s" -> region.throughput,
        "latency_p50_ms" -> Stats.pct(reads, 50),
        "latency_p75_ms" -> p75,
        "heap_live_peak_mb" -> region.liveBytes / 1048576.0)
      val report = Map(
        "timed_s" -> region.seconds,
        "units" -> region.units.size.toDouble,
        "ops" -> samples.size.toDouble,
        "cpu_ms_per_op" -> region.cpuMs / samples.size,
        "latency_samples" -> reads.size.toDouble,
        "latency_samples_beyond_p75" -> reads.count(_ > p75).toDouble,
        "latency_p90_ms" -> p90,
        "latency_samples_beyond_p90" -> reads.count(_ > p90).toDouble) ++ wl.report(samples)

      var perLayer = Map.empty[String, Double]
      var layerReport = Map.empty[String, Any]
      if (trace) {
        spark.sparkContext.addSparkListener(listener)
        runner.traced = true
        val traced = timed()
        val store = wl.storeRoot.map(DirListing.of).getOrElse(DirListing(Map.empty))
        val untracedMean = samples.map(_.ms).sum / samples.size
        val tracedMean = traced.samples.map(_.ms).sum / traced.samples.size
        val setupLayers = Map("setup.session_ms" -> sessionMs.toDouble,
          "setup.seed_ms" -> (t1 - t0).toDouble, "setup.warmup_ms" -> (t2 - t1).toDouble)
        perLayer = Layers.perLayer(runner.layers.toMap, runner.tracedOps) ++ setupLayers ++ Map(
          "dynamo.store.bytes" -> store.bytes.toDouble,
          "dynamo.store.files" -> store.count.toDouble,
          "dynamo.store.space_amp" -> report.getOrElse("space_amp", 0.0),
          "jvm.gc_ms" -> traced.gcMs.toDouble / math.max(1, runner.tracedOps),
          "jvm.heap_live_peak_mb" -> traced.liveBytes / 1048576.0,
          "trace.overhead_pct" -> (tracedMean / untracedMean - 1) * 100)
        layerReport = Map(
          "traced_s" -> traced.seconds,
          "traced_ops" -> runner.tracedOps,
          "ungrouped_jobs" -> listener.ungroupedJobs,
          "totals" -> runner.layers.toMap)
      }

      wl match {
        case rw: DynRw => rw.writeExpected()
        case _ =>
      }
      val failures = runner.failures.toList
      val capture = Map(
        "stamp" -> Map(
          "workload" -> o("workload"), "seed" -> seed, "traced" -> trace,
          "run_seconds" -> seconds,
          "commit" -> o.getOrElse("commit", "unknown"),
          "source_sha" -> o.getOrElse("source", "unknown"),
          "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> master,
          "sf" -> Paths.get(sfDir).getFileName.toString,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
          "spark" -> spark.version),
        "correct" -> (runner.failed == 0 && warmupFailures == 0),
        "attempted" -> runner.attempted,
        "failed" -> runner.failed,
        "warmup_failures" -> warmupFailures,
        "failures" -> failures,
        "end_to_end" -> endToEnd,
        "report" -> report,
        "samples" -> samples.map(x => Map("kind" -> x.kind, "key" -> x.key, "ms" -> x.ms)),
        "units" -> region.units.map { case (sec, n) => Map("s" -> sec, "ops" -> n) },
        "per_layer" -> perLayer,
        "layers" -> layerReport)
      Files.write(Paths.get(o("out")), Json.write(capture).getBytes(UTF_8))
    } finally spark.stop()
  }

  /** Runs every sql_light key twice, dumps each result as parquet
    * beside `oracle_sql.json` for `tools/check.py`, and writes both
    * executions' checksums with the fixture directory they read.
    */
  private def reference(o: Map[String, String]): Unit = {
    val work = Paths.get(o("work")).toAbsolutePath
    val out = Paths.get(o("out")).toAbsolutePath
    val spark = session(o("master"), work)
    val sfDir = fixtures(spark)
    try {
      val keys = SqlLight.keys
      val sums = keys.map { k =>
        val fn = SparkEntry.queries(k)
        val runs = (1 to 2).map(_ => Checksum.of(Checksum.frame(fn(spark, sfDir)).collect()))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.resolve(k).toString)
        k -> runs.map(c => Map("rows" -> c.rows, "xor" -> c.xor, "sum" -> c.sum))
      }.toMap
      Files.write(out.resolve("oracle_sql.json"),
        Json.write(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }).getBytes(UTF_8))
      Files.write(out.resolve("checksums.json"),
        Json.write(Map("sf_dir" -> sfDir, "keys" -> sums)).getBytes(UTF_8))
    } finally spark.stop()
  }
}

/** A timed region: per-unit (seconds, operations), the samples, the
  * live heap at its end, and the GC and CPU time it used.
  */
final case class Region(units: Seq[(Double, Int)], samples: Seq[Sample],
    liveBytes: Long, gcMs: Long, cpuMs: Double) {
  def seconds: Double = units.map(_._1).sum
  /** Operations completed per second, median over units: a burst of
    * load from outside (a shared host) slows one unit, not the median.
    */
  def throughput: Double = Stats.pct(units.map { case (s, n) => n / s }, 50)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default); 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Per-layer metrics derived from the traced region's totals. */
object Layers {
  /** Metrics divided by the number of traced operations. */
  val perOp = Seq("queries.build_ms", "queries.build_jobs", "spark.plan.ms",
    "spark.plan.analysis_ms", "spark.plan.optimize_ms", "spark.plan.planning_ms",
    "spark.exec.job_wall_ms", "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
    "spark.exec.task_run_ms", "spark.exec.task_cpu_ms", "spark.exec.deser_ms",
    "spark.exec.sched_wait_ms", "spark.exec.shuffle_write_bytes",
    "spark.exec.shuffle_read_bytes", "spark.exec.spill_bytes", "spark.exec.input_bytes",
    "spark.exec.gc_ms", "driver.gap_ms", "dynamo.read.items_scanned",
    "dynamo.read.items_returned")

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  def perLayer(t: Map[String, Double], ops: Int): Map[String, Double] = {
    def g(k: String) = t.getOrElse(k, 0.0)
    perOp.map(k => k -> ratio(g(k), ops)).toMap ++ Map(
      "dynamo.read.useful_ratio" ->
        ratio(g("dynamo.read.items_returned"), g("dynamo.read.items_scanned")),
      "dynamo.store.journal_files_pending" ->
        ratio(g("dynamo.store.journal_files_pending"), g("dynamo.store.journal_listings")),
      "dynamo.store.journal_bytes_pending" ->
        ratio(g("dynamo.store.journal_bytes_pending"), g("dynamo.store.journal_listings")),
      "dynamo.store.scan_ms" -> ratio(g("dynamo.store.scan_ms"), g("dynamo.store.scans")),
      "dynamo.store.items_per_s" ->
        ratio(g("dynamo.store.scan_items"), g("dynamo.store.scan_ms") / 1000),
      "dynamo.write.ms" -> ratio(g("dynamo.write.ms"), g("dynamo.write.calls")),
      "dynamo.write.items" -> ratio(g("dynamo.write.items"), g("dynamo.write.calls")),
      "dynamo.write.bytes_written" -> ratio(g("dynamo.write.bytes_written"), g("dynamo.write.calls")),
      "dynamo.write.amp" -> ratio(g("dynamo.write.bytes_written") + g("dynamo.maint.bytes_rewritten"),
        g("dynamo.write.user_bytes")),
      "dynamo.maint.compact_ms" -> ratio(g("dynamo.maint.compact_ms"), g("dynamo.maint.compactions")),
      "dynamo.maint.bytes_rewritten" ->
        ratio(g("dynamo.maint.bytes_rewritten"), g("dynamo.maint.compactions")),
      "dynamo.maint.journal_files_folded" ->
        ratio(g("dynamo.maint.journal_files_folded"), g("dynamo.maint.compactions")))
  }
}

object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v))

  /** `{"keys": {key: {"rows", "xor", "sum"}}}` as recorded by reference.py. */
  def checksums(p: Path): Map[String, Checksum] = {
    val keys = mapper.readTree(p.toFile).get("keys")
    keys.fieldNames().asScala.map { k =>
      val e = keys.get(k)
      k -> Checksum(e.get("rows").asLong, e.get("xor").asLong, e.get("sum").asLong)
    }.toMap
  }
}
