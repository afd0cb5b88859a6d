package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One completed operation of the timed region. */
final case class Sample(kind: String, key: String, ms: Double)

/** Runs the closed loop's operations one at a time. Untraced, an
  * operation is just its calls into graft. Traced, each phase of an
  * operation runs under its own job group, and the benchmark records
  * the layer numbers around it from outside: builder call, forced
  * planning, jobs from the listener, scan metrics from the executed
  * plan, and store listings before reads and around writes.
  */
final class Runner(spark: SparkSession, listener: GroupListener) {
  private val sc = spark.sparkContext

  /** Trace the operations that follow. */
  var traced = false
  /** Count operations toward the result (off during warm-up). */
  var recording = false
  /** Store whose journal backlog is listed before each traced read. */
  var journalRoot: Option[Path] = None

  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Layer totals of the traced region. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var tracedOps = 0
  private var seq = 0

  def add(name: String, v: Double): Unit =
    layers(name) = layers.getOrElse(name, 0.0) + v

  private def fail(kind: String, key: String, msg: String): Unit = {
    if (recording) failed += 1
    if (failures.size < 20) failures += s"$kind $key: $msg"
  }

  private def done(kind: String, key: String, ms: Double,
      verdict: Option[String]): Unit = {
    if (recording) samples += Sample(kind, key, ms)
    verdict.foreach(fail(kind, key, _))
  }

  /** A read: `build` makes the DataFrame (the graft call being timed),
    * `finish` wraps it in what is collected, `verify` judges the rows
    * (None = correct).
    */
  def query(key: String)(build: => DataFrame)(
      finish: DataFrame => DataFrame)(verify: Array[Row] => Option[String]): Unit = {
    val kind = "read"
    if (recording) attempted += 1
    try {
      if (!traced) {
        val t0 = System.nanoTime()
        val rows = finish(build).collect()
        done(kind, key, (System.nanoTime() - t0) / 1e6, verify(rows))
      } else {
        journalRoot.foreach { root =>
          val (files, bytes) = DirListing.of(root).journal
          add("dynamo.store.journal_files_pending", files)
          add("dynamo.store.journal_bytes_pending", bytes.toDouble)
          add("dynamo.store.journal_listings", 1)
        }
        seq += 1
        val (gb, gr) = (s"op$seq.build", s"op$seq.run")
        val t0 = System.nanoTime()
        val (rows, m, t1, t2) =
          try {
            sc.setJobGroup(gb, key)
            val df = build
            val t1 = System.nanoTime()
            sc.setJobGroup(gr, key)
            val m = finish(df)
            m.queryExecution.executedPlan
            val t2 = System.nanoTime()
            (m.collect(), m, t1, t2)
          } finally sc.clearJobGroup()
        val t3 = System.nanoTime()
        val wall = (t3 - t0) / 1e6
        done(kind, key, wall, verify(rows))
        BusDrain(sc)
        val b = listener.take(gb)
        val r = listener.take(gr)
        tracedOps += 1
        add("queries.build_ms", math.max(0.0, (t1 - t0) / 1e6 - b.jobWallMs))
        add("queries.build_jobs", b.jobs)
        add("spark.plan.ms", (t2 - t1) / 1e6)
        val phases = m.queryExecution.tracker.phases
        add("spark.plan.analysis_ms", phases.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
        add("spark.plan.optimize_ms", phases.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
        add("spark.plan.planning_ms", phases.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
        addJobs(b); addJobs(r)
        add("driver.gap_ms", (t3 - t2) / 1e6 - r.jobWallMs)
        val (scanned, dropped) = scanCounts(m.queryExecution.executedPlan)
        add("dynamo.read.items_scanned", scanned.toDouble)
        add("dynamo.read.items_returned", (scanned - dropped).toDouble)
      }
    } catch { case NonFatal(e) => fail(kind, key, describe(e)) }
  }

  /** A write or maintenance call on the store under `storeDir`; the
    * reads that follow check its effect. Returns whether it returned
    * normally.
    */
  def action(kind: String, key: String, storeDir: Path)(body: => Unit): Boolean = {
    if (recording) attempted += 1
    try {
      if (!traced) {
        val t0 = System.nanoTime()
        body
        done(kind, key, (System.nanoTime() - t0) / 1e6, None)
      } else {
        seq += 1
        val g = s"op$seq.run"
        val before = DirListing.of(storeDir)
        val t0 = System.nanoTime()
        try { sc.setJobGroup(g, key); body } finally sc.clearJobGroup()
        val wall = (System.nanoTime() - t0) / 1e6
        done(kind, key, wall, None)
        BusDrain(sc)
        val r = listener.take(g)
        val after = DirListing.of(storeDir)
        tracedOps += 1
        addJobs(r)
        add("driver.gap_ms", wall - r.jobWallMs)
        val written = after.writtenSince(before)
        if (kind == "compact") {
          add("dynamo.maint.compact_ms", wall)
          add("dynamo.maint.compactions", 1)
          add("dynamo.maint.bytes_rewritten", written.toDouble)
          add("dynamo.maint.journal_files_folded", after.journalFoldedSince(before))
        } else {
          add("dynamo.write.ms", wall)
          add("dynamo.write.calls", 1)
          add("dynamo.write.bytes_written", written.toDouble)
        }
      }
      true
    } catch { case NonFatal(e) => fail(kind, key, describe(e)); false }
  }

  private def addJobs(s: GroupStats): Unit = {
    add("spark.exec.job_wall_ms", s.jobWallMs)
    add("spark.exec.jobs", s.jobs)
    add("spark.exec.stages", s.stages)
    add("spark.exec.tasks", s.tasks)
    add("spark.exec.task_run_ms", s.taskRunMs)
    add("spark.exec.task_cpu_ms", s.taskCpuNs / 1e6)
    add("spark.exec.gc_ms", s.gcMs)
    add("spark.exec.deser_ms", s.deserMs)
    add("spark.exec.sched_wait_ms", s.schedWaitMs)
    add("spark.exec.shuffle_write_bytes", s.shuffleWriteBytes.toDouble)
    add("spark.exec.shuffle_read_bytes", s.shuffleReadBytes.toDouble)
    add("spark.exec.spill_bytes", s.spillBytes.toDouble)
    add("spark.exec.input_bytes", s.inputBytes.toDouble)
  }

  /** The connector's `itemsScanned` / `itemsFiltered` SQL metrics,
    * summed over every node of the executed plan and its subqueries.
    */
  private def scanCounts(plan: SparkPlan): (Long, Long) = {
    var scanned, filtered = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ =>
      }
      p.metrics.get("itemsScanned").foreach(scanned += _.value)
      p.metrics.get("itemsFiltered").foreach(filtered += _.value)
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    (scanned, filtered)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}"
}
