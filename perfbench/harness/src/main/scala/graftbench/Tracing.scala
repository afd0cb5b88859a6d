package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** What the listener saw for one job group: the jobs one phase of one
  * operation ran, and the task metrics of their stages.
  */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one job (jobs of one group can run
    * concurrently, e.g. a broadcast beside the main job).
    */
  def jobWallMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Collects job, stage and task metrics keyed by the job group the
  * benchmark sets around each phase of each traced operation. Jobs run
  * outside any group are only counted.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private var ungrouped = 0

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) =>
        stats(g).jobs += 1
        jobStart(e.jobId) = (g, e.time)
        e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
      case None => ungrouped += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => stats(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      stats(g).stages += 1
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { t0 =>
        s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
      }
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Removes and returns a group's record; call after draining the bus. */
  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }

  def ungroupedJobs: Int = synchronized(ungrouped)
}

object Jvm {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used so far, all threads. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Collection time so far, all collectors. */
  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after a full collection: the live data the
    * workload keeps between operations, caches included.
    */
  def liveHeapBytes(): Long = {
    // Spark's ContextCleaner drops a broadcast's or shuffle's blocks only
    // after a collection has cleared its reference, on its own thread:
    // collect, give the cleaner time, and collect what it released.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** A file listing of a store directory: relative path -> (bytes, mtime).
  * Dot-prefixed files are in-flight temporaries and invisible to readers,
  * so they are skipped.
  */
final case class DirListing(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.values.map(_._1).sum
  def count: Int = files.size

  /** Bytes of files that are new or changed relative to `before`. */
  def writtenSince(before: DirListing): Long = files.collect {
    case (p, (sz, mt)) if !before.files.get(p).contains((sz, mt)) => sz
  }.sum

  /** Journal files (`wal-*`) of `before` that are gone now. */
  def journalFoldedSince(before: DirListing): Int =
    before.files.keys.count(p => DirListing.isJournal(p) && !files.contains(p))

  def journal: (Int, Long) = {
    val j = files.filter { case (p, _) => DirListing.isJournal(p) }
    (j.size, j.values.map(_._1).sum)
  }
}

object DirListing {
  def isJournal(rel: String): Boolean = {
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    name.startsWith("wal-")
  }

  def of(root: Path): DirListing = {
    if (!Files.isDirectory(root)) return DirListing(Map.empty)
    val walk = Files.walk(root)
    try {
      DirListing(walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .flatMap { p =>
          // a file can vanish between listing and stat (compaction)
          try Some(root.relativize(p).toString ->
            ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
          catch { case _: java.nio.file.NoSuchFileException => None }
        }.toMap)
    } finally walk.close()
  }

  def wipe(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
