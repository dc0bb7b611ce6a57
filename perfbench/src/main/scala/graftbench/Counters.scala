package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._

/** Scheduler, executor, shuffle, spill and cache counts, gathered by a
  * listener the benchmark registers for the traced run only. `snapshot`
  * drains the listener bus first, so a snapshot taken at a span boundary
  * holds every event posted before that boundary. */
final class Counters(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, gcMs, fetchWaitMs = 0L
  private var cpuNs, shWrite, shRead, spillMem, spillDisk = 0L
  /** executor run time of every finished task, in finish order */
  private val taskRuns = mutable.ArrayBuffer.empty[Long]
  /** cached RDD blocks -> (memory bytes, disk bytes) */
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  private var peakRdds, peakMem, peakDisk = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillMem += m.memoryBytesSpilled
      spillDisk += m.diskBytesSpilled
      taskRuns += m.executorRunTime
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        if (info.storageLevel.isValid)
          blocks(key) = (info.memSize, info.diskSize)
        else blocks.remove(key)
        notePeak()
      }
    }

  private def notePeak(): Unit = {
    val rdds = blocks.keys.map(_.split('_')(1)).toSet.size
    peakRdds = math.max(peakRdds, rdds.toLong)
    peakMem = math.max(peakMem, blocks.values.map(_._1).sum)
    peakDisk = math.max(peakDisk, blocks.values.map(_._2).sum)
  }

  /** Restart the cache peaks from the current cache contents. */
  def resetPeaks(): Unit = {
    Bus.drain(sc)
    synchronized { peakRdds = 0; peakMem = 0; peakDisk = 0; notePeak() }
  }

  def snapshot(): Map[String, Double] = {
    Bus.drain(sc)
    val (gcS, jitS) = Counters.jvmTimes()
    synchronized {
      Map(
        "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
        "tasks" -> tasks.toDouble, "task_idx" -> taskRuns.size.toDouble,
        "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
        "task_gc_s" -> gcMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
        "shuffle_write_mb" -> shWrite / 1e6, "shuffle_read_mb" -> shRead / 1e6,
        "spill_mem_mb" -> spillMem / 1e6, "spill_disk_mb" -> spillDisk / 1e6,
        "cache_rdds" -> peakRdds.toDouble, "cache_mem_mb" -> peakMem / 1e6,
        "cache_disk_mb" -> peakDisk / 1e6,
        "jvm_gc_s" -> gcS, "jvm_jit_s" -> jitS)
    }
  }

  /** (max, median) executor run time in seconds of the tasks that
    * finished between two snapshots' `task_idx`. */
  def taskSpread(from: Int, until: Int): (Double, Double) = synchronized {
    val xs = taskRuns.slice(from, until).sorted
    if (xs.isEmpty) (0.0, 0.0)
    else (xs.last / 1e3, xs(xs.size / 2) / 1e3)
  }
}

object Counters {
  /** Cumulative JVM garbage-collection and JIT-compilation seconds. */
  def jvmTimes(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc / 1e3, jit / 1e3)
  }
}
