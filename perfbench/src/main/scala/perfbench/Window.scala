package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** The measured part of a run: a set of wall intervals (output checks
  * in between are paused out), with the JVM's GC time and peak heap
  * over them. */
final class Window private () {
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  private var openedAt = Double.NaN
  private var gcMs = 0.0
  private var gcAtOpen = 0.0

  private def gcTotal(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def resume(): Unit = if (openedAt.isNaN) {
    openedAt = Clock.now()
    gcAtOpen = gcTotal()
  }

  def pause(): Unit = if (!openedAt.isNaN) {
    intervals += ((openedAt, Clock.now()))
    gcMs += gcTotal() - gcAtOpen
    openedAt = Double.NaN
  }

  def close(): Window.Closed = {
    pause()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    Window.Closed(intervals.toList, gcMs, heapPeak / 1048576.0)
  }
}

object Window {
  final case class Closed(intervals: Seq[(Double, Double)], gcMs: Double, heapPeakMb: Double) {
    def wallMs: Double = intervals.map { case (s, e) => e - s }.sum
    def contains(t: Double): Boolean = intervals.exists { case (s, e) => t >= s && t < e }
  }

  /** Open a window now; heap peaks are reset so the peak is the window's. */
  def open(): Window = {
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
    val w = new Window()
    w.resume()
    w
  }
}
