package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What the benchmark knows about one run: spans around its calls into
  * each engine layer, the Spark work those calls caused, and the peak
  * storage memory held by persisted blocks.
  *
  * A span is a layer name plus a phase (`""` for a layer without
  * phases). While a span is open the calling thread carries it in a
  * Spark local property; threads the engine starts from that thread
  * inherit it, so every job is filed under the innermost open span by
  * a listener registered here, with no hook inside the engine.
  *
  * With tracing off, spans only run their body; the storage peak is
  * measured either way, because it is an end-to-end metric.
  */
final class Trace(spark: SparkSession, val on: Boolean) extends Spans {
  import Trace._

  private val sc = spark.sparkContext

  /** Per-span accumulated Spark work; written only by the listener
    * thread, read after [[drain]].
    */
  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var waitMs = 0L
    var shuffleBytes = 0L
    var outBytes = 0L
    val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val work = mutable.HashMap.empty[String, Work]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var heldMem = 0L
  private var peakMem = 0L

  private def workOf(key: String): Work = work.getOrElseUpdate(key, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach { key =>
          jobSpan(e.jobId) = (key, e.time)
          e.stageIds.foreach(stageSpan(_) = key)
          workOf(key).jobs += 1
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (key, t0) =>
        workOf(key).jobWindows += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { key =>
          stageSubmitted(e.stageInfo.stageId) =
            e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
          workOf(key).stages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { key =>
        val w = workOf(key)
        val info = e.taskInfo
        w.tasks += 1
        w.taskMs += info.duration
        stageSubmitted.get(e.stageId).foreach(s =>
          w.waitMs += math.max(0L, info.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val id = b.blockId.name
          heldMem -= blockMem.getOrElse(id, 0L)
          if (b.storageLevel.isValid && b.memSize > 0) {
            blockMem(id) = b.memSize
            heldMem += b.memSize
          } else blockMem.remove(id)
          peakMem = math.max(peakMem, heldMem)
        }
      }
  }
  sc.addSparkListener(listener)

  /** Run `f` inside a span of `layer` (and `phase`). */
  override def span[A](layer: String, phase: String = "")(f: => A): A =
    if (!on) f
    else {
      val key = if (phase.isEmpty) layer else s"$layer:$phase"
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, key)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val rec = SpanRec(key, w0, System.currentTimeMillis(),
          System.nanoTime() - t0)
        synchronized { spans += rec }
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Wait for the listener to see every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Restart the storage peak from what is held now. */
  def resetPeak(): Unit = { drain(); synchronized { peakMem = heldMem } }

  def peakStorageMb: Double = { drain(); synchronized { peakMem / Mb } }

  /** Totals of one span key, after [[drain]]. */
  def totals(layer: String, phase: String = ""): Totals = {
    drain()
    val key = if (phase.isEmpty) layer else s"$layer:$phase"
    synchronized {
      val mine = spans.filter(_.key == key)
      val w = work.getOrElse(key, new Work)
      val busy = mine.map(_.nanos).sum / 1e9
      // the part of each span during which none of its jobs ran
      val covered = mine.map(s => unionMs(w.jobWindows.toSeq.map {
        case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs))
      })).sum / 1e3
      Totals(busy, math.max(0.0, busy - covered), w.jobs, w.stages, w.tasks,
        w.taskMs / 1e3, w.waitMs / 1e3, w.shuffleBytes / Mb, w.outBytes / Mb)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

/** Something that can wrap a call in a span. */
trait Spans {
  def span[A](layer: String, phase: String = "")(f: => A): A
}

/** Spans that only run their body. */
object NoSpans extends Spans {
  def span[A](layer: String, phase: String = "")(f: => A): A = f
}

object Trace {
  val Key = "perfbench.span"
  private val Mb = 1024.0 * 1024.0

  private final case class SpanRec(key: String, startMs: Long, endMs: Long,
                                   nanos: Long)

  final case class Totals(busyS: Double, driverS: Double, jobs: Long,
                          stages: Long, tasks: Long, taskS: Double,
                          waitS: Double, shuffleMb: Double, outMb: Double)

  /** Length of the union of closed intervals (empty ones ignored). */
  def unionMs(windows: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    windows.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a; curEnd = b
        } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** CPU time of this JVM so far, all threads, in seconds. */
  def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Garbage-collection time of this JVM so far, in seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
