package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed call into a layer, made by the benchmark's own code. Spans
  * of one request share `request`; `parent` is the enclosing span.
  */
final case class Span(id: Int, parent: Int, request: Long, name: String, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder for a single client thread; written out when
  * the run ends.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var next = 0
  private var stack = List.empty[Int]

  def span[A](name: String, request: Long)(f: => A): A = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, request, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def named(name: String): Vector[Span] = spans.iterator.filter(_.name == name).toVector

  /** Per span name: count, total ms, and self ms (the span's time less
    * the part its child spans cover).
    */
  def selfTimes: Vector[(String, Int, Double, Double)] = {
    val childNanos = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.iterator.map(_.nanos).sum }
    spans.groupBy(_.name).toVector.sortBy(_._1).map { case (name, ss) =>
      val total = ss.iterator.map(_.nanos).sum
      val self = ss.iterator.map(s => s.nanos - childNanos.getOrElse(s.id, 0L)).sum
      (name, ss.length, total / 1e6, self / 1e6)
    }
  }

  def write(file: Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    selfTimes.foreach { case (n, c, total, self) =>
      sb ++= f"""{"layer":"$n","count":$c,"total_ms":$total%.3f,"self_ms":$self%.3f}""" + "\n"
    }
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}

/** Spark work per request, grouped by the job tag the client thread sets
  * around each request (`perfbench-<request id>`).
  */
final class SparkCounts extends SparkListener {
  import SparkCounts._

  private val stageRequest = new ConcurrentHashMap[Int, java.lang.Long]()
  private val perRequest = new ConcurrentHashMap[java.lang.Long, Array[Long]]()

  private def add(req: java.lang.Long, field: Int, n: Long): Unit =
    perRequest.computeIfAbsent(req, _ => new Array[Long](Fields)).synchronized {
      perRequest.get(req)(field) += n
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
    tags.split(",").find(_.startsWith(TagPrefix)).foreach { t =>
      val req = java.lang.Long.valueOf(t.stripPrefix(TagPrefix).toLong)
      add(req, Jobs, 1)
      e.stageIds.foreach(s => stageRequest.put(s, req))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageRequest.get(e.stageInfo.stageId)).foreach(add(_, Stages, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageRequest.get(e.stageId)).foreach { req =>
      add(req, Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(req, RunMs, m.executorRunTime)
        add(req, CpuNs, m.executorCpuTime)
        add(req, GcMs, m.jvmGCTime)
        add(req, ShuffleBytes, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }

  /** Sum of one field over the given requests. */
  def total(field: Int, requests: Iterable[Long]): Long =
    requests.iterator.map(r => Option(perRequest.get(java.lang.Long.valueOf(r))).map(_(field)).getOrElse(0L)).sum
}

object SparkCounts {
  val TagPrefix = "perfbench-"
  val Jobs = 0
  val Stages = 1
  val Tasks = 2
  val RunMs = 3
  val CpuNs = 4
  val GcMs = 5
  val ShuffleBytes = 6
  val Fields = 7
}
