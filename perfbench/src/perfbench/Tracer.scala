package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark-side tracer: spans around calls into the program's layers, and
  * a SparkListener that charges every job, stage and task to the span that
  * was open on the driver thread when the job was submitted. The join key is
  * the local property [[Tracer.Key]], which Spark copies into each job's and
  * stage's properties. Spans stay in memory until [[write]].
  */
object Tracer {
  val Key = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Engine counters charged to one span. */
  final class Counters {
    var jobs, stages, tasks = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    var gcMs, cpuNs = 0L
    /** task wall times (s) per stage id */
    val taskS = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  }
}

final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = 0 // id of the innermost open span; 0 is the root
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(0)

  private def c(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      c(spanOf(e.properties)).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      c(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val k = c(stageSpan.getOrElse(e.stageId, 0))
      k.tasks += 1
      k.taskS.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration / 1e3
      val m = e.taskMetrics
      if (m != null) {
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.input += m.inputMetrics.bytesRead
        k.output += m.outputMetrics.bytesWritten
        k.gcMs += m.jvmGCTime
        k.cpuNs += m.executorCpuTime
      }
    }
  }
  private var attached = false
  resume()

  /** Runs `f` inside a new span named `name`; returns its result and seconds. */
  def span[A](name: String)(f: => A): (A, Double) = {
    val sc = spark.sparkContext
    val s = Span(spans.size + 1, name, open, System.nanoTime() - t0)
    spans += s
    val parent = open
    open = s.id
    sc.setLocalProperty(Key, s.id.toString)
    try {
      val r = f
      s.endNs = System.nanoTime() - t0
      (r, s.seconds)
    } finally {
      if (s.endNs < 0) s.endNs = System.nanoTime() - t0
      open = parent
      sc.setLocalProperty(Key, if (parent == 0) null else parent.toString)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Detaches the listener: calls made until [[resume]] are not traced. */
  def pause(): Unit = if (attached) {
    drain(); spark.sparkContext.removeSparkListener(listener); attached = false
  }

  def resume(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener); attached = true
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def subtree(id: Int): Seq[Int] =
    id +: spans.filter(_.parent == id).flatMap(s => subtree(s.id)).toSeq

  /** Counters of every span named `name` and of their descendants, summed. */
  def totals(name: String): Counters = {
    drain()
    synchronized(sum(name))
  }

  private def sum(name: String): Counters = {
    val ids = named(name).flatMap(s => subtree(s.id)).toSet
    val t = new Counters
    ids.flatMap(counters.get).foreach { k =>
      t.jobs += k.jobs; t.stages += k.stages; t.tasks += k.tasks
      t.shuffleWrite += k.shuffleWrite; t.shuffleRead += k.shuffleRead
      t.spill += k.spill; t.input += k.input; t.output += k.output
      t.gcMs += k.gcMs; t.cpuNs += k.cpuNs
      k.taskS.foreach { case (st, ts) => t.taskS.getOrElseUpdate(st, mutable.ArrayBuffer.empty) ++= ts }
    }
    t
  }

  /** Spans as JSON lines: id, name, parent, start and end in seconds from
    * tracer creation. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}""")
    } finally out.close()
  }
}
