package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the program's public calls, plus the engine counters
  * of every Spark task attributed to the span that launched it.
  *
  * A span names the module (layer) whose public function it wraps.
  * While a span is open, the driver thread carries its id in the local
  * property [[Prop]]; jobs inherit it (streaming queries too, since
  * their execution thread copies the properties of the thread that
  * started them), so the listener can charge each task to a span.
  * Spans are kept in memory and aggregated when the run ends.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  final class Span(val id: Int, val layer: String, val kind: String,
                   val parent: Option[Span]) {
    var durNs: Long = 0L
    val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
    def selfNs: Long = durNs - children.map(_.durNs).sum
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val sc = spark.sparkContext

  private def create(layer: String, kind: String): Span = {
    val s = new Span(spans.size, layer, kind, current)
    current.foreach(_.children += s)
    spans += s
    s
  }

  private def tagged[A](s: Option[Span])(body: => A): A = {
    val saved = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.map(_.id.toString).orNull)
    try body finally sc.setLocalProperty(Prop, saved)
  }

  /** Time `body` as a span of `layer`, nested in the open span. */
  def span[A](layer: String, kind: String)(body: => A): A = {
    val s = create(layer, kind)
    val outer = current
    current = Some(s)
    val t0 = System.nanoTime()
    try tagged(current)(body)
    finally { s.durNs = System.nanoTime() - t0; current = outer }
  }

  /** A child span whose duration is only known afterwards: the
    * operator's share of a streaming drain, which runs on the query's
    * own thread. Jobs started inside `start` (the query's thread is
    * created there) are charged to it.
    */
  def deferred[A](layer: String, kind: String)(start: => A): (Span, A) = {
    val s = create(layer, kind)
    (s, tagged(Some(s))(start))
  }

  // ─── engine counters ────────────────────────────────────────────────

  final class Counters {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var inBytes = 0L; var outBytes = 0L
    var scanRunMs = 0L
  }

  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val lock = new Object
  private var jobsOpen = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      lastEventNs = System.nanoTime(); jobsOpen += 1
      spanOf(e.properties).foreach(id => bySpan.getOrElseUpdate(id, new Counters).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      lastEventNs = System.nanoTime(); jobsOpen -= 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      spanOf(e.properties).foreach(id => stageSpan(e.stageInfo.stageId) = id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = bySpan.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.bytesRead > 0) c.scanRunMs += m.executorRunTime
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)

  /** Detach once the listener bus has delivered every event of the
    * finished jobs (it is asynchronous): no job open and 200 ms quiet,
    * bounded at 10 s.
    */
  def detach(): Unit = {
    val until = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() < until &&
      (lock.synchronized(jobsOpen) > 0 || System.nanoTime() - lastEventNs < 200L * 1000000L))
      Thread.sleep(20)
    sc.removeSparkListener(listener)
  }

  // ─── aggregation ────────────────────────────────────────────────────

  /** Per-layer metrics, each normalised per traced cycle. */
  def layerMetrics(cycles: Int): Map[String, Double] = lock.synchronized {
    val n = math.max(cycles, 1).toDouble
    def sumOf(ss: Seq[Span])(f: Counters => Long): Double =
      ss.flatMap(s => bySpan.get(s.id)).map(f).sum.toDouble
    val perLayer = Layers.flatMap { layer =>
      val ss = spans.toSeq.filter(_.layer == layer)
      val selfS = ss.map(_.selfNs).sum / 1e9
      val runS = sumOf(ss)(_.runMs) / 1e3
      val stagesOfLayer = stageSpan.collect { case (st, id) if ss.exists(_.id == id) => st }
      val worst = stagesOfLayer.flatMap(stageTasks.get).filter(_.nonEmpty)
        .maxByOption(_.max)
      val skew = worst.map { d =>
        val sorted = d.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L).toDouble
      }.getOrElse(0.0)
      Seq(
        "self_s" -> selfS / n,
        "jobs" -> sumOf(ss)(_.jobs) / n,
        "tasks" -> sumOf(ss)(_.tasks) / n,
        "cpu_s" -> sumOf(ss)(_.cpuNs) / 1e9 / n,
        "gc_s" -> sumOf(ss)(_.gcMs) / 1e3 / n,
        "shuffle_mb" -> sumOf(ss)(_.shuffleBytes) / Mb / n,
        "spill_mb" -> sumOf(ss)(_.spillBytes) / Mb / n,
        "core_util" -> (if (selfS > 0) runS / (selfS * cores) else 0.0),
        "skew" -> skew).map { case (k, v) => s"$layer.$k" -> v }
    }
    val all = spans.toSeq
    def kindS(kind: String) = all.filter(_.kind == kind).map(_.durNs).sum / 1e9 / n
    (perLayer ++ Seq(
      "Pipeline.gate_s" -> kindS("gate"),
      "Pipeline.validate_load_s" -> kindS("validate_load"),
      "GraftSession.release_s" -> kindS("release"),
      "sources.scan_s" -> sumOf(all)(_.scanRunMs) / 1e3 / n,
      "sources.input_mb" -> sumOf(all)(_.inBytes) / Mb / n,
      "sources.output_mb" -> sumOf(all)(_.outBytes) / Mb / n)).toMap
  }

  /** Wall time of the root spans inside operations (the ones not
    * nested in another; cache releases run between operations).
    */
  def rootSeconds: Double =
    spans.filter(s => s.parent.isEmpty && s.kind != "release").map(_.durNs).sum / 1e9
}

object Tracer {
  val Prop = "perfbench.span"
  val Mb: Double = 1024.0 * 1024.0

  /** The layers, named after the program's modules. */
  val Layers: Seq[String] = Seq("Pipeline", "operators.Cleaning",
    "operators.Dimensions", "operators.Facts", "operators.Marts",
    "operators.ReferenceQueries", "operators.Dedup", "operators.Similarity",
    "operators.TextAnalysis", "streaming", "sources")

  /** Counters that only some workloads produce; the others report 0. */
  val Extras: Seq[String] = Seq("streaming.batches", "streaming.rows_in",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms")
}
