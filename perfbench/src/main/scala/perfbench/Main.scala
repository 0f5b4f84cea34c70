package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: build the session the program ships, set the
  * workload up, repeat its cycle a number of times sized to the
  * requested seconds, and print the metrics. `run.py` is the entry
  * point; it builds this package and passes the options below.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: String, benchDir: String,
                        input: String, cores: Int)

  /** `--key value` pairs. */
  def options(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  private def parse(args: Array[String]): Args = {
    val kv = options(args)
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("bench-dir"), need("input"),
      need("cores").toInt)
  }

  val workloads: Map[String, Run => Workload] = Map(
    "retail_warehouse" -> (r => new RetailWarehouse(r)),
    "stream_ingest" -> (r => new StreamIngest(r)))

  /** The session the program ships, on `local[cores]`. Its artifact
    * root lies in the run directory; warehouse.dir is static, so the
    * root is fixed here.
    */
  def session(cores: Int, runDir: String): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores,
      sys.env + ("GRAFT_WAREHOUSE_DIR" -> s"$runDir/artifacts")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.cores, a.runDir)
    val run = new Run(spark, a)
    try {
      val w = make(run)
      w.setup(Inputs.rowCounts(run.src).filter { case (t, _) => w.tables.contains(t) })
      // the set-up ends with a discarded warm-up cycle, which fills the
      // JIT and codegen caches
      run.phase("warmup")(run.warm(w, 0))
      run.setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      // a fixed number of cycles sized to the requested seconds, so every
      // run measures the same operations at the same point of the JVM's
      // warm-up; a trace run alternates untraced and traced cycles, at
      // least one of each
      val cycles = math.max(if (a.trace) 2 else 1, math.round(a.seconds / w.cycleSeconds).toInt)
      for (cycle <- 1 to cycles) {
        run.tracing = a.trace && cycle % 2 == 0
        run.cycle(w, cycle)
      }
      run.report(w)
    } finally spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** A workload: a set-up and a cycle of timed operations. */
trait Workload {
  /** The source tables the workload reads. */
  def tables: Seq[String]
  /** Prepare the first cycle, given the row count of each source table. */
  def setup(rows: Map[String, Long]): Unit
  /** About how long one cycle's operations take on a 4-core machine. */
  def cycleSeconds: Double
  def cycle(i: Int): Unit
  /** Per-layer extras only this workload can count, per traced cycle. */
  def layerExtras(tracedCycles: Int): Map[String, Double] = Map.empty
}

/** State of one run: samples, failures, the tracer, the inputs. */
final class Run(val spark: SparkSession, val a: Main.Args) {
  /** The source tables, shared read-only by every run of a build. */
  val src: String = a.input
  val artifacts: String = s"${a.runDir}/artifacts"
  val rnd = new scala.util.Random(a.seed)
  val tracer: Option[Tracer] = if (a.trace) Some(new Tracer(spark, a.cores)) else None
  val expectedFile: Path = Paths.get(a.benchDir, "expected.tsv")
  var tracing = false
  var warming = false
  var setupS = 0.0
  private var attempted = 0L
  private var failed = 0L
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var tracedCycles = 0
  private var opSeconds = 0.0

  /** Run an untimed step of the set-up, logging its wall time. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"phase $name%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def sample(metric: String, v: Double): Unit = if (!warming) {
    val key = if (tracing) s"$metric@traced" else metric
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }
  def values(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  /** Run one user-visible operation; a thrown error counts as failed. */
  def attempt[A](what: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"op $what%-16s $secs%.3f s${if (warming) " (warm-up)" else ""}")
      Some((r, secs))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally opSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Record an operation's output check: problems make it a failure. */
  def checked(what: String, problems: Seq[String]): Boolean = {
    problems.foreach(p => System.err.println(s"CHECK $what: $p"))
    if (problems.nonEmpty) failed += 1
    problems.isEmpty
  }

  def span[A](layer: String, kind: String)(body: => A): A =
    tracer.filter(_ => tracing).map(_.span(layer, kind)(body)).getOrElse(body)

  def deferred[A](layer: String, kind: String)(start: => A): (Option[Tracer#Span], A) =
    tracer.filter(_ => tracing) match {
      case Some(t) => val (s, r) = t.deferred(layer, kind)(start); (Some(s), r)
      case None => (None, start)
    }

  /** Release every query cache between operations, as a user's
    * long-lived session does.
    */
  def release(): Unit = span("GraftSession", "release")(GraftSession.releaseQueryCaches(spark))

  /** A cycle whose samples are discarded. */
  def warm(w: Workload, i: Int): Unit = {
    warming = true
    try cycle(w, i) finally warming = false
  }

  /** One cycle. Its operations' wall time is compared between traced
    * and untraced cycles (the tracing overhead), and in a traced cycle
    * with the spans that cover it (the unattributed time).
    */
  def cycle(w: Workload, i: Int): Unit = {
    val rootBefore = tracer.map(_.rootSeconds).getOrElse(0.0)
    if (tracing) tracer.foreach(_.attach())
    opSeconds = 0.0
    w.cycle(i)
    if (tracing) {
      tracer.foreach(_.detach())
      tracedCycles += 1
      sample("unattributed_s", opSeconds - (tracer.map(_.rootSeconds).getOrElse(0.0) - rootBefore))
    }
    sample("ops_s", opSeconds)
    if (!warming) sample("live_heap_mb", liveHeapMb())
  }

  /** Heap in use right after a full collection. Collections repeat
    * until the heap stops shrinking, since one can release blocks (such
    * as broadcasts the context cleaner drops) that only the next frees.
    */
  private def liveHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var rounds = 1
    var shrank = true
    while (shrank && rounds < 6) {
      Thread.sleep(200)
      val now = used()
      shrank = last - now > (1L << 20)
      last = now
      rounds += 1
    }
    last / Tracer.Mb
  }

  /** End-to-end metrics: (value, unit, sample count). */
  private def endToEnd: Seq[(String, Double, String, Int)] = {
    def med(m: String, unit: String) = (m, Stats.median(values(m)), unit, values(m).size)
    Seq(("setup_s", setupS, "s", 1), med("write_s", "s"), med("read_s", "s"),
      med("rows_per_s", "1/s"), med("stored_bytes_ratio", "ratio"),
      ("live_heap_mb", values("live_heap_mb").maxOption.getOrElse(0.0), "MB",
        values("live_heap_mb").size))
  }

  private def perLayer(w: Workload): Seq[(String, Double, String)] = {
    val t = tracer.get
    def unitOf(name: String): String = name.split('.').last match {
      case n if n.endsWith("_s") => "s"
      case n if n.endsWith("_mb") => "MB"
      case n if n.endsWith("_ms") => "ms"
      case "core_util" | "skew" => "ratio"
      case _ => "count"
    }
    val overhead =
      Stats.median(values("ops_s@traced")) - Stats.median(values("ops_s"))
    val all = Tracer.Extras.map(_ -> 0.0).toMap ++ t.layerMetrics(tracedCycles) ++
      w.layerExtras(tracedCycles) ++ Map(
      "sources.files_written" -> Stats.median(values("files_written@traced")),
      "unattributed_s" -> Stats.median(values("unattributed_s@traced")),
      "tracing_overhead_s" -> overhead)
    all.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
  }

  def report(w: Workload): Unit = {
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) perLayer(w)
      else endToEnd.map { case (m, v, u, n) =>
        println(f"metric $m%-20s $v%14.6f $u%-6s ($n samples)")
        (m, v, u)
      }
    if (a.trace) metrics.foreach { case (m, v, u) => println(f"layer $m%-45s $v%14.6f $u") }
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    println(f"metric error_rate           $errorRate%14.6f ratio  ($failed failed of $attempted)")
    println(s"check ${if (failed == 0) "PASS" else "FAIL"}")
    val body = metrics.map { case (m, v, u) =>
      s""""$m": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Recursive (file count, bytes) of the data files under `dir`. */
  def dataFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toArray.toSeq.map(_.asInstanceOf[Path])
        (files.size.toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
