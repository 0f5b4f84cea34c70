package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity
import graft.sources.Tables
import graft.streaming.{CurationStream, FactStream, QualityStream}

/** `stream_ingest`: the streaming operators driven directly. Set-up
  * stages the lineitem, document and embedding tables as chunk files
  * (one micro-batch each; the seed decides which rows share a file and
  * the file order). A cycle drains four queries, each into fresh sink,
  * index and checkpoint directories:
  *
  *  - `FactStream.run(FactStream.factStream(..))` over lineitem chunks;
  *  - `QualityStream.run(QualityStream.scored(..))` over document chunks;
  *  - `CurationStream.ingest` over the same document chunks;
  *  - `CurationStream.ingestVectors` over embedding chunks.
  *
  * write_s is one chunk through every operator: the sum over queries of
  * the median micro-batch `triggerExecution`, leaving out each query's
  * first batch, which also starts the query (it loads the static join
  * sides, or trains the index's centroids). read_s is one read of
  * everything the drains published; the first read of a cycle is also
  * the output check, against the batch twins' digests in `expected.tsv`.
  */
final class StreamIngest(run: Run) extends Workload {
  import run.spark

  private val chunks = 3
  private val reads = 4
  private val feed = s"${run.a.runDir}/feed"
  // the first chunk of each feed again, for the warm-up drains
  private val warmFeed = s"${run.a.runDir}/warmfeed"
  private var model: Array[Double] = Array.empty
  private var schemas = Map.empty[String, StructType]
  private var feedBytes = 0L
  private var vectors = 0L
  private var feedRows = 0L
  private val expected = new Checks.Expected(run.expectedFile, "stream_ingest")

  /** Stage `df` as `chunks` parquet files: rows go to a file by a
    * seeded hash of `key`, files get increasing mtimes in a seeded order
    * (the file source reads oldest first, one file per trigger).
    */
  private def stage(name: String, df: DataFrame, key: String): Unit = {
    val dir = Paths.get(feed, name)
    val tmp = s"$feed/_tmp_$name"
    df.withColumn("_chunk", pmod(xxhash64(col(key), lit(run.rnd.nextLong())), lit(chunks)))
      .coalesce(1).write.partitionBy("_chunk").parquet(tmp)
    Files.createDirectories(dir)
    run.rnd.shuffle((0 until chunks).toList).zipWithIndex.foreach { case (c, pos) =>
      val part = {
        val s = Files.list(Paths.get(tmp, s"_chunk=$c"))
        try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally s.close()
      }
      val target = dir.resolve(f"chunk$pos%03d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + pos * 10000L))
      if (pos == 0) {
        Files.createDirectories(Paths.get(warmFeed, name))
        Files.copy(target, Paths.get(warmFeed, name, target.getFileName.toString))
      }
    }
    // what is left of `tmp` stays until the run ends: a run deletes nothing
    // before its JVM exits (see README.md, Steadiness)
    schemas += name -> df.schema
  }

  private def source(dir: String, name: String): DataFrame =
    spark.readStream.schema(schemas(name)).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/$name")

  val tables: Seq[String] = Seq("lineitem", "orders", "part", "documents", "embeddings")

  def setup(rows: Map[String, Long]): Unit = {
    val docs = Tables.documents(spark, run.src)
    run.phase("feed") {
      stage("lineitem", Tables.lineitem(spark, run.src), "l_orderkey")
      stage("documents", docs, "doc_id")
      stage("embeddings", Tables.embeddings(spark, run.src)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb")), "vec_id")
    }
    feedBytes = run.dataFiles(feed)._2
    vectors = rows("embeddings")
    // rows fed per cycle: the document feed is read by two queries
    feedRows = rows("lineitem") + 2 * rows("documents") + rows("embeddings")
    // the quality model is trained offline on the standing corpus, once
    // per build with the inputs
    model = Inputs.qualityModel(run.src)
  }

  val cycleSeconds = 20.0

  /** (name, operator layer, start) for every query of a cycle. */
  private def queries(base: String, from: String): Seq[(String, String, () => StreamingQuery)] = Seq(
    ("facts", "operators.Facts", () => FactStream.run(
      FactStream.factStream(source(from, "lineitem"), Tables.orders(spark, run.src),
        Tables.part(spark, run.src)), s"$base/facts/sink", s"$base/facts/ckpt")),
    ("quality", "operators.TextAnalysis", () => QualityStream.run(
      QualityStream.scored(source(from, "documents"), model),
      s"$base/quality/sink", s"$base/quality/ckpt")),
    ("curation", "operators.Dedup", () => CurationStream.ingest(
      source(from, "documents").select("doc_id", "text"),
      s"$base/curation/index", s"$base/curation/ckpt")),
    ("vectors", "operators.Similarity", () => CurationStream.ingestVectors(
      source(from, "embeddings"), s"$base/vectors/index", s"$base/vectors/ckpt")))

  /** Drain every query; returns (name, drain seconds, batches) of each. */
  private def drainAll(base: String, from: String): Seq[(String, Double, Seq[StreamingQueryProgress])] =
    queries(base, from).flatMap { case (name, layer, start) =>
      run.attempt(s"drain $name") {
        run.span("streaming", name) {
          val (opSpan, q) = run.deferred(layer, name)(start())
          try q.processAllAvailable() finally q.stop()
          val done = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          // the operator's share of the drain is its sink's addBatch time
          opSpan.foreach(_.durNs = done.map(_.durationMs.get("addBatch").longValue).sum * 1000000L)
          done
        }
      }.map { case (done, secs) =>
        System.err.println(f"drain $name%-9s $secs%.2f s, ${done.size} batches " +
          done.map(_.durationMs.get("triggerExecution")).mkString(","))
        (name, secs, done)
      }
    }

  /** Read everything the drains published; returns the check's
    * problems. The digests are computed after the timed read.
    */
  private def read(base: String): Option[(Seq[String], Double)] = {
    val r = run.attempt("read")(run.span("sources", "read") {
      val idx = Similarity.vecStandingIndex(spark, s"$base/vectors/index")
      val vec = idx.agg(count(lit(1)), countDistinct(col("vec_id"))).head()
      val badCells = idx.groupBy("centroid_id")
        .agg(count(lit(1)).as("c"), max("cell_size").as("s")).where(col("c") =!= col("s")).count()
      val sinks = Seq(
        "facts" -> Checks.collect(spark.read.parquet(s"$base/facts/sink")),
        "quality" -> Checks.collect(spark.read.parquet(s"$base/quality/sink")),
        "curation" -> Checks.collect(CurationStream.standingRemovals(spark, s"$base/curation/index")
          .select("removed_doc_id")))
      (vec.getLong(0), vec.getLong(1), badCells, sinks)
    })
    run.release()
    r.map { case ((vecRows, vecIds, badCells, sinks), secs) =>
      val problems = sinks.flatMap { case (k, c) => expected.mismatch(k, Checks.of(c)) } ++
        (if (vecRows == vectors && vecIds == vectors && badCells == 0) Nil
         else Seq(s"vector index holds $vecRows rows, $vecIds ids, " +
           s"$badCells inconsistent cells; want $vectors"))
      (problems, secs)
    }
  }

  def cycle(i: Int): Unit = {
    val base = s"${run.a.runDir}/stream/$i"
    if (run.warming) {
      // every query drains the first chunk once to fill the JIT and
      // codegen caches; the partial outputs are not read
      drainAll(base, warmFeed)
    } else timed(base)
  }

  private def timed(base: String): Unit = {
    val drains = drainAll(base, feed)
    // the first read checks the drains; the others give read_s a median
    if (drains.size == queries(base, feed).size) read(base).foreach { case (problems, secs) =>
      if (run.checked("stream outputs", problems)) {
        // one chunk through every operator: the sum of per-query medians
        // over the batches after the first
        run.sample("write_s", drains.map { case (_, _, done) =>
          Stats.median(done.drop(1).map(_.durationMs.get("triggerExecution") / 1e3)) }.sum)
        run.sample("rows_per_s", feedRows / drains.map(_._2).sum)
        val (files, bytes) = run.dataFiles(base)
        run.sample("files_written", files.toDouble)
        run.sample("stored_bytes_ratio", bytes.toDouble / feedBytes)
        run.sample("read_s", secs)
        if (run.tracing) tracedBatches ++= drains.flatMap(_._3)
        (2 to reads).foreach(_ => read(base).foreach { case (problems, secs) =>
          if (run.checked("stream outputs", problems)) run.sample("read_s", secs)
        })
      }
    }
  }

  private val tracedBatches = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def layerExtras(tracedCycles: Int): Map[String, Double] = {
    val n = math.max(tracedCycles, 1).toDouble
    def medMs(k: String): Double =
      Stats.median(tracedBatches.toSeq.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    Map(
      "streaming.batches" -> tracedBatches.size / n,
      "streaming.rows_in" -> tracedBatches.map(_.numInputRows).sum / n,
      "streaming.add_batch_ms" -> medMs("addBatch"),
      "streaming.query_planning_ms" -> medMs("queryPlanning"),
      "streaming.wal_commit_ms" -> medMs("walCommit"))
  }
}
