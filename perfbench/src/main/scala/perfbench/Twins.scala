package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.operators.ReferenceQueries
import graft.sources.Tables
import graft.streaming.{CurationStream, FactStream, QualityStream}

/** Writes `expected.tsv`, the outputs every run is checked against,
  * from the batch path over the whole generated corpus:
  *
  *  - `retail_warehouse`: every table `Pipeline.run(FullRun)` publishes
  *    and the eight `ReferenceQueries.sql` results;
  *  - `stream_ingest`: the batch twins of its sinks — the streaming
  *    operators applied to the whole tables at once: `FactStream.factStream`
  *    and `QualityStream.scored` over the batch tables, and one
  *    `CurationStream.ingestBatch` of the whole corpus.
  *
  * `run.py --write-expected` runs it; no timed run does. The inputs stay
  * in `<run-dir>/input` for `shape.py`.
  */
object Twins {

  def main(argv: Array[String]): Unit = {
    val kv = Main.options(argv)
    val runDir = kv("run-dir")
    val spark = Main.session(kv("cores").toInt, runDir)
    try {
      val src = s"$runDir/input"
      Inputs.write(spark, src, Inputs.tables.map(_._1))

      val out = s"$runDir/warehouse"
      val tables = Pipeline.run(spark, src, out)
        .map(s => s.table -> Checks.of(spark.read.parquet(s"$out/${s.table}")))
      Pipeline.registerWarehouse(spark, out)
      val queries = ReferenceQueries.names.map(n => n -> Checks.of(spark.sql(ReferenceQueries.sql(n))))

      val docs = Tables.documents(spark, src)
      val facts = FactStream.factStream(Tables.lineitem(spark, src),
        Tables.orders(spark, src), Tables.part(spark, src))
      val quality = QualityStream.scored(docs, QualityStream.trainModel(spark, src))
      CurationStream.ingestBatch(docs.select("doc_id", "text"), s"$runDir/curation", 0L)
      val removals = CurationStream.standingRemovals(spark, s"$runDir/curation")
        .select("removed_doc_id")
      val stream = Seq("facts" -> Checks.of(facts), "quality" -> Checks.of(quality),
        "curation" -> Checks.of(removals))

      def rows(workload: String, items: Seq[(String, Checks.Print)]) =
        items.sortBy(_._1).map { case (item, p) => s"$workload\t$item\t$p" }
      val lines = Seq(
        "# Expected outputs of the generated corpus (seed 42): workload, item, rows,",
        "# digest (Checks.of). Written by `python3 perfbench/run.py --write-expected`",
        "# from the batch path (Twins.scala); do not edit by hand.") ++
        rows("retail_warehouse", tables ++ queries) ++ rows("stream_ingest", stream)
      Files.write(Paths.get(kv("bench-dir"), "expected.tsv"), lines.asJava)
    } finally spark.stop()
  }
}
