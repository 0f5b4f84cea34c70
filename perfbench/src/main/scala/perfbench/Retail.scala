package perfbench

import org.apache.spark.sql.DataFrame

import graft.Pipeline
import graft.operators._
import graft.sources.Sinks

/** `retail_warehouse`: the reference product end to end. A cycle is one
  * `Pipeline.run(FullRun)` into a fresh warehouse directory (write_s),
  * then two report rounds over it: `Pipeline.registerWarehouse` plus the
  * eight `ReferenceQueries.sql` queries, each round in its own seeded
  * order (read_s).
  *
  * A traced cycle runs the build through [[mirror]], which calls the
  * same public stage functions and `Sinks.stagePublish` in the order
  * `Pipeline.run` uses, so each stage can be timed as a span.
  */
final class RetailWarehouse(run: Run) extends Workload {
  import run.spark

  private val expected = new Checks.Expected(run.expectedFile, "retail_warehouse")
  private var sourceRows = 0L
  private var sourceBytes = 0L

  /** `Pipeline.run`'s FullRun stage list: (table, layer, builder). */
  private val stages: Seq[(String, String, () => DataFrame)] = {
    val src = run.src
    Seq(
      ("stg_lineitem_clean", "operators.Cleaning", () => Cleaning.cleanLineitem(spark, src)),
      ("dim_date", "operators.Dimensions", () => Dimensions.dimDate(spark, src)),
      ("dim_customer", "operators.Dimensions", () => Dimensions.dimCustomerHashed(spark, src)),
      ("dim_category", "operators.Facts", () => Facts.dimCategory(spark, src)),
      ("dim_product", "operators.Dimensions", () => Dimensions.dimProduct(spark, src)),
      ("fact_sales", "operators.Facts", () => Facts.factSales(spark, src)),
      ("mart_sales_performance", "operators.Marts", () => Marts.martSalesPerformance(spark, src)),
      ("mart_category_analysis", "operators.Marts", () => Marts.martCategoryAnalysis(spark, src)))
  }

  /** Pipeline.healthCheck's FullRun list; their rows are the build's input. */
  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "part")

  def setup(rows: Map[String, Long]): Unit = {
    sourceRows = rows.values.sum
    sourceBytes = tables.map(t => run.dataFiles(s"${run.src}/$t.parquet")._2).sum
  }

  val cycleSeconds = 17.0

  private def mirror(out: String): Seq[Pipeline.LoadStat] =
    run.span("Pipeline", "build") {
      Pipeline.healthCheck(spark, run.src, out, Pipeline.FullRun)
      run.span("Pipeline", "gate") {
        require(Cleaning.validationGates(spark, run.src)
          .select("all_gates_pass").head().getBoolean(0), "validation gates failed")
      }
      val stats = stages.map { case (name, layer, mk) =>
        run.span(layer, name) {
          val t0 = System.nanoTime()
          val rows = Sinks.stagePublish(mk(), s"$out/$name")
          Pipeline.LoadStat(name, rows, (System.nanoTime() - t0) / 1e9)
        }
      }
      run.span("Pipeline", "validate_load") {
        val bad = Pipeline.validateLoad(spark, out, stats).filterNot(c => c.ok && c.schema_ok)
        require(bad.isEmpty, s"validate_load failed: ${bad.mkString("; ")}")
      }
      stats
    }

  private def build(out: String, mirrored: Boolean): Option[(Seq[Pipeline.LoadStat], Double)] = {
    run.deleteTree(run.artifacts)
    val r = run.attempt("build") {
      if (mirrored) mirror(out) else Pipeline.run(spark, run.src, out)
    }
    run.release()
    r
  }

  /** One report round; the digests are computed after the timed part. */
  private def report(out: String): Option[(Seq[(String, Checks.Print)], Double)] = {
    val order = run.rnd.shuffle(ReferenceQueries.names)
    val r = run.attempt("report") {
      run.span("operators.ReferenceQueries", "report") {
        run.span("Pipeline", "register")(Pipeline.registerWarehouse(spark, out))
        order.map(n => n -> Checks.collect(spark.sql(ReferenceQueries.sql(n))))
      }
    }
    run.release()
    r.map { case (results, secs) => (results.map { case (n, c) => n -> Checks.of(c) }, secs) }
  }

  /** One checked build into `out`; false when it threw. */
  private def checkedBuild(out: String): Boolean =
    build(out, mirrored = run.tracing).map { case (stats, secs) =>
      System.err.println("stages " + stats.map(s => f"${s.table}=${s.seconds}%.2f").mkString(" "))
      val tables = stats.map(_.table)
      val drift =
        if (tables == stages.map(_._1)) Nil
        else Seq(s"stage list ${tables.mkString(",")} differs from the mirror's")
      val wrong = tables.flatMap(t => expected.mismatch(t, Checks.of(spark.read.parquet(s"$out/$t"))))
      if (run.checked("build", drift ++ wrong)) {
        val (files, bytes) = run.dataFiles(out)
        run.sample("files_written", files.toDouble)
        run.sample("write_s", secs)
        run.sample("rows_per_s", sourceRows / secs)
        run.sample("stored_bytes_ratio", bytes.toDouble / sourceBytes)
      }
    }.isDefined

  def cycle(i: Int): Unit = {
    val out = s"${run.a.runDir}/warehouse/$i"
    // a timed cycle reports twice, for two read_s samples
    if (checkedBuild(out)) (1 to (if (run.warming) 1 else 2)).foreach(_ =>
      report(out).foreach { case (prints, secs) =>
        if (run.checked("report", prints.flatMap { case (n, p) => expected.mismatch(n, p) }))
          run.sample("read_s", secs)
      })
    // the warm-up cycle builds once more: a JVM's second build still
    // varies widely from run to run, its third much less
    if (run.warming) checkedBuild(s"$out-again")
  }
}
