package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent output fingerprints and the expected values the
  * benchmark stores for them.
  */
object Checks {

  /** Row count plus a digest that ignores row and column order: the MD5
    * of the sorted rows, each printed with its columns in name order.
    * Floating-point values are printed at 7 significant digits, so sums
    * whose last bits depend on the shuffle's merge order still match,
    * and whole numbers print alike whatever their width (a partition
    * column read back as int matches the long it was written from).
    */
  final case class Print(rows: Long, digest: String) {
    override def toString: String = s"$rows\t$digest"
  }

  private def show(v: Any): String = v match {
    case null => "∅"
    case d: Double => String.format(java.util.Locale.ROOT, "%.7g", d)
    case f: Float => String.format(java.util.Locale.ROOT, "%.7g", f.toDouble)
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
    case other => other.toString
  }

  /** A result collected to the driver: its column names and rows. */
  final case class Collected(columns: Seq[String], rows: Seq[Row])

  /** Meant for the few thousand rows of a published table or a query
    * result.
    */
  def collect(df: DataFrame): Collected = Collected(df.columns.toSeq, df.collect().toSeq)

  def of(df: DataFrame): Print = of(collect(df))

  def of(c: Collected): Print = {
    val order = c.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    c.rows.map(r => order.map(i => show(r.get(i))).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    Print(c.rows.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** `expected.tsv`: workload, item, rows, digest — one item a line. */
  final class Expected(file: Path, workload: String) {
    private val want: Map[String, Print] =
      Files.readAllLines(file).asScala.toSeq
        .filterNot(l => l.isBlank || l.startsWith("#"))
        .map(_.split("\t"))
        .collect { case Array(`workload`, item, rows, digest) => item -> Print(rows.toLong, digest) }
        .toMap

    /** None when `got` matches; otherwise the mismatch, for the log. */
    def mismatch(item: String, got: Print): Option[String] =
      if (want.get(item).contains(got)) None
      else Some(s"$workload\t$item\t$got\t(expected ${want.get(item).map(_.toString).getOrElse("none")})")
  }
}
