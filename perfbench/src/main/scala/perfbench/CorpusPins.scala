package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Row count and an order-independent hash of a query result. */
final case class Pin(rows: Long, hash: String)

/** The corpus queries' results, pinned once and checked on every run.
  * The hash is the exact sum of one xxhash64 per row, with floating
  * columns rounded to 6 decimals first, so it does not depend on row
  * order or on the last bits of a floating-point sum. */
object CorpusPins {
  def file(corpusDir: String): java.nio.file.Path = Paths.get(corpusDir).resolveSibling("pins.tsv")

  def measure(df: DataFrame): Pin = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _ => c
      }
    }
    val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Pin(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** name → pin, from `pins.tsv` beside the corpus tables. */
  def load(corpusDir: String): Map[String, Pin] = {
    val lines = scala.io.Source.fromFile(file(corpusDir).toFile, "UTF-8")
    try lines.getLines().filter(_.nonEmpty).map(_.split('\t')).map {
      case Array(name, rows, hash) => name -> Pin(rows.toLong, hash)
    }.toMap
    finally lines.close()
  }

  /** Pin the current program's results:
    *   perfbench.CorpusPins <corpus dir> */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("WARN")
    val lines = Workloads.corpusQueries.map { q =>
      val p = measure(graft.SparkEntry.queries(q)(spark, args(0)))
      graft.Caches.releaseAll(blocking = true)
      s"$q\t${p.rows}\t${p.hash}"
    }
    Files.writeString(file(args(0)), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
