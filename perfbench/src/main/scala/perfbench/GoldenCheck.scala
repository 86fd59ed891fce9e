package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Ties recorded goldens to an oracle-checked result dump.
  *
  * Usage: perfbench.GoldenCheck RECORDED.tsv VERIFY_DIR
  *
  * RECORDED.tsv holds `workload<TAB>op<TAB>fingerprint` lines written by
  * `perfbench.Main --record`; VERIFY_DIR is a `graft.Verify` dump of the
  * same inputs whose entries passed `tools/check.py` against DuckDB. Each
  * line is printed back with a fourth column: `duckdb` when the dumped
  * result has the recorded fingerprint, `MISMATCH` when it does not, and
  * `engine` when the dump has no such entry.
  */
object GoldenCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    val dumps = Paths.get(args(1))
    Files.readAllLines(Paths.get(args(0))).asScala.filter(_.nonEmpty).foreach { line =>
      val Array(w, op, fp) = line.split('\t')
      val dump = dumps.resolve(op)
      val provenance =
        if (!Files.isDirectory(dump)) "engine"
        else {
          val dumped = Fingerprint.of(spark.read.parquet(dump.toString))
          if (dumped == Fingerprint.parse(fp)) "duckdb" else "MISMATCH"
        }
      println(s"$w\t$op\t$fp\t$provenance")
    }
    spark.stop()
  }
}
