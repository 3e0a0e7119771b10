package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the query-mix expectation file: row count and order-
  * insensitive digest of each listed query, read from a correctness
  * dump (`graft.Verify <sfDir> <dumpDir>`) that the DuckDB oracle
  * (`tools/check.py`) passed.
  *
  * Usage: Expect <dumpDir> <out.tsv> <query,query,...>
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dump, out, list) = args
    val spark = graft.GraftSession.builder("local[2]", "2").getOrCreate()
    val lines = list.split(',').toSeq.sorted.map { q =>
      val (n, d) = Digest.of(spark.read.parquet(s"$dump/$q"))
      s"$q\t$n\t$d"
    }
    val header = "# query\trows\tdigest (graftbench.Digest over the oracle-checked sf0.01 dump)"
    Files.write(Paths.get(out),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
