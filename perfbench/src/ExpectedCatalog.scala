package perfbench

import java.nio.file.{Files, Paths}

/** Writes `perfbench/expected_catalog.tsv`: row count and order-insensitive
  * hash of each catalog entry the traced run checks, over the tables in
  * DATA_DIR. Run it only after a deliberate change to those entries, and
  * cross-check the same results against their DuckDB oracles first (see
  * perfbench/README.md).
  *
  * Usage: ExpectedCatalog WORK_DIR DATA_DIR OUT_FILE
  */
object ExpectedCatalog {
  def main(argv: Array[String]): Unit = {
    val Array(work, data, out) = argv
    val spark = Main.session(Paths.get(work).toAbsolutePath)
    try {
      val lines = Main.CatalogEntries.map { name =>
        val rows = graft.SparkEntry.queries(name)(spark, Paths.get(data).toAbsolutePath.toString).collect()
        spark.catalog.clearCache()
        s"$name\t${rows.length}\t${Main.resultHash(rows)}"
      }
      Files.writeString(Paths.get(out),
        ("# name\trows\thash (perfbench.Main.resultHash)" +: lines).mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}
