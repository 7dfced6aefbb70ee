package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the named registered entries as one
  * JSON object, for the harness to compute its references from.
  *
  * Usage: Oracles <outFile> <entry> [entry ...] */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = args.drop(1).filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(args(0)),
      Json.write(args.drop(1).map(n => n -> sql(n)).toMap))
  }
}
