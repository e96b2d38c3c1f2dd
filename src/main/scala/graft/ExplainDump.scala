package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for a comma-separated key list to files —
  * the optimization-round plan evidence (`plans/r<N>/<key>_<tag>.txt`).
  *
  * Usage: ExplainDump <outDir> <tag> <key1,key2,...> [sfDir]
  *
  * Runs at the BENCH width ([[GraftSession.local]] on [[GraftSession.cpus]])
  * so the captured plans are the ones the bench actually
  * executes. Keys with eager localCheckpoint stages run their build jobs at
  * construction time; the formatted plan of the final frame is what the
  * timed action executes.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <tag> <keys> [sfDir]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val d = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus)
    Files.createDirectories(outDir)
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, d)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${k}_$tag.txt"), formatted)
      println(s"[explain] $k -> $outDir/${k}_$tag.txt")
    }
    spark.stop()
  }
}
