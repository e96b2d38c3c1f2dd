package graft
import java.nio.file.{Files, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero,
  * naming the keys, if any key fails; every other key is still dumped.
  *
  * `digests.tsv` records `key<TAB>rows<TAB>sum` for every key that was
  * written: its row count and the DECIMAL sum of each row's xxhash64 (map
  * columns through `to_json`), observed on the write itself, so no extra
  * job runs. The sum is independent of row order and partitioning, so two
  * builds that should agree compare with `diff`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated key subset (dev loop; driver passes 2)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").map(_.trim).toSet)
    // a typo'd subset name would silently dump nothing and read as green
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    }
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // a failing key must not stop the others' dumps, but it must fail the run
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> (try {
          val o = Observation()
          val df = fn(spark, sfDir)
          df.observe(o, count(lit(1)).as("n"), sum(rowHash(df)).as("h"))
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          // observed metrics arrive through the listener bus, after the write
          val r = Await.result(o.future, 1.minute)
          val h = Option(r.getDecimal(1)).fold("0")(_.toPlainString)
          Some(s"$name\t${r.getLong(0)}\t$h\n")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          None
        })
      }
    val failed = results.collect { case (name, None) => name }
    Files.writeString(Paths.get(s"$outDir/digests.tsv"), results.flatMap(_._2).sorted.mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} key(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Each row's xxhash64 as DECIMAL, map columns through `to_json` (Spark
    * does not hash maps).
    */
  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match { case _: MapType => to_json(c); case _ => c }
    }
    xxhash64(cols: _*).cast("decimal(38,0)")
  }
}
