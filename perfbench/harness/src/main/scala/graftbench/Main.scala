package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftConf

/** Process-level readings of the benchmark JVM. */
object Host {
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set (VmHWM) of this process, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN) finally src.close()
  }

  def epochNs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite value $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case RawJson(s) => s
  }
  final case class RawJson(s: String)
}

/** The benchmark harness: one JVM, one workload, one measured window.
  *
  * {{{
  * graftbench.Main --workload pyramid|queries --seed N --seconds S
  *   --trace 0|1 --variant V[,V...] --sf F --cpus C --work DIR --launch-ns NS
  *   [--host JSON] [--pin]
  * }}}
  *
  * Prints one JSON record per line on stdout, the last of them prefixed
  * `GRAFTBENCH_RESULT `. `perfbench/run.py` launches it and checks its
  * digests against the pinned ones. With `--pin` it runs one verified
  * pass per listed variant and prints each variant's digests instead.
  */
object Main {
  import Json.RawJson

  final case class Args(workloads: Seq[Workload], seed: Long, seconds: Double,
      trace: Boolean, variants: Seq[Int], sf: Double, cpus: Int, work: String,
      launchNs: Long, host: String, pin: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = a.filter(_ == "--pin")
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workloads = get("workload").split(",").toSeq.map(Workload.named),
      seed = get("seed").toLong, seconds = get("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1", variants = get("variant").split(",").toSeq.map(_.toInt),
      sf = get("sf").toDouble, cpus = get("cpus").toInt, work = get("work"),
      launchNs = m.get("launch-ns").map(_.toLong).getOrElse(Host.epochNs()),
      host = m.getOrElse("host", "{}"), pin = flags.nonEmpty)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf.ensure(spark)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val host = RawJson(a.host.stripSuffix("}") +
      (if (a.host.trim == "{}") "" else ",") +
      s""""java_version":${Json(sys.props("java.version"))},""" +
      s""""spark_version":${Json(org.apache.spark.SPARK_VERSION)}}""")
    def record(kind: String, fields: Seq[(String, Any)]): Unit =
      println(Json(mutable.LinkedHashMap[String, Any]("record" -> kind,
        "workload" -> a.workloads.map(_.name).mkString(","), "seed" -> a.seed,
        "variant" -> a.variants.mkString(","), "trace" -> a.trace, "host" -> host) ++ fields))

    val inputs = s"${a.work}/inputs"
    val tables = (if (a.trace) Workload.all else a.workloads).flatMap(_.tables).distinct
    var spark: SparkSession = null
    def setUp(variant: Int, t0: Long, rep: Int): Double = {
      if (spark != null) spark.stop()
      spark = session(a.cpus, a.work)
      val rows = Inputs.write(spark, inputs, variant, a.sf, tables)
      val s = (Host.epochNs() - t0) / 1e9
      record("setup", Seq("rep" -> rep, "seconds" -> s, "rows" -> rows))
      s
    }

    if (a.pin) {
      // one verified pass per variant: the digests run.py pins
      a.variants.zipWithIndex.foreach { case (v, i) =>
        setUp(v, Host.epochNs(), i + 1)
        val r = new Runner(a, Ctx(spark, inputs, a.work, a.sf), record)
        a.workloads.foreach(w => r.verify(r.pass(w, s"pin$v")))
        println("GRAFTBENCH_PIN " + Json(mutable.LinkedHashMap[String, Any](
          "variant" -> v, "failed" -> r.failed, "digests" -> r.digests)))
      }
      spark.stop()
      return
    }

    // set-up: session + generated inputs, three times (once when traced);
    // the first counts from JVM launch, and the median is reported
    val setups = (1 to (if (a.trace) 1 else 3)).map { rep =>
      setUp(a.variants.head, if (rep == 1) a.launchNs else Host.epochNs(), rep)
    }
    val r = new Runner(a, Ctx(spark, inputs, a.work, a.sf), record)
    val metrics =
      if (a.trace) r.traced(a.workloads.head) else r.untraced(a.workloads.head, setups)
    spark.stop()
    println("GRAFTBENCH_RESULT " + Json(mutable.LinkedHashMap[String, Any](
      "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> metrics,
      "digests" -> r.digests)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs passes, keeps the operation counts and the verified digests. */
final class Runner(a: Main.Args, ctx: Ctx, record: (String, Seq[(String, Any)]) => Unit) {
  import Main.median

  var attempted = 0L
  var failed = 0L
  val digests = mutable.LinkedHashMap.empty[String, String]

  // the seed permutes the queries' key order only in traced runs: in the
  // cold pass of an untraced run the order moves the total by up to a
  // quarter, which would swamp the end-to-end bound
  private val orderSeed = if (a.trace) Some(a.seed) else None

  def pass(w: Workload, label: String): Pass = {
    val p = w.pass(ctx, orderSeed)
    attempted += p.attempted
    failed += p.failed
    record("pass", Seq("pass" -> label, "of" -> w.name, "wall_s" -> p.wallS,
      "cpu_s" -> p.cpuS, "attempted" -> p.attempted, "failed" -> p.failed,
      "spans" -> p.spans))
    p
  }

  /** Digest a pass's outputs; every verified pass must agree with the
    * first, and run.py checks the first against the pinned digests.
    */
  def verify(p: Pass): Unit = p.digests().foreach { case (k, d) =>
    digests.get(k) match {
      case Some(prev) if prev != d =>
        System.err.println(s"graftbench: output $k changed between passes: $prev -> $d")
        failed += 1
      case _ => digests(k) = d
    }
  }

  /** Passes of `w` until `a.seconds` have gone by (at least one). */
  def window(label: String)(run: String => Pass): Seq[Pass] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Pass]
    do out += run(s"$label${out.size}")
    while ((System.nanoTime() - t0) / 1e9 < a.seconds)
    out.toSeq
  }

  /** The window starts right after set-up, so its first pass is the cold
    * pass a freshly submitted job pays (JIT, codegen and class loading
    * included); every pass is verified.
    */
  def untraced(w: Workload, setups: Seq[Double]): Map[String, Double] = {
    val passes = window("timed") { label => val p = pass(w, label); verify(p); p }
    Map(
      "setup_s" -> median(setups),
      "wall_s" -> median(passes.map(_.wallS)),
      "cpu_s" -> median(passes.map(_.cpuS)),
      "peak_rss_mb" -> Host.peakRssMb())
  }

  /** The traced run: the named workload's passes under a listener (the
    * `spark.*` counters and the tracing overhead), then one traced pass of
    * the other workload, the tile-cascade steps and the expression probes,
    * so that every layer metric is measured in every traced run.
    */
  def traced(w: Workload): Map[String, Double] = {
    val sc = ctx.sc
    verify(pass(w, "cold"))
    val untracedWall = pass(w, "untraced").wallS
    val trace = new Trace(sc)
    sc.addSparkListener(trace)
    def tracedPass(of: Workload, label: String): (Pass, SparkCounters) = {
      trace.reset()
      val p = pass(of, label)
      val c = trace.read()
      verify(p)
      (p, c)
    }
    var counters = Map.empty[Workload, SparkCounters]
    val own = mutable.ArrayBuffer.empty[(Pass, SparkCounters)]
    window("traced") { label => val pc = tracedPass(w, label); own += pc; pc._1 }
    def med(f: ((Pass, SparkCounters)) => Double): Double = median(own.map(f).toSeq)
    val out = mutable.LinkedHashMap.empty[String, Double]
    own.head._1.spans.keys.foreach(k => out(k) = med(_._1.spans.getOrElse(k, 0.0)))
    counters += w -> own.sortBy(_._1.wallS).apply(own.size / 2)._2
    out("trace.overhead_s") = med(_._1.wallS) - untracedWall
    out("spark.executor_cpu_s") = med(_._2.executorCpuS)
    out("spark.gc_s") = med(_._2.gcS)
    out("spark.shuffle_read_mb") = med(_._2.shuffleReadMb)
    out("spark.shuffle_write_mb") = med(_._2.shuffleWriteMb)
    out("spark.spill_mb") = med(_._2.spillMb)
    out("spark.jobs") = med(_._2.jobs.toDouble)
    out("spark.tasks") = med(_._2.tasks.toDouble)
    out("spark.task_skew") = med(_._2.taskSkew)
    out("spark.idle_s") = med(_._2.idleS)

    // the other workload once, for its layer spans
    Workload.all.filterNot(_ == w).foreach { o =>
      val (p, c) = tracedPass(o, "layers")
      out ++= p.spans
      counters += o -> c
    }
    // bytes the pyramid puts on disk, per byte of its input
    val written = counters(PyramidWorkload).bytesWrittenMb
    val inputMb = dirBytes(s"${ctx.inputs}/events.parquet") / 1048576.0
    out("io.bytes_written_mb") = written
    out("io.write_amp") = written / inputMb
    out("SparkEntry.build_jobs") = counters(QueriesWorkload).jobsByGroup
      .collect { case (g, n) if g.startsWith("build:") => n }.sum.toDouble
    def rows(prefix: String) = digests.collect {
      case (k, d) if k.startsWith(prefix) => d.takeWhile(_ != ':').toDouble }.sum
    out("points.views_out") = rows("pyramid/points")
    out("tiles.tiles_out") = rows("pyramid/tiles/")
    out ++= PyramidWorkload.steps(ctx)
    out ++= Probes.run(ctx, rows = 200000)
    out.toMap
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(c => dirBytes(c.getPath)).sum else f.length()
  }
}
