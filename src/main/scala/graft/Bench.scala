package graft

/** Bench harness: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":<sec>,...,"queries":{name:sec},"sf":...}`.
  *
  * Queries execute through the noop sink, not `count()`: count lets
  * Catalyst prune every projected column and would benchmark a skeleton of
  * the plan (e.g. scan_project would skip all derivation work). The noop
  * sink materializes every output column without write I/O.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated key subset — the fresh-JVM isolation loop for
    // chasing per-query regressions without the shared-JVM ordering noise
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    // fail LOUDLY on a typo'd subset: a name that matches nothing would
    // otherwise benchmark zero queries and print a success-shaped artifact
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown SPARK_GRAFT_QUERIES keys: ${unknown.mkString(", ")}")
    }
    // Default 2: the per-key number shipped in BENCH_*.json is a min-of-2
    // warm measurement. Round-5's regression triage was confounded by the
    // container's documented ±15-23% single-run noise (BASELINE.md); one
    // extra warm rep per key converts most of that into signal at the cost
    // of one extra bench pass. Set SPARK_GRAFT_REPS=1 for quick dev loops.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // log level ERROR (the factory's), not WARN: the driver parses the bench
    // JSON from process output, and a stray late WARN line (e.g. round 1's
    // WindowExec warning) can land after the JSON and break that parse.
    val spark = GraftSession.local(GraftSession.cpus)
    // Untimed JVM warm-up: the first timed keys otherwise absorb 5-9 s of
    // one-time classloader/janino/scheduler cost (measured in BASELINE.md's
    // round-3 adjudication — cold rep1 5-8 s vs warm 0.6-1.1 s on UNCHANGED
    // code). One throwaway pass exercising scan, shuffle agg, broadcast
    // join, window and the noop sink makes every reported number a query
    // cost, not a who-runs-first artifact. No query result is cached: the
    // warm-up touches none of the bench tables.
    def warmUp(): Unit = {
      import org.apache.spark.sql.functions._
      val r = spark.range(0, 100000).select(col("id"), pmod(col("id"), lit(97)).as("k"))
      val agg = r.groupBy("k").agg(sum("id").as("s"), approx_count_distinct(col("id")).as("a"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
      r.join(broadcast(agg), "k")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
      // Also exercise the REAL table IO stack untimed: Hadoop FS + parquet
      // footer/vectorized-reader init + the nanos-timestamp flag + the
      // ObjectHashAggregate shapes (collect_list, HLL) the first timed keys
      // use. Round-3 adjudication showed the two alphabetically-first keys
      // still absorbing ~3x inflation in full driver runs despite the
      // synthetic warm-up above; this pays that one-time cost where it
      // belongs. Bounded: one small slice of one table, no result reused.
      try Tables.events(spark, sfDir).limit(20000)
        .groupBy("user_id")
        .agg(collect_list(col("event_id")).as("c"),
          approx_count_distinct(col("event_id")).as("a"))
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // bench must not die on a warm-up
    }
    warmUp()
    // Locale-safe 3-decimal rendering for BOTH the JSON artifact and the
    // stderr correlation records (round-10 ADVICE: the f-interpolator's
    // %.3f uses the JVM default locale — a comma-decimal locale would
    // break downstream parsers).
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val v =
        try { SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench fail] $name: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(300))
          -1.0 }
      // immediate SELF-STAMPED per-key stderr record (epoch ms at line
      // emit): reconstructs each key's wall-clock window for correlation
      // with GC/vmstat logs. Self-stamped because a downstream pipe
      // timestamper (awk) buffers its input and stamps whole chunks at
      // flush time (measured, round-9 burst instrumentation); the
      // rep-end [bench repN] dump has the same problem by construction.
      System.err.println(s"[bench key] $name ${r3(v)} ${System.currentTimeMillis()}")
      v
    }
    def rep(): Seq[(String, Double)] =
      SparkEntry.queries.keys.toSeq.sorted
        .filter(name => only.forall(_.contains(name)))
        .map(name => name -> timeOne(name))
    // Per-query baselines, read BEFORE this run overwrites BENCH_LAST.json.
    // TWO baselines (round-9 verdict: the prior-DRAW-only trigger let keys
    // that regressed vs the prior ROUND escape flooring when an intra-round
    // draw had already absorbed the shift):
    //  - BENCH_LAST.json: the prior full DRAW (catches intra-round drift)
    //  - BENCH_ROUND_BASE.json: the prior ROUND's committed full draw —
    //    refreshed ONCE per round (first action of a session: copy
    //    BENCH_LAST.json, which the driver committed, over it).
    def readBenchQueries(file: String): Map[String, Double] = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"), file)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else try {
        val s = java.nio.file.Files.readString(p)
        val start = s.indexOf("\"queries\":{")
        if (start < 0) Map.empty
        else {
          val body = s.substring(start + 11, s.indexOf('}', start))
          body.split(",").flatMap { kv =>
            kv.split(":") match {
              case Array(k, v) => try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.toDouble)
                                  catch { case _: Throwable => None }
              case _ => None
            }
          }.toMap
        }
      } catch { case _: Throwable => Map.empty }
    }
    val priorTimes: Map[String, Double] = readBenchQueries("BENCH_LAST.json")
    val roundBase: Map[String, Double]  = readBenchQueries("BENCH_ROUND_BASE.json")
    // reps>1: keep the per-query MIN across repetitions (the least-noise
    // estimate on a shared container); failures stay -1 regardless of reps
    val all = (1 to reps).map { i =>
      val r = rep()
      if (reps > 1) r.foreach { case (k, v) => System.err.println(s"[bench rep$i] $k ${r3(v)}") }
      r
    }
    val firstPass = all.transpose.map { timings =>
      val name = timings.head._1
      val vs = timings.map(_._2)
      name -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }
    // Single-rep runs (the driver's mode) re-measure outliers once and keep
    // the min — the same least-noise policy reps>1 already applies. In this
    // container a key costing >3x the run median is far more often a
    // transient (JVM settling on the first keys, noisy neighbor) than a real
    // plan cost: rounds 1-3 saw the two alphabetically-first keys inflate
    // ~3x in full driver runs while fresh isolated runs reproduced their
    // round-1 numbers. Bounded: at most the 8 worst keys, one re-run each.
    val results = if (reps > 1) firstPass else {
      val ok = firstPass.collect { case (_, v) if v >= 0 => v }.sorted
      if (ok.isEmpty) firstPass else {
        val median = ok(ok.size / 2)
        val redo = firstPass
          .filter { case (_, v) => v > math.max(2.0, 3 * median) }
          .sortBy(-_._2).take(8).map(_._1).toSet
        firstPass.map { case (name, v) =>
          if (!redo(name)) name -> v
          else {
            val again = timeOne(name) match { case x if x >= 0 => x; case _ => v }
            System.err.println(s"[bench redo] $name first=${r3(v)} redo=${r3(again)}")
            name -> math.min(v, again)
          }
        }
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // failed queries keep their -1 sentinel in `queries` but must not
    // subtract from the headline total
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failures = results.count(_._2 < 0)
    // In-artifact adjudication floors: the container's shared-host bursts
    // have twice inflated sort-shuffle-bound keys 3-6x over their
    // reproducible floor in full-suite draws (hbase_key_tile rounds 5-6,
    // adjudicated in BASELINE.md both times via separate isolated re-runs).
    // Re-measure the 10 most expensive keys — plus every key >1.5x its
    // prior-round number (from the pre-run BENCH_LAST.json snapshot) —
    // post-suite (quiet JVM, min of 2) so the suite number and its floor
    // ship in the SAME artifact and burst-vs-regression triage needs no
    // out-of-band reproduction.
    val ok = results.filter(_._2 >= 0)
    // floors are a full-run artifact feature; a SPARK_GRAFT_QUERIES dev
    // subset already IS a quiet-JVM isolated measurement and re-running it
    // 2 more times per key just doubles the wait
    // ratio vs a baseline map; 0.0 = key absent (new key / missing file)
    def ratioVs(base: Map[String, Double])(name: String, v: Double): Double =
      base.get(name).filter(_ > 0).map(v / _).getOrElse(0.0)
    // a key floors when it regressed >1.5x vs EITHER baseline; both ratios
    // ship in the floors entries for triage
    val regressedAll: Seq[(String, Double)] = if (only.nonEmpty) Seq.empty else ok
      .map { case (name, v) =>
        name -> math.max(ratioVs(priorTimes)(name, v), ratioVs(roundBase)(name, v)) }
      .filter(_._2 > 1.5)
      .sortBy(-_._2)
    // EVERY regressed-vs-prior key gets a floor (round-8 verdict: the
    // 15-worst-ratio cap let decontaminate's 1.6x ship unadjudicated), up
    // to a 40-key guard for pathological noisy-host days (74 keys tripped
    // the 1.5x trigger on 2026-08-15) — and a truncation is never silent:
    // the overflow count ships in the artifact as "floors_dropped".
    val FloorCap = 40
    val floorsDropped = math.max(0, regressedAll.size - FloorCap)
    if (floorsDropped > 0)
      System.err.println(s"[bench floors] $floorsDropped regressed keys beyond " +
        s"the $FloorCap-floor cap shipped without isolated floors")
    val floorSet: Seq[String] = if (only.nonEmpty) Seq.empty else {
      val top10 = ok.sortBy(-_._2).take(10).map(_._1)
      (top10 ++ regressedAll.take(FloorCap).map(_._1)).distinct
    }
    val suiteTime = results.toMap
    val floors = floorSet.map { name =>
      val suiteV = suiteTime(name)
      // a failed re-run must NOT masquerade as "floor == suite" (that is
      // the confirmed-regression signature); -1 = floor not obtained
      val iso = (1 to 2).map(_ => timeOne(name)).filter(_ >= 0)
      name -> ((suiteV, if (iso.isEmpty) -1.0 else iso.min))
    }
    val floorsJson = floors.map { case (k, (s, i)) =>
      s"\"" + k + "\":{\"suite\":" + r3(s) + ",\"isolated\":" + r3(i) +
        ",\"vs_draw\":" + r3(ratioVs(priorTimes)(k, s)) +
        ",\"vs_round\":" + r3(ratioVs(roundBase)(k, s)) + "}"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failures":$failures,"floors":$floorsJson,"floors_dropped":$floorsDropped,"sf":"$sfDir"}"""
    println(line)
    // full-fidelity copy: the round-2 driver capture truncated the stdout
    // tail and lost the total + the alphabetically-first keys. Subset
    // (SPARK_GRAFT_QUERIES) dev runs must not clobber the full-run artifact.
    if (only.isEmpty)
      java.nio.file.Files.writeString( // absolute: cwd of a spark-submit launch is not the repo
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"), "BENCH_LAST.json"),
        line + "\n")
    // Driver-parseable COMPACT line, printed LAST: the driver keeps only the
    // final ~2000 chars of stdout (BENCH_r07.json "tail"), and the full
    // 215-key line is ~7.5 KB, so its opening brace falls outside the window
    // and rounds 6-7 shipped "parsed": null. This line budgets itself to
    // ~1200 chars (sbt's "[success] Total time" epilogue eats ~100 more) so
    // the whole object sits inside the tail: headline + floors + as many
    // slowest keys as fit + a pointer to the full per-key record.
    val floorsCompact = floors.map { case (k, (s, i)) =>
      "\"" + k + "\":[" + r3(s) + "," + r3(i) + "]"
    }.mkString("{", ",", "}")
    val fixed = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failures":$failures,"floors_si":$floorsCompact,"floors_dropped":$floorsDropped,"queries":{},"full":"BENCH_LAST.json","sf":"$sfDir"}"""
    val budget = 1200 - fixed.length
    val slowKeys = new scala.collection.mutable.ListBuffer[String]
    var used = 0
    ok.sortBy(-_._2).foreach { case (k, v) =>
      val frag = "\"" + k + "\":" + r3(v)
      if (used + frag.length + 1 <= budget) { slowKeys += frag; used += frag.length + 1 }
    }
    val compact = fixed.replace("\"queries\":{}", "\"queries\":{" + slowKeys.mkString(",") + "}")
    println(compact)
    spark.stop()
  }
}
