package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expr.IntMath

/** Structured-Streaming surface for the events table.
  *
  * The reference is pure batch over an HDFS snapshot (SURVEY §2.8) — these
  * are the engine additions a continuously-ingesting deployment needs. Each
  * streaming transform has a batch twin with identical semantics: the batch
  * twin is what the DuckDB oracle checks (`sessionize_batch` in SparkEntry),
  * the streaming path is covered by MemoryStream specs.
  *
  * Finality, one rule for every watermark-gated stateful operator
  * ([[sessionize]], [[stateIntervals]], [[gapfill]], [[cusum]], [[ewma]],
  * [[interpolate]], [[seasonal]], [[funnel]]): Spark drops rows with
  * `ts ≤ watermark` as late, and an item whose last millisecond is T — a
  * session's last event + gap, the start of a run's successor, a period's
  * last millisecond, a funnel event — is final once the watermark is
  * strictly past T. Its group's event-time timer is armed at T (Spark fires
  * a timer once the watermark is strictly past it), so a group wakes for
  * the item even if it never sees another event. Emitted rows are thus
  * immutable (append-mode safe) under any arrival order within the
  * watermark. The object is `Serializable` because the update functions
  * Spark ships to executors call its private helpers.
  */
object EventStream extends Serializable {

  /** Watermarked hourly tumbling counts — streaming twin of the
    * `events_window_hourly` batch query. Late rows beyond the watermark are
    * dropped; output appends one row per (hour, event_type) when finalized.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup — the streaming twin of the batch `dedup_exact`
    * key: duplicates of `idCols` arriving within the watermark horizon are
    * dropped; state for ids older than the watermark is evicted (bounded
    * state, unlike plain `dropDuplicates` which keeps every id forever).
    */
  def dedupedStream(events: DataFrame, idCols: Seq[String],
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Attribution-window span (6 h in epoch micros) — the ONE constant both
    * the batch `join_range` query and the streaming twin default to, so the
    * two pipelines cannot silently drift apart.
    */
  val AttributionWindowUs: Long = 21600000000L

  /** Stream-stream interval join — the streaming twin of the batch
    * `join_range` attribution query: purchases join the signups whose
    * `[s_ts, s_ts + window)` window contains them.
    *
    * Spark rejects stream-stream joins without an equality predicate, and
    * the SAME banding that gives the batch RangeJoin its shuffle key fixes
    * that here: signups explode into the (≤2, deduped) fixed-width time
    * buckets their window covers, purchases key by their own bucket, and
    * the join is bucket-equality plus the precise range bound. The range
    * condition on the two watermarked timestamp columns is what lets Spark
    * evict join state (signups after window + watermark, purchases after
    * watermark) — without it a stream-stream join buffers forever. A
    * purchase emits once per containing window (bucket dedup keeps aligned
    * windows from double-emitting), exactly like the batch shape.
    */
  def attribution(signups: DataFrame, purchases: DataFrame,
                  windowUs: Long = AttributionWindowUs,
                  watermark: String = "2 hours"): DataFrame = {
    val s = signups
      .select(col("event_id").as("signup_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", watermark)
      // covered buckets: floorDiv(first, w) .. floorDiv(last valid instant,
      // w), deduped for the window-aligned case. IntMath.floorDiv — the SAME
      // bucket function as the batch RangeJoin — so batch and streaming
      // assign identical buckets on all inputs, including pre-1970 ts where
      // truncating `div` and floor disagree.
      .withColumn("bkt", explode(array_distinct(array(
        IntMath.floorDiv(expr("unix_micros(s_ts)"), windowUs),
        IntMath.floorDiv(expr(s"unix_micros(s_ts) + ${windowUs - 1}"), windowUs)))))
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
      .withColumn("bkt", IntMath.floorDiv(expr("unix_micros(p_ts)"), windowUs))
    p.join(s, p("bkt") === s("bkt") &&
        expr(s"p_ts >= s_ts AND p_ts < s_ts + INTERVAL $windowUs MICROSECOND"))
      .select(col("signup_id"), col("purchase_id"), col("p_ts"), col("value"))
  }

  // ---- the finality rule, once -----------------------------------------

  /** Epoch microseconds of an event time. */
  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  /** The millisecond that epoch microsecond `us` falls in. */
  private def msOf(us: Long): Long = Math.floorDiv(us, 1000L)

  /** Is an item whose last millisecond is `lastMs` final? */
  private def isFinal(state: GroupState[_], lastMs: Long): Boolean =
    state.getCurrentWatermarkMs > lastMs

  /** Wakes the group once an item whose last millisecond is `lastMs` is
    * final. Spark rejects a timeout below the current watermark or ≤ 0.
    */
  private def wakeWhenFinal(state: GroupState[_], lastMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(lastMs, math.max(state.getCurrentWatermarkMs, 1L)))

  /** The wiring every watermark-gated operator shares: watermark on `ts`,
    * one group per `key`, `update` called with the group's new events, or
    * with none when its timer fires.
    */
  private def watermarked[E, K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[E], watermark: String)(key: E => K)(
      update: (K, Iterator[E], GroupState[S]) => Iterator[O]): Dataset[O] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)

  // ---- sessionization --------------------------------------------------

  case class Ev(ts: java.sql.Timestamp, user_id: Long)
  case class SessionAcc(startUs: Long, lastUs: Long, n: Long)
  /** Per-user state: DISJOINT open sessions (pairwise separated by > gap),
    * sorted by start. Holding all open sessions — not just the newest — is
    * what makes out-of-order, cross-batch arrivals safe: a late event (still
    * inside the watermark) can extend a session backwards or bridge two
    * sessions into one, exactly as the batch twin would.
    */
  case class SessionState(accs: Seq[SessionAcc])
  case class Session(user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** Stateful streaming sessionization: events within `gapSec` of each other
    * belong to one session per user. A session is emitted only once it is
    * final, its last event + gap being its last millisecond — before that,
    * any in-watermark arrival may still extend/bridge it, so emission is
    * watermark-gated (not gap-triggered as a naive single-acc design would).
    * Semantics match [[sessionizeBatch]] for ANY arrival order within the
    * watermark; state size is bounded by the watermark horizon / gap
    * density.
    */
  def sessionize(events: Dataset[Ev], gapSec: Long, watermark: String = "2 hours")
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapSec * 1000000L
    // a future event merges into a session only if it lands within the gap
    def lastMs(a: SessionAcc) = msOf(a.lastUs + gapUs)

    def update(userId: Long, batch: Iterator[Ev], state: GroupState[SessionState]): Iterator[Session] = {
      val incoming = batch.map(e => micros(e.ts)).map(t => SessionAcc(t, t, 1)).toSeq
      val all = (state.getOption.map(_.accs).getOrElse(Seq.empty) ++ incoming)
        .sortBy(a => (a.startUs, a.lastUs))
      // merge-scan: fuse any accs within gap of each other (late events can
      // extend a session's start or bridge two previously-open sessions)
      val merged = all.foldLeft(List.empty[SessionAcc]) {
        case (Nil, a) => a :: Nil
        case (cur :: done, a) if a.startUs - cur.lastUs <= gapUs =>
          SessionAcc(cur.startUs, math.max(cur.lastUs, a.lastUs), cur.n + a.n) :: done
        case (acc, a) => a :: acc
      }.reverse
      val (ripe, open) = merged.partition(a => isFinal(state, lastMs(a)))
      if (open.isEmpty) state.remove()
      else {
        state.update(SessionState(open))
        wakeWhenFinal(state, open.map(lastMs).min)
      }
      ripe.iterator.map(a => Session(userId, a.startUs, a.lastUs, a.n))
    }

    watermarked(events, watermark)(_.user_id)(update)
  }

  // ---- state intervals (SCD2 runs) -------------------------------------

  case class EvT(ts: java.sql.Timestamp, user_id: Long, event_id: Long,
                 event_type: String)
  /** Per-user unfinalized events, sorted by (tsUs, eventId). */
  case class IntervalState(evs: Seq[(Long, Long, String)])
  case class IntervalRow(user_id: Long, event_type: String, from_us: Long,
                         to_us: Long, n_events: Long)

  /** Streaming twin of the `state_intervals` batch key: collapse each
    * user's consecutive same-event_type runs into validity intervals,
    * correct under ANY arrival order within the watermark.
    *
    * Finality is SUCCESSOR-gated, not gap-gated: a run's extent depends on
    * the next run's first event (a late arrival landing between two runs
    * can extend, split, or bridge them), so run i is emitted only once run
    * i+1's start is final — after which every accepted future event lands
    * later. The LAST run can always be extended by a future same-state
    * event, so it stays open until more data arrives (the stream-end
    * sentinel pattern in the specs); state per user is bounded by the
    * open-suffix length, same class as [[sessionize]]'s open set.
    */
  def stateIntervals(events: Dataset[EvT], watermark: String = "2 hours")
                    (implicit spark: SparkSession): Dataset[IntervalRow] = {
    import spark.implicits._

    def update(userId: Long, batch: Iterator[EvT],
               state: GroupState[IntervalState]): Iterator[IntervalRow] = {
      val incoming = batch.map(e => (micros(e.ts), e.event_id, e.event_type)).toSeq
      val all = (state.getOption.map(_.evs).getOrElse(Seq.empty) ++ incoming)
        .sortBy(t => (t._1, t._2))
      // runs of consecutive identical event_type in (ts, event_id) order
      val runs = all.foldLeft(Vector.empty[Vector[(Long, Long, String)]]) {
        case (acc, e) if acc.nonEmpty && acc.last.head._3 == e._3 =>
          acc.init :+ (acc.last :+ e)
        case (acc, e) => acc :+ Vector(e)
      }
      def startMs(i: Int) = msOf(runs(i).head._1)
      val nRipe = (1 until runs.size).takeWhile(i => isFinal(state, startMs(i))).size
      val ripe = runs.take(nRipe)
      val remaining = all.drop(ripe.map(_.size).sum)
      if (remaining.isEmpty) state.remove()
      else {
        state.update(IntervalState(remaining))
        // wake for the next pending run boundary even if no further events
        // of this user arrive
        if (runs.size > nRipe + 1) wakeWhenFinal(state, startMs(nRipe + 1))
      }
      ripe.iterator.map(r =>
        IntervalRow(userId, r.head._3, r.head._1, r.last._1, r.size))
    }

    watermarked(events, watermark)(_.user_id)(update)
  }

  // ---- online anomaly detection ----------------------------------------

  case class EvV(ts: java.sql.Timestamp, event_id: Long, event_type: String,
                 value: Double)
  /** Per-type running moments (Welford): count, mean, M2. */
  case class MomentState(n: Long, mean: Double, m2: Double)
  case class Anomaly(event_id: Long, event_type: String, value: Double, z: Double)

  /** Minimum observations before the online detector starts flagging —
    * below this the variance estimate is noise.
    */
  val AnomalyWarmup = 30L

  /** Online anomaly detection: per event_type, maintain running mean and
    * variance (Welford's algorithm — numerically stable one-pass moments)
    * and flag each event whose |z| vs the stats of all PREVIOUSLY
    * processed events exceeds `threshold`. Prefix semantics, not the
    * batch key's global stats: an online detector can only know the past,
    * so early outliers sharpen later thresholds rather than being judged
    * by data that arrives after them. Within a batch, events are
    * processed in (ts, event_id) order, making replays deterministic.
    * State is three numbers per event_type — bounded by the type
    * cardinality, no timeout needed.
    */
  def anomalies(events: Dataset[EvV], threshold: Double = 3.0,
                warmup: Long = AnomalyWarmup)
               (implicit spark: SparkSession): Dataset[Anomaly] = {
    import spark.implicits._

    def update(tpe: String, batch: Iterator[EvV],
               state: GroupState[MomentState]): Iterator[Anomaly] = {
      var st = state.getOption.getOrElse(MomentState(0L, 0.0, 0.0))
      val out = Vector.newBuilder[Anomaly]
      for (e <- batch.toSeq.sortBy(x => (x.ts.getTime, x.event_id))) {
        if (st.n >= warmup) {
          val sd = math.sqrt(st.m2 / st.n)
          if (sd > 0 && math.abs(e.value - st.mean) / sd > threshold)
            out += Anomaly(e.event_id, tpe, e.value, (e.value - st.mean) / sd)
        }
        val n1 = st.n + 1
        val d = e.value - st.mean
        val mean1 = st.mean + d / n1
        st = MomentState(n1, mean1, st.m2 + d * (e.value - mean1))
      }
      state.update(st)
      out.result().iterator
    }

    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  // ---- the period buffer: gapfill, cusum, ewma, interpolate, seasonal ---

  private val HourSec = 3600L

  /** An event's hour bucket: the epoch second its hour starts at. */
  private def hourOf(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 3600000L) * HourSec

  /** A period operator's buffered input: summed weights per hour bucket
    * for the hours whose period is not final yet, and the cursor — the
    * start (epoch second) of the next period to finalize, `Long.MaxValue`
    * while nothing was ever folded in. Pending size is bounded by the
    * watermark horizon; gapfill's state is this buffer alone.
    */
  case class PeriodBuffer(next: Long, pending: Map[Long, Long])
  private val NoPeriods = PeriodBuffer(Long.MaxValue, Map.empty)

  /** One call of a period operator: folds `hours` ((hour bucket, weight)
    * pairs) into `buf`, hands the periods of `periodSec` seconds that are
    * now final — oldest first, each with its hour sums — to `advance`
    * along with the buffer left pending, saves the state `advance` returns
    * and wakes the group for the cursor's period.
    *
    * `dense` walks every period from the group's first one on, silent ones
    * included (with empty sums): the cursor never skips a period, so the
    * timer fires through silence. Otherwise only observed periods are
    * handed over, the cursor is the first pending one, and a group with
    * nothing pending gets no wake-ups.
    */
  private def periodStep[S, O](state: GroupState[S], buf: PeriodBuffer,
      hours: Iterator[(Long, Long)], periodSec: Long, dense: Boolean)(
      advance: (Vector[(Long, Map[Long, Long])], PeriodBuffer) => (S, Seq[O])): Iterator[O] = {
    def periodOf(h: Long) = Math.floorDiv(h, periodSec) * periodSec
    def lastMs(p: Long) = (p + periodSec) * 1000L - 1L
    val pending = hours.foldLeft(buf.pending) { case (m, (h, w)) =>
      m.updated(h, m.getOrElse(h, 0L) + w)
    }
    val byPeriod = pending.groupBy { case (h, _) => periodOf(h) }
    val start = (byPeriod.keys ++ Iterator(buf.next)).min
    // a timer fired before anything was folded in: nothing to emit or keep
    if (start == Long.MaxValue) Iterator.empty
    else {
      val periods =
        if (dense) Iterator.iterate(start)(_ + periodSec)
        else byPeriod.keys.toVector.sorted.iterator
      val ripe = periods.takeWhile(p => isFinal(state, lastMs(p)))
        .map(p => p -> byPeriod.getOrElse(p, Map.empty[Long, Long])).toVector
      val cursor = if (ripe.isEmpty) start else ripe.last._1 + periodSec
      val rest = pending.filter { case (h, _) => periodOf(h) >= cursor }
      val next =
        if (dense) cursor else rest.keys.map(periodOf).minOption.getOrElse(Long.MaxValue)
      if (next != Long.MaxValue) wakeWhenFinal(state, lastMs(next))
      val (st, out) = advance(ripe, PeriodBuffer(next, rest))
      state.update(st)
      out.iterator
    }
  }

  // ---- dense hourly gap-fill -------------------------------------------

  case class EvG(ts: java.sql.Timestamp, event_type: String)
  case class HourCount(event_type: String, hour_epoch: Long, n: Long)

  /** Streaming twin of the `events_gapfill` batch key: per event_type,
    * emit a row for EVERY hour from the type's first event onward —
    * including n=0 rows for hours where the type went silent. The zero
    * rows are what makes this stateful rather than a windowed aggregate:
    * a groupBy(window) can only emit where data exists, so silence is
    * invisible to it. Here each type's state carries an hour cursor, and
    * an event-time TIMER re-fires the group whenever the cursor's hour
    * becomes final — the timer path (empty batch iterator) is the
    * zero-row emitter.
    *
    * An hour is final once the watermark is past its last millisecond:
    * every accepted future event lands later. Emitted hours are therefore
    * immutable (append-mode safe), and a late in-watermark arrival still
    * lands in a pending hour and counts.
    *
    * Axis semantics vs the batch twin: the batch key zero-fills every
    * type over the GLOBAL hour span; a stream cannot know the global
    * left edge prospectively, so each type's axis starts at its own
    * first event's hour. From that hour on the outputs match row for row
    * (StreamingSpec pins the equivalence).
    */
  def gapfill(events: Dataset[EvG], watermark: String = "2 hours")
             (implicit spark: SparkSession): Dataset[HourCount] = {
    import spark.implicits._

    def update(tpe: String, batch: Iterator[EvG],
               state: GroupState[PeriodBuffer]): Iterator[HourCount] =
      periodStep(state, state.getOption.getOrElse(NoPeriods),
          batch.map(e => hourOf(e.ts) -> 1L), HourSec, dense = true) { (ripe, buf) =>
        (buf, ripe.map { case (h, sums) => HourCount(tpe, h, sums.values.sum) })
      }

    watermarked(events, watermark)(_.event_type)(update)
  }

  // ---- streaming integer Holt smoothing --------------------------------

  /** Per-type EWMA model state: the (level, trend) pair in exact ppm
    * BIGINTs, the number of hours folded (0 = not seeded yet), and the
    * not-yet-final hours.
    */
  case class EwmaState(buf: PeriodBuffer, level: Long, trend: Long, nHours: Long)
  case class EwmaPoint(event_type: String, hour_epoch: Long, n_hours: Long,
                       level_ppm: Long, trend_ppm: Long, forecast_ppm: Long)

  case class CusumState(buf: PeriodBuffer, s: Long, mx: Long, na: Long)
  case class CusumPoint(event_type: String, hour_epoch: Long, s_milli: Long,
                        mx_milli: Long, n_alarms: Long, alarm: Boolean)

  /** Streaming twin of the `events_cusum` batch key: the one-sided CUSUM
    * recurrence `s ← max(0, s + v − μ − μ/10)` (milli-count units, JVM
    * long division ≡ Spark `div` ≡ DuckDB `//` on nonnegatives) advanced
    * per watermark-finalized OBSERVED hour, alarming when s > 5μ. The
    * reference μ per type is a FROZEN input — the monitoring deployment
    * shape, where the batch key (which derives μ from the full window) is
    * the trainer and the stream replays its recurrence against that
    * reference. Types ABSENT from the reference are not monitored: their
    * events are consumed without state or emission (a μ = 0 default would
    * alarm on every observed hour of any type the trainer never saw — a
    * permanent alarm flood, not a signal). Hour finality as in [[ewma]];
    * last point per type equals the batch fold over the same finalized
    * prefix with the same μ (pinned in StreamingSpec).
    */
  def cusum(events: Dataset[EvG], refMilli: Map[String, Long],
            watermark: String = "2 hours")
           (implicit spark: SparkSession): Dataset[CusumPoint] = {
    import spark.implicits._

    def update(tpe: String, batch: Iterator[EvG],
               state: GroupState[CusumState]): Iterator[CusumPoint] = {
      if (!refMilli.contains(tpe)) return Iterator.empty // unmonitored type
      val mu = refMilli(tpe)
      val st0 = state.getOption.getOrElse(CusumState(NoPeriods, 0L, 0L, 0L))
      periodStep(state, st0.buf, batch.map(e => hourOf(e.ts) -> 1L), HourSec,
          dense = false) { (ripe, buf) =>
        var (s, mx, na) = (st0.s, st0.mx, st0.na)
        val out = ripe.map { case (h, sums) =>
          s = math.max(0L, s + sums.values.sum * 1000L - mu - mu / 10L)
          mx = math.max(mx, s)
          val alarm = s > mu * 5L
          if (alarm) na += 1
          CusumPoint(tpe, h, s, mx, na, alarm)
        }
        (CusumState(buf, s, mx, na), out)
      }
    }

    watermarked(events, watermark)(_.event_type)(update)
  }

  /** Streaming twin of the `events_ewma` batch key: per event_type, the
    * integer Holt recurrence (α = β = ½, exact BIGINT truncating division
    * — the JVM's `/` on longs, identical to Spark SQL `div` and DuckDB
    * `//`) folded over finalized OBSERVED hours in hour order. A folded
    * hour is final, so it can never receive more data (a later arrival for
    * it is late and dropped upstream by Spark) — the same finality as
    * gapfill, minus the zero rows: the batch key folds only observed
    * hours, so silent hours advance nothing here either. Each finalized
    * hour emits one trajectory point; the LAST point per type equals the
    * batch key run over the same finalized prefix (pinned in
    * StreamingSpec).
    */
  def ewma(events: Dataset[EvG], watermark: String = "2 hours")
          (implicit spark: SparkSession): Dataset[EwmaPoint] = {
    import spark.implicits._

    def update(tpe: String, batch: Iterator[EvG],
               state: GroupState[EwmaState]): Iterator[EwmaPoint] = {
      val st0 = state.getOption.getOrElse(EwmaState(NoPeriods, 0L, 0L, 0L))
      periodStep(state, st0.buf, batch.map(e => hourOf(e.ts) -> 1L), HourSec,
          dense = false) { (ripe, buf) =>
        var (level, trend, n) = (st0.level, st0.trend, st0.nHours)
        val out = ripe.map { case (h, sums) =>
          val v = sums.values.sum * 1000000L
          if (n == 0) { level = v; trend = 0L }
          else {
            val nl = (level + v) / 2
            trend = (trend + (nl - level)) / 2
            level = nl
          }
          n += 1
          EwmaPoint(tpe, h, n, level, trend, level + trend)
        }
        (EwmaState(buf, level, trend, n), out)
      }
    }

    watermarked(events, watermark)(_.event_type)(update)
  }

  // ---- hourly value interpolation --------------------------------------

  case class EvI(ts: java.sql.Timestamp, event_type: String, value: Double)
  /** Per-type interpolation state: the hour→cents buffer, the last
    * FINALIZED observed point, and finalized silent hours buffered until
    * their right endpoint arrives.
    */
  case class InterpState(buf: PeriodBuffer, lastObs: Option[(Long, Long)],
                         buffered: Vector[Long])
  case class HourValue(event_type: String, hour_epoch: Long,
                       cents: Option[Long], src: String)

  /** Streaming twin of the `events_interpolate` batch key: per event_type,
    * the hourly cents series with silent hours linearly interpolated
    * between their observed neighbors — the same exact integer form
    * `(pc·(nh−h) + nc·(h−ph)) div (nh−ph)` as the batch key, so outputs
    * are replayable bit for bit.
    *
    * Two-stage finality, one stage more than [[gapfill]]: an hour's OWN
    * sum finalizes with the hour, but a SILENT hour's value additionally
    * needs its right endpoint — the next observed hour — to have
    * finalized, so silent hours buffer in state until the next
    * observation's hour is final, then the whole gap emits in one burst.
    * Observed hours emit at finality directly. Buffered-gap state is
    * bounded by the type's longest silence inside the stream (an
    * interpolation cannot do better: the value IS a function of the gap's
    * right endpoint).
    *
    * Axis semantics vs the batch twin: the batch key grids every type over
    * the GLOBAL hour span and marks rows outside a type's observed span
    * 'edge' (NULL value); a stream knows neither the global left edge
    * prospectively nor "no future observation" ever, so each type's axis
    * runs from its own first observed hour and trailing edges never emit.
    * Equivalently: the stream emits exactly the batch rows with
    * src ∈ {obs, interp} — i.e. each type's [first, last] observed span —
    * which is what StreamingSpec pins (including under random arrival
    * permutations).
    */
  def interpolate(events: Dataset[EvI], watermark: String = "2 hours")
                 (implicit spark: SparkSession): Dataset[HourValue] = {
    import spark.implicits._

    // mirrors the batch key's cast(value as decimal(12,2)) * 100 → long:
    // Spark's double→decimal cast goes through the toString form
    // (BigDecimal.valueOf), then HALF_UP at scale 2
    def centsOf(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()

    def update(tpe: String, batch: Iterator[EvI],
               state: GroupState[InterpState]): Iterator[HourValue] = {
      val st0 = state.getOption.getOrElse(InterpState(NoPeriods, None, Vector.empty))
      periodStep(state, st0.buf, batch.map(e => hourOf(e.ts) -> centsOf(e.value)),
          HourSec, dense = true) { (ripe, buf) =>
        val out = Vector.newBuilder[HourValue]
        var lastObs = st0.lastObs
        var buffered = st0.buffered
        ripe.foreach { case (h, sums) =>
          sums.get(h) match {
            case Some(c) =>
              lastObs.foreach { case (ph, pc) =>
                buffered.foreach { bh =>
                  // plain / : truncation toward zero, the exact semantics of
                  // the batch key's SQL `div` on possibly-negative cents
                  out += HourValue(tpe, bh,
                    Some((pc * (h - bh) + c * (bh - ph)) / (h - ph)), "interp")
                }
              }
              buffered = Vector.empty
              out += HourValue(tpe, h, Some(c), "obs")
              lastObs = Some((h, c))
            case None =>
              if (lastObs.isDefined) buffered :+= h
              else out += HourValue(tpe, h, None, "edge") // unreachable: axis
              // starts at the first OBSERVED hour; kept as the honest
              // batch-mirroring fallback rather than a silent drop
          }
        }
        (InterpState(buf, lastObs, buffered), out.result())
      }
    }

    watermarked(events, watermark)(_.event_type)(update)
  }

  // ---- online seasonal-naive residuals ----------------------------------

  case class EvS(ts: java.sql.Timestamp, event_type: String)
  /** Per-type seasonal accumulator: the hour buffer of not-yet-final days,
    * cumulative per-hod train counts, and the number of OBSERVED train
    * days folded so far. `cum` is at most 24 entries; the whole state is
    * constant-size per type.
    */
  case class SeasonalState(buf: PeriodBuffer, cum: Map[Long, Long], trainDays: Long)
  case class SeasonalRow(event_type: String, day: Long, hod: Long,
                         base_cnt: Long, n_train_days: Long,
                         baseline_ppm: Long, actual_cnt: Long, resid_ppm: Long)

  /** Streaming twin of the `events_seasonal` batch key, run ONLINE: per
    * event_type, when a day finalizes emit that day's per-hour-of-day
    * residuals against the seasonal-naive baseline accumulated from all
    * PRIOR observed days — then fold the day into the baseline. The batch
    * key scores only the corpus's last day; the stream scores every day as
    * it completes, and its rows for a type's final observed day reproduce
    * the per-type batch computation exactly (StreamingSpec pins it, random
    * arrival orders included).
    *
    * Semantics vs batch, made per-type: the batch key's train-day count is
    * the GLOBAL distinct observed days before the global max day; a
    * per-type group cannot see other types' days, so here train days are
    * the TYPE's own observed days before the day being scored (identical
    * when every type is observed every day — true of the fixture — and the
    * honest per-entity reading otherwise). Days with zero events for the
    * type are skipped, mirroring the batch `SELECT DISTINCT day` over
    * observed rows; (hod) rows emit when baseline or actual is non-zero,
    * mirroring the batch full-outer join's row set. Baseline is the same
    * exact-integer ppm: `cum·1e6 div max(trainDays, 1)`, residual
    * `actual·1e6 − baseline_ppm`.
    *
    * State per type is constant-size (24 cum cells + the pending horizon);
    * emission cadence is one burst of ≤24 rows per type-day — the same
    * state class as [[anomalies]], with [[gapfill]]'s dense cursor at day
    * granularity firing silent-day rollovers.
    */
  def seasonal(events: Dataset[EvS], watermark: String = "2 hours")
              (implicit spark: SparkSession): Dataset[SeasonalRow] = {
    import spark.implicits._
    val DaySec = 86400L

    def update(tpe: String, batch: Iterator[EvS],
               state: GroupState[SeasonalState]): Iterator[SeasonalRow] = {
      val st0 = state.getOption.getOrElse(SeasonalState(NoPeriods, Map.empty, 0L))
      periodStep(state, st0.buf, batch.map(e => hourOf(e.ts) -> 1L), DaySec,
          dense = true) { (ripe, buf) =>
        var cum = st0.cum
        var trainDays = st0.trainDays
        val out = ripe.flatMap { case (dayStart, sums) =>
          val dayCounts = sums.map { case (h, n) => h / HourSec % 24L -> n }
          // an observed day is scored against the prior days, then trained on
          val rows =
            if (dayCounts.isEmpty || trainDays == 0) Seq.empty
            else (cum.keySet ++ dayCounts.keySet).toSeq.sorted.map { hod =>
              val base = cum.getOrElse(hod, 0L)
              val actual = dayCounts.getOrElse(hod, 0L)
              val ppm = base * 1000000L / math.max(trainDays, 1L)
              SeasonalRow(tpe, dayStart / DaySec, hod, base, trainDays, ppm,
                actual, actual * 1000000L - ppm)
            }
          if (dayCounts.nonEmpty) {
            cum = dayCounts.foldLeft(cum) { case (m, (hod, n)) =>
              m.updated(hod, m.getOrElse(hod, 0L) + n)
            }
            trainDays += 1
          }
          rows
        }
        (SeasonalState(buf, cum, trainDays), out)
      }
    }

    watermarked(events, watermark)(_.event_type)(update)
  }

  // ---- ordered conversion funnel ---------------------------------------

  case class EvF(ts: java.sql.Timestamp, user_id: Long, event_type: String)
  /** Per-user funnel state: finalized stage times (index 0..3, None =
    * stage not reached on the finalized prefix) plus the not-yet-final
    * (tsUs, stageIdx) events.
    */
  case class FunnelState(t: Seq[Option[Long]], pending: Seq[(Long, Int)])
  case class StageHit(user_id: Long, stage_idx: Int, stage: String, ts_us: Long)

  /** The funnel's stage chain in order (the `events_funnel` batch key). */
  val FunnelStages: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** Streaming twin of the `events_funnel` batch key: per user, emit a
    * [[StageHit]] when a funnel stage time becomes FINAL — t1 = first
    * signup, t(k) = first stage-k event at/after t(k-1). Counting hits per
    * stage over the output reproduces the batch key's funnel counts.
    *
    * Finality is watermark-gated: an event folds into the chain only once
    * it is final — before that, a late arrival (still inside the
    * watermark) could precede it and claim the stage, or rewrite an
    * earlier stage time the chain condition depends on. The fold over the
    * ripe prefix runs in (ts, stageIdx) order — the batch fold's exact
    * tie-break — so any arrival order inside the watermark produces the
    * batch answer. State per user is the 4 stage times plus the open
    * suffix (bounded by the watermark horizon); a completed funnel shrinks
    * to a 4-long tombstone so later events can never restart the chain
    * and double-count the user.
    */
  def funnel(events: Dataset[EvF], watermark: String = "2 hours")
            (implicit spark: SparkSession): Dataset[StageHit] = {
    import spark.implicits._

    def update(userId: Long, batch: Iterator[EvF],
               state: GroupState[FunnelState]): Iterator[StageHit] = {
      val incoming = batch.flatMap { e =>
        val si = FunnelStages.indexOf(e.event_type)
        if (si < 0) None else Some((micros(e.ts), si))
      }.toSeq
      val st = state.getOption.getOrElse(
        FunnelState(Seq.fill(FunnelStages.size)(None), Nil))
      // fold the final events in the batch key's (ts, stage) order
      val (ripe, open) = (st.pending ++ incoming)
        .sortBy(identity).partition(e => isFinal(state, msOf(e._1)))
      val t = st.t.toArray
      val hits = scala.collection.mutable.ArrayBuffer.empty[StageHit]
      ripe.foreach { case (tsUs, si) =>
        if (t(si).isEmpty && (si == 0 || t(si - 1).exists(tsUs >= _))) {
          t(si) = Some(tsUs)
          hits += StageHit(userId, si + 1, FunnelStages(si), tsUs)
        }
      }
      if (t.forall(_.isEmpty) && open.isEmpty) {
        // vacuous state (no progress, nothing pending) — hold nothing
        if (state.exists) state.remove()
      } else {
        // a COMPLETED funnel keeps its 4-long tombstone (pending dropped —
        // nothing can advance): removing it would let a later event
        // restart the chain and double-count the user vs the batch key's
        // first-chain-only fold. Tombstones are bounded by user
        // cardinality, the same state class as `anomalies`' per-type rows.
        val keepOpen = if (t.last.isDefined) Nil else open
        state.update(FunnelState(t.toSeq, keepOpen))
        // wake for the earliest pending event even if no further events of
        // this user arrive
        keepOpen.headOption.foreach(e => wakeWhenFinal(state, msOf(e._1)))
      }
      hits.iterator
    }

    watermarked(events, watermark)(_.user_id)(update)
  }

  /** Batch twin of [[stateIntervals]] (identical intervals): lag-flag +
    * running run counter + group, over (user_id, event_type, ts_us,
    * event_id) columns. Oracle-checkable; backs the `state_intervals` key.
    */
  def stateIntervalsBatch(events: DataFrame): DataFrame = {
    graft.ops.Islands.withRunId(events, "user_id",
        Seq("ts_us", "event_id"), "event_type", out = "run_id")
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("ts_us").as("from_us"), max("ts_us").as("to_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "event_type", "from_us", "to_us", "n_events")
  }

  /** Batch twin of [[sessionize]] (identical session boundaries), expressed
    * relationally — lag + running session counter + group. `tsUs` must be a
    * BIGINT epoch-microseconds column. Oracle-checkable.
    */
  def sessionizeBatch(events: DataFrame, gapSec: Long): DataFrame = {
    val gapUs = gapSec * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_sess",
        when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(wRun))
      .groupBy("user_id", "sess_id")
      .agg(min("ts_us").as("session_start_us"), max("ts_us").as("session_end_us"),
        count(lit(1)).as("n_events"))
      .drop("sess_id")
  }
}
