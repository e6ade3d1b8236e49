package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Op

/** Stateful streaming sessionization: the `flatMapGroupsWithState` twin of
  * the batch `sessionize` operator (gap-based, 30 min default). Each user's
  * open session lives in group state; an event arriving after the gap
  * closes the previous session and emits it downstream.
  *
  * This is the engine's template for custom streaming state beyond windowed
  * aggregation (cassabon's accumulate loop generalized to arbitrary
  * per-key state machines).
  *
  * Scale posture: state is ONE OpenSession struct per active user —
  * independent of stream length. A production deployment adds
  * `EventTimeTimeout` so idle users' sessions close and evict on watermark
  * advance (the same bounded-state contract as stream_dedup_watermark);
  * the registry entry replays a finite fixture, where the still-open
  * sessions simply never emit.
  */
object SessionStream {

  case class SessEvent(user_id: Long, ts_sec: Long, event_id: Long)
  case class OpenSession(seq: Long, start: Long, end: Long, n: Long)
  case class ClosedSession(user_id: Long, session_seq: Long,
      session_start: Long, session_end: Long, n_events: Long)

  def sessionize(events: Dataset[SessEvent], gapSec: Long): Dataset[ClosedSession] = {
    implicit val se = Encoders.product[SessEvent]
    implicit val so = Encoders.product[OpenSession]
    implicit val sc = Encoders.product[ClosedSession]
    implicit val kl = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[SessEvent], state: GroupState[OpenSession]) => {
          val ordered = batch.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          var open = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
          ordered.foreach { e =>
            open match {
              case Some(s) if e.ts_sec - s.end > gapSec =>
                closed += ClosedSession(userId, s.seq, s.start, s.end, s.n)
                open = Some(OpenSession(s.seq + 1, e.ts_sec, e.ts_sec, 1))
              case Some(s) =>
                open = Some(s.copy(end = math.max(s.end, e.ts_sec), n = s.n + 1))
              case None =>
                open = Some(OpenSession(1, e.ts_sec, e.ts_sec, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
        })
  }

  /** Driver-oracled replay: the events fixture streamed through the real
    * `flatMapGroupsWithState` engine in ONE micro-batch (one parquet file,
    * no maxFilesPerTrigger), memory sink, append mode. Within the batch
    * each user's full event set reaches one state-function call, which
    * sorts by (ts, event_id) — so the emitted rows are a pure function of
    * the data: EVERY batch session except each user's last one, which is
    * still open in state when the fixture ends (cassabon's
    * still-accumulating buckets at shutdown, exactly like the
    * stream_rollup_append tail windows). That set difference IS the
    * oracle's WHERE clause.
    */
  def sessionizeQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val se = Encoders.product[SessEvent]
    val events = CarbonStream.eventsStream(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000000000").as("ts_sec"), col("event_id"))
      .as[SessEvent]
    CarbonStream.replay(
      sessionize(events, graft.operators.Analytics.SessionGapSec).toDF(), "append")
  }

  /** Oracle: the batch sessionization minus each user's final (open)
    * session — the streaming engine can only CLOSE a session when a
    * later event exceeds the gap, so the last session per user never
    * emits on a finite stream.
    */
  private val sessionizeStreamSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_sec, event_id
       |  FROM events
       |),
       |flagged AS (
       |  SELECT user_id, ts_sec, event_id,
       |         CASE WHEN lag(ts_sec) OVER w IS NULL
       |                   OR ts_sec - lag(ts_sec) OVER w > ${graft.operators.Analytics.SessionGapSec}
       |              THEN 1 ELSE 0 END AS new_sess
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
       |),
       |sessions AS (
       |  SELECT user_id, ts_sec,
       |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged
       |),
       |agg AS (
       |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |         min(ts_sec) AS session_start, max(ts_sec) AS session_end,
       |         CAST(count(*) AS BIGINT) AS n_events
       |  FROM sessions GROUP BY 1, 2
       |)
       |SELECT user_id, session_seq, session_start, session_end, n_events
       |FROM (SELECT a.*, max(session_seq) OVER (PARTITION BY user_id) AS mx FROM agg a)
       |WHERE session_seq < mx""".stripMargin

  // ----------------------------------------------------------- stream_cohort

  /** The LIVE form of `cohort_retention` — and the proof that the cohort
    * matrix is streaming-shaped all the way down: BOTH corpus-derived
    * inputs (first-seen week per user, de-duplicated (user, week)
    * activity) are order-immune aggregates, so one complete-mode
    * `groupBy(user_id, week)` maintains the activity matrix under any
    * micro-batch split, late arrivals included. State = one row per
    * (user, active-week) — the matrix's own size, the reference bound of
    * the read it serves. Everything downstream of the matrix — first-seen
    * derivation, cohort sizes, offset shares — is the SAME
    * [[graft.operators.Analytics.cohortFrom]] the batch op calls on the
    * drained frame. Oracle = `cohort_retention`'s SQL verbatim.
    */
  def cohortQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = CarbonStream.eventsStream(spark, dir)
      .select(col("user_id"),
        expr(s"ts DIV 1000000000 DIV ${graft.operators.Analytics.CohortWeekSec}")
          .as("week"))
    // the readoff SELF-joins the matrix (first-seen ⋈ activity); a memory
    // sink's View keeps one attribute set, which Catalyst cannot dedup in
    // a self-join — rebase the matrix-sized frame onto fresh attributes
    val drained = CarbonStream.replay(
      ev.groupBy("user_id", "week").agg(count(lit(1)).as("n")), "complete")
      .select("user_id", "week")
    graft.operators.Analytics.cohortFrom(
      spark.createDataFrame(drained.rdd, drained.schema))
  }

  // ------------------------------------------------------- stream_engagement

  /** The LIVE form of `engagement` — the DAU/WAU dashboard served from
    * stream state: the (user, epoch-day) activity matrix is ONE
    * order-immune distinct (the `stream_cohort` argument), so a
    * complete-mode `groupBy(user_id, day)` maintains it under any
    * micro-batch split, late arrivals included; state = one row per
    * (user, active-day), the matrix's own size. The DAU/WAU/stickiness
    * readoff is the SAME [[graft.operators.Analytics.engagementFrom]] the
    * batch op calls on the drained frame. Oracle = `engagement`'s SQL
    * verbatim.
    */
  def engagementQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = CarbonStream.eventsStream(spark, dir)
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
    // the readoff SELF-joins the matrix (dau ⋈ wau both derive from it);
    // rebase the memory-sink View onto fresh attributes (stream_cohort's
    // conflicting-references gotcha)
    val drained = CarbonStream.replay(
      ev.groupBy("user_id", "day").agg(count(lit(1)).as("n")), "complete")
      .select("user_id", "day")
    graft.operators.Analytics.engagementFrom(
      spark.createDataFrame(drained.rdd, drained.schema))
  }

  // ------------------------------------------------------ stream_transitions

  case class TransEvent(user_id: Long, event_type: String, k: Long)
  case class TransState(lastType: String, lastK: Long)
  case class TransPair(prev_type: String, next_type: String)

  /** The per-user transition emitter: state = ONE (last event type,
    * high-water key) pair per user — two fields, independent of stream
    * length. Each arriving event emits the (previous → current) pair its
    * arrival completes; consecutive-ness is order-DEFINED, so in-order
    * ingest per user is the enforced contract (the `stream_funnel`
    * guard: a key regression fails the query loudly).
    */
  def transitionsMachine(events: Dataset[TransEvent]): Dataset[TransPair] = {
    implicit val ts = Encoders.product[TransState]
    implicit val tp = Encoders.product[TransPair]
    implicit val kl = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[TransEvent], state: GroupState[TransState]) => {
          var s = state.getOption.getOrElse(TransState(null, Long.MinValue))
          val evs = batch.toSeq.sortBy(_.k)
          // <= (not <): an event whose key EQUALS the high-water mark is a
          // duplicate redelivery — accepting it would emit an extra pair
          // and diverge from batch lag semantics (packMachine's guard)
          evs.headOption.foreach { e =>
            if (e.k <= s.lastK) throw new IllegalStateException(
              s"stream_transitions: out-of-order ingest for user $userId " +
                s"(k ${e.k} <= high-water ${s.lastK}) — consecutive-ness is " +
                "order-defined; reorder upstream")
          }
          val out = evs.flatMap { e =>
            val pair = Option(s.lastType).map(TransPair(_, e.event_type))
            s = TransState(e.event_type, e.k)
            pair
          }
          state.update(s)
          out.iterator
        })
  }

  /** The LIVE form of `event_transitions` — the user-flow matrix fed by
    * the stream: each event completes one transition as it arrives, the
    * pair stream accumulates in append mode, and the matrix/probability
    * readoff is the SAME [[graft.operators.Analytics.transitionProbFrom]]
    * the batch op runs. Events replay as three time-tertile slices
    * ([[CarbonStream.replaySlices]]) so transitions genuinely cross
    * micro-batch boundaries; under in-order ingest the emitted pairs
    * equal the batch lag-window's row-for-row. Oracle =
    * `event_transitions`' SQL verbatim.
    */
  def transitionsQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val te = Encoders.product[TransEvent]
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
      .persist()
    try CarbonStream.replaySlices(CarbonStream.thirds(ev, col("k"))) { s =>
      graft.operators.Analytics.transitionProbFrom(CarbonStream.replay(
        transitionsMachine(s.as[TransEvent]).toDF(), "append"))
    } finally ev.unpersist(blocking = true)
  }

  // ---------------------------------------------- stream_transitions_buffered

  case class BufEvent(user_id: Long, event_type: String, k: Long,
    et: java.sql.Timestamp)
  case class BufState(buf: Seq[(String, Long)], lastType: String, lastK: Long)

  /** The out-of-order-ABSORBING form of [[transitionsMachine]]: where the
    * write-once machine enforces in-order ingest as a loud contract, this
    * one buffers each user's events in state and only emits a transition
    * pair once the WATERMARK has passed both events — the guarantee that
    * no earlier event can still arrive, so the finalized order equals the
    * batch total order however the events were interleaved across
    * micro-batches (within the declared lateness bound). State per user =
    * the not-yet-final tail (bounded by events inside the watermark
    * delay, NOT the stream) + the last finalized (type, key) bridge.
    * Groups re-fire on watermark advance via EventTimeTimeout, so a user
    * with no new events still flushes as the watermark passes their
    * buffer. Duplicate/regressed keys in the FINALIZED order still fail
    * loudly — disorder is absorbed, corruption is not.
    */
  def transitionsBufferedMachine(events: Dataset[BufEvent]): Dataset[TransPair] = {
    implicit val bs = Encoders.product[BufState]
    implicit val tp = Encoders.product[TransPair]
    implicit val kl = Encoders.scalaLong
    val shift = graft.model.RollupConfig.LastKeyShift
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[BufEvent], state: GroupState[BufState]) => {
          val s0 = state.getOption.getOrElse(BufState(Nil, null, Long.MinValue))
          val wmMs = state.getCurrentWatermarkMs()
          val all = (s0.buf ++ batch.map(e => (e.event_type, e.k))).sortBy(_._2)
          // an event is FINAL once its second is strictly below the
          // watermark: nothing earlier can arrive anymore
          val (safe, rest) = all.partition { case (_, k) =>
            (k / shift) * 1000L < wmMs
          }
          var (lt, lk) = (s0.lastType, s0.lastK)
          val out = safe.flatMap { case (tpe, k) =>
            if (k <= lk) throw new IllegalStateException(
              s"stream_transitions_buffered: duplicate/regressed key for " +
                s"user $userId (k $k <= finalized high-water $lk) — disorder " +
                "is absorbed, duplicates are not; dedupe upstream")
            val pair = Option(lt).map(TransPair(_, tpe))
            lt = tpe; lk = k
            pair
          }
          state.update(BufState(rest, lt, lk))
          // re-fire this group when the watermark moves, even with no new
          // events, so buffered tails flush as the stream advances
          state.setTimeoutTimestamp(math.max(wmMs + 1000L, 1000L))
          out.iterator
        })
  }

  /** Replay the deliberately-DISORDERED stream both buffered live twins
    * ingest ([[CarbonStream.replaySlices]]): six time slices pairwise
    * swapped (s2 s1 s4 s3 s6 s5) — every other micro-batch delivers
    * events BELOW the previous batch's high-water mark — plus a
    * far-future sentinel row (reserved user -1, a type no analysis
    * matches) that advances the closing watermark past every real event
    * so all buffers flush. `run` gets the stream already watermarked on
    * `et` with a delay of 2 slice spans, which covers the constructed
    * disorder.
    */
  private def replaySwapped[A](spark: SparkSession, dir: String)(
      run: DataFrame => A): A = {
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
      .withColumn("et", expr(s"timestamp_seconds(k DIV $shift)"))
      .persist()
    try {
      val r = ev.agg(min("k"), max("k")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val slices = CarbonStream.cutAt(ev, col("k"), (1 to 5).map(i => lo + (hi - lo) * i / 6))
      val spanSec = ((hi / shift) - (lo / shift)) / 6 + 1
      // sentinel: one far-future row for a reserved user advances the
      // closing watermark past every real event, flushing all buffers
      val sentinelSec = hi / shift + 10 * spanSec
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(sentinelSec * shift).as("k"),
        expr(s"timestamp_seconds($sentinelSec)").as("et"))
      // pairwise-swapped ingest order: s2 s1 s4 s3 s6 s5
      CarbonStream.replaySlices(Seq(1, 0, 3, 2, 5, 4).map(slices) :+ sentinel) { s =>
        run(s.withWatermark("et", s"${2 * spanSec + 1} seconds"))
      }
    } finally ev.unpersist(blocking = true)
  }

  /** The LIVE out-of-order form of `event_transitions`: the SAME matrix
    * readoff, but the replay is deliberately DISORDERED — six time-slice
    * files ingested pairwise swapped (s2 s1 s4 s3 s6 s5), so every other
    * micro-batch delivers events BELOW the previous batch's high-water
    * mark (the write-once machine fails loudly on exactly this input;
    * Round13Spec drives both). The watermark delay (2 slice spans) covers
    * the constructed disorder, a far-future sentinel row advances the
    * final watermark so every buffer flushes, and the finalized pair
    * stream equals the batch lag-window's row-for-row. Oracle =
    * `event_transitions`' SQL verbatim.
    */
  def transitionsBufferedQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val be = Encoders.product[BufEvent]
    replaySwapped(spark, dir) { s =>
      graft.operators.Analytics.transitionProbFrom(CarbonStream.replay(
        transitionsBufferedMachine(s.as[BufEvent]).toDF(), "append"))
    }
  }

  // ----------------------------------------------------------- stream_funnel

  case class FunnelEvent(user_id: Long, event_type: String, k: Long)
  case class FunnelState(k1: Option[Long], k2: Option[Long], k3: Option[Long],
    lastK: Long)

  /** The per-user funnel state machine: one write-once (k1, k2, k3)
    * triple per user. Each batch's events are processed in event order;
    * a stage key is set by the FIRST qualifying event strictly after the
    * previous stage's key and never changes — under in-order ingest this
    * equals the batch op's min-based definition exactly. The machine
    * emits its (monotone, write-once) state after every batch that
    * touched the user; the readoff takes the per-user max of each column
    * (identical to "last", since set-once values never change).
    *
    * In-order ingest is a CONTRACT, not an assumption: unlike the
    * order-immune live twins, a write-once machine fed a late event would
    * silently diverge from the batch min-based definition — so the state
    * carries the per-user high-water key and a regression FAILS the query
    * loudly (Round12Spec drives it). A deployment that must absorb late
    * events buffers/reorders upstream of the machine.
    */
  def funnelMachine(events: Dataset[FunnelEvent]): DataFrame = {
    implicit val fe = Encoders.product[FunnelEvent]
    implicit val fs = Encoders.product[FunnelState]
    implicit val oe = Encoders.product[(Long, Option[Long], Option[Long], Option[Long])]
    implicit val kl = Encoders.scalaLong
    val steps = graft.operators.Analytics.FunnelSteps
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          var s = state.getOption.getOrElse(FunnelState(None, None, None, Long.MinValue))
          val evs = batch.toSeq.sortBy(_.k)
          evs.headOption.foreach { e =>
            if (e.k < s.lastK) throw new IllegalStateException(
              s"stream_funnel: out-of-order ingest for user $userId " +
                s"(k ${e.k} < high-water ${s.lastK}) — the write-once machine " +
                "requires in-order delivery; reorder upstream")
          }
          evs.foreach { e =>
            if (s.k1.isEmpty && e.event_type == steps.head)
              s = s.copy(k1 = Some(e.k))
            else if (s.k1.nonEmpty && s.k2.isEmpty &&
              e.event_type == steps(1) && e.k > s.k1.get)
              s = s.copy(k2 = Some(e.k))
            else if (s.k2.nonEmpty && s.k3.isEmpty &&
              e.event_type == steps(2) && e.k > s.k2.get)
              s = s.copy(k3 = Some(e.k))
          }
          evs.lastOption.foreach(e => s = s.copy(lastK = e.k))
          state.update(s)
          Iterator.single((userId, s.k1, s.k2, s.k3))
        })
      .toDF("user_id", "k1", "k2", "k3")
  }

  /** The LIVE form of `funnel_steps` — the conversion funnel maintained as
    * a per-user state machine over the event stream, the daemon's runtime
    * shape (the reference never sees "all events at once"): state = ONE
    * write-once key triple per user, independent of stream length (the
    * `stream_sessionize` contract). The events fixture is replayed as
    * three time-tertile slices ([[CarbonStream.replaySlices]]) so stage
    * transitions genuinely cross micro-batch boundaries (a user's view
    * can land in batch 0 and the click that converts them in batch 2).
    * Readoff = per-user max of the write-once columns, then the SAME
    * [[graft.operators.Analytics.funnelAggFrom]] closing aggregate the
    * batch op runs; oracle = `funnel_steps`' SQL verbatim (in-order
    * ingest == the batch min-based definition).
    */
  def funnelQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val fe = Encoders.product[FunnelEvent]
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
      .persist()
    try CarbonStream.replaySlices(CarbonStream.thirds(ev, col("k"))) { s =>
      funnelReadoff(CarbonStream.replay(funnelMachine(s.as[FunnelEvent]), "append"))
    } finally ev.unpersist(blocking = true)
  }

  /** A funnel machine's drained `(user_id, k1, k2, k3)` rows → the per-user
    * max of each write-once column → the batch op's closing aggregate.
    */
  private def funnelReadoff(drained: DataFrame): DataFrame = {
    val fin = drained.groupBy("user_id")
      .agg(max("k1").as("k1"), max("k2").as("k2"), max("k3").as("k3"))
    graft.operators.Analytics.funnelAggFrom(
      fin.filter(col("k1").isNotNull).select("user_id", "k1"),
      fin.filter(col("k2").isNotNull).select("user_id", "k1", "k2"),
      fin.filter(col("k3").isNotNull).select("user_id", "k2", "k3"))
  }

  // ---------------------------------------------- stream_funnel_buffered

  case class FunnelBufState(buf: Seq[(String, Long)],
    k1: Option[Long], k2: Option[Long], k3: Option[Long], lastK: Long)

  /** The out-of-order-ABSORBING form of [[funnelMachine]] — the
    * [[transitionsBufferedMachine]] watermark-buffer pattern applied to
    * the write-once funnel triple: a user's events wait in state until
    * the WATERMARK has passed them (no earlier event can still arrive),
    * then feed the stage machine in finalized order, so the triple equals
    * the batch min-based definition however the events were interleaved
    * across micro-batches (within the declared lateness bound). State per
    * user = the not-yet-final tail (bounded by the watermark delay, not
    * the stream) + the write-once triple + the finalized high-water key.
    * Groups re-fire on watermark advance via EventTimeTimeout; duplicate
    * keys in the FINALIZED order still fail loudly.
    */
  def funnelBufferedMachine(events: Dataset[BufEvent]): DataFrame = {
    implicit val fs = Encoders.product[FunnelBufState]
    implicit val oe = Encoders.product[(Long, Option[Long], Option[Long], Option[Long])]
    implicit val kl = Encoders.scalaLong
    val steps = graft.operators.Analytics.FunnelSteps
    val shift = graft.model.RollupConfig.LastKeyShift
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[BufEvent], state: GroupState[FunnelBufState]) => {
          val s0 = state.getOption
            .getOrElse(FunnelBufState(Nil, None, None, None, Long.MinValue))
          val wmMs = state.getCurrentWatermarkMs()
          val all = (s0.buf ++ batch.map(e => (e.event_type, e.k))).sortBy(_._2)
          val (safe, rest) = all.partition { case (_, k) =>
            (k / shift) * 1000L < wmMs
          }
          var s = s0
          safe.foreach { case (tpe, k) =>
            if (k <= s.lastK) throw new IllegalStateException(
              s"stream_funnel_buffered: duplicate/regressed key for user " +
                s"$userId (k $k <= finalized high-water ${s.lastK}) — disorder " +
                "is absorbed, duplicates are not; dedupe upstream")
            if (s.k1.isEmpty && tpe == steps.head) s = s.copy(k1 = Some(k))
            else if (s.k1.nonEmpty && s.k2.isEmpty && tpe == steps(1) && k > s.k1.get)
              s = s.copy(k2 = Some(k))
            else if (s.k2.nonEmpty && s.k3.isEmpty && tpe == steps(2) && k > s.k2.get)
              s = s.copy(k3 = Some(k))
            s = s.copy(lastK = k)
          }
          s = s.copy(buf = rest)
          state.update(s)
          state.setTimeoutTimestamp(math.max(wmMs + 1000L, 1000L))
          // emit ONLY when the write-once triple advanced this invocation
          // (change detection is trivial because stages never un-set): an
          // unconditional per-batch emission grows the memory sink
          // O(users × batches) for no information — the max-per-user
          // readoff already tolerates repeated rows, and a user whose
          // triple never leaves (None, None, None) contributes nothing
          // downstream (r14 advice)
          if ((s.k1, s.k2, s.k3) != (s0.k1, s0.k2, s0.k3))
            Iterator.single((userId, s.k1, s.k2, s.k3))
          else Iterator.empty
        })
      .toDF("user_id", "k1", "k2", "k3")
  }

  /** The LIVE out-of-order form of `funnel_steps`: the SAME per-user-max
    * readoff and [[graft.operators.Analytics.funnelAggFrom]] closing
    * aggregate as `stream_funnel`, but the replay is the deliberately
    * DISORDERED pairwise-swapped slices (the write-once machine fails
    * loudly on exactly this input — Round14Spec drives both) plus the
    * far-future sentinel that flushes every buffer. The sentinel user's
    * row carries an all-None triple and drops out of the stage frames.
    * Oracle = `funnel_steps`' SQL verbatim.
    */
  def funnelBufferedQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val be = Encoders.product[BufEvent]
    replaySwapped(spark, dir) { s =>
      funnelReadoff(CarbonStream.replay(funnelBufferedMachine(s.as[BufEvent]), "append"))
    }
  }

  // ------------------------------------------------------------- stream_holt

  case class HoltEvt(path: String, ts: Long, event_id: Long, cents: Long)
  case class HoltPt(ts: Long, ev: Long, cents: Long)
  case class HoltWin(pts: List[HoltPt])
  case class HoltOut(path: String, ts: Long, event_id: Long, forecast: Double)

  /** The per-path windowed-smoother state machine: state = the trailing
    * ≤ [[graft.operators.Series.HoltPoints]] points (the window IS what a
    * windowed smoother needs — bounded, independent of stream length),
    * and every arriving point emits its one-step-ahead forecast from the
    * SAME integer-halving fold the batch op runs. Under in-order ingest
    * the emitted rows equal the batch output row-for-row.
    */
  def holtMachine(events: Dataset[HoltEvt]): Dataset[HoltOut] = {
    import graft.operators.Series.{HoltPoints, HoltScale}
    implicit val he = Encoders.product[HoltEvt]
    implicit val hw = Encoders.product[HoltWin]
    implicit val ho = Encoders.product[HoltOut]
    implicit val ks = Encoders.STRING
    events.groupByKey(_.path)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (path: String, batch: Iterator[HoltEvt], state: GroupState[HoltWin]) => {
          var win = state.getOption.map(_.pts).getOrElse(Nil)
          val sorted = batch.toSeq.sortBy(e => (e.ts, e.event_id))
          // same in-order contract as the funnel machine: the window's
          // last point is the high-water mark, a regression fails loudly
          for (first <- sorted.headOption; last <- win.lastOption)
            if (Ordering[(Long, Long)].lt((first.ts, first.event_id), (last.ts, last.ev)))
              throw new IllegalStateException(
                s"stream_holt: out-of-order ingest for path $path " +
                  s"((${first.ts},${first.event_id}) < high-water (${last.ts},${last.ev})) — " +
                  "the windowed smoother requires in-order delivery; reorder upstream")
          val out = sorted.map { e =>
            win = (win :+ HoltPt(e.ts, e.event_id, e.cents)).takeRight(HoltPoints)
            var s = win.head.cents * HoltScale
            var b = 0L
            win.tail.foreach { p =>
              val s2 = (p.cents * HoltScale + s + b) >> 1
              b = ((s2 - s) >> 1) + (b >> 1)
              s = s2
            }
            HoltOut(path, e.ts, e.event_id,
              BigDecimal((s + b) / (HoltScale * 100.0))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          state.update(HoltWin(win))
          out.iterator
        })
  }

  /** The LIVE form of `series_holt_forecast` — continuous aberration
    * monitoring, the shape a carbon daemon's alerting actually runs
    * (every arriving point immediately yields its forecast; the deviation
    * test consumes the stream of (actual, forecast) pairs). The metric
    * fixture replays as three time-tertile slices
    * ([[CarbonStream.replaySlices]]) so the trailing window genuinely
    * carries across micro-batch boundaries.
    * Oracle = `series_holt_forecast`'s SQL verbatim: in-order ingest
    * emits the batch output row-for-row.
    */
  def holtQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val he = Encoders.product[HoltEvt]
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = CarbonStream.toMetrics(
        graft.model.Tables.events(spark, dir), keepId = true)
      .select(col("path"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .persist()
    try CarbonStream.replaySlices(
        CarbonStream.thirds(ev, expr(s"ts * $shift + event_id"))) { s =>
      CarbonStream.replay(holtMachine(s.as[HoltEvt]).toDF(), "append")
    } finally ev.unpersist(blocking = true)
  }

  // ------------------------------------------------------ stream_attribution

  /** The LIVE form of `event_attribution` — and the reason first-touch is
    * the attribution rule streaming systems prefer: the per-user state
    * `(channel, n_conv, conv_cents)` is ONE aggregate whose parts are all
    * order-immune (arg-min on the unique packed key, conditional
    * count/sum), so a complete-mode `groupBy(user_id)` maintains it under
    * any micro-batch split — late events included, no state machine
    * needed (contrast `stream_funnel`, whose strict-order stages do need
    * one). State = one row per user, the reference bound of the read.
    * Readoff = the SAME [[graft.operators.Analytics.attributionFrom]]
    * channel collapse; oracle = `event_attribution`'s SQL verbatim.
    */
  def attributionQuery(spark: SparkSession, dir: String): DataFrame = {
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = CarbonStream.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
    graft.operators.Analytics.attributionFrom(CarbonStream.replay(
      graft.operators.Analytics.attributionPerUser(ev), "complete"))
  }

  // -------------------------------------------------------------- stream_rfm

  /** The LIVE form of `user_rfm` — continuous user-value scoring: the
    * per-user RFM state (latest packed key, event count, purchase cents)
    * is ONE aggregate of order-immune parts, so a complete-mode
    * `groupBy(user_id)` maintains it under any micro-batch split (the
    * `stream_attribution` contract); the quartile RANKS are a global
    * property, so they happen at read time on the drained |users|-row
    * frame via the SAME [[graft.operators.Analytics.rfmFrom]] scoring —
    * exactly how a live RFM dashboard splits the work. State = one row
    * per user. Oracle = `user_rfm`'s SQL verbatim.
    */
  def rfmQuery(spark: SparkSession, dir: String): DataFrame = {
    val shift = graft.model.RollupConfig.LastKeyShift
    val ev = CarbonStream.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr(s"(ts DIV 1000000000) * $shift + event_id").as("k"))
    graft.operators.Analytics.rfmFrom(CarbonStream.replay(
      graft.operators.Analytics.rfmPerUser(ev), "complete"))
  }

  def ops: Seq[Op] = Seq(
    Op("stream_sessionize", sessionizeQuery, Some(sessionizeStreamSql)),
    Op("stream_cohort", cohortQuery, Some(graft.operators.Analytics.cohortSql)),
    Op("stream_funnel", funnelQuery, Some(graft.operators.Analytics.funnelSql)),
    Op("stream_holt", holtQuery, Some(graft.operators.Series.holtForecastSql)),
    Op("stream_attribution", attributionQuery,
      Some(graft.operators.Analytics.attributionSql)),
    Op("stream_rfm", rfmQuery, Some(graft.operators.Analytics.rfmSql)),
    Op("stream_engagement", engagementQuery,
      Some(graft.operators.Analytics.engagementOracle)),
    Op("stream_transitions", transitionsQuery,
      Some(graft.operators.Analytics.transitionsSql)),
    Op("stream_transitions_buffered", transitionsBufferedQuery,
      Some(graft.operators.Analytics.transitionsSql)),
    Op("stream_funnel_buffered", funnelBufferedQuery,
      Some(graft.operators.Analytics.funnelSql))
  )
}
