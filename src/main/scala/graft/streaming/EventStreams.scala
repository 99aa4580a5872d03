package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{EventsOps, PipelineOps, Relational, TextOps}

/** Structured Streaming pipelines over the events table — the unbounded
  * twins of the batch queries in [[graft.operators.EventsOps]] (same
  * semantics, verified against them in EventStreamsSpec).
  *
  * A twin whose batch query is the same DataFrame query over a bounded
  * input calls that query's own body, defined once in the operator
  * object that owns it: t25, t26, t31 ([[TextOps]]), p16, p26
  * ([[PipelineOps]]), q72's partials ([[Relational]]), q47 and q55
  * ([[EventsOps]]). The twin adds only its `ts` column and watermark
  * (or, for q72, the revenue projection of the merged partials), so
  * the two can only differ where Spark's streaming engine does. The
  * corpus rules the other twins apply (word stats, Gopher rules) come
  * from [[graft.operators.OpUtils]].
  *
  * The reference's record-batch streams are bounded (schema-first, EOS);
  * its chunked HTTP servers demonstrate incremental batch-at-a-time
  * delivery (SURVEY §1.1) — these pipelines are that capability extended
  * to unbounded event streams with watermarks and stateful sessionization.
  *
  * Scale notes: watermark bounds state; sessionization state is one
  * small struct per active user key; both shuffle only (key, partial
  * agg) pairs.
  */
object EventStreams {

  final case class Event(event_id: Long, us: Long, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, n_events: Int, start_us: Long, dur_us: Long)

  // Fixed contracts: session gap, how long a content hash is remembered,
  // how far back a purchase looks for its view, HLL++ relative error.
  private val SessionGapUs = 30L * 60 * 1000000
  private val DedupHorizonMin = 10L
  private val AttributionHorizon = "2 hours"
  private val UniquesRsd = 0.05

  /** 5-minute tumbling-window counts by event type, 10-min watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Incremental per-event session fold shared by the streaming and
    * batch paths: O(1) state (the open-session struct), emits a session
    * row the moment an event's gap closes it. Requires events in
    * (us, event_id) order. */
  private def foldSessions(userId: Long, it: Iterator[Event], init: SessionState,
      emit: SessionOut => Unit): SessionState = {
    var st = init
    it.foreach { e =>
      st match {
        case null => st = SessionState(e.us, e.us, 1)
        case s if e.us - s.last > SessionGapUs =>
          emit(SessionOut(userId, s.n, s.start, s.last - s.start))
          st = SessionState(e.us, e.us, 1)
        case s => st = s.copy(last = e.us, n = s.n + 1)
      }
    }
    st
  }

  /** 30-minute-gap sessionization via flatMapGroupsWithState: emits a
    * session row when the gap closes it (processing-time independent —
    * driven purely by event order within the group).
    *
    * The fold is INCREMENTAL: state is one open-session struct per user
    * and each event updates it in O(1) — the group iterator is never
    * buffered or sorted, so a hot key at 100× widens nothing but the
    * rows flowing past. The contract this buys is in-order arrival per
    * key within a micro-batch (the same per-key-ordered-delivery premise
    * the watermark contract already rests on for replayable sources);
    * an out-of-order event inside a batch would split a session, exactly
    * as it would if it arrived a micro-batch late. EventStreamsSpec
    * proves batch-equality under ordered replay. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          val st = foldSessions(userId, it, state.getOption.orNull, out += _)
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Closes all residual sessions (batch-end flush helper for tests /
    * bounded replays). Ordering comes from flatMapSortedGroups — the
    * sort rides Spark's spill-backed shuffle sort, so no whole-group
    * heap buffer here either; the fold itself is the same O(1)-state
    * incremental pass as the streaming path. */
  def residualSessions(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapSortedGroups(col("us"), col("event_id")) { (userId, it) =>
        val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
        val st = foldSessions(userId, it, null, out += _)
        if (st != null) out += SessionOut(userId, st.n, st.start, st.last - st.start)
        out.iterator
      }
  }

  /** Streaming exact dedup — the unbounded twin of d01: drop
    * re-observations of the same content hash within the watermark
    * horizon via dropDuplicatesWithinWatermark. State is one (hash,
    * timestamp) entry per distinct doc inside the watermark; the
    * watermark both bounds state AND defines the dedup contract
    * (duplicates farther apart than the horizon are re-emitted — the
    * only well-defined semantics for infinite streams). */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(trim(col("text"))))
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", s"$DedupHorizonMin minutes")
      .dropDuplicatesWithinWatermark("h")

  /** Streaming ingest dedup against a STATIC corpus snapshot — the
    * unbounded twin of d15's exact tier: every incoming document probes
    * the persisted corpus hash store (16-byte binary md5) and only
    * never-before-seen content flows downstream. A stream-static LEFT
    * ANTI join re-plans per micro-batch with ZERO stream-side join
    * state (contrast dedupStream, which bounds WITHIN-stream dups by
    * watermark — the two compose: anti-join for "vs the corpus",
    * watermark dedup for "vs the stream itself"). The sustainable
    * ingest shape at 100 TB: the corpus store is bucketed on disk and
    * never recomputed; each micro-batch pays exactly one probe.
    *
    * No broadcast hint, same reason as [[enrichedCounts]]: the hash
    * store grows with the corpus, and the per-micro-batch re-plan picks
    * broadcast only while the snapshot actually fits. */
  def ingestDedupStream(docs: DataFrame, corpusHashes: DataFrame): DataFrame =
    docs
      .withColumn("h", unhex(md5(trim(col("text")))))
      .join(corpusHashes.select(col("h")), Seq("h"), "left_anti")
      .select(col("doc_id"), col("us"), col("text"))

  /** Streaming banded NEAR-dup probe against a STATIC corpus sketch
    * store — the unbounded twin of d09's blocking applied at ingest
    * (ingestDedupStream's move, one similarity tier up): every arriving
    * document computes its 120-bit 3-GRAM simhash map-side (native
    * gram_hashes120 width 3 → simhash120 — d09's r14 content-level
    * collision fix rides along, so the stream probes the same sketch
    * space the batch store holds), explodes d09's 4×30-bit band keys,
    * and probes the persisted corpus band frame; summed bit_count ≤ 3
    * verifies in the join projection. ZERO stream-side state: the
    * stream-static inner join re-plans per micro-batch, and the
    * multi-band double-emit (a pair agreeing on two bands matches
    * twice) is eliminated by PURE ARITHMETIC instead of a stateful
    * distinct — both sketches ride the joined row, so each row can
    * compute the pair's FIRST agreeing band and survive only if it IS
    * that band. Output: (doc_id, us, corpus_id, hamming), one row per
    * (arriving doc, corpus near-dup). 100 TB shape: the corpus side is
    * the d09 sketch store bucketed on (band, key) on disk; each
    * micro-batch pays one probe; no broadcast hint (the store grows
    * with the corpus — per-micro-batch re-plan decides, the
    * ingestDedupStream rule). */
  def ingestNearDupStream(docs: DataFrame, corpusSketch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.operators.OpUtils.words
    def bandKey(hi: String, lo: String, b: String): String =
      s"(CASE WHEN $b < 2 THEN shiftright($hi, $b * 30) " +
        s"ELSE shiftright($lo, ($b - 2) * 30) END) & 1073741823"
    val cBands = corpusSketch
      .select(col("doc_id").as("corpus_id"),
        col("sh_hi").as("c_hi"), col("sh_lo").as("c_lo"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr(bandKey("c_hi", "c_lo", "band")))
    docs
      .withColumn("sk", graft.functions.GraftFunctions.simHash120(
        graft.functions.GraftFunctions.gramHashes120(words(col("text")), 3)))
      .select(col("doc_id"), col("us"),
        element_at(col("sk"), 1).as("s_hi"), element_at(col("sk"), 2).as("s_lo"))
      .withColumn("band", explode(sequence(lit(0), lit(3))))
      .withColumn("key", expr(bandKey("s_hi", "s_lo", "band")))
      .join(cBands, Seq("band", "key"))
      .withColumn("hamming",
        (expr("bit_count(s_hi ^ c_hi)") + expr("bit_count(s_lo ^ c_lo)")).cast("int"))
      .filter(col("hamming") <= 3)
      // first agreeing band, computed per row from the two sketches —
      // the stateless exact-once rule (no distinct, no watermark state)
      .withColumn("first_band", expr((0 to 3).map(b =>
        s"WHEN (${bandKey("s_hi", "s_lo", b.toString)}) = " +
          s"(${bandKey("c_hi", "c_lo", b.toString)}) THEN $b")
        .mkString("CASE ", " ", " ELSE -1 END")))
      .filter(col("band") === col("first_band"))
      .select(col("doc_id"), col("us"), col("corpus_id"), col("hamming"))
  }

  final case class ScoredDoc(doc_id: Long, us: Long, ts: java.sql.Timestamp,
      hh: String, gopher_fail: Boolean, corpus_dup: Boolean)
  final case class DocVerdict(doc_id: Long, us: Long, stage: String)

  /** Streaming curation verdicts — p06's stage-attribution tier moved
    * to the point of INGEST: every arriving document is tagged, not
    * silently dropped, with the first failing stage in p06's fixed
    * precedence — 'gopher' (the t12 hard rules, computed map-side),
    * 'corpus_dup' (stream-static probe of the persisted corpus hash
    * store — d15/ingestDedupStream's exact tier, zero join state),
    * 'stream_dup' (a lower-id arrival inside the horizon already
    * claimed this content hash), else 'kept'. The within-stream stage
    * is a flatMapGroupsWithState first-seen tagger: state is ONE
    * boolean per distinct content hash inside the horizon, evicted by
    * event-time timeout against the watermark — the same bounded-state
    * contract dropDuplicatesWithinWatermark gives dedupStream, but
    * with the verdict stream a curation audit needs instead of a
    * filtered survivor stream. Same per-key in-order-arrival premise
    * as [[sessionize]]; gopher/corpus flags are text-determined, so
    * every member of a hash group carries identical flags and the
    * kept/stream_dup split is the only order-dependent piece. */
  def curationVerdictStream(docs: DataFrame, corpusHashes: DataFrame)
      : Dataset[DocVerdict] = {
    import docs.sparkSession.implicits._
    import graft.operators.OpUtils.{gopherRules, wordStats, words}
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val ws = col("ws")
    val scored = docs
      .withColumn("ws", words(col("text")))
      .transform(wordStats(ws))
      .withColumn("g2", graft.functions.GraftFunctions.gramHashes60(ws, 2))
      .withColumn("gopher_fail", gopherRules(col("g2")).reduce(_ || _))
      .withColumn("h", unhex(md5(trim(col("text")))))
      .join(corpusHashes.select(col("h"), lit(true).as("cd")), Seq("h"), "left")
      .select(col("doc_id"), col("us"),
        timestamp_micros(col("us")).as("ts"),
        hex(col("h")).as("hh"),
        col("gopher_fail"),
        coalesce(col("cd"), lit(false)).as("corpus_dup"))
      .withWatermark("ts", s"$DedupHorizonMin minutes")
      .as[ScoredDoc]
    scored.groupByKey(_.hh)
      .flatMapGroupsWithState[Boolean, DocVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer[DocVerdict]()
            var seen = state.getOption.getOrElse(false)
            var maxUs = Long.MinValue
            it.foreach { d =>
              maxUs = math.max(maxUs, d.us)
              val stage =
                if (d.gopher_fail) "gopher"
                else if (d.corpus_dup) "corpus_dup"
                else if (seen) "stream_dup"
                else { seen = true; "kept" }
              out += DocVerdict(d.doc_id, d.us, stage)
            }
            if (seen) {
              state.update(true)
              state.setTimeoutTimestamp(maxUs / 1000 + DedupHorizonMin * 60000)
            }
            out.iterator
          }
      }
  }

  /** Stream-static interval tag — the unbounded companion of q38's
    * batch interval join: each live event is tagged with the incident
    * window (from a STATIC window table: win_id, lo, hi in epoch-µs,
    * derived once by the q38 batch derivation over history) it falls
    * into, by the same bin-bucketed equi-join trick — the event's own
    * 5-min bin equi-joins the windows' exploded covered bins, then the
    * exact [lo, hi) filter prunes pad slop. Left join: events outside
    * every window flow through with a null win_id (an alerting stream
    * must not drop the quiet traffic). ZERO stream-side join state
    * (per-micro-batch re-plan), no watermark needed — the static side
    * is a snapshot, the stream side is map + join per batch.
    *
    * No broadcast hint, same reason as [[enrichedCounts]]: the window
    * table grows with history; the per-micro-batch re-plan picks
    * broadcast while the snapshot fits. */
  def intervalTagStream(events: DataFrame, windows: DataFrame): DataFrame = {
    val winBins = windows.select(col("win_id"), col("lo"), col("hi"),
      explode(sequence(expr("lo div 300000000"),
        expr("(hi - 1) div 300000000"))).as("bin")).as("w")
    events.withColumn("bin", expr("us div 300000000")).as("e")
      .join(winBins,
        col("e.bin") === col("w.bin") &&
          col("e.us") >= col("w.lo") && col("e.us") < col("w.hi"), "left")
      .select(col("e.event_id"), col("e.us"), col("e.user_id"),
        col("e.event_type"), col("w.win_id"))
  }

  /** Stream-static enrichment: the unbounded side joins a STATIC
    * dimension snapshot — Spark re-plans the join per micro-batch
    * (broadcast for a small dim), so there is NO stream-side join
    * state at all, the scale shape for attaching slowly-changing
    * dimensions to an event stream (vs stream-stream joins, whose
    * state grows with the watermark horizon). Unmatched events keep
    * an UNKNOWN segment; windowed counts follow the enrichment.
    *
    * No broadcast hint: the dim (customer) grows with SF, and the join
    * is re-planned per micro-batch, so size stats / AQE pick broadcast
    * exactly when the snapshot is actually small — a forced hint would
    * OOM the driver at 100× (PlanSpec guards this class of hint). */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .join(dim.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
      .groupBy(window(col("ts"), "5 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("segment"), col("n"))

  /** Streaming as-of join — the unbounded twin of q21/q31: each
    * purchase joins the most recent prior view by the same user WITHIN
    * a bounded horizon. The horizon is the streaming contract (same
    * spirit as dedupStream's): stream-stream join state must be
    * finite, so "most recent prior view ever" becomes "within
    * `horizon`". Both sides watermark; the two time-range conjuncts
    * are what lets Spark evict view state older than the horizon
    * (state ∝ horizon × rate, independent of stream length), and the
    * (v_ts, view_id) < (p_ts, purchase_id) conjunct reproduces the
    * batch twin's lexicographic tie-break exactly. The max-per-purchase
    * reduction is a windowed streaming aggregation chained after the
    * join (append mode finalizes a purchase's row once the watermark
    * passes its 1-minute window) — the multi-stateful-operator shape.
    */
  def asofStream(events: DataFrame): DataFrame =
    purchaseViews(events, "inner")
      .agg(max(struct(col("view_us"), col("view_id"))).as("best"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("best.view_id").as("last_view_id"),
        (col("purchase_us") - col("best.view_us")).as("gap_us"))

  /** Each purchase `joinType`-joined to its user's earlier views inside
    * the horizon, grouped per purchase in 1-minute windows: the body
    * [[asofStream]] and [[attributionStream]] share. */
  private def purchaseViews(events: DataFrame, joinType: String): RelationalGroupedDataset = {
    val base = events.withColumn("ts", timestamp_micros(col("us")))
    val views = base.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"), col("us").as("view_us"))
      .withWatermark("v_ts", AttributionHorizon)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("us").as("purchase_us"))
      .withWatermark("p_ts", AttributionHorizon)
    purchases.join(views,
        col("v_user") === col("user_id") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"interval $AttributionHorizon") &&
          (col("v_ts") < col("p_ts") || col("view_id") < col("purchase_id")),
        joinType)
      .groupBy(window(col("p_ts"), "1 minute"), col("purchase_id"),
        col("user_id"), col("purchase_us"))
  }

  /** Streaming LEFT-OUTER attribution — the semantics asofStream's
    * inner join cannot express: every purchase gets a row, including
    * the never-attributed ones. The outer side of a stream-stream join
    * has a distinct finalization contract: a purchase with no matching
    * view is held in state until the VIEW-side watermark proves no
    * match can still arrive, then emitted with nulls — so "unattributed"
    * is a watermark-certified fact, not a race. Same eviction envelope
    * as asofStream (state ∝ rate × horizon per side); the chained
    * windowed agg then reduces match rows to one verdict per purchase
    * (attributed flag + latest view inside the horizon), append-
    * finalized a window past the watermark. EventStreamsSpec replays
    * the corpus and checks every purchase against the batch q21 twin
    * under the horizon contract. */
  def attributionStream(events: DataFrame): DataFrame =
    purchaseViews(events, "leftOuter")
      .agg(count(col("view_id")).as("n_views"),
        max(struct(col("view_us"), col("view_id"))).as("best"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        (col("n_views") > 0).as("attributed"),
        when(col("n_views") > 0, col("best.view_id")).as("last_view_id"),
        when(col("n_views") > 0, col("purchase_us") - col("best.view_us"))
          .as("gap_us"))

  final case class LatestState(us: Long, eventId: Long, eventType: String,
      value: Double, n: Long)
  final case class LatestOut(user_id: Long, n_versions: Long, event_id: Long,
      us: Long, event_type: String, value: Double)

  /** Streaming latest-record compaction — the unbounded twin of q40's
    * CDC / upsert-snapshot materialization: per user, the running
    * "latest value wins" row plus the superseded-version count,
    * re-emitted (Update mode) whenever a micro-batch touches the key.
    * State is O(1) per key — the current-best struct, exactly the
    * partial-agg state batch max_by keeps — updated by the same
    * (us, event_id) total order, so the stream's final emission per
    * key equals the batch q40 row (EventStreamsSpec pins it).
    *
    * The state contract differs from the watermarked operators: a
    * compaction VIEW must remember every key's latest row forever
    * (evicting a key would resurrect superseded values on its next
    * update), so state grows with DISTINCT KEYS — not with stream
    * length or horizon. That is the same envelope the batch snapshot
    * itself has (one row per key), i.e. the minimum any upsert view
    * can hold; at scale this state lives in the RocksDB store. */
  def latestStream(events: Dataset[Event]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, LatestOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.orNull
          it.foreach { e =>
            st match {
              case null => st = LatestState(e.us, e.event_id, e.event_type, e.value, 1)
              case s if e.us > s.us || (e.us == s.us && e.event_id > s.eventId) =>
                st = LatestState(e.us, e.event_id, e.event_type, e.value, s.n + 1)
              case s => st = s.copy(n = s.n + 1)
            }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(LatestOut(uid, st.n, st.eventId, st.us,
              st.eventType, st.value))
          }
      }
  }

  /** Streaming windowed unique users — the live "unique visitors"
    * dashboard tile: per 5-minute tumbling window, the approximate
    * distinct user count via the HLL++ sketch (exact distinct inside a
    * streaming agg would hold every user id per open window in state;
    * the sketch holds a fixed-size register array — the only
    * state-bounded semantics for high-cardinality distinct on an
    * infinite stream). 10-min watermark finalizes windows. The spec
    * applies the q34 move: replay vs the batch EXACT distinct and
    * assert the documented HLL++ relative-error envelope. */
  def windowedUniques(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(approx_count_distinct(col("user_id"), UniquesRsd).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("approx_users"), col("n_events"))

  /** Streaming NATIVE session windows — the unbounded twin of q47
    * (exactly as sessionize() is the unbounded twin of q19, but through
    * Spark's first-class session_window operator instead of a custom
    * flatMapGroupsWithState fold). State is one merging session range
    * per open (user, session) — the minimum any gap-sessionizer can
    * hold — and the watermark both finalizes sessions (append mode
    * emits a session once no event can extend it) and evicts state.
    * Same boundary contract as q19/q47: an event at exactly prev+gap
    * still merges (SessionContractSpec pins this by construction). */
  def sessionWindowStream(events: DataFrame): DataFrame =
    EventsOps.nativeSessions(events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes"))

  /** Streaming sliding-window velocity flags — q55's fraud/rate-limit
    * staple as it must run in production: ON the live stream, because a
    * burst is only actionable while it is happening. Each event is
    * assigned its 2 covering epoch-aligned 10-minute slides map-side
    * (fan-out = window/slide, a constant — identical arithmetic to the
    * batch twin), then one windowed (window, user) count with map-side
    * partials; the watermark finalizes slides and evicts their state,
    * so open state is bounded by (active users × 2 open slides), never
    * by stream history. TWO specs pin this (r13 ADVICE #4): the
    * complete-mode replay row-equals q55's oracle-checked batch frame
    * (the batch/stream contract every twin in this file pins), and an
    * APPEND-mode replay — the production shape, where complete-mode
    * semantics would ignore the watermark — proves finalized slides
    * emit exactly the batch frame and the state store drains to the
    * open slides only. */
  def slidingVelocityStream(events: DataFrame): DataFrame =
    EventsOps.velocityFlags(events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes"))

  /** Streaming quality-band monitor — t25's cutoff sheet kept live at
    * the point of ingest: per 0.05-wide t02-score band, running doc and
    * token counts. The per-doc score and banding are t25's own body,
    * computed map-side (EventStreamsSpec proves the final complete-
    * mode table equals the batch band frame on the same corpus), and
    * the grouped state is bounded at ≤20 band rows REGARDLESS of stream
    * volume — the rare streaming agg that needs no watermark to stay
    * finite. A live feed of this is the corpus drift alarm: a degrading
    * source slides its mass down-band long before any downstream eval
    * notices. */
  def qualityBandStream(docs: DataFrame): DataFrame = TextOps.qualityBands(docs)

  /** Streaming stratified-split manifest — p26's split accounting kept
    * live at the point of ingest. The split verdict is the same PURE
    * FUNCTION of doc_id (md5(doc_id || '#split') mod 100 → 98/1/1)
    * batch p26 uses, computed map-side per arriving document — so a
    * document's split NEVER depends on arrival order, replays, or
    * micro-batch boundaries, which is the whole point of hash splits.
    * The running (source, lang, split) doc/token counters are the only
    * state: bounded at sources × langs × 3 rows at any stream volume —
    * like qualityBandStream, a streaming agg that needs no watermark to
    * stay finite. The spec proves the complete-mode table equals p26's
    * oracle-checked counts on the same corpus (ppm shares are the
    * batch sheet's derived column; the live tile carries the counts). */
  def stratifiedSplitStream(docs: DataFrame): DataFrame = PipelineOps.splitCounts(docs)

  /** Streaming heavy-hitter sketch — t24's Count-Min tier kept live at
    * the point of ingest: the native `cms_agg` TypedImperativeAggregate
    * runs as the streaming aggregate, so the per-query state is the
    * fixed 4×4096(+1)-long sketch buffer REGARDLESS of stream volume or
    * vocabulary size — the canonical sketch-not-census answer to
    * "what's trending in the feed". Probe words are estimated from the
    * live sketch each micro-batch. Because CMS partials merge by
    * elementwise ADD (associative + commutative), the final streaming
    * sketch is BIT-IDENTICAL to the batch sketch over the same corpus,
    * whatever the micro-batch arrival order — EventStreamsSpec pins
    * sketch equality itself, not just estimate equality. */
  def heavyHitterStream(docs: DataFrame, probes: Seq[String]): DataFrame = {
    import graft.operators.OpUtils.words
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(explode(words(col("text"))).as("word"))
      .agg(call_function("cms_agg", col("word")).as("sk"))
      .select(col("sk"), explode(array(probes.map(w =>
        struct(lit(w).as("word"),
          call_function("cms_estimate", col("sk"), lit(w)).as("est"))): _*)).as("p"))
      .select(col("sk"), col("p.word").as("word"), col("p.est").as("est"))
  }

  /** Streaming shard manifest — p16's integrity sheet kept live at the
    * point of ingest: every arriving document lands in its md5 shard
    * and folds into that shard's (count, char/token mass, checksum,
    * id range) row. State is bounded at 16 shard rows REGARDLESS of
    * stream volume (like [[qualityBandStream]], no watermark needed),
    * and every per-shard stat is an associative+commutative fold
    * (sums, min, max), so the streaming table converges to the batch
    * manifest EXACTLY whatever the arrival order — readers can verify
    * a shard the moment ingest pauses, no end-of-epoch barrier.
    * EventStreamsSpec pins equality against the oracle-checked p16. */
  def shardManifestStream(docs: DataFrame): DataFrame = PipelineOps.shardManifest(docs)

  /** Streaming char-class monitor — t26's per-source composition sheet
    * kept live at the point of ingest: each arriving document's class
    * counts (digits / uppercase / punctuation / spaces) compute
    * map-side through t26's own body and fold into the per-source
    * sums. State is bounded at one row per source
    * REGARDLESS of stream volume (no watermark needed, like
    * [[qualityBandStream]]); the per-mille projections derive from the
    * running sums each micro-batch, so the complete-mode table equals
    * the batch t26 frame whatever the arrival order — every
    * accumulator is an associative+commutative sum.
    * EventStreamsSpec pins equality against the oracle-checked t26.
    * A live feed of this is the encoding-drift alarm: a source whose
    * digit or punctuation per-mille jumps mid-ingest flags a scraper
    * or template change long before a batch audit runs. */
  def charClassStream(docs: DataFrame): DataFrame = TextOps.charClasses(docs)

  /** Streaming revenue rollup — q72's partial-agg merge kept live: q72
    * proves count/sum/min/max partials merge across BATCH date slices;
    * this is the same merge running continuously, each micro-batch a
    * slice, aggregated by q72's own per-slice partials (fixed-point
    * revenue through the overflow-safe sumFx cascade). State is
    * bounded at one row per (returnflag, ship year) —
    * a handful of keys regardless of stream volume — and every
    * accumulator is associative+commutative, so the complete-mode table
    * equals q72's batch rollup whatever the arrival order
    * (EventStreamsSpec pins it against the oracle-checked q72). At
    * 100 TB this is the standing rollup an ingest tier maintains
    * instead of rescanning the fact table. */
  def rollupMergeStream(lineitem: DataFrame): DataFrame =
    Relational.rollupPartials(lineitem)
      .select(col("l_returnflag"), col("ship_year"), col("n_lines"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        col("min_qty"), col("max_qty"))

  /** Streaming caption→asset referential audit — the unbounded twin of
    * m20: every ARRIVING caption probes the STATIC asset-verdict store
    * (the m17/m20 registry: img_id, verdict) and is tagged dangling /
    * corrupt / ok at the point of ingest, instead of in a nightly
    * batch audit. Stream-static LEFT join: ZERO stream-side join
    * state (per-micro-batch re-plan), no watermark needed; no
    * broadcast hint, same reason as [[enrichedCounts]] — the registry
    * grows with ingested assets, and the re-plan picks broadcast
    * while the snapshot fits. Output is the per-caption verdict
    * stream a quarantine sink consumes; the per-source rollup is the
    * batch m20 run over any bounded slice of it. */
  def captionAuditStream(caps: DataFrame, assetVerdicts: DataFrame): DataFrame =
    caps
      .withColumn("img_ref", col("doc_id") % 640)
      .join(assetVerdicts.select(col("img_id"), col("verdict")),
        col("img_ref") === col("img_id"), "left")
      .select(col("doc_id"), col("us"), col("img_ref"),
        when(col("verdict").isNull, "dangling")
          .when(col("verdict") =!= "ok", "corrupt")
          .otherwise("ok").as("caption_verdict"))

  /** Streaming orphan-asset audit — the unbounded twin of m21, run at
    * INGEST (r11 verdict #5): each arriving asset (already carrying its
    * byte-validation verdict from the m17 ingest gate) probes the
    * reference registry — the DISTINCT caption refs, ≤ 640 keys at ANY
    * SF by the % 640 contract — and is tagged referenced/orphan the
    * moment it lands, so storage reclaim is continuous instead of a
    * nightly sweep. Stream-static LEFT join against an
    * aggregate-bounded frame: ZERO stream-side join state (per-micro-
    * batch re-plan), no watermark; the bounded refs snapshot broadcasts
    * at re-plan. `reclaimable_ok` is m21's cold-comfort column — bytes
    * that validate clean but nothing references. */
  def orphanAssetStream(assets: DataFrame, refs: DataFrame): DataFrame =
    assets
      .join(refs.select(col("img_ref")).distinct(),
        col("img_id") === col("img_ref"), "left")
      .select(col("img_id"), col("us"), col("source"), col("verdict"),
        when(col("img_ref").isNull, "orphan").otherwise("referenced")
          .as("ref_status"),
        (col("img_ref").isNull && col("verdict") === "ok").as("reclaimable_ok"))

  /** Streaming tokenizer-fertility sheet — t31 live at ingest: each
    * arriving document tokenizes map-side under the same BPE-ish
    * pre-tokenization (letter runs | digits | symbol fallbacks) and
    * folds six counters into per-(lang, source) running sums; the
    * fertility/chars-per-token/fallback ratios re-derive from the
    * RUNNING sums every micro-batch, so the complete-mode table is
    * batch-exact whatever the arrival order. State is bounded at one
    * row per (lang, source) — the sheet a vocab-design run watches
    * while a crawl is still landing. */
  def tokenizerFertilityStream(docs: DataFrame): DataFrame = TextOps.fertilitySheet(docs)

  /** Events table as a bounded "stream" via a rate-limited file source
    * shape: for tests we use MemoryStream; this loader reads the parquet
    * with the micro-second normalization applied. */
  def eventsOf(spark: SparkSession, sfDir: String): Dataset[Event] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
  }
}
