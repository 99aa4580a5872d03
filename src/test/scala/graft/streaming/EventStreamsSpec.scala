package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.operators.EventsOps

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("event-streams-spec", "4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("streaming tumbling windows match the batch oracle-checked twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.tumblingCounts(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()

    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    // feed in two chunks to exercise incremental accumulation
    val (a, b) = events.splitAt(events.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("tumbling_out")
      .select(unix_micros(col("win_start")).as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // batch twin (q18 without the n>1 filter)
    val want = graft.Tables.events(spark, sf)
      .withColumn("w", expr("unix_micros(ts) div 300000000 * 300000000"))
      .groupBy(col("w"), col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("stateful sessionization matches the batch q19 twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = EventStreams.eventsOf(spark, sf)
    // batch reference: q19 per-user session (n_events, start, dur)
    val batch = EventsOps.all.find(_.name == "q19_sessionization").get
      .fn(spark, sf)
      .select(col("user_id"), col("n_events"), col("start_us"), col("dur_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // streaming: feed all events in event-time order in 3 chunks, then
    // flush residual open sessions with the bounded-replay helper
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    val ordered = events.collect().sortBy(e => (e.us, e.event_id)).toSeq
    ordered.grouped(math.max(1, ordered.size / 3)).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()
    val closed = spark.table("sess_out").as[EventStreams.SessionOut]
      .collect().map(s => (s.user_id, s.n_events.toLong, s.start_us, s.dur_us)).toSet

    // sessions still open at end-of-stream: recompute residuals in batch
    val all = EventStreams.residualSessions(events)
      .collect().map(s => (s.user_id, s.n_events.toLong, s.start_us, s.dur_us)).toSet
    assert(closed.subsetOf(all))
    assert(all === batch)
    // the streaming query must have closed every session the batch
    // pipeline closed (residuals are exactly the final-open ones)
    val finalOpen = all -- closed
    val usersWithOpen = finalOpen.map(_._1)
    assert(usersWithOpen.size === finalOpen.size) // one open session per user
  }

  test("stream-static enrichment join matches the batch twin (no join state)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dim = graft.Tables.customer(spark, sf)
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.enrichedCounts(input.toDF(), dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enriched_out").start()

    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    val (a, b) = events.splitAt(events.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("enriched_out")
      .select(unix_micros(col("win_start")).as("w"), col("segment"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val want = graft.Tables.events(spark, sf)
      .withColumn("w", expr("unix_micros(ts) div 300000000 * 300000000"))
      .join(dim.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
      .groupBy(col("w"), col("segment")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming dedup (watermarked) matches batch distinct within horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // doc stream with duplicates: every third row repeats an earlier
    // text, timestamps 1 second apart (all inside the 10-min horizon)
    final case class Doc(doc_id: Long, us: Long, text: String)
    val docs = (0 until 300).map { i =>
      val src = if (i % 3 == 2) i - 2 else i
      Doc(i.toLong, 1700000000000000L + i * 1000000L, s"document body $src")
    }

    val input = MemoryStream[(Long, Long, String)]
    val stream = EventStreams.dedupStream(
      input.toDF().toDF("doc_id", "us", "text"))
    val query = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    docs.grouped(100).foreach { chunk =>
      input.addData(chunk.map(d => (d.doc_id, d.us, d.text))); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("dedup_out").select(col("text")).as[String].collect().toSeq
    // exactly one survivor per distinct text, nothing lost
    assert(got.size === got.distinct.size)
    assert(got.toSet === docs.map(_.text).distinct.toSet)
    assert(got.size === 200) // 300 rows, every third a duplicate
  }

  test("streaming ingest dedup drops exactly the corpus-known docs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static corpus: the even-numbered bodies; stream: 0..99 where the
    // even half repeats corpus content and the odd half is new
    val corpus = (0 until 100 by 2).map(i => s"known body $i").toDF("text")
      .withColumn("h", unhex(md5(trim(col("text")))))
    val input = MemoryStream[(Long, Long, String)]
    val stream = EventStreams.ingestDedupStream(
      input.toDF().toDF("doc_id", "us", "text"), corpus)
    val query = stream.writeStream.outputMode("append")
      .format("memory").queryName("ingest_out").start()
    val docs = (0 until 100).map { i =>
      val body = if (i % 2 == 0) s"known body $i" else s"fresh body $i"
      (i.toLong, 1700000000000000L + i * 1000000L, body)
    }
    docs.grouped(40).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("ingest_out").select(col("doc_id")).as[Long].collect().toSet
    // exactly the odd (fresh) docs survive — the batch anti-join answer
    assert(got === (1 until 100 by 2).map(_.toLong).toSet)
  }

  test("streaming banded near-dup probe matches the batch band join, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.OpUtils.words

    // corpus sketch store: the d09 sketch over ALL sf0.001 docs (r14:
    // 3-gram shingles, the production sketch the batch store holds)
    val sketch = graft.Tables.documents(spark, sf)
      .withColumn("sk", graft.functions.GraftFunctions.simHash120(
        graft.functions.GraftFunctions.gramHashes120(words(col("text")), 3)))
      .select(col("doc_id"),
        element_at(col("sk"), 1).as("sh_hi"), element_at(col("sk"), 2).as("sh_lo"))
      .persist()

    val input = MemoryStream[(Long, Long, String)]
    val query = EventStreams.ingestNearDupStream(
        input.toDF().toDF("doc_id", "us", "text"), sketch)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), 1700000000000000L + r.getLong(0), r.getString(1))).toSeq
    docs.grouped(200).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("neardup_out")
      .select(col("doc_id"), col("corpus_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // batch truth: ordered (probe, corpus) pairs that band-collide at
    // hamming <= 3 — EXACTLY once each despite multi-band agreement
    val bands = sketch.select(col("doc_id"), col("sh_hi"), col("sh_lo"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr(
        "(CASE WHEN band < 2 THEN shiftright(sh_hi, band * 30) " +
          "ELSE shiftright(sh_lo, (band - 2) * 30) END) & 1073741823"))
    val want = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("p"), col("b.doc_id").as("c"),
        (expr("bit_count(a.sh_hi ^ b.sh_hi)") +
          expr("bit_count(a.sh_lo ^ b.sh_lo)")).cast("int").as("h"))
      .filter(col("h") <= 3)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    sketch.unpersist()

    assert(got === want)
    // every doc self-matches at hamming 0, and the corpus has real
    // near-dups beyond self (the SimHash120Spec fixture fact)
    assert(got.exists { case (p, c, _) => p == c })
    assert(got.exists { case (p, c, _) => p != c }, got.size)
  }

  test("streaming as-of join matches the batch q21 twin within the horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val horizonUs = 2L * 3600 * 1000000

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.asofStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()

    val ordered = EventStreams.eventsOf(spark, sf).collect()
      .sortBy(e => (e.us, e.event_id)).toSeq
    ordered.grouped(math.max(1, ordered.size / 3)).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    // advance BOTH side watermarks past every real event so append mode
    // finalizes all windows: one far-future sentinel per filtered side
    val far = ordered.last.us + 10L * horizonUs
    input.addData(Seq(
      EventStreams.Event(-1L, far, -1L, "view", 0.0),
      EventStreams.Event(-2L, far, -1L, "purchase", 0.0)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("asof_out").filter(col("user_id") >= 0)
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("last_view_id"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    // batch twin restricted to the horizon contract: purchases whose
    // most recent prior view is within 2 hours (inner-join semantics)
    val want = EventsOps.all.find(_.name == "q21_asof_join").get.fn(spark, sf)
      .filter(col("gap_us").isNotNull && col("gap_us") <= horizonUs)
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("last_view_id"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    assert(got.nonEmpty, "horizon filtered out every purchase-view pair")
    assert(got === want)
  }

  test("left-outer attribution covers EVERY purchase and matches the batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val horizonUs = 2L * 3600 * 1000000

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.attributionStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()

    val ordered = EventStreams.eventsOf(spark, sf).collect()
      .sortBy(e => (e.us, e.event_id)).toSeq
    ordered.grouped(math.max(1, ordered.size / 3)).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    val far = ordered.last.us + 10L * horizonUs
    input.addData(Seq(
      EventStreams.Event(-1L, far, -1L, "view", 0.0),
      EventStreams.Event(-2L, far, -1L, "purchase", 0.0)))
    query.processAllAvailable()
    query.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getBoolean(3),
      Option(r.get(4)).map(_.asInstanceOf[Long]),
      Option(r.get(5)).map(_.asInstanceOf[Long]))
    val got = spark.table("attr_out").filter(col("user_id") >= 0)
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("attributed"), col("last_view_id"), col("gap_us"))
      .collect().map(key).toSet

    // batch twin: q21 keeps every purchase (last-view columns null when
    // no prior view); the horizon contract demotes a too-old view to
    // "unattributed"
    val want = EventsOps.all.find(_.name == "q21_asof_join").get.fn(spark, sf)
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        (col("gap_us").isNotNull && col("gap_us") <= horizonUs).as("attributed"),
        when(col("gap_us").isNotNull && col("gap_us") <= horizonUs,
          col("last_view_id")).as("last_view_id"),
        when(col("gap_us").isNotNull && col("gap_us") <= horizonUs,
          col("gap_us")).as("gap_us"))
      .collect().map(key).toSet

    assert(want.exists(!_._4), "corpus has no unattributed purchase — test is vacuous")
    assert(got === want)
  }

  test("stream-static interval tag matches a naive range-predicate batch join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val bin = 300000000L
    // one padded multi-bin window, one exactly-one-bin window, a gap
    val windows = Seq(
      (1L, 10 * bin - 60000000L, 11 * bin + 60000000L),
      (2L, 20 * bin, 21 * bin)).toDF("win_id", "lo", "hi")

    // events landing: before w1's pad, inside the pad, mid-w1, at w1's
    // exclusive hi, mid-w2, and far outside every window
    val events = Seq(
      (1L, 10 * bin - 60000001L, 7L, "view", 0.0),
      (2L, 10 * bin - 60000000L, 7L, "view", 0.0),
      (3L, 10 * bin + 5L, 8L, "error", 0.0),
      (4L, 11 * bin + 60000000L, 8L, "click", 0.0),
      (5L, 20 * bin + 12345L, 9L, "purchase", 0.0),
      (6L, 15 * bin, 9L, "view", 0.0)).map {
      case (id, us, u, t, v) => EventStreams.Event(id, us, u, t, v)
    }

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.intervalTagStream(input.toDF(), windows)
      .writeStream.outputMode("append")
      .format("memory").queryName("tag_out").start()
    val (a, b) = events.splitAt(3)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("tag_out")
      .select(col("event_id"), col("win_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet

    // the naive formulation the bin trick must reproduce exactly
    val want = events.toDF()
      .join(windows, col("us") >= col("lo") && col("us") < col("hi"), "left")
      .select(col("event_id"), col("win_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet

    assert(got === want)
    assert(got === Set(
      (1L, None), (2L, Some(1L)), (3L, Some(1L)),
      (4L, None), (5L, Some(2L)), (6L, None)))
  }

  test("streaming windowed uniques: HLL counts inside the batch-exact envelope") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.windowedUniques(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("uniq_out").start()
    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    val (a, b) = events.splitAt(events.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("uniq_out")
      .select(unix_micros(col("win_start")).as("w"), col("approx_users"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    val exact = graft.Tables.events(spark, sf)
      .withColumn("w", expr("unix_micros(ts) div 300000000 * 300000000"))
      .groupBy(col("w"))
      .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    assert(got.keySet === exact.keySet)
    got.foreach { case (w, (approxU, n)) =>
      val (exactU, exactN) = exact(w)
      assert(n === exactN, s"window $w: event count drift")
      // the q34 envelope: HLL++ at rsd=0.05 — allow 4 sigma + small-n slack
      val tol = math.max(3.0, exactU * 0.20)
      assert(math.abs(approxU - exactU) <= tol,
        s"window $w: approx $approxU vs exact $exactU")
    }
  }

  test("streaming sliding-window velocity flags match the batch q55 twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.slidingVelocityStream(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("veloc_out").start()
    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    val (a, b) = events.splitAt(events.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("veloc_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val want = EventsOps.all.find(_.name == "q55_sliding_velocity").get
      .fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)
  }

  test("sliding velocity APPEND mode: watermark finalizes slides (r13 ADVICE #4)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the production shape the operator's doc describes: append mode,
    // where a slide only emits once the watermark passes its end — this
    // is the assertion the complete-mode twin above cannot make (Spark
    // ignores watermark eviction entirely in complete mode)
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.slidingVelocityStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("veloc_append").start()
    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    input.addData(events); query.processAllAvailable()
    // push the watermark an hour past the last event: every real slide
    // ends <= maxUs + 10 min < (maxUs + 1 h) - 10 min delay, so ALL of
    // them finalize and emit; the sentinel's own 2 slides hold a single
    // event and die on the n_events >= 2 filter
    val maxUs = events.map(_.us).max
    input.addData(Seq(EventStreams.Event(-1L, maxUs + 3600L * 1000000, -1L, "view", 0.0)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("veloc_append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = EventsOps.all.find(_.name == "q55_sliding_velocity").get
      .fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)

    // eviction half of the contract: after finalization the state store
    // holds only the sentinel's open slides, not stream history
    val stateRows = query.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).map(_.stateOperators.map(_.numRowsTotal).sum)
    stateRows.foreach(n => assert(n <= 4L,
      s"state should hold only the sentinel's open slides, found $n rows"))
  }

  test("streaming latest-record compaction converges to the batch q40 twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.latestStream(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_out").start()

    // feed in arbitrary (unsorted) order across three chunks — the
    // (us, event_id) total order in the fold makes arrival order moot
    val events = EventStreams.eventsOf(spark, sf).collect().toSeq
    events.grouped(math.max(1, events.size / 3)).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    // the compaction view = each user's LAST emission (n_versions is
    // cumulative, so max n_versions identifies it without timestamps)
    val got = spark.table("latest_out")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_id"), col("us"), col("event_type"),
        col("value")), col("n_versions")).as("b"),
        max(col("n_versions")).as("n_versions"))
      .select(col("user_id"), col("n_versions"), col("b.event_id"),
        col("b.us"), col("b.event_type"), col("b.value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5)))
      .toSet

    val want = EventsOps.all.find(_.name == "q40_latest_compaction").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5)))
      .toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming curation verdicts follow p06's precedence and batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // a body that PASSES every gopher rule: 55 words (5 stopwords + 50
    // distinct 4-char words), mean word length in [3,10], no symbols,
    // no duplicate bigrams
    def passBody(tag: Int): String =
      "the a of and to " + (0 until 50).map(i => f"w$tag%02d$i%02d").mkString(" ")
    val gopherBody = "tiny text" // fails the 50-word floor

    // static corpus knows body 7
    val corpus = Seq(passBody(7)).toDF("text")
      .withColumn("h", unhex(md5(trim(col("text")))))

    // stream: kept (body 1), its repeat (stream_dup), the corpus body
    // (corpus_dup), a gopher reject, then a second fresh body (kept)
    val docs = Seq(
      (1L, passBody(1)), (2L, passBody(1)), (3L, passBody(7)),
      (4L, gopherBody), (5L, passBody(2)), (6L, passBody(2)))
      .zipWithIndex.map { case ((id, body), i) =>
        (id, 1700000000000000L + i * 1000000L, body)
      }

    val input = MemoryStream[(Long, Long, String)]
    val query = EventStreams.curationVerdictStream(
      input.toDF().toDF("doc_id", "us", "text"), corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("verdict_out").start()
    docs.grouped(3).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("verdict_out")
      .select(col("doc_id"), col("stage"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap

    // batch replay of the same precedence: first non-gopher,
    // non-corpus arrival per hash is kept, later ones are stream dups
    assert(got === Map(
      1L -> "kept", 2L -> "stream_dup", 3L -> "corpus_dup",
      4L -> "gopher", 5L -> "kept", 6L -> "stream_dup"))
    // every doc gets exactly one verdict — nothing is silently dropped
    assert(got.size === docs.size)
  }

  test("streaming native session windows match the batch q47 twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.sessionWindowStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out").start()

    // event-time order so nothing falls behind the watermark; then two
    // far-future sentinels (user -1) so the advancing watermark
    // finalizes every real session in append mode
    val events = EventStreams.eventsOf(spark, sf).collect()
      .sortBy(e => (e.us, e.event_id)).toSeq
    val maxUs = events.map(_.us).max
    events.grouped(math.max(1, events.size / 3)).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    input.addData(EventStreams.Event(-1L, maxUs + 86400000000L, -1L, "x", 0.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(-2L, maxUs + 2 * 86400000000L, -1L, "x", 0.0))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("sesswin_out")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("start_us"), col("last_us"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val want = EventsOps.all.find(_.name == "q47_session_native").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming quality bands equal the batch t25 band frame") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val texts = graft.Tables.documents(spark, sf)
      .select(col("text")).as[String].collect().toSeq
    val input = MemoryStream[String]
    val query = EventStreams.qualityBandStream(input.toDF().toDF("text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("qband_out").start()
    // two chunks: the complete-mode table must converge incrementally
    val (a, b) = texts.splitAt(texts.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("qband_out")
      .select(col("band"), col("n_docs"), col("n_tokens"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // truth = the oracle-checked batch operator's band frame (its cum
    // columns are derived from these three)
    val want = graft.SparkEntry.queries("t25_quality_bands")(spark, sf)
      .select(col("band"), col("n_docs"), col("n_tokens"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming stratified-split manifest equals the batch p26 counts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .as[(Long, String, String, String)].collect().toSeq
    val input = MemoryStream[(Long, String, String, String)]
    val query = EventStreams.stratifiedSplitStream(
        input.toDF().toDF("doc_id", "source", "lang", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("split_out").start()
    // two chunks: split assignment must not depend on arrival order
    val (a, b) = docs.splitAt(docs.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val got = spark.table("split_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    // truth = the oracle-checked batch p26 manifest's count columns
    // (split_share_ppm is derived from these)
    val want = graft.SparkEntry.queries("p26_stratified_split")(spark, sf)
      .select(col("source"), col("lang"), col("split"), col("n_docs"),
        col("n_tokens"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming heavy-hitter sketch is bit-identical to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)

    val texts = graft.Tables.documents(spark, sf)
      .select(col("text")).as[String].collect().toSeq
    val probes = Seq("the", "a", "of", "and", "to")
    val input = MemoryStream[String]
    val query = EventStreams.heavyHitterStream(input.toDF().toDF("text"), probes)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_out").start()
    // two chunks: the sketch state must accumulate across micro-batches
    val (a, b) = texts.splitAt(texts.size / 2)
    input.addData(a); query.processAllAvailable()
    input.addData(b); query.processAllAvailable()
    query.stop()

    val out = spark.table("hh_out")
      .select(col("sk"), col("word"), col("est")).collect()
    val gotEst = out.map(r => (r.getString(1), r.getLong(2))).toMap
    val gotSk = out.head.getSeq[Long](0)

    val wordsDf = graft.Tables.documents(spark, sf)
      .select(explode(graft.operators.OpUtils.words(col("text"))).as("word"))
    val batchRow = wordsDf
      .agg(call_function("cms_agg", col("word")).as("sk")).collect()(0)
    val batchSk = batchRow.getSeq[Long](0)
    // CMS merge is an elementwise add — order-free — so the streaming
    // sketch must equal the batch sketch EXACTLY, counter for counter
    assert(gotSk === batchSk)

    val exact = wordsDf.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(col("word").isin(probes: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    probes.foreach { w =>
      // structural CMS guarantee, from the live-stream sketch
      assert(gotEst(w) >= exact.getOrElse(w, 0L))
      assert(gotEst(w) <= batchSk(4 * 4096)) // ≤ total ingested words
    }
  }

  test("streaming shard manifest converges to the batch p16 manifest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)].collect().toSeq
    val input = MemoryStream[(Long, String, Long)]
    val query = EventStreams.shardManifestStream(
        input.toDF().toDF("doc_id", "text", "n_chars"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("manifest_out").start()
    // three chunks: shard rows must fold incrementally, and every stat
    // (incl. the order-independent checksum) must land batch-exact
    val chunks = docs.grouped(math.max(1, docs.size / 3 + 1)).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val cols = Seq("shard", "n_docs", "total_chars", "total_tokens",
      "checksum", "min_doc", "max_doc").map(col)
    val got = spark.table("manifest_out").select(cols: _*).collect().map(key).toSet
    val want = graft.SparkEntry.queries("p16_shard_manifest")(spark, sf)
      .select(cols: _*).collect().map(key).toSet
    assert(got.size === 16)
    assert(got === want)
  }

  test("streaming char classes converge to the batch t26 frame") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text"))
      .as[(String, String)].collect().toSeq
    val input = MemoryStream[(String, String)]
    val query = EventStreams.charClassStream(
        input.toDF().toDF("source", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cclass_out").start()
    // three chunks: per-source sums fold incrementally; the per-mille
    // projections must re-derive from the RUNNING sums each batch, so
    // the final table is batch-exact whatever the split
    val chunks = docs.grouped(math.max(1, docs.size / 3 + 1)).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    val cols = Seq("source", "n_chars", "digit_pm", "upper_pm", "punct_pm",
      "space_pm").map(col)
    val got = spark.table("cclass_out").select(cols: _*).collect().map(key).toSet
    val want = graft.SparkEntry.queries("t26_char_classes")(spark, sf)
      .select(cols: _*).collect().map(key).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming revenue rollup converges to the batch q72 merge") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_shipdate").cast("string"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
      .as[(String, String, Double, Double, Double)].collect().toSeq
    val input = MemoryStream[(String, String, Double, Double, Double)]
    val query = EventStreams.rollupMergeStream(
        input.toDF().toDF("l_returnflag", "ship_s", "l_extendedprice",
            "l_discount", "l_quantity")
          .withColumn("l_shipdate", col("ship_s").cast("timestamp")))
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup_out").start()
    // three chunks: each micro-batch is a "date slice"; the standing
    // rollup must merge partials exactly as q72's batch union does
    val chunks = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    val cols = Seq("l_returnflag", "ship_year", "n_lines", "revenue",
      "min_qty", "max_qty").map(col)
    val got = spark.table("rollup_out").select(cols: _*).collect().map(key).toSet
    val want = graft.SparkEntry.queries("q72_partial_agg_merge")(spark, sf)
      .select(cols: _*).collect().map(key).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming caption audit tags every arrival with m20's verdict schedule") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static asset registry: m17/m20's schedule over ids < 500
    val verdicts = (0L until 500L).map { id =>
      val v = if (id % 31 == 0) "bad_magic"
        else if (id % 23 == 0) "truncated" else "ok"
      (id, v)
    }.toDF("img_id", "verdict")
    val input = MemoryStream[(Long, Long)]
    val stream = EventStreams.captionAuditStream(
      input.toDF().toDF("doc_id", "us"), verdicts)
    val query = stream.writeStream.outputMode("append")
      .format("memory").queryName("caption_out").start()
    val caps = (0L until 1300L).map(i => (i, 1700000000000000L + i * 1000L))
    caps.grouped(500).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("caption_out")
      .select(col("doc_id"), col("caption_verdict"))
      .as[(Long, String)].collect().toMap
    assert(got.size === 1300)
    // batch m20 semantics replayed per caption
    (0L until 1300L).foreach { id =>
      val ref = id % 640
      val want =
        if (ref >= 500) "dangling"
        else if (ref % 31 == 0 || ref % 23 == 0) "corrupt"
        else "ok"
      assert(got(id) === want, s"caption $id (ref $ref)")
    }
  }

  test("streaming tokenizer fertility converges to the batch t31 sheet") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("text"))
      .as[(String, String, String)].collect().toSeq
    val input = MemoryStream[(String, String, String)]
    val query = EventStreams.tokenizerFertilityStream(
        input.toDF().toDF("lang", "source", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("fertility_out").start()
    // three chunks: the counter sums fold incrementally; the ratio
    // columns must re-derive from RUNNING sums each batch, so the final
    // table is batch-exact whatever the split
    val chunks = docs.grouped(math.max(1, docs.size / 3 + 1)).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))
    val cols = Seq("lang", "source", "n_docs", "n_words", "n_tokens",
      "n_tok_chars", "n_fallback", "fertility_milli",
      "chars_per_token_milli", "fallback_ppm").map(col)
    val got = spark.table("fertility_out").select(cols: _*).collect().map(key).toSet
    val want = graft.SparkEntry.queries("t31_tokenizer_fertility")(spark, sf)
      .select(cols: _*).collect().map(key).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming orphan-asset audit replays m21's classification at ingest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static reference registry: the DISTINCT caption refs of a corpus
    // of 250 documents — refs {0..249}, so arriving assets ≥ 250 are
    // orphans (bounded ≤ 640 keys at ANY SF by the % 640 contract)
    val nDocs = 250L
    val refs = (0L until nDocs).map(_ % 640).distinct.toDF("img_ref")

    // arriving assets carry the m17 ingest-gate verdict (the shared
    // faultedPpmBytes schedule validated by the real byte parser)
    val input = MemoryStream[(Long, Long, String, String)]
    val stream = EventStreams.orphanAssetStream(
      input.toDF().toDF("img_id", "us", "source", "verdict"), refs)
    val query = stream.writeStream.outputMode("append")
      .format("memory").queryName("orphan_out").start()
    val assets = (0L until 500L).map { id =>
      val v = graft.operators.MultimodalOps.validatePpm(
        graft.operators.MultimodalOps.faultedPpmBytes(id))
      (id, 1700000000000000L + id * 1000L, s"src_${id % 4}", v)
    }
    assets.grouped(200).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()

    val got = spark.table("orphan_out")
      .select(col("img_id"), col("ref_status"), col("reclaimable_ok"))
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size === 500)
    // batch m21 semantics replayed per asset: orphan iff no caption
    // references it; reclaimable iff orphan AND bytes validate clean
    (0L until 500L).foreach { id =>
      val orphan = id >= nDocs
      val ok = !(id % 31 == 0 || id % 23 == 0)
      assert(got(id)._1 === (if (orphan) "orphan" else "referenced"), s"asset $id")
      assert(got(id)._2 === (orphan && ok), s"asset $id reclaimable")
    }
    // the classification also matches m21's aggregate exactly: replaying
    // the stream output through m21's rollup shape gives its counters
    val agg = spark.table("orphan_out")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("ref_status") === "orphan", 1L).otherwise(0L)).as("n_orphans"),
        sum(when(col("reclaimable_ok"), 1L).otherwise(0L)).as("n_orphans_ok"))
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = (0L until 500L).groupBy(id => s"src_${id % 4}").toSeq.sortBy(_._1)
      .map { case (src, ids) =>
        (src, ids.size.toLong,
          ids.count(_ >= nDocs).toLong,
          ids.count(id => id >= nDocs && !(id % 31 == 0 || id % 23 == 0)).toLong)
      }
    assert(agg === want)
  }
}
