package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ConcurrencyOut, CusumOut, EventPipeline, FunnelOut, HourEvent, LocfEvent, LocfOut, SessionOut, StreamEvent, TopKOut, TypedEvent, ValueEvent}

case class WindowTestEvent(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // Day-one base: an event at exactly epoch 0 sits AT the initial
  // watermark and is dropped as late data — keep test times clear of it.
  private val baseMin: Long = 1440L
  private val baseUs: Long = baseMin * 60000000L
  private def ts(minutes: Long): Timestamp = new Timestamp((baseMin + minutes) * 60000L)

  test("qualityGateStream equals batch t36 row-for-row on streamed docs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // Docs spanning every rule's pass/fail boundary: too short, healthy,
    // symbol-heavy, no stop words, long-word salad.
    val docs = Seq(
      (1L, "web", "the quick brown horses gallop across wide green fields while " +
        "the farmer watches quietly from wooden fences nearby during sunny " +
        "afternoon hours yesterday evening"),
      (2L, "web", "short text here"),
      (3L, "forum", "### ### ### the quick brown fox jumps over the lazy dog and " +
        "keeps running far away from home ### ### ### ### ### more hashes ### ###"),
      (4L, "crawl", "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk llll " +
        "mmmm nnnn oooo pppp qqqq rrrr ssss tttt uuuu vvvv wwww xxxx yyyy zzzz"),
      (6L, "feed", null),
      (5L, "web", "incomprehensibilities antidisestablishmentarianism the and " +
        "floccinaucinihilipilification pseudopseudohypoparathyroidism of words " +
        "supercalifragilisticexpialidocious otorhinolaryngological immunoelectrophoresis " +
        "hepaticocholangiocholecystenterostomies psychoneuroendocrinological " +
        "thyroparathyroidectomized pneumonoultramicroscopicsilicovolcanoconiosis " +
        "antiestablishmentarianisms electroencephalographically spectrophotofluorometrically"))
    val in = MemoryStream[(Long, String, String)]
    val q = EventPipeline.qualityGateStream(
        in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("qgate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(2))
      q.processAllAvailable()
      in.addData(docs.drop(2)) // a second micro-batch — same gate, no state
      q.processAllAvailable()
      val streamed = spark.table("qgate").collect()
        .map(r => r.getLong(0) -> r.toSeq.toVector).toMap
      val batch = graft.operators.TextAnalysis.gopherRules(
          docs.toDF("doc_id", "source", "text")).collect()
        .map(r => r.getLong(0) -> r.toSeq.toVector).toMap
      assert(streamed == batch, "stream and batch gate disagree")
      // The fixture really exercises the gate: some kept, some dropped.
      val kept = spark.table("qgate").filter(col("keep")).count()
      assert(kept > 0 && kept < docs.size)
      // Null text gates to an explicit keep=false — never null flags.
      val nullRow = spark.table("qgate").filter(col("doc_id") === 6L).head()
      assert(!nullRow.getAs[Boolean]("keep") && !nullRow.anyNull)
    } finally q.stop()
  }

  test("dsirScoreStream scores ingested docs identically to batch with a frozen model") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // A deterministic non-trivial "trained" table: bucket i scores
    // (i % 7 − 3) millinats — every doc hits several distinct buckets.
    val table = Array.tabulate[Long](8192)(i => (i % 7 - 3) * 1000L)
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "de", "eins zwei drei vier fünf sechs sieben acht"),
      (3L, "en", "single"),
      (4L, "fr", "un deux trois un deux trois un deux trois"),
      (5L, "xx", null))
    val in = MemoryStream[(Long, String, String)]
    val q = EventPipeline.dsirScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), table)
      .writeStream.format("memory").queryName("dsir")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(2)); q.processAllAvailable()
      in.addData(docs.drop(2)); q.processAllAvailable()
      val streamed = spark.table("dsir").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = graft.operators.Pipeline.dsirScore(
          docs.toDF("doc_id", "lang", "text"), table).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch, "stream and batch scoring disagree")
      // n_grams = 2·nw − 1; scores are non-trivial (some doc ≠ 0).
      assert(streamed(1L)._1 == 7 && streamed(3L)._1 == 1)
      assert(streamed.values.exists(_._2 != 0L))
      // Null text scores deterministically (1 empty gram), never null.
      assert(streamed(5L)._1 == 1)
    } finally q.stop()
  }

  test("decontaminateStream drops every contaminated doc at ingest, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.TextHash.shingleHashSet
    // Bench set: two "eval" documents; the Bloom filter over their
    // 5-gram hashes is built in batch (as d10 does).
    val bench = Seq("alpha beta gamma delta epsilon zeta", "one two three four five six")
      .toDF("text").select(explode(shingleHashSet(col("text"), 5)).as("h")).distinct()
    val bloom = bench.stat.bloomFilter("h", math.max(bench.count(), 1L), 0.01)
    val contaminated = "prefix alpha beta gamma delta epsilon suffix words here"
    val clean = "totally unrelated content with many different words in it"
    val in = MemoryStream[String]
    val q = EventPipeline.decontaminateStream(in.toDF().withColumnRenamed("value", "text"), bloom)
      .writeStream.format("memory").queryName("decon").outputMode(OutputMode.Append).start()
    try {
      in.addData(contaminated, clean, "one two three four five and more", clean + " again")
      q.processAllAvailable()
      val out = spark.table("decon").as[String].collect().toSet
      // No false negatives: both bench-gram-bearing docs are quarantined.
      assert(!out.contains(contaminated))
      assert(!out.exists(_.startsWith("one two three four five")))
      // Clean docs pass (Bloom fp on these grams would be ~1e-2 per doc;
      // deterministic here — the filter and corpus are fixed).
      assert(out == Set(clean, clean + " again"))
    } finally q.stop()
  }

  test("decontaminateStream treats null-text docs as clean (batch-twin parity)") {
    // In batch d08 a null-text doc explodes to zero grams and is never
    // flagged; the stream filter must agree instead of null-dropping it.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.TextHash.shingleHashSet
    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
      .select(explode(shingleHashSet(col("text"), 5)).as("h")).distinct()
    val bloom = bench.stat.bloomFilter("h", 16L, 0.01)
    // The transform is DataFrame => DataFrame — run it on a batch frame
    // containing a null text.
    val docs = Seq(Some("clean words only here truly"), None,
      Some("alpha beta gamma delta epsilon tail")).toDF("text")
    val out = EventPipeline.decontaminateStream(docs, bloom)
      .collect().map(r => Option(r.getString(0))).toSet
    assert(out == Set(Some("clean words only here truly"), None))
  }

  test("windowedCounts aggregates per hour and event_type incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WindowTestEvent]
    val q = EventPipeline.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        WindowTestEvent(ts(5), "click", 1.0),
        WindowTestEvent(ts(10), "click", 2.0),
        WindowTestEvent(ts(61), "click", 4.0),
        WindowTestEvent(ts(62), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("wc").as[(Long, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (baseUs, "click", 2L, 3.0),
        (baseUs + 3600L * 1000000, "click", 1L, 4.0),
        (baseUs + 3600L * 1000000, "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("windowedDistinctUsers tracks exact cardinality within the sketch bound") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = EventPipeline.windowedDistinctUsers(in.toDF())
      .writeStream.format("memory").queryName("wdu").outputMode(OutputMode.Complete).start()
    try {
      // Hour 0: 400 distinct users, 100 of them re-visiting (the sketch
      // must not double-count); hour 1: 250 distinct. Split across two
      // micro-batches to exercise cross-batch sketch merge.
      val h0 = (1 to 400).map(u => StreamEvent(u.toLong, ts(u % 59), 1.0)) ++
        (1 to 100).map(u => StreamEvent(u.toLong, ts(u % 59 + 1), 1.0))
      val h1 = (1 to 250).map(u => StreamEvent(u.toLong, ts(60 + u % 59), 1.0))
      in.addData(h0: _*)
      q.processAllAvailable()
      in.addData(h1: _*)
      q.processAllAvailable()
      val rows = spark.table("wdu").as[(Long, Long)].collect().toMap
      assert(rows.keySet == Set(baseUs, baseUs + 3600L * 1000000))
      // HLL++ at rsd=0.02: assert within 3σ.
      assert(math.abs(rows(baseUs) - 400L) / 400.0 <= 0.06, s"hour0=${rows(baseUs)}")
      assert(math.abs(rows(baseUs + 3600L * 1000000) - 250L) / 250.0 <= 0.06,
        s"hour1=${rows(baseUs + 3600L * 1000000)}")
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = EventPipeline.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    try {
      // User 1: two bursts 40 min apart (> 30 min gap) → first closes
      // as soon as the second burst arrives in the same group batch.
      in.addData(
        StreamEvent(1L, ts(0), 1.0), StreamEvent(1L, ts(10), 2.0),
        StreamEvent(1L, ts(50), 4.0))
      q.processAllAvailable()
      // Advance the watermark far past user 1's last event (+gap) so the
      // open session times out: watermark = max(ts) - 1h.
      in.addData(StreamEvent(2L, ts(200), 1.0))
      q.processAllAvailable()
      in.addData(StreamEvent(2L, ts(210), 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[SessionOut].collect()
      val u1 = sessions.filter(_.user_id == 1L).sortBy(_.start_us)
      assert(u1.length == 2, s"got ${u1.mkString(";")}")
      assert(u1(0).n_events == 2 && u1(0).sum_value == 3.0)
      assert(u1(0).start_us == baseUs && u1(0).end_us == baseUs + 10L * 60 * 1000000)
      assert(u1(1).n_events == 1 && u1(1).sum_value == 4.0)
    } finally q.stop()
  }

  test("dedupStream drops re-delivered payloads within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = EventPipeline.dedupStream(in.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(0), "doc a"), (ts(1), "doc b"), (ts(2), "doc a"))
      q.processAllAvailable()
      in.addData((ts(3), "doc b"), (ts(4), "doc c"))
      q.processAllAvailable()
      val texts = spark.table("dedup").select("text").collect().map(_.getString(0))
      assert(texts.sorted.toSeq == Seq("doc a", "doc b", "doc c"))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with recent errors only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamEvent]
    val errors = MemoryStream[StreamEvent]
    val q = EventPipeline.clickErrorJoin(clicks.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("cej").outputMode(OutputMode.Append).start()
    try {
      errors.addData(StreamEvent(1L, ts(0), 7.0), StreamEvent(1L, ts(100), 9.0))
      clicks.addData(
        StreamEvent(1L, ts(10), 1.0),   // pairs with error@0 (10 min gap)
        StreamEvent(1L, ts(50), 1.0),   // no error within 30 min
        StreamEvent(1L, ts(110), 1.0),  // pairs with error@100
        StreamEvent(2L, ts(10), 1.0))   // other user: no pair
      q.processAllAvailable()
      val rows = spark.table("cej")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, baseUs + 10L * 60000000, baseUs),
        (1L, baseUs + 110L * 60000000, baseUs + 100L * 60000000)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched clicks after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamEvent]
    val errors = MemoryStream[StreamEvent]
    val q = EventPipeline.clickErrorLeftJoin(clicks.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("celj").outputMode(OutputMode.Append).start()
    try {
      errors.addData(StreamEvent(1L, ts(0), 7.0))
      clicks.addData(
        StreamEvent(1L, ts(10), 1.0),  // pairs with error@0
        StreamEvent(1L, ts(50), 1.0))  // no error within 30 min → outer row
      q.processAllAvailable()
      // The unmatched click can only emit once BOTH watermarks pass its
      // interval: push them with far-future sentinels (user 99), then one
      // more round so the advanced watermark evicts + emits outer state.
      for (_ <- 1 to 2) {
        clicks.addData(StreamEvent(99L, ts(300), 0.0))
        errors.addData(StreamEvent(99L, ts(300), 0.0))
        q.processAllAvailable()
      }
      val rows = spark.table("celj").filter("user_id = 1").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows == Set(
        (1L, baseUs + 10L * 60000000, baseUs), // matched pair
        (1L, baseUs + 50L * 60000000, -1L)))   // outer row, NULL error side
    } finally q.stop()
  }

  test("streaming anomaly detector matches batch s09 on the same events") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // Real corpus through the stream in one batch: every touched hour's
    // trailing window is complete, so the scores must agree with the
    // batch RANGE-frame form (stream state uses the two-pass variance,
    // batch the merged moments — both land on the micro grid, compared
    // here with one-grid-step tolerance).
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"), col("value")).as[ValueEvent]
      .collect().toSeq
    val in = MemoryStream[ValueEvent]
    val q = EventPipeline.anomalyStream(in.toDS())
      .writeStream.format("memory").queryName("anom").outputMode(OutputMode.Append).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("anom").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
      val batch = SparkEntry.queries("s09_anomaly")(spark, TestSpark.sf).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(4), r.getBoolean(5))).toMap
      assert(streamed.keySet == batch.keySet)
      var flagged = 0
      streamed.foreach { case (k, (sv, z, flag)) =>
        val (bsv, bz, bflag) = batch(k)
        assert(math.abs(math.floor(sv * 100 + 0.5) / 100 - bsv) < 1e-9, s"$k sum")
        assert(math.abs(z - bz) <= 1.1e-6, s"$k z: stream=$z batch=$bz")
        if (math.abs(math.abs(z) - 2.0) > 1e-5) assert(flag == bflag, s"$k flag")
        if (flag) flagged += 1
      }
      assert(flagged > 0, "vacuous: no anomalies in the corpus")
    } finally q.stop()
  }

  test("late micro-batch re-scores every downstream hour whose window it touches") {
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000L
    def ev(h: Long, v: Double) =
      ValueEvent(new java.sql.Timestamp(h * 3600L * 1000L), "late_t", v)
    val in = MemoryStream[ValueEvent]
    val q = EventPipeline.anomalyStream(in.toDS())
      .writeStream.format("memory").queryName("anomlate")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: hours 0..10 with a flat series and a spike at 10.
      in.addData((0L to 9L).map(ev(_, 100.0)) :+ ev(10L, 500.0))
      q.processAllAvailable()
      // Batch 2: a LATE addition to hour 9 (1 h behind the max event
      // time — inside the 2 h watermark). Hour 10's already-emitted
      // z-score has hour 9 in its trailing window and must be
      // re-emitted refined, not left stale.
      in.addData(ev(9L, 300.0))
      q.processAllAvailable()
      val rows = spark.table("anomlate").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
      val hr10 = rows.filter(_._1 == 10L)
      assert(hr10.length == 2, s"hour 10 must be re-emitted once refined: $hr10")
      // Recompute the refined score independently from the final sums.
      val sums = ((0L to 8L).map(_ -> 100.0) :+ (9L -> 400.0) :+ (10L -> 500.0)).toMap
      def zOf(h: Long): Double = {
        val win = sums.collect { case (k, v) if k >= h - 23 && k <= h => v }.toSeq
        val mean = win.sum / win.size
        val sd = math.sqrt(win.map(x => (x - mean) * (x - mean)).sum / (win.size - 1))
        math.floor((sums(h) - mean) / sd * 1000000 + 0.5) / 1000000
      }
      assert(hr10.exists(r => math.abs(r._3 - zOf(10L)) < 1e-9),
        s"refined hour-10 score missing: got ${hr10.map(_._3).toSeq}, want ${zOf(10L)}")
      // Hour 9 itself was re-emitted with its updated sum.
      val hr9 = rows.filter(_._1 == 9L)
      assert(hr9.exists(_._2 == 400.0), s"hour 9 refined sum missing: $hr9")
    } finally q.stop()
  }

  test("file-source stream over parquet matches the batch aggregate") {
    // The production wiring: readStream over a directory, one micro-batch
    // (Trigger.AvailableNow), memory sink — compared to the batch twin.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"), col("value"))
    events.write.mode("overwrite").parquet(dir)
    val q = EventPipeline.windowedCounts(
        spark.readStream.schema(events.schema).parquet(dir))
      .writeStream.format("memory").queryName("filewc")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val streamed = spark.table("filewc").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventPipeline.windowedCounts(events).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("batch twins compute the same hourly aggregate as the stream") {
    val batch = EventPipeline.windowedCounts(
      Seq(WindowTestEvent(ts(5), "click", 1.0),
        WindowTestEvent(ts(61), "click", 4.0)).toDF())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch == Set((baseUs, "click", 1L), (baseUs + 3600L * 1000000, "click", 1L)))
  }

  test("streaming CUSUM matches batch s10 on every finalized hour") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // Offline calibration (T, H, spine start) comes from the batch
    // corpus — the train-on-history/monitor-live deployment. The
    // recurrence is integer-exact on both sides, so every hour the
    // stream finalizes must equal the batch row EXACTLY; the stream
    // legitimately emits fewer rows (per-type trailing hours within the
    // finalization horizon stay pending).
    val hourUs = 3600L * 1000000L
    val batchRows = SparkEntry.queries("s10_cusum")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(1) / hourUs, r.getString(0)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val perType = batchRows.groupBy(_._1._2)
    val hTot = perType(perType.keys.head).size.toLong
    val spineStart = batchRows.keys.map(_._1).min
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type")).as[HourEvent].collect().toSeq
    // Per-type T differs, but the stream API takes ONE (T, H): drive one
    // type at a time — each type is an independent keyed state anyway.
    perType.take(2).foreach { case (tpe, rows) =>
      val t = rows.values.map(_._1).sum
      val in = MemoryStream[HourEvent]
      val q = EventPipeline.cusumStream(
          in.toDS(), t, hTot, spineStart)
        .writeStream.format("memory").queryName(s"cusum_$tpe")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(events.filter(_.event_type == tpe))
        q.processAllAvailable()
        val streamed = spark.table(s"cusum_$tpe").as[CusumOut].collect()
        assert(streamed.nonEmpty, s"$tpe emitted nothing")
        // Coverage guard against vacuity only — a type's trailing hours
        // stay pending until (its own) later events advance the horizon,
        // so allow up to a day of unfinalized tail.
        assert(streamed.length >= hTot - 26, s"$tpe coverage ${streamed.length}/$hTot")
        streamed.foreach { o =>
          val (bx, bs, bflag) = batchRows((o.hr_no, tpe))
          assert(o.x == bx && o.cusum_scaled == bs && o.flag == bflag,
            s"$tpe hr=${o.hr_no}: stream=(${o.x},${o.cusum_scaled},${o.flag}) batch=($bx,$bs,$bflag)")
        }
      } finally q.stop()
    }
  }

  test("streaming EWMA matches batch s23 on every finalized hour") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // The scaled-integer recurrence is exact on both sides, so every
    // hour the stream finalizes must equal the batch row EXACTLY where
    // batch emits one; hours batch does NOT emit (no contribution in
    // the 48 h window) must finalize as exact zeroes.
    val hourUs = 3600L * 1000000L
    val batchRows = SparkEntry.queries("s23_ewma")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(1) / hourUs, r.getString(0)) -> r.getLong(2)).toMap
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"))
      .as[graft.streaming.HourEvent].collect().toSeq
    val spineStart = events.map(e => e.ts.getTime * 1000L / hourUs).min
    val types = events.map(_.event_type).distinct.sorted.take(2)
    types.foreach { tpe =>
      val in = MemoryStream[graft.streaming.HourEvent]
      val q = EventPipeline.ewmaStream(in.toDS(), spineStart)
        .writeStream.format("memory").queryName(s"ewma_$tpe")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(events.filter(_.event_type == tpe))
        q.processAllAvailable()
        val streamed = spark.table(s"ewma_$tpe")
          .as[graft.streaming.EwmaOut].collect()
        assert(streamed.nonEmpty, s"$tpe emitted nothing")
        var matched = 0
        streamed.foreach { o =>
          batchRows.get((o.hr_no, tpe)) match {
            case Some(bEw) =>
              matched += 1
              assert(o.ew_scaled == bEw,
                s"$tpe hr=${o.hr_no}: stream=${o.ew_scaled} batch=$bEw")
            case None =>
              assert(o.x == 0L && o.ew_scaled == 0L,
                s"$tpe hr=${o.hr_no}: stream-only row must be zero, " +
                  s"got (${o.x}, ${o.ew_scaled})")
          }
        }
        assert(matched > 10, s"$tpe matched only $matched batch rows")
      } finally q.stop()
    }
  }

  test("streaming LOCF forward-fill matches batch s19 on every sealed row") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batchRows = SparkEntry.queries("s19_locf")(spark, TestSpark.sf).collect()
      .map { r =>
        r.getAs[Long]("event_id") ->
          (Option(r.getAs[java.lang.Double]("reading")).map(_.doubleValue),
            Option(r.getAs[java.lang.Double]("filled")).map(_.doubleValue))
      }.toMap
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => LocfEvent(r.getTimestamp(0), r.getLong(1), r.getString(2),
        if (r.getLong(1) % 7 == 0) Some(r.getDouble(3)) else None))
      .sortBy(e => EventPipeline.micros(e.ts))
    val in = MemoryStream[LocfEvent]
    val q = EventPipeline.locfStream(in.toDS())
      .writeStream.format("memory").queryName("locf")
      .outputMode(OutputMode.Append).start()
    try {
      // Three chronological chunks, shuffled WITHIN each chunk — the
      // seal-sort must restore event-time order across micro-batches.
      val chunks = events.grouped((events.length + 2) / 3).toSeq
      val rnd = new scala.util.Random(7)
      chunks.foreach { c => in.addData(rnd.shuffle(c.toSeq)); q.processAllAvailable() }
      val streamed = spark.table("locf").as[LocfOut].collect()
      assert(streamed.nonEmpty)
      // Each type's trailing 3 h stays pending — everything else seals.
      assert(streamed.length >= events.length - 200,
        s"coverage ${streamed.length}/${events.length}")
      assert(streamed.map(_.event_id).distinct.length == streamed.length)
      streamed.foreach { o =>
        val (br, bf) = batchRows(o.event_id)
        assert(o.reading == br && o.filled == bf,
          s"event ${o.event_id}: stream=(${o.reading},${o.filled}) batch=($br,$bf)")
      }
    } finally q.stop()
  }

  test("streaming windowed top-k matches batch s07 on every sealed hour") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"), col("value")).as[ValueEvent]
      .collect().toSeq
    // A far-future sentinel pushes the watermark past every real hour's
    // end so every real hour seals; the sentinel's own hour stays open.
    val maxMs = events.map(e => e.ts.getTime).max
    val sentinel = ValueEvent(
      new java.sql.Timestamp(maxMs + 4L * 3600L * 1000L), "zzz_sentinel", 0.0)
    val in = MemoryStream[ValueEvent]
    val q = EventPipeline.windowTopKStream(in.toDS())
      .writeStream.format("memory").queryName("wtopk")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      in.addData(Seq(sentinel)) // advances watermark; timeouts fire
      q.processAllAvailable()
      in.addData(Seq.empty)     // one more trigger drains remaining timeouts
      q.processAllAvailable()
      val streamedRows = spark.table("wtopk").as[TopKOut].collect()
        .filter(_.event_type != "zzz_sentinel")
      // Exactly-once: a re-fired timeout would duplicate rows, which a
      // bare set compare could not see.
      assert(streamedRows.length == streamedRows.distinct.length,
        s"duplicate emissions: ${streamedRows.groupBy(identity).filter(_._2.length > 1).keys.take(3)}")
      val streamed = streamedRows.toSet
      val batch = SparkEntry.queries("s07_window_topk")(spark, TestSpark.sf)
        .collect()
        .map(r => TopKOut(r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-batch= ${(streamed -- batch).take(3)} batch-stream= ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming funnel advances stages across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TypedEvent]
    val q = EventPipeline.funnel(in.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode(OutputMode.Update).start()
    try {
      // Batch 1: user 1 views then clicks; user 2 clicks with no view.
      in.addData(
        TypedEvent(1L, ts(0), "view"), TypedEvent(1L, ts(5), "click"),
        TypedEvent(2L, ts(1), "click"))
      q.processAllAvailable()
      val afterB1 = spark.table("funnel").as[FunnelOut].collect().toSet
      assert(afterB1 == Set(FunnelOut(1L, 2)), s"afterB1=$afterB1")
      // Batch 2: user 1 purchases; user 2 finally views (stage 1 only —
      // the earlier click does not retro-qualify, documented semantics).
      in.addData(TypedEvent(1L, ts(10), "purchase"), TypedEvent(2L, ts(2), "view"))
      q.processAllAvailable()
      val all = spark.table("funnel").as[FunnelOut].collect().toSet
      assert(all == Set(FunnelOut(1L, 2), FunnelOut(1L, 3), FunnelOut(2L, 1)), s"all=$all")
    } finally q.stop()
  }

  test("state metrics: heavy twins hold O(keys + pending hours) state, not O(events)") {
    // The O(rate × window) state claims as NUMBERS from the engine's own
    // StreamingQueryProgress, not prose: per-type recurrences (CUSUM,
    // concurrency) must hold exactly ONE state row per driven key at
    // their peak, and the hour-keyed top-k must RELEASE sealed hours —
    // its post-seal state cannot retain the corpus. Memory and batch
    // durations are bounded too, so the claims survive as the corpus
    // grows (state scales with keys/pending-hours, events only pass
    // through).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val hourUs = 3600L * 1000000L
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type"), col("value")).as[ValueEvent]
      .collect().toSeq
    val nEvents = events.size
    val tpe = events.map(_.event_type).min
    val typed = events.filter(_.event_type == tpe)
      .map(e => HourEvent(e.ts, e.event_type))
    val hours = typed.map(e => EventPipeline.micros(e.ts) / hourUs)
    def run[T: org.apache.spark.sql.Encoder](
        name: String, data: Seq[T],
        mk: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.DataFrame)
        : (Long, Long, Long, Long) = {
      val in = MemoryStream[T]
      val q = mk(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(data); q.processAllAvailable()
        in.addData(Seq.empty); q.processAllAvailable()
        val progs = q.recentProgress.toSeq
        val peakRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal)).max
        val finalRows = progs.reverse.find(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        val peakMem = progs.flatMap(_.stateOperators.map(_.memoryUsedBytes)).max
        val maxDur = progs.map(_.batchDuration).max
        (peakRows, finalRows, peakMem, maxDur)
      } finally q.stop()
    }
    // CUSUM: one driven type -> exactly one state row, ever.
    val (cuPeak, _, cuMem, cuDur) = run[HourEvent]("m_cusum", typed,
      ds => EventPipeline.cusumStream(ds, typed.size.toLong,
        (hours.max - hours.min + 1), hours.min).toDF())
    assert(cuPeak == 1L, s"CUSUM state rows = $cuPeak, want 1 (events=$nEvents)")
    // Concurrency: same per-key recurrence shape, same bound.
    val (coPeak, _, coMem, coDur) = run[HourEvent]("m_conc", typed,
      ds => EventPipeline.concurrencyStream(ds, 300L * 1000000L, hours.min).toDF())
    assert(coPeak == 1L, s"concurrency state rows = $coPeak, want 1")
    // Windowed top-k (hour-keyed): a far-future sentinel seals every real
    // hour; sealed hours must LEAVE the store — final state is the
    // sentinel's own open hour, nothing else.
    val maxMs = events.map(_.ts.getTime).max
    val sentinel = ValueEvent(
      new java.sql.Timestamp(maxMs + 4L * 3600L * 1000L), "zzz_sentinel", 0.0)
    val (tkPeak, tkFinal, tkMem, tkDur) = run[ValueEvent]("m_topk",
      events :+ sentinel, ds => EventPipeline.windowTopKStream(ds).toDF())
    val distinctHours = events.map(_.ts.getTime / 3600000L).distinct.size
    assert(tkPeak <= distinctHours + 1,
      s"top-k peak state $tkPeak exceeds open-hour bound ${distinctHours + 1}")
    assert(tkFinal <= 2L,
      s"top-k retained $tkFinal state rows after sealing (events=$nEvents) — leak")
    // Memory and latency stay measured and sane (loose sanity ceilings;
    // the real claims are the row bounds above).
    Seq(("cusum", cuMem, cuDur), ("conc", coMem, coDur), ("topk", tkMem, tkDur))
      .foreach { case (n, mem, dur) =>
        assert(mem > 0L && mem < (64L << 20), s"$n memoryUsedBytes=$mem")
        assert(dur > 0L && dur < 60000L, s"$n batchDuration=$dur ms")
      }
  }

  test("streaming concurrency matches a brute-force sweep on every sealed hour") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // The stream seals hours strictly in order and carries the standing
    // concurrency across boundaries; the oracle is an independent
    // single-threaded sweep over the same (t, delta) multiset with the
    // identical close-before-open tie rule. Exact integers throughout,
    // so every sealed hour must match EXACTLY.
    val hourUs = 3600L * 1000000L
    val span = 300L * 1000000L
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("ts"), col("event_type")).as[HourEvent].collect().toSeq
    val types = events.map(_.event_type).distinct.sorted.take(2)
    types.foreach { tpe =>
      val ts = events.filter(_.event_type == tpe)
        .map(e => EventPipeline.micros(e.ts)).sorted
      val spineStart = ts.head / hourUs
      // Brute-force per-hour sweep (peak includes the entry level).
      val deltas = ts.flatMap(t => Seq((t, 1L), (t + span, -1L)))
        .sortBy(identity)
      val maxHour = deltas.map(_._1 / hourUs).max
      var run = 0L
      val expected = (spineStart to maxHour).map { h =>
        var peak = run
        deltas.filter(_._1 / hourUs == h).foreach { case (_, d) =>
          run += d; peak = math.max(peak, run)
        }
        h -> (peak, run)
      }.toMap
      val in = MemoryStream[HourEvent]
      val q = EventPipeline.concurrencyStream(in.toDS(), span, spineStart)
        .writeStream.format("memory").queryName(s"conc_$tpe")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(events.filter(_.event_type == tpe))
        q.processAllAvailable()
        val streamed = spark.table(s"conc_$tpe").as[ConcurrencyOut].collect()
        assert(streamed.nonEmpty, s"$tpe emitted nothing")
        // Trailing hours within the finalization horizon stay pending.
        assert(streamed.length >= expected.size - 4,
          s"$tpe coverage ${streamed.length}/${expected.size}")
        streamed.foreach { o =>
          val (p, e) = expected(o.hour_start_us / hourUs)
          assert(o.peak_concurrency == p && o.ending_concurrency == e,
            s"$tpe hr=${o.hour_start_us / hourUs}: " +
              s"stream=(${o.peak_concurrency},${o.ending_concurrency}) batch=($p,$e)")
        }
      } finally q.stop()
    }
  }

  test("streaming LSH ingest: replayed batches append nothing twice; probe equals a from-scratch rebuild") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft-annstream").toString + "/bands"
    val (bandBits, nBands) = (4, 4)
    val e = Tables.embeddings(spark, TestSpark.sf)
    val standing = e.filter(col("vec_id") < 300)
    val batch1 = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = e.filter(col("vec_id") >= 400)
    val total = e.count()

    // The sink is the foreachBatch function a writeStream would call;
    // driving it directly lets the test FORCE the exact replay sequence
    // a recovering stream produces (epoch re-run after a crash).
    val sink = graft.operators.AnnIndex.streamingLshSink(path, "annstream", bandBits, nBands)
    sink(standing.toDF(), 0L)
    sink(batch1.toDF(), 1L)
    sink(batch1.toDF(), 1L) // crash-recovery replay of the SAME epoch
    sink(batch2.toDF(), 2L)
    sink(batch2.toDF(), 2L) // and again

    // Exactly-once: every vector banded exactly nBands times — the
    // replays committed nothing (ledger hit), appended nothing.
    val table = graft.sources.Versioned.read(spark, path)
    assert(table.count() == total * nBands,
      s"expected ${total * nBands} band rows, got ${table.count()}")
    assert(table.select(col("vec_id")).distinct().count() == total)

    // Post-stream probe == a from-scratch rebuild of the SAME corpus
    // through the batch bucketed layout (cross-layout equality: same
    // geometry, same candidates, same re-rank).
    val qv = e.filter(col("vec_id") === 42).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val streamed = graft.operators.AnnIndex
      .probeLshVersioned(spark, path, qv, bandBits, nBands, k = 10)
    // Directory pruning on the executed plan: the probe reads only the
    // query's band-key partitions, never the whole layout.
    val planStr = streamed.queryExecution.executedPlan.treeString
    assert("""PartitionFilters: \[[^\]]*bkey[^\]]* IN \(""".r
      .findFirstIn(planStr).isDefined,
      "versioned LSH probe not partition-pruned: " + planStr.take(600))
    val got = streamed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    graft.operators.AnnIndex.writeLsh(e, bandBits, nBands, "annstream_rebuild", 4)
    val rebuilt = graft.operators.AnnIndex
      .probeLsh(spark, "annstream_rebuild", e, qv, bandBits, nBands, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == rebuilt, s"streamed $got != rebuilt $rebuilt")
    graft.Ddl.dropManagedTable(spark, "annstream_rebuild")
  }

  test("streaming incremental dedup: micro-batched crawl + epoch replays ≡ one-shot d13 cascade") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    val isBatch = col("doc_id") % 5 === 0
    val prefix = "graft_streamd13"
    Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))
    Dedup.writeCorpusDedupLayout(docs.filter(!isBatch), prefix)
    val crawl = docs.filter(isBatch).localCheckpoint()
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-d13stream").toString + "/admitted"

    // The sink is the foreachBatch function a writeStream would call;
    // driving it directly forces the exact epoch-replay sequence a
    // recovering stream produces (same technique as the LSH ingest test
    // above). Crawl split into 3 micro-batches by doc_id thirds — an
    // arbitrary split, because d13's contract judges each crawl doc
    // against the STANDING corpus only, so ANY split must reproduce the
    // one-shot verdicts.
    val sink = Dedup.streamingIncrementalDedupSink(prefix, outPath, "d13stream")
    val parts = (0 until 3).map(i => crawl.filter(col("doc_id") % 3 === i).toDF())
    sink(parts(0), 0L)
    sink(parts(1), 1L)
    sink(parts(1), 1L) // crash-recovery replay of the SAME epoch
    sink(parts(2), 2L)
    sink(parts(2), 2L) // and again

    val streamed = graft.sources.Versioned.read(spark, outPath)
      .collect().map(_.toString).toSeq
    // Exactly-once: the replayed epochs committed nothing — no document
    // admitted twice across the whole stream.
    assert(streamed.size == streamed.toSet.size,
      s"replay double-admitted ${streamed.size - streamed.toSet.size} docs")
    // Stream ≡ batch: union of per-epoch admissions == the one-shot
    // cascade on the whole crawl against the same persisted layout...
    val oneShot = Dedup.incrementalDedupOnLayout(spark, prefix, crawl)
      .collect().map(_.toString).toSet
    assert(streamed.toSet == oneShot,
      s"missing=${(oneShot -- streamed).take(3)} extra=${(streamed.toSet -- oneShot).take(3)}")
    // ...and == the registered d13's in-memory form, end-to-end (the
    // layout ≡ memory leg is pinned in AnnIndexSpec; this closes
    // stream ≡ layout ≡ memory in one chain).
    val mem = SparkEntry.queries("d13_incremental_dedup")(spark, TestSpark.sf)
      .collect().map(_.toString).toSet
    assert(streamed.toSet == mem)
    Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))
  }

  test("stream → fold → next epoch: the folded corpus rejects duplicates of admitted docs") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    val prefix = "graft_streamfold"
    Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))
    Dedup.writeCorpusDedupLayout(docs, prefix)
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-d13fold").toString + "/admitted"
    val sink = Dedup.streamingIncrementalDedupSink(prefix, outPath, "foldchain")

    // Epoch 0: a new-vocabulary crawl — judged only against the standing
    // corpus, so every doc is admitted.
    def vocabDocs(pfx: String, idShift: Long, mod: Int) = docs
      .filter(col("doc_id") % 11 === mod)
      .select((col("doc_id") + idShift).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(pfx), w)), " ").as("text"),
        col("source"), col("n_chars"))
    val epoch0 = vocabDocs("qf", 20000000L, 0).localCheckpoint()
    sink(epoch0.toDF(), 0L)
    val admitted0 = graft.sources.Versioned.read(spark, outPath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(admitted0 == epoch0.collect().map(_.getLong(0)).toSet)

    // Fold the admitted log back into the standing layout.
    val textStore = docs.select(col("doc_id"), col("text"))
      .unionByName(epoch0.select(col("doc_id"), col("text")))
    assert(Dedup.refreshCorpusLayout(spark, prefix, outPath, textStore).nonEmpty)

    // Epoch 1: exact copies of epoch-0 docs (fresh doc_ids) + one
    // genuinely new doc. The copies must now be REJECTED — the fold made
    // epoch 0 part of the standing corpus — and the new doc admitted.
    val copies = epoch0.select((col("doc_id") + 5000000L).as("doc_id"),
      col("text"), col("source"), col("n_chars"))
    val fresh = vocabDocs("zf", 30000000L, 1)
    sink(copies.unionByName(fresh).toDF(), 1L)
    val admitted1 = graft.sources.Versioned.read(spark, outPath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet -- admitted0
    assert(admitted1 == fresh.collect().map(_.getLong(0)).toSet,
      s"epoch-1 admissions wrong: ${admitted1.take(5)}")
    Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))
  }
}
