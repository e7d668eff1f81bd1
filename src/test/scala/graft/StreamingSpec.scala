package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{approx_count_distinct, col, count, countDistinct, lit, window}

import graft.streaming.StreamingOps

/** The streaming sessionization must agree with the batch LAG-gap
  * sessionization (gated q17) on identical data: same sessions (start,
  * membership count) and same decimal-accumulated value totals.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("session_window streaming sessionization equals batch q17 on the fixture") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect()
    assert(rows.nonEmpty)

    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    stream.addData(rows.toSeq)
    val q = StreamingOps.sessionize(stream.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sess_stream")
      .select("user_id", "start_us", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

    val batch = SparkEntry.queries("q17_sessionize")(spark, sfDir)
      .select("user_id", "start_us", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

    assert(streamed === batch)
  }

  test("stateful streaming dedup equals batch exact dedup in one batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows.toSeq)
    val q = StreamingOps.dedupExactStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.ops.DedupOps.exact(Tables.load(spark, sfDir, "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed === batch)
  }

  test("streaming simhash near-dup pairs equal batch simhashPairs64 in one batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def pairs(name: String): Set[(Long, Long, Long)] =
      spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows.toSeq)
    val q = StreamingOps.simhashPairsStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("simhash_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // the TTL'd twin, every event at one time and a TTL past all of them
    val at = new java.sql.Timestamp(1700000000000L)
    val ttlStream = MemoryStream[(Long, String, java.sql.Timestamp)]
    ttlStream.addData(rows.toSeq.map { case (id, text) => (id, text, at) })
    val qTtl = StreamingOps.simhashPairsStreamTtl(
        ttlStream.toDF().toDF("doc_id", "text", "ts"), ttlMs = 365L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("simhash_stream_ttl")
      .outputMode("append").start()
    try qTtl.processAllAvailable() finally qTtl.stop()
    val batch = graft.ops.DedupOps.simhashPairs64(
        Tables.load(spark, sfDir, "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dup pairs at radius 3")
    assert(pairs("simhash_stream") === batch)
    assert(pairs("simhash_stream_ttl") === batch)
  }

  test("streaming multimodal near-dup pairs equal batch multimodalNearDup across two batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    assert(rows.nonEmpty)
    // split mid-corpus so cross-batch pairs exercise the bucket state
    val (first, second) = rows.toSeq.sortBy(_._1).splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.multimodalNearDupStream(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mm_stream")
      .outputMode("append").start()
    try {
      stream.addData(first); q.processAllAvailable()
      stream.addData(second); q.processAllAvailable()
      stream.addData(second.take(1)) // re-delivery must not duplicate pairs
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mm_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ops.MultimodalOps.multimodalNearDup(
        graft.ops.MultimodalOps.frameFeatures(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch.nonEmpty, "fixture must contain multimodal near-dup pairs")
    assert(streamed.size === streamed.toSet.size, "a pair was emitted twice")
    assert(streamed.toSet === batch.toSet)

    // same equivalence at the WIDENED production geometry the gated entry
    // runs (8-dim features → 8-bit dhash slots → 64-bit signature, slot 7
    // on the sign bit — r15): one batch suffices, the state engine is the
    // same; this pins the in-row signature against the SQL path at dim=8
    val stream64 = MemoryStream[(Long, String)]
    stream64.addData(rows.toSeq)
    val q64 = StreamingOps.multimodalNearDupStream(
        stream64.toDF().toDF("doc_id", "text"),
        slotBits = 8, bits = 64, dim = 8)
      .writeStream.format("memory").queryName("mm_stream64")
      .outputMode("append").start()
    try q64.processAllAvailable() finally q64.stop()
    val streamed64 = spark.table("mm_stream64")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch64 = graft.ops.MultimodalOps.multimodalNearDup(
        graft.ops.MultimodalOps.frameFeatures(docs, dim = 8),
        slotBits = 8, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed64 === batch64)
  }

  test("streaming simhash pairs: cross-batch pair found once, never re-emitted") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.simhashPairsStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("simhash_inc")
      .outputMode("append").start()
    try {
      stream.addData(Seq((1L, base), (2L, "completely different words about other topics entirely")))
      q.processAllAvailable()
      stream.addData(Seq((3L, base))) // exact twin of doc 1 from batch 1
      q.processAllAvailable()
      stream.addData(Seq((3L, base))) // re-delivery must not duplicate the pair
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("simhash_inc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 3L, 0L)),
      s"expected exactly one cross-batch pair, got: $rows")
  }

  test("TTL'd streaming simhash pairs: expired docs stop matching, fresh ones match") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(minutes: Int) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different words about other topics entirely for sure"
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingOps.simhashPairsStreamTtl(
        stream.toDF().toDF("doc_id", "text", "ts"), ttlMs = 60000L,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("simhash_ttl")
      .outputMode("append").start()
    try {
      // batch 1: two twins in-window → one pair, like the un-TTL'd variant
      stream.addData(Seq((1L, base, ts(0)), (2L, other, ts(0)), (3L, base, ts(0))))
      q.processAllAvailable()
      // advance event time far past ts(0) + ttl, then let the timeout fire
      stream.addData(Seq((10L, "filler words one two three four five six", ts(60))))
      q.processAllAvailable()
      stream.addData(Seq((11L, "more filler text seven eight nine ten eleven", ts(61))))
      q.processAllAvailable()
      // a twin of doc 1 arrives AFTER expiry → no pair; a twin of the
      // fresh doc 20 in the same horizon → pair
      stream.addData(Seq((20L, base, ts(65))))
      q.processAllAvailable()
      stream.addData(Seq((21L, base, ts(66))))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("simhash_ttl")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 3L, 0L), (20L, 21L, 0L)),
      s"expected in-window pairs only, got: $rows")
  }

  test("stateful streaming dedup flags later-batch duplicates against earlier state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupExactStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_inc")
      .outputMode("append").start()
    try {
      stream.addData(Seq((10L, "same doc"), (11L, "other")))
      q.processAllAvailable()
      stream.addData(Seq((12L, "Same Doc "), (13L, "third"))) // dup of 10 after norm
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_inc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows === Set(
      (10L, 10L, 0), (11L, 11L, 0),
      (12L, 10L, 1), // matched the state from batch 1
      (13L, 13L, 0)))
  }

  test("TTL'd streaming dedup: keys expire under the watermark, re-arrival re-keeps") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(minutes: Int) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    // watermark delay 0 → watermark = max event time of prior batches;
    // ttl 1 minute past a key's last event
    val q = StreamingOps.dedupExactStreamTtl(
        stream.toDF().toDF("doc_id", "text", "ts"), ttlMs = 60000L,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      // batch 1 at t+0: in-window dedup behaves exactly like the
      // un-TTL'd variant (13 flags against 10)
      stream.addData(Seq((10L, "same doc", ts(0)), (11L, "other", ts(0)),
        (13L, "same doc", ts(0))))
      q.processAllAvailable()
      // batch 2 advances event time far past t+0 + ttl…
      stream.addData(Seq((20L, "filler", ts(60))))
      q.processAllAvailable()
      // …batch 3's watermark (t+60) then fires the t+1 timeouts,
      // dropping the idle keys' state
      stream.addData(Seq((21L, "filler two", ts(61))))
      q.processAllAvailable()
      // batch 4: a dup of doc 10 arrives AFTER expiry → re-keeps fresh
      stream.addData(Seq((12L, "Same Doc ", ts(65))))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_ttl")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows === Set(
      (10L, 10L, 0), (11L, 11L, 0), (13L, 10L, 1), // within the window: identical to dedupExactStream
      (20L, 20L, 0), (21L, 21L, 0),
      (12L, 12L, 0))) // state expired → not flagged against doc 10
  }

  test("streaming windowed approx-distinct equals the batch aggregate and bounds its error") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
    val rows = events.select("user_id", "ts")
      .as[(Long, java.sql.Timestamp)].collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    stream.addData(rows.toSeq)
    val q = StreamingOps.approxDistinctUsers(stream.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("adu_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("adu_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // HLL merge is order-independent → streaming == batch, exactly
    val batch = events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .selectExpr("unix_micros(w.start) as start_us", "n_users_approx", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)

    // and the estimate tracks the exact distinct count within ~5 rsd
    val exact = events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .selectExpr("unix_micros(w.start) as start_us", "n_exact")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    streamed.foreach { case (start, approx, _) =>
      val ex = exact(start).toDouble
      assert(math.abs(approx - ex) <= math.max(5.0, 5 * 0.05 * ex),
        s"window $start: approx $approx vs exact $ex")
    }
  }

  test("stream-static enrichment equals the batch join (broadcast, stateless)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // sort before limit: a bare limit is not deterministic across the
    // three independent evaluations below (collect, micro-batch dim
    // side, batch comparison)
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id").orderBy("event_id").limit(500)
    val dim = events.select("user_id").distinct()
      .selectExpr("user_id", "concat('u', user_id) as user_tag")
    val rows = events.as[(Long, Long)].collect()
    val stream = MemoryStream[(Long, Long)]
    stream.addData(rows.toSeq)
    val q = StreamingOps.enrich(
        stream.toDF().toDF("event_id", "user_id"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_stream")
      .select("event_id", "user_id", "user_tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = events.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "user_tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming curation gate equals the batch scrub+score, stateless across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id",
        "concat(text, case when doc_id % 2 = 0 then ' mail x@y.org' else '' end) as text")
      .orderBy("doc_id").limit(200)
    val rows = docs.as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    // two deliveries: a stateless gate must score each record identically
    // regardless of batch boundaries
    stream.addData(rows.take(100).toSeq)
    stream.addData(rows.drop(100).toSeq)
    val q = StreamingOps.curateStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("curate_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    val batch = StreamingOps.curateStream(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    assert(streamed === batch && streamed.nonEmpty)
    assert(streamed.exists(_._3 > 0) && streamed.exists(_._5 == 0),
      "fixture should exercise both PII hits and quality drops")
  }

  test("streaming C4 cleaning and CDC chunking equal their batch ops across batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id",
        """concat('Keep this sentence with enough words today.', '\n',
          |  'frag', '\n', text) as text""".stripMargin)
      .orderBy("doc_id").limit(120)
    val rows = docs.as[(Long, String)].collect()

    val s1 = MemoryStream[(Long, String)]
    s1.addData(rows.take(60).toSeq)
    s1.addData(rows.drop(60).toSeq)
    val q1 = StreamingOps.c4FilterStream(s1.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    val c4Streamed = spark.table("c4_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(5), r.getString(6))).toSet
    val c4Batch = graft.ops.TextOps.c4Filter(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(5), r.getString(6))).toSet
    assert(c4Streamed === c4Batch && c4Streamed.nonEmpty)

    val s2 = MemoryStream[(Long, String)]
    s2.addData(rows.take(60).toSeq)
    s2.addData(rows.drop(60).toSeq)
    val q2 = StreamingOps.cdcChunksStream(s2.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val cdcStreamed = spark.table("cdc_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    val cdcBatch = graft.ops.TextOps.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    assert(cdcStreamed === cdcBatch && cdcStreamed.nonEmpty)
  }

  test("streaming decontamination gate: one-sided vs exact, batch-equal at tight fpp") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables.load(spark, sfDir, "documents")
    val cand = all.filter("doc_id % 7 <> 0").select("doc_id", "text")
    val ref = all.filter("doc_id % 7 = 0")
    val thr = 0.05
    // the exact gate's verdicts, from the oracle-gated batch scorer
    val exact = graft.ops.DedupOps.contamination(cand, ref, 8).collect()
      .map(r => r.getLong(0) ->
        (r.isNullAt(3) || r.getDouble(3) <= thr)).toMap

    def streamKept(fpp: Double): Map[Long, Int] = {
      val bloom = graft.ops.DedupOps.referenceBloom(ref, 8, fpp)
      val rows = cand.orderBy("doc_id").as[(Long, String)].collect()
      val stream = MemoryStream[(Long, String)]
      // two deliveries: the gate is stateless, batch boundaries must not matter
      stream.addData(rows.take(rows.length / 2).toSeq)
      stream.addData(rows.drop(rows.length / 2).toSeq)
      val name = s"decon_stream_${(fpp * 1e6).toLong}"
      val q = StreamingOps.decontaminateGateStream(
          stream.toDF().toDF("doc_id", "text"), bloom, 8, thr)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getInt(5)).toMap
    }

    // tight sketch: zero false positives on this corpus → exact agreement
    val tight = streamKept(1e-8)
    assert(tight.size === exact.size)
    assert(tight.forall { case (id, k) => (k == 1) === exact(id) },
      "tight-fpp stream gate must equal the exact gate")
    assert(tight.values.exists(_ == 0) && tight.values.exists(_ == 1),
      "fixture should exercise both verdicts")
    // sloppy sketch: false positives may drop extra docs but NEVER keep a
    // doc the exact gate drops (no false negatives in a Bloom filter)
    val sloppy = streamKept(0.5)
    assert(sloppy.forall { case (id, k) => k == 0 || exact(id) },
      "stream gate kept a doc the exact gate drops")
  }

  test("streaming heavy hitters: candidate superset with valid bounds, merged across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val share = 0.0015
    val k = math.ceil(1.0 / share).toInt
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    // true per-token counts and the exact heavy set on the FULL corpus —
    // what the state must converge to after both deliveries merge
    val trueCnt = docs
      .selectExpr(s"explode(${graft.ops.TextOps.wordsExpr("text")}) as token")
      .filter("token <> ''").groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = trueCnt.values.sum
    val exactHeavy = graft.ops.SketchOps.heavyHitters(docs, share)
      .collect().map(_.getString(0)).toSet
    assert(exactHeavy.nonEmpty)

    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.heavyHittersStream(
        stream.toDF().toDF("doc_id", "text"), share)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    try {
      // two deliveries: the second micro-batch's partials must MERGE into
      // the first's state-store summary (the PODS'12 offset rule), not
      // restart it — the bounds below only hold against full-corpus counts
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("hh_stream").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed.nonEmpty)
    // the total count rode the state buffer across both batches
    assert(streamed.values.head._3 === n)
    // no miss: every exactly-heavy token is in the emitted candidate set
    exactHeavy.foreach(t => assert(streamed.contains(t), s"missed heavy token $t"))
    // bounds: cnt_lo <= true <= cnt_hi for every emission, with the
    // documented width n/(k+1)
    streamed.foreach { case (t, (lo, hi, _)) =>
      val c = trueCnt(t)
      assert(lo <= c && c <= hi, s"$t: true $c outside [$lo, $hi]")
      assert(hi - lo === n / (k + 1))
    }
  }

  test("streaming KMV sketch equals the batch sketch, merged across batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 16
    val events = Tables.load(spark, sfDir, "events")
      .select("event_type", "user_id").orderBy("user_id", "event_type")
    // the batch op's sketch columns on the full fixture — what the
    // streamed state must converge to after both deliveries merge
    val batch = graft.ops.SketchOps
      .kmvDistinct(events, "event_type", "cast(user_id as string)", k = k)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(batch.nonEmpty)

    val rows = events.as[(String, Long)].collect()
    val stream = MemoryStream[(String, Long)]
    val q = StreamingOps.kmvDistinctStream(
        stream.toDF().toDF("event_type", "user_id"),
        "event_type", "cast(user_id as string)", k = k)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      // two deliveries: the second micro-batch's bottom-k partials must
      // MERGE into the state-store buffer (union, re-take-k), not restart
      // it — only then does the stream equal the one-pass batch sketch
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("kmv_stream").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (g, (nKept, kth, est)) =>
      val (bN, bK, bE) = batch(g)
      assert(nKept === bN && kth === bK, s"$g: sketch diverged from batch")
      assert(java.lang.Double.doubleToLongBits(est) ===
        java.lang.Double.doubleToLongBits(bE), s"$g: estimate diverged")
    }
  }

  test("streaming AMS F2 equals the batch estimate, summed across batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
      .select("event_type", "user_id").orderBy("user_id", "event_type")
    val batch = graft.ops.SketchOps
      .amsF2(events, "event_type", "cast(user_id as string)", r = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty)

    val rows = events.as[(String, Long)].collect()
    val stream = MemoryStream[(String, Long)]
    val q = StreamingOps.amsF2Stream(
        stream.toDF().toDF("event_type", "user_id"),
        "event_type", "cast(user_id as string)", r = 16)
      .writeStream.format("memory").queryName("ams_stream")
      .outputMode("complete").start()
    try {
      // two deliveries: the counters are LINEAR, so the second batch's
      // partial sums must ADD into the state — only then the estimate
      // over the full corpus matches the one-pass batch value
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("ams_stream").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (g, est) =>
      assert(java.lang.Double.doubleToLongBits(est) ===
        java.lang.Double.doubleToLongBits(batch(g)), s"$g: estimate diverged")
    }
  }

  test("streaming Count-Min table equals the batch table, summed across batch cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
      .select("user_id").orderBy("user_id")
    val batch = graft.ops.SketchOps
      .cmSketch(events, "cast(user_id as string)", 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)

    val rows = events.as[Long].collect()
    val stream = MemoryStream[Long]
    val q = StreamingOps.countMinStream(
        stream.toDF().toDF("user_id"),
        "cast(user_id as string)", depth = 4, width = 64)
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete").start()
    try {
      // two deliveries: cells are LINEAR, so the second batch's partial
      // counts must ADD into the state-store value — only then the table
      // equals the one-pass batch table
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("cm_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("streaming t-digest: rank bound holds across an adversarial two-batch cut; state stays O(δ)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val qs = Seq(0.5, 0.9, 0.99)
    // ORDER BY value makes the cut adversarial: batch 1 holds the low half
    // of every group, batch 2 the high half — a digest that restarted (or
    // merged wrongly) would certify batch 2's distribution, not the union
    val events = Tables.load(spark, sfDir, "events")
      .filter("value is not null")
      .select("event_type", "value").orderBy("value")
    val rows = events.as[(String, Double)].collect()
    val stream = MemoryStream[(String, Double)]
    val q = StreamingOps.tdigestStream(
        stream.toDF().toDF("event_type", "value"),
        "event_type", "value", qs, delta = 100)
      .writeStream.format("memory").queryName("td_stream")
      .outputMode("complete").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val byGrp = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val streamed = spark.table("td_stream").collect()
    assert(streamed.map(_.getString(0)).toSet === byGrp.keySet)
    streamed.foreach { r =>
      val vs = byGrp(r.getString(0))
      assert(r.getLong(1) === vs.length.toLong, s"${r.getString(0)}: n diverged")
      assert(r.getInt(2) > 0 && r.getInt(2) <= 200,
        s"${r.getString(0)}: ${r.getInt(2)} centroids breaks the O(δ) contract")
      val ests = r.getSeq[Double](3)
      qs.zipWithIndex.foreach { case (qq, i) =>
        val rank = vs.count(_ <= ests(i)).toDouble
        assert(math.abs(rank - qq * vs.length) <= 0.01 * vs.length + 1.0,
          s"${r.getString(0)} q=$qq: rank $rank of est ${ests(i)} out of bound (n=${vs.length})")
      }
    }
  }

  test("streaming daily volume equals batch; read-side z-extraction equals the batch anomaly op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
      .select("event_type", "ts").orderBy("event_type", "ts")
    val batchAnom = graft.ops.ProfileOps
      .rateAnomalies(Tables.load(spark, sfDir, "events")).collect()
      .map(r => (r.getString(0), r.getDate(1)) -> r.toSeq.drop(2)).toMap
    assert(batchAnom.nonEmpty)

    val rows = events.as[(String, java.sql.Timestamp)].collect()
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingOps.rateDailyStream(
        stream.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("rate_stream")
      .outputMode("complete").start()
    try {
      // two deliveries: the (type, day) count is linear, so batch 2's
      // partials must ADD into the state-store count
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // the read side applies the SAME z-extraction stage the batch op
    // uses (localCheckpoint: MemoryPlan cannot self-join for the moment
    // rollup — resolving conflicting references — so snapshot it first,
    // which is also what a real consumer of the sink table would read)
    val streamedAnom = graft.ops.ProfileOps
      .zscoreDaily(spark.table("rate_stream").localCheckpoint(), 3.0).collect()
      .map(r => (r.getString(0), r.getDate(1)) -> r.toSeq.drop(2)).toMap
    assert(streamedAnom === batchAnom)
  }

  test("streaming score blocks: read-side AUC and KS equal the batch trio across a two-batch cut") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the op_score_auc/op_score_ks slice: document length as a
    // classifier for lang='en', per source
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "n_chars", "lang").orderBy("source", "n_chars")
    val batchAuc = graft.ops.ProfileOps
      .scoreAuc(docs, "source", "n_chars", "lang = 'en'")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val batchKs = graft.ops.ProfileOps
      .scoreKs(docs, "source", "n_chars", "lang = 'en'")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(batchAuc.nonEmpty && batchKs.nonEmpty)

    val rows = docs.as[(String, Long, String)].collect()
    val stream = MemoryStream[(String, Long, String)]
    val q = StreamingOps.scoreBlocksStream(
        stream.toDF().toDF("source", "n_chars", "lang"),
        "source", "n_chars", "lang = 'en'")
      .writeStream.format("memory").queryName("score_stream")
      .outputMode("complete").start()
    try {
      // the per-(key, score) class counts are linear — batch 2's
      // partials must ADD into the state-store counts
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // the read side runs the SAME extraction halves the batch trio runs
    // (localCheckpoint: the rate_stream precedent — a MemoryPlan cannot
    // self-join for the prefix pass without conflicting references);
    // identical block tables → bit-identical readouts
    val blocks = spark.table("score_stream").localCheckpoint()
    val streamAuc = graft.ops.ProfileOps.scoreAucFromBlocks(blocks, "source")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val streamKs = graft.ops.ProfileOps.scoreKsFromBlocks(blocks, "source")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(streamAuc === batchAuc)
    assert(streamKs === batchKs)
    spark.catalog.clearCache()
  }

  test("streaming frame blocks: read-side RANGE-frame aggregates equal the batch op across a two-batch cut") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr, lit}
    // the op_range_frame_agg geometry: per-priority price frames
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderpriority", "o_totalprice").orderBy("o_totalprice")
    // the batch op joins frames back per row; collapse to the per-(key, v)
    // frame map — the unit the streamed block table reproduces
    val batch = graft.ops.SlidingOps
      .rangeFrameAgg(o, "o_orderpriority", "o_totalprice",
        precede = lit(1000.0), follow = lit(500.0),
        sumExpr = expr("cast(o_totalprice as decimal(18,6))"))
      .selectExpr("o_orderpriority", "o_totalprice", "n_frame",
        "cast(sum_frame as double) as s")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(batch.nonEmpty)

    val rows = o.as[(String, Double)].collect()
    val stream = MemoryStream[(String, Double)]
    val q = StreamingOps.rangeFrameBlocksStream(
        stream.toDF().toDF("o_orderpriority", "o_totalprice"),
        "o_orderpriority", "o_totalprice",
        expr("cast(o_totalprice as decimal(18,6))"))
      .writeStream.format("memory").queryName("frame_stream")
      .outputMode("complete").start()
    try {
      // the per-(key, v) block partials are linear — batch 2's counts
      // and sums must ADD into the state-store blocks
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // the read side runs the SAME probe/prefix extraction the batch op
    // runs (localCheckpoint: the score_stream precedent — a MemoryPlan
    // cannot self-join for the prefix pass without conflicting
    // references); identical block tables → bit-identical frames
    val blocks = spark.table("frame_stream").localCheckpoint()
    val streamed = graft.ops.SlidingOps
      .rangeFrameFromBlocks(blocks, "o_orderpriority", "o_totalprice",
        precede = lit(1000.0), follow = lit(500.0))
      .select(col("__k"), col("__origin"), col("n_frame"),
        col("sum_frame").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(streamed === batch)
    spark.catalog.clearCache()
  }

  test("a streaming-built Count-Min table is consumable by cmEstimate, equal to batch estimates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
      .select("user_id").orderBy("user_id")
    val rows = events.as[Long].collect()
    val stream = MemoryStream[Long]
    val q = StreamingOps.countMinStream(
        stream.toDF().toDF("user_id"), "cast(user_id as string)", 4, 64)
      .writeStream.format("memory").queryName("cm_consume")
      .outputMode("complete").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq); q.processAllAvailable()
      stream.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    // the ONLINE-built sketch answers point queries through the same
    // consumption path as a batch-built one — and the estimates equal the
    // builder-side countMin values bit-for-bit (same placement rule)
    val probes = events.selectExpr("cast(user_id as string) as v").distinct()
    val viaStream = graft.ops.SketchOps.cmEstimate(
        spark.table("cm_consume").localCheckpoint(), probes, "v", 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaBatch = graft.ops.SketchOps.countMin(events, "cast(user_id as string)", 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(viaStream === viaBatch)
  }

  test("streaming histogram equals the batch histogram, added bucket-wise across cuts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (lo, hi, nb) = (0.0, 512.0, 128)
    val events = Tables.load(spark, sfDir, "events")
      .select("event_type", "value").orderBy("event_type", "value")
    // the batch histogram: same grid expression as the streaming op
    val step = (hi - lo) / nb
    val batch = events
      .selectExpr("event_type as grp",
        s"least(greatest(cast(floor((cast(value as double) - $lo) / $step) as bigint), 0), ${nb - 1}) as bucket")
      .groupBy("grp", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)

    val rows = events.as[(String, Double)].collect()
    val stream = MemoryStream[(String, Double)]
    val q = StreamingOps.quantileHistStream(
        stream.toDF().toDF("event_type", "value"),
        "event_type", "value", lo, hi, nb)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      stream.addData(a.toSeq)
      q.processAllAvailable()
      stream.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("hist_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("incremental delivery across batches yields the same closed sessions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.load(spark, sfDir, "events")
      .select("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect()
      .sortBy(_._2.getTime)
    val (first, second) = rows.splitAt(rows.length / 2)

    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingOps.sessionize(stream.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sess_inc")
      .outputMode("complete").start()
    try {
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sess_inc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q17_sessionize")(spark, sfDir)
      .select("user_id", "start_us", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("streaming corpus diff equals the batch diff across a two-batch delivery") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the op_corpus_diff snapshot pair: one removed (%97), edits (%31),
    // one added (%51-keyed new id) — all four statuses present
    val old = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val v2 = old.filter("doc_id % 97 != 0")
      .selectExpr("doc_id",
        "case when doc_id % 31 = 0 then concat(text, ' v2 edit') else text end as text")
      .union(old.filter("doc_id % 51 = 0")
        .selectExpr("doc_id + 1000000 as doc_id",
          "concat('brand new ', cast(doc_id as string)) as text"))
    val oldRows = old.as[(Long, String)].collect().map { case (id, t) => (id, "old", t) }
    val newRows = v2.as[(Long, String)].collect().map { case (id, t) => (id, "new", t) }

    // batch 1 = the full OLD snapshot; batch 2 = the full NEW snapshot, so
    // every removed/changed/unchanged key's state must CROSS the batch cut
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingOps.corpusDiffStream(
        stream.toDF().toDF("doc_id", "side", "text"))
      .writeStream.format("memory").queryName("diff_stream")
      .outputMode("append").start()
    try {
      stream.addData(oldRows.toSeq)
      q.processAllAvailable()
      stream.addData(newRows.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // latest emission per key without relying on sink row order: a key
    // that received a `new` row re-emits with fp_new set (or 'added'), so
    // that emission supersedes its batch-1 'removed' partial
    val emissions = spark.table("diff_stream").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3)))
    val finalByKey = emissions.groupBy(_._1).map { case (id, es) =>
      val fin = es.find(e => e._3.isDefined || e._4 == "added").getOrElse {
        assert(es.length === 1 && es.head._4 == "removed",
          s"doc $id: unexpected emission set ${es.toSeq}")
        es.head
      }
      id -> (fin._2, fin._3, fin._4)
    }
    val batch = graft.ops.PipelineOps.corpusDiff(old, v2).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))).toMap
    assert(finalByKey === batch)
    val statuses = batch.values.map(_._3).toSet
    assert(statuses === Set("added", "removed", "changed", "unchanged"),
      s"fixture must exercise all four statuses, got $statuses")
  }

  test("streaming ANN margin-alignment mining + read-side scoring equals batch marginAlignAnn") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
    // gate geometry: the same N-adaptive banding the batch tier derives
    val (bands, rpb) = graft.ops.VectorOps.adaptiveBanding(emb.count())
    val rows = emb.selectExpr("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    assert(rows.nonEmpty)
    // split mid-corpus so cross-batch pairs exercise the bucket state
    val (first, second) = rows.toSeq.sortBy(_._1).splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.marginAlignCandidatesStream(
        stream.toDF().toDF("vec_id", "embedding"), bands, rpb)
      .writeStream.format("memory").queryName("ann_mine")
      .outputMode("append").start()
    try {
      stream.addData(first); q.processAllAvailable()
      stream.addData(second); q.processAllAvailable()
      stream.addData(second.take(1)) // re-delivery must not duplicate pairs
      q.processAllAvailable()
    } finally q.stop()
    val mined = spark.table("ann_mine")
    val minedPairs = mined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(minedPairs.nonEmpty, "fixture must yield band collisions")
    assert(minedPairs.size === minedPairs.toSet.size, "a candidate was emitted twice")
    minedPairs.foreach { case (a, b) =>
      assert(a % 2 == 0 && b % 2 == 1, s"sides must be even×odd, got ($a, $b)")
    }
    // the full composition: the shared read-side scorer over the mined
    // table equals the batch tier row-for-row
    val streamed = graft.ops.VectorOps
      .scoreAnnCandidates(mined.select("a_id", "b_id"), emb, 4, 1.0)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.VectorOps.marginAlignAnn(emb, 4, 1.0, bands, rpb)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture must align pairs at the gate threshold")
    assert(streamed === batch)
  }
}
