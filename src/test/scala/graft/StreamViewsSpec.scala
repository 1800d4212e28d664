package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.functions.Similarity
import graft.sources.Tables
import graft.streaming.{CountWindow, Windows}
import graft.views.Views
import graft.views.Views._

object StreamViewsSpec {
  case class Click(user: Long, click_ts: java.sql.Timestamp)
  case class Buy(user: Long, buy_ts: java.sql.Timestamp)
  case class Sess(user: Long, ts: java.sql.Timestamp, amount: Double)
}

class StreamViewsSpec extends SparkSpec {
  import spark.implicits._
  import StreamViewsSpec.{Buy, Click, Sess}

  test("streaming tumbling agg over file source equals batch result") {
    val ev = Tables.events(spark, sf)
    val batch = Windows.tumbling(ev, "ts", "1 day", Seq("event_type"),
      Seq(count(lit(1)).as("cnt")))
      .select("event_type", "window_start", "cnt")
    // file source needs a directory; stage the single parquet file
    val stageDir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      stageDir.resolve("events.parquet"))
    val stream = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema)
      .parquet(stageDir.toString)
    val evS = Tables.normalizeEventTs(stream)
    val q = Windows.tumbling(
      Windows.withEventTime(evS, "ts", "1 day"),
      "ts", "1 day", Seq("event_type"), Seq(count(lit(1)).as("cnt")))
      .select("event_type", "window_start", "cnt")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("tumbling_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    val want = batch.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming funnel converts once per user across micro-batches") {
    import graft.streaming.FunnelDetector
    import graft.streaming.FunnelDetector.FEv
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[FEv]
    // batch 1: user 1 clicks; user 2 purchases with no prior click
    input.addData(
      FEv(1L, ts("2024-01-01 10:00:00"), "click"),
      FEv(2L, ts("2024-01-01 10:00:00"), "purchase"))
    val q = FunnelDetector.clickToPurchase(input.toDS(), 3600L * 1000000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    q.processAllAvailable()
    // batch 2: user 1 purchases twice inside the window (one
    // conversion only); user 2 clicks then purchases out of window
    input.addData(
      FEv(1L, ts("2024-01-01 10:30:00"), "purchase"),
      FEv(1L, ts("2024-01-01 10:40:00"), "purchase"),
      FEv(2L, ts("2024-01-01 11:00:00"), "click"),
      FEv(2L, ts("2024-01-01 13:00:00"), "purchase"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // exactly one conversion: user 1, 30 min delay, click from batch 1
    assert(out.toSeq == Seq((1L, 1800L * 1000000L)))
  }

  test("incremental join view: two delta rounds equal the full recompute") {
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
    val a0 = Seq((1L, "a1"), (2L, "a2"), (2L, "a2dup"), (3L, "a3"))
      .toDF("k", "av")
    val b0 = Seq((1L, 10.0), (2L, 20.0), (4L, 40.0)).toDF("k", "bv")
    var state = Views.initJoinState(a0, b0, Seq("k"))

    // round 1: add a matching row on each side, remove one A row
    val dA1 = Seq(("add", 4L, "a4"), ("remove", 2L, "a2"))
      .toDF("op", "k", "av")
    val dB1 = Seq(("add", 3L, 30.0)).toDF("op", "k", "bv")
    state = Views.mergeJoinDelta(state,
      Views.joinViewDelta(a0, dA1, b0, dB1, Seq("k")))
    val a1 = Seq((1L, "a1"), (2L, "a2dup"), (3L, "a3"), (4L, "a4")).toDF("k", "av")
    val b1 = Seq((1L, 10.0), (2L, 20.0), (4L, 40.0), (3L, 30.0)).toDF("k", "bv")
    assert(multiset(Views.finalizeJoin(state)) == multiset(a1.join(b1, Seq("k"))))

    // round 2: remove a B row (kills two joined rows' worth of A side),
    // add a duplicate A row (multiplicity must rise to 2)
    val dA2 = Seq(("add", 1L, "a1")).toDF("op", "k", "av")
    val dB2 = Seq(("remove", 4L, 40.0)).toDF("op", "k", "bv")
    state = Views.mergeJoinDelta(state,
      Views.joinViewDelta(a1, dA2, b1, dB2, Seq("k")))
    val a2 = a1.unionByName(Seq((1L, "a1")).toDF("k", "av"))
    val b2 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bv")
    val want = multiset(a2.join(b2, Seq("k")))
    assert(multiset(Views.finalizeJoin(state)) == want)
    // duplicate (1, a1, 10.0) really is multiplicity 2
    assert(want(List(1L, "a1", 10.0)) == 2)

    // a typo'd op must FAIL the batch, never silently sign as an add
    val dBad = Seq(("delete", 1L, "oops")).toDF("op", "k", "av")
    val err = intercept[Exception] {
      Views.joinViewDelta(a1, dBad, b1, dB2.limit(0), Seq("k")).collect()
    }
    assert(err.getMessage.contains("op must be add|remove"), err.getMessage)
  }

  test("mergeJoinDelta branch parity: broadcast merge == union-regroup " +
    "fallback; delta-only keys insert; net-zero delta keys never appear") {
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
    val state = Seq((1L, 2L), (3L, 4L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst").groupBy("src", "dst")
      .agg(count(lit(1)).as("__mult"))
    // touches an existing key (+1), kills one outright (-1 of mult 1),
    // peels one copy of the dup key (-1 of mult 2), inserts a fresh
    // key, and nets a second fresh key to ZERO (+1 then -1 — must not
    // appear: the r11 broadcast merge inserts via anti-join, and a
    // net-zero delta-only key would slip in without the >0 filter)
    val delta = Seq(
      (1L, 2L, 1L), (5L, 6L, -1L), (3L, 4L, -1L),
      (7L, 8L, 1L), (9L, 9L, 1L), (9L, 9L, -1L))
      .toDF("src", "dst", "__sign")
    val viaBroadcast = Views.mergeJoinDelta(state, delta)
    // a threshold below one row's width licenses 0 rows → regroup
    val viaRegroup = withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      Views.mergeJoinDelta(state, delta)
    }
    val want = Map(
      List(1L, 2L, 2L) -> 1, List(3L, 4L, 1L) -> 1, List(7L, 8L, 1L) -> 1)
    assert(multiset(viaBroadcast) == want)
    assert(multiset(viaRegroup) == want)
  }

  test("mergeJoinDelta cap is byte-derived: budget tracks the session " +
    "broadcast threshold and row width; a tiny threshold takes the " +
    "regroup path, the default broadcasts — same rows either way") {
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
    val shape = Seq((1L, 2L, 3L)).toDF("src", "dst", "__dm")
    val width = shape.schema.defaultSize.toLong // 3 longs = 24 bytes
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def budgetAt(threshold: String) =
      withConf(key -> threshold)(Broadcast.budget(shape))
    assert(budgetAt("1kb") == 1024L / width)
    assert(budgetAt("10485760") == (10L << 20) / width)
    // disabled threshold (-1 or 0) must not yield a zero/negative
    // cap — the merge still needs SOME budget; it falls back to the
    // Spark default byte budget
    assert(budgetAt("-1") == (10L << 20) / width)
    assert(budgetAt("0") == (10L << 20) / width)
    // a positive threshold below one row's width licenses NO row:
    // tests force the distributed, SMJ and regroup paths this way
    assert(budgetAt("1") == 0L && budgetAt((width - 1).toString) == 0L)
    assert(budgetAt(width.toString) == 1L)
    assert(!withConf(key -> "1")(Broadcast.fits(shape, 1L)))
    // large unit suffixes Spark's byteString conf accepts must
    // parse too — an operator forcing the merge path with "1tb"
    // must not silently land on the 10 MB default
    assert(budgetAt("1tb") == (1L << 40) / width)
    val state = Seq((1L, 2L), (3L, 4L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst").groupBy("src", "dst")
      .agg(count(lit(1)).as("__mult"))
    val delta = Seq(
      (1L, 2L, 1L), (5L, 6L, -1L), (3L, 4L, -1L), (7L, 8L, 1L))
      .toDF("src", "dst", "__sign")
    val want = Map(
      List(1L, 2L, 2L) -> 1, List(3L, 4L, 1L) -> 1, List(7L, 8L, 1L) -> 1)
    // 72-byte threshold → 3-row budget < 4 netted keys → regroup
    // fallback (plan has NO join: union + re-aggregate only)
    withConf(key -> "72") {
      val viaTiny = Views.mergeJoinDelta(state, delta)
      assert(!viaTiny.queryExecution.executedPlan.toString.contains("Join"),
        "a delta over the byte budget must take the join-free regroup path")
      assert(multiset(viaTiny) == want)
    }
    // default threshold → broadcast merge path (plan joins)
    val viaDefault = Views.mergeJoinDelta(state, delta)
    assert(viaDefault.queryExecution.executedPlan.toString.contains("Join"),
      "a window-sized delta must take the broadcast merge path")
    assert(multiset(viaDefault) == want)
  }

  test("mergeJoinDeltaWithOps ops branch parity: broadcast derivation == " +
    "state-diff fallback; count moves that stay positive emit nothing") {
    def opset(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val state = Seq((1L, 2L), (3L, 4L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst").groupBy("src", "dst")
      .agg(count(lit(1)).as("__mult"))
    // (1,2): +1 → stays positive, NO op; (5,6): −1 → count 0, remove;
    // (3,4): −1 of mult 2 → stays positive, NO op; (7,8): fresh add;
    // (9,9): +1 −1 nets zero on an absent key → NO op
    val delta = Seq(
      (1L, 2L, 1L), (5L, 6L, -1L), (3L, 4L, -1L),
      (7L, 8L, 1L), (9L, 9L, 1L), (9L, 9L, -1L))
      .toDF("src", "dst", "__sign")
    val want = Set((5L, 6L, "remove"), (7L, 8L, "add"))
    assert(opset(Views.mergeJoinDeltaWithOps(state, delta)._2) == want)
    assert(opset(withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      Views.mergeJoinDeltaWithOps(state, delta)._2
    }) == want)
    // ops must agree with the fold: add keys appear in the merged
    // state, remove keys vanish
    val s1 = Views.mergeJoinDelta(state, delta)
    val keys = s1.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys((7L, 8L)) && !keys((5L, 6L)) && keys((3L, 4L)))
  }

  test("chain prefix states: a window touching only the tail hop leaves " +
    "the stored prefix untouched (fold skipped), and the refresh is exact") {
    import graft.graph.GraphStore
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "A", Nil), (2L, "B", Nil), (3L, "C", Nil), (4L, "C", Nil)),
      Seq((1L, 2L, "ab", Nil), (2L, 3L, "bc", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_pfx_cat").toString)
    Views.refreshPatternChainView(cat, "abc", base, base,
      Seq("A", "B", "C"), Seq("ab", "bc"))
    val p1Before = cat.dataOf("abc!p1")
    assert(p1Before.isDefined, "prefix state materialized at bootstrap")
    // tail-only window: hop-2 edge churn, no A/B vertex or ab-edge op
    val m1 = base.addEdges(Seq((2L, 4L, "bc")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .removeEdges(Seq((2L, 3L, "bc")).toDF("src", "dst", "label"))
    val r1 = Views.refreshPatternChainView(cat, "abc", base, m1,
      Seq("A", "B", "C"), Seq("ab", "bc"))
    assert(r1.select("c0", "c1", "c2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 2L, 4L)))
    assert(cat.dataOf("abc!p1").get eq p1Before.get,
      "empty level-1 delta must not rewrite the prefix state")
    // a window that DOES touch hop 1 folds the prefix forward
    val m2 = m1.removeVertices(Seq(1L).toDF("id"))
    val r2 = Views.refreshPatternChainView(cat, "abc", m1, m2,
      Seq("A", "B", "C"), Seq("ab", "bc"))
    assert(r2.count() == 0L)
    assert(!(cat.dataOf("abc!p1").get eq p1Before.get),
      "level-1 delta folds the prefix state forward")
    assert(cat.dataOf("abc!p1").get.count() == 0L)
  }

  test("stream-stream interval join matches in-window pairs, batch-parity") {
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      Click(1L, ts("2024-01-01 10:00:00")),
      Click(2L, ts("2024-01-01 10:00:00")),
      Click(3L, ts("2024-01-01 12:00:00")))
    val buys = Seq(
      Buy(1L, ts("2024-01-01 10:30:00")), // in window
      Buy(1L, ts("2024-01-01 12:30:00")), // out of window (> 1h)
      Buy(2L, ts("2024-01-01 09:30:00")), // before the click
      Buy(3L, ts("2024-01-01 12:59:00"))) // in window
    val want = Set((1L, "10:30:00"), (3L, "12:59:00"))

    // streaming form: two MemoryStreams through the watermarked join
    val lIn = MemoryStream[Click]
    val rIn = MemoryStream[Buy]
    lIn.addData(clicks: _*)
    rIn.addData(buys: _*)
    val q = StreamJoins.intervalJoin(
        lIn.toDF(), "click_ts", "10 minutes",
        rIn.toDF(), "buy_ts", "10 minutes",
        Seq("user"), "1 hour")
      .select(col("l.user"), col("buy_ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sj_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sj_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(11, 19))).toSet
    assert(got == want)

    // identical code path over batch frames gives the same answer
    val batch = StreamJoins.intervalJoin(
        clicks.toDF(), "click_ts", "10 minutes",
        buys.toDF(), "buy_ts", "10 minutes",
        Seq("user"), "1 hour")
      .select(col("l.user"), col("buy_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(11, 19))).toSet
    assert(batch == want)
  }

  test("T8 session window: streaming run equals the batch query") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: two sessions (10:00-10:08 chained within the 5-min gap,
    // then 11:00 alone); user 2: one session; the 10:04 event extends
    // session 1 even though 10:00→10:08 alone would exceed the gap
    val rows = Seq(
      Sess(1L, ts("2024-01-01 10:00:00"), 1.0),
      Sess(1L, ts("2024-01-01 10:04:00"), 2.0),
      Sess(1L, ts("2024-01-01 10:08:00"), 4.0),
      Sess(1L, ts("2024-01-01 11:00:00"), 8.0),
      Sess(2L, ts("2024-01-01 10:30:00"), 16.0))
    val aggs = Seq(count(lit(1)).as("cnt"), round(sum(col("amount")), 4).as("sum_amount"))
    def normalize(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Double)] =
      df.select(col("user"), col("session_start"), col("cnt"), col("sum_amount"))
        .collect().map(r => (r.getLong(0),
          r.getTimestamp(1).toString.substring(11, 19),
          r.getLong(2), r.getDouble(3))).toSet
    val want = Set(
      (1L, "10:00:00", 3L, 7.0), (1L, "11:00:00", 1L, 8.0),
      (2L, "10:30:00", 1L, 16.0))

    // streaming form: the same session() code path behind a
    // watermark, append mode (sessions emit once the watermark
    // passes their close — processAllAvailable + a final empty
    // batch advances it past every fixture event)
    val in = MemoryStream[Sess]
    in.addData(rows: _*)
    val q = Windows.session(
        Windows.withEventTime(in.toDF(), "ts", "1 minute"),
        "ts", "5 minutes", Seq("user"), aggs)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    q.processAllAvailable()
    // a later marker event pushes the watermark beyond 11:00 so the
    // last open sessions close and emit in append mode
    in.addData(Sess(99L, ts("2024-01-02 00:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = normalize(spark.table("sess_out")
      .filter(col("user") =!= 99L))
    assert(got == want)

    // identical code path over a batch frame gives the same answer
    val batch = normalize(Windows.session(rows.toDF(), "ts", "5 minutes",
      Seq("user"), aggs))
    assert(batch == want)
  }

  test("count-window stream emits complete windows with correct sums") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CountWindow.Ev]
    val events = (1 to 7).map(i =>
      CountWindow.Ev(1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:0$i"), i.toDouble))
    input.addData(events: _*)
    val q = CountWindow.countWindowStream(input.toDS(), maxEvents = 3)
      .writeStream.outputMode("append").format("memory").queryName("cw_out").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cw_out").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).sortBy(_._1)
    // 7 events → two complete windows (1+2+3, 4+5+6); 7 stays buffered
    assert(out.toSeq == Seq((0L, 3, 6.0), (1L, 3, 15.0)))
  }

  test("S10: socket connector round-trips lines into a streaming sink") {
    import graft.streaming.StreamConnectors
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      (1 to 5).foreach(i => out.println(s"evt$i"))
      out.flush()
      Thread.sleep(60000) // hold the connection open for the query's lifetime
    })
    writer.setDaemon(true)
    writer.start()
    val lines = StreamConnectors.read(spark,
      StreamConnectors.SocketSource("localhost", port))
    val q = lines.writeStream.outputMode("append")
      .format("memory").queryName("sock_out").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sock_out").count() < 5 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(spark.table("sock_out").collect().map(_.getString(0)).toSet ==
        (1 to 5).map(i => s"evt$i").toSet)
    } finally {
      q.stop(); server.close()
    }
  }

  test("streaming dedup within watermark: re-deliveries collapse, state bounded") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val out = graft.streaming.StreamDedup.withinWatermark(
      stream, "ts", "10 minutes", Seq("doc_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1: ids 1,2,3 with an in-batch duplicate of 2
    input.addData((1L, t(0), "a"), (2L, t(1), "b"), (2L, t(1), "b"), (3L, t(2), "c"))
    q.processAllAvailable()
    // batch 2: re-delivery of id 1 (inside the watermark) + new id 4
    input.addData((1L, t(3), "a"), (4L, t(4), "d"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L)) // each exactly once

    // content-level: identical re-posted text collapses by fingerprint
    val input2 = MemoryStream[(Long, Timestamp, String)]
    val out2 = graft.streaming.StreamDedup.byFingerprint(
      input2.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes", "text")
    val q2 = out2.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_fp_out").start()
    input2.addData((1L, t(0), "Same  Text"), (2L, t(1), "same text"),
      (3L, t(2), "different"))
    q2.processAllAvailable()
    q2.stop()
    val kept = spark.table("sdedup_fp_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L)) // 2 is a normalized dup of 1
  }

  test("streaming span dedup per micro-batch equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "c1 c2 c3 c4 c5 c6 c7 idx tail"),
      (11L, "p q x y z r")).toDF("doc_id", "text")
    val idx = graft.TransientCache.persist(
      graft.functions.Dedup.buildSpanGramIndex(corpus, "text", "doc_id", k = 3))
    val arriving = Seq(
      (20L, "a b c1 c2 c3 c4 c5 end"),
      (21L, "x y z only"),
      (22L, "nothing shared here at all"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Int, Int), Int]
    val q = graft.streaming.StreamDedup.spanDedupEachBatch(
      stream, idx, "text", "doc_id", k = 3) { (spans, _) =>
      spans.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1), r.getInt(2)), r.getInt(3)))
    }.start()
    // two micro-batches: the operator sees each batch independently
    input.addData(arriving.take(2): _*)
    q.processAllAvailable()
    input.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.functions.Dedup.duplicatedSpansVsIndex(
      arriving.toDF("doc_id", "text"), idx, "text", "doc_id", k = 3)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    assert(got.toMap == batch && got.nonEmpty)
  }

  test("streaming ivf append: micro-batches equal batch append; drift fires on a drifted batch") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    def near(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.05f).toSeq
    val a = Array.fill(8)(1f)
    val b = Array(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f)
    val ortho = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val train = ((0L until 4L).map(i => i -> near(a)) ++
      (4L until 8L).map(i => i -> near(b))).toDF("vec_id", "embedding")
    val dirA = tempDir("graft_sivf_a").toString
    val dirB = tempDir("graft_sivf_b").toString
    Similarity.writeIvfIndex(train, dirA, nlist = 2)
    Similarity.writeIvfIndex(train, dirB, nlist = 2)
    // batch 0 is in-distribution; batch 1 points nowhere near either
    // trained centroid — the drift signal must fire on it
    val batch0 = (10L until 13L).map(i => i -> near(a))
    val batch1 = (20L until 23L).map(i => i -> near(ortho))
    val verdicts = scala.collection.concurrent.TrieMap.empty[Long, (Boolean, Boolean)]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIvf.ivfAppendEachBatch(
      input.toDF().toDF("vec_id", "embedding"), dirA) { (st, id) =>
      verdicts.put(id, (st.drifted, st.shouldRetrain))
    }.start()
    input.addData(batch0: _*)
    q.processAllAvailable()
    input.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    // parity: the streamed index holds exactly what one batch append
    // of the union holds (same frozen model, same assignments)
    Similarity.appendToIvfIndex(
      (batch0 ++ batch1).toDF("vec_id", "embedding"), dirB)
    def cells(dir: String) = graft.sources.Sinks
      .readPartitioned(spark, s"$dir/corpus")
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cells(dirA) == cells(dirB) && cells(dirA).size == 14)
    // staleness side channel: quiet on the in-distribution batch,
    // fired on the drifted one
    assert(verdicts(0L) == ((false, false)))
    assert(verdicts(1L)._1 && verdicts(1L)._2)
    // re-delivery of a committed batchId is a no-op (high-water mark)
    assert(graft.streaming.StreamIvf.lastAppliedBatch(spark, dirA) == 1L)
    val applied = graft.streaming.StreamIvf.applyBatch(
      batch1.toDF("vec_id", "embedding"), dirA, 1L)((_, _) => ())
    assert(!applied && cells(dirA).size == 14)
  }

  test("streaming MG summary: bounds hold, heavy keys survive, redelivery no-op") {
    import spark.implicits._
    import graft.streaming.StreamSketch
    val dir = tempDir("graft_smg").toString
    val cap = 8
    // two skewed batches with churn in the cold tail
    val b1 = Seq.fill(50)("hot") ++ Seq.fill(20)("warm") ++
      (1 to 30).map(i => s"c$i")
    val b2 = Seq.fill(40)("hot") ++ Seq.fill(25)("tepid") ++
      (31 to 60).map(i => s"c$i")
    val bounds = scala.collection.mutable.Map.empty[Long, Long]
    assert(StreamSketch.applyBatch(b1.toDF("k"), "k", dir, cap, 0L)(
      (id, b) => bounds(id) = b))
    assert(StreamSketch.applyBatch(b2.toDF("k"), "k", dir, cap, 1L)(
      (id, b) => bounds(id) = b))
    val (summary, n, sub) = StreamSketch.read(spark, dir)
    assert(n == (b1.size + b2.size).toLong && sub == bounds(1L))
    val est = summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size <= cap)
    val truth = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong)
    // every estimate is a lower bound within the carried error
    est.foreach { case (k, e) =>
      assert(e <= truth(k) && truth(k) <= e + sub,
        s"$k est=$e true=${truth(k)} bound=$sub")
    }
    // any key truly heavier than the bound must be present
    truth.filter(_._2 > sub).keys.foreach(k =>
      assert(est.contains(k), s"heavy key $k missing (bound $sub)"))
    // topK carries the bound and ranks by estimate
    val top = StreamSketch.topK(spark, dir, 2).collect()
    assert(top.map(_.getString(0)).toSeq == Seq("hot", "tepid") ||
      top.map(_.getString(0)).toSeq == Seq("hot", "warm"))
    assert(top.forall(_.getLong(2) == sub))
    assert(top.head.getString(0) == "hot")
    // re-delivery of a committed batch is a no-op
    assert(!StreamSketch.applyBatch(b2.toDF("k"), "k", dir, cap, 1L)())
    val (s2, n2, sub2) = StreamSketch.read(spark, dir)
    assert(n2 == n && sub2 == sub &&
      s2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == est)
    // adversarial uniform case: distinct keys exceed capacity in ONE
    // partition — decrement-all evicts everything, and the carried
    // bound must still cover the undercount (in-partition loss is
    // part of the bound, not just merge prunes)
    val dir2 = tempDir("graft_smg2").toString
    val uni = (1 to 9).map(i => s"u$i")
    assert(StreamSketch.applyBatch(uni.toDF("k").coalesce(1), "k",
      dir2, 8, 0L)())
    val (s3, _, sub3) = StreamSketch.read(spark, dir2)
    val est3 = s3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sub3 >= 1L)
    uni.foreach { k =>
      val e = est3.getOrElse(k, 0L)
      assert(e <= 1L && 1L <= e + sub3, s"$k est=$e bound=$sub3")
    }
  }

  test("MG summary: half-written state throws instead of resetting the bound") {
    import spark.implicits._
    import graft.streaming.StreamSketch
    val dir = tempDir("graft_smg3").toString
    assert(StreamSketch.applyBatch(
      Seq.fill(5)("hot").toDF("k"), "k", dir, 4, 0L)())
    // simulate the documented crash window: sketch_meta landed,
    // summary did not — a read must refuse to masquerade as a first
    // run (silently resetting would zero the accumulated bound while
    // the high-water mark still advances)
    val sumDir = java.nio.file.Paths.get(dir, "summary")
    val tmp = java.nio.file.Paths.get(dir, "summary_hidden")
    java.nio.file.Files.move(sumDir, tmp)
    val ex = intercept[IllegalStateException] {
      StreamSketch.read(spark, dir)
    }
    assert(ex.getMessage.contains("half-written"))
    // the next batch must ALSO refuse (applyBatch reads prior state)
    intercept[IllegalStateException] {
      StreamSketch.applyBatch(Seq("x").toDF("k"), "k", dir, 4, 1L)()
    }
    // restoring both parts recovers cleanly
    java.nio.file.Files.move(tmp, sumDir)
    val (s, n, _) = StreamSketch.read(spark, dir)
    assert(n == 5L && s.collect().map(_.getString(0)).toSet == Set("hot"))
  }

  test("streaming quantile coreset: slack contract holds across batches and compaction") {
    import spark.implicits._
    import graft.streaming.StreamQuantile
    val dir = tempDir("graft_sq").toString
    val rnd = new scala.util.Random(5)
    // three skewed batches; small cap FORCES compaction on the way
    val batches = Seq(
      Seq.fill(800)(5.0) ++ (1 to 400).map(_ => rnd.nextDouble() * 10),
      (1 to 1200).map(_ => 10 + rnd.nextDouble() * 90),
      Seq.fill(600)(42.0) ++ (1 to 300).map(_ => rnd.nextDouble() * 100))
    val slacks = scala.collection.mutable.Map.empty[Long, Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(StreamQuantile.applyBatch(
        b.map(Tuple1(_)).toDF("x").repartition(5), "x", dir, i.toLong,
        eps = 0.05, cap = 64)((id, s) => slacks(id) = s))
    }
    val all = batches.flatten.sorted
    val (core, n, slack) = StreamQuantile.read(spark, dir)
    assert(n == all.size.toLong && slack == slacks(2L))
    assert(core.map(_._2).sum == n, "coreset weights must sum to N")
    assert(core.size <= 64 + 30, "cap must bound the at-rest coreset")
    // compaction must have fired at least once given cap=64 and 3
    // batches of ~30+ coreset rows each — slack beyond the per-batch
    // construction envelopes is its signature
    val rows = StreamQuantile.quantiles(spark, dir,
      Seq(0.1, 0.5, 0.9)).collect()
    for (r <- rows) {
      val (q, est, sl) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
      assert(sl == slack)
      val le = all.count(_ <= est).toLong
      val lt = all.count(_ < est).toLong
      val target = math.max(1L, math.ceil(q * n).toLong)
      assert(le >= target - sl && lt <= target + sl,
        s"q=$q est=$est le=$le lt=$lt target=$target slack=$sl")
    }
    // re-delivery of a committed batch is a no-op
    assert(!StreamQuantile.applyBatch(
      batches(2).map(Tuple1(_)).toDF("x"), "x", dir, 2L)())
    val (c2, n2, s2) = StreamQuantile.read(spark, dir)
    assert(n2 == n && s2 == slack && c2 == core)
    // half-written state throws instead of resetting the slack
    val corePath = java.nio.file.Paths.get(dir, "coreset")
    val hidden = java.nio.file.Paths.get(dir, "coreset_hidden")
    java.nio.file.Files.move(corePath, hidden)
    val ex = intercept[IllegalStateException] {
      StreamQuantile.read(spark, dir)
    }
    assert(ex.getMessage.contains("half-written"))
    java.nio.file.Files.move(hidden, corePath)
    assert(StreamQuantile.read(spark, dir)._2 == n)
    // TORN state (crash between the coreset and qmeta overwrites):
    // both parts exist but Σw != recorded n — read must refuse, not
    // serve quantiles under a silently-wrong ±slack contract
    Seq((n + 5L, slack)).toDF("n", "slack")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/qmeta")
    val torn = intercept[IllegalStateException] {
      StreamQuantile.read(spark, dir)
    }
    assert(torn.getMessage.contains("torn"))
    // restoring the consistent meta heals the read
    Seq((n, slack)).toDF("n", "slack")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/qmeta")
    assert(StreamQuantile.read(spark, dir)._2 == n)
  }

  test("streaming quantile compact: weights preserved, measured staleness returned") {
    import graft.streaming.StreamQuantile
    val core = (1 to 20).map(i => (i.toDouble, 3L))
    val (compacted, introduced) = StreamQuantile.compact(core, 7L)
    assert(compacted.map(_._2).sum == 60L)
    // groups of 3+3+3=9 ≥ 7 → emitted weight 9; measured max is 9
    assert(introduced == 9L)
    assert(compacted.forall(_._2 <= 9L))
    // values stay sorted and are drawn from the input's kept points
    assert(compacted.map(_._1) == compacted.map(_._1).sorted)
    assert(compacted.map(_._1).toSet.subsetOf(core.map(_._1).toSet))
  }

  test("streaming LM model: per-batch count folds score identically to " +
    "batch training; re-delivery no-op; torn model refuses") {
    import spark.implicits._
    import graft.functions.Curation
    import graft.streaming.StreamLm
    val path = tempDir("graft_slm").toString
    val refBatches = Seq(
      Seq("the cat sat on the mat", "the dog sat"),
      Seq("a cat ran", "the cat sat on a dog"),
      Seq("dogs and cats sat"))
    refBatches.zipWithIndex.foreach { case (texts, i) =>
      assert(StreamLm.applyBatch(
        texts.map(Tuple1(_)).toDF("text"), "text", path, i.toLong)())
    }
    val docs = Seq((1L, "the cat sat"), (2L, "quantum flux capacitor"),
      (3L, "a dog sat on the mat")).toDF("doc_id", "text")
    val streamed = StreamLm.score(spark, path, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val batchTrained = Curation.lmPerplexity(docs, "doc_id", "text",
        refBatches.flatten.map(Tuple1(_)).toDF("text"), "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(streamed == batchTrained,
      "stream-folded counts must score bit-identically to batch training")
    assert(streamed(1L)._2 < streamed(2L)._2,
      "reference-like text scores fewer bits than OOV gibberish")
    // re-delivery: the high-water mark makes it a no-op
    assert(!StreamLm.applyBatch(
      refBatches(2).map(Tuple1(_)).toDF("text"), "text", path, 2L)())
    assert(StreamLm.score(spark, path, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap ==
      streamed.map { case (k, v) => k -> v._2 })
    // torn model (crash between the c2 and vocab overwrites): a c2
    // word the vocab lacks is the signature — read refuses
    val (c2, _) = StreamLm.read(spark, path)
    c2.unionByName(Seq(("zzz unknown", 1L)).toDF("g", "c2"))
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$path/c2")
    val torn = intercept[IllegalStateException] {
      StreamLm.read(spark, path)
    }
    assert(torn.getMessage.contains("torn"))
  }

  test("streaming HLL index: per-batch merges equal batch build; re-delivery benign twice over") {
    import spark.implicits._
    import graft.functions.Sketches
    import graft.streaming.StreamHll
    val path = tempDir("graft_shll").toString
    // overlapping batches: u0..u999 then u500..u1499, 3 rows per key
    def mk(lo: Int) = spark.range(0, 3000)
      .select(concat(lit("u"), (col("id") % 1000) + lo).as("user"),
        lit("click").as("g"))
    val b0 = mk(0)
    val b1 = mk(500)
    assert(StreamHll.applyBatch(b0, "user", Seq("g"), path, 12, 0L)())
    assert(StreamHll.applyBatch(b1, "user", Seq("g"), path, 12, 1L)())
    def est(): Long = StreamHll.serve(spark, path, Seq("g"))
      .collect().head.getLong(1)
    val streamed = est()
    // per-batch merges share the batch build's error envelope (not
    // bit-identical — sparse-mode union promotion differs from
    // single-pass building; measured 1495 vs 1487 here): pin both
    // against the exact 1500 at 3·rsd ≈ 5%
    val direct = Sketches.hllRollup(
      Sketches.hllIndex(b0.unionByName(b1), "user", Seq("g"), 12), Seq("g"))
      .collect().head.getLong(1)
    assert(math.abs(streamed - 1500.0) <= 1500.0 * 0.05)
    assert(math.abs(direct - 1500.0) <= 1500.0 * 0.05)
    // re-delivery at the mark: skipped outright
    assert(!StreamHll.applyBatch(b1, "user", Seq("g"), path, 12, 1L)())
    // and even a re-delivery that SLIPS PAST the mark (the crash
    // window between index write and mark write presents exactly
    // this) is mathematically benign: max-merge is idempotent
    assert(StreamHll.applyBatch(b1, "user", Seq("g"), path, 12, 2L)())
    assert(est() == streamed)
  }

  test("streaming minhash dedup: growing index catches cross-batch near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_smh").toString
    // seed corpus: A and B at rest
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    graft.functions.Dedup.buildMinHashIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index")
    // batch 0: C duplicates A (vs the seed index); D is new.
    // batch 1: E duplicates D — findable ONLY because batch 0's
    // signatures were appended (cross-BATCH pair).
    val batch0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "red orange yellow green blue indigo violet pink"))
    val batch1 = Seq(
      (20L, "red orange yellow green blue indigo violet pink"))
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Double]
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.minHashDedupEachBatch(
      input.toDF().toDF("doc_id", "text"), dir, "text", "doc_id") { (pairs, _) =>
      pairs.collect().foreach(r =>
        got.put((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    }.start()
    input.addData(batch0: _*)
    q.processAllAvailable()
    input.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    // (A,C) from the seed index; (D,E) across batches — both exact dups
    assert(got.keySet == Set((1L, 10L), (11L, 20L)))
    assert(got.values.forall(_ == 1.0))
    // re-delivery of a committed batchId is a no-op
    val applied = graft.streaming.StreamDedup.minHashApplyBatch(
      batch1.toDF("doc_id", "text"), dir, 1L, "text", "doc_id")((_, _) => ())
    assert(!applied)
    // the index now holds corpus + both batches' signatures
    assert(spark.read.parquet(s"$dir/index").count() == 5)
  }

  test("rate limiting: maxFilesPerTrigger bounds each micro-batch (T3/T4)") {
    // the Spark-native replacement for the reference's buffer
    // backpressure + flush thresholds (stream_processing.rs:118-129)
    val dir = tempDir("graft_rate")
    val ev = Tables.load(spark, sf, "events")
    ev.limit(50).write.parquet(dir.resolve("f1").toString)
    ev.limit(50).write.parquet(dir.resolve("f2").toString)
    var batches = 0
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/*")
      .writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 2, s"expected >=2 rate-limited batches, got $batches")
  }

  test("foreachBatch incremental maintenance equals batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Double)] // op, group, value
    var state = Views.initAggState(
      Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("g", "value"), Seq("g"))
    val q = input.toDF().toDF("op", "g", "value")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Views.mergeAggDelta(state, batch, Seq("g")).localCheckpoint()
      }.start()
    input.addData(("add", "a", 3.0), ("add", "c", 7.0))
    q.processAllAvailable()
    input.addData(("remove", "a", 5.0))
    q.processAllAvailable()
    q.stop()
    val got = state.orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // a: {1,3} cnt2 sum4 ; b: {2} ; c: {7}
    assert(got == Seq(("a", 2L, 4.0), ("b", 1L, 2.0), ("c", 1L, 7.0)))
  }

  test("count-window state survives a checkpointed restart") {
    // the flatMapGroupsWithState state store is the OTHER exactly-once
    // surface beside foreachBatch dedup: windowIndex derives from the
    // cumulative per-key `seen` counter, so a restart that lost state
    // would re-emit windowIndex 0 — recovering index 1 proves the
    // store came back from the checkpoint
    import CountWindow.{Ev, WindowOut}
    val stage = tempDir("graft_cw_src")
    val ckpt = tempDir("graft_cw_ck").toString
    def writeEvents(name: String, vals: Seq[Double]): Unit =
      vals.zipWithIndex.map { case (v, i) =>
        Ev(1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), v)
      }.toDF().coalesce(1).write.parquet(stage.resolve(name).toString)
    writeEvents("d0", Seq(1.0, 2.0, 3.0))

    val got = scala.collection.mutable.ArrayBuffer.empty[WindowOut]
    val evSchema = Seq.empty[Ev].toDF().schema
    def startQ() = CountWindow.countWindowStream(
        spark.readStream.schema(evSchema).parquet(stage.toString + "/*").as[Ev],
        maxEvents = 3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[WindowOut], _: Long) =>
        got.synchronized { got ++= batch.collect() }
        ()
      }.start()

    val q1 = startQ()
    q1.processAllAvailable()
    q1.stop()
    assert(got.toSeq == Seq(WindowOut(1L, 0L, 3, 6.0)), got)

    // second file arrives AFTER the graceful stop; the restarted
    // query must resume with seen=3 from the state store
    writeEvents("d1", Seq(4.0, 5.0, 6.0))
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(got.toSeq == Seq(WindowOut(1L, 0L, 3, 6.0),
      WindowOut(1L, 1L, 3, 15.0)), got)
  }

  test("restart from checkpoint: failed batch re-delivers, merge stays exactly-once") {
    // The §3.3 exactly-once story, exercised across a REAL restart:
    // a file-source stream maintains an agg view via IdempotentMerge;
    // the handler applies micro-batch 1's merge and then dies BEFORE
    // Spark commits that batch, so the restarted query (same
    // checkpoint dir) re-delivers batch 1 with the same batchId —
    // without the applied-id dedup the view would double-count.
    val stage = tempDir("graft_restart_src")
    val ckpt = tempDir("graft_restart_ck").toString
    def writeDelta(name: String, rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("op", "g", "value").coalesce(1)
        .write.parquet(stage.resolve(name).toString)
    writeDelta("d0", Seq(("add", "a", 3.0)))
    writeDelta("d1", Seq(("add", "c", 7.0)))
    writeDelta("d2", Seq(("remove", "a", 5.0)))

    val base = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("g", "value")
    val m = new IdempotentMerge(Views.initAggState(base, Seq("g")))
    val delivered = scala.collection.concurrent.TrieMap.empty[Long, Int]
    @volatile var failedOnce = false
    def handler(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      delivered.updateWith(id) { c => Some(c.getOrElse(0) + 1) }
      m.apply(batch, id)(Views.mergeAggDelta(_, _, Seq("g")))
      if (id == 1L && !failedOnce) {
        failedOnce = true
        throw new RuntimeException("injected mid-batch failure")
      }
    }
    val schema = base.sparkSession.createDataFrame(
      Seq(("add", "a", 0.0))).toDF("op", "g", "value").schema
    def startQ() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString + "/*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(handler _)
      .start()

    val q1 = startQ()
    try q1.processAllAvailable()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    assert(q1.exception.isDefined, "first run must die mid-batch")

    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()

    // batch 1 was delivered to the handler in BOTH runs (uncommitted
    // → retried with the same id), and the dedup absorbed the retry
    assert(delivered(1L) == 2, delivered)
    assert(m.appliedIds == Set(0L, 1L, 2L), m.appliedIds)
    val got = m.state.orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // equals the batch recompute over base + all deltas:
    // a: {1,3} cnt2 sum4 ; b: {2} ; c: {7}
    val recompute = Views.initAggState(
      base.unionByName(Seq(("a", 3.0), ("c", 7.0)).toDF("g", "value"))
        .join(Seq(("a", 5.0)).toDF("g", "value"), Seq("g", "value"), "left_anti"),
      Seq("g")).orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == recompute, s"$got vs $recompute")
  }

  test("idempotent merge: re-delivered batchId is a no-op (exactly-once)") {
    val init = Views.initAggState(Seq(("a", 1.0)).toDF("g", "value"), Seq("g"))
    val m = new IdempotentMerge(init)
    val batch = Seq(("add", "a", 5.0)).toDF("op", "g", "value")
    def merge(s: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Views.mergeAggDelta(s, b, Seq("g"))
    m.apply(batch, 7L)(merge)
    m.apply(batch, 7L)(merge) // retry of the same micro-batch
    val r = m.state.collect().head
    assert(r.getAs[Long]("cnt") == 2L && r.getAs[Double]("sum") == 6.0)
    m.apply(batch, 8L)(merge) // genuinely new batch applies
    assert(m.state.collect().head.getAs[Long]("cnt") == 3L)
    assert(m.appliedIds == Set(7L, 8L))
  }

  test("streaming session windows match the batch computation") {
    val stageDir = tempDir("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      stageDir.resolve("events.parquet"))
    val schema = Tables.load(spark, sf, "events").schema
    val evS = Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(stageDir.toString))
    val q = Windows.session(
      Windows.withEventTime(evS, "ts", "1 hour"),
      "ts", "8 hours", Seq("user_id"),
      Seq(count(lit(1)).as("cnt")))
      .select("user_id", "session_start", "cnt")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val want = Windows.session(Tables.events(spark, sf), "ts", "8 hours",
      Seq("user_id"), Seq(count(lit(1)).as("cnt")))
      .select("user_id", "session_start", "cnt").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // append mode only emits sessions closed before the final
    // watermark — a subset of the batch result, and nearly all of it
    // on a 30-day event span with a 1-hour delay
    assert(got.nonEmpty && got.subsetOf(want))
    assert(got.size >= (want.size * 0.9).toInt, s"${got.size} vs ${want.size}")
  }

  test("mergeAggDelta recomputes exact min/max for removal-touched groups") {
    val base0 = Seq(("a", 1.0), ("a", 9.0), ("a", 5.0)).toDF("g", "value")
    val state0 = Views.initAggState(base0, Seq("g"))
    val changes = Seq(("remove", "a", 9.0)).toDF("op", "g", "value")
    val baseAfter = Seq(("a", 1.0), ("a", 5.0)).toDF("g", "value")
    val r = Views.mergeAggDelta(state0, changes, Seq("g"), Some(baseAfter))
      .collect().head
    assert(r.getAs[Long]("cnt") == 2L)
    assert(r.getAs[Double]("max") == 5.0) // NOT the stale 9.0 of the reference
    assert(r.getAs[Double]("min") == 1.0)
  }

  test("G2: pagerank view refresh warm-starts from the prior fixpoint") {
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val es0 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val dir = tempDir("graft_pr_view").toString
    val catalog = new ViewCatalog(spark, dir)
    catalog.register(ViewDefn("pr", Analytics("pagerank", Map.empty),
      EventDriven(0), Seq("edges")))
    val cold = Views.refreshPageRankView(catalog, "pr", vs, es0, coldIters = 60)
    assert(catalog.dataOf("pr").isDefined)
    // graph delta: 3→1 closes the cycle; warm refresh must land on the
    // mutated graph's fixpoint (cold recompute as truth)
    val es1 = es0.unionByName(Seq((3L, 1L)).toDF("src", "dst"))
    val warm = Views.refreshPageRankView(catalog, "pr", vs, es1,
      tol = 1e-10, maxIter = 120)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val truth = graft.algorithms.Algorithms.pageRank(vs, es1, 0.85, 120)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    truth.foreach { case (id, s) => assert(math.abs(warm(id) - s) < 1e-5) }
    // the view data is the refreshed result
    assert(catalog.dataOf("pr").get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == warm)
    assert(cold.collect().nonEmpty)
  }

  test("dependency dag: topo order, cascade, cycle detection") {
    val dag = new DependencyDag
    // FIXTURES §5: follower_statistics → influence_ranking;
    // user_profile_lookup → community_detection → friend_recommendations
    dag.addDependency("influence_ranking", "follower_statistics")
    dag.addDependency("community_detection", "user_profile_lookup")
    dag.addDependency("friend_recommendations", "community_detection")
    val topo = dag.topoOrder
    assert(topo.indexOf("follower_statistics") < topo.indexOf("influence_ranking"))
    assert(topo.indexOf("user_profile_lookup") < topo.indexOf("community_detection"))
    assert(topo.indexOf("community_detection") < topo.indexOf("friend_recommendations"))
    val order = dag.updateOrder(Set("community_detection"))
    assert(order == Seq("community_detection", "friend_recommendations"))
    intercept[IllegalArgumentException] {
      dag.addDependency("user_profile_lookup", "friend_recommendations")
    }
  }

  test("query router scores: agg 95 > algorithm 90 > traversal 75 > sql 50") {
    val catalog = new ViewCatalog(spark, "/tmp/graft_views_test")
    catalog.register(ViewDefn("follower_stats",
      Aggregation("count_by_in_degree", "value", Seq("dst")),
      HybridPolicy(eventDriven = true, 30000), Seq("edges")))
    catalog.register(ViewDefn("influence",
      Analytics("pagerank", Map("damping" -> "0.85")),
      FixedInterval(300000), Seq("edges")))
    catalog.register(ViewDefn("catch_all",
      SqlQuery("SELECT * FROM vertices", Seq("vertices")),
      OnDemand(3600000), Seq("vertices")))
    val router = new QueryRouter(catalog)
    assert(router.route(AggPattern("count_by_in_degree")).contains("follower_stats"))
    assert(router.route(AnalyticsPattern("pagerank")).contains("influence"))
    assert(router.route(AnalyticsPattern("unknown_algo")).contains("catch_all"))
    assert(router.route(AggPattern("other_agg")).contains("catch_all"))
  }

  test("view catalog stores and reloads view data as parquet") {
    val dir = tempDir("graft_views").toString
    val catalog = new ViewCatalog(spark, dir)
    catalog.register(ViewDefn("v1", Lookup("id", Seq(1L, 2L)),
      EventDriven(50), Seq("vertices")))
    catalog.put("v1", Seq((1L, "x"), (2L, "y")).toDF("id", "v"), persist = false)
    catalog.save("v1")
    val reloaded = catalog.load("v1")
    assert(reloaded.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("view catalog: load() inside an open batch rolls back — frame, " +
    "timestamp and purged derived meta all restored (r13 ADVICE)") {
    val dir = tempDir("graft_views_lj").toString
    val catalog = new ViewCatalog(spark, dir)
    catalog.register(ViewDefn("v1", Lookup("id", Seq(1L)),
      EventDriven(50), Seq("vertices")))
    catalog.put("v1", Seq((1L, "old")).toDF("id", "v"), persist = false)
    catalog.save("v1")
    // live state moves past the snapshot; a derived counter rides it
    catalog.put("v1", Seq((1L, "live"), (2L, "live")).toDF("id", "v"),
      persist = false)
    catalog.putMeta("v1!ccCnt", 2L)
    catalog.beginBatch()
    val loaded = catalog.load("v1") // loads the OLD snapshot mid-batch
    assert(loaded.count() == 1L)
    assert(catalog.metaOf("v1!ccCnt").isEmpty, "load purges derived meta")
    catalog.rollbackBatch()
    assert(catalog.dataOf("v1").get.count() == 2L,
      "rollback must restore the pre-batch frame over the loaded one")
    assert(catalog.metaOf("v1!ccCnt").contains(2L),
      "rollback must restore the purged derived counter")
  }

  test("view catalog: load() releases the frame it replaces — no " +
    "persisted RDD outlives put→load→commit or put→load→rollback") {
    val dir = tempDir("graft_views_leak").toString
    val catalog = new ViewCatalog(spark, dir)
    catalog.register(ViewDefn("v1", Lookup("id", Seq(1L)),
      EventDriven(50), Seq("vertices")))
    // count only the RDDs this test persists: the context's map holds
    // its RDDs weakly, so earlier tests' entries can vanish under GC
    val ours = scala.collection.mutable.Set[Int]()
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    def persisted: Int = ids.count(ours)
    def putLive(tag: String): Unit = {
      val before = ids
      catalog.put("v1", Seq((1L, tag)).toDF("id", "v"))
      catalog.dataOf("v1").get.count() // materializes the cache
      ours ++= ids -- before
    }
    putLive("snapshot")
    catalog.save("v1")
    assert(persisted == 1)
    catalog.load("v1")
    assert(persisted == 0, "a load outside a batch leaked the live frame")
    // put→load→commit: the in-batch frame releases at the load, the
    // pre-batch original at commit
    putLive("pre1")
    catalog.beginBatch()
    putLive("mid1")
    assert(persisted == 2)
    catalog.load("v1")
    assert(persisted == 1,
      "the in-batch frame a load replaces must release at once")
    catalog.commitBatch()
    assert(persisted == 0, "commit must release the pre-batch original")
    // put→load→rollback: only the restored pre-batch original stays
    putLive("pre2")
    catalog.beginBatch()
    putLive("mid2")
    catalog.load("v1")
    catalog.rollbackBatch()
    assert(persisted == 1)
    assert(catalog.dataOf("v1").get.collect().map(_.getString(1)).toSeq ==
      Seq("pre2"))
    catalog.load("v1")
    assert(persisted == 0)
  }

  test("pattern view: incremental refresh equals MATCH recompute across two mutation rounds") {
    import spark.implicits._
    import graft.graph.GraphStore
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Nil), (2L, "User", Nil), (3L, "User", Nil),
        (10L, "Group", Nil), (11L, "Group", Nil)),
      Seq((1L, 10L, "member", Nil), (2L, 10L, "member", Nil),
        (2L, 11L, "member", Nil), (3L, 11L, "member", Nil),
        (1L, 2L, "follows", Nil))) // off-pattern label must not leak
    def recompute(st: GraphStore): Set[(Long, Long)] =
      st.vertices.filter(col("label") === "User").select(col("id").as("src"))
        .join(st.edges.filter(col("label") === "member")
          .select("src", "dst"), "src")
        .join(st.vertices.filter(col("label") === "Group")
          .select(col("id").as("dst")), "dst")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def viewRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_pv_spec").toString)
    // round 1: cascade-removing group 10, a fresh user with an edge,
    // and a DUPLICATE add (3→11 exists: feed logs add_edge, the net
    // delta must not double it)
    val m1 = base.removeVertices(Seq(10L).toDF("id"))
      .addVertices(Seq((4L, "User")).toDF("id", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .addEdges(Seq((4L, 11L, "member"), (3L, 11L, "member"))
        .toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
    val r1 = Views.refreshPatternView(cat, "membership", base, m1,
      "User", "member", "Group")
    assert(viewRows(r1) == recompute(m1))
    assert(viewRows(r1) == Set((2L, 11L), (3L, 11L), (4L, 11L)))
    // round 2: re-add group 10 (cascaded edges stay gone), wire 1→10,
    // drop 2→11 explicitly, cascade-remove user 3
    val m2 = m1.addVertices(Seq((10L, "Group")).toDF("id", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .addEdges(Seq((1L, 10L, "member")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .removeEdges(Seq((2L, 11L, "member")).toDF("src", "dst", "label"))
      .removeVertices(Seq(3L).toDF("id"))
    val r2 = Views.refreshPatternView(cat, "membership", m1, m2,
      "User", "member", "Group")
    assert(viewRows(r2) == recompute(m2))
    assert(viewRows(r2) == Set((1L, 10L), (4L, 11L)))
    // multiset state stays exact: every surviving row at mult 1
    val mults = cat.dataOf("membership!state").get
      .select("__mult").collect().map(_.getLong(0)).toSet
    assert(mults == Set(1L))
  }

  test("two-hop chain view: incremental refresh equals recompute under mixed windows") {
    import spark.implicits._
    import graft.graph.GraphStore
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Nil), (2L, "User", Nil),
        (10L, "Group", Nil), (11L, "Group", Nil),
        (100L, "Org", Nil), (101L, "Org", Nil)),
      Seq((1L, 10L, "member", Nil), (2L, 10L, "member", Nil),
        (2L, 11L, "member", Nil),
        (10L, 100L, "in", Nil), (11L, 100L, "in", Nil),
        (11L, 101L, "in", Nil)))
    val labels = Seq("User", "Group", "Org")
    val elabels = Seq("member", "in")
    def recompute(st: GraphStore): Set[(Long, Long, Long)] = {
      val u = st.vertices.filter(col("label") === "User")
        .select(col("id").as("c0"))
      val g = st.vertices.filter(col("label") === "Group")
        .select(col("id").as("c1"))
      val o = st.vertices.filter(col("label") === "Org")
        .select(col("id").as("c2"))
      u.join(st.edges.filter(col("label") === "member")
          .select(col("src").as("c0"), col("dst").as("c1")), "c0")
        .join(g, "c1")
        .join(st.edges.filter(col("label") === "in")
          .select(col("src").as("c1"), col("dst").as("c2")), "c1")
        .join(o, "c2")
        .select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_pv2_cat").toString)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // round 1: MIDDLE-layer removal (group 10 cascades both its
    // member and in edges — the case the ΔΔ cross terms exist for),
    // plus a new org wired under group 11
    val m1 = base.removeVertices(Seq(10L).toDF("id"))
      .addVertices(Seq((102L, "Org")).toDF("id", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .addEdges(Seq((11L, 102L, "in")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
    val r1 = Views.refreshPatternChainView(cat, "uo", base, m1,
      labels, elabels)
    assert(rows(r1) == recompute(m1))
    assert(rows(r1) == Set((2L, 11L, 100L), (2L, 11L, 101L), (2L, 11L, 102L)))
    // round 2: head-layer add (user 3 joins group 11), tail edge
    // removal (11-in->101), middle re-add with NO resurrected edges
    val m2 = m1.addVertices(Seq((3L, "User"), (10L, "Group"))
        .toDF("id", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .addEdges(Seq((3L, 11L, "member")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .removeEdges(Seq((11L, 101L, "in")).toDF("src", "dst", "label"))
    val r2 = Views.refreshPatternChainView(cat, "uo", m1, m2,
      labels, elabels)
    assert(rows(r2) == recompute(m2))
    assert(rows(r2) == Set((2L, 11L, 100L), (2L, 11L, 102L),
      (3L, 11L, 100L), (3L, 11L, 102L)))
    val mults = cat.dataOf("uo!state").get
      .select("__mult").collect().map(_.getLong(0)).toSet
    assert(mults == Set(1L))
  }

  test("predicated pattern view: prop updates flip membership incrementally") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.model.PropValue
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Seq("active" -> 1)), (2L, "User", Seq("active" -> 0)),
        (3L, "User", Seq("active" -> 1)), (10L, "Group", Nil)),
      Seq((1L, 10L, "member", Nil), (2L, 10L, "member", Nil),
        (3L, 10L, "member", Nil)))
    val pred = Some(PropValue.compare(col("props")("active"), 1, "="))
    def recompute(st: GraphStore): Set[(Long, Long)] =
      st.vertices.filter(col("label") === "User" &&
          PropValue.compare(col("props")("active"), 1, "="))
        .select(col("id").as("src"))
        .join(st.edges.filter(col("label") === "member")
          .select("src", "dst"), "src")
        .join(st.vertices.filter(col("label") === "Group")
          .select(col("id").as("dst")), "dst")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_pvp_cat").toString)
    def props(kv: (String, Int)*) =
      map(kv.flatMap { case (k, v) =>
        Seq(lit(k), PropValue.ofInt(lit(v.toLong))) }: _*)
    // round 1: pure prop flips — user 1 deactivates (leaves the
    // view), user 2 activates (enters) — no vertex or edge op at all
    val m1 = base.updateVertexProps(
      Seq(1L).toDF("id").select(col("id"), props("active" -> 0).as("props"))
        .unionByName(Seq(2L).toDF("id")
          .select(col("id"), props("active" -> 1).as("props"))))
    val r1 = Views.refreshPatternView(cat, "pv", base, m1,
      "User", "member", "Group", srcPred = pred)
    assert(rows(r1) == recompute(m1))
    assert(rows(r1) == Set((2L, 10L), (3L, 10L)))
    // round 2: a REPLACE update that drops the key entirely (pred
    // goes null → false → leaves), plus an ordinary edge add whose
    // src fails the predicate (must NOT enter)
    val m2 = m1.updateVertexProps(Seq(3L).toDF("id")
        .select(col("id"), props("other" -> 5).as("props")))
      .addEdges(Seq((1L, 10L, "member2")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(PropValue.mapType)))
    val r2 = Views.refreshPatternView(cat, "pv", m1, m2,
      "User", "member", "Group", srcPred = pred)
    assert(rows(r2) == recompute(m2))
    assert(rows(r2) == Set((2L, 10L)))
  }

  test("edge-predicated pattern view: edge prop updates flip membership") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.model.PropValue
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Nil), (2L, "User", Nil), (10L, "Group", Nil)),
      Seq((1L, 10L, "member", Seq("w" -> 1)),
        (2L, 10L, "member", Seq("w" -> 0))))
    val epred = Some(PropValue.compare(col("props")("w"), 1, "="))
    def recompute(st: GraphStore): Set[(Long, Long)] =
      st.vertices.filter(col("label") === "User").select(col("id").as("src"))
        .join(st.edges.filter(col("label") === "member" &&
          PropValue.compare(col("props")("w"), 1, "="))
          .select("src", "dst"), "src")
        .join(st.vertices.filter(col("label") === "Group")
          .select(col("id").as("dst")), "dst")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_epv_cat").toString)
    def wProps(v: Int) = map(lit("w"), PropValue.ofInt(lit(v.toLong)))
    // swap the weights: edge (1,10) leaves, (2,10) enters — a pure
    // update_edge_props window, no add/remove op anywhere
    val m1 = base.updateEdgeProps(
      Seq((1L, 10L, "member")).toDF("src", "dst", "label")
        .select(col("src"), col("dst"), col("label"), wProps(0).as("props"))
        .unionByName(Seq((2L, 10L, "member")).toDF("src", "dst", "label")
          .select(col("src"), col("dst"), col("label"),
            wProps(1).as("props"))))
    val r1 = Views.refreshPatternView(cat, "epv", base, m1,
      "User", "member", "Group", edgePred = epred)
    assert(r1.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 10L)))
    assert(recompute(m1) == Set((2L, 10L)))
  }

  test("streaming pattern view: per-batch folds equal recompute; re-delivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.streaming.StreamPatternView
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Nil), (2L, "User", Nil), (3L, "User", Nil),
        (10L, "Group", Nil), (11L, "Group", Nil)),
      Seq((1L, 10L, "member", Nil), (2L, 10L, "member", Nil),
        (2L, 11L, "member", Nil), (3L, 11L, "member", Nil)))
    def recompute(st: GraphStore): Set[(Long, Long)] =
      st.vertices.filter(col("label") === "User").select(col("id").as("src"))
        .join(st.edges.filter(col("label") === "member")
          .select("src", "dst"), "src")
        .join(st.vertices.filter(col("label") === "Group")
          .select(col("id").as("dst")), "dst")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_spv_cat").toString)
    val meta = tempDir("graft_spv").toString
    val spv = new StreamPatternView(base, meta, cat, "membership",
      "User", "member", "Group")
    val perBatch = scala.collection.concurrent.TrieMap
      .empty[Long, Set[(Long, Long)]]
    // mutation-command rows: (op, id, label, src, dst)
    val input = MemoryStream[(String, Long, String, Long, Long)]
    val cmds = input.toDF()
      .select(col("_1").as("op"), col("_2").as("id"), col("_3").as("label"),
        col("_4").as("src"), col("_5").as("dst"),
        lit(null).cast(graft.model.PropValue.mapType).as("props"))
    val q = spv.writer(cmds) { (view, id) =>
      perBatch.put(id, view.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    }.start()
    // batch 0: fresh user 4 with an edge, cascade-remove group 10
    input.addData(
      ("add_vertex", 4L, "User", 0L, 0L),
      ("add_edge", 0L, "member", 4L, 11L),
      ("remove_vertex", 10L, "", 0L, 0L))
    q.processAllAvailable()
    // batch 1: group 10 reborn (cascaded edges stay gone), wire 1→10,
    // drop 2→11, cascade-remove user 3
    input.addData(
      ("add_vertex", 10L, "Group", 0L, 0L),
      ("add_edge", 0L, "member", 1L, 10L),
      ("remove_edge", 0L, "member", 2L, 11L),
      ("remove_vertex", 3L, "", 0L, 0L))
    q.processAllAvailable()
    q.stop()
    assert(perBatch(0L) == Set((2L, 11L), (3L, 11L), (4L, 11L)))
    assert(perBatch(1L) == Set((1L, 10L), (4L, 11L)))
    assert(perBatch(1L) == recompute(spv.current()))
    // re-delivery of a committed batchId: store and view both no-op
    val redo = spv.applyAndRefresh(
      Seq(("add_vertex", 99L, "User", 0L, 0L)).toDF("_1", "_2", "_3", "_4", "_5")
        .select(col("_1").as("op"), col("_2").as("id"),
          col("_3").as("label"), col("_4").as("src"), col("_5").as("dst"),
          lit(null).cast(graft.model.PropValue.mapType).as("props")), 1L)
    assert(redo.isEmpty)
    assert(recompute(spv.current()) == Set((1L, 10L), (4L, 11L)))
  }

  test("streaming pattern view: mid-fold failure rolls back view state " +
    "and mark; the in-JVM retry folds the batch exactly once") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.streaming.StreamPatternView
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Nil), (10L, "Group", Nil)),
      Seq((1L, 10L, "member", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_spv_rb_cat").toString)
    val meta = tempDir("graft_spv_rb").toString
    // fault injection: the refresh completes its catalog puts (view +
    // !state — a fully half-applied fold from the journal's point of
    // view) and THEN dies, once. Pre-r11 this either lost the batch
    // (mark already advanced) or, without the mark guard, double-
    // folded the delta into the already-updated state on retry.
    var calls = 0
    val spv = new StreamPatternView(base, meta, cat,
      (o: GraphStore, n: GraphStore) => {
        calls += 1
        val view = Views.refreshPatternView(cat, "membership", o, n,
          "User", "member", "Group")
        if (calls == 1) throw new RuntimeException("injected mid-fold fault")
        view
      })
    val b0 = Seq(
      ("add_vertex", 2L, "User", 0L, 0L),
      ("add_edge", 0L, "member", 2L, 10L))
      .toDF("_1", "_2", "_3", "_4", "_5")
      .select(col("_1").as("op"), col("_2").as("id"), col("_3").as("label"),
        col("_4").as("src"), col("_5").as("dst"),
        lit(null).cast(graft.model.PropValue.mapType).as("props"))
    val boom = intercept[RuntimeException] { spv.applyAndRefresh(b0, 0L) }
    assert(boom.getMessage.contains("injected"))
    // rollback left no trace: catalog state gone, store unadvanced
    assert(cat.dataOf("membership").isEmpty &&
      cat.dataOf("membership!state").isEmpty,
      "failed fold must roll back every catalog key it touched")
    assert(spv.current().vertices.count() == 2L)
    // the retry is NOT a no-op (mark was restored) and folds once
    val out = spv.applyAndRefresh(b0, 0L)
    assert(calls == 2 && out.nonEmpty, "retry must re-apply the batch")
    assert(out.get.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 10L)))
    // exactly-once state: every multiset row carries __mult = 1 — a
    // double fold would read 2 for the batch's rows
    val mults = cat.dataOf("membership!state").get
      .select("__mult").collect().map(_.getLong(0)).toSeq
    assert(mults.nonEmpty && mults.forall(_ == 1L),
      s"state multiplicities after retry: $mults")
    // committed batch: re-delivery is a no-op again
    assert(spv.applyAndRefresh(b0, 0L).isEmpty)
  }

  test("streaming var-length view: per-batch walk-count folds equal recompute") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.streaming.StreamPatternView
    // diamond 1→{2,3}→4→5: two walks support (1,4); batches kill them
    // one at a time, and a streaming fold must keep the pair alive
    // until the LAST one dies — the counting case, per micro-batch
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil),
        (4L, "N", Nil), (5L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (1L, 3L, "link", Nil),
        (2L, 4L, "link", Nil), (3L, 4L, "link", Nil),
        (4L, 5L, "link", Nil)))
    def recompute(st: GraphStore): Set[(Long, Long)] = {
      val live = st.edges.filter(col("label") === "link")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val h2 = for ((a, x) <- live; (y, b) <- live if x == y) yield (a, b)
      val h3 = for ((a, x) <- h2; (y, b) <- live if x == y) yield (a, b)
      h2 ++ h3
    }
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_svlv_cat").toString)
    val meta = tempDir("graft_svlv").toString
    val spv = StreamPatternView.fromGql(base, meta, cat, "reach",
      "MATCH (a:N)-[:link*2..3]->(b:N)")
    val perBatch = scala.collection.concurrent.TrieMap
      .empty[Long, Set[(Long, Long)]]
    val input = MemoryStream[(String, Long, String, Long, Long)]
    val cmds = input.toDF()
      .select(col("_1").as("op"), col("_2").as("id"), col("_3").as("label"),
        col("_4").as("src"), col("_5").as("dst"),
        lit(null).cast(graft.model.PropValue.mapType).as("props"))
    val q = spv.writer(cmds) { (view, id) =>
      perBatch.put(id, view.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    }.start()
    // batch 0: one of the two 1→4 walks dies — pair must survive
    input.addData(("remove_edge", 0L, "link", 2L, 4L))
    q.processAllAvailable()
    // batch 1: mid-chain vertex cascade kills the last one
    input.addData(("remove_vertex", 3L, "", 0L, 0L))
    q.processAllAvailable()
    q.stop()
    assert(perBatch(0L).contains((1L, 4L)), "alternate walk keeps (1,4)")
    assert(perBatch(0L) == recompute(
      base.removeEdges(Seq((2L, 4L, "link")).toDF("src", "dst", "label"))))
    assert(!perBatch(1L).contains((1L, 4L)), "last supporting walk died")
    assert(perBatch(1L) == recompute(spv.current()))
  }

  test("GQL-defined streaming pattern view: predicated prop flips per batch") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.model.PropValue
    import graft.streaming.StreamPatternView
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "User", Seq("active" -> 1)), (2L, "User", Seq("active" -> 0)),
        (10L, "Group", Nil)),
      Seq((1L, 10L, "member", Nil), (2L, 10L, "member", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_gspv_cat").toString)
    val meta = tempDir("graft_gspv").toString
    val spv = StreamPatternView.fromGql(base, meta, cat, "active_members",
      "MATCH (a:User {active: 1})-[:member]->(b:Group)")
    // a PURE prop-update batch: user 1 deactivates, user 2 activates
    def cmd(op: String, id: Long, active: Int) =
      Seq((op, id)).toDF("op", "id")
        .select(col("op"), col("id"),
          lit(null).cast("string").as("label"),
          lit(0L).as("src"), lit(0L).as("dst"),
          map(lit("active"), PropValue.ofInt(lit(active.toLong))).as("props"))
    val batch = cmd("update_vertex_props", 1L, 0)
      .unionByName(cmd("update_vertex_props", 2L, 1))
    val r = spv.applyAndRefresh(batch, 0L)
    assert(r.isDefined)
    assert(r.get.select("src", "dst").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet == Set((2L, 10L)))
    // re-delivery: nothing moves
    assert(spv.applyAndRefresh(batch, 0L).isEmpty)
    assert(spv.current().vertices
      .filter(PropValue.compare(col("props")("active"), 1, "="))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("streaming maintainers for the r10 view classes: unbounded reach " +
    "and cross-variable WHERE fold per micro-batch") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.model.PropValue
    import graft.streaming.StreamPatternView
    val noProps = lit(null).cast(PropValue.mapType)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // UNBOUNDED reach through the stream front door: the closure
    // state folds per micro-batch (insertion closure, then DRed)
    val b1 = GraphStore.fromTuples(spark,
      (1L to 6L).map(i => (i, "N", Seq.empty[(String, Any)])),
      Seq((1L, 2L, "dep", Nil), (2L, 3L, "dep", Nil), (4L, 5L, "dep", Nil)))
    val cat1 = new Views.ViewCatalog(spark,
      tempDir("graft_stc_cat").toString)
    val meta1 = tempDir("graft_stc").toString
    val spv1 = StreamPatternView.fromGql(b1, meta1, cat1, "stc",
      "MATCH (a:N)-[:dep*1..]->(b:N)")
    def edgeCmd(op: String, s: Long, d: Long) =
      Seq((op, 0L, "dep", s, d)).toDF("op", "id", "label", "src", "dst")
        .withColumn("props", noProps)
    // batch 0: bridge 3→4 — (1,5), (2,5), (3,5) appear via closure
    val r0 = spv1.applyAndRefresh(edgeCmd("add_edge", 3L, 4L), 0L)
    assert(r0.isDefined && rows(r0.get) == Set(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L)))
    // batch 1: cut 2→3 — everything crossing it DReds away
    val r1 = spv1.applyAndRefresh(edgeCmd("remove_edge", 2L, 3L), 1L)
    assert(r1.isDefined && rows(r1.get) == Set(
      (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)))
    // re-delivery: high-water mark makes it a no-op
    assert(spv1.applyAndRefresh(edgeCmd("remove_edge", 2L, 3L), 1L).isEmpty)
    // CROSS-VARIABLE WHERE through the stream front door: a pure
    // prop-flip batch swings tuples with no membership op at all
    val b2 = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("score" -> 5.0)), (2L, "P", Seq("score" -> 3.0))),
      Seq((1L, 2L, "beats", Nil), (2L, 1L, "beats", Nil)))
    val cat2 = new Views.ViewCatalog(spark,
      tempDir("graft_swh_cat").toString)
    val meta2 = tempDir("graft_swh").toString
    val spv2 = StreamPatternView.fromGql(b2, meta2, cat2, "supsets",
      "MATCH (a:P)-[:beats]->(b:P) WHERE a.score > b.score")
    val flip = Seq(("update_vertex_props", 2L)).toDF("op", "id")
      .select(col("op"), col("id"), lit(null).cast("string").as("label"),
        lit(0L).as("src"), lit(0L).as("dst"),
        map(lit("score"), PropValue.ofFloat(lit(9.0))).as("props"))
    val w0 = spv2.applyAndRefresh(flip, 0L)
    assert(w0.isDefined && rows(w0.get) == Set((2L, 1L)),
      "the prop flip reverses which direction qualifies")
  }

  test("var-length pattern view: walk counting keeps pairs alive until the last path dies") {
    import spark.implicits._
    import graft.graph.GraphStore
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    // diamond 1→{2,3}→4 plus tail 4→5, back edge 4→1 (cycles: walk
    // semantics must include e.g. (1,1) via 1→2→4→1), and an
    // off-label edge that must not leak into the view
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil),
        (4L, "N", Nil), (5L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (1L, 3L, "link", Nil),
        (2L, 4L, "link", Nil), (3L, 4L, "link", Nil),
        (4L, 5L, "link", Nil), (4L, 1L, "link", Nil),
        (1L, 4L, "follows", Nil)))
    // executor-shaped recompute: distinct pairs reachable in exactly
    // h ∈ [2, 3] link-hops (walks — revisits allowed)
    def recompute(st: GraphStore): Set[(Long, Long)] = {
      val hop = st.edges.filter(col("label") === "link")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ns = st.vertices.filter(col("label") === "N")
        .select("id").collect().map(_.getLong(0)).toSet
      val live = hop.filter(e => ns(e._1) && ns(e._2))
      val h2 = for ((a, x) <- live; (y, b) <- live if x == y) yield (a, b)
      val h3 = for ((a, x) <- h2; (y, b) <- live if x == y) yield (a, b)
      h2 ++ h3
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_vlv_cat").toString)
    // bootstrap sanity incl. the cycle pair (1,1) and (4,4)
    val boot = Views.initVarLengthState(base, "N", "link", "N", 2, 3)
    assert(boot.filter(col("src") === 1L && col("dst") === 4L)
      .select("__mult").collect().map(_.getLong(0)).toSeq == Seq(2L),
      "two 2-hop walks 1→2→4 and 1→3→4 must both count")
    // round 1: remove ONE of the two 1→4 paths (edge 2→4); the pair
    // must SURVIVE on the remaining walk — the membership-only
    // counterexample counting exists for
    val m1 = base.removeEdges(Seq((2L, 4L, "link")).toDF("src", "dst", "label"))
    val r1 = Views.refreshVarLengthPatternView(cat, "reach", base, m1,
      "N", "link", "N", 2, 3)
    assert(rows(r1) == recompute(m1))
    assert(rows(r1).contains((1L, 4L)), "alternate path 1→3→4 keeps (1,4)")
    assert(rows(r1).contains((1L, 1L)), "cycle walk 1→3→4→1 keeps (1,1)")
    // round 2: cascade-remove vertex 3 — the LAST 1→4 path dies and
    // every walk THROUGH 3 dies with it; add 2→5 opening new walks
    val m2 = m1.removeVertices(Seq(3L).toDF("id"))
      .addEdges(Seq((2L, 5L, "link")).toDF("src", "dst", "label")
        .withColumn("props", noProps))
    val r2 = Views.refreshVarLengthPatternView(cat, "reach", m1, m2,
      "N", "link", "N", 2, 3)
    assert(rows(r2) == recompute(m2))
    assert(!rows(r2).contains((1L, 4L)), "last supporting walk died")
    assert(rows(r2).contains((1L, 5L)), "new walk 1→2→5")
    // executor parity on the end state: the maintained view equals
    // the var-length MATCH the executor runs (directed *2..3)
    val exe = graft.gql.GqlExecutor.run(m2,
      "MATCH (a:N)-[:link*2..3]->(b:N) RETURN id(a) AS s, id(b) AS d").df
    assert(rows(r2) == exe.select("s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // state multiplicities are exact walk counts, all positive
    assert(cat.dataOf("reach!state").get
      .filter(col("__mult") <= 0).isEmpty)
    // hop-range guard: unbounded-ish ranges reject with a remedy
    intercept[IllegalArgumentException] {
      Views.initVarLengthState(base, "N", "link", "N", 1, 7)
    }
  }

  test("var-length walk states: stored counted-pair bags fold forward, " +
    "skip untouched windows, and match a fresh bootstrap") {
    import spark.implicits._
    import graft.graph.GraphStore
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    // diamond 1→{2,3}→4 with tail 4→5: W_2 carries (1, 4, count 2),
    // so tail-edge churn exercises the WEIGHTED delta path (a single
    // ±1 edge op scaling through a multiplicity-2 walk bag)
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil),
        (4L, "N", Nil), (5L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (1L, 3L, "link", Nil),
        (2L, 4L, "link", Nil), (3L, 4L, "link", Nil),
        (4L, 5L, "link", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_wlk_cat").toString)
    val r0 = Views.refreshVarLengthPatternView(cat, "vl", base, base,
      "N", "link", "N", 2, 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(r0).contains((1L, 5L)), "two 3-hop 1⇝5 walks at boot")
    def w2 = cat.dataOf("vl!w2")
    assert(cat.dataOf("vl!w1").isDefined && w2.isDefined,
      "walk states materialized at bootstrap")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(counts(w2.get)((1L, 4L)) == 2L, "both 2-hop 1⇝4 walks counted")
    val w2Before = w2.get
    // off-label churn: nothing in the link subgraph moves — the fold
    // must skip the walk-state rewrite entirely
    val m1 = base.addEdges(Seq((1L, 4L, "follows")).toDF("src", "dst", "label")
      .withColumn("props", noProps))
    Views.refreshVarLengthPatternView(cat, "vl", base, m1,
      "N", "link", "N", 2, 3)
    assert(w2.get eq w2Before, "untouched window must not rewrite walk state")
    // remove the tail edge 4→5: ΔW_3(1,5) = −2 in ONE weighted row
    // (walk-bag mult 2 × edge op −1); the pair's net reaches zero and
    // it leaves the view with its last walks
    val m2 = m1.removeEdges(Seq((4L, 5L, "link")).toDF("src", "dst", "label"))
    val r2 = Views.refreshVarLengthPatternView(cat, "vl", m1, m2,
      "N", "link", "N", 2, 3)
    assert(!pairs(r2).contains((1L, 5L)), "both 1⇝5 walks died together")
    assert(counts(w2.get).get((2L, 5L)).isEmpty,
      "the 2→4→5 walk leaves the level-2 bag with the cut edge")
    // kill one of the two 1⇝4 walks: count nets 2 → 1, and the stored
    // bag equals what a fresh bootstrap on the end store builds
    val m3 = m2.removeEdges(Seq((2L, 4L, "link")).toDF("src", "dst", "label"))
    val r3 = Views.refreshVarLengthPatternView(cat, "vl", m2, m3,
      "N", "link", "N", 2, 3)
    assert(counts(w2.get)((1L, 4L)) == 1L, "one walk survives with count 1")
    assert(pairs(r3).contains((1L, 4L)))
    val fresh = new Views.ViewCatalog(spark,
      tempDir("graft_wlk_cat2").toString)
    Views.refreshVarLengthPatternView(fresh, "vl", m3, m3,
      "N", "link", "N", 2, 3)
    assert(counts(w2.get) == counts(fresh.dataOf("vl!w2").get),
      "folded walk state == fresh bootstrap on the end store")
    assert(pairs(r3) == pairs(fresh.dataOf("vl").get))
  }

  test("lower-bounded reach view *2..: walk x closure composition, " +
    "insertion + DRed windows, executor parity, rejections") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    val base = GraphStore.fromTuples(spark,
      (1L to 8L).map(i => (i, "N", Seq.empty[(String, Any)])), Nil)
    def edges(es: (Long, Long)*) =
      es.map { case (a, b) => (a, b, "dep") }.toDF("src", "dst", "label")
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_lb_cat").toString)
    GqlViews.register(cat, "far", "MATCH (a:N)-[:dep*2..]->(b:N)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def exe(st: GraphStore) = graft.gql.GqlExecutor.run(st,
      "MATCH (a:N)-[:dep*2..]->(b:N) RETURN id(a) AS s, id(b) AS d").df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // window 1 (pure insertion from the empty bootstrap): chain
    // 1→2→3→4→5 with branch 2→6 and cycle 7⇄8 fed from 4
    val m1 = base.addEdges(edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 6L), (4L, 7L), (7L, 8L), (8L, 7L)).withColumn("props", noProps))
      .truncatedEdges()
    val r1 = GqlViews.refresh(cat, "far", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1).contains((1L, 3L)) && rows(r1).contains((1L, 6L)),
      "2-hop pairs appear")
    assert(rows(r1).contains((7L, 7L)), "cycle self-pair via 7→8→7")
    assert(!rows(r1).contains((1L, 2L)), "length-1 pairs stay OUT of *2..")
    // window 2: bypass 2→4 added, then vertex 3 cascaded away and
    // edge 4→7 removed — pairs through the bypass re-derive (DRed
    // straddle witness), pairs into the 7⇄8 cycle die
    val m2 = m1.addEdges(edges((2L, 4L)).withColumn("props", noProps))
      .removeVertices(Seq(3L).toDF("id"))
      .removeEdges(edges((4L, 7L)))
      .truncated().truncatedEdges()
    val r2 = GqlViews.refresh(cat, "far", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(rows(r2).contains((1L, 4L)) && rows(r2).contains((1L, 5L)),
      "re-derived through the 2→4 bypass")
    assert(!rows(r2).contains((1L, 7L)) && !rows(r2).contains((2L, 8L)),
      "the cycle is unreachable once 4→7 dies")
    assert(rows(r2).contains((7L, 7L)), "the cycle itself survives")
    // end-state parity against a fresh bootstrap (fold == recompute)
    val fresh = new Views.ViewCatalog(spark,
      tempDir("graft_lb_cat2").toString)
    GqlViews.register(fresh, "far", "MATCH (a:N)-[:dep*2..]->(b:N)")
    assert(rows(r2) == rows(GqlViews.refresh(fresh, "far", m2, m2)))
    // *m.. COMPOSES in chains too (sub-state under name!lb<j>): bolt
    // an owns-hop onto the maintained segment and run a window that
    // churns both the closure (new dep edge closes a path into the
    // cycle) and the tail hop (an owns edge dies)
    val withM = m2.addVertices(Seq((20L, "M"), (21L, "M"))
        .toDF("id", "label").withColumn("props", noProps))
      .addEdges(Seq((4L, 20L, "owns"), (5L, 21L, "owns"), (7L, 21L, "owns"))
        .toDF("src", "dst", "label").withColumn("props", noProps))
      .truncated().truncatedEdges()
    val cat3 = new Views.ViewCatalog(spark,
      tempDir("graft_lbc_cat").toString)
    GqlViews.register(cat3, "far_owns",
      "MATCH (a:N)-[:dep*2..]->(b:N)-[:owns]->(c:M)")
    def exeChain(st: GraphStore) = graft.gql.GqlExecutor.run(st,
      "MATCH (a:N)-[:dep*2..]->(b:N)-[:owns]->(c:M) " +
        "RETURN id(a) AS s, id(b) AS m, id(c) AS d").df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def chainRows(df: org.apache.spark.sql.DataFrame) =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(chainRows(GqlViews.refresh(cat3, "far_owns", withM, withM))
      == exeChain(withM))
    val m3 = withM.addEdges(edges((6L, 7L)).withColumn("props", noProps))
      .removeEdges(Seq((5L, 21L, "owns")).toDF("src", "dst", "label"))
      .truncatedEdges()
    val r4 = GqlViews.refresh(cat3, "far_owns", withM, m3)
    assert(chainRows(r4) == exeChain(m3))
    assert(chainRows(r4).contains((2L, 7L, 21L)),
      "new dep edge 6→7 opens *2.. walks into the cycle's owns link")
    // rejections: m > 6 (directed — the walk factor's hop cap) and
    // *0 lower bounds (must fail EAGERLY at register, not at first
    // refresh). Undirected *m.. REGISTERS since r12 for any m — it
    // serves same-component pairs (the CC view; covered by the
    // undirected-unbounded spec), so no walk factor and no cap.
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_deep", "MATCH (a:N)-[:dep*7..]->(b:N)")
    }
    GqlViews.register(cat, "ok_undir_m", "MATCH (a:N)-[:dep*2..]-(b:N)")
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_zero", "MATCH (a:N)-[:dep*0..]->(b:N)")
    }
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_zero_b", "MATCH (a:N)-[:dep*0..2]->(b:N)")
    }
    // a bounded range past the hop cap and an INVERTED range both
    // fail at register too (r12 review: *5..3 used to slip through
    // the eager checks and only die in requireHops at first refresh)
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_wide", "MATCH (a:N)-[:dep*1..7]->(b:N)")
    }
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_inv", "MATCH (a:N)-[:dep*5..3]->(b:N)")
    }
  }

  test("undirected var-length view: symmetrized walk counting, executor parity") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    // path 1-2-3-4 with pendant 5 on 2: the gql_varlength shape —
    // 2-hop undirected pairs including back-and-forth (a, a) walks
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil),
        (4L, "N", Nil), (5L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (2L, 3L, "link", Nil),
        (3L, 4L, "link", Nil), (2L, 5L, "link", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_uvl_cat").toString)
    GqlViews.register(cat, "u22", "MATCH (a:N)-[:link*2..2]-(b:N)")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def exe(st: GraphStore): Set[(Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        "MATCH (a:N)-[:link*2..2]-(b:N) RETURN id(a) AS s, id(b) AS d").df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // round 1: cut the 2-3 edge — the symmetrized delta must retract
    // both orientations' walks
    val m1 = base.removeEdges(Seq((2L, 3L, "link")).toDF("src", "dst", "label"))
    val r1 = GqlViews.refresh(cat, "u22", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1).contains((1L, 5L)) && rows(r1).contains((1L, 1L)),
      "1-2-5 and the back-and-forth 1-2-1 survive")
    assert(!rows(r1).contains((1L, 3L)), "1-2-3 died with the cut edge")
    // round 2: bridge 4-5 — 3-4-5 walks appear
    val m2 = m1.addEdges(Seq((4L, 5L, "link")).toDF("src", "dst", "label")
      .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
    val r2 = GqlViews.refresh(cat, "u22", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(rows(r2).contains((3L, 5L)))
    // incoming still rejects (flip-the-chain remedy)
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_in", "MATCH (a:N)<-[:link]-(b:N)")
    }
  }

  test("undirected single-hop and chain views: symmetrized bag deltas, " +
    "executor parity, self-pair window") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    // reciprocal pair 1⇄2 and self-loop 3→3 pin the BAG semantics:
    // the executor's orientation union matches a reciprocal pair
    // twice and a self-loop twice
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil),
        (4L, "N", Nil), (5L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (2L, 1L, "link", Nil),
        (3L, 3L, "link", Nil), (2L, 3L, "link", Nil),
        (4L, 5L, "link", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_uh_cat").toString)
    GqlViews.register(cat, "uh", "MATCH (a:N)-[:link]-(b:N)")
    def bag(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def exeBag(st: GraphStore): Seq[(Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        "MATCH (a:N)-[:link]-(b:N) RETURN id(a) AS s, id(b) AS d").df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // bootstrap: multiplicities match the executor bag exactly —
    // (1,2) and (2,1) each twice (reciprocal), (3,3) twice (loop)
    val r0 = GqlViews.refresh(cat, "uh", base, base)
    assert(bag(r0) == exeBag(base))
    assert(bag(r0).count(_ == (1L, 2L)) == 2 &&
      bag(r0).count(_ == (3L, 3L)) == 2)
    // window 1: drop ONE orientation of the reciprocal pair — (1,2)
    // must survive at multiplicity 1, not vanish
    val m1 = base.removeEdges(Seq((2L, 1L, "link")).toDF("src", "dst", "label"))
    val r1 = GqlViews.refresh(cat, "uh", base, m1)
    assert(bag(r1) == exeBag(m1))
    assert(bag(r1).count(_ == (1L, 2L)) == 1)
    // window 2 — the (v,v) SELF-PAIR window: add a self-loop 5→5 and
    // cascade-remove vertex 3 (kills its self-loop AND 2-3)
    val m2 = m1.addEdges(Seq((5L, 5L, "link")).toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .removeVertices(Seq(3L).toDF("id"))
    val r2 = GqlViews.refresh(cat, "uh", m1, m2)
    assert(bag(r2) == exeBag(m2))
    assert(bag(r2).count(_ == (5L, 5L)) == 2, "self-loop matches twice")
    assert(!bag(r2).exists(p => p._1 == 3L || p._2 == 3L))
    // mixed-direction CHAIN view: (a)-[:link]-(b)-[:link]->(c)
    GqlViews.register(cat, "uchain",
      "MATCH (a:N)-[:link]-(b:N)-[:link]->(c:N)")
    def bag3(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def exeBag3(st: GraphStore): Seq[(Long, Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        "MATCH (a:N)-[:link]-(b:N)-[:link]->(c:N) " +
          "RETURN id(a) AS x, id(b) AS y, id(c) AS z").df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val c0 = GqlViews.refresh(cat, "uchain", m2, m2)
    assert(bag3(c0) == exeBag3(m2))
    // window: re-bridge 2-4 (undirected first hop must see BOTH
    // orientations of the new edge feeding the directed second hop)
    val m3 = m2.addEdges(Seq((4L, 2L, "link")).toDF("src", "dst", "label")
      .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
    val c1 = GqlViews.refresh(cat, "uchain", m2, m3)
    assert(bag3(c1) == exeBag3(m3))
    assert(bag3(c1).contains((2L, 4L, 5L)),
      "new walk 2-4→5 via the undirected first hop's reverse orientation")
  }

  test("unbounded reachability view: semi-naive insertion, DRed deletion, " +
    "recompute-fallback parity, executor parity") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    def tc(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      var r = edges
      var changed = true
      while (changed) {
        val next = for ((a, x) <- r; (y, b) <- r if x == y) yield (a, b)
        val r2 = r ++ next
        changed = r2.size != r.size
        r = r2
      }
      r
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    def addE(st: GraphStore, es: Seq[(Long, Long)]) =
      st.addEdges(es.map { case (a, b) => (a, b, "dep") }
        .toDF("src", "dst", "label").withColumn("props", noProps))
    val base = GraphStore.fromTuples(spark,
      (0L to 9L).map(i => (i, "N", Seq.empty[(String, Any)])), Nil)
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_tc_cat").toString)
    GqlViews.register(cat, "tc", "MATCH (a:N)-[:dep*1..]->(b:N)")
    // window 1 — INSERTIONS: a chain, a branch, and a 2-cycle; the
    // view bootstraps empty so every pair arrives via the semi-naive
    // insertion loop
    val e1 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 6L))
    val m1 = addE(base, e1)
    val r1 = GqlViews.refresh(cat, "tc", base, m1)
    assert(rows(r1) == tc(e1.toSet))
    assert(rows(r1).contains((0L, 5L)), "5-hop chain pair")
    assert(rows(r1).contains((6L, 6L)) && rows(r1).contains((7L, 7L)),
      "cycle self-pairs")
    // window 2 — DELETION with an alternate path: add the 1→3 bypass
    // and remove 2→3; (0,3)..(0,5) must SURVIVE via the bypass while
    // (2,3)..(2,5) die — membership DRed re-derivation, not recompute
    val m2 = addE(m1, Seq((1L, 3L)))
      .removeEdges(Seq((2L, 3L, "dep")).toDF("src", "dst", "label"))
    val e2 = e1.toSet - ((2L, 3L)) + ((1L, 3L))
    val r2 = GqlViews.refresh(cat, "tc", m1, m2)
    assert(rows(r2) == tc(e2))
    assert(rows(r2).contains((0L, 5L)) && !rows(r2).contains((2L, 4L)))
    // window 3 — VERTEX CASCADE: node 4 leaves (cascading 3→4, 4→5)
    val m3 = m2.removeVertices(Seq(4L).toDF("id"))
    val e3 = e2.filter(p => p._1 != 4L && p._2 != 4L)
    val r3 = GqlViews.refresh(cat, "tc", m2, m3)
    assert(rows(r3) == tc(e3))
    assert(!rows(r3).contains((0L, 5L)), "last path to 5 ran through 4")
    // FORCED-BRANCH parity (r11: the DRed-vs-recompute switch is
    // aCnt > recomputeRatio·|state|, measured per refresh): pin BOTH
    // branches on the same mutation windows — end state identical.
    // ratio = ∞ can never trip → always DRed; ratio = 0 trips on any
    // deletion → always recompute.
    for (ratio <- Seq(Double.MaxValue, 0.0)) {
      val cat2 = new Views.ViewCatalog(spark,
        tempDir("graft_tc2_cat").toString)
      Views.refreshReachabilityView(cat2, "tc2", base, m1, "N", "dep", "N")
      Views.refreshReachabilityView(cat2, "tc2", m1, m2, "N", "dep", "N",
        recomputeRatio = ratio)
      val rf = Views.refreshReachabilityView(cat2, "tc2", m2, m3,
        "N", "dep", "N", recomputeRatio = ratio)
      assert(rows(rf) == tc(e3), s"recomputeRatio=$ratio")
    }
    // executor parity: `*1..` caps at VarLenCap=10 hops in the
    // EXECUTOR — this fixture's diameter is under the cap, so the
    // maintained unbounded answer and the capped expansion agree
    val exe = graft.gql.GqlExecutor.run(m3,
      "MATCH (a:N)-[:dep*1..]->(b:N) RETURN id(a) AS s, id(b) AS d").df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(r3) == exe)
    // *2.. lower bounds REGISTER since r11 (walk x closure
    // composition — own spec); undirected unbounded registers since
    // r12 (incremental connected components — own spec), but cannot
    // COMPOSE with further hops (component merges imply quadratic
    // pair-level ops)
    GqlViews.register(cat, "ok_m", "MATCH (a:N)-[:dep*2..]->(b:N)")
    GqlViews.register(cat, "ok_ud", "MATCH (a:N)-[:dep*1..]-(b:N)")
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_ud_chain",
        "MATCH (a:N)-[:dep*1..]-(b:N)-[:dep]->(c:N)")
    }
  }

  test("undirected unbounded view: incremental connected components — " +
    "merge, split, redundancy survival, vertex cascade, executor parity") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    def pairs(comps: Set[Set[Long]]): Set[(Long, Long)] =
      comps.flatMap(c => for (a <- c; b <- c) yield (a, b))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    def addE(st: GraphStore, es: Seq[(Long, Long)]) =
      st.addEdges(es.map { case (a, b) => (a, b, "link") }
        .toDF("src", "dst", "label").withColumn("props", noProps))
    def remE(st: GraphStore, es: Seq[(Long, Long)]) =
      st.removeEdges(es.map { case (a, b) => (a, b, "link") }
        .toDF("src", "dst", "label"))
    val base = GraphStore.fromTuples(spark,
      (0L to 17L).map(i => (i, "N", Seq.empty[(String, Any)])), Nil)
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_cc_cat").toString)
    GqlViews.register(cat, "peers", "MATCH (a:N)-[:link*1..]-(b:N)")
    // window 1 — mixed-orientation chain {0..5}, triangle {6,7,8},
    // self-loop {10}, pair {12,13}, star {15,16,17}; the view
    // bootstraps empty so everything arrives via the merge path
    val e1 = Seq((1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L),
      (6L, 7L), (7L, 8L), (8L, 6L), (10L, 10L), (12L, 13L),
      (15L, 16L), (15L, 17L))
    val m1 = addE(base, e1)
    val r1 = GqlViews.refresh(cat, "peers", base, m1)
    val comps1 = Set(Set(0L, 1L, 2L, 3L, 4L, 5L), Set(6L, 7L, 8L),
      Set(10L), Set(12L, 13L), Set(15L, 16L, 17L))
    assert(rows(r1) == pairs(comps1))
    assert(rows(r1).contains((10L, 10L)), "self-loop self-pair")
    assert(rows(r1).contains((0L, 0L)), "any incident vertex self-pairs")
    // r13: the carried '!ccCnt' meta must equal the stored label
    // state's true cardinality after the merge-only window — it
    // replaces the per-deletion state-sized count job
    assert(cat.metaOf("peers!cc!ccCnt")
      .contains(cat.dataOf("peers!cc").get.count()),
      "ccCnt meta after merge window")
    // executor parity: reachability over the symmetrized bag (the
    // fixture's diameter is under the executor's VarLenCap)
    val exe = graft.gql.GqlExecutor.run(m1,
      "MATCH (a:N)-[:link*1..]-(b:N) RETURN id(a) AS s, id(b) AS d").df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(r1) == exe)
    // window 2 — all four incremental shapes at once:
    //  SPLIT: remove (3,2) cuts {0..5} into {0,1,2} and {3,4,5}
    //  MERGE: add (5,6) joins {3,4,5} with the triangle
    //  REDUNDANCY: add 12-14-13 then remove (12,13) — the component
    //   survives whole through the new path (re-derivation, not loss)
    //  VERTEX CASCADE: remove vertex 15 — 16 and 17 lose their only
    //   edges and drop from the state entirely (no self-pairs left)
    val m2 = remE(addE(m1, Seq((5L, 6L), (12L, 14L), (14L, 13L))),
        Seq((3L, 2L), (12L, 13L)))
      .removeVertices(Seq(15L).toDF("id"))
    val r2 = GqlViews.refresh(cat, "peers", m1, m2)
    val comps2 = Set(Set(0L, 1L, 2L), Set(3L, 4L, 5L, 6L, 7L, 8L),
      Set(10L), Set(12L, 13L, 14L))
    assert(rows(r2) == pairs(comps2))
    assert(!rows(r2).contains((16L, 16L)) && !rows(r2).contains((17L, 17L)),
      "isolated vertices leave the state")
    assert(rows(r2).contains((12L, 13L)), "redundant path keeps the pair")
    // r13: ccCnt stays exact through the mixed window (split +
    // re-derivation drop-outs + merge + fresh endpoints + cascade)
    assert(cat.metaOf("peers!cc!ccCnt")
      .contains(cat.dataOf("peers!cc").get.count()),
      "ccCnt meta after mixed split/merge window")
    // FORCED-BRANCH parity: recomputeRatio = MaxValue can never trip
    // (always candidate-restricted re-derivation), 0.0 trips on any
    // deletion (always recompute) — end state identical
    for (ratio <- Seq(Double.MaxValue, 0.0)) {
      val cat2 = new Views.ViewCatalog(spark,
        tempDir("graft_cc2_cat").toString)
      Views.refreshUndirectedReachView(cat2, "p2", base, m1,
        "N", "link", "N")
      val rf = Views.refreshUndirectedReachView(cat2, "p2", m1, m2,
        "N", "link", "N", recomputeRatio = ratio)
      assert(rows(rf) == pairs(comps2), s"recomputeRatio=$ratio")
      // r13: both the re-derivation branch (ratio = MaxValue) and the
      // recompute branch (ratio = 0.0) must land the exact ccCnt
      assert(cat2.metaOf("p2!cc!ccCnt")
        .contains(cat2.dataOf("p2!cc").get.count()),
        s"ccCnt meta, recomputeRatio=$ratio")
    }
    // *m.. undirected serves the SAME rows for every m (walks pad by
    // 2 through any incident edge, so >= m never excludes a
    // connected pair) — and the executor agrees
    GqlViews.register(cat, "peers3", "MATCH (a:N)-[:link*3..]-(b:N)")
    val r3 = GqlViews.refresh(cat, "peers3", base, m2)
    assert(rows(r3) == pairs(comps2))
    val exe3 = graft.gql.GqlExecutor.run(m2,
      "MATCH (a:N)-[:link*3..]-(b:N) RETURN id(a) AS s, id(b) AS d").df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(r3) == exe3)
  }

  test("GQL-registered var-length view: refresh parity and rejections") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil), (4L, "N", Nil)),
      Seq((1L, 2L, "link", Nil), (2L, 3L, "link", Nil),
        (3L, 4L, "link", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_gvlv_cat").toString)
    GqlViews.register(cat, "reach23", "MATCH (a:N)-[:link*2..3]->(b:N)")
    val m1 = base.removeEdges(Seq((2L, 3L, "link")).toDF("src", "dst", "label"))
    val r1 = GqlViews.refresh(cat, "reach23", base, m1)
    assert(r1.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set.empty,
      "the only multi-hop chain ran through the removed edge")
    // edge props on a var-length segment reject
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad2",
        """MATCH (a:N)-[:link*1..2 {w: 1}]->(b:N)""")
    }
    // *m.. unbounded segments REGISTER in chains since the r11
    // continuation (walk x closure composition sub-state — covered by
    // the lower-bounded reach spec)
    GqlViews.register(cat, "ok3",
      "MATCH (a:N)-[:link*2..]->(b:N)-[:link]->(c:N)")
    // a bounded range past the hop cap rejects at REGISTER, like *0
    // and *8.. do — not at first refresh (r12, eager-validation
    // symmetry)
    val wide = intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad3", "MATCH (a:N)-[:link*1..7]->(b:N)")
    }
    assert(wide.getMessage.contains("[1, 6]"), wide.getMessage)
  }

  test("composed chains with an UNBOUNDED segment: closure sub-state " +
    "folds through the chain; executor parity across mutation windows") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    // N-layer flows DAG: 1→2→3→4 plus branch 2→5; M-layer owns
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil), (4L, "N", Nil),
        (5L, "N", Nil), (10L, "M", Nil), (11L, "M", Nil)),
      Seq((1L, 2L, "dep", Nil), (2L, 3L, "dep", Nil),
        (3L, 4L, "dep", Nil), (2L, 5L, "dep", Nil),
        (4L, 10L, "owns", Nil), (5L, 11L, "owns", Nil),
        (2L, 10L, "owns", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_ucc_cat").toString)
    val defn = "MATCH (a:N)-[:dep*1..]->(b:N)-[:owns]->(c:M)"
    GqlViews.register(cat, "reach_owns", defn)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // executor parity: `*1..` caps at VarLenCap=10 in the EXECUTOR;
    // this fixture's diameter stays under the cap so the maintained
    // closure and the capped expansion agree
    def exe(st: GraphStore): Set[(Long, Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        defn + " RETURN id(a) AS x, id(b) AS y, id(c) AS z").df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val r0 = GqlViews.refresh(cat, "reach_owns", base, base)
    assert(rows(r0) == exe(base))
    assert(rows(r0).contains((1L, 4L, 10L)), "3-hop closure pair × owns")
    // window 1 — insertion closure growth AND tail churn in one
    // window: bypass 1→3 (already-reachable pairs must not double),
    // new chain tail 4→6 with its own owns edge (extends the closure
    // and the M-join), owns edge 2→10 removed (kills (1,2,10))
    val m1 = base.addVertices(Seq((6L, "N")).toDF("id", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .addEdges(Seq((1L, 3L, "dep"), (4L, 6L, "dep"), (6L, 11L, "owns"))
        .toDF("src", "dst", "label")
        .withColumn("props", lit(null).cast(graft.model.PropValue.mapType)))
      .removeEdges(Seq((2L, 10L, "owns")).toDF("src", "dst", "label"))
      .truncated().truncatedEdges()
    val r1 = GqlViews.refresh(cat, "reach_owns", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1).contains((1L, 6L, 11L)), "extended closure × new owns")
    assert(!rows(r1).contains((1L, 2L, 10L)), "owns churn kills the tail")
    // window 2 — DRed with a straddle witness: remove 2→3; 1 keeps
    // reaching 3 and 4 through the 1→3 bypass (pairs must RE-derive),
    // while 2 truly loses 3, 4, 6
    val m2 = m1.removeEdges(Seq((2L, 3L, "dep")).toDF("src", "dst", "label"))
      .truncatedEdges()
    val r2 = GqlViews.refresh(cat, "reach_owns", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(rows(r2).contains((1L, 4L, 10L)), "re-derived through the bypass")
    assert(!rows(r2).exists(t => t._1 == 2L && t._2 == 4L),
      "2 truly lost its path to 4")
    // forced-branch parity on the SAME windows: ratio=0 recomputes
    // the closure sub-state instead of DRed — end state identical
    val cat2 = new Views.ViewCatalog(spark,
      tempDir("graft_ucc2_cat").toString)
    GqlViews.register(cat2, "reach_owns", defn)
    GqlViews.refresh(cat2, "reach_owns", base, m1)
    // the GQL front door has no ratio knob — drive the Views-level
    // refresher with the same definition decomposition; ratio = 0
    // trips the recompute fallback on any deletion
    Views.refreshComposedChainView(cat2, "reach_owns", m1, m2,
      Seq("N", "N", "M"), Seq("dep", "owns"),
      Seq(Some((1, Int.MaxValue)), None), recomputeRatio = 0.0)
    assert(rows(cat2.dataOf("reach_owns").get) == exe(m2))
  }

  test("cross-variable WHERE views: tuple-level maintenance under prop " +
    "flips, edge churn, and cascades; executor parity") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    import graft.model.PropValue
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("score" -> 5.0)), (2L, "P", Seq("score" -> 3.0)),
        (3L, "P", Seq("score" -> 7.0)), (4L, "P", Seq("score" -> 1.0))),
      Seq((1L, 2L, "beats", Seq("margin" -> 1.0)),
        (2L, 3L, "beats", Seq("margin" -> 5.0)),
        (3L, 4L, "beats", Seq("margin" -> 2.0)),
        (4L, 1L, "beats", Seq("margin" -> 9.0))))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_wh_cat").toString)
    // cross-variable + edge-prop arithmetic: exactly the class the
    // per-position props-block split cannot carry
    val defn = "MATCH (a:P)-[e:beats]->(b:P) " +
      "WHERE a.score > b.score AND e.margin < 6"
    GqlViews.register(cat, "upsets", defn)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def exe(st: GraphStore): Set[(Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        defn + " RETURN id(a) AS s, id(b) AS d").df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r0 = GqlViews.refresh(cat, "upsets", base, base)
    assert(rows(r0) == exe(base) && rows(r0) == Set((1L, 2L), (3L, 4L)))
    // window 1 — PURE PROP FLIPS, no edge/vertex membership op at
    // all: 2 rises to 6.0 (1→2 leaves: 5 < 6), 4 rises to 9.0 ((3,4)
    // leaves: 7 < 9; (4,1) would enter on score except its margin 9
    // fails the edge half) — the view empties entirely
    val m1 = base.updateVertexProps(
      Seq((2L, 6.0), (4L, 9.0)).toDF("id", "s")
        .select(col("id"),
          map(lit("score"), PropValue.ofFloat(col("s"))).as("props")))
    val r1 = GqlViews.refresh(cat, "upsets", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1).isEmpty)
    // window 2 — edge churn + cascade: new edge 2→4 (2's 6.0 < 4's
    // 9.0 → out; margin small), update edge 4→1's margin to 3 (now
    // 9.0 > 5.0 AND margin 3 < 6 → enters), remove vertex 3
    val m2 = m1.addEdges(Seq((2L, 4L, "beats")).toDF("src", "dst", "label")
        .withColumn("props",
          map(lit("margin"), PropValue.ofFloat(lit(1.0)))))
      .updateEdgeProps(Seq((4L, 1L, "beats")).toDF("src", "dst", "label")
        .withColumn("props",
          map(lit("margin"), PropValue.ofFloat(lit(3.0)))))
      .removeVertices(Seq(3L).toDF("id"))
    val r2 = GqlViews.refresh(cat, "upsets", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(rows(r2).contains((4L, 1L)), "edge-prop update flipped it in")
    assert(!rows(r2).exists(p => p._1 == 3L || p._2 == 3L))
    // WHERE validation: cross-position chain conjuncts and alias
    // refs still reject (adjacent-scoped chain WHERE is maintained
    // since r11 — its own test below)
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_w",
        "MATCH (a:P)-[:beats]->(b:P)-[:beats]->(c:P) WHERE a.score > c.score")
    }
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_w2",
        "MATCH (a:P)-[:beats]->(b:P) WHERE missing.score > 1")
    }
    // repeated variable names reject at REGISTRATION (the props
    // columns would be ambiguous at refresh)
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_w3",
        "MATCH (a:P)-[:beats]->(a:P) WHERE a.score > 1")
    }
  }

  test("chain WHERE views (adjacent-scoped conjuncts): per-hop predicated " +
    "relations under prop flips, edge churn, cascades; executor parity") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    import graft.model.PropValue
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "P", Seq("score" -> 5.0)), (2L, "P", Seq("score" -> 3.0)),
        (3L, "P", Seq("score" -> 7.0)), (4L, "P", Seq("score" -> 1.0)),
        (5L, "P", Seq("score" -> 4.0))),
      Seq((1L, 2L, "beats", Seq("margin" -> 1.0)),
        (2L, 3L, "beats", Seq("margin" -> 5.0)),
        (3L, 4L, "beats", Seq("margin" -> 2.0)),
        (4L, 5L, "beats", Seq("margin" -> 9.0)),
        (2L, 4L, "beats", Seq("margin" -> 3.0))))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_whc_cat").toString)
    // three conjunct scopes in one definition: cross-variable within
    // hop 0 (a, b), edge-only within hop 1 (e2), and an interior
    // single-variable (b — fits both windows, assigned to hop 0)
    val defn = "MATCH (a:P)-[e1:beats]->(b:P)-[e2:beats]->(c:P) " +
      "WHERE a.score > b.score AND e2.margin < 6 AND b.score > 0"
    GqlViews.register(cat, "upset_chains", defn)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def exe(st: GraphStore): Set[(Long, Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        defn + " RETURN id(a) AS x, id(b) AS y, id(c) AS z").df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val r0 = GqlViews.refresh(cat, "upset_chains", base, base)
    assert(rows(r0) == exe(base))
    assert(rows(r0) == Set((1L, 2L, 3L), (1L, 2L, 4L)))
    // window 1 — PURE PROP FLIPS, no membership op in the feed: 2
    // rises to 6.0 (hop-0 conjunct 5 > 6 fails — both rows leave);
    // edge 4→5's margin drops to 3.0 (hop-1 conjunct now passes —
    // (2,4,5) and (3,4,5) enter through the OTHER hop's flip)
    val m1 = base.updateVertexProps(
        Seq((2L, 6.0)).toDF("id", "s").select(col("id"),
          map(lit("score"), PropValue.ofFloat(col("s"))).as("props")))
      .updateEdgeProps(Seq((4L, 5L, "beats")).toDF("src", "dst", "label")
        .withColumn("props",
          map(lit("margin"), PropValue.ofFloat(lit(3.0)))))
    val r1 = GqlViews.refresh(cat, "upset_chains", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1) == Set((2L, 4L, 5L), (3L, 4L, 5L)))
    // window 2 — cascade + churn: vertex 2 leaves (kills (2,4,5) and
    // every chain through 2), edges 3→5 and 5→4 arrive ((3,5,4) and
    // the 5→4→5 loop tuple enter)
    val m2 = m1.removeVertices(Seq(2L).toDF("id"))
      .addEdges(Seq((3L, 5L, 1.0), (5L, 4L, 2.0))
        .toDF("src", "dst", "m")
        .select(col("src"), col("dst"), lit("beats").as("label"),
          map(lit("margin"), PropValue.ofFloat(col("m"))).as("props")))
    val r2 = GqlViews.refresh(cat, "upset_chains", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(rows(r2).contains((3L, 5L, 4L)))
    assert(rows(r2).contains((5L, 4L, 5L)), "5→4→5 walk through the loop")
    assert(!rows(r2).exists(t => t._1 == 2L || t._2 == 2L || t._3 == 2L))
    // OR across positions inside ONE conjunct stays rejected (it
    // cannot split into per-hop relations)
    intercept[IllegalArgumentException] {
      GqlViews.register(cat, "bad_wc",
        "MATCH (a:P)-[:beats]->(b:P)-[:beats]->(c:P) " +
          "WHERE a.score > 9 OR c.score > 9")
    }
  }

  test("composed chain views: bounded var-length segments fold through " +
    "the chain; executor parity across mutation windows") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.gql.GqlViews
    val noProps = lit(null).cast(graft.model.PropValue.mapType)
    // N-layer: path 1→2→3→4 plus bypass 1→3; M-layer: owns edges
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "N", Nil), (2L, "N", Nil), (3L, "N", Nil), (4L, "N", Nil),
        (10L, "M", Nil), (11L, "M", Nil)),
      Seq((1L, 2L, "link", Nil), (2L, 3L, "link", Nil),
        (3L, 4L, "link", Nil), (1L, 3L, "link", Nil),
        (3L, 10L, "owns", Nil), (4L, 11L, "owns", Nil)))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_cc_cat").toString)
    val defn = "MATCH (a:N)-[:link*1..2]->(b:N)-[:owns]->(c:M)"
    GqlViews.register(cat, "vl_owns", defn)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("c0", "c1", "c2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def exe(st: GraphStore): Seq[(Long, Long, Long)] =
      graft.gql.GqlExecutor.run(st,
        defn + " RETURN id(a) AS x, id(b) AS y, id(c) AS z").df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    // bootstrap parity (multiset compare — distinct VL pairs × owns)
    val r0 = GqlViews.refresh(cat, "vl_owns", base, base)
    assert(rows(r0) == exe(base))
    assert(rows(r0).contains((1L, 3L, 10L)) && rows(r0).contains((2L, 4L, 11L)))
    // window 1: remove ONE of the two 1⇒3 walks (edge 1→3); the
    // (1,3,10) row must SURVIVE on the remaining 1→2→3 walk — the
    // membership-vs-counting distinction the sub-state exists for
    val m1 = base.removeEdges(Seq((1L, 3L, "link")).toDF("src", "dst", "label"))
    val r1 = GqlViews.refresh(cat, "vl_owns", base, m1)
    assert(rows(r1) == exe(m1))
    assert(rows(r1).contains((1L, 3L, 10L)), "alternate walk keeps the row")
    // window 2: tail-hop churn + VL cascade in ONE window — drop the
    // owns edge 3→10, add owns 2→10, remove vertex 2 (killing the
    // last 1⇒3 walk AND the just-added owns edge — the ΔΔ cross term)
    val m2 = m1.addEdges(Seq((2L, 10L, "owns")).toDF("src", "dst", "label")
        .withColumn("props", noProps))
      .removeEdges(Seq((3L, 10L, "owns")).toDF("src", "dst", "label"))
      .removeVertices(Seq(2L).toDF("id"))
    val r2 = GqlViews.refresh(cat, "vl_owns", m1, m2)
    assert(rows(r2) == exe(m2))
    assert(!rows(r2).exists(t => t._1 == 2L || t._2 == 2L))
    // window 3: rebuild a walk into 4 (3→4 exists; add 1→3 back) —
    // new rows appear through BOTH the sub-state and the tail hop
    val m3 = m2.addEdges(Seq((1L, 3L, "link")).toDF("src", "dst", "label")
      .withColumn("props", noProps))
    val r3 = GqlViews.refresh(cat, "vl_owns", m2, m3)
    assert(rows(r3) == exe(m3))
    assert(rows(r3).contains((1L, 4L, 11L)), "1→3→4 walk reaches owns 4→11")
  }

  test("netOps: the tagged one-exchange diff equals the two-anti-join " +
    "form as bags, duplicates and empty sides included") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // key-only, non-null (src, dst) bags with duplicates
    def keyBag(n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((rnd.nextInt(4).toLong, rnd.nextInt(3).toLong))
    val cases = Seq.fill(4)((keyBag(rnd.nextInt(12)), keyBag(rnd.nextInt(12)))) ++
      Seq((Nil, keyBag(5)), (keyBag(5), Nil), (Nil, Nil))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    cases.foreach { case (os, ns) =>
      val o = os.toDF("src", "dst")
      val n = ns.toDF("src", "dst")
      val keys = Seq("src", "dst")
      val reference = n.join(o, keys, "left_anti").withColumn("op", lit("add"))
        .unionByName(o.join(n, keys, "left_anti")
          .withColumn("op", lit("remove")))
      val got = Views.netOps(o, n, keys)
      assert(got.columns.toSeq == Seq("src", "dst", "op"))
      assert(bag(got) == bag(reference), s"o=$os n=$ns")
    }
  }

  test("view refresh job counts: a warm refresh of the single-hop, " +
    "WHERE-hop, 2-hop chain and composed classes stays within its " +
    "measured job budget") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.graph.GraphStore.propsMap
    import graft.gql.GqlViews
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "A", Seq("w" -> 2)), (2L, "A", Seq("w" -> 0)),
        (3L, "A", Seq("w" -> 1)), (10L, "B", Seq("w" -> 1)),
        (11L, "B", Seq("w" -> 0))),
      Seq((1L, 10L, "x", Seq("m" -> 1)), (2L, 10L, "x", Seq("m" -> 0)),
        (3L, 11L, "x", Seq("m" -> 1)), (10L, 2L, "y", Nil),
        (11L, 3L, "y", Nil), (1L, 2L, "y", Nil), (2L, 3L, "y", Nil)))
    // one mixed window: a vertex cascade, an edge add, a prop flip
    val m1 = base.removeVertices(Seq(3L).toDF("id"))
      .addEdges(Seq((1L, 11L, "x")).toDF("src", "dst", "label")
        .withColumn("props", propsMap("m" -> 0)))
      .updateVertexProps(Seq(2L).toDF("id")
        .withColumn("props", propsMap("w" -> 3)))
    // budgets are the counts measured on this fixture; a change
    // that adds a job to a refresh fails here
    val budgets = Seq(
      ("hop", "MATCH (a:A)-[:x]->(b:B)", 21),
      ("where_hop", "MATCH (a:A)-[e:x]->(b:B) WHERE a.w >= b.w", 18),
      ("chain", "MATCH (a:A)-[:x]->(b:B)-[:y]->(c:A)", 38),
      ("composed", "MATCH (a:A)-[:y*1..2]->(b:A)-[:x]->(c:B)", 71))
    val cat = new Views.ViewCatalog(spark,
      tempDir("graft_jobs_cat").toString)
    val sc = spark.sparkContext
    val counts = budgets.map { case (name, gql, _) =>
      GqlViews.register(cat, name, gql)
      GqlViews.refresh(cat, name, base, base) // bootstrap: not counted
      val group = s"refresh-jobs-$name-${System.nanoTime()}"
      sc.setJobGroup(group, s"warm refresh of $name", false)
      try GqlViews.refresh(cat, name, base, m1)
      finally sc.clearJobGroup()
      org.apache.spark.graft.SparkTestAccess.flushListenerBus(sc)
      name -> sc.statusTracker.getJobIdsForGroup(group).length
    }
    info(counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
    budgets.zip(counts).foreach { case ((name, _, bound), (_, n)) =>
      assert(n <= bound, s"$name: $n jobs per warm refresh, budget $bound")
    }
  }

  test("change window: edge-only, duplicate-row, self-loop and " +
    "other-label windows are exact on the in-scan path and on the " +
    "oversized-window path") {
    import spark.implicits._
    import graft.graph.GraphStore
    import graft.graph.GraphStore.propsMap
    import graft.gql.{GqlExecutor, GqlViews}
    val base = GraphStore.fromTuples(spark,
      Seq((1L, "A", Seq("w" -> 2)), (2L, "A", Seq("w" -> 0)),
        (3L, "A", Seq("w" -> 1)), (10L, "B", Seq("w" -> 1)),
        (11L, "B", Seq("w" -> 0)), (12L, "B", Seq("w" -> 2))) ++
        (20L to 25L).map(i => (i, "C", Seq("w" -> 0))),
      Seq((1L, 10L, "x", Seq("m" -> 1)), (2L, 10L, "x", Seq("m" -> 0)),
        (2L, 10L, "x", Seq("m" -> 0)), (3L, 11L, "x", Seq("m" -> 1)),
        (1L, 11L, "x", Seq("m" -> 1)), (10L, 2L, "y", Nil),
        (11L, 3L, "y", Nil), (1L, 2L, "y", Nil), (2L, 3L, "y", Nil),
        (12L, 1L, "y", Nil), (1L, 10L, "z", Seq("m" -> 0))))
    // name -> (definition, compared as a bag)
    val views = Seq(
      "where_hop" -> ("MATCH (a:A)-[e:x]->(b:B) WHERE a.w >= b.w AND e.m < 2",
        true),
      "props_hop" -> ("MATCH (a:A)-[:x {m: 1}]->(b:B)", true),
      "chain" -> ("MATCH (a:A)-[:x]->(b:B)-[:y]->(c:A)", true),
      "reach" -> ("MATCH (a:A)-[:y*1..]->(b:A)", false))
    def edges(l: String, m: Int, keys: (Long, Long)*) =
      keys.map { case (s, d) => (s, d, l) }.toDF("src", "dst", "label")
        .withColumn("props", propsMap("m" -> m))
    def keys(l: String, ks: (Long, Long)*) =
      ks.map { case (s, d) => (s, d, l) }.toDF("src", "dst", "label")
    // every window also re-adds 18 x and 18 y edges between C
    // vertices, which no view's answer can hold: enough distinct
    // window rows on each view's labels to pass a 1 KB license
    val pad = for (s <- 20L to 22L; d <- 20L to 25L) yield (s, d)
    val windows: Seq[(String, GraphStore => GraphStore)] = Seq(
      "add_edge, untouched ends" -> (_.addEdges(edges("x", 1, 3L -> 12L))),
      "update_edge_props" -> (_.updateEdgeProps(edges("x", 5, 1L -> 10L))),
      "remove_edge" -> (_.removeEdges(keys("x", 3L -> 11L))),
      "duplicate rows" -> (_.addEdges(edges("x", 1, 1L -> 12L, 1L -> 12L))
        .updateEdgeProps(edges("x", 1, 2L -> 10L))),
      "self-loop" -> (_.addEdges(edges("y", 0, 2L -> 2L, 10L -> 1L))),
      "other label" -> (_.updateEdgeProps(edges("z", 2, 1L -> 10L))),
      "vertex and edge ops" -> (_.updateVertexProps(Seq(2L).toDF("id")
          .withColumn("props", propsMap("w" -> 3)))
        .removeVertices(Seq(11L).toDF("id"))
        .addEdges(edges("y", 0, 12L -> 3L))),
      "remove duplicates and self-loop" -> (_.removeEdges(
        keys("x", 1L -> 12L, 2L -> 10L).unionByName(keys("y", 2L -> 2L)))))
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
        bag: Boolean) = {
      val rs = df.select(cols.head, cols.tail: _*).collect()
        .map(r => cols.indices.map(r.getLong).toList).toSeq
      if (bag) rs.groupBy(identity).view.mapValues(_.size).toMap
      else rs.distinct.map(_ -> 1).toMap
    }
    // one pass over every window; returns the refreshes' job count
    def run(tag: String): Int = {
      val cat = new Views.ViewCatalog(spark,
        tempDir(s"graft_window_cat_$tag").toString)
      views.foreach { case (n, (gql, _)) =>
        GqlViews.register(cat, n, gql)
        GqlViews.refresh(cat, n, base, base)
      }
      var store = base
      windows.map { case (what, mutate) =>
        val next = mutate(store).addEdges(edges("x", 0, pad: _*))
          .addEdges(edges("y", 0, pad: _*)).truncated().truncatedEdges()
        val jobs = views.map { case (n, (gql, bag)) =>
          val vars = if (n == "chain") Seq("a", "b", "c") else Seq("a", "b")
          val cols = if (vars.size == 2) Seq("src", "dst")
            else vars.indices.map(i => s"c$i")
          val (got, j) = jobsOf(
            rows(GqlViews.refresh(cat, n, store, next), cols, bag))
          val want = rows(GqlExecutor.run(next, gql + " RETURN " +
            vars.map(v => s"id($v) AS $v").mkString(", ")).df, vars, bag)
          assert(got == want, s"$tag, $what, $n")
          j
        }.sum
        store = next
        jobs
      }.sum
    }
    val inScan = run("default")
    val oversized = withConf("spark.sql.autoBroadcastJoinThreshold" -> "1kb") {
      // 1 KB over a 64-byte (op, id, src, dst, elabel) window row
      // licenses 16 rows; every window holds at least the 18 pad rows
      val shape = GraphStore.emptyChanges(spark)
        .select("op", "id", "src", "dst", "elabel")
      assert(Broadcast.budget(shape) == 16L && pad.size > 16)
      run("1kb")
    }
    info(s"refresh jobs over ${windows.size} windows: in-scan $inScan, " +
      s"oversized $oversized")
    // the oversized path cuts and broadcasts the touched keys
    assert(oversized > inScan)
  }

  test("reach fold broadcast license: frames past the session byte " +
    "budget stay unhinted, and an over-budget removal wavefront still " +
    "equals recompute") {
    import spark.implicits._
    import graft.graph.GraphStore
    def tc(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      var r = edges
      var changed = true
      while (changed) {
        val r2 = r ++ (for ((a, x) <- r; (y, b) <- r if x == y) yield (a, b))
        changed = r2.size != r.size
        r = r2
      }
      r
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1kb") {
      // 1 KB over a 16-byte (src, dst) row: 64 rows fit
      val pair = Seq((1L, 2L)).toDF("src", "dst")
      def hinted(rows: Long) = Broadcast.hint(pair, rows)
        .queryExecution.logical.toString.contains("broadcast")
      assert(hinted(64L) && !hinted(65L))
      val noProps = lit(null).cast(graft.model.PropValue.mapType)
      val base = GraphStore.fromTuples(spark,
        (0L to 29L).map(i => (i, "N", Seq.empty[(String, Any)])), Nil)
      val chain = (0L until 29L).map(i => (i, i + 1)).toSet
      val m1 = base.addEdges(chain.toSeq.map { case (a, b) => (a, b, "dep") }
        .toDF("src", "dst", "label").withColumn("props", noProps))
      // cutting 14→15 puts 15·15 = 225 closure pairs on the removal
      // wavefront (past the 64-row budget); the 13→16 bypass
      // re-derives most of them round by round. recomputeRatio = ∞
      // keeps the fold on the DRed path.
      val m2 = m1.removeEdges(Seq((14L, 15L, "dep")).toDF("src", "dst", "label"))
        .addEdges(Seq((13L, 16L, "dep")).toDF("src", "dst", "label")
          .withColumn("props", noProps))
      val cat = new Views.ViewCatalog(spark,
        tempDir("graft_tc_budget").toString)
      val r1 = Views.refreshReachabilityView(cat, "tcb", base, m1,
        "N", "dep", "N", recomputeRatio = Double.MaxValue)
      assert(rows(r1) == tc(chain))
      val r2 = Views.refreshReachabilityView(cat, "tcb", m1, m2,
        "N", "dep", "N", recomputeRatio = Double.MaxValue)
      assert(rows(r2) == tc(chain - ((14L, 15L)) + ((13L, 16L))))
    }
  }

  test("refresh policies: needsRefresh semantics") {
    assert(FixedInterval(1000).needsRefresh(0, 1500, dirty = false))
    assert(!FixedInterval(1000).needsRefresh(1000, 1500, dirty = true))
    assert(EventDriven(50).needsRefresh(0, 100, dirty = true))
    assert(!EventDriven(50).needsRefresh(0, 100, dirty = false))
    assert(OnDemand(200).needsRefresh(0, 300, dirty = false))
    assert(HybridPolicy(eventDriven = true, 10000).needsRefresh(0, 5, dirty = true))
  }

  test("affected views derive from changed source tables") {
    val defns = Seq(
      ViewDefn("a", Aggregation("sum", "value", Seq("g")), OnDemand(1), Seq("events")),
      ViewDefn("b", Analytics("pagerank", Map()), OnDemand(1), Seq("edges")),
      ViewDefn("c", SqlQuery("", Seq("events", "edges")), OnDemand(1), Seq("events", "edges")))
    assert(Views.affectedViews(defns, Set("events")) == Set("a", "c"))
    assert(Views.affectedViews(defns, Set("edges")) == Set("b", "c"))
  }
}
