package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Streams

/** Streaming/reactive operators (SURVEY.md §2.9) verified in batch form:
  * each entry runs the EXACT transform the streaming path uses (shared
  * plan builder in graft.streaming.Streams); StreamingSpec re-runs the same
  * transforms as real micro-batch streams and asserts batch == stream.
  */
object Streaming {

  val entries: Seq[QueryDef] = Seq(

    // Tumbling event-time window (superset: reference has only count
    // windows) — batch plan == streaming plan.
    QueryDef(
      "stream_tumbling_daily",
      (s, d) => Streams.tumblingAgg(Tables.events(s, d), "1 day")
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT date_trunc('day', ts) AS window_start, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin),
      Seq("window_tumbling", "subscribe", "group_by", "sum")),

    // Sliding window: width 2h, slide 1h — every event lands in 2 windows.
    QueryDef(
      "stream_sliding_2h_1h",
      (s, d) => Streams.slidingAgg(Tables.events(s, d), "2 hours", "1 hour")
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT window_start, event_type, count(*) AS n FROM (
             |  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
             |  UNION ALL
             |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
             |GROUP BY window_start, event_type
             |ORDER BY window_start, event_type""".stripMargin),
      Seq("sliding", "window_sliding", "subscribe")),

    // Sessionization: 30-min-gap session windows per user. The oracle
    // rebuilds sessions with gaps-and-islands (lag + running break sum) —
    // if Spark's session merge/close semantics diverged anywhere, the
    // hash would.
    QueryDef(
      "stream_session_windows",
      (s, d) => Streams.sessionAgg(Tables.events(s, d), "30 minutes")
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH o AS (
             |  SELECT user_id, ts, value, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |      THEN 1 ELSE 0 END AS brk
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), sess AS (
             |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS UNBOUNDED PRECEDING) AS sid FROM o)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end,
             |  count(*) AS n_events, round(sum(value), 2) AS sum_value
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin),
      Seq("session_window", "sessionization", "window_session", "subscribe")),

    // zef `on[...]` subscription filter + per-key aggregation.
    QueryDef(
      "stream_on_filter",
      (s, d) => Streams.onEventTypes(Tables.events(s, d), Seq("click", "purchase"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("user_id"), col("event_type")),
      Some("""SELECT user_id, event_type, count(*) AS n,
             |  round(sum(value), 2) AS total
             |FROM events WHERE event_type IN ('click', 'purchase')
             |GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin),
      Seq("on", "instantiated", "subscribe", "filter", "group_by")),

    // Exactly-once restoration: the feed re-delivers a third of the
    // events (at-least-once delivery); id-keyed dedup restores the
    // original stream, so the post-dedup aggregate equals a plain
    // aggregate over the CLEAN table — which is exactly what the oracle
    // computes. StreamingSpec replays the same doubled feed as a real
    // micro-batch stream through the same builder.
    QueryDef(
      "stream_dedup",
      (s, d) => {
        val ev = Tables.events(s, d)
        val atLeastOnce = ev.unionAll(ev.filter(col("event_id") % 3 === 0))
        Streams.dedupById(atLeastOnce)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      Seq("dedup_stream", "exactly_once", "drop_duplicates", "subscribe")),

    // Rx `merge`: two live feeds (clicks, purchases) into one tagged
    // arrival-order stream, then a windowed per-source rollup — the merged
    // union is narrow (streams as-is), the aggregate is the same plan in
    // batch and stream.
    QueryDef(
      "stream_merge",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        Streams.merge(Seq(clicks, purchases))
          .groupBy(col("source"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
          .orderBy(col("source"), col("day"))
      },
      Some("""SELECT source, date_trunc('day', ts) AS day, count(*) AS n,
             |  round(sum(value), 2) AS total
             |FROM (
             |  SELECT 0 AS source, ts, value FROM events WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT 1 AS source, ts, value FROM events WHERE event_type = 'purchase')
             |GROUP BY source, day ORDER BY source, day""".stripMargin),
      Seq("merge", "subscribe", "window_tumbling", "group_by")),

    // Rx `combine_latest` per user: every click/purchase event emits the
    // latest payload pair once both sides have fired — keyed two-slot
    // state in one flatMapGroupsWithState pass; the oracle mirrors the
    // arrival-order semantics with IGNORE NULLS running windows. The time
    // axis is unix MICROS (exact integers in both engines; the parquet
    // ns truncate to µs identically).
    QueryDef(
      "stream_combine_latest",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("user_id") <= 40)
          .withColumn("tsus", unix_micros(col("ts")))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tsus"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tsus"), col("event_id"))
        Streams.combineLatest(clicks, purchases, "user_id", "tsus")
          .toDF().orderBy(col("key"), col("ts"), col("side"))
      },
      Some("""WITH u AS (
             |  SELECT CAST(user_id AS VARCHAR) AS key,
             |    CAST(epoch_us(ts) AS DOUBLE) AS ts,
             |    CASE event_type WHEN 'click' THEN 0 ELSE 1 END AS side,
             |    '{"event_id":' || event_id || '}' AS payload
             |  FROM events
             |  WHERE event_type IN ('click', 'purchase') AND user_id <= 40),
             |o AS (
             |  SELECT key, ts, side,
             |    last_value(CASE WHEN side = 0 THEN payload END IGNORE NULLS)
             |      OVER w AS latest_left,
             |    last_value(CASE WHEN side = 1 THEN payload END IGNORE NULLS)
             |      OVER w AS latest_right
             |  FROM u
             |  WINDOW w AS (PARTITION BY key ORDER BY ts, side, payload
             |               ROWS UNBOUNDED PRECEDING))
             |SELECT key, ts, side, latest_left, latest_right
             |FROM o
             |WHERE latest_left IS NOT NULL AND latest_right IS NOT NULL
             |ORDER BY key, ts, side""".stripMargin),
      Seq("combine_latest", "subscribe", "stateful", "merge")),

    // Rx `debounce` (event-time, completed source): a view event emits
    // only when the same user goes quiet for > 1 hour afterwards (the
    // final event per user always emits). One keyed lead() window; the
    // streaming-native timer variant (debounceStream) is spec-verified
    // against this plan.
    QueryDef(
      "stream_debounce",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("event_type") === "view")
          .withColumn("tsus", unix_micros(col("ts")))
        Streams.debounce(ev, "user_id", "tsus", quiet = 3600000000.0,
            tieBreak = Seq("event_id"))
          .select(col("user_id"), col("event_id"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id FROM (
             |  SELECT user_id, event_id, epoch_us(ts) AS t,
             |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS nxt
             |  FROM events WHERE event_type = 'view')
             |WHERE nxt IS NULL OR nxt - t > 3600000000
             |ORDER BY user_id, event_id""".stripMargin),
      Seq("debounce", "subscribe", "window", "filter")),

    // Graph subscriptions over the durable CDC feed (zef `on[assigned[...]]`
    // / `on[terminated[...]]`, impl.py:238-360): a weekly transact sequence
    // replays January's purchases onto a graph — each tx assigns every
    // active user's latest Spend and appends its delta to the tx-log feed
    // via GraphFeed — then a final tx terminates low spenders. The
    // subscription plans here read the feed directory in BATCH; the spec
    // tails the same directory as a real micro-batch stream through the
    // same GraphSubscriptions builders and asserts stream == batch. The
    // oracle replays the whole pipeline relationally from `events`:
    // week buckets are calendar-derived (map-only, no global window),
    // slice numbers are the deterministic tx order (week w → slice w,
    // termination → slice 6), and atom ids follow the deterministic id
    // scheme — so a subscription that dropped, duplicated, or misattributed
    // an event diverges from the DuckDB replay.
    QueryDef(
      "stream_graph_on",
      (s, d) => {
        val (_, feedDir) = graphFeedFor(s, d)
        val values = s.read
          .schema(org.apache.spark.sql.Encoders.product[graft.core.ValueRow].schema)
          .parquet(s"$feedDir/values")
        val atoms = s.read
          .schema(org.apache.spark.sql.Encoders.product[graft.core.AtomRow].schema)
          .parquet(s"$feedDir/atoms")
        val closures = s.read.schema(graft.streaming.GraphFeed.closureSchema)
          .parquet(s"$feedDir/closures")
        val assigned = graft.streaming.GraphSubscriptions
          .onAssigned(values, atoms, "Spend")
          .select(col("event"), col("atom_id"),
            col("tx_slice").cast("int").as("tx_slice"),
            col("v_double").as("value"))
        val terminated = graft.streaming.GraphSubscriptions
          .onTerminatedClosures(closures, "User")
          .select(col("event"), col("atom_id"),
            col("tx_slice").cast("int").as("tx_slice"),
            lit(null).cast("double").as("value"))
        assigned.unionByName(terminated)
          .orderBy(col("event"), col("atom_id"), col("tx_slice"))
      },
      // tx slices are the RANK of the week among weeks PRESENT in the
      // data (the replay transacts one tx per present week, then one
      // termination tx), not the calendar week number: the Spark side
      // already derives weeks from the data (r11), and an oracle that
      // hard-coded q-as-slice and termination-at-6 silently re-coupled
      // the comparison to the fixture's exact date span (a gap week or a
      // February spill-over would shift every slice)
      Some("""WITH p AS (
             |  SELECT user_id, ts, event_id, value,
             |    CAST(datediff('day', DATE '2024-01-01',
             |      CAST(date_trunc('week', ts) AS DATE)) // 7 + 1 AS INT) AS q
             |  FROM events WHERE event_type = 'purchase' AND user_id <= 30),
             |wkid AS (
             |  SELECT q, CAST(dense_rank() OVER (ORDER BY q) AS INT) AS slice
             |  FROM (SELECT DISTINCT q FROM p)),
             |wk AS (
             |  SELECT user_id, q, value FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id, q
             |      ORDER BY ts DESC, event_id DESC) AS rn FROM p)
             |  WHERE rn = 1),
             |fin AS (
             |  SELECT user_id, value FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY q DESC) AS rn FROM wk)
             |  WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT 'assigned' AS event,
             |    'ae:Spend/e:User/' || CAST(user_id AS VARCHAR) AS atom_id,
             |    wkid.slice AS tx_slice, value
             |  FROM wk JOIN wkid USING (q)
             |  UNION ALL
             |  SELECT 'terminated', 'e:User/' || CAST(user_id AS VARCHAR),
             |    (SELECT CAST(count(*) + 1 AS INT)
             |       FROM (SELECT DISTINCT q FROM p)),
             |    CAST(NULL AS DOUBLE)
             |  FROM fin WHERE value < 100.0
             |) ORDER BY event, atom_id, tx_slice""".stripMargin),
      Seq("on", "assigned", "terminated", "subscribe", "cdc", "transact")),

    // Streaming ingestion INTO a graph (the CDC WRITE side, closing the
    // loop stream_graph_on opened): a file-source stream of events
    // becomes one graph tx per micro-batch via StreamIngest.eventsToGraph
    // — event-time last-writer-wins, entities upserted on first sight,
    // every tx claim-fenced and durably appended to a published sync
    // store. The run is bounded (AvailableNow over a 4-file copy of
    // events, forcing several batches whose boundaries the final state
    // must be independent of — the hash-split decorrelates file from
    // event time, so batches genuinely overlap and the conditional
    // apply path is exercised); the oracle recomputes the final state
    // relationally: last event per user by (ts, event_id).
    QueryDef(
      "stream_graph_ingest",
      (s, d) => {
        import graft.fx.{StreamIngest, Sync}
        import graft.core.Graph
        // fresh store/checkpoint per run (a re-run must not inherit prior
        // state); the 4-file source copy is input PREP, not the operator
        // under test — memoized per (pid, session, sf) like graphFeedFor
        val base = Registry.scratchDir(s, "graft_ingest", d,
          fresh = Seq("store", "ckpt"))
        val srcDir = s"$base/src"; val storeDir = s"$base/store"
        val ev = Tables.events(s, d)
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$srcDir/_SUCCESS")))
          ev.repartition(4, col("event_id")).write
            .mode("overwrite").parquet(srcDir)
        Sync.publish(Graph.empty(s), storeDir)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = StreamIngest.eventsToGraph(stream, storeDir, "User",
          key = col("user_id"), eventTs = col("ts"), tie = col("event_id"),
          fields = Seq(
            StreamIngest.IngestField("Value", "double", col("value")),
            StreamIngest.IngestField("EventType", "str", col("event_type"))),
          checkpointDir = s"$base/ckpt")
        q.awaitTermination()
        val g = Sync.open(s, storeDir).graph
        g.now.all("User").fieldValue("Value", "v_double", "value")
          .join(g.now.all("User")
            .fieldValue("EventType", "v_str", "event_type"), "atom_id")
          .orderBy(col("atom_id"))
      },
      Some("""SELECT 'e:User/' || CAST(user_id AS VARCHAR) AS atom_id,
             |  value, event_type
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 ORDER BY atom_id""".stripMargin),
      Seq("stream_ingest", "cdc_apply", "transact", "sync", "upsert")),

    // `on[terminated[...]]` across ALL THREE AE id forms (reference
    // implementation_typing_functions.py:296-358 dispatches on the rae
    // TYPE alone, never an instance): a synced store gets per-(user, week)
    // INSTANCED Spend fields (ae:Spend#w3/e:User/7), then one tx
    // terminates the weak weeks and the weak users. The store keeps
    // closures as bare (atom_id, term_slice) — the subscription's atype is
    // re-derived from the id scheme, and a derivation that kept the
    // #instance suffix would make the Spend subscription return ZERO rows
    // (the r8 regression this query pins). The oracle replays the
    // termination rule relationally and mints the scheme ids itself.
    QueryDef(
      "stream_graph_on_terminated",
      (s, d) => {
        import graft.streaming.GraphSubscriptions
        val closures = graft.fx.Sync.closureTable(s, termStoreFor(s, d))
        // kind-narrowed (ae/e): closure feeds now carry the flagged
        // CASCADE rows too, and the field relations rel:Spend#…/… share
        // the Spend atype with the AEs — the reference's AET namespace
        // maps to the ae: prefix
        def sub(atype: String, kind: String) = GraphSubscriptions
          .onTerminatedClosures(closures, atype, kind)
          .select(col("event"), col("atom_id"), lit(atype).as("atype"),
            col("tx_slice").cast("int").as("tx_slice"))
        sub("Spend", "ae").unionByName(sub("User", "e"))
          .orderBy(col("atom_id"))
      },
      Some("""WITH p AS (
             |  SELECT user_id, CAST(datediff('day', DATE '2024-01-01',
             |      CAST(date_trunc('week', ts) AS DATE)) // 7 + 1 AS INT) AS w,
             |    value
             |  FROM events WHERE event_type = 'purchase' AND user_id <= 30),
             |wk AS (SELECT user_id, w, round(sum(value), 2) AS amt
             |  FROM p GROUP BY 1, 2),
             |ut AS (SELECT user_id, round(sum(value), 2) AS tot
             |  FROM p GROUP BY 1)
             |SELECT * FROM (
             |  SELECT 'terminated' AS event,
             |    'ae:Spend#w' || CAST(w AS VARCHAR) || '/e:User/' ||
             |      CAST(user_id AS VARCHAR) AS atom_id,
             |    'Spend' AS atype, 2 AS tx_slice
             |  FROM wk WHERE amt < 120.0
             |  UNION ALL
             |  SELECT 'terminated', 'e:User/' || CAST(user_id AS VARCHAR),
             |    'User', 2
             |  FROM ut WHERE tot < 400.0
             |) ORDER BY atom_id""".stripMargin),
      Seq("on", "terminated", "subscribe", "cdc", "sync", "instanced_field"))
  )

  /** Memoized per (session, sfDir): a synced store whose slice 1 puts
    * per-(user, week) INSTANCED Spend fields and slice 2 terminates the
    * weak weeks (weekly spend < 120) and weak users (total < 400). Wish
    * lists are driver-sized by construction (≤31 users × 5 weeks). */
  private val termStoreCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private[graft] def termStoreFor(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Registry.memoize(termStoreCache, (s, d)) {
      import graft.core._
      import graft.fx.Sync
      // pid+session-salted fresh root (Registry.scratchDir): the builder
      // rebuilds this directory, and the memoization is per-session
      val dir = Registry.scratchDir(s, "graft_termstore", d,
        freshRoot = true)
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") <= 30)
        .withColumn("w", (datediff(date_trunc("week", col("ts")),
          lit("2024-01-01")) / 7 + 1).cast("int"))
      // two aggregates mirroring the oracle EXACTLY (round-then-compare;
      // summing the rounded weeklies would drift from round(sum(raw)))
      val wk = p.groupBy(col("user_id"), col("w"))
        .agg(round(sum(col("value")), 2).as("amt"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val ut = p.groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("tot"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      var w = Sync.publish(Graph.empty(s), dir)
      w = w.transact(wk.sortBy(t => (t._1, t._2)).flatMap {
        case (uid, wn, amt) => Seq(
          PutEntity("User", uid.toString),
          PutField(uid.toString, "Spend", amt, instanceKey = s"w$wn"))
      }.toSeq)._1
      w.transact(
        wk.filter(_._3 < 120.0).sortBy(t => (t._1, t._2)).map { case (uid, wn, _) =>
          TerminateAtom(s"ae:Spend#w$wn/e:User/$uid") }.toSeq ++
        ut.filter(_._2 < 400.0).sortBy(_._1).map { case (uid, _) =>
          TerminateAtom(s"e:User/$uid") }.toSeq)
      dir
    }

  /** Memoized per (session, sfDir): the CDC feed directory built by a
    * 6-tx replay of January's purchases (5 weekly Spend assignments +
    * one termination tx), plus the final graph. The driver loop is
    * bounded by construction: ≤31 users × 5 weeks of wishes. */
  private val graphFeedCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (graft.core.Graph, String)]
  private[graft] def graphFeedFor(s: org.apache.spark.sql.SparkSession,
      d: String): (graft.core.Graph, String) =
    Registry.memoize(graphFeedCache, (s, d)) {
      import graft.core._
      import graft.streaming.GraphFeed
      // pid+session-salted fresh root (Registry.scratchDir): the builder
      // rebuilds this directory — two JVMs, or two SESSIONS in one JVM
      // (each with its own memoized entry), must not clobber each
      // other's live feed
      val feedDir = Registry.scratchDir(s, "graft_feed", d,
        freshRoot = true)
      val weekly = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") <= 30)
        .withColumn("q", (datediff(date_trunc("week", col("ts")),
          lit("2024-01-01")) / 7 + 1).cast("int"))
        .groupBy(col("user_id"), col("q"))
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      var g = Graph.empty(s)
      // replay weeks AS PRESENT IN THE DATA — a hard-coded 1..5 silently
      // dropped any purchase outside the current fixture's date span while
      // the oracle's unbounded week CTE kept it (a data-coupling trap)
      val weeks = weekly.map(_._2).distinct.sorted
      for (w <- weeks) {
        val wishes = weekly.filter(_._2 == w).sortBy(_._1).flatMap {
          case (uid, _, v) => Seq(
            PutEntity("User", uid.toString),
            PutField(uid.toString, "Spend", v))
        }.toSeq
        val (g2, r) = Transactor.transact(g, wishes)
        GraphFeed.appendDelta(feedDir, r, s)
        g = g2
      }
      val finals = weekly.groupBy(_._1).map { case (uid, rows) =>
        uid -> rows.maxBy(_._2)._3 }
      val doomed = finals.filter(_._2 < 100.0).keys.toSeq.sorted
      val (g2, r) = Transactor.transact(g,
        doomed.map(uid => TerminateAtom(s"e:User/$uid")))
      GraphFeed.appendDelta(feedDir, r, s)
      g = g2
      // a sub-feed with no rows writes no files — materialize the three
      // directories so batch and stream readers (explicit schemas) see an
      // empty table instead of a missing path
      Seq("atoms", "values", "closures").foreach(sub =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(feedDir, sub)))
      TransientCaches.markShared(g)
      (g, feedDir)
    }
}
