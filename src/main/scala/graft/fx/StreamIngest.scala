package graft.fx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{Graph, GraphEncoder, GraphStore, Transactor}

/** Streaming ingestion INTO a graph — the write-side complement of the
  * CDC read path (`streaming/GraphSubscriptions` + `fx/Sync`'s live tail):
  * a Structured Streaming source becomes graph transactions, one tx per
  * micro-batch, durably appended to a published sync store. The loop a
  * reference deployment runs as "subscribe a graph process to a feed and
  * transact what arrives" (zef `fx/zefhub.py` subscription → transact
  * flow) — here the apply step is a distributed bulk write, not per-row
  * wishes.
  *
  * Ordering contract (CDC-apply): last-writer-wins BY EVENT TIME, not
  * arrival. Each batch reduces to one winner row per key
  * (`max_by` over (event ts, tie)), then a conditional join against the
  * graph's stored high-water (ts, tie) per key drops stale and duplicate
  * deliveries. The final graph state is therefore DETERMINISTIC under any
  * batching, reordering, or redelivery of the input — the property that
  * makes the oracle checkable and, at scale, the property that makes the
  * ingest safe behind an at-least-once source. Slice HISTORY (how many
  * txs, what landed together) legitimately depends on batching; final
  * state does not.
  *
  * Scale shape: per batch, the work is one shuffle of the batch (winner
  * reduction), one join against the seeded latest-values cache (O(delta)
  * after [[Transactor.assignFieldsBulkDelta]]'s incremental seeding), and
  * anti-joins that narrow the atom table by id-scheme prefix. The
  * in-memory handle re-opens from the store whenever the incremental
  * seeding depth cap is reached, so lineage and cache depth stay bounded
  * over an unbounded stream. */
object StreamIngest {

  /** One ingested field: the graph relation type it lands as, its value
    * type (str/long/double/bool/ts), and the expression over the stream's
    * columns that produces it. */
  final case class IngestField(rt: String, vtype: String, expr: Column)

  private val HwTs = "_ingest_ts"
  private val HwTie = "_ingest_tie"

  /** Mutable-free ingest state threaded across ticks: the writer handle,
    * the instance retired one tick ago (releasable now — see
    * [[applyBatch]] release notes), and the newest committed TxRow
    * timestamp (the monotone clamp below; None = derive from the store
    * on first use). */
  private[graft] final case class IngestState(handle: SyncedGraph,
      retiring: Option[Graph],
      lastTxTs: Option[java.sql.Timestamp] = None)

  /** One ingest tick over a batch — the EXACT body the streaming query
    * runs, package-visible so specs (StreamIngestSpec) drive the
    * production path instead of a copy. Returns the advanced state. */
  private[graft] def applyBatch(state: IngestState, batch: DataFrame,
      dir: String, et: String, key: Column, eventTs: Column, tie: Column,
      fields: Seq[IngestField]): IngestState = {
    val spark = batch.sparkSession
    val rts = fields.map(_.rt)
    // time-axis robustness (the round-7 regression class): a parquet
    // µs-timestamp source yields TIMESTAMP_NTZ, which neither compares
    // against the stored TIMESTAMP high-water nor unifies in max_by —
    // type-driven normalization, instant-preserving under the session's
    // pinned UTC (same policy as ops.TimeAxis)
    val evTs = batch.select(eventTs.as("__p")).schema.head.dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        eventTs.cast("timestamp")
      case _ => eventTs
    }
    // 1. reduce the batch to one winner per key by (event ts, tie) —
    // deterministic regardless of partitioning or arrival order. A null
    // KEY, event time, or tie is REJECTED here: none can participate in
    // last-writer-wins (a null key would append NULL-id ghost atom/value
    // rows the fence can never match — a fresh set EVERY tick; a null ts
    // would slip past the high-water fence's null-guard disjunct and
    // write a null-ts TxRow; a null tie would store a null HwTie whose
    // `__tie > __stie` comparison then yields null forever — every later
    // equal-timestamp event for that key silently dropped). The tie
    // guard applies AFTER the long conversion — try_cast, so a
    // non-numeric tie nulls into the reject filter on BOTH ANSI and
    // legacy sessions instead of aborting the tick (ANSI) or sneaking a
    // null high-water past the raw-column guard (legacy).
    // An all-null batch is a clean no-op tick.
    val tieL = tie.try_cast("long")
    val packed = batch
      .filter(key.isNotNull && evTs.isNotNull && tieL.isNotNull).select(
      GraphEncoder.entityId(et, key).as("owner_id"),
      evTs.as("__ts"), tieL.as("__tie"),
      struct((Seq(evTs.as("__wts"), tieL.as("__wtie")) ++
        fields.map(f => f.expr.as(f.rt))): _*).as("__p"))
    val winners = packed.groupBy(col("owner_id"))
      .agg(max_by(col("__p"), struct(col("__ts"), col("__tie"))).as("__w"))
      .select(col("owner_id") +: (
        Seq(col("__w.__wts").as("__ts"), col("__w.__wtie").as("__tie")) ++
        rts.map(rt => col(s"__w.$rt").as(rt))): _*)

    // 2. stored high-water per key — a prefix-pruned read of the
    // seeded latest-values cache, no relation joins (the high-water
    // AEs follow the deterministic ae:<rt>/<owner> scheme)
    val g = state.handle.graph
    val lv = g.latestValues(g.maxSlice)
    def hw(rt: String, vcol: String, as: String) =
      lv.filter(col("ae_id").startsWith(s"ae:$rt/"))
        .select(col("ae_id").substr(lit(s"ae:$rt/".length + 1),
          lit(Int.MaxValue)).as("owner_id"), col(vcol).as(as))
    val fresh = winners
      .join(hw(HwTs, "v_ts", "__sts"), Seq("owner_id"), "left")
      .join(hw(HwTie, "v_long", "__stie"), Seq("owner_id"), "left")
      .filter(col("__sts").isNull || col("__ts") > col("__sts") ||
        (col("__ts") === col("__sts") && col("__tie") > col("__stie")))

    // 3. the batch's applied assignments, high-water fields included;
    // bounded-scalar collect decides emptiness and the tx's event-time
    // watermark in one job
    val assignments = fresh.select(col("owner_id") +:
      (rts.map(col) ++ Seq(col("__ts").as(HwTs), col("__tie").as(HwTie))): _*)
      .localCheckpoint(true)
    val stat = assignments.agg(count(lit(1)), max(col(HwTs))).collect()(0)
    if (stat.getLong(0) == 0L) {
      // a no-op tick still ran the high-water read, which is exactly the
      // release precondition for the graph retired last tick (its seed
      // backs g's lineage, now materialized) — without this, a long run
      // of stale/duplicate batches would pin the retired latest-values
      // table for the whole quiet period
      state.retiring.foreach(_.releaseDerived())
      state.copy(retiring = None)
    } else {
      // MONOTONE tx axis: the tx's timestamp is the batch's max applied
      // event time, clamped to never regress below the newest committed
      // TxRow ts. Without the clamp, a batch of late-but-fresh events
      // (first sight of a key whose events are older than earlier keys')
      // stamped a LATER slice with an EARLIER ts, and Graph.at(t) — which
      // resolves max(tx_id) where ts <= t — silently included newer
      // slices in an older frame. Event-time truth stays queryable in the
      // HwTs field rows; the tx axis is the frame order, like any
      // database's commit timestamps.
      val prevTs = state.lastTxTs.getOrElse {
        g.txs.agg(max(col("ts"))).collect()(0).getTimestamp(0) // once per query start
      }
      val batchTs = stat.getTimestamp(1)
      val txTs =
        if (prevTs != null && batchTs.before(prevTs)) prevTs else batchTs
      // 4. claim-fenced durable apply: one tx, all fields, entities
      // upserted; the delta is materialized once and feeds both the
      // store append and the in-memory handle. The recovering claim
      // adopts an orphan left by a crashed predecessor (purging its
      // partial files) instead of wedging the stream forever.
      val recovered = Sync.claimSliceOrRecover(spark, dir, g.maxSlice + 1)
      // recovery rewrote store files: re-open before appending (the
      // checkpointed assignments are RDD blocks, not file reads — still
      // valid; only the graph's lazy file listings went stale)
      val gBase = if (recovered) Sync.open(spark, dir).graph else g
      // trustedUniqueOwners: the winner reduction above is a groupBy on
      // owner_id — one row per owner by construction, no guard job needed
      // assignNulls: the winner ROW defines every field — a null field
      // value is an explicit clear, not a skip. With skip semantics the
      // final graph would depend on batching (winner (F=null, G=y) in
      // the same batch as a loser (F=x) leaves F absent; split across
      // batches leaves F=x — the nondeterminism this module's contract
      // rules out). CDC upsert = whole-row replace.
      val (g2, delta) = Transactor.assignFieldsBulkDelta(gBase, assignments,
        fields.map(f => Transactor.BulkField(f.rt, f.vtype)) ++
          Seq(Transactor.BulkField(HwTs, "ts"),
            Transactor.BulkField(HwTie, "long")),
        ts = txTs, ensureOwnerType = Some(et), materializeDelta = true,
        assignNulls = true, trustedUniqueOwners = true)
      GraphStore.appendBulk(spark, dir, delta)
      // bound lineage/cache depth over an unbounded stream: once the
      // incremental seeding cap is hit, re-open from the store (one
      // full latest-values rebuild per ~MaxSeedDepth batches). And
      // bound executor STORAGE: each batch's graph pins one more
      // seeded latest-values table, and nothing calls the bench
      // harness's releaseAll in a live stream. Release lags ONE tick:
      // `g`'s seed was just materialized by this batch's high-water
      // read, so the graph retired LAST tick (whose table only backs
      // `g`'s lineage for recompute) can drop its pins now — at most
      // two instances are ever pinned, with no extra job.
      if (g2.latestValuesDepth(g2.maxSlice) >= Graph.MaxSeedDepth) {
        state.retiring.foreach(_.releaseDerived())
        gBase.releaseDerived(); g2.releaseDerived()
        if (recovered) g.releaseDerived()
        IngestState(Sync.open(spark, dir), None, Some(txTs))
      } else {
        state.retiring.foreach(_.releaseDerived())
        if (recovered) g.releaseDerived()
        IngestState(state.handle.copy(graph = g2), Some(gBase), Some(txTs))
      }
    }
  }

  /** Start the ingest query. `dir` must be a published sync store
    * ([[Sync.publish]]); `et` the entity type keyed by `key` (scheme ids —
    * entities are created on first sight, updated after). `eventTs` must
    * be a timestamp column, `tie` a numeric total-order tiebreaker for
    * equal timestamps (an event id). Defaults to a bounded run
    * (AvailableNow) — pass a processing-time trigger for a live tail. */
  def eventsToGraph(stream: DataFrame, dir: String, et: String,
      key: Column, eventTs: Column, tie: Column, fields: Seq[IngestField],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(fields.nonEmpty, "ingest: at least one field")
    // every reserved name rejects at CONSTRUCTION, not on the first
    // non-empty tick deep inside the bulk write: the high-water rts, the
    // owner key column, and the winner-reduction internals
    val reserved = Set(HwTs, HwTie, "owner_id",
      "__ts", "__tie", "__wts", "__wtie", "__sts", "__stie", "__p", "__w")
    val bad = fields.map(_.rt).filter(reserved.contains)
    require(bad.isEmpty,
      s"ingest: field rt(s) ${bad.mkString(", ")} are reserved (high-water " +
        "mark, owner key, or winner-reduction internals) — rename them")
    val spark = stream.sparkSession
    var state = IngestState(Sync.open(spark, dir), None)

    stream.writeStream
      .queryName(s"graft-ingest-$et")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = applyBatch(state, batch, dir, et, key, eventTs, tie, fields)
        ()
      }
      .start()
  }
}
