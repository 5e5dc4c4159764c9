package graft.fx

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** `sync` — replicate a graph across processes through shared storage
  * (reference: `python/zef/core/fx/zefhub.py` + `graph.py` `sync` —
  * `g | sync[True]` pushes the graph to ZefHub and every process that opens
  * the same tag sees its updates as they land).
  *
  * Spark-first restatement: the hub IS the storage layer. One writer owns a
  * store directory (HDFS/S3/local — the same single-writer-per-graph
  * discipline as the reference's transactor role, `fx_types.py:122`);
  * every transaction lands durably as an append-only delta
  * ([[GraphStore.appendTx]]: atoms/values/tags/tx rows plus termination
  * closures) before the writer proceeds. Any number of reader sessions —
  * including different Spark applications — open the same directory and see
  * a consistent graph at the newest published slice; [[SyncedGraph.refresh]]
  * picks up deltas published since (one file listing — no data is re-read
  * until a query runs, and closure reconciliation stays a lazy plan).
  * Live subscriptions tail the same directory as a micro-batch stream
  * ([[Sync.atomFeed]]/[[Sync.valueFeed]]/[[Sync.closureFeed]]) and compose
  * with the unchanged [[graft.streaming.GraphSubscriptions]] builders.
  *
  * Why no server process: a socket hub would re-centralize every write and
  * die at cluster scale; shared storage already gives atomic-visibility
  * appends (files appear whole), ordered replay (one file batch per tx),
  * and scales reads with the filesystem. This is the Delta-CDF/tx-log-tail
  * shape claimed in SURVEY §2.9, applied to replication.
  */
object Sync {

  /** Writer side: publish `g` as the initial snapshot of `dir` and return
    * the writer's handle. The snapshot may be empty — a graph can be born
    * synced and grow entirely through [[SyncedGraph.transact]]. */
  def publish(g: Graph, dir: String): SyncedGraph = {
    // store, fencing and side-state all route through graft.core.Fs
    // (Hadoop FileSystem API), so a URI-schemed dir (file:/, hdfs://)
    // keeps its parquet, claims and markers on ONE filesystem. The
    // commit protocols need the HDFS rename/create-exclusive contract —
    // assert it up front rather than corrupting an object-store-hosted
    // log later (Fs's substrate-contract doc).
    Fs.assertRenameContract(dir)
    GraphStore.save(g, dir)
    // a termination-free graph writes no closure files and an
    // untransacted one no atoms-log files, but schema'd STREAM readers
    // (closureFeed/atomFeed) need the directories to exist before the
    // first delta lands
    Fs.mkdirs(s"$dir/closures")
    Fs.mkdirs(s"$dir/atoms_log")
    // snapshot boundary for the CHANGE-log contract: values live in ONE
    // directory for both the snapshot and the appended deltas (unlike
    // atoms, whose deltas mirror into atoms_log), so valueFeed needs the
    // published slice to filter snapshot rows out of the live tail — a
    // non-empty publish otherwise replays its whole value history as
    // "assigned" events to every fresh subscription
    Fs.writeString(s"$dir/_sync_snapshot_slice", g.maxSlice.toString)
    SyncedGraph(g, dir)
  }

  /** Single-writer fencing: the slice number itself is the lock — claim
    * slice `next` by atomically creating `_slices/<next>`
    * ([[graft.core.Fs.createExclusive]]: O_EXCL on local filesystems,
    * namenode-atomic create on HDFS; S3-class stores need a real lock
    * service, which [[publish]]'s rename-contract assertion rejects up
    * front). A stale or racing writer fails the claim and throws instead
    * of silently forking the log. */
  private[graft] def claimSlice(dir: String, next: Int): Unit = {
    Fs.mkdirs(s"$dir/_slices")
    try Fs.createExclusive(s"$dir/_slices/$next")
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"stale sync writer: slice $next of $dir is already claimed — " +
            "another writer appended past this handle; refresh() and re-apply")
    }
  }

  /** [[claimSlice]] plus crash recovery, preserving the single-writer
    * discipline: a claim file for `next` with NO committed tx row for
    * `next` is an orphan from this writer's own crashed predecessor (both
    * append paths write the tx marker LAST), so the partial slice is
    * purged ([[GraphStore.purgeSlice]]) and the claim adopted; a claim
    * WITH a committed tx row means the store moved past this handle —
    * throw, as before. NOTE this cannot distinguish a crashed predecessor
    * from a live concurrent writer mid-append; the fencing contract is
    * one logical writer per store (front with a real lock service where
    * that cannot be assumed — same caveat as [[claimSlice]]).
    *
    * Returns true when recovery ran: the purge REWRITES store files, so
    * the caller must reload its graph (any DataFrame created before the
    * purge holds a stale file listing) before appending. */
  private[graft] def claimSliceOrRecover(spark: org.apache.spark.sql.SparkSession,
      dir: String, next: Int): Boolean =
    try { claimSlice(dir, next); false }
    catch {
      case e: IllegalStateException =>
        import org.apache.spark.sql.{functions => F, Encoders}
        val committed = spark.read
          .schema(Encoders.product[graft.core.TxRow].schema)
          .parquet(s"$dir/txs")
          .filter(F.col("tx_id") === next).limit(1).count() > 0
        if (committed) throw e
        GraphStore.purgeSlice(spark, dir, next)
        true
    }

  /** Reader (or recovering writer) side: open the newest published state —
    * snapshot plus every appended delta, termination closures reconciled
    * into the interval column exactly as the writer's in-memory graph
    * carries them. */
  def open(spark: SparkSession, dir: String): SyncedGraph =
    SyncedGraph(GraphStore.loadWithClosures(spark, dir), dir)

  /** Same as [[open]]; kept because the benchmark's as-of workload
    * (`perfbench`) calls it by this name. */
  def openQuery(spark: SparkSession, dir: String): SyncedGraph = open(spark, dir)

  // ---------------------------------------------------------------------
  // Live tail: the store directory as a micro-batch stream — the inputs
  // GraphSubscriptions composes on. Delivery is PER-TX-ATOMIC within each
  // sub-feed: appendTx lands one file per sub-table per transaction
  // (values/closures directly; atoms via the flat `atoms_log` CDC mirror,
  // since the partitioned atoms tree splits one tx across per-(kind,
  // atype) files), so maxFilesPerTrigger=1 surfaces exactly one
  // transaction's rows per micro-batch — a racing feed reader observes a
  // multi-atom tx all-or-nothing, matching the reference's tx-granular
  // subscription frames (core/src/observable.cpp fires against complete
  // graph slices). Caveats: the feeds are CHANGE logs — a tail replays
  // transactions appended after publish(), not the published snapshot;
  // appendBulk with filesPerTable>1 smears (its doc: treat the txs
  // sub-feed as the boundary); atomicity is per sub-feed, not across
  // atoms/values/closures of the same tx (per-class subscriptions never
  // observe across feeds).
  // ---------------------------------------------------------------------

  def atomFeed(spark: SparkSession, dir: String): DataFrame = {
    // loud migration guard, NOT a silent mkdirs fallback: mirroring into
    // atoms_log starts at publish time, so fabricating the dir here would
    // start an empty tail that silently skips every tx appended before
    // this call — valueFeed's boundary-0 fallback can afford to be quiet
    // because the values log always existed; there is no equivalent
    // backfill for the mirror. (A missing dir also means a crash-window
    // loss of the feed contract; GraphStore.compact clears contents-only
    // for exactly that reason.)
    if (!Fs.isDir(s"$dir/atoms_log"))
      throw new IllegalStateException(
        s"atomFeed: $dir has no atoms_log CDC mirror — the store predates " +
          "per-tx-atomic atom feeds or was never published as a live feed. " +
          "Re-run Sync.publish(store) to start the mirror, then tail it.")
    spark.readStream.schema(Encoders.product[AtomRow].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/atoms_log")
  }

  /** Change-log semantics like [[atomFeed]]: rows of the published
    * snapshot (tx_slice ≤ the publish-time boundary) are filtered out —
    * the predicate pushes to the parquet scan, so snapshot files are
    * row-group-skipped, not read-and-dropped. Stores published before
    * the marker existed fall back to replaying everything (boundary 0). */
  def valueFeed(spark: SparkSession, dir: String): DataFrame = {
    val snap = snapshotSlice(dir)
    spark.readStream.schema(Encoders.product[ValueRow].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/values")
      .filter(col("tx_slice") > snap)
  }

  /** The publish-time slice boundary (0 when the marker is absent). */
  private def snapshotSlice(dir: String): Int = {
    val p = s"$dir/_sync_snapshot_slice"
    if (Fs.exists(p)) Fs.readString(p).trim.toInt else 0
  }

  /** The atom's type from the deterministic id scheme. The type name ends
    * at the first `/`, `#`, or `[`: an instanced AE id `ae:rt#k/owner` and
    * an array-element id `ae:rt[0]/owner` carry the SAME type `rt` as the
    * plain `ae:rt/owner` form — exactly the three prefixes
    * [[graft.streaming.GraphSubscriptions.onAssignedScheme]] matches
    * (reference `on[terminated[...]]` dispatches on the rae type alone,
    * `implementation_typing_functions.py:296-358`). */
  def atypeFromId(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(id, "^[^:]+:([^/#\\[]+)", 1)

  /** Termination closures with the closed atom's type re-derived from the
    * deterministic id scheme (`kind:ATYPE/key`) — the store keeps closures
    * as `(atom_id, term_slice, cascaded)` and the subscription filters on
    * atype (+ kind prefix). The feed INCLUDES the writer's flagged
    * cascade rows, so `on[terminated]` on a relation type fires for the
    * common case — relations closed because an endpoint died — exactly
    * as the batch read path reports them. */
  def closureFeed(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("atom_id STRING, term_slice INT, cascaded BOOLEAN")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/closures")
      .withColumn("atype", atypeFromId(col("atom_id")))
      .select(col("atom_id"), col("atype"), col("term_slice"),
        col("cascaded"))

  /** [[closureFeed]]'s batch twin — same directory, same atype derivation,
    * a plain read instead of a stream (replay / registry-query path). */
  def closureTable(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema("atom_id STRING, term_slice INT, cascaded BOOLEAN")
      .parquet(s"$dir/closures")
      .withColumn("atype", atypeFromId(col("atom_id")))
      .select(col("atom_id"), col("atype"), col("term_slice"),
        col("cascaded"))
}

/** A graph bound to its replication directory. The writer's handle threads
  * through [[transact]] (in-memory graph and durable log advance together);
  * a reader's handle re-syncs with [[refresh]]. */
final case class SyncedGraph(graph: Graph, dir: String) {

  /** Transact against the in-memory graph and durably append the delta
    * before returning — a reader that opens after this call returns is
    * guaranteed to see the new slice.
    *
    * Single-writer fencing: the slice number itself is the lock. Before
    * appending, the writer CLAIMS the next slice by atomically creating
    * `_slices/<n>` (create-fails-if-exists — atomic on the local
    * filesystem, the store's current contract; see [[Sync.claimSlice]]
    * for the remote-port caveats). A stale handle — one the store has moved past, or one
    * racing another writer for the same slice — fails the claim and
    * throws instead of silently forking the log; recover with [[refresh]]
    * and re-apply. */
  def transact(wishes: Seq[Wish],
      ts: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      : (SyncedGraph, Receipt) = {
    val next = graph.maxSlice + 1
    val recovered = Sync.claimSliceOrRecover(graph.spark, dir, next)
    // recovery purged+rewrote store files: this handle's lazy frames hold
    // stale file listings — re-open before applying (committed state is
    // unchanged, so the wish list applies identically)
    val base = if (recovered) {
      // the stale handle's seeded latest-values tables stay pinned on
      // executors if only dropped by reference (StreamIngest releases
      // the same way on its recovery path)
      graph.releaseDerived()
      GraphStore.loadWithClosures(graph.spark, dir)
    } else graph
    val (g2, r) = Transactor.transact(base, wishes, ts)
    GraphStore.appendTx(graph.spark, dir, r)
    (copy(graph = g2), r)
  }

  /** Re-open at the newest published slice (readers; also how a restarted
    * writer recovers its graph). */
  def refresh(): SyncedGraph = Sync.open(graph.spark, dir)

  def now: GraphSlice = graph.now
  def at(slice: Int): GraphSlice = graph.at(slice)
}
