package graft.core

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Durable graph storage — the physical layout claimed in SURVEY §1.2:
  * `atoms` written partitioned by (kind, atype) so `all[ET.X]` scans prune
  * to one directory subtree (the columnar analogue of zef's per-type
  * instance lists), `values`/`txs`/`tags` as plain parquet.
  *
  * Two layouts:
  *  - [[save]]/[[load]] — plain parquet directories, catalog-free.
  *  - [[saveBucketed]]/[[loadBucketed]] — catalog-backed tables bucketed on
  *    the join keys (`atoms` by atom_id, `values` by ae_id), the co-location
  *    layout for cluster scale: every atom-id equi-join and the hot
  *    `latestValues` aggregate read pre-hashed data — no shuffle stage.
  */
object GraphStore {

  def save(g: Graph, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val preExisting = Fs.exists(s"$path/atoms")
    g.atoms.write.mode(mode)
      .partitionBy("kind", "atype")
      .parquet(s"$path/atoms")
    g.values.write.mode(mode).parquet(s"$path/values")
    g.txs.write.mode(mode).parquet(s"$path/txs")
    if (!g.tags.isEmpty)
      g.tags.write.mode(mode).parquet(s"$path/tags")
    // an Overwrite into a previously-used directory must also clear the
    // side state the dataframe writers above don't own, or the new store
    // inherits the old one's: appended closure rows would terminate the
    // fresh graph's same-id atoms on load, a stale tags dir would
    // resurrect old bindings, stale writer-fence claims would block the
    // new log, a stale provenance flag would put a multi-assignment
    // graph on the single-assignment fast path (silent wrong results),
    // and a stale field index would resolve lookups against the OLD
    // graph's ae/owner rows (saveWithIndex rebuilds it after this)
    if (mode == SaveMode.Overwrite) {
      Fs.rm(s"$path/closures")
      Fs.rm(s"$path/atoms_log")
      Fs.rm(s"$path/_slices")
      Fs.rm(s"$path/_graft_meta.json")
      Fs.rm(s"$path/_sync_snapshot_slice")
      Fs.rm(s"$path/index")
      Fs.rm(s"$path/${FieldIndex.RtsMarker}")
      if (g.tags.isEmpty) Fs.rm(s"$path/tags")
    }
    // store-level provenance: the single-assignment guarantee survives the
    // round-trip (appendTx deltas land at later slices and cannot break
    // it), so disk-loaded graphs keep the latestValues fast path.
    // SaveMode.Ignore on a pre-existing store no-ops the data writers
    // above — the meta file must no-op with them, or the NEW graph's
    // provenance would describe the OLD graph's rows (and fast-path a
    // multi-assignment store into silently wrong as-of reads)
    // plainFieldAesThrough persists CLAMPED to the save-time maxSlice: a
    // later appendTx may terminate atoms or add instanced AEs WITHOUT
    // rewriting this meta, but those deltas land at strictly later slices,
    // so every slice ≤ the clamped bound stays scheme-id-resolvable forever
    // (an unclamped Int.MaxValue would let a post-save termination silently
    // resurrect fields in post-termination frames of a re-loaded graph)
    if ((g.uniqueValuesThrough >= 0 || g.plainFieldAesThrough >= 0) &&
        !(mode == SaveMode.Ignore && preExisting))
      Fs.writeString(s"$path/_graft_meta.json",
        s"""{"uniqueValuesThrough": ${g.uniqueValuesThrough}, """ +
          s""""plainFieldAesThrough": ${
            math.min(g.plainFieldAesThrough, g.maxSlice)}}""")
  }

  /** Every sub-table [[compact]]/[[purgeSlice]] may rewrite via the
    * staged swap — shared by the writer-side heal and the read-side
    * mid-swap guard so a sub-table can never join the swap protocol
    * without joining both (the round-10 index-loss bug was exactly an
    * unguarded swapped sub-table). */
  private val SwappedSubs =
    Seq("atoms", "values", "txs", "tags", "closures", "index", "atoms_log")

  /** Heal a store interrupted mid-[[compact]]/[[purgeSlice]] — delegates
    * to [[StagedSwap.heal]] per sub-table (see that object's
    * window-by-window contract). WRITER-SIDE only: a reader that healed
    * "helpfully" while a LIVE compact was mid-swap would delete the
    * in-flight staging tree or un-rename `__old` out from under the
    * writer. */
  private def healInterruptedSwap(path: String): Unit =
    StagedSwap.healAll(path, SwappedSubs)

  /** Writer-side recovery entry: restore a store whose [[compact]] /
    * [[purgeSlice]] crashed mid-swap. Run from the process that owns the
    * store's maintenance (never a concurrent reader — see
    * [[healInterruptedSwap]]); [[compact]] and [[purgeSlice]] also heal
    * on entry, so re-running the interrupted maintenance works too. */
  def heal(path: String): Unit = healInterruptedSwap(path)

  /** Read-only guard for loaders: a store caught in the crash window of
    * the two-rename swap (`<sub>` missing, `<sub>__old` present) is not
    * readable — fail with the recovery instruction instead of a bare
    * file-not-found. Deliberately does NOT repair: the same state is also
    * what a LIVE in-flight compact looks like for ~a rename, and a reader
    * mutating the store would race the writer (see [[healInterruptedSwap]]). */
  private def assertNotMidSwap(path: String): Unit =
    // "index" included: purgeSlice swapIn()'s the index too — a crash in
    // its window would otherwise load() fine but read as silently
    // UNINDEXED (loadIndex → None), and a later appendTxIndexed would
    // recreate $path/index holding only the new delta, after which the
    // writer-side heal deletes index__old as garbage — permanent loss.
    SwappedSubs.foreach { sub =>
      if (!Fs.exists(s"$path/$sub") && Fs.exists(s"$path/${sub}__old"))
        throw new IllegalStateException(
          s"$path/$sub is staged aside (${sub}__old exists): either a " +
            "compact()/purgeSlice() is mid-swap right now (retry the " +
            "read) or one crashed here — run GraphStore.heal(path) from " +
            "the writer to restore the pre-maintenance tree")
    }

  /** Remove every row a PARTIALLY-appended slice left behind — the
    * recovery step for a writer that crashed between claiming slice `n`
    * and committing its tx marker (txs is written LAST by appendTx and
    * appendBulk, so "no tx row for n" identifies the partial). Without
    * the purge, re-appending the slice would duplicate its atom/value
    * rows. Rewrites via the same atomic staged swap as [[compact]] —
    * and therefore inherits compact's MAINTENANCE-WINDOW contract for
    * live tails: the rewritten sub-tables land as all-new files, which a
    * checkpointed file-source stream treats as fresh data, so any feed
    * tailing this store across a recovery purge re-delivers history.
    * Restart tails with fresh checkpoints after a recovery (rare: it
    * only runs when a PREVIOUS writer crashed mid-append). */
  def purgeSlice(spark: SparkSession, path: String, n: Int): Unit = {
    healInterruptedSwap(path)
    val g = load(spark, path)
    def swapIn(sub: String)(write: String => Unit): Unit =
      StagedSwap.swapIn(path, sub)(write)
    swapIn("atoms")(g.atoms.filter(col("inst_slice") =!= n)
      .write.mode(SaveMode.Overwrite).partitionBy("kind", "atype").parquet(_))
    swapIn("values")(g.values.filter(col("tx_slice") =!= n)
      .write.mode(SaveMode.Overwrite).parquet(_))
    // the wish path (appendTx) also lands closures and tags before its tx
    // marker — purge their slice-n rows too
    if (Fs.exists(s"$path/closures")) {
      val cl = spark.read
        .schema("atom_id STRING, term_slice INT, cascaded BOOLEAN")
        .parquet(s"$path/closures").filter(col("term_slice") =!= n)
      swapIn("closures")(cl.write.mode(SaveMode.Overwrite).parquet(_))
    }
    if (Fs.exists(s"$path/tags") && !g.tags.isEmpty)
      swapIn("tags")(g.tags.filter(col("tx_slice") =!= n)
        .write.mode(SaveMode.Overwrite).parquet(_))
    // appendTxIndexed lands its index delta BEFORE the tx marker (its
    // own ordering note) — purge the orphaned slice-n index rows too,
    // or re-applying the recovered transaction would append them a
    // second time and every lookup would double-count
    if (Fs.exists(s"$path/index"))
      swapIn("index")(FieldIndex.load(spark, s"$path/index")
        .filter(col("tx_slice") =!= n)
        .write.mode(SaveMode.Overwrite).partitionBy("rt").parquet(_))
    // the flat atoms CDC mirror lands before the tx marker too — purge
    // its slice-n rows or the re-applied transaction's feed events would
    // be delivered twice to a tailing subscription
    if (Fs.exists(s"$path/atoms_log"))
      swapIn("atoms_log")(spark.read
        .schema(org.apache.spark.sql.Encoders.product[AtomRow].schema)
        .parquet(s"$path/atoms_log").filter(col("inst_slice") =!= n)
        .write.mode(SaveMode.Overwrite).parquet(_))
  }

  def load(spark: SparkSession, path: String): Graph = {
    assertNotMidSwap(path)
    import org.apache.spark.sql.Encoders
    // explicit schemas (not inference): a freshly-published empty graph —
    // or a sub-table whose rows all arrived via later appendTx deltas —
    // has directories with no data files yet, which schema inference
    // rejects but a schema'd read returns as a clean empty frame
    val atomCols = Seq("atom_id", "kind", "atype", "src_id", "dst_id",
      "inst_slice", "term_slice", "origin_uid")
    val atoms = spark.read.schema(Encoders.product[AtomRow].schema)
      .parquet(s"$path/atoms")
      // partition columns come back at the end; restore canonical order
      .select(atomCols.map(col): _*)
    val values = spark.read.schema(Encoders.product[ValueRow].schema)
      .parquet(s"$path/values")
    val txs = spark.read.schema(Encoders.product[TxRow].schema)
      .parquet(s"$path/txs")
    val tags =
      if (Fs.exists(s"$path/tags"))
        spark.read.schema(Encoders.product[TagRow].schema)
          .parquet(s"$path/tags")
      else Graph.empty(spark).tags
    val meta = s"$path/_graft_meta.json"
    val metaText = if (Fs.exists(meta)) Fs.readString(meta) else ""
    def metaInt(key: String): Int =
      ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r
        .findFirstMatchIn(metaText).map(_.group(1).toInt).getOrElse(-1)
    Graph(atoms, values, txs, tags, metaInt("uniqueValuesThrough"),
      metaInt("plainFieldAesThrough"))
  }

  /** The sizing rule validated in both directions (BASELINE.md,
    * "Bucket-count probe"): one bucket ≈ `targetBucketBytes` of table
    * data. Too few buckets and a `values` bucket outgrows executor
    * memory; too many and the small-files tax inverts the win (probe:
    * 1000 buckets over 376 MiB wrote 8× slower than plain and made the
    * co-located join SLOWER than the shuffling layout). sf0.1-scale data
    * lands at the local default; 100 TB lands at O(100k). */
  def bucketCountFor(totalBytes: Long,
      targetBucketBytes: Long = 1L << 30): Int =
    math.max(1, ((totalBytes + targetBucketBytes - 1) /
      targetBucketBytes)).toInt

  /** Bucketed catalog tables — the 100-TB layout. `atoms` stays partitioned
    * by (kind, atype) for type pruning AND is bucketed+sorted by `atom_id`;
    * `values` is bucketed+sorted by `ae_id` (its only join/agg key). Both
    * sides of every traversal resolve (`atoms ⋈ atoms` on atom_id) and the
    * whole `latestValues` aggregate (`values.groupBy(ae_id)`) then scan
    * pre-hashed buckets: Catalyst's `EnsureRequirements` sees the scan's
    * HashPartitioning already satisfies the required distribution and plans
    * NO Exchange — at cluster scale that removes the dominant all-to-all of
    * the as-of read path (verified by plan assertion in GraphStoreSpec).
    *
    * Bucket metadata lives in the session catalog (`saveAsTable`): the
    * in-memory catalog in tests, a metastore on a real cluster. The
    * pre-write `repartition` on the bucket key keeps file counts at
    * (buckets × partition dirs), not (× write tasks).
    *
    * Sizing: pick `numBuckets` with [[bucketCountFor]] so one bucket of
    * `values` fits an executor's memory at the target scale (~100 TB /
    * 1 GiB ⇒ O(100k); the 64 default is a local-mode figure, not cluster
    * guidance). [[loadBucketed]] reads the tables back by the same prefix.
    */
  def saveBucketed(g: Graph, prefix: String, numBuckets: Int = 64,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Overwrite)
      Seq("atoms", "values", "txs", "tags")
        .foreach(t => clearOrphanLocation(g.spark, s"${prefix}_$t"))
    g.atoms.repartition(numBuckets, col("atom_id"))
      .write.mode(mode).format("parquet")
      .partitionBy("kind", "atype")
      .bucketBy(numBuckets, "atom_id").sortBy("atom_id")
      .saveAsTable(s"${prefix}_atoms")
    g.values.repartition(numBuckets, col("ae_id"))
      .write.mode(mode).format("parquet")
      .bucketBy(numBuckets, "ae_id").sortBy("ae_id", "tx_slice")
      .saveAsTable(s"${prefix}_values")
    g.txs.write.mode(mode).format("parquet").saveAsTable(s"${prefix}_txs")
    g.tags.write.mode(mode).format("parquet").saveAsTable(s"${prefix}_tags")
    // provenance travels as a table property (metastore-durable on a real
    // cluster — exactly where this layout's metadata belongs)
    if (g.uniqueValuesThrough >= 0)
      g.spark.sql(s"ALTER TABLE ${prefix}_values SET TBLPROPERTIES " +
        s"('graft.uniqueValuesThrough'='${g.uniqueValuesThrough}')")
    // clamped to save-time maxSlice, same reasoning as the meta-file copy
    // in save(): later appends can't retro-break slices ≤ the clamp
    if (g.plainFieldAesThrough >= 0)
      g.spark.sql(s"ALTER TABLE ${prefix}_values SET TBLPROPERTIES " +
        s"('graft.plainFieldAesThrough'='${
          math.min(g.plainFieldAesThrough, g.maxSlice)}')")
  }

  /** An in-memory session catalog forgets table metadata across JVMs while
    * the managed warehouse directory persists — a fresh session's Overwrite
    * `saveAsTable` then fails on the orphaned location. A metastore-backed
    * cluster never hits this; locally the managed location is ours to
    * reclaim when the catalog has no table claiming it. */
  private def clearOrphanLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  def loadBucketed(spark: SparkSession, prefix: String): Graph = {
    val atomCols = Seq("atom_id", "kind", "atype", "src_id", "dst_id",
      "inst_slice", "term_slice", "origin_uid")
    def intProp(name: String): Int =
      try spark.sql(s"SHOW TBLPROPERTIES ${prefix}_values ('graft.$name')")
        .collect().headOption.map(_.getString(1).trim)
        .filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(-1)
      catch { case _: Throwable => -1 }
    Graph(
      spark.table(s"${prefix}_atoms").select(atomCols.map(col): _*),
      spark.table(s"${prefix}_values"),
      spark.table(s"${prefix}_txs"),
      spark.table(s"${prefix}_tags"),
      intProp("uniqueValuesThrough"),
      intProp("plainFieldAesThrough"))
  }

  /** Durable incremental append: one transaction's delta lands as appended
    * files — new atoms/values/tx/tags rows plus termination CLOSURE rows
    * `(atom_id, term_slice)` in a side table. `load` reconciles closures
    * into the denormalized interval column (left join + coalesce), so the
    * on-disk format stays append-only (no partition rewrites); a real
    * table format would compact closures into the atoms partitions as a
    * background MERGE. Cascade semantics match Transactor: relations of a
    * closed atom close with it. */
  def appendTx(spark: SparkSession, path: String, r: Receipt): Unit = {
    import spark.implicits._
    // index auto-maintenance, keyed on the store-root _index_rts marker
    // (the atoms_log pattern): EVERY append path keeps an indexed store's
    // index current — missing index entries are false negatives the
    // probe's as-of re-check cannot repair, unlike stale ones. FIRST,
    // before the atom writes below: the delta reads the STORED atoms for
    // existing-AE owners and the receipt for this-tx relations —
    // appending atoms first would double-count the new relations.
    FieldIndex.loadRts(path).filter(_.nonEmpty).foreach(rts =>
      FieldIndex.appendTx(spark, path, s"$path/index", r, rts))
    // coalesce(1): a receipt is driver-sized by construction, and one
    // file per sub-table per tx is what lets a micro-batch tail of the
    // store (maxFilesPerTrigger=1) treat file ≈ transaction within each
    // sub-feed — without it one tx's rows smear across several files and
    // several micro-batches
    if (r.newAtoms.nonEmpty) {
      spark.createDataset(r.newAtoms).toDF().coalesce(1)
        .write.mode(SaveMode.Append).partitionBy("kind", "atype")
        .parquet(s"$path/atoms")
      // the FLAT atoms CDC mirror: the partitioned tree above lands one
      // file per (kind, atype) combo per tx, so a maxFilesPerTrigger=1
      // tail of it smeared one transaction's atoms across several
      // micro-batches — a racing feed reader observed a tx PARTIALLY,
      // diverging from the reference's tx-granular subscription frames
      // (core/src/observable.cpp fires against complete graph slices).
      // One flat file per tx here restores file ≈ tx for the atoms
      // sub-feed (values/closures already have it); the duplicate write
      // is receipt-sized — the same change-data-file trade Delta CDF
      // makes. Sync.atomFeed tails THIS log, batch loads read the tree.
      // Only LIVE-FEED stores carry the mirror (Sync.publish creates the
      // dir): a plain store pays no extra write job for a feed nobody
      // can tail.
      if (Fs.exists(s"$path/atoms_log"))
        spark.createDataset(r.newAtoms).toDF().coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$path/atoms_log")
    }
    if (r.newValues.nonEmpty)
      spark.createDataset(r.newValues).toDF().coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$path/values")
    if (r.newTags.nonEmpty)
      spark.createDataset(r.newTags).toDF().coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$path/tags")
    // explicit closures plus the tx's CASCADE closures (flagged): the
    // live closure feed delivers what the tx actually closed — without
    // the cascade rows, `on[terminated]` subscriptions on relation types
    // silently never fire for the common case (relations die with their
    // endpoints). Readers re-deriving the cascade (loadWithClosures)
    // derive from NON-cascaded rows only, so the one-level rule is
    // applied once, not compounded.
    if (r.terminatedIds.nonEmpty || r.cascadedIds.nonEmpty)
      (r.terminatedIds.map(id => (id, r.slice, false)) ++
        r.cascadedIds.map(id => (id, r.slice, true)))
        .toDF("atom_id", "term_slice", "cascaded")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$path/closures")
    spark.createDataset(Seq(TxRow(r.slice, r.ts))).toDF()
      .write.mode(SaveMode.Append).parquet(s"$path/txs")
  }

  /** Distributed delta append — the data-sized analogue of [[appendTx]]:
    * a bulk write's delta ([[Transactor.BulkDelta]]) appends as
    * distributed parquet writes, no driver Receipt. file==tx is NOT
    * guaranteed here (the delta is data-sized, many files per tx);
    * micro-batch tails must treat the txs sub-feed, not file boundaries,
    * as the transaction boundary. */
  def appendBulk(spark: SparkSession, path: String,
      d: Transactor.BulkDelta, filesPerTable: Int = 1): Unit = {
    import spark.implicits._
    // bounded file count per append: an ingest tick's delta written at
    // the session's full shuffle parallelism would add dozens of
    // KB-sized files per sub-table per tx, and every later atom scan
    // (the bulk path's own anti-joins included) re-lists all of them —
    // the small-files tax compounds per batch. Default 1 file per
    // sub-table (appendTx's convention); a genuinely data-sized delta
    // passes a higher count matched to its volume.
    // the two data writes are independent (different directories, both
    // reading materialized delta blocks) — run them as concurrent jobs so
    // the append's wall-clock is max(atoms, values), not the sum. The tx
    // marker stays strictly LAST: it is the commit protocol
    // (purgeSlice identifies a partial append by its missing tx row).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // await BOTH writes to COMPLETION before surfacing a failure: if one
    // rethrows while its sibling is still in flight, a recovery
    // purgeSlice can race the live append and miss slice files that land
    // after its rewrite — orphaned rows the purge existed to remove
    // flat CDC mirror (see appendTx) — live-feed stores only (the dir is
    // Sync.publish's marker): file ≈ tx for the atoms sub-feed holds at
    // the default filesPerTable=1; a data-sized delta passing a higher
    // count smears per the doc'd bulk caveat (tails treat the txs
    // sub-feed as the boundary). Concurrent with its siblings, so the
    // append's wall-clock stays max(...), not the sum.
    val mirror =
      if (Fs.exists(s"$path/atoms_log"))
        Seq(Future(d.atoms.coalesce(filesPerTable).write
          .mode(SaveMode.Append).parquet(s"$path/atoms_log")))
      else Nil
    // index auto-maintenance (see appendTx): the delta is MATERIALIZED
    // here, before the concurrent atom append below mutates the stored
    // atoms it reads — the bulk path used to skip the index entirely,
    // leaving indexed probes with silent false negatives for every
    // bulk-assigned value
    val indexDelta = FieldIndex.loadRts(path).filter(_.nonEmpty)
      .flatMap(rts => FieldIndex.bulkDelta(spark, path, d.atoms, d.values, rts))
    val indexWrite = indexDelta.toSeq.map(delta =>
      Future(FieldIndex.writeBulkDelta(delta, s"$path/index")))
    val settled = Await.result(Future.sequence((Seq(
      Future(d.atoms.coalesce(filesPerTable).write.mode(SaveMode.Append)
        .partitionBy("kind", "atype").parquet(s"$path/atoms")),
      Future(d.values.coalesce(filesPerTable).write.mode(SaveMode.Append)
        .parquet(s"$path/values"))) ++ mirror ++ indexWrite)
      .map(_.transform(scala.util.Success(_)))), Duration.Inf)
    settled.collectFirst { case scala.util.Failure(t) => throw t }
    spark.createDataset(Seq(TxRow(d.slice, d.ts))).toDF()
      .write.mode(SaveMode.Append).parquet(s"$path/txs")
  }

  /** Save plus a [[FieldIndex]] over the given field relation types —
    * typically `schema.searchRts` from a parsed SimpleGQL schema, honoring
    * its declared `@search` directives. */
  def saveWithIndex(g: Graph, path: String, indexRts: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    save(g, path, mode)
    if (indexRts.nonEmpty) {
      FieldIndex.save(FieldIndex.build(g, indexRts), s"$path/index")
      // the auto-maintenance marker: appendTx AND appendBulk keep this
      // index current from here on (FieldIndex.RtsMarker doc)
      FieldIndex.saveRts(path, indexRts)
    }
  }

  def loadIndex(spark: SparkSession, path: String): Option[
      org.apache.spark.sql.DataFrame] = {
    if (Fs.exists(s"$path/index"))
      Some(FieldIndex.load(spark, s"$path/index"))
    else None
  }

  /** [[appendTx]] plus index maintenance for the given rts (pure append —
    * see FieldIndex's staleness note). Since the `_index_rts` marker,
    * this is a thin shim: it ADOPTS a pre-marker store (writes the
    * marker when absent) and delegates — appendTx itself maintains any
    * marked index, so maintaining here too would double every delta.
    * New code can call plain appendTx on a saveWithIndex store. */
  def appendTxIndexed(spark: SparkSession, path: String, r: Receipt,
      indexRts: Seq[String]): Unit = {
    if (indexRts.nonEmpty && FieldIndex.loadRts(path).isEmpty)
      FieldIndex.saveRts(path, indexRts)
    appendTx(spark, path, r)
  }

  /** Compaction — the "background MERGE" [[appendTx]]'s doc promises: fold
    * the accumulated closure rows into the denormalized `term_slice`
    * column and rewrite the atoms tree, so reads stop paying the
    * reconciliation joins and the closures side-table disappears.
    * Operationally the atomic-swap discipline matters: the new tree lands
    * COMPLETELY beside the old one, then swaps in via two renames — a
    * reader never sees a half-written store, and a crash before the final
    * rename leaves the original untouched (same discipline a table format
    * runs this merge with). Post-condition: `load` (no closure joins) ==
    * the pre-compaction `loadWithClosures`. */
  /** MAINTENANCE-WINDOW operation w.r.t. live tails: the file-source
    * streams that tail this store (Sync.atomFeed/valueFeed/closureFeed)
    * track files by path, so the consolidated trees compact swaps in read
    * as NEW files — a tail running across a compaction re-delivers the
    * whole history as fresh CDC events. Stop tails before compacting and
    * restart them with fresh checkpoints after (the same contract as
    * file-rewriting maintenance in any log-structured table format
    * without snapshot-isolated manifests). Batch readers never see a
    * half-written store (each sub-table swaps in via renames of complete
    * trees), but a read RACING the swap can transiently fail — between
    * the two renames the sub-table directory briefly doesn't exist —
    * and should simply retry; readers never repair the store (that's
    * [[heal]], writer-side). A CRASH mid-swap leaves the store throwing
    * until the writer runs [[heal]] or re-runs the maintenance op. */
  def compact(spark: SparkSession, path: String): Unit = {
    healInterruptedSwap(path) // writer-side: adopt a crashed predecessor
    // atomic staged-swap rewrite of one sub-table — see StagedSwap's
    // protocol doc
    def swapIn(sub: String)(write: String => Unit): Unit =
      StagedSwap.swapIn(path, sub)(write)
    val closures = s"$path/closures"
    val g = if (Fs.exists(closures)) loadWithClosures(spark, path)
            else load(spark, path)
    swapIn("atoms")(g.atoms.write.mode(SaveMode.Overwrite)
      .partitionBy("kind", "atype").parquet(_))
    // defragment the append logs too: appendTx/appendBulk land one file
    // per sub-table per tx by design (file ≈ tx lets a micro-batch tail
    // treat files as transaction boundaries), so a long ingest run leaves
    // every reader paying one file open per historical tick — compaction
    // is where that debt is settled, same as the closure fold
    swapIn("values")(g.values.write.mode(SaveMode.Overwrite).parquet(_))
    swapIn("txs")(g.txs.write.mode(SaveMode.Overwrite).parquet(_))
    if (Fs.exists(s"$path/tags") && !g.tags.isEmpty)
      swapIn("tags")(g.tags.write.mode(SaveMode.Overwrite).parquet(_))
    // the fold reconciled closure rows into atoms' term_slice, so the
    // LOG is spent — but Sync.publish's invariant is that $path/closures
    // EXISTS for schema'd stream readers, and the documented post-compact
    // flow is "restart tails with fresh checkpoints": leave the log
    // present and empty, not missing (a readStream on a missing dir
    // throws before the tail can start). Contents-only clear, NOT
    // rm+mkdirs: a crash between those two left the dir missing — for
    // atoms_log that silently and PERMANENTLY ends the per-tx-atomic
    // feed contract (the dir doubles as the live-feed marker: appendTx's
    // exists-guard stops mirroring without error, heal never recreates
    // optional dirs). A crash mid-clear leaves spent files the rerun
    // clears; replaying them is idempotent (closure folds re-set the
    // same term_slice, CDC rows are already in the compacted tree and
    // post-compact tails restart with fresh checkpoints anyway).
    Fs.clearDir(closures)
    Fs.clearDir(s"$path/atoms_log")
  }

  /** Load with closure reconciliation (see [[appendTx]]). */
  def loadWithClosures(spark: SparkSession, path: String): Graph = {
    val g = load(spark, path)
    if (!Fs.exists(s"$path/closures")) g
    else {
      // schema'd read: the dir may exist but be empty (Sync.publish
      // pre-creates it so stream readers can tail before any termination).
      // `cascaded` marks rows the WRITER derived via the one-level cascade
      // (new logs; null = false on pre-flag files) — derive the read-side
      // cascade from NON-cascaded rows only, or the one-level rule would
      // compound (a cascaded relation's own field relations would close,
      // which the in-memory path does not do).
      val allRows = spark.read
        .schema("atom_id STRING, term_slice INT, cascaded BOOLEAN")
        .parquet(s"$path/closures")
      val closures = allRows
        .filter(!coalesce(col("cascaded"), lit(false)))
        .select(col("atom_id"), col("term_slice").as("__c"))
      // cascade: a relation closes when either endpoint closes
      val rels = g.atoms.filter(col("kind") === Kind.Relation)
        .select(col("atom_id"), col("src_id"), col("dst_id"))
      val cascade = rels
        .join(closures.withColumnRenamed("atom_id", "src_id"), Seq("src_id"))
        .select(col("atom_id"), col("__c"))
        .unionByName(rels
          .join(closures.withColumnRenamed("atom_id", "dst_id"), Seq("dst_id"))
          .select(col("atom_id"), col("__c")))
      val allClosures = allRows
        .select(col("atom_id"), col("term_slice").as("__c"))
        .unionByName(cascade)
      // per INTERVAL ROW (atom_id, inst_slice): earliest closure at-or-after
      // the interval opened — re-instantiated rows only close on closures
      // issued after their own open slice
      val perRow = g.atoms.select(col("atom_id"), col("inst_slice"))
        .join(allClosures, Seq("atom_id"))
        .filter(col("__c") >= col("inst_slice"))
        .groupBy("atom_id", "inst_slice").agg(min("__c").as("__t"))
      val atoms = g.atoms.join(perRow, Seq("atom_id", "inst_slice"), "left")
        .withColumn("term_slice",
          when(col("term_slice").isNull, col("__t")).otherwise(col("term_slice")))
        .drop("__t")
        // the join moved its keys to the front; restore canonical order so
        // both load paths produce schema-identical frames
        .select(g.atoms.columns.map(col): _*)
      g.copy(atoms = atoms)
    }
  }
}
